package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ops.Layout

/** What table writes record for later calls: an equality delete records
  * the base names of the files its sidecar scopes on its `delete:` line,
  * and each bloom index commit records the base head it covers and its
  * indexed-file count in its header. Readers and maintainers use the
  * record instead of a Spark job; a line or header without it (history
  * written before it was recorded) takes the distinct pass instead.
  */
class WriteMetadataSpec extends GraftSuite {

  private def freshRoot(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-$tag").toString + "/t"

  private val schema = StructType(Seq(StructField("k", LongType),
    StructField("okey", LongType), StructField("qty", DoubleType)))

  private type Model = Map[Long, (Long, Double)]

  private def frame(rows: Seq[(Long, Long, Double)]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map { case (k, o, q) => Row(k, o, q) }, 1), schema)

  private def keyFrame(keys: Seq[Long]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(keys.map(Row(_)), 1),
      StructType(Seq(StructField("k", LongType))))

  private def rowsOf(df: DataFrame): Model =
    df.select(col("k"), col("okey"), col("qty")).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap

  private def manifestPath(root: String, v: Int) =
    new org.apache.hadoop.fs.Path(s"$root/_manifests/v$v.manifest")

  private def manifestText(root: String, v: Int): Seq[String] = {
    val fs = manifestPath(root, v).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(manifestPath(root, v))
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
    finally in.close()
  }

  /** Rewrites version `v`'s manifest line by line (None drops a line) —
    * how history written before a record existed looks. */
  private def rewriteManifest(root: String, v: Int)(f: String => Option[String]): Unit = {
    val body = manifestText(root, v).flatMap(f).mkString("\n") + "\n"
    val fs = manifestPath(root, v).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(manifestPath(root, v), true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
  }

  private def head(root: String): Int = Layout.snapshotVersions(spark, root).last

  private def indexRoot(root: String) = Layout.bloomSnapIdxRoot(root, "k")

  /** Base names of the files the bloom index holds rows for. */
  private def indexedNames(root: String): Set[String] =
    Layout.readSnapshot(spark, indexRoot(root)).select(col("file")).distinct()
      .collect().map(_.getString(0)).toSet

  private def liveNames(root: String): Set[String] =
    Layout.snapshotMeta(spark, root).paths.map(Layout.baseName).toSet

  /** Three key-clustered files of 0 until `n` with stats on k, plus a
    * declared bloom index on k. */
  private def seeded(tag: String, n: Long): (String, Model) = {
    val root = freshRoot(tag)
    val rows = (0L until n).map(k => (k, k / 8, (k % 50).toDouble))
    Layout.snapshotAppend(spark, root, frame(rows)
      .repartitionByRange(3, col("k")).sortWithinPartitions(col("k")),
      statsKey = Some("k"))
    Layout.maintainBloomIndexFor(spark, root, "k")
    (root, rows.map { case (k, o, q) => k -> ((o, q)) }.toMap)
  }

  private def lookup(root: String, probe: Seq[Long]): Model =
    rowsOf(Layout.snapshotPointLookup(spark, root, indexRoot(root), "k", probe).result)

  test("a delete line without a recorded scope and an index head without a recorded base head still read and maintain exactly") {
    val (root, base) = seeded("legacy", 300)
    Layout.snapshotAppend(spark, root, frame((300L until 340L).map(k => (k, k / 8, 1.0))),
      statsKey = Some("k"))
    val all = base ++ (300L until 340L).map(k => k -> ((k / 8, 1.0)))
    val gone = Seq(3L, 150L, 299L, 320L)
    val v = Layout.snapshotDeleteMORKeys(spark, root, "k", keyFrame(gone))
    val expected = all -- gone
    val deleteLines = manifestText(root, v).filter(_.startsWith("delete:"))
    assert(deleteLines.nonEmpty && deleteLines.forall(_.contains("\tscope=")),
      s"the delete must record its scope: $deleteLines")
    // strip the scope: the reader derives it with one distinct pass
    rewriteManifest(root, v)(l => Some(if (l.startsWith("delete:")) l.takeWhile(_ != '\t') else l))
    val (legacy, jobs) = jobsOf(Layout.readSnapshot(spark, root))
    assert(jobs.nonEmpty, "an unscoped sidecar pays the distinct pass")
    assert(rowsOf(legacy) == expected)
    // strip the index inventory: maintenance takes it from the index
    val idx = indexRoot(root)
    rewriteManifest(root, Layout.snapshotVersions(spark, idx).last)(l =>
      if (l.startsWith("#bloomBase=") || l.startsWith("#bloomFiles=")) None else Some(l))
    Layout.maintainBloomIndexFor(spark, root, "k")
    assert(liveNames(root).subsetOf(indexedNames(root)))
    assert(lookup(root, gone ++ Seq(5L, 310L)) == expected.filter(e => Set(5L, 310L)(e._1)))
    // a recorded base head that is no longer a version of the table
    rewriteManifest(root, Layout.snapshotVersions(spark, idx).last)(l =>
      Some(if (l.startsWith("#bloomBase=")) "#bloomBase=999" else l))
    val report = Layout.snapshotMaintain(spark, root,
      Layout.MaintenancePolicy(maxDeleteFiles = 1, maxSmallFiles = 100))
    assert(report.compactedVersion.isDefined)
    assert(rowsOf(Layout.readSnapshot(spark, root)) == expected)
    assert(liveNames(root).subsetOf(indexedNames(root)))
    assert(lookup(root, gone ++ Seq(5L, 310L)) == expected.filter(e => Set(5L, 310L)(e._1)))
    // the legacy version still reads exactly through time travel
    assert(rowsOf(Layout.readSnapshot(spark, root, v)) == expected)
  }

  test("a position delete records its scope: its head reads with no job, and its change rows are exactly the deleted rows") {
    val (root, base) = seeded("posdel", 300)
    val before = head(root)
    val v = Layout.snapshotDeletePositions(spark, root,
      col("qty") === 7.0 && col("k") < 200)
    val gone = base.filter { case (k, (_, q)) => q == 7.0 && k < 200 }
    assert(gone.nonEmpty)
    val scopes = manifestText(root, v).filter(_.startsWith("delete:"))
      .map(_.split("\tscope=", 2))
    assert(scopes.nonEmpty && scopes.forall(_.length == 2),
      s"the delete must record its scope: ${scopes.map(_.toSeq)}")
    val scoped = scopes.flatMap(_(1).split(",")).toSet
    assert(scoped.nonEmpty && scoped.size < liveNames(root).size,
      s"rows of two key ranges scope part of the table: $scoped")
    val (read, jobs) = jobsOf(Layout.readSnapshot(spark, root))
    assert(jobs.isEmpty, s"a scoped position-deleted head started jobs: $jobs")
    assert(rowsOf(read) == base -- gone.keys)
    val ch = Layout.snapshotChanges(spark, root, before, v)
    assert(ch.select("_change_type").distinct().collect().map(_.getString(0))
      .toSeq == Seq("delete"))
    assert(ch.count() == gone.size && rowsOf(ch) == gone)
  }

  test("a delete whose keys overlap no file range commits its audit version with no delete line and no sidecar directory") {
    val (root, base) = seeded("empty-delete", 200)
    val before = head(root)
    val v = Layout.snapshotDeleteMORKeys(spark, root, "k", keyFrame(Seq(5000L, -7L)))
    assert(v == before + 1 && head(root) == v)
    val w = Layout.snapshotDeleteMOR(spark, root, "k", Array(6000L))
    assert(w == v + 1)
    for (x <- Seq(v, w)) {
      assert(!manifestText(root, x).exists(_.startsWith("delete:")))
      assert(!manifestText(root, x).exists(_.startsWith("#deleteKey=")))
    }
    val deletes = new java.io.File(s"$root/deletes")
    assert(!deletes.exists() || deletes.list().isEmpty,
      s"orphan sidecar directories: ${Option(deletes.list()).map(_.toSeq)}")
    assert(rowsOf(Layout.readSnapshot(spark, root)) == base)
  }

  test("model: appends, merges, deletes, maintenance and a restore before a compaction stay exact at every version") {
    val rnd = new scala.util.Random(20261019L)
    val (root, seed) = seeded("model", 240)
    val policy = Layout.MaintenancePolicy(maxDeleteFiles = 1, maxSmallFiles = 5)
    var model: Model = seed
    var nextKey = 240L
    val history = scala.collection.mutable.Map(1 -> seed, 2 -> seed)
    var compactedFrom = Seq.empty[Int] // versions that had delete debt and were compacted
    def record(v: Int): Unit = (history.keySet.max + 1 to v).foreach(history(_) = model)
    def existing(n: Int): Seq[Long] = {
      val ks = model.keys.toIndexedSeq.sorted
      Seq.fill(n)(ks(rnd.nextInt(ks.size)))
    }
    def append(): Unit = {
      val rows = Seq.fill(10 + rnd.nextInt(20)) {
        val k = nextKey; nextKey += 1; (k, k / 8, rnd.nextInt(50).toDouble) }
      val v = Layout.snapshotAppend(spark, root, frame(rows), statsKey = Some("k"))
      model ++= rows.map { case (k, o, q) => k -> ((o, q)) }
      record(v)
    }
    def maintain(): Unit = {
      val pre = head(root)
      val debt = Layout.snapshotMeta(spark, root).hasDeleteSidecars
      val r = Layout.snapshotMaintain(spark, root, policy)
      if (debt) compactedFrom :+= pre
      assert(r.indexedCols == Seq("k"))
      record(head(root))
      // the index covers every live file after a cycle, and a second
      // run has nothing to add: no job, no commit
      assert(liveNames(root).subsetOf(indexedNames(root)))
      val idxHead = Layout.snapshotVersions(spark, indexRoot(root)).last
      val (_, jobs) = jobsOf(Layout.maintainBloomIndexFor(spark, root, "k"))
      assert(jobs.isEmpty, s"an up-to-date index started jobs: $jobs")
      assert(Layout.snapshotVersions(spark, indexRoot(root)).last == idxHead)
    }
    def merge(): Unit = {
      if (Layout.snapshotMeta(spark, root).hasDeleteSidecars) maintain()
      val upd = existing(8).distinct
      val ins = Seq.fill(3) { val k = nextKey; nextKey += 1; k }
      val qty = rnd.nextInt(1000).toDouble + 100
      val changes = spark.createDataFrame(spark.sparkContext.parallelize(
        (upd ++ ins).map(Row(_, qty)), 1),
        StructType(Seq(StructField("c_k", LongType), StructField("c_qty", DoubleType))))
      val v = Layout.snapshotMergeKeys(spark, root, "k", changes.select(col("c_k")),
        touched => touched.join(changes, col("k") === col("c_k"), "full_outer").select(
          coalesce(col("k"), col("c_k")).as("k"),
          coalesce(col("okey"), floor(col("c_k") / 8)).cast("long").as("okey"),
          coalesce(col("c_qty"), col("qty")).as("qty")))
      (upd ++ ins).foreach(k => model += k -> ((model.get(k).map(_._1).getOrElse(k / 8), qty)))
      record(v)
    }
    def delete(): Unit = {
      // a duplicated key and a key past every file range ride along
      val keys = existing(6) ++ Seq(nextKey + 10000)
      val v =
        if (rnd.nextBoolean()) Layout.snapshotDeleteMORKeys(spark, root, "k",
          keyFrame(keys ++ keys.take(1)))
        else Layout.snapshotDeleteMOR(spark, root, "k", keys.toArray)
      model --= keys
      record(v)
      val (_, jobs) = jobsOf(Layout.readSnapshot(spark, root))
      assert(jobs.isEmpty, s"a scoped head's dirty-file split started jobs: $jobs")
    }
    def restore(): Unit = {
      // back to a version that held delete debt before a compaction
      val target = compactedFrom.lastOption.getOrElse(1)
      val v = Layout.snapshotRestore(spark, root, target)
      model = history(target)
      record(v)
    }
    def check(tag: String): Unit = {
      Layout.snapshotVersions(spark, root).foreach { v =>
        assert(rowsOf(Layout.readSnapshot(spark, root, v)) == history(v), s"$tag: version $v")
      }
      val probe = existing(4) ++ Seq(nextKey + 77, 3L)
      assert(lookup(root, probe) == model.filter(e => probe.contains(e._1)), s"$tag: lookup")
    }
    val plan = Seq("append", "delete", "merge", "delete", "maintain", "append",
      "delete", "delete", "maintain", "restore", "maintain", "merge", "delete",
      "append", "maintain", "restore", "append", "maintain")
    plan.zipWithIndex.foreach { case (op, i) =>
      op match {
        case "append" => append()
        case "delete" => delete()
        case "merge" => merge()
        case "maintain" => maintain()
        case "restore" => restore()
      }
      check(s"step $i ($op)")
    }
    assert(compactedFrom.size >= 2, s"the stream must compact delete debt: $compactedFrom")
  }
}
