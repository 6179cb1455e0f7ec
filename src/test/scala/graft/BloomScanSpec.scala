package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

import graft.ops.Layout
import graft.sources.GraftScan

/** BLOOM-INDEX FILE SKIPPING ON THE SQL PATH: a point lookup on a
  * NON-clustered column — the query shape min/max stats can never
  * serve — prunes through the maintained per-file bloom index
  * (`CALL graft.system.index`), with no false negatives: un-caught-up
  * files stay scanned, every probe's rows always return.
  */
class BloomScanSpec extends GraftSuite {

  private lazy val wh: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-bloomscan").toString
    spark.conf.set("spark.sql.catalog.gbl",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gbl.root", dir)
    dir
  }

  private def sql(q: String) = spark.sql(q)

  private def graftScans(df: DataFrame): Seq[GraftScan] = {
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        s +: walk(s.plan)
      case other => other +: (other.children.flatMap(walk) ++
        other.subqueries.flatMap(walk))
    }
    walk(df.queryExecution.executedPlan)
      .collect { case b: BatchScanExec => b.scan }
      .collect { case g: GraftScan => g }
  }

  test("an equality predicate on an indexed non-clustered column prunes files; probes stay exact") {
    wh
    import spark.implicits._
    sql("CREATE TABLE gbl.t (k BIGINT, ref BIGINT)")
    // 4 appends; ref values are scattered (NOT clustered): min/max
    // ranges overlap on every file, so only the bloom can skip
    for (b <- 0 until 4) {
      (0 until 250).map(i => ((b * 250 + i).toLong,
        (i * 4 + b).toLong * 7919L)).toDF("k", "ref")
        .coalesce(1).createOrReplaceTempView("bl_src")
      sql("INSERT INTO gbl.t SELECT * FROM bl_src")
    }
    val total = Layout.snapshotEntriesFor(spark, s"$wh/t")._2
      .count(_.stats.forall(_.rows > 0))
    sql("CALL gbl.system.index(table => 't', key_col => 'ref')")
    assert(Layout.snapshotMeta(spark, s"$wh/t").header.get("bloomIndex")
      .contains("ref"))
    // ref = 7919 * 42+... pick a value from batch 2: (i=10,b=2) -> 42*7919
    val probe = 42L * 7919L
    val q = sql(s"SELECT k FROM gbl.t WHERE ref = $probe")
    val rows = q.collect()
    assert(rows.length == 1, s"expected the one owning row, got ${rows.length}")
    val scans = graftScans(q)
    assert(scans.nonEmpty && scans.forall(_.lastPlannedFiles < total),
      s"bloom must prune: ${scans.map(_.lastPlannedFiles)} of $total")
    // a value in NO file: everything prunes, zero rows
    val none = sql("SELECT k FROM gbl.t WHERE ref = 999999999")
    assert(none.collect().isEmpty)
    assert(graftScans(none).forall(_.lastPlannedFiles == 0),
      s"a never-written probe should prune every indexed file: " +
        graftScans(none).map(s => s"${s.lastPlannedFiles} [$s]")
          .mkString("; ") + "\n" + none.queryExecution.executedPlan)
  }

  test("files newer than the index stay scanned (no false negatives); re-indexing catches up") {
    wh
    import spark.implicits._
    Seq((9999L, 424243L)).toDF("k", "ref").createOrReplaceTempView("bl_new")
    sql("INSERT INTO gbl.t SELECT * FROM bl_new") // post-index append
    val q = sql("SELECT k FROM gbl.t WHERE ref = 424243")
    assert(q.collect().map(_.getLong(0)).toSeq == Seq(9999L),
      "the un-indexed fresh file must still be scanned")
    sql("CALL gbl.system.index(table => 't', key_col => 'ref')")
    val total = Layout.snapshotEntriesFor(spark, s"$wh/t")._2
      .count(_.stats.forall(_.rows > 0))
    val q2 = sql("SELECT k FROM gbl.t WHERE ref = 424243")
    assert(q2.collect().map(_.getLong(0)).toSeq == Seq(9999L))
    val scans = graftScans(q2)
    assert(scans.forall(_.lastPlannedFiles < total),
      s"after catch-up the lookup must prune: " +
        s"${scans.map(_.lastPlannedFiles)} of $total")
  }

  test("maintenance advances declared indexes and GCs dead rows after a compaction") {
    wh
    import spark.implicits._
    val root = s"$wh/t"
    val idxRoot = Layout.bloomSnapIdxRoot(root, "ref")
    // OPTIMIZE rewrites every file: the whole old index is dead weight
    Layout.snapshotCompact(spark, root, targetBytes = 128L * 1024 * 1024)
    val report = Layout.snapshotMaintain(spark, root,
      Layout.MaintenancePolicy(retentionMillis = Long.MaxValue))
    assert(report.indexedCols == Seq("ref"),
      s"maintenance must advance the declared index: $report")
    // the GC kept only live files' rows
    def baseName(s: String) = s.substring(s.lastIndexOf('/') + 1)
    val liveNames = Layout.snapshotMeta(spark, root).paths.map(baseName).toSet
    val indexedNames = Layout.readSnapshot(spark, idxRoot)
      .select("file").distinct().collect().map(_.getString(0)).toSet
    assert(indexedNames.subsetOf(liveNames),
      s"dead index rows must GC: ${indexedNames -- liveNames}")
    assert(indexedNames.nonEmpty, "live files must be indexed")
    // and lookups through the rebuilt index stay exact + pruned
    val q = sql("SELECT k FROM gbl.t WHERE ref = 424243")
    assert(q.collect().map(_.getLong(0)).toSeq == Seq(9999L))
  }

  test("IN-lists prune to the union of owners; unindexed columns are untouched") {
    wh
    val probes = Seq(42L * 7919L, 100L * 7919L)
    val q = sql(s"SELECT k FROM gbl.t WHERE ref IN (${probes.mkString(",")})")
    assert(q.collect().length == 2)
    // equality on a column with NO index: no bloom involvement, exact
    val plain = sql("SELECT ref FROM gbl.t WHERE k = 10")
    assert(plain.collect().length == 1)
  }

  test("duplicate index rows from two overlapping maintenance runs still give no false negatives") {
    wh
    import spark.implicits._
    sql("CREATE TABLE gbl.dup (k BIGINT, ref BIGINT)")
    for (b <- 0 until 4) {
      (0 until 250).map(i => ((b * 250 + i).toLong,
        (i * 4 + b).toLong * 7919L)).toDF("k", "ref")
        .coalesce(1).createOrReplaceTempView("dup_src")
      sql("INSERT INTO gbl.dup SELECT * FROM dup_src")
    }
    val root = s"$wh/dup"
    sql("CALL gbl.system.index(table => 'dup', key_col => 'ref')")
    val idxRoot = Layout.bloomSnapIdxRoot(root, "ref")
    // a second maintainer that read the same (empty) inventory commits
    // the same files' rows again: every (file, w) is now duplicated
    val once = Layout.readSnapshot(spark, idxRoot).count()
    Layout.snapshotAppend(spark, idxRoot, Layout.readSnapshot(spark, idxRoot))
    assert(Layout.readSnapshot(spark, idxRoot).count() == 2 * once)
    val total = Layout.snapshotEntriesFor(spark, root)._2.size
    // one probe owned by each file, plus one written nowhere
    val probes = (0 until 4).map(b => (10 * 4 + b).toLong * 7919L)
    probes.zipWithIndex.foreach { case (p, b) =>
      val q = sql(s"SELECT k FROM gbl.dup WHERE ref = $p")
      assert(q.collect().map(_.getLong(0)).toSeq == Seq((b * 250 + 10).toLong),
        s"probe $p lost its owner")
      assert(graftScans(q).forall(_.lastPlannedFiles < total),
        s"duplicates must not defeat pruning: ${graftScans(q).map(_.lastPlannedFiles)}")
    }
    val lk = Layout.snapshotPointLookup(spark, root, idxRoot, "ref",
      probes :+ 999999999L)
    assert(lk.result.select(col("k")).as[Long].collect().sorted.toSeq ==
      (0 until 4).map(b => (b * 250 + 10).toLong))
  }
}
