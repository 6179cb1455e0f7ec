package graft

import org.apache.spark.sql.functions._
import graft.ops.Layout

/** The op-typed change feed's MOR fast path and the retraction-capable
  * sum-view maintainer riding it: a delete request propagates to CDC
  * consumers and standing rollups at O(scoped files), never a rescan.
  */
class CdcViewSpec extends GraftSuite {

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-$tag").toString

  private def orders = Tables(spark, sf, "orders")
    .select(col("o_orderkey").as("key"),
      col("o_orderstatus").as("status"),
      col("o_totalprice").cast("double").as("price"))

  test("snapshotChanges MOR fast path: exact retracted multiset, scans only the scoped files") {
    val root = tmp("cdc-mor") + "/t"
    Layout.snapshotAppend(spark, root,
      orders.repartitionByRange(8, col("key"))
        .sortWithinPartitions(col("key")), statsKey = Some("key")) // v1
    val before = Layout.readSnapshot(spark, root).localCheckpoint()
    // two delete waves: the second wave's changes must EXCLUDE rows the
    // first wave already killed
    val k1 = before.select("key").orderBy("key").limit(4)
      .collect().map(_.getLong(0))
    Layout.snapshotDeleteMOR(spark, root, "key", k1)            // v2
    val k2 = Layout.readSnapshot(spark, root)
      .select("key").orderBy("key").limit(4).collect().map(_.getLong(0))
    Layout.snapshotDeleteMOR(spark, root, "key", k1 ++ k2)      // v3 (k1 again!)
    // v1 → v2: exactly the k1 rows retract
    val ch12 = Layout.snapshotChanges(spark, root, 1, 2).localCheckpoint()
    assert(ch12.filter(col("_change_type") =!= "delete").count() == 0)
    assert(ch12.select("key").collect().map(_.getLong(0)).sorted
      .sameElements(k1.sorted))
    // v2 → v3: ONLY the k2 rows — k1's re-request must not re-retract
    val ch23 = Layout.snapshotChanges(spark, root, 2, 3).localCheckpoint()
    assert(ch23.select("key").collect().map(_.getLong(0)).sorted
      .sameElements(k2.sorted),
      "already-dead rows must not retract twice")
    // the fast path scanned only sidecar-scoped files, not the table
    val scanned = ch23.drop("_change_type").inputFiles
      .count(_.contains("/data/"))
    val total = Layout.readSnapshot(spark, root, 1).inputFiles.length
    assert(scanned < total,
      s"MOR CDC must scan scoped files only ($scanned of $total)")
    // applying the changes reproduces each head
    val v2 = Layout.readSnapshot(spark, root, 2)
    val applied12 = before.exceptAll(ch12.drop("_change_type"))
    assert(applied12.exceptAll(v2).isEmpty && v2.exceptAll(applied12).isEmpty)
  }

  test("maintainSumViewCdc: MOR deletes retract incrementally, groups emptying drop, overwrites still fall back — always ≡ full recompute") {
    val baseR = tmp("cdcview-base") + "/t"
    val viewR = tmp("cdcview-view") + "/v"
    val slices = (0 to 1).map(b => orders.filter(col("key") % 2 === b))
    Layout.snapshotAppend(spark, baseR,
      slices(0).repartitionByRange(4, col("key"))
        .sortWithinPartitions(col("key")), statsKey = Some("key")) // v1
    def fullRollup() = Layout.readSnapshot(spark, baseR)
      .groupBy(col("status"))
      .agg(sum(col("price")).as("sum_v"), count(lit(1)).as("n"))
    def checkView(): Unit = {
      val v = Layout.readSnapshot(spark, viewR)
        .select("status", "sum_v", "n")
      val full = fullRollup()
      val joined = v.as("a").join(full.as("b"), Seq("status"), "full_outer")
        .select(col("status"),
          abs(coalesce(col("a.sum_v"), lit(0.0)) -
            coalesce(col("b.sum_v"), lit(0.0))).as("d"),
          coalesce(col("a.n"), lit(-1L)).as("an"),
          coalesce(col("b.n"), lit(-1L)).as("bn"))
      assert(joined.filter(col("an") =!= col("bn")).count() == 0,
        "per-group counts must equal the full recompute exactly")
      assert(joined.agg(max(col("d"))).head().getDouble(0) < 1e-6,
        "per-group sums must match to FP tolerance")
    }
    Layout.maintainSumViewCdc(spark, baseR, viewR, "status", "price")
    checkView()
    // append → insert partials
    Layout.snapshotAppend(spark, baseR, slices(1))               // v2
    Layout.maintainSumViewCdc(spark, baseR, viewR, "status", "price")
    checkView()
    // MOR delete → negative partials via the fast path
    val delKeys = Layout.readSnapshot(spark, baseR)
      .filter(col("status") === "F").select("key")
      .orderBy("key").limit(20).collect().map(_.getLong(0))
    Layout.snapshotDeleteMOR(spark, baseR, "key", delKeys)       // v3
    Layout.maintainSumViewCdc(spark, baseR, viewR, "status", "price")
    checkView()
    // a group deleted to zero must VANISH from the view
    val pKeys = Layout.readSnapshot(spark, baseR)
      .filter(col("status") === "P").select("key")
      .collect().map(_.getLong(0))
    if (pKeys.nonEmpty) {
      Layout.snapshotDeleteMOR(spark, baseR, "key", pKeys)
      Layout.maintainSumViewCdc(spark, baseR, viewR, "status", "price")
      assert(Layout.readSnapshot(spark, viewR)
        .filter(col("status") === "P").count() == 0,
        "an emptied group must drop from the view")
      checkView()
    }
    // compaction (true overwrite lineage) → row-diff fallback, still exact
    Layout.snapshotCompact(spark, baseR, 128L << 20)
    Layout.snapshotAppend(spark, baseR,
      orders.filter(col("key") % 97 === 0))
    Layout.maintainSumViewCdc(spark, baseR, viewR, "status", "price")
    checkView()
    // COW MERGE → the typed update feed merges incrementally (the
    // preimage retracts the old value, the postimage adds the new one)
    val mKeys = Layout.readSnapshot(spark, baseR)
      .filter(col("status") === "O").select("key")
      .orderBy("key").limit(10).collect().map(_.getLong(0))
    assert(mKeys.nonEmpty)
    import spark.implicits._
    Layout.snapshotMergeKeys(spark, baseR, "key", mKeys.toSeq.toDF("key"), df =>
      df.withColumn("price", when(col("key").isin(mKeys.toSeq: _*),
        col("price") + 500.0).otherwise(col("price"))))
    Layout.maintainSumViewCdc(spark, baseR, viewR, "status", "price")
    checkView()
    // idempotent: at head, a rerun publishes nothing
    val vv = Layout.snapshotVersions(spark, viewR)
    Layout.maintainSumViewCdc(spark, baseR, viewR, "status", "price")
    assert(Layout.snapshotVersions(spark, viewR) == vv)
  }

  test("typed COW feed: a MERGE's changes are update pre/post pairs from rewritten files only; inserts, deletes, dup keys degrade honestly") {
    import spark.implicits._
    val root = tmp("cdc-typed") + "/t"
    Layout.snapshotAppend(spark, root,
      orders.repartitionByRange(4, col("key"))
        .sortWithinPartitions(col("key")), statsKey = Some("key")) // v1
    val v1Files = Layout.readSnapshot(spark, root, 1).inputFiles.toSet
    val ks = Layout.readSnapshot(spark, root).select("key").orderBy("key")
      .limit(2).collect().map(_.getLong(0))
    val (kUpd, kDel) = (ks(0), ks(1))
    val kNew = Layout.readSnapshot(spark, root)
      .agg(max(col("key"))).head().getLong(0) + 1000
    Layout.snapshotMergeKeys(spark, root, "key",
      Seq(kUpd, kDel, kNew).toDF("key"), df =>
      df.withColumn("price", when(col("key") === kUpd,
          col("price") + 1000.0).otherwise(col("price")))
        .filter(col("key") =!= kDel)
        .unionByName(Seq((kNew, "Z", 1.0)).toDF("key", "status", "price")))
    val ch = Layout.snapshotChanges(spark, root, 1, 2).localCheckpoint()
    val byType = ch.groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType == Map("update_preimage" -> 1L, "update_postimage" -> 1L,
      "delete" -> 1L, "insert" -> 1L),
      s"carried-unchanged rows must cancel out of the typed feed: $byType")
    // the pair carries the key and the exact value transition
    assert(ch.filter(col("_change_type") === "update_preimage")
      .select("key").head().getLong(0) == kUpd)
    assert(ch.filter(col("_change_type") === "update_postimage")
      .select("key").head().getLong(0) == kUpd)
    val preP = ch.filter(col("_change_type") === "update_preimage")
      .select("price").head().getDouble(0)
    val postP = ch.filter(col("_change_type") === "update_postimage")
      .select("price").head().getDouble(0)
    assert(math.abs(postP - preP - 1000.0) < 1e-9,
      "postimage must be the preimage's rewritten value")
    assert(ch.filter(col("_change_type") === "delete")
      .select("key").head().getLong(0) == kDel)
    assert(ch.filter(col("_change_type") === "insert")
      .select("key").head().getLong(0) == kNew)
    // O(touched): untouched carried files are never read by the feed
    val untouched = Layout.readSnapshot(spark, root, 2).inputFiles.toSet
      .intersect(v1Files)
    assert(untouched.nonEmpty, "merge must carry untouched files by reference")
    assert(ch.inputFiles.toSet.intersect(untouched).isEmpty,
      "the typed feed must scan only rewritten + added files")
    // replay identity: additions minus retractions ≡ the version diff
    val adds = ch.filter(col("_change_type")
      .isin("insert", "update_postimage")).drop("_change_type")
    val rets = ch.filter(col("_change_type")
      .isin("delete", "update_preimage")).drop("_change_type")
    val replayed = Layout.readSnapshot(spark, root, 1)
      .unionByName(adds).exceptAll(rets)
    val head = Layout.readSnapshot(spark, root, 2)
    assert(replayed.exceptAll(head).isEmpty && head.exceptAll(replayed).isEmpty)
    // DUP KEYS: two rows under one key rewrite — the typing must not
    // guess a pairing; both degrade to delete+insert, still exact
    Layout.snapshotAppend(spark, root,
      Seq((kUpd, "D", 2.0)).toDF("key", "status", "price"))       // v3
    Layout.snapshotMergeKeys(spark, root, "key", Seq(kUpd).toDF("key"), df =>
      df.withColumn("price", when(col("key") === kUpd,
        col("price") * 2).otherwise(col("price"))))               // v4
    val ch34 = Layout.snapshotChanges(spark, root, 3, 4).localCheckpoint()
    assert(ch34.filter(col("_change_type")
      .isin("update_preimage", "update_postimage")).count() == 0,
      "dup-key rewrites must degrade, never guess pairings")
    assert(ch34.filter(col("_change_type") === "insert").count() == 2 &&
      ch34.filter(col("_change_type") === "delete").count() == 2)
  }

  test("snapshotChangesUnion: a span mixing appends and merges prices per commit — typed rows survive, untouched files unread") {
    import spark.implicits._
    val root = tmp("cdc-walk") + "/t"
    Layout.snapshotAppend(spark, root,
      orders.repartitionByRange(4, col("key"))
        .sortWithinPartitions(col("key")), statsKey = Some("key")) // v1
    val processed = 1
    val kUpd = Layout.readSnapshot(spark, root)
      .select("key").orderBy("key").limit(1).head().getLong(0)
    // the span: append (v2), COW merge on one key (v3), append (v4) —
    // the ENDPOINT pair (1→4) has no cdcKey on v4's header, so the
    // single-call feed would fall back to two full scans; the walking
    // feed types the merge and keeps every pair at its own price
    Layout.snapshotAppend(spark, root,
      Seq((2000001L, "X", 5.0)).toDF("key", "status", "price"))    // v2
    Layout.snapshotMergeKeys(spark, root, "key", Seq(kUpd).toDF("key"), df =>
      df.withColumn("price", when(col("key") === kUpd,
        col("price") + 7.0).otherwise(col("price"))))               // v3
    Layout.snapshotAppend(spark, root,
      Seq((2000002L, "Y", 6.0)).toDF("key", "status", "price"))     // v4
    val ch = Layout.snapshotChangesUnion(spark, root, processed, 4)
      .localCheckpoint()
    val byType = ch.groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType == Map("insert" -> 2L,
      "update_preimage" -> 1L, "update_postimage" -> 1L),
      s"two appended rows + one typed pair expected: $byType")
    // telescoped replay ≡ the endpoint state
    val replayed = Layout.readSnapshot(spark, root, processed)
      .unionByName(ch.filter(col("_change_type")
          .isin("insert", "update_postimage")).drop("_change_type"))
      .exceptAll(ch.filter(col("_change_type")
          .isin("delete", "update_preimage")).drop("_change_type"))
    val head = Layout.readSnapshot(spark, root, 4)
    assert(replayed.exceptAll(head).isEmpty && head.exceptAll(replayed).isEmpty)
    // scale shape: files of v1 the merge did NOT rewrite are never read
    val untouched = Layout.readSnapshot(spark, root, 4).inputFiles.toSet
      .intersect(Layout.readSnapshot(spark, root, 1).inputFiles.toSet)
    assert(untouched.nonEmpty)
    assert(ch.inputFiles.toSet.intersect(untouched).isEmpty,
      "the walking feed must read only each commit's touched files")
  }

  test("sink auto-maintenance: small-file debt from micro-batches compacts on cadence, stream stays exactly-once") {
    val dir = tmp("sink-maint")
    val srcRoot = s"$dir/src"
    val dstRoot = s"$dir/dst"
    def pipe(): Unit = {
      val q = spark.readStream.format("graft-cdf")
        .option("path", srcRoot).load()
        .select(col("key"), col("price"))
        .writeStream.format("graft-snapshot")
        .option("path", dstRoot)
        .option("checkpointLocation", s"$dir/ckpt")
        .option("maintainEvery", "1")
        .option("maintainMaxSmallFiles", "12")
        .option("maintainSmallFileBytes", (10L << 20).toString)
        .option("maintainRetentionMillis", (365L * 24 * 3600 * 1000).toString)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    // twelve tiny source commits, streamed three at a time: the head
    // accretes ~3 small files per batch until the 12-file threshold
    // trips the cadence-gated compaction on the final batch (12 files is
    // also enough that local[4]'s bytes-per-core split sizing actually
    // packs multiple files per bin)
    val rows = orders.limit(120).localCheckpoint()
    (0 until 12).foreach { i =>
      Layout.snapshotAppend(spark, srcRoot,
        rows.filter(col("key") % 12 === i).coalesce(1))
      if (i % 3 == 2) pipe()
    }
    val expected = rows.select(col("key"), col("price"))
    val got = Layout.readSnapshot(spark, dstRoot)
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty,
      "auto-maintenance must never lose or duplicate stream rows")
    // the threshold crossing fired a compaction: a version with no
    // writer header (maintenance commits are not stream epochs)
    val hist = Layout.snapshotHistory(spark, dstRoot)
    assert(hist.filter(col("writer").isNull).count() >= 1,
      "expected an interleaved maintenance commit")
    // and the head is packed well below the accreted file count
    assert(Layout.readSnapshot(spark, dstRoot).inputFiles.length < 12)
  }

  test("model: chained snapshotChanges replay reconstructs every version across random appends, deletes, compactions, merges") {
    val root = tmp("cdc-model") + "/t"
    val rnd = new scala.util.Random(11)
    val pool = orders.limit(200).localCheckpoint()
    Layout.snapshotAppend(spark, root,
      pool.filter(col("key") % 5 === 0)
        .repartitionByRange(2, col("key")).sortWithinPartitions(col("key")),
      statsKey = Some("key"))
    for (step <- 1 to 9) {
      val vs = Layout.snapshotVersions(spark, root)
      val live = Layout.readSnapshot(spark, root)
      rnd.nextInt(4) match {
        case 0 => // append a random slice
          Layout.snapshotAppend(spark, root,
            pool.filter(col("key") % 7 === rnd.nextInt(7)))
        case 1 => // MOR-delete a few random live keys (if any)
          val ks = live.select("key").distinct().orderBy("key")
            .limit(30).collect().map(_.getLong(0))
          if (ks.nonEmpty)
            Layout.snapshotDeleteMOR(spark, root, "key",
              rnd.shuffle(ks.toSeq).take(1 + rnd.nextInt(5)).toArray)
          else Layout.snapshotAppend(spark, root,
            pool.filter(col("key") % 11 === 0))
        case 2 => // compact (folds sidecars; overwrite lineage)
          Layout.snapshotCompact(spark, root, 64L << 20)
        case 3 => // COW merge (typed update feed; dup keys degrade) —
          // compact first: merge refuses live delete sidecars
          Layout.snapshotCompact(spark, root, 64L << 20)
          val ks = Layout.readSnapshot(spark, root)
            .select("key").distinct().orderBy("key")
            .limit(20).collect().map(_.getLong(0))
          if (ks.nonEmpty) {
            val target = rnd.shuffle(ks.toSeq).take(1 + rnd.nextInt(4))
            import spark.implicits._
            Layout.snapshotMergeKeys(spark, root, "key", target.toDF("key"), df =>
              df.withColumn("price", when(col("key").isin(target: _*),
                col("price") * 1.5).otherwise(col("price"))))
          }
      }
    }
    // REPLAY: for every consecutive version pair, prev ⊎ additions ∖
    // retractions must equal next — multiset-exact, any lineage
    // (additions = insert + update_postimage; retractions = delete +
    // update_preimage: the two-set contract every consumer follows)
    val versions = Layout.snapshotVersions(spark, root)
    for ((a, b) <- versions.zip(versions.tail)) {
      val prev = Layout.readSnapshot(spark, root, a).localCheckpoint()
      val next = Layout.readSnapshot(spark, root, b).localCheckpoint()
      val ch = Layout.snapshotChanges(spark, root, a, b).localCheckpoint()
      val replayed = prev
        .unionByName(ch.filter(col("_change_type")
            .isin("insert", "update_postimage"))
          .drop("_change_type"), allowMissingColumns = true)
        .exceptAll(ch.filter(col("_change_type")
            .isin("delete", "update_preimage"))
          .drop("_change_type"))
      assert(replayed.exceptAll(next).isEmpty && next.exceptAll(replayed).isEmpty,
        s"replaying changes $a -> $b must reconstruct v$b exactly")
    }
  }
}
