package graft

import org.apache.spark.sql.functions._

import graft.ops.Layout

/** ST34: the snapshot CDF as a `readStream` source
  * ([[graft.streaming.CdfSourceProvider]]) — exact delta emission,
  * exactly-once across a checkpointed restart, and ST31's maintained
  * view re-expressed on engine triggers instead of polling.
  */
class CdfSourceSpec extends GraftSuite {

  private def freshDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-$tag").toString

  private def orders = Tables(spark, sf, "orders")
    .select(col("o_orderkey").as("key"),
      col("o_orderstatus").as("status"),
      col("o_totalprice").cast("double").as("price"))

  test("CDF stream emits exactly the committed deltas, stamped with their versions") {
    val dir = freshDir("cdf1")
    val root = s"$dir/t"
    val slices = (0 to 2).map(b => orders.filter(col("key") % 3 === b))
    Layout.snapshotAppend(spark, root, slices(0)) // v1 before stream start
    val q = spark.readStream.format("graft-cdf").option("path", root).load()
      .writeStream.format("memory").queryName("cdf_t1")
      .option("checkpointLocation", s"$dir/ckpt").start()
    try {
      q.processAllAvailable()
      val got1 = spark.table("cdf_t1")
      assert(got1.count() == slices(0).count(),
        "the pre-existing table arrives as the first batch (version 1)")
      assert(got1.select("_graft_version").distinct()
        .collect().map(_.getInt(0)).toSeq == Seq(1))
      // two interleaved appends while the stream runs
      Layout.snapshotAppend(spark, root, slices(1)) // v2
      Layout.snapshotAppend(spark, root, slices(2)) // v3
      q.processAllAvailable()
      val got = spark.table("cdf_t1")
      assert(got.count() == orders.count(),
        "each row must arrive exactly once across the three versions")
      val byV = got.groupBy(col("_graft_version")).count()
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      assert(byV.keySet == Set(1, 2, 3))
      (0 to 2).foreach(b => assert(byV(b + 1) == slices(b).count(),
        s"version ${b + 1} must carry exactly its append's rows"))
      val data = got.drop("_graft_version")
      assert(data.exceptAll(orders).isEmpty && orders.exceptAll(data).isEmpty)
    } finally q.stop()
  }

  test("checkpointed restart resumes from the committed version exactly-once") {
    val dir = freshDir("cdf2")
    val root = s"$dir/t"
    // memory sinks can't recover a checkpoint; a parquet-appending
    // foreachBatch is the recoverable production shape
    def run(out: String): Unit = {
      val q = spark.readStream.format("graft-cdf").option("path", root).load()
        .writeStream.option("checkpointLocation", s"$dir/ckpt")
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.write.mode("append").parquet(out); ()
        }.start()
      try q.processAllAvailable() finally q.stop()
    }
    Layout.snapshotAppend(spark, root, orders.filter(col("key") % 3 === 0))
    run(s"$dir/out1")
    assert(spark.read.parquet(s"$dir/out1").count() ==
      orders.filter(col("key") % 3 === 0).count())
    // table advances while no stream is running
    Layout.snapshotAppend(spark, root, orders.filter(col("key") % 3 === 1))
    // restart from the SAME checkpoint into a fresh sink: only v2 arrives
    run(s"$dir/out2")
    val resumed = spark.read.parquet(s"$dir/out2")
    assert(resumed.select("_graft_version").distinct()
      .collect().map(_.getInt(0)).toSeq == Seq(2),
      "a restarted stream must not replay the committed version 1")
    assert(resumed.count() ==
      orders.filter(col("key") % 3 === 1).count())
  }

  test("ST31 on engine triggers: CDF-stream-driven maintainSumView tracks the base exactly") {
    val dir = freshDir("cdf3")
    val (baseRoot, viewRoot) = (s"$dir/base", s"$dir/view")
    Layout.snapshotAppend(spark, baseRoot, orders.filter(col("key") % 3 === 0))
    val q = spark.readStream.format("graft-cdf").option("path", baseRoot).load()
      .writeStream.option("checkpointLocation", s"$dir/ckpt")
      .foreachBatch { (_: org.apache.spark.sql.DataFrame, _: Long) =>
        // the stream IS the trigger; the maintainer advances from the
        // view's own recorded base_version (idempotent under replay)
        Layout.maintainSumView(spark, baseRoot, viewRoot, "status", "price")
        ()
      }.start()
    def viewNow() = Layout.readSnapshot(spark, viewRoot)
      .select(col("status"), round(col("sum_v"), 4).as("sum_v"), col("n"))
    def want() = Layout.readSnapshot(spark, baseRoot)
      .groupBy(col("status"))
      .agg(round(sum(col("price")), 4).as("sum_v"), count(lit(1)).as("n"))
    try {
      q.processAllAvailable()
      assert(viewNow().exceptAll(want()).isEmpty &&
        want().exceptAll(viewNow()).isEmpty)
      Layout.snapshotAppend(spark, baseRoot, orders.filter(col("key") % 3 === 1))
      Layout.snapshotAppend(spark, baseRoot, orders.filter(col("key") % 3 === 2))
      q.processAllAvailable()
      assert(viewNow().exceptAll(want()).isEmpty &&
        want().exceptAll(viewNow()).isEmpty,
        "view maintained on engine triggers must equal the full rollup")
      assert(Layout.readSnapshot(spark, viewRoot)
        .agg(max(col("base_version"))).head().getInt(0) ==
        Layout.snapshotVersions(spark, baseRoot).last)
    } finally q.stop()
  }

  test("ST35: CDC mode emits op-typed rows — MOR deletes arrive as retractions, appends stay insert-only") {
    val dir = freshDir("cdf-cdc")
    val root = s"$dir/t"
    Layout.snapshotAppend(spark, root,
      orders.filter(col("key") % 3 === 0)
        .repartitionByRange(2, col("key")).sortWithinPartitions(col("key")),
      statsKey = Some("key")) // v1
    val q = spark.readStream.format("graft-cdf")
      .option("path", root).option("mode", "cdc").load()
      .writeStream.format("memory").queryName("cdf_cdc")
      .option("checkpointLocation", s"$dir/ckpt").start()
    try {
      q.processAllAvailable()
      val first = spark.table("cdf_cdc")
      assert(first.filter(col("_change_type") =!= "insert").count() == 0,
        "the initial snapshot is inserts only")
      // an append (insert-only delta) and a MOR delete (retraction)
      Layout.snapshotAppend(spark, root, orders.filter(col("key") % 3 === 1)) // v2
      val delKeys = Layout.readSnapshot(spark, root)
        .select("key").orderBy("key").limit(5).collect().map(_.getLong(0))
      Layout.snapshotDeleteMOR(spark, root, "key", delKeys) // v3
      q.processAllAvailable()
      val got = spark.table("cdf_cdc")
      val v2ops = got.filter(col("_graft_version") === 2)
        .select("_change_type").distinct().collect().map(_.getString(0)).toSet
      assert(v2ops == Set("insert"), s"append version must be insert-only, saw $v2ops")
      val dels = got.filter(col("_graft_version") === 3 &&
        col("_change_type") === "delete")
      assert(dels.count() == delKeys.length,
        "the MOR delete must retract exactly the deleted rows")
      assert(dels.select("key").collect().map(_.getLong(0)).sorted
        .sameElements(delKeys.sorted))
      // a COW MERGE arrives TYPED: update_preimage/postimage pairs for
      // the rewritten key (compact first — merge refuses sidecars;
      // compaction is content-preserving so v4 contributes no rows)
      Layout.snapshotCompact(spark, root, 128L << 20) // v4
      val uKey = Layout.readSnapshot(spark, root)
        .select("key").orderBy("key").limit(1).head().getLong(0)
      import spark.implicits._
      Layout.snapshotMergeKeys(spark, root, "key", Seq(uKey).toDF("key"), df =>
        df.withColumn("price", when(col("key") === uKey,
          col("price") + 77.0).otherwise(col("price")))) // v5
      q.processAllAvailable()
      val got2 = spark.table("cdf_cdc")
      val v5 = got2.filter(col("_graft_version") === 5).localCheckpoint()
      val v5types = v5.groupBy("_change_type").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(v5types == Map("update_preimage" -> 1L,
        "update_postimage" -> 1L),
        s"a one-key MERGE must stream exactly one typed pair: $v5types")
      assert(v5.select("key").distinct().head().getLong(0) == uKey)
      // APPLYING the feed reproduces the head: additions minus
      // retractions — update types count with their set
      // (localCheckpoint: both sides of the self-except need distinct
      // attribute ids)
      val gotC = got2.localCheckpoint()
      val applied = gotC.filter(col("_change_type")
          .isin("insert", "update_postimage"))
        .drop("_change_type", "_graft_version")
        .exceptAll(gotC.filter(col("_change_type")
            .isin("delete", "update_preimage"))
          .drop("_change_type", "_graft_version"))
      val head = Layout.readSnapshot(spark, root)
      assert(applied.exceptAll(head).isEmpty && head.exceptAll(applied).isEmpty,
        "replaying the op-typed feed must reconstruct the table head")
    } finally q.stop()
  }

  test("maxVersionsPerTrigger bounds every micro-batch to N commits; the backfill still arrives exactly-once, including across a checkpointed restart") {
    val dir = freshDir("cdf-rate")
    val root = s"$dir/t"
    // five commits BEFORE the stream starts — the backfill case the
    // rate limit exists for
    val slices = (0 to 4).map(b => orders.filter(col("key") % 5 === b))
    slices.foreach(s => Layout.snapshotAppend(spark, root, s)) // v1..v5
    val batches = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Int])]
    def run(): org.apache.spark.sql.streaming.StreamingQuery =
      spark.readStream.format("graft-cdf").option("path", root)
        .option("maxVersionsPerTrigger", "2").load()
        .writeStream.option("checkpointLocation", s"$dir/ckpt")
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
          val vs = df.select("_graft_version").distinct()
            .collect().map(_.getInt(0)).toSeq.sorted
          batches.synchronized { batches += ((id, vs)) }
          ()
        }.start()
    val q = run()
    try {
      q.processAllAvailable()
      val nonEmpty = batches.filter(_._2.nonEmpty)
      assert(nonEmpty.forall(_._2.size <= 2),
        s"every batch must carry at most 2 versions, saw $nonEmpty")
      assert(nonEmpty.size >= 3,
        s"5 versions at 2/trigger need >= 3 batches, saw ${nonEmpty.size}")
      val all = nonEmpty.flatMap(_._2).sorted
      assert(all == Seq(1, 2, 3, 4, 5),
        s"each version exactly once across batches, saw $all")
      // a live append keeps flowing under the cap
      Layout.snapshotAppend(spark, root, slices(0)) // v6
      q.processAllAvailable()
      assert(batches.flatMap(_._2).sorted == Seq(1, 2, 3, 4, 5, 6))
    } finally q.stop()
    // RESTART under the cap: a fresh source re-seeds its watermark from
    // the engine's offset-log replay — a capped getOffset can never
    // rewind the WAL and nothing re-emits
    Layout.snapshotAppend(spark, root, slices(1)) // v7
    Layout.snapshotAppend(spark, root, slices(2)) // v8
    Layout.snapshotAppend(spark, root, slices(3)) // v9
    val q2 = run()
    try {
      q2.processAllAvailable()
      val all2 = batches.flatMap(_._2).sorted
      assert(all2 == (1 to 9), s"restart must continue exactly-once under " +
        s"the cap (no re-emits, no gaps), saw $all2")
      assert(batches.filter(_._2.nonEmpty).forall(_._2.size <= 2),
        "the cap must survive the restart")
    } finally q2.stop()
  }

  test("startingVersion skips the backfill: only post-start commits flow; 'latest' starts at the live edge") {
    val dir = freshDir("cdf-start")
    val root = s"$dir/t"
    val slices = (0 to 3).map(b => orders.filter(col("key") % 4 === b))
    slices.take(3).foreach(s => Layout.snapshotAppend(spark, root, s)) // v1..v3
    // numeric form: start AFTER v2 — v1/v2 never emitted
    val q1 = spark.readStream.format("graft-cdf").option("path", root)
      .option("startingVersion", "2").load()
      .writeStream.format("memory").queryName("cdf_sv")
      .option("checkpointLocation", s"$dir/ckpt1").start()
    try {
      q1.processAllAvailable()
      val got = spark.table("cdf_sv")
      assert(got.select("_graft_version").distinct()
        .collect().map(_.getInt(0)).toSeq == Seq(3),
        "startingVersion=2 must serve exactly v3")
      assert(got.count() == slices(2).count())
    } finally q1.stop()
    // startingTimestamp: the wall-clock twin — start after v2's stamp
    val ts2 = Layout.snapshotTimestamps(spark, root).find(_._1 == 2).get._2
    val q1b = spark.readStream.format("graft-cdf").option("path", root)
      .option("startingTimestamp", ts2.toString).load()
      .writeStream.format("memory").queryName("cdf_svt")
      .option("checkpointLocation", s"$dir/ckpt1b").start()
    try {
      q1b.processAllAvailable()
      assert(spark.table("cdf_svt").select("_graft_version").distinct()
        .collect().map(_.getInt(0)).toSeq == Seq(3),
        "startingTimestamp at v2's stamp must serve exactly v3")
    } finally q1b.stop()
    // 'latest': nothing from the existing history, everything after
    val q2 = spark.readStream.format("graft-cdf").option("path", root)
      .option("startingVersion", "latest").load()
      .writeStream.format("memory").queryName("cdf_svl")
      .option("checkpointLocation", s"$dir/ckpt2").start()
    try {
      q2.processAllAvailable()
      assert(spark.table("cdf_svl").count() == 0,
        "'latest' must not backfill")
      Layout.snapshotAppend(spark, root, slices(3)) // v4
      q2.processAllAvailable()
      val got = spark.table("cdf_svl")
      assert(got.select("_graft_version").distinct()
        .collect().map(_.getInt(0)).toSeq == Seq(4))
      assert(got.count() == slices(3).count())
    } finally q2.stop()
  }

  test("ST36: CDF streams over a branch workspace root; a publish lands on main's stream exactly once") {
    val dir = freshDir("cdf-br")
    val root = s"$dir/t"
    val evens = orders.filter(col("key") % 2 === 0)
    val odds = orders.filter(col("key") % 2 === 1)
    Layout.snapshotAppend(spark, root, evens) // main v1
    val bRoot = Layout.snapshotBranch(spark, root, "dev")
    // the workspace is a FULL table root — the engine-native source
    // streams it like any table
    val qb = spark.readStream.format("graft-cdf").option("path", bRoot).load()
      .writeStream.format("memory").queryName("cdf_branch")
      .option("checkpointLocation", s"$dir/ckpt_b").start()
    val qm = spark.readStream.format("graft-cdf").option("path", root).load()
      .writeStream.format("memory").queryName("cdf_main")
      .option("checkpointLocation", s"$dir/ckpt_m").start()
    try {
      qb.processAllAvailable(); qm.processAllAvailable()
      assert(spark.table("cdf_branch").count() == evens.count(),
        "the branch stream backfills the fork content (branch v1)")
      Layout.snapshotAppend(spark, bRoot, odds) // branch v2
      qb.processAllAvailable(); qm.processAllAvailable()
      assert(spark.table("cdf_branch").count() == orders.count(),
        "branch commits flow on the workspace stream")
      assert(spark.table("cdf_main").count() == evens.count(),
        "pre-publish branch commits are invisible to main's stream")
      // publish: ONE main commit adopting the branch head — main's
      // stream must see the adopted rows exactly once
      Layout.snapshotBranchPublish(spark, root, "dev")
      qm.processAllAvailable()
      val gotMain = spark.table("cdf_main")
      assert(gotMain.count() == orders.count(),
        "the publish commit's delta is exactly the branch's new rows")
      val pubRows = gotMain.filter(col("_graft_version") === 2)
        .drop("_graft_version")
      assert(pubRows.exceptAll(odds).isEmpty && odds.exceptAll(pubRows).isEmpty,
        "the adopted commit arrives once, stamped with the publish version")
      val data = gotMain.drop("_graft_version")
      assert(data.exceptAll(orders).isEmpty && orders.exceptAll(data).isEmpty)
    } finally { qb.stop(); qm.stop() }
  }
}
