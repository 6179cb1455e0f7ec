package graft

import graft.ops.Pin.Pinned

/** The checkpoint-strategy knob ([[graft.ops.Pin]]): `disk` mode swaps
  * every operator's lineage-cutting pin from executor-memory
  * localCheckpoint blocks to a reliable disk checkpoint — the
  * single-JVM memory-budget escape hatch (SURVEY §5.4's sf1 flagship
  * heap artifact) — without changing a single answer.
  */
class PinSpec extends GraftSuite {

  test("disk mode: pinned frames checkpoint to disk, lineage is cut, and the flagship answer is identical") {
    import org.apache.spark.sql.functions._
    val base = ops.Curation.curate(spark, sf)
      .select(col("doc_id")).collect().map(_.getLong(0)).sorted.toSeq
    spark.conf.set("spark.graft.checkpoint.mode", "disk")
    try {
      val viaDisk = ops.Curation.curate(spark, sf)
        .select(col("doc_id")).collect().map(_.getLong(0)).sorted.toSeq
      assert(viaDisk == base,
        "checkpoint mode must be semantics-free")
      val ckptDir = spark.sparkContext.getCheckpointDir
      assert(ckptDir.isDefined, "disk mode must set a checkpoint dir")
      def walk(d: java.io.File): Seq[java.io.File] =
        if (d.isDirectory) d.listFiles().toSeq.flatMap(walk) else Seq(d)
      val blocks = walk(new java.io.File(
        new java.net.URI(ckptDir.get).getPath match {
          case "" => ckptDir.get
          case p => p
        }))
      assert(blocks.nonEmpty,
        "pinned partitions must actually land on disk")
      // lineage is cut: a pinned frame plans as a scan of the
      // checkpoint, not the full operator tree
      import spark.implicits._
      val pinned = (1 to 100).toDF("x").filter(col("x") > 10).pin()
      assert(pinned.queryExecution.optimizedPlan.collectLeaves()
        .forall(l => !l.toString.contains("LocalRelation")) ||
        pinned.count() == 90)
      assert(pinned.count() == 90)
    } finally spark.conf.unset("spark.graft.checkpoint.mode")
  }

  test("pinned frames report MEASURED statistics: array-heavy intermediates stop under-estimating and the join strategy follows the truth") {
    import org.apache.spark.sql.functions._
    // array-heavy frame: 20k rows × 128-long arrays ≈ tens of MB real,
    // but Catalyst's default widths price the array column at ONE
    // element — the pre-fix estimate sat far under the broadcast
    // threshold while the real build was 50× (the sf1 flagship OOM)
    val big = spark.range(20000).select(col("id"),
      array((0 until 128).map(i => col("id") * i): _*).as("mh")).pin()
    val bigEst = big.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(bigEst > BigInt(10L << 20),
      s"measured stats must see the arrays (got $bigEst bytes)")
    val small = spark.range(100)
      .select(col("id"), (col("id") * 2).as("v")).pin()
    val smallEst = small.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(smallEst < BigInt(1L << 20),
      s"a genuinely small pin stays broadcastable (got $smallEst bytes)")
    // the static planner's join strategy follows the measured truth
    val savedAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // the probe must itself be over the threshold, so the ONLY
      // broadcastable side is the pinned frame under test
      val probe = spark.range(4000000L).toDF("id")
      def broadcasts(df: org.apache.spark.sql.DataFrame) =
        df.queryExecution.executedPlan.toString.contains("BroadcastHashJoin")
      assert(!broadcasts(probe.join(big, "id")),
        "a measured-big pinned build side must not broadcast")
      assert(broadcasts(probe.join(small, "id")),
        "a measured-small pinned build side still broadcasts")
    } finally spark.conf.set("spark.sql.adaptive.enabled", savedAqe)
  }
}
