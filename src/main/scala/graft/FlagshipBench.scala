package graft

import org.apache.spark.sql.functions._

/** Dev tool: time the flagship curation pipeline, and A/B it against the
  * round-3-style wiring (each sub-operator re-scanning `documents` and
  * re-deriving its own shingle/minhash signatures) to quantify the shared
  * signature pass. Usage: runMain graft.FlagshipBench [sfDir]
  *
  * `runMain graft.FlagshipBench prod [sfDir]` instead times the
  * PRODUCTION CONFIGURATION — the conf-gated slots a deployment would
  * ship with ON (`estimateDedup`: d12's MinHash-estimate near-dup gate;
  * `editDedup`: d19's auto-switched edit-distance gate;
  * `substringDedup`: d21's sliding-window-hash substring gate) — so the
  * shipped configuration has a committed number
  * (`flagship_prod_sec` in tools/bench_anchor.json), not just the
  * default-knob sweep entry (st8's batch twin).
  */
object FlagshipBench {
  def main(args: Array[String]): Unit = {
    val prod = args.headOption.contains("prod")
    // `entry` mode: time ONLY the SparkEntry.entry configuration
    // (default-knob Curation.curate) — the flagship row the sf10 table
    // carries; prints a tools/merge_sweep_segments.py-compatible
    // `[bench] flagship <sec> s` line (first pass = the sweep-comparable
    // number, per the anchor convention).
    val entryMode = args.headOption.contains("entry")
    val rest = if (prod || entryMode) args.drop(1) else args
    val sfDir = rest.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession.local()
    // SPARK_GRAFT_CKPT=disk routes every operator pin through a
    // reliable disk checkpoint ([[graft.ops.Pin]]) — the single-JVM
    // memory budget knob (local[32] concentrates the whole cluster's
    // pinned working set in one heap; see SURVEY §5.4)
    sys.env.get("SPARK_GRAFT_CKPT").foreach(m =>
      spark.conf.set("spark.graft.checkpoint.mode", m))
    // SPARK_GRAFT_AUTOBCAST=<bytes> caps both broadcast thresholds —
    // the second half of the single-JVM memory budget (a broadcast
    // hash relation builds in the ONE shared heap while 32 tasks hold
    // execution pages; on a real cluster the build has an executor to
    // itself)
    sys.env.get("SPARK_GRAFT_AUTOBCAST").foreach { b =>
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", b)
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", b)
    }
    spark.range(1000).selectExpr("sum(id)").collect() // warm up

    if (entryMode) {
      val times = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        val n = ops.Curation.curate(spark, sfDir).count()
        val s = (System.nanoTime() - t0) / 1e9
        println(f"flagship entry-config: $s%.2f s ($n rows)")
        s
      }
      println(f"flagship_sec first=${times.head}%.2f min=${times.min}%.2f")
      println(f"[bench] flagship ${times.head}%.3f s")
      spark.stop()
      return
    }

    if (prod) {
      spark.conf.set("spark.graft.curation.estimateDedup", "true")
      spark.conf.set("spark.graft.curation.editDedup", "true")
      spark.conf.set("spark.graft.curation.substringDedup", "true")
      // three timed passes: the first carries one-time session costs, the
      // anchor convention records the first (sweep-comparable) and min
      val times = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        val n = ops.Curation.curate(spark, sfDir).count()
        val s = (System.nanoTime() - t0) / 1e9
        println(f"flagship prod-config: $s%.2f s ($n rows)")
        s
      }
      println(f"flagship_prod_sec first=${times.head}%.2f min=${times.min}%.2f")
      println(f"[bench] flagship_prod ${times.head}%.3f s")
      spark.stop()
      return
    }

    def timed(tag: String)(df: => org.apache.spark.sql.DataFrame): Long = {
      val t0 = System.nanoTime()
      val n = df.count()
      println(f"$tag: ${(System.nanoTime() - t0) / 1e9}%.2f s ($n rows)")
      n
    }

    // round-3-style wiring: every gate rebuilt from its standalone
    // operator, each with its own documents scan + signature derivation
    def oldStyle: org.apache.spark.sql.DataFrame = {
      val docs = Tables(spark, sfDir, "documents")
      val keep = docs
        .groupBy(md5(col("text").cast("binary")).as("h"))
        .agg(min(col("doc_id")).as("doc_id")).select(col("doc_id"))
      val dupJ = dedup.Dedup.d2MinHashLsh(spark, sfDir)
        .select(col("j").as("doc_id")).distinct()
      val contaminated = text.TextOps.t9Contamination(spark, sfDir)
        .filter(col("contaminated") === 1 && col("doc_id") % 97 =!= 0)
        .select(col("doc_id"))
      val boilerplate = dedup.Dedup.d9SegmentDedup(spark, sfDir)
        .filter(col("n_seg_kept") * 2 <= col("n_seg_total"))
        .select(col("doc_id"))
      val contained = dedup.Dedup.d10Containment(spark, sfDir)
        .filter(col("j") < col("i"))
        .select(col("i").as("doc_id")).distinct()
      docs
        .join(keep, Seq("doc_id"), "left_semi")
        .join(dupJ, Seq("doc_id"), "left_anti")
        .join(contaminated, Seq("doc_id"), "left_anti")
        .join(boilerplate, Seq("doc_id"), "left_anti")
        .join(contained, Seq("doc_id"), "left_anti")
        .transform(ops.Curation.rowGates)
        .select(col("doc_id"))
    }

    val slow = timed("r3-style (per-operator signatures)")(oldStyle)
    val fast = timed("shared signature pass (pre-cap survivors)")(
      ops.Curation.uncappedSurvivorIds(spark, sfDir))
    timed("shared signature pass (curateUnmixed, incl. cap)")(
      ops.Curation.curateUnmixed(spark, sfDir).select(col("doc_id")))
    timed("full flagship (curate, incl. cap+mix+annotation)")(
      ops.Curation.curate(spark, sfDir))
    // the A/B is only honest if both wirings compute the SAME set: both
    // stop at stage 7 + row gates (no cap), so the survivor doc_id sets
    // must be identical — a shared-pass regression that drops or adds a
    // row fails here, not just a count ordering
    val shared = ops.Curation.uncappedSurvivorIds(spark, sfDir)
    val old = oldStyle
    val onlyShared = shared.join(old, Seq("doc_id"), "left_anti").count()
    val onlyOld = old.join(shared, Seq("doc_id"), "left_anti").count()
    require(onlyShared == 0 && onlyOld == 0,
      s"shared-pass survivors diverge from per-operator wiring: " +
        s"$onlyShared only-shared, $onlyOld only-old (of $fast vs $slow)")
    println(s"survivor sets identical: $fast rows both wirings")
    spark.stop()
  }
}
