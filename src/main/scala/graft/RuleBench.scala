package graft

import org.apache.spark.sql.functions._

/** Dev tool: measure BucketedRangeJoinRule's rewrite vs the un-rewritten
  * plan on two shapes:
  *  1. pure range theta-join (orders probed against part-derived
  *     intervals) — nested loop vs bucketed equi-join;
  *  2. equi+range on a SKEWED equi key (3 distinct keys) — hash join whose
  *     per-key cross product the range post-filter must chew through, vs
  *     the (key, bucket) composite join the rule rewrites to.
  * Usage: runMain graft.RuleBench [sfDir] [width]
  */
object RuleBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val width = args.lift(1).map(_.toLong).getOrElse(1000L)
    val spark = GraftSession.local()
    val rule = plans.BucketedRangeJoinRule(spark)
    def timed(tag: String)(df: => org.apache.spark.sql.DataFrame): Long = {
      val t0 = System.nanoTime()
      val n = df.count()
      println(f"$tag: ${(System.nanoTime() - t0) / 1e9}%.2f s ($n rows)")
      n
    }
    // the session's extensions inject the rule; it fires only while
    // its width conf is set
    def withRule[A](f: => A): A = {
      spark.conf.set(rule.WidthConf, width.toString)
      try f finally spark.conf.unset(rule.WidthConf)
    }
    spark.range(1000).selectExpr("sum(id)").collect() // warm up

    // -- shape 1: pure range join ------------------------------------
    def probe = Tables(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"))
    def intervals = Tables(spark, sfDir, "part")
      .select(col("p_partkey"), (col("p_retailprice") * 50).as("lo"),
        (col("p_retailprice") * 50 + 2000).as("hi"))
    def rangeJoin = probe.join(intervals,
      col("o_totalprice") >= col("lo") && col("o_totalprice") <= col("hi"))
    val slow = timed("range: nested-loop (no rule)")(rangeJoin)
    val fast = withRule(timed(s"range: bucketed (rule, W=$width)")(rangeJoin))
    require(slow == fast, s"range result mismatch: $slow vs $fast")

    // -- shape 2: equi+range, skewed key -----------------------------
    // 3 distinct keys: the hash join co-locates ~1/3 of each side per key
    // and the range predicate is a post-filter over that cross product
    def skewProbe = Tables(spark, sfDir, "orders")
      .select((col("o_orderkey") % 3).as("k"), col("o_totalprice").as("v"))
    def skewIntervals = Tables(spark, sfDir, "part")
      .select((col("p_partkey") % 3).as("ik"),
        (col("p_retailprice") * 50).as("lo"),
        (col("p_retailprice") * 50 + 2000).as("hi"))
    def equiRange = skewProbe.join(skewIntervals,
      col("k") === col("ik") && col("v") >= col("lo") && col("v") <= col("hi"))
    val slow2 = timed("equi+range skewed: hash join + post-filter (no rule)")(equiRange)
    val fast2 = withRule(
      timed(s"equi+range skewed: rule + sentinel fallback ON (default, W=$width)")(equiRange))
    require(slow2 == fast2, s"equi+range result mismatch: $slow2 vs $fast2")
    // fallback OFF reclaims the 2x probe generate on a narrow-only
    // workload — the knob an operator flips when interval widths are known
    val fast2b = withRule {
      spark.conf.set(rule.WideFallbackConf, "false")
      try timed(s"equi+range skewed: rule, fallback OFF (W=$width)")(equiRange)
      finally spark.conf.unset(rule.WideFallbackConf)
    }
    require(slow2 == fast2b, s"equi+range (no fallback) mismatch: $slow2 vs $fast2b")

    // -- shape 3: equi+range with WIDE outliers mixed in ---------------
    // 1-in-64 intervals span ~5e9 (beyond maxSpan x W): without the
    // fallback the rule must refuse (loud error); with it the wide rows
    // ride the sentinel (per-key hash path) while the narrow 63/64 keep
    // bucket pruning
    def mixedIntervals = Tables(spark, sfDir, "part")
      .select(col("p_partkey"), (col("p_partkey") % 64 === 0).as("wide"),
        col("p_retailprice"))
      .select(col("p_partkey"),
        when(col("wide"), lit(0.0)).otherwise(col("p_retailprice") * 50).as("lo"),
        when(col("wide"), lit(5e9)).otherwise(col("p_retailprice") * 50 + 2000).as("hi"))
    def mixedJoin = skewProbe.join(mixedIntervals.select(
        (col("p_partkey") % 3).as("ik"), col("lo"), col("hi")),
      col("k") === col("ik") && col("v") >= col("lo") && col("v") <= col("hi"))
    val slow3 = timed("equi+range 1/64 wide: hash join + post-filter (no rule)")(mixedJoin)
    val fast3 = withRule(
      timed(s"equi+range 1/64 wide: rule + sentinel fallback (W=$width)")(mixedJoin))
    require(slow3 == fast3, s"wide-mixed result mismatch: $slow3 vs $fast3")
    spark.stop()
  }
}
