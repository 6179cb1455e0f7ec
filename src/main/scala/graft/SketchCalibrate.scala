package graft

/** Dev tool (SURVEY §5.0 round-8 calibration): time the SQL-surface
  * sketch aggregates (A5 misra_gries / A7 kll_quartiles / A8 count_min /
  * A6 hll via approx + the exact tokenized GROUP BY they replace) at the
  * given SF, min of two warm runs, so the DuckDB exact counterparts in
  * tools/calibrate_r8.py have committed Spark numbers to sit against.
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "runMain graft.SketchCalibrate"
  */
object SketchCalibrate {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local() // its extensions inject the sketch SQL functions
    Tables.registerAll(spark, sfDir)
    val probes = Seq(
      "mg_heavy_hitters" ->
        "SELECT misra_gries(tok) AS s FROM (SELECT explode(split(text, ' ')) AS tok FROM documents)",
      "cms_freq" ->
        "SELECT count_min(tok) AS s FROM (SELECT explode(split(text, ' ')) AS tok FROM documents)",
      "kll_quartiles" ->
        "SELECT kll_quartiles(value) AS q FROM events",
      "hll_distinct" ->
        "SELECT approx_count_distinct(tok) AS n FROM (SELECT explode(split(text, ' ')) AS tok FROM documents)",
      "exact_top32" ->
        "SELECT tok, count(*) AS cnt FROM (SELECT explode(split(text, ' ')) AS tok FROM documents) GROUP BY tok ORDER BY cnt DESC, tok LIMIT 32",
      "exact_quartiles" ->
        "SELECT percentile(value, array(0.25, 0.5, 0.75)) AS q FROM events",
      "exact_distinct" ->
        "SELECT count(DISTINCT tok) AS n FROM (SELECT explode(split(text, ' ')) AS tok FROM documents)")
    spark.range(1000).selectExpr("sum(id)").collect()
    probes.foreach { case (name, sql) =>
      val secs = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        spark.sql(sql).collect()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[sketch] $name%-16s ${secs.min}%.3f s")
    }
    spark.stop()
  }
}
