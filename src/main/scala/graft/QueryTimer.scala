package graft

/** Dev tool: time (or explain) a subset of SparkEntry.queries without
  * running the whole Bench sweep. Args: query names; `--explain` prints
  * the formatted plan instead of timing.
  *   SPARK_GRAFT_SF_DIR=... sbt "runMain graft.QueryTimer q74_pagerank"
  */
object QueryTimer {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val explain = args.contains("--explain")
    val names = args.filterNot(_.startsWith("--"))
    val spark = GraftSession.local()
    spark.range(1000).selectExpr("sum(id)").collect() // warm codegen paths
    names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query $name"))
      if (explain) {
        println(s"===== $name =====")
        fn(spark, sfDir).explain("formatted")
      } else {
        (1 to 2).foreach { i => // run twice: warm file/footer caches
          val t0 = System.nanoTime()
          val n = fn(spark, sfDir).count()
          println(f"[timer] $name run$i: ${(System.nanoTime() - t0) / 1e9}%.3f s ($n rows)")
        }
      }
    }
    spark.stop()
  }
}
