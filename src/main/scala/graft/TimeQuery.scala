package graft

/** Dev tool: time SparkEntry queries under Bench's exact session shape,
  * several reps each, optionally dumping each formatted physical plan
  * first — the harness for adjudicating per-query bench flags without a
  * full sweep, and for reviewing plan shapes (`reps` = 0 with `explain`
  * only prints the plans).
  * Usage: runMain graft.TimeQuery <name[,name...]> [sfDir] [reps] [explain]
  */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq.filter(_.nonEmpty)
    val queries = SparkEntry.queries
    names.find(!queries.contains(_)).foreach { n =>
      throw new IllegalArgumentException(s"unknown query $n")
    }
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(2).map(_.toInt).getOrElse(4)
    val explain = args.lift(3).contains("explain")
    val spark = GraftSession.local()
    spark.range(1000).selectExpr("sum(id)").collect()
    // SPARK_GRAFT_PRELUDE=a,b,c runs those queries first in the SAME
    // session — reproduces sweep-context effects (accumulated session
    // state) that an isolated timing cannot
    sys.env.get("SPARK_GRAFT_PRELUDE").foreach(_.split(",").foreach { p =>
      queries(p)(spark, sfDir).count()
    })
    names.foreach { name =>
      val fn = queries(name)
      if (explain) {
        println(s"===== $name =====")
        fn(spark, sfDir).explain("formatted")
      }
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }
      if (times.nonEmpty)
        println(f"$name: ${times.map(t => f"$t%.3f").mkString(", ")} s " +
          f"(min ${times.min}%.3f)")
    }
    spark.stop()
  }
}
