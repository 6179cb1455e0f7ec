package graft

/** Dev tool: dump formatted physical plans for selected queries so the
  * scan pushdown / join strategy / top-k choices can be reviewed.
  * Usage: runMain graft.Explain <sfDir> [query ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("q1_agg", "q2_filter_project", "q3_join_agg", "q4_multi_join",
        "q5_sort_limit", "q20_asof_join", "d2_minhash_lsh", "s1_cosine_topk")
    val spark = GraftSession.local()
    names.foreach { n =>
      println(s"\n########## $n ##########")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
