package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** The oracle SQL is PINNED to the default knob geometry (LSH tables/
    * planes, IVF probe count, bucket count, estimate-mode off): running
    * the compare with a non-default knob would report a bogus mismatch
    * instead of flagging the unsupported configuration — fail fast. */
  val PinnedKeys = Seq("spark.graft.lsh.tables", "spark.graft.lsh.planes",
    "spark.graft.ivf.probes", "spark.graft.buckets",
    "spark.graft.rangeJoin.width", "spark.graft.curation.estimateDedup",
    "spark.graft.curation.editDedup", "spark.graft.editDedup.crossover",
    "spark.graft.curation.substringDedup")

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.local()
    val set = PinnedKeys.flatMap(k => spark.conf.getOption(k).map(v => s"$k=$v"))
    require(set.isEmpty, "oracle SQL is pinned to the default knobs; unset " +
      set.mkString(", ") + " before running the correctness dump")
    new java.io.File(outDir).mkdirs()
    // dev-only: SPARK_GRAFT_ONLY=t14_collocations,q76_bfs_hops runs a
    // subset for fast local iteration; the driver never sets it.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    // A query that throws must still surface as a RED correctness row, not
    // vanish from the report (round 6: five crashed queries were silently
    // omitted and the artifact read 0 failures). On error we write a
    // one-row sentinel whose schema ("__verify_error") can never match any
    // oracle, so the driver's compare records rows/schema/hash = false.
    val failed = scala.collection.mutable.ListBuffer.empty[String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failed += name
        System.err.println(s"[verify] $name FAILED: ${e.getMessage}")
        try {
          import spark.implicits._
          Seq(s"$name: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(500)}")
            .toDF("__verify_error")
            .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        } catch { case w: Throwable =>
          System.err.println(s"[verify] $name sentinel write failed: ${w.getMessage}")
        }
      }
    }
    if (failed.nonEmpty)
      System.err.println(s"[verify] ${failed.size} queries FAILED: " +
        failed.mkString(", "))
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
