package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's recommended configuration.
  *
  * Local mode sizes shuffle partitions to the core count (Spark's default
  * 200 just fragments tiny datasets); on a cluster pass
  * `shufflePartitions ≈ 2–3 × total executor cores` and size
  * `spark.sql.files.maxPartitionBytes` so scan tasks land at 128–256 MB.
  * AQE stays on: it re-coalesces post-shuffle partitions and splits skewed
  * join partitions at runtime, which is exactly what variable real-world
  * key distributions need at 100 TB.
  */
object GraftSession {
  def builder(
      master: String = "local[*]",
      appName: String = "graft",
      shufflePartitions: Int = Runtime.getRuntime.availableProcessors()): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // events.ts parquet type handling; see Tables.readerConfs
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")

  /** The session every `main` runs in, so each tool times and plans the
    * same engine: [[builder]] at `local[n]` with `n` shuffle partitions,
    * where `n` is `SPARK_GRAFT_CPUS` (default: the machine's cores), plus
    * graft's SQL extensions, UI off and WARN logging. Then each `k=v` of
    * `SPARK_GRAFT_CONF="k=v;k=v"` is set on the session — the A/B lever
    * for conf-gated plan shapes.
    */
  def local(): SparkSession = {
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    val s = builder(s"local[$cpus]", shufflePartitions = cpus)
      .withExtensions(new functions.GraftExtensions)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(";").foreach { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.trim.nonEmpty => s.conf.set(k.trim, v.trim)
        case _ => ()
      }
    })
    s
  }
}
