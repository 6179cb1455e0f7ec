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
  * key distributions need at 100 TB. The two codegen settings keep each
  * generated class compiled once per JVM.
  */
object GraftSession {
  /** Entries of Spark's generated-class cache (Spark's default is 100).
    * Measured working set: 1,630 distinct classes over the whole
    * 200-query sf0.01 sweep, 229 for one perfbench `curation` pass — so
    * at 100 every class was evicted before its next use. A static conf:
    * `CodeGenerator` reads it once per JVM, so it must be set before the
    * JVM's first session, which this builder does.
    */
  val CodegenCacheEntries = 4096

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
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      // AQE numbers codegen stages in completion order, so with the stage
      // id in the class name identical bodies miss the cache; the id stays
      // in the source's codegenStageId comment, outside the cache key
      .config("spark.sql.codegen.useIdInClassName", "false")
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
    sys.env.get("SPARK_GRAFT_CONF").foreach(parseConf(_).foreach {
      case (k, v) => s.conf.set(k, v)
    })
    s
  }

  /** The `k=v;k=v` pairs of a `SPARK_GRAFT_CONF` value, trimmed. Empty
    * segments (a trailing `;`) are skipped; any other entry without a
    * `=` or with an empty key is an error, so a typo fails the run
    * instead of silently measuring the default.
    */
  private[graft] def parseConf(s: String): Seq[(String, String)] =
    s.split(";").toSeq.filter(_.trim.nonEmpty).map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.trim.nonEmpty => k.trim -> v.trim
        case _ => throw new IllegalArgumentException(
          s"malformed SPARK_GRAFT_CONF entry '$kv': expected key=value")
      }
    }
}
