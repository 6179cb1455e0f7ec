package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): runs every SparkEntry query on
  * SPARK_GRAFT_SF_DIR, prints ONE JSON line with per-query seconds.
  *
  * Trustworthiness machinery (the driver's bench window is shared with
  * other processes, and rounds 6+7 both shipped phantom regression flags
  * that a quiet re-measure dissolved):
  *
  *  - CALIBRATION PROBE: a fixed CPU-bound job (no I/O, no data
  *    dependence) timed against a committed quiet-machine anchor
  *    (`calibration_sec` in tools/bench_anchor.json, measured with
  *    `calibration_cores` cores). Its ratio to the anchor scaled to this
  *    session's cores ([[loadFactor]]) is the LOAD FACTOR — 1.0 on a
  *    quiet machine, ~N when N-fold contention steals the cores. Probed
  *    once before the sweep and once before each flagged rerun, and
  *    recorded in BENCH_FULL.json, so the artifact carries the evidence
  *    needed to adjudicate its own flags.
  *  - END-OF-SWEEP RERUN: an apparent regression is re-measured in a
  *    second pass AFTER the whole sweep (minutes later — outlasting load
  *    spikes that an immediate rerun sits inside), keeping the min. A real
  *    plan regression reproduces; transient load does not.
  *  - SELF-ADJUDICATING FLAGS: any flag that survives the rerun carries
  *    the load factor measured at rerun time — `[load 3.2x]` says "the
  *    machine was 3x contended, discount this"; `[load 1.0x]` says "quiet
  *    machine, this one is real".
  *
  * `runMain graft.Bench calibrate` instead measures the probe on THIS
  * machine (run quiet) and prints per-run seconds — the min of the warm
  * runs is what tools/bench_anchor.json commits as `calibration_sec`, and
  * the session's cores as `calibration_cores`.
  * Same session as the sweep ([[GraftSession.local]]) — the probe's
  * runtime is session-shape sensitive (AQE coalesces the partial-agg
  * stage) — so the timing transfers.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val calibrate = args.toSeq match {
      case Seq() => false
      case Seq("calibrate") => true
      case other => throw new IllegalArgumentException(
        s"unknown Bench argument '${other.mkString(" ")}': expected none or calibrate")
    }
    val spark = GraftSession.local()
    if (calibrate) {
      val times = (1 to 6).map(_ => probeSec(spark))
      // drop run 1 (codegen compile); commit the min of the rest
      println(f"calibration probe runs: ${times.map(t => f"$t%.3f").mkString(", ")}")
      println(f"calibration_sec (min of warm runs): ${times.tail.min}%.3f")
      println(s"calibration_cores: ${spark.sparkContext.defaultParallelism}")
    } else sweep(spark)
    spark.stop()
  }

  /** A probe run's load factor: `probeSec` over the anchor `calSec`
    * scaled by `calCores / cores`. The probe spreads over every core, so
    * an idle host with a quarter of the anchor's cores takes four times
    * the anchor. 1.0 without an anchor; no scaling without `calCores`.
    */
  private[graft] def loadFactor(probeSec: Double, calSec: Double,
      calCores: Double, cores: Int): Double =
    if (calSec <= 0) 1.0
    else probeSec / (calSec * (if (calCores > 0) calCores / cores else 1.0))

  /** Fixed CPU-bound calibration probe: 2^31 modular folds across all
    * cores, data-independent and shuffle-free — its runtime moves only
    * with machine load.
    */
  private def probeSec(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(1L << 31).selectExpr("sum(id % 1000003)").collect()
    (System.nanoTime() - t0) / 1e9
  }

  private def sweep(spark: SparkSession): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Warm up the JVM/codegen paths once (scheduler, parquet reader,
    // whole-stage codegen compiler) so the first measured query isn't
    // charged the session's one-time costs.
    spark.range(1000).selectExpr("sum(id)").collect()
    SparkEntry.entry(spark).count()

    // ANCHOR BY SF (round 17): the committed anchors are per-rung files —
    // tools/bench_anchor.json holds the sf0.1 numbers (the driver's
    // per-round rung), tools/bench_anchor_sf10.json the sf10 sweep's —
    // picked by the sf tag in the data dir's basename, overridable via
    // SPARK_GRAFT_BENCH_ANCHOR. With the right anchor set per rung the
    // regression gate works at every measured SF and
    // SPARK_GRAFT_BENCH_NORERUN is only needed for a rung with no
    // committed anchors yet.
    val anchorPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_ANCHOR", {
      val tag = "sf[0-9.]+[0-9]|sf[0-9]+".r
        .findFirstIn(new java.io.File(sfDir).getName).getOrElse("")
      val tagged = s"tools/bench_anchor_$tag.json"
      if (tag.nonEmpty && new java.io.File(tagged).exists()) tagged
      else "tools/bench_anchor.json"
    })
    val anchor: Map[String, Double] = {
      val anchorFile = new java.io.File(anchorPath)
      if (!anchorFile.exists()) Map.empty
      else """"([a-z0-9_]+)":\s*([0-9.]+)""".r
        .findAllMatchIn(scala.io.Source.fromFile(anchorFile).mkString)
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
    }

    probeSec(spark) // warm the probe's codegen so timings measure load, not JIT
    def probeLoad(): Double = loadFactor(probeSec(spark),
      anchor.getOrElse("calibration_sec", 0.0),
      anchor.getOrElse("calibration_cores", 0.0),
      spark.sparkContext.defaultParallelism)
    val loadStart = probeLoad()

    val errors = scala.collection.mutable.ListBuffer.empty[String]
    // SPARK_GRAFT_BENCH_VERBOSE=1 → per-query progress on stderr (long
    // sweeps at big SFs are otherwise silent until the final JSON line)
    val verbose = sys.env.get("SPARK_GRAFT_BENCH_VERBOSE").contains("1")
    def time(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
        recordError: Boolean): Double = {
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count() }
      catch { case e: Throwable =>
        // ABORT, don't iterate, on a dead context (round 16's partial
        // sweep log grew 35 bogus sub-second "timings" after a harness
        // timeout stopped the SparkContext mid-query — every subsequent
        // query fails instantly and the log reads like data)
        if (spark.sparkContext.isStopped) {
          System.err.println(s"[bench] $name ABORT: SparkContext stopped " +
            "mid-sweep — no further queries will be timed; per-query " +
            "lines above this point are the complete partial result")
          sys.exit(2)
        }
        if (recordError) errors += name
        System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
      }
      val sec = (System.nanoTime() - t0) / 1e9
      if (verbose) System.err.println(f"[bench] $name%-28s $sec%8.2f s")
      sec
    }
    // SEGMENTED SWEEPS (round 17): SPARK_GRAFT_BENCH_SKIP / _ONLY take a
    // comma-separated list of exact query names to exclude / restrict to.
    // A multi-hour big-SF sweep can then resume after a kill without
    // re-paying already-measured rows (per-query lines live in the log),
    // or split the known-heavy rows into their own budgeted segment —
    // the merged per-query table is assembled from the segment logs.
    val skip = sys.env.get("SPARK_GRAFT_BENCH_SKIP")
      .map(_.split(",").map(_.trim).toSet).getOrElse(Set.empty[String])
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val firstPass = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) =>
        !skip.contains(name) && only.forall(_.contains(name)) }
      .map { case (name, fn) =>
        (name, fn, time(name, fn, recordError = true))
      }

    // Queries under 0.3 s anchor sit on the scheduler floor and jitter
    // freely — never flagged. Threshold 1.5x over the committed anchor.
    // SPARK_GRAFT_BENCH_NORERUN=1 disables the anchor comparison
    // entirely: the anchors are sf0.1 numbers, so a sweep at another SF
    // would flag (and pointlessly re-run) nearly every query — a
    // multi-hour sf10 sweep would double.
    val noRerun = sys.env.get("SPARK_GRAFT_BENCH_NORERUN").contains("1")
    def regressed(name: String, sec: Double): Boolean =
      !noRerun &&
        anchor.get(name).exists(base => base >= 0.3 && sec > base * 1.5)

    // End-of-sweep confirmation pass (see class doc): rerun each flagged
    // query now — minutes after its first measurement — keep the min, and
    // probe the load factor right before each rerun.
    val rerunLoad = scala.collection.mutable.Map.empty[String, Double]
    val results = firstPass.map { case (name, fn, sec) =>
      if (regressed(name, sec) && !errors.contains(name)) {
        rerunLoad(name) = probeLoad()
        name -> math.min(sec, time(name, fn, recordError = false))
      } else name -> sec
    }

    def r3(v: Double): String = f"$v%.3f"
    def r2(v: Double): String = f"$v%.2f"
    val errJson = errors.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    // Surviving flags self-adjudicate: each carries the load factor probed
    // at its rerun. Reported, not fatal: the driver must still get a line.
    val regressions: Seq[String] = if (noRerun) Nil
    else results.flatMap { case (name, sec) =>
      anchor.get(name).collect {
        case base if base >= 0.3 && sec > base * 1.5 =>
          val lf = rerunLoad.getOrElse(name, loadStart)
          f"$name: ${sec}%.2fs vs anchor ${base}%.2fs (${sec / base}%.1fx) [load ${lf}%.1fx]"
      }
    }
    regressions.foreach(r => System.err.println(s"[bench] REGRESSION $r"))
    // The driver keeps only the last ~2000 chars of stdout and parses the
    // JSON line out of that tail. Full per-query results always go to
    // BENCH_FULL.json; the stdout line carries as many queries as fit a
    // hard budget, slowest first (the slow ones are the ones a regression
    // check needs). build.sbt's StdoutOutput strategy keeps this line
    // prefix-free (the former "[info] " prefix is what broke the parse).
    val sortedByName = results.sortBy(_._1)
    val fullQs = sortedByName.map { case (k, v) => "\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    val regJson = regressions.map("\"" + _ + "\"").mkString("[", ",", "]")
    val fullJson =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$fullQs,"errors":$errJson,"regressions":$regJson,"load_factor":${r2(loadStart)},"n_queries":${results.size},"sf":"$sfDir"}"""
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("BENCH_FULL.json"),
      (fullJson + "\n").getBytes("UTF-8"))
    catch { case e: Throwable => System.err.println(s"[bench] BENCH_FULL.json write failed: ${e.getMessage}") }
    val lineBudget = 1600
    val fixed =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":{},"errors":$errJson,"n_regressions":${regressions.size},"load_factor":${r2(loadStart)},"n_queries":${results.size},"full":"BENCH_FULL.json","sf":"$sfDir"}""".length
    val slowestFirst = results.sortBy(-_._2)
    val picked = scala.collection.mutable.ListBuffer.empty[(String, Double)]
    var used = fixed
    for ((k, v) <- slowestFirst) {
      val cost = k.length + r3(v).length + 4 // quotes + colon + comma
      if (used + cost <= lineBudget) { picked += ((k, v)); used += cost }
    }
    val qs = picked.sortBy(_._1).map { case (k, v) => "\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$qs,"errors":$errJson,"n_regressions":${regressions.size},"load_factor":${r2(loadStart)},"n_queries":${results.size},"full":"BENCH_FULL.json","sf":"$sfDir"}""")
  }
}
