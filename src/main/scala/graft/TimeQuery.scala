package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Dev harness for SparkEntry queries: time each named query under
  * Bench's exact session shape, several reps each — the tool for
  * adjudicating per-query bench flags without a full sweep, reviewing
  * plan shapes and attributing a slow query's seconds to its stages.
  * Usage: runMain graft.TimeQuery <name[,name...]> [sfDir] [reps] [explain|stages]
  *
  *  - no mode: one line per query, `<name>: t1, t2, … s (min t)`
  *    (tools/dualcontrol.sh parses it), then `<name> rows: n`;
  *  - `explain`: each formatted physical plan first (`reps` = 0 only
  *    prints the plans);
  *  - `stages`: one warm run (codegen, one-time index builds), then the
  *    timed reps under a stage listener, and per-stage aggregate task
  *    metrics — executor run/CPU time, shuffle read/write bytes, spill —
  *    summed over the reps, so a slow query's seconds can be attributed
  *    to a stage (and through its callsite, to an operator) without the
  *    Spark UI.
  *
  * Besides the SparkEntry names, `flagship` is the full
  * [[ops.Curation.curate]] pipeline at `sfDir`; its production
  * configuration is the same call with the three
  * `spark.graft.curation.*` switches set through `SPARK_GRAFT_CONF`.
  */
object TimeQuery {
  /** The names the harness resolves. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    SparkEntry.queries + ("flagship" -> ((s: SparkSession, d: String) =>
      ops.Curation.curate(s, d)))

  private[graft] final case class Args(names: Seq[String], sfDir: String,
      reps: Int, mode: Option[String])

  /** The command line, checked before any session starts: an unknown
    * query name, a non-numeric or negative rep count, an unknown mode
    * word or a surplus argument fails with a message naming it.
    */
  private[graft] def parse(args: Seq[String]): Args = {
    def fail(msg: String) = throw new IllegalArgumentException(msg)
    val usage = "usage: TimeQuery <name[,name...]> [sfDir] [reps] [explain|stages]"
    if (args.isEmpty) fail(usage)
    if (args.length > 4) fail(
      s"unexpected argument '${args.drop(4).mkString(" ")}'; $usage")
    val names = args(0).split(",").toSeq.filter(_.nonEmpty)
    if (names.isEmpty) fail(s"no query named in '${args(0)}'")
    val known = queries
    names.find(!known.contains(_)).foreach(n => fail(s"unknown query $n"))
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(2).map(r => r.toIntOption.filter(_ >= 0)
      .getOrElse(fail(s"reps must be a count >= 0, got '$r'"))).getOrElse(4)
    val mode = args.lift(3)
    mode.filterNot(Set("explain", "stages")).foreach(m =>
      fail(s"unknown mode '$m': expected explain or stages"))
    Args(names, sfDir, reps, mode)
  }

  def main(args: Array[String]): Unit = {
    val a = parse(args.toSeq)
    val qs = queries
    val spark = GraftSession.local()
    spark.range(1000).selectExpr("sum(id)").collect()
    // SPARK_GRAFT_PRELUDE=a,b,c runs those queries first in the SAME
    // session — reproduces sweep-context effects (accumulated session
    // state) that an isolated timing cannot
    sys.env.get("SPARK_GRAFT_PRELUDE").foreach(_.split(",").foreach { p =>
      qs(p)(spark, a.sfDir).count()
    })
    a.names.foreach { name =>
      val fn = qs(name)
      val df = () => fn(spark, a.sfDir)
      a.mode match {
        case Some("stages") => stages(spark, name, a.reps, df)
        case mode =>
          if (mode.contains("explain")) {
            println(s"===== $name =====")
            df().explain("formatted")
          }
          val (times, rows) = timed(a.reps, df)
          if (times.nonEmpty) {
            println(f"$name: ${fmt(times)} s (min ${times.min}%.3f)")
            println(s"$name rows: $rows")
          }
      }
    }
    spark.stop()
  }

  private def fmt(times: Seq[Double]): String =
    times.map(t => f"$t%.3f").mkString(", ")

  /** `reps` timed `.count()`s: the seconds of each, and the last count. */
  private def timed(reps: Int, df: () => DataFrame): (Seq[Double], Long) = {
    var rows = 0L
    val times = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      rows = df().count()
      (System.nanoTime() - t0) / 1e9
    }
    (times, rows)
  }

  private final case class StageRow(id: Int, name: String, tasks: Int,
      wallMs: Long, runMs: Long, cpuMs: Long, srMB: Double, swMB: Double,
      spillMB: Double)

  private def stages(spark: SparkSession, name: String, reps: Int,
      df: () => DataFrame): Unit = {
    df().count() // warm run: codegen + any one-time index builds
    val rows = scala.collection.mutable.ListBuffer.empty[StageRow]
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val m = si.taskMetrics
        val wall = (for {s <- si.submissionTime; c <- si.completionTime}
          yield c - s).getOrElse(0L)
        rows.synchronized { rows += StageRow(si.stageId,
          si.name.split(" at ").lift(1).getOrElse(si.name).take(48),
          si.numTasks, wall, m.executorRunTime, m.executorCpuTime / 1000000,
          m.shuffleReadMetrics.totalBytesRead / 1e6,
          m.shuffleWriteMetrics.bytesWritten / 1e6,
          (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6) }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val (times, rowsOut) = timed(reps, df)
    // drain the listener bus deterministically (a fixed sleep raced late
    // stage-completed events), then snapshot under the same lock the
    // listener appends with
    org.apache.spark.GraftListenerBridge
      .waitUntilListenerBusEmpty(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    val snap = rows.synchronized { rows.toList }
    println(f"$name: ${fmt(times)} s (of $reps reps; $rowsOut rows; stages below are the SUM over reps)")
    println(f"${"stage"}%-6s${"tasks"}%6s${"wall_ms"}%9s${"run_ms"}%9s${"cpu_ms"}%9s${"shR_MB"}%9s${"shW_MB"}%9s${"spill"}%7s  callsite")
    snap.sortBy(-_.wallMs).take(40).foreach { r =>
      println(f"${r.id}%-6d${r.tasks}%6d${r.wallMs}%9d${r.runMs}%9d${r.cpuMs}%9d${r.srMB}%9.1f${r.swMB}%9.1f${r.spillMB}%7.1f  ${r.name}")
    }
    println(f"total stage wall ${snap.map(_.wallMs).sum}ms, run ${snap.map(_.runMs).sum}ms, cpu ${snap.map(_.cpuMs).sum}ms over ${snap.size} stages")
  }
}
