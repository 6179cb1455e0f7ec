package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Dev tool (guide §1's empirical loop, headless edition): run ONE
  * SparkEntry query under Bench's session shape and print per-stage
  * aggregate task metrics — executor run/CPU time, shuffle read/write
  * bytes, spill — so a slow query's seconds can be attributed to a stage
  * (and through the stage's callsite line, to an operator) without the
  * Spark UI. Usage: runMain graft.StageProfile <name> [sfDir] [reps]
  */
object StageProfile {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(2).map(_.toInt).getOrElse(1)
    val spark = GraftSession.local()
    spark.range(1000).selectExpr("sum(id)").collect()
    val fn = SparkEntry.queries(name)
    fn(spark, sfDir).count() // warm run: codegen + any one-time index builds
    case class Row(id: Int, name: String, tasks: Int, wallMs: Long,
      runMs: Long, cpuMs: Long, srMB: Double, swMB: Double, spillMB: Double)
    val rows = scala.collection.mutable.ListBuffer.empty[Row]
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val m = si.taskMetrics
        val wall = (for {s <- si.submissionTime; c <- si.completionTime}
          yield c - s).getOrElse(0L)
        rows.synchronized { rows += Row(si.stageId,
          si.name.split(" at ").lift(1).getOrElse(si.name).take(48),
          si.numTasks, wall, m.executorRunTime, m.executorCpuTime / 1000000,
          m.shuffleReadMetrics.totalBytesRead / 1e6,
          m.shuffleWriteMetrics.bytesWritten / 1e6,
          (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6) }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    var rowsOut = 0L
    val times = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      rowsOut = fn(spark, sfDir).count()
      (System.nanoTime() - t0) / 1e9
    }
    // drain the listener bus deterministically (a fixed sleep raced late
    // stage-completed events), then snapshot under the same lock the
    // listener appends with
    org.apache.spark.GraftListenerBridge
      .waitUntilListenerBusEmpty(spark.sparkContext)
    val snap = rows.synchronized { rows.toList }
    println(f"$name: ${times.map(t => f"$t%.3f").mkString(", ")} s (of $reps reps; $rowsOut rows; stages below are the SUM over reps)")
    println(f"${"stage"}%-6s${"tasks"}%6s${"wall_ms"}%9s${"run_ms"}%9s${"cpu_ms"}%9s${"shR_MB"}%9s${"shW_MB"}%9s${"spill"}%7s  callsite")
    snap.sortBy(-_.wallMs).take(40).foreach { r =>
      println(f"${r.id}%-6d${r.tasks}%6d${r.wallMs}%9d${r.runMs}%9d${r.cpuMs}%9d${r.srMB}%9.1f${r.swMB}%9.1f${r.spillMB}%7.1f  ${r.name}")
    }
    val tw = snap.map(_.wallMs).sum
    println(f"total stage wall ${tw}ms, run ${snap.map(_.runMs).sum}ms, cpu ${snap.map(_.cpuMs).sum}ms over ${snap.size} stages")
    spark.stop()
  }
}
