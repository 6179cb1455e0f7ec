package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared SparkSession for all suites (one JVM, fork=true in sbt). */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder("local[4]", "graft-test", shufflePartitions = 4)
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf = "/root/testdata/sf0.001"
}

abstract class GraftSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
  val sf: String = SparkSpec.sf

  /** `body`'s result and the call sites of the Spark jobs it started,
    * counted by a listener on a private job group (jobs of anything else
    * running in the JVM never carry it).
    */
  protected def jobsOf[T](body: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    val group = s"jobcount-${java.util.UUID.randomUUID()}"
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (j.properties != null &&
            j.properties.getProperty("spark.jobGroup.id") == group)
          sites.add(j.stageInfos.lastOption.map(_.name).getOrElse("?"))
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "job-count spec")
    try {
      val out = body
      org.apache.spark.GraftListenerBridge.waitUntilListenerBusEmpty(sc)
      (out, sites.toArray.toSeq.map(_.toString))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
