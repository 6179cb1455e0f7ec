package graft

import org.apache.spark.sql.functions._

/** Dev tool: quantify the manifest-v2 planning asymmetry — per-file key
  * ranges for a COW merge's touched-file decision, priced three ways on
  * the SAME N-file table: (a) manifest-embedded stats (zero parquet
  * I/O), (b) the distributed footer job (the stat-less fallback), (c) a
  * serial driver loop (the round-8 shape the fallback replaced). The
  * numbers back SURVEY §5's round-9 claims.
  * Usage: runMain graft.ManifestBench [nFiles] [sfDir]
  */
object ManifestBench {
  def main(args: Array[String]): Unit = {
    val nFiles = args.headOption.map(_.toInt).getOrElse(256)
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession.local()
    spark.range(1000).selectExpr("sum(id)").collect()

    val root = java.nio.file.Files.createTempDirectory("graft-mb").toString + "/t"
    ops.Layout.snapshotAppend(spark, root,
      Tables(spark, sfDir, "orders")
        .select(col("o_orderkey").as("key"), col("o_totalprice").as("price"))
        .repartitionByRange(nFiles, col("key"))
        .sortWithinPartitions(col("key")),
      statsKey = Some("key"))
    val files = ops.Layout.readSnapshot(spark, root).inputFiles.toSeq
    println(s"table: ${files.size} files")

    def timed(tag: String)(body: => Int): Unit = {
      val t0 = System.nanoTime()
      val n = body
      println(f"$tag: ${(System.nanoTime() - t0) / 1e6}%.1f ms ($n ranges)")
    }
    // (a) manifest stats: the ranges come out of the manifest, zero
    // parquet I/O (snapshotKeyRanges — what merge/MOR pruning consumes)
    timed("pruning ranges via manifest stats (snapshotKeyRanges)") {
      ops.Layout.snapshotKeyRanges(spark, root, 1, "key").size
    }
    // (b) the distributed footer job over the same files
    timed("footer fallback, distributed job") {
      ops.Layout.fileStatsOf(spark, files, "key").size
    }
    // (c) the serial driver loop (chunks of 32 stay on the driver path)
    timed("footer fallback, serial driver loop") {
      files.grouped(32).flatMap(g =>
        ops.Layout.fileStatsOf(spark, g, "key")).size
    }
    spark.stop()
  }
}
