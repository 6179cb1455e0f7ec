package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ops.Layout

/** The untyped delta is the insert side of the op-typed change feed:
  * for every transition of a history that crosses every lineage the
  * table layer writes, `changeInserts(snapshotChanges(from, to))` equals
  * `readSnapshot(to) exceptAll readSnapshot(from)` as a multiset, and the
  * walked union equals the union of those per-transition diffs.
  */
class ChangeFeedSpec extends GraftSuite {

  private val schema = StructType(Seq(StructField("k", LongType),
    StructField("g", StringType), StructField("v", DoubleType)))

  private def frame(ks: Seq[Long]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      ks.map(k => Row(k, s"g${k % 5}", (k % 7).toDouble)), 1), schema)

  /** The reference delta, written out here rather than taken from the
    * engine: the two-scan multiset difference of the two versions. */
  private def reference(root: String, from: Int, to: Int): DataFrame =
    if (from == 0) Layout.readSnapshot(spark, root, to)
    else Layout.readSnapshot(spark, root, to)
      .exceptAll(Layout.readSnapshot(spark, root, from))

  private def sameMultiset(a: DataFrame, b: DataFrame): Boolean =
    a.columns.toSeq == b.columns.toSeq &&
      a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  test("the insert side of snapshotChanges equals the two-scan diff on every lineage; the walked union equals their union") {
    val root = java.nio.file.Files.createTempDirectory("graft-feed").toString + "/t"
    val lineage = scala.collection.mutable.ArrayBuffer.empty[(Int, String)]
    def step(kind: String)(commit: => Int): Unit = lineage += commit -> kind
    step("append")(Layout.snapshotAppend(spark, root,
      frame(0L until 120L).repartitionByRange(3, col("k"))
        .sortWithinPartitions(col("k")), statsKey = Some("k")))
    step("append")(Layout.snapshotAppend(spark, root, frame(120L until 150L),
      statsKey = Some("k")))
    step("equality delete")(
      Layout.snapshotDeleteMOR(spark, root, "k", Array(3L, 64L, 130L)))
    step("position delete")(
      Layout.snapshotDeletePositions(spark, root, col("v") === 2.0))
    step("compaction")(Layout.snapshotCompact(spark, root, 1L << 22))
    val upd = spark.createDataFrame(spark.sparkContext.parallelize(
      Seq(Row(10L, 99.0), Row(11L, 98.0), Row(500L, 1.0)), 1),
      StructType(Seq(StructField("c_k", LongType), StructField("c_v", DoubleType))))
    step("cdcKey merge")(Layout.snapshotMergeKeys(spark, root, "k",
      upd.select(col("c_k")), touched =>
        touched.join(upd, col("k") === col("c_k"), "full_outer").select(
          coalesce(col("k"), col("c_k")).as("k"),
          coalesce(col("g"), lit("new")).as("g"),
          coalesce(col("c_v"), col("v")).as("v"))))
    step("overwrite")(Layout.snapshotOverwrite(spark, root,
      Layout.readSnapshot(spark, root).where(col("k") % 4 =!= 1)
        .unionByName(frame(600L until 610L))))
    step("rename")(Layout.snapshotRenameColumn(spark, root, "v", "amount"))
    step("append after rename")(Layout.snapshotAppend(spark, root,
      frame(700L until 720L).withColumnRenamed("v", "amount")))
    val versions = lineage.map(_._1).toSeq
    assert(versions == (1 to versions.size), s"one version per step: $lineage")

    val prevs = 0 +: versions.init
    prevs.zip(lineage).foreach { case (from, (to, kind)) =>
      val ins = Layout.changeInserts(Layout.snapshotChanges(spark, root, from, to))
      assert(sameMultiset(ins, reference(root, from, to)),
        s"$kind ($from → $to): insert side ≠ readSnapshot($to) exceptAll readSnapshot($from)")
      if (kind.endsWith("delete"))
        assert(ins.inputFiles.isEmpty,
          s"$kind ($from → $to): a MOR-only insert side reads ${ins.inputFiles.toSeq}")
    }
    // the fixture's compaction keeps the content; its merge changes rows
    assert(reference(root, 4, 5).isEmpty && !reference(root, 5, 6).isEmpty)

    val unionOfReferences = prevs.zip(versions)
      .map { case (from, to) => reference(root, from, to) }
      .reduce(_.unionByName(_, allowMissingColumns = true))
    assert(sameMultiset(
      Layout.changeInserts(Layout.snapshotChangesUnion(spark, root, 0, versions.last)),
      unionOfReferences), "walked union ≠ the union of per-transition diffs")
    // a span starting mid-history walks from its own first transition
    val tail = prevs.zip(versions).drop(4)
      .map { case (from, to) => reference(root, from, to) }
      .reduce(_.unionByName(_, allowMissingColumns = true))
    assert(sameMultiset(
      Layout.changeInserts(Layout.snapshotChangesUnion(spark, root, 4, versions.last)),
      tail))
  }
}
