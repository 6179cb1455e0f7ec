package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Layout
import graft.similarity.Similarity

/** Every maintained view runs through one maintainer skeleton that
  * records the base heads it reflects in the view head's `mvBase`
  * header: an up-to-date call starts no Spark job, a one-append advance
  * folds the change feed instead of recomputing (counted by
  * `Layout.viewRecomputes`), a MOR delete recomputes the append-only
  * views, and a view head without the header (written before it
  * existed) maintains exactly through its row-stamp columns and then
  * writes the header.
  */
class ViewMaintainerSpec extends GraftSuite {

  /** One maintained view over its own fresh bases. */
  private final class Maintained(val name: String, val base: String,
      val view: String, val maintain: () => Unit, val want: () => DataFrame,
      val got: () => DataFrame, val append: () => Unit, val delete: () => Unit)

  private def dir(tag: String) =
    java.nio.file.Files.createTempDirectory(s"graft-vm-$tag").toString

  private def sumView(cdc: Boolean): Maintained = {
    val d = dir(if (cdc) "sumcdc" else "sum")
    val (base, view) = (s"$d/base", s"$d/view")
    val orders = Tables(spark, sf, "orders").select(col("o_orderkey").as("key"),
      col("o_orderstatus").as("status"), col("o_totalprice").as("price"))
    Layout.snapshotAppend(spark, base, orders.filter(col("key") % 3 === 0))
    // merged double sums drift from a recompute in the last bits: round
    new Maintained(if (cdc) "maintainSumViewCdc" else "maintainSumView", base, view,
      () => if (cdc) Layout.maintainSumViewCdc(spark, base, view, "status", "price")
        else Layout.maintainSumView(spark, base, view, "status", "price"),
      () => Layout.readSnapshot(spark, base).groupBy(col("status"))
        .agg(round(sum(col("price")), 4).as("sum_v"), count(lit(1)).as("n")),
      () => Layout.readSnapshot(spark, view)
        .select(col("status"), round(col("sum_v"), 4).as("sum_v"), col("n")),
      () => Layout.snapshotAppend(spark, base, orders.filter(col("key") % 3 === 1)),
      () => Layout.snapshotDeleteMOR(spark, base, "key",
        Layout.readSnapshot(spark, base).filter(col("key") % 50 === 1)
          .select(col("key")).collect().map(_.getLong(0))))
  }

  private def joinView(): Maintained = {
    val d = dir("join")
    val (l, r, view) = (s"$d/L", s"$d/R", s"$d/V")
    val orders = Tables(spark, sf, "orders")
      .select(col("o_custkey").as("custkey"), col("o_orderkey").as("okey"))
    val cust = Tables(spark, sf, "customer")
      .select(col("c_custkey").as("custkey"), col("c_acctbal").as("acctbal"))
    Layout.snapshotAppend(spark, l, orders.filter(col("okey") % 4 === 0))
    Layout.snapshotAppend(spark, r, cust.filter(col("custkey") % 3 =!= 0))
    new Maintained("maintainJoinView", l, view,
      () => Layout.maintainJoinView(spark, l, r, view, "custkey"),
      () => Layout.readSnapshot(spark, l)
        .join(Layout.readSnapshot(spark, r), Seq("custkey")),
      () => Layout.readSnapshot(spark, view)
        .select(col("custkey"), col("okey"), col("acctbal")),
      () => Layout.snapshotAppend(spark, l, orders.filter(col("okey") % 4 === 1)),
      () => Layout.snapshotDeleteMOR(spark, r, "custkey",
        cust.filter(col("custkey") % 10 === 1).select(col("custkey"))
          .collect().map(_.getLong(0))))
  }

  private def dedupRegistry(): Maintained = {
    val d = dir("dedup")
    val (base, view) = (s"$d/base", s"$d/registry")
    val docs = Tables(spark, sf, "documents").select(col("doc_id"), col("text"))
    Layout.snapshotAppend(spark, base, docs)
    new Maintained("maintainDedupRegistry", base, view,
      () => dedup.Dedup.maintainDedupRegistry(spark, base, view),
      () => Layout.readSnapshot(spark, base)
        .groupBy(md5(col("text").cast("binary")).as("text_hash"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies")),
      () => Layout.readSnapshot(spark, view)
        .select(col("text_hash"), col("keep_id"), col("n_copies")),
      () => Layout.snapshotAppend(spark, base, docs.filter(col("doc_id") % 2 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))),
      () => Layout.snapshotDeleteMOR(spark, base, "doc_id",
        docs.filter(col("doc_id") % 7 === 3).select(col("doc_id"))
          .collect().map(_.getLong(0))))
  }

  private def annIndex(): Maintained = {
    val d = dir("ann")
    val (base, index) = (s"$d/base", s"$d/index")
    val e = Tables(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    Layout.snapshotAppend(spark, base,
      e.filter(col("vec_id") < Similarity.NLists || col("vec_id") % 3 === 0))
    new Maintained("maintainAnnIndex", base, index,
      () => Similarity.maintainAnnIndex(spark, base, index),
      () => Similarity.residualEncode(Layout.readSnapshot(spark, base),
        Similarity.stubCentroids(Layout.readSnapshot(spark, base, 1))),
      () => Layout.readSnapshot(spark, index).drop("base_version"),
      () => Layout.snapshotAppend(spark, base,
        e.filter(col("vec_id") >= Similarity.NLists && col("vec_id") % 3 === 1)),
      () => Layout.snapshotDeleteMOR(spark, base, "vec_id",
        e.filter(col("vec_id") % 11 === 7 && col("vec_id") >= Similarity.NLists)
          .select(col("vec_id")).collect().map(_.getLong(0))))
  }

  private def exact(m: Maintained, tag: String): Unit = {
    val (want, got) = (m.want(), m.got())
    assert(got.exceptAll(want).count() === 0 && want.exceptAll(got).count() === 0,
      s"${m.name} $tag: the view diverged from its full recompute")
  }

  private def versions(root: String) = Layout.snapshotVersions(spark, root)

  private def manifestPath(root: String, v: Int) =
    new org.apache.hadoop.fs.Path(s"$root/_manifests/v$v.manifest")

  /** Drops the head manifest's `mvBase` line — how a view committed
    * before the header existed looks. */
  private def stripHeader(root: String): Unit = {
    val p = manifestPath(root, versions(root).last)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    val lines = try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    assert(lines.exists(_.startsWith("#mvBase=")), s"$root head carries no mvBase")
    val out = fs.create(p, true)
    try out.write((lines.filterNot(_.startsWith("#mvBase=")).mkString("\n") + "\n")
      .getBytes("UTF-8"))
    finally out.close()
  }

  test("an up-to-date call of every maintainer starts no job; an append folds and a MOR delete recomputes") {
    val cases = Seq(sumView(cdc = false), sumView(cdc = true), joinView(),
      dedupRegistry(), annIndex())
    cases.foreach { m =>
      m.maintain()
      exact(m, "initial build")
      val (_, idle) = jobsOf(m.maintain())
      assert(idle.isEmpty, s"${m.name}: an up-to-date call started jobs: $idle")

      m.append()
      val before = Layout.viewRecomputes.get()
      val prev = versions(m.view).last
      m.maintain()
      assert(Layout.viewRecomputes.get() === before,
        s"${m.name}: a one-append advance must fold, not recompute")
      exact(m, "after an append")
      if (m.name == "maintainJoinView" || m.name == "maintainAnnIndex")
        assert(Layout.readSnapshot(spark, m.view, prev).inputFiles.toSet
          .subsetOf(Layout.readSnapshot(spark, m.view).inputFiles.toSet),
          s"${m.name}: an append advance must append to the view")
      val (_, idleAgain) = jobsOf(m.maintain())
      assert(idleAgain.isEmpty, s"${m.name}: an up-to-date call started jobs: $idleAgain")

      m.delete()
      m.maintain()
      val recomputes = if (m.name == "maintainSumViewCdc") 0 else 1
      assert(Layout.viewRecomputes.get() === before + recomputes,
        s"${m.name}: a MOR delete must ${if (recomputes == 0) "merge" else "recompute once"}")
      exact(m, "after a MOR delete")
    }
    val ann = cases.last
    val (processed, jobs) = jobsOf(Layout.viewProcessedVersion(spark, ann.view))
    assert(jobs.isEmpty, s"the s19 index's processed version started jobs: $jobs")
    assert(processed === versions(ann.base).last)
  }

  test("view heads without mvBase maintain exactly through the row stamps, then write the header") {
    Seq(sumView(cdc = false), joinView(), annIndex()).foreach { m =>
      m.maintain()
      m.append()
      m.maintain()
      stripHeader(m.view)
      // the stamps say the view is current: nothing is published
      val head = versions(m.view)
      val (_, legacy) = jobsOf(m.maintain())
      assert(legacy.nonEmpty, s"${m.name}: a header-less head reads its row stamps")
      assert(versions(m.view) === head, s"${m.name}: a current view publishes nothing")
      m.append()
      val before = Layout.viewRecomputes.get()
      m.maintain()
      assert(Layout.viewRecomputes.get() === before,
        s"${m.name}: the stamps let an append advance fold")
      exact(m, "after a header-less advance")
      val (_, idle) = jobsOf(m.maintain())
      assert(idle.isEmpty, s"${m.name}: the advance must write mvBase: $idle")
    }
  }
}
