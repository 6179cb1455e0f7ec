package graft

import org.apache.spark.sql.functions._

import graft.functions._

/** Semantic invariants for the round-3 curation/mixing operators (a6, a7,
  * t12, d10, s6, q50) — each test asserts the property that MAKES the
  * operator correct, independently recomputed, not just non-emptiness.
  */
class CurationOpsSpec extends GraftSuite {

  test("a6 caps every source at DomainCap and fills the cap when possible") {
    val perSource = ops.Sampling.a6DomainCap(spark, sf)
      .groupBy(col("source")).agg(count(lit(1)).as("kept"))
    val sizes = Tables(spark, sf, "documents")
      .groupBy(col("source")).agg(count(lit(1)).as("n"))
    val joined = perSource.join(sizes, "source").collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      val (kept, n) = (r.getAs[Long]("kept"), r.getAs[Long]("n"))
      assert(kept == math.min(n, ops.Sampling.DomainCap.toLong),
        s"source ${r.getAs[String]("source")}: kept $kept of $n")
    }
  }

  test("a6 keeps the LONGEST docs per source (no shorter doc survives over a longer one)") {
    val kept = ops.Sampling.a6DomainCap(spark, sf)
      .select(col("source").as("ks"), col("doc_id").as("kid"), col("n_chars").as("klen"))
    val dropped = Tables(spark, sf, "documents")
      .select(col("doc_id"), col("source"), col("n_chars"))
      .join(kept.select(col("kid").as("doc_id")), Seq("doc_id"), "left_anti")
    // every dropped doc must sort AFTER every kept doc of its source under
    // (n_chars DESC, doc_id ASC)
    val violations = dropped.join(kept, col("source") === col("ks"))
      .filter(col("n_chars") > col("klen") ||
        (col("n_chars") === col("klen") && col("doc_id") < col("kid")))
      .count()
    assert(violations == 0)
  }

  test("a7 replication counts realize the per-source weight within 5% corpus-wide") {
    val out = ops.Sampling.a7WeightedUpsample(spark, sf)
    val perDoc = out.groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("copies"), max(col("n_copies")).as("declared"))
      .collect()
    perDoc.foreach { r =>
      assert(r.getAs[Long]("copies") == r.getAs[Int]("declared").toLong,
        s"doc ${r.getAs[Long]("doc_id")}: exploded ${r.getAs[Long]("copies")} vs declared ${r.getAs[Int]("declared")}")
    }
    // realized expansion per source ≈ weight 1 + 0.25·(K mod 8): the
    // fractional part comes from the deterministic hash bucket, so the
    // corpus-level realized rate must track the target closely
    val bySource = out.groupBy(col("source")).agg(count(lit(1)).as("rows"))
      .join(Tables(spark, sf, "documents").groupBy(col("source")).agg(count(lit(1)).as("docs")),
        "source")
      .collect()
    bySource.foreach { r =>
      val k = r.getAs[String]("source").drop(3).toInt
      val target = 1.0 + 0.25 * (k % 8)
      val realized = r.getAs[Long]("rows").toDouble / r.getAs[Long]("docs")
      assert(math.abs(realized - target) <= 0.30,
        s"source src$k: realized $realized vs target $target")
    }
    val total = bySource.map(_.getAs[Long]("rows")).sum.toDouble
    val docs = bySource.map(_.getAs[Long]("docs")).sum.toDouble
    val targetTotal = bySource.map { r =>
      val k = r.getAs[String]("source").drop(3).toInt
      (1.0 + 0.25 * (k % 8)) * r.getAs[Long]("docs")
    }.sum
    assert(math.abs(total / docs - targetTotal / docs) <= 0.05 * targetTotal / docs,
      s"corpus expansion ${total / docs} vs target ${targetTotal / docs}")
  }

  test("a8 draws exactly k per source, uniformly (not the first k by id)") {
    val out = ops.Sampling.a8GroupSample(spark, sf)
    val sizes = out.groupBy(col("source")).agg(count(lit(1)).as("k")).collect()
    assert(sizes.nonEmpty)
    sizes.foreach(r => assert(r.getAs[Long]("k") == ops.Sampling.SamplePerSource.toLong,
      s"${r.getAs[String]("source")} drew ${r.getAs[Long]("k")}"))
    // the scrambled-hash order must differ from plain doc_id order: if the
    // sample were just the k lowest ids per source, the hash adds nothing
    val firstK = {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      Tables(spark, sf, "documents")
        .select(col("doc_id"), col("source"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= ops.Sampling.SamplePerSource)
        .select(col("doc_id"))
    }
    assert(out.select(col("doc_id")).exceptAll(firstK).count() > 0,
      "hash-ordered sample degenerated to the first k ids")
  }

  test("t12 removes exactly the segments present in >= BoilerplateMinDocs distinct docs") {
    val segs = dedup.Dedup.segments(spark, sf).localCheckpoint()
    val docFreq = segs.select(col("doc_id"), col("seg")).distinct()
      .groupBy(col("seg")).agg(count(lit(1)).as("nd"))
    val boilerSegs = docFreq.filter(col("nd") >= text.TextOps.BoilerplateMinDocs)
      .select(col("seg")).collect().map(_.getString(0)).toSet
    assert(boilerSegs.nonEmpty, "test corpus must contain boilerplate segments")
    val t12 = text.TextOps.t12Boilerplate(spark, sf)
      .select(col("doc_id"), col("n_seg_total"), col("n_seg_kept"))
    // per-doc kept count must equal total minus that doc's boilerplate hits
    val expected = segs
      .withColumn("is_boiler", col("seg").isin(boilerSegs.toSeq: _*))
      .groupBy(col("doc_id"))
      .agg(max(col("n_seg_total")).as("tot"),
        sum(when(col("is_boiler"), 0).otherwise(1)).as("exp_kept"))
    val mismatches = t12.join(expected, "doc_id")
      .filter(col("n_seg_kept") =!= col("exp_kept") ||
        col("n_seg_total") =!= col("tot"))
      .count()
    assert(mismatches == 0)
  }

  test("d10 prefix-filter blocking is lossless vs all-pairs brute force") {
    val docs = Tables(spark, sf, "documents")
      .select(col("doc_id"), array_sort(shingleHashes(col("text"))).as("sh"))
      .localCheckpoint()
    val brute = docs.alias("a").join(docs.alias("b"),
        col("a.doc_id") =!= col("b.doc_id"))
      .withColumn("c",
        size(array_intersect(col("a.sh"), col("b.sh"))).cast("double") /
          size(col("a.sh")))
      .filter(col("c") >= dedup.Dedup.ContainmentTau)
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
    val blocked = dedup.Dedup.d10Containment(spark, sf)
      .select(col("i"), col("j"))
    assert(brute.exceptAll(blocked).count() == 0, "blocking lost a true pair")
    assert(blocked.exceptAll(brute).count() == 0, "blocking invented a pair")
    assert(blocked.count() > 0)
  }

  test("flagship survivors (pre-cap) equal the per-operator wiring on sf0.001 plus one planted near-duplicate") {
    // On the generated corpora (sf0.001, sf0.01, sf0.1) no doc is dropped
    // by the near-dup gate alone — another gate drops every d2 pair's j
    // side too — so the check plants one: a surviving doc shifted by one
    // leading word (no 16-token segment lines up with the original's)
    // plus a seventh as many words of another survivor, a d2 pair of the
    // original that stays below containment's 0.9. The first assertion
    // below checks that only the near-dup gate drops it.
    val base = Tables(spark, sf, "documents")
    // the two best-scoring survivors outside t9's benchmark set, so the
    // planted doc clears the quality gate too
    val survivors = ops.Curation.uncappedSurvivorIds(spark, sf)
      .filter(col("doc_id") % 97 =!= 0).join(base, "doc_id")
      .orderBy(text.TextOps.qualityScore(col("text")).desc, col("doc_id"))
      .limit(2).collect()
    val Array(x, y) = survivors.map(_.getAs[String]("text"))
    val xWords = x.split(" ")
    val planted = ("note" +: xWords) ++ y.split(" ").take(xWords.length / 7)
    val newId = base.agg(max(col("doc_id"))).head().getLong(0) + 1
    assert(newId % 97 != 0, "the planted doc must not join the benchmark set")
    val dir = java.nio.file.Files.createTempDirectory("graft-neardup").toString
    base.unionByName(base.filter(col("doc_id") === survivors(0).getAs[Long]("doc_id"))
        .withColumn("doc_id", lit(newId))
        .withColumn("text", lit(planted.mkString(" ")))
        .withColumn("n_chars", length(col("text")).cast("long")))
      .write.parquet(s"$dir/documents.parquet")

    // every gate rebuilt from its standalone operator, each with its own
    // documents scan and signature derivation — the wiring the shared
    // signature pass replaced
    val docs = Tables(spark, dir, "documents")
    val keep = docs
      .groupBy(md5(col("text").cast("binary")).as("h"))
      .agg(min(col("doc_id")).as("doc_id")).select(col("doc_id"))
    val dupJ = dedup.Dedup.d2MinHashLsh(spark, dir)
      .select(col("j").as("doc_id")).distinct()
    val contaminated = text.TextOps.t9Contamination(spark, dir)
      .filter(col("contaminated") === 1 && col("doc_id") % 97 =!= 0)
      .select(col("doc_id"))
    val boilerplate = dedup.Dedup.d9SegmentDedup(spark, dir)
      .filter(col("n_seg_kept") * 2 <= col("n_seg_total"))
      .select(col("doc_id"))
    val contained = dedup.Dedup.d10Containment(spark, dir)
      .filter(col("j") < col("i"))
      .select(col("i").as("doc_id")).distinct()
    def gated(nearDup: Boolean) = docs
      .join(keep, Seq("doc_id"), "left_semi")
      .transform(df =>
        if (nearDup) df.join(dupJ, Seq("doc_id"), "left_anti") else df)
      .join(contaminated, Seq("doc_id"), "left_anti")
      .join(boilerplate, Seq("doc_id"), "left_anti")
      .join(contained, Seq("doc_id"), "left_anti")
      .transform(ops.Curation.rowGates)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val perOperator = gated(nearDup = true)
    // the check has teeth only where the near-dup gate removes a doc
    // every other gate keeps
    assert(gated(nearDup = false) -- perOperator === Set(newId),
      "the planted doc must be dropped by the near-dup gate alone")
    val shared = ops.Curation.uncappedSurvivorIds(spark, dir)
      .collect().map(_.getLong(0))
    assert(shared.length === shared.distinct.length, "duplicate survivor ids")
    val (onlyShared, onlyPerOperator) =
      (shared.toSet -- perOperator, perOperator -- shared.toSet)
    assert(onlyShared.isEmpty && onlyPerOperator.isEmpty,
      s"shared-pass survivors diverge from the per-operator wiring: " +
        s"only-shared $onlyShared, only-per-operator $onlyPerOperator")
  }

  test("s6 returns only true neighbors and recalls most of the exact answer set") {
    val e = Tables(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("norm", sqrt(dot(col("v"), col("v"))))
    val q = e.filter(col("vec_id") < similarity.Similarity.NQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("norm").as("qnorm"))
    val exact = broadcast(q).join(e, col("vec_id") =!= col("q_id"))
      .withColumn("cos",
        round(dot(col("qv"), col("v")) / (col("qnorm") * col("norm")), 9))
      .filter(col("cos") >= similarity.Similarity.RangeTau)
      .select(col("q_id"), col("vec_id").as("neighbor_id"))
    val got = similarity.Similarity.s6RangeSearch(spark, sf)
      .select(col("q_id"), col("neighbor_id"))
    // soundness: every returned neighbor is a true >= tau neighbor
    assert(got.exceptAll(exact).count() == 0, "returned a below-threshold pair")
    // recall: the OR-amplified buckets must find most of the exact set
    val nExact = exact.count()
    val nGot = got.count()
    assert(nExact > 0)
    assert(nGot.toDouble / nExact >= 0.4,
      s"range-search recall ${nGot.toDouble / nExact} below floor (got $nGot of $nExact)")
  }

  test("q50 agrees with an independent window row_number compaction") {
    import org.apache.spark.sql.expressions.Window
    val events = Tables(spark, sf, "events")
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts").desc, col("event_id").desc)
    val viaWindow = events
      .withColumn("rn", row_number().over(w))
      .withColumn("n_updates",
        count(lit(1)).over(Window.partitionBy(col("user_id"), col("event_type"))))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type"),
        col("event_id").as("last_event_id"), col("value").as("last_value"),
        col("n_updates"))
    val viaAgg = ops.Relational.q50CdcCompact(spark, sf)
      .select(col("user_id"), col("event_type"), col("last_event_id"),
        col("last_value"), col("n_updates"))
    assert(viaAgg.exceptAll(viaWindow).count() == 0 &&
      viaWindow.exceptAll(viaAgg).count() == 0,
      "max_by aggregation disagrees with window compaction")
  }

  test("a6 plans the WindowGroupLimit partial top-k rewrite") {
    val plan = ops.Sampling.a6DomainCap(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"a6: expected WindowGroupLimit in plan:\n$plan")
  }

  test("q50 plans as pure partial aggregation: no Window, no extra shuffle") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.window.WindowExec
    val qe = ops.Relational.q50CdcCompact(spark, sf).queryExecution
    val plan = qe.executedPlan
    assert(plan.collect { case w: WindowExec => w }.isEmpty,
      "compaction must be an aggregation, not a window sort")
    // one exchange for the groupBy, one for the output orderBy — the
    // changelog itself is shuffled exactly once
    val exchanges = plan.collect { case e: ShuffleExchangeExec => e }
    assert(exchanges.size <= 2, s"expected <=2 exchanges:\n$plan")
    assert(plan.toString.contains("partial_max") ||
      plan.toString.contains("partial"),
      s"expected map-side partial aggregation:\n$plan")
  }
}
