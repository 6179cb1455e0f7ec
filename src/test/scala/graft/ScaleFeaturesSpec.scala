package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

/** Engine-level scale features the 100 TB story rests on, demonstrated
  * against this library's own tables rather than asserted in prose:
  * AQE runtime re-planning (shuffle join → broadcast once the true size is
  * known), runtime bloom-filter semi-join pushdown (the selective join's
  * filter reaches the fact scan), and partition pruning (a partitioned
  * layout turns a time filter into "don't even list those directories").
  */
class ScaleFeaturesSpec extends GraftSuite {

  private def withConf[A](pairs: (String, String)*)(f: => A): A = {
    val saved = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def freshRoot(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-$tag").toString + "/t"

  /** A snapshot table holding `df` (hash-spread over `files` files). */
  private def snapshotOf(tag: String, df: org.apache.spark.sql.DataFrame,
      files: Int = 4): String = {
    val root = freshRoot(tag)
    ops.Layout.snapshotAppend(spark, root, df.repartition(files))
    root
  }

  private def fsPath(f: String) = new org.apache.hadoop.fs.Path(f).toUri.getPath

  /** Local paths of the data files a version references. */
  private def filesOf(root: String, version: Int): Set[String] =
    ops.Layout.readSnapshot(spark, root, version).inputFiles.map(fsPath).toSet

  private def headFiles(root: String): Set[String] =
    filesOf(root, ops.Layout.snapshotVersions(spark, root).last)

  private def tableBytes(root: String): Long =
    headFiles(root).toSeq.map(f => new java.io.File(f).length).sum

  /** Every parquet file under the table's data directory, with its
    * (mtime, length) signature.
    */
  private def dataListing(root: String): Map[String, (Long, Long)] = {
    def walk(d: java.io.File): Seq[java.io.File] =
      if (d.isDirectory) d.listFiles().toSeq.flatMap(walk) else Seq(d)
    walk(new java.io.File(s"$root/data"))
      .filter(_.getName.endsWith(".parquet"))
      .map(f => f.getPath -> (f.lastModified(), f.length())).toMap
  }

  /** Rows the table scan surfaced after row-group skipping. */
  private def rowsScanned(df: org.apache.spark.sql.DataFrame): Long = {
    df.collect() // executes THIS QueryExecution so the metrics populate
    df.queryExecution.executedPlan.collectFirst {
      case a: AdaptiveSparkPlanExec =>
        a.executedPlan.collectFirst { case s: FileSourceScanExec => s }.get
      case s: FileSourceScanExec => s
    }.getOrElse(fail("no file scan in plan")).metrics("numOutputRows").value
  }

  test("AQE re-plans the shuffle join to broadcast once the filtered side's true size is known") {
    // static broadcast off entirely — the optimizer must plan a shuffle
    // join; the adaptive threshold is generous, so after the map stage
    // measures the filtered orders side (a few rows), AQE converts the
    // running query to a broadcast join. This is the 100 TB safety net for
    // every filter whose selectivity the planner cannot know.
    withConf(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "10485760") {
      val li = Tables(spark, sf, "lineitem").select(col("l_orderkey"), col("l_quantity"))
      val o = Tables(spark, sf, "orders")
        .filter(col("o_totalprice") > 400000).select(col("o_orderkey"))
      val j = li.join(o, col("l_orderkey") === col("o_orderkey"))
      val static = j.queryExecution.executedPlan
      assert(static.isInstanceOf[AdaptiveSparkPlanExec])
      assert(!static.toString.contains("BroadcastHashJoin"),
        s"static plan must start as a shuffle join:\n$static")
      // collect() executes THIS dataset's QueryExecution, materializing the
      // adaptive final plan (count() would build a fresh one)
      assert(j.collect().nonEmpty)
      val fin = j.queryExecution.executedPlan.toString // isFinalPlan after execution
      assert(fin.contains("BroadcastHashJoin"),
        s"AQE did not convert the join to broadcast:\n$fin")
    }
  }

  test("runtime bloom filter injects the selective join's filter into the fact scan side") {
    // the q48/q51 class of join at 100 TB: a selective dim filter should
    // not force the full fact shuffle — Spark's InjectRuntimeFilter plants
    // a bloom_filter_agg on the filtered side and a might_contain
    // pre-filter on the fact side, cutting the shuffle to near the match
    // set. Thresholds lowered because the test tables are toy-sized.
    withConf(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val li = Tables(spark, sf, "lineitem").select(col("l_orderkey"), col("l_quantity"))
      val o = Tables(spark, sf, "orders")
        .filter(col("o_orderpriority") === "1-URGENT").select(col("o_orderkey"))
      val j = li.join(o, col("l_orderkey") === col("o_orderkey"))
      val opt = j.queryExecution.optimizedPlan.toString
      assert(opt.contains("might_contain") || opt.contains("bloom_filter"),
        s"expected an injected runtime bloom filter:\n$opt")
      // semantics unchanged by the injected filter
      val expected = Tables(spark, sf, "lineitem")
        .join(Tables(spark, sf, "orders")
          .filter(col("o_orderpriority") === "1-URGENT"),
          col("l_orderkey") === col("o_orderkey")).count()
      assert(j.count() === expected)
    }
  }

  test("a partitioned layout prunes the scan to the filtered partition directories") {
    val dir = java.nio.file.Files.createTempDirectory("graft-partitioned").toString
    Tables(spark, sf, "events")
      .withColumn("day", to_date(col("ts")))
      .write.mode("overwrite").partitionBy("day").parquet(dir)
    val all = spark.read.parquet(dir)
    val nDays = all.select(col("day")).distinct().count()
    assert(nDays > 3, "need several partitions for the pruning to mean anything")
    val oneDay = all.select(col("day")).distinct().orderBy(col("day")).head().getDate(0)
    def scanOf(df: org.apache.spark.sql.DataFrame): FileSourceScanExec =
      df.queryExecution.executedPlan.collectFirst {
        case a: AdaptiveSparkPlanExec =>
          a.executedPlan.collectFirst { case s: FileSourceScanExec => s }.get
        case s: FileSourceScanExec => s
      }.getOrElse(fail("no file scan in plan"))
    val pruned = all.filter(col("day") === lit(oneDay))
    // collect() executes THIS dataset's QueryExecution — count() would
    // build a fresh one and leave these scan metrics at zero
    assert(pruned.collect().nonEmpty)
    // the scan's partition filters carry the day predicate, and the file
    // count it reports is the one directory, not the whole layout
    val scan = scanOf(pruned)
    assert(scan.metadata("PartitionFilters").contains("day"),
      s"day filter must prune partitions: ${scan.metadata("PartitionFilters")}")
    val prunedFiles = scan.metrics("numFiles").value
    val allScan = {
      val df = all.filter(col("event_id") >= 0)
      df.collect()
      scanOf(df)
    }
    assert(prunedFiles < allScan.metrics("numFiles").value,
      s"pruned scan reads $prunedFiles files, full scan " +
        s"${allScan.metrics("numFiles").value} — pruning had no effect")
  }

  test("z-order layout skips row groups on the SECOND dimension; a single-column sort cannot") {
    // the OPTIMIZE ZORDER payoff, measured: compact orders (a) clustered
    // by custkey only and (b) z-ordered on (custkey, order day), both into
    // ~15 files of ~100 rows; a DATE predicate then reads far fewer rows
    // out of layout (b)'s scan, because every small file covers a narrow
    // day range too — in (a) the date spreads across every file and
    // parquet footer stats skip nothing
    val orders = Tables(spark, sf, "orders")
      .withColumn("days",
        datediff(col("o_orderdate"), lit("1995-01-01")).cast("long"))
    val total = orders.count()
    val rootA = snapshotOf("custsort", orders)
    ops.Layout.snapshotCompact(spark, rootA, tableBytes(rootA) / 15,
      clusterBy = Seq(col("o_custkey")))
    val rootB = snapshotOf("zorder", orders)
    ops.Layout.snapshotCompact(spark, rootB, tableBytes(rootB) / 15,
      zOrderBy = Seq(col("o_custkey"), col("days")), zBits = 16)
    def head(root: String) = ops.Layout.readSnapshot(spark, root)

    // a ~4%-of-range day window; both layouts answer identically…
    val datePred = col("days").between(400, 499)
    val a = rowsScanned(head(rootA).filter(datePred))
    val b = rowsScanned(head(rootB).filter(datePred))
    assert(head(rootA).filter(datePred).count() ===
      head(rootB).filter(datePred).count())
    // …but the custkey-clustered layout surfaces (nearly) every row to the
    // post-scan filter, while z-order's footer stats drop most row groups
    assert(a > total / 2,
      s"expected the single-column sort to scan most of $total rows, got $a")
    assert(b * 2 < a,
      s"z-order skipped too little: scanned $b rows vs $a under a date predicate")
    // and the z-ordered layout still prunes on its FIRST dimension — less
    // sharply than a dedicated custkey sort would (z-order TRADES
    // single-column selectivity for skipping on every clustered column; at
    // this file granularity a 1/15th custkey window measured ~57% scanned)
    val bCust = rowsScanned(head(rootB).filter(col("o_custkey").between(100, 199)))
    assert(bCust < (total * 7) / 10,
      s"z-order lost first-dimension pruning: $bCust of $total rows scanned")
  }

  test("quantile z-order binning keeps pruning under an outlier-stretched domain where linear collapses") {
    // Zipf/outlier reality: one extreme value stretches the linear min-max
    // range so every other row lands in bin 0 — the skewed dimension then
    // prunes nothing (and the old 2^bits multiply would overflow Long; the
    // double guard keeps it well-defined). Quantile bins are populated
    // equally by construction, so the same predicate keeps skipping files.
    val base = Tables(spark, sf, "orders")
      .withColumn("days",
        datediff(col("o_orderdate"), lit("1995-01-01")).cast("long"))
    val minKey = base.agg(min(col("o_orderkey"))).head().getLong(0)
    val orders = base.withColumn("skewed",
      when(col("o_orderkey") === minKey, lit(1L << 61))
        .otherwise(col("o_orderkey") % 1000))
    val total = orders.count()

    // ~60 files of ~25 rows each, z-ordered on (skewed, days)
    def written(quantile: Boolean): org.apache.spark.sql.DataFrame = {
      val root = snapshotOf(s"zq-$quantile", orders)
      ops.Layout.snapshotCompact(spark, root, tableBytes(root) / 60,
        zOrderBy = Seq(col("skewed"), col("days")), zBits = 8,
        zQuantile = quantile)
      ops.Layout.readSnapshot(spark, root)
    }
    val linear = written(quantile = false)
    val quant = written(quantile = true)
    val pred = col("skewed").between(100, 199)
    assert(linear.filter(pred).count() === quant.filter(pred).count(),
      "layouts disagree")
    val lin = rowsScanned(linear.filter(pred))
    val qua = rowsScanned(quant.filter(pred))
    assert(lin > total / 2,
      s"expected the outlier to defeat linear binning (scan most of $total), got $lin")
    assert(qua * 2 < lin,
      s"quantile binning should prune >2x vs degenerate linear: $qua vs $lin")
  }

  test("compaction bin-packs small files shuffle-free and the clustered mode restores pruning ranges") {
    // a streaming-sink-shaped mess: events scattered across 60 tiny files
    val events = Tables(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("value"))
    val root = snapshotOf("smallfiles", events, files = 60)
    assert(headFiles(root).size === 60)
    val target = tableBytes(root) / 6 // aim for ~6 output files

    // plain mode: zero-shuffle bin-packing by the scan's split sizing
    val v = ops.Layout.snapshotCompact(spark, root, target)
    val filesAfter = filesOf(root, v).size
    assert(filesAfter <= 8 && filesAfter >= 5,
      s"expected ~6 output files, got $filesAfter")
    val out = ops.Layout.readSnapshot(spark, root, v)
    assert(out.count() === events.count())
    assert(out.exceptAll(events).count() === 0 &&
      events.exceptAll(out).count() === 0, "compaction changed the data")

    // clustered mode: per-file event_id ranges must not overlap, so a
    // point/range predicate prunes to one file's worth of rows again
    val rootClu = snapshotOf("clustered", events, files = 60)
    val vClu = ops.Layout.snapshotCompact(spark, rootClu, target,
      clusterBy = Seq(col("event_id")))
    val ranges = filesOf(rootClu, vClu).toSeq.map { f =>
        val r = spark.read.parquet(f)
          .agg(min(col("event_id")), max(col("event_id"))).head()
        (r.getLong(0), r.getLong(1))
      }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) =>
        assert(hi < lo2, s"clustered-compaction file ranges overlap: $hi >= $lo2")
      case _ =>
    }
    assert(ops.Layout.readSnapshot(spark, rootClu, vClu).exceptAll(events)
      .count() === 0)
  }

  /** A key-clustered snapshot base WITHOUT a stats column: 8 files with
    * non-overlapping key ranges that a merge prunes on from parquet
    * footers.
    */
  private def footerClusteredBase(tag: String,
      df: org.apache.spark.sql.DataFrame): String = {
    val root = freshRoot(tag)
    ops.Layout.snapshotAppend(spark, root,
      df.repartitionByRange(8, col("key")).sortWithinPartitions(col("key")))
    assert(headFiles(root).size === 8)
    root
  }

  test("copy-on-write merge rewrites ONLY footer-overlapping files; result equals the all-shuffle merge") {
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(18,2)")
    val orders = Tables(spark, sf, "orders")
    val base = orders.select(col("o_orderkey").as("key"),
      dec(col("o_totalprice")).cast("double").as("totalprice"),
      col("o_orderstatus").as("status"), lit("unchanged").as("change_type"))
    val root = footerClusteredBase("cow-base", base)
    val before = dataListing(root)
    val v1Files = filesOf(root, 1)

    // range-localized changelog: updates hit only the bottom fifth of the
    // keyspace; inserts land past every file's range
    val cutoff = orders.agg(max(col("o_orderkey"))).head().getLong(0) / 5
    val updates = orders
      .filter(col("o_orderkey") % 7 === 0 && col("o_orderkey") <= cutoff)
      .select(col("o_orderkey").as("c_key"),
        (dec(col("o_totalprice")) * lit(1.1).cast("decimal(18,2)")).as("c_price"),
        lit("U").as("c_status"))
    val inserts = orders.filter(col("o_orderkey") % 1000 === 3)
      .select((col("o_orderkey") + 10000000L).as("c_key"),
        dec(col("o_totalprice")).as("c_price"), lit("N").as("c_status"))
    val changes = updates.unionAll(inserts)

    def mergeSelect(df: org.apache.spark.sql.DataFrame) = df
      .join(changes, col("key") === col("c_key"), "full_outer")
      .select(
        coalesce(col("key"), col("c_key")).as("key"),
        coalesce(col("c_price").cast("double"), col("totalprice")).as("totalprice"),
        coalesce(col("c_status"), col("status")).as("status"),
        when(col("key").isNull, "insert")
          .when(col("c_key").isNull, "unchanged").otherwise("update")
          .as("change_type"))
    val v = ops.Layout.snapshotMergeKeys(spark, root, "key",
      changes.select(col("c_key")), mergeSelect)

    // footer pruning actually pruned: most files escaped the rewrite
    // (updates cover ~1/5 of a range-clustered keyspace), and the split
    // accounts for every file exactly once
    val untouched = v1Files.intersect(filesOf(root, v))
    val touched = v1Files -- untouched
    assert(touched.nonEmpty && untouched.nonEmpty)
    assert(touched.size + untouched.size === v1Files.size)
    assert(untouched.size >= v1Files.size / 2,
      s"expected most files untouched, got ${untouched.size}/${v1Files.size}")
    // the COW contract: no base file is rewritten — every v1 file keeps its
    // path, mtime and byte length, and the untouched ones are what the new
    // version reads
    val after = dataListing(root)
    before.foreach { case (p, sig) =>
      assert(after.get(p).contains(sig), s"base file was modified: $p") }

    // semantics: untouched ∪ rewritten ≡ the all-shuffle merge of the WHOLE
    // base (q68's plan) — file pruning changed I/O, never the answer
    val cow = ops.Layout.readSnapshot(spark, root, v)
    val full = mergeSelect(base)
    assert(cow.count() === full.count())
    assert(cow.exceptAll(full).count() === 0 && full.exceptAll(cow).count() === 0,
      "COW merge result differs from the all-shuffle merge")
  }

  test("targeted COW delete rewrites only footer-overlapping files; result equals the anti-join") {
    val base = Tables(spark, sf, "orders")
      .select(col("o_orderkey").as("key"), col("o_totalprice"), col("o_orderstatus"))
    val root = footerClusteredBase("del-base", base)
    val before = dataListing(root)
    val v1Files = filesOf(root, 1)

    // range-localized deletion requests: bottom fifth of the keyspace
    val cutoff = base.agg(max(col("key"))).head().getLong(0) / 5
    val requests = base
      .filter(col("key") % 13 === 1 && col("key") <= cutoff)
      .select(col("key").as("d_key"))
    val nRequests = requests.count()
    assert(nRequests > 0)

    val v = ops.Layout.snapshotMergeKeys(spark, root, "key", requests,
      touched => touched
        .join(broadcast(requests), col("key") === col("d_key"), "left_anti"))

    // pruning pruned: a bottom-fifth request set leaves most files alone,
    // and they are byte-identical afterwards
    val untouched = v1Files.intersect(filesOf(root, v))
    assert(untouched.size < v1Files.size && untouched.size >= v1Files.size / 2)
    val after = dataListing(root)
    before.foreach { case (p, sig) =>
      assert(after.get(p).contains(sig), s"base file was modified: $p") }

    // semantics: untouched ∪ rewritten ≡ the full anti-join, and no
    // requested key survives anywhere
    val kept = ops.Layout.readSnapshot(spark, root, v)
    val full = base.join(broadcast(requests),
      col("key") === col("d_key"), "left_anti")
    assert(kept.count() === base.count() - nRequests)
    assert(kept.exceptAll(full).count() === 0 && full.exceptAll(kept).count() === 0)
    assert(kept.join(broadcast(requests),
      col("key") === col("d_key"), "left_semi").count() === 0,
      "a deletion-requested key survived the COW delete")
  }

  test("snapshots: append never rewrites, overwrite preserves history, vacuum deletes only unreferenced files") {
    val root = java.nio.file.Files.createTempDirectory("graft-snap").toString
    val orders = Tables(spark, sf, "orders")
      .select(col("o_orderkey").as("key"), col("o_orderstatus").as("status"))
    val v1 = ops.Layout.snapshotAppend(spark, root, orders.repartition(3))
    assert(v1 === 1)
    val filesV1 = dataListing(root)
    // v2 appends a delta: every v1 data file stays byte-identical
    val delta = orders.filter(col("key") % 100 === 7)
      .select((col("key") + 5000000L).as("key"), col("status"))
    val v2 = ops.Layout.snapshotAppend(spark, root, delta)
    val filesV2 = dataListing(root)
    filesV1.foreach { case (p, sig) =>
      assert(filesV2(p) === sig, s"append rewrote referenced file $p") }
    // reads are pinned per version: v1 ≡ orders, v2 ≡ orders ∪ delta
    val r1 = ops.Layout.readSnapshot(spark, root, 1)
    val r2 = ops.Layout.readSnapshot(spark, root, v2)
    assert(r1.exceptAll(orders).count() === 0 && orders.exceptAll(r1).count() === 0)
    val want2 = orders.unionByName(delta)
    assert(r2.exceptAll(want2).count() === 0 && want2.exceptAll(r2).count() === 0)
    // v3 overwrites (a compaction publish): v1 and v2 STILL read exactly
    val v3 = ops.Layout.snapshotOverwrite(spark, root, want2.repartition(2))
    assert(ops.Layout.snapshotVersions(spark, root) === Seq(1, 2, 3))
    val r1after = ops.Layout.readSnapshot(spark, root, 1)
    assert(r1after.exceptAll(orders).count() === 0 &&
      orders.exceptAll(r1after).count() === 0,
      "overwrite must not disturb time travel to v1")
    // vacuum keep=1: v1/v2 manifests and their now-unreferenced files go,
    // the latest version still reads exactly
    val stats = ops.Layout.vacuumSnapshots(spark, root, keep = 1)
    assert(stats.droppedVersions === Seq(1, 2))
    assert(stats.deletedFiles > 0)
    assert(ops.Layout.snapshotVersions(spark, root) === Seq(3))
    val r3 = ops.Layout.readSnapshot(spark, root)
    assert(r3.exceptAll(want2).count() === 0 && want2.exceptAll(r3).count() === 0,
      "vacuum deleted a file the kept version references")
    // the dropped versions' data files are actually gone from disk
    val remaining = dataListing(root).keySet
    filesV1.keySet.foreach(p =>
      assert(!remaining.contains(p), s"vacuum left unreferenced file $p"))
  }

  test("snapshot CDF: append diffs scan only the added files; overwrite lineage falls back row-correct") {
    val root = java.nio.file.Files.createTempDirectory("graft-cdf").toString
    val orders = Tables(spark, sf, "orders")
      .select(col("o_orderkey").as("key"), col("o_orderstatus").as("status"))
    ops.Layout.snapshotAppend(spark, root, orders.repartition(3))
    val delta = orders.filter(col("key") % 100 === 7)
      .select((col("key") + 5000000L).as("key"), col("status"))
    ops.Layout.snapshotAppend(spark, root, delta)
    // fast path: the diff's input files are EXACTLY v2 \ v1 — no v1 bytes
    def inserts(from: Int, to: Int) =
      ops.Layout.changeInserts(ops.Layout.snapshotChanges(spark, root, from, to))
    val diff = inserts(1, 2)
    assert(diff.exceptAll(delta).count() === 0 && delta.exceptAll(diff).count() === 0)
    def norm(p: String) = new org.apache.hadoop.fs.Path(p).toUri.getPath
    val v1Files = ops.Layout.readSnapshot(spark, root, 1).inputFiles.map(norm).toSet
    val read = diff.inputFiles.map(norm).toSet
    assert(read.nonEmpty && read.intersect(v1Files).isEmpty,
      s"CDF fast path must not touch v1 files: ${read.intersect(v1Files)}")
    // overwrite breaks file lineage: diff across it must FALL BACK and
    // still return the exact row delta
    val v3data = orders.unionByName(delta)
      .unionByName(delta.select((col("key") + 9000000L).as("key"), col("status")))
    ops.Layout.snapshotOverwrite(spark, root, v3data.repartition(2))
    val diff13 = inserts(1, 3)
    val want13 = v3data.exceptAll(orders)
    assert(diff13.exceptAll(want13).count() === 0 &&
      want13.exceptAll(diff13).count() === 0,
      "overwrite-lineage diff must be row-exact")

    // poll-based consumer: deltas since v1 are exactly (v2's append,
    // v3's overwrite delta), oldest first; since 0 starts with all of v1
    def deltasSince(since: Int) = ops.Layout.snapshotChangesWalk(spark, root,
      since, ops.Layout.snapshotVersions(spark, root).last)
      .map { case (v, ch) => v -> ops.Layout.changeInserts(ch) }
    val since1 = deltasSince(1)
    assert(since1.map(_._1) === Seq(2, 3))
    assert(since1.head._2.exceptAll(delta).count() === 0 &&
      delta.exceptAll(since1.head._2).count() === 0)
    val since0 = deltasSince(0)
    assert(since0.map(_._1) === Seq(1, 2, 3))
    assert(since0.head._2.exceptAll(orders).count() === 0 &&
      orders.exceptAll(since0.head._2).count() === 0)
  }

  test("snapshotCompact publishes a clustered OPTIMIZE as a new version; history intact, pruning restored") {
    val root = java.nio.file.Files.createTempDirectory("graft-snapopt").toString
    val orders = Tables(spark, sf, "orders")
      .select(col("o_orderkey").as("key"), col("o_orderstatus").as("status"))
    // many small interleaved appends → overlapping per-file key ranges
    (0 until 4).foreach(b => ops.Layout.snapshotAppend(spark, root,
      orders.filter(col("key") % 4 === b).repartition(3)))
    val before = ops.Layout.readSnapshot(spark, root)
    val v = ops.Layout.snapshotCompact(spark, root,
      targetBytes = 1L << 20, clusterBy = Seq(col("key")))
    assert(v === 5)
    // content identical, old version still reads, and the compacted
    // version's files have non-overlapping key ranges (pruning restored)
    val after = ops.Layout.readSnapshot(spark, root)
    assert(after.exceptAll(before).count() === 0 &&
      before.exceptAll(after).count() === 0)
    assert(ops.Layout.readSnapshot(spark, root, 4).count() === before.count())
    val ranges = after.inputFiles.map { f =>
      val one = spark.read.parquet(f)
        .agg(min(col("key")), max(col("key"))).head()
      (one.getLong(0), one.getLong(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo2, _)) =>
        assert(hi <= lo2, s"clustered files overlap: $hi > $lo2")
      case _ => ()
    }
  }

  test("AS OF timestamp resolves to the latest commit at or before t; pre-history throws") {
    val root = java.nio.file.Files.createTempDirectory("graft-asof").toString
    val orders = Tables(spark, sf, "orders")
      .select(col("o_orderkey").as("key"), col("o_orderstatus").as("status"))
    ops.Layout.snapshotAppend(spark, root, orders.filter(col("key") % 2 === 0))
    Thread.sleep(15) // distinct commit stamps at millisecond granularity
    ops.Layout.snapshotAppend(spark, root, orders.filter(col("key") % 2 === 1))
    val ts = ops.Layout.snapshotTimestamps(spark, root)
    assert(ts.map(_._1) === Seq(1, 2) && ts(0)._2 < ts(1)._2 && ts(0)._2 > 0)
    // at t = v1's stamp: v1; between the stamps: still v1; at/after v2: v2
    assert(ops.Layout.readSnapshotAsOf(spark, root, ts(0)._2).count() ===
      orders.filter(col("key") % 2 === 0).count())
    assert(ops.Layout.readSnapshotAsOf(spark, root, ts(1)._2 - 1).count() ===
      orders.filter(col("key") % 2 === 0).count())
    assert(ops.Layout.readSnapshotAsOf(spark, root, ts(1)._2).count() ===
      orders.count())
    assert(ops.Layout.readSnapshotAsOf(spark, root, Long.MaxValue).count() ===
      orders.count())
    intercept[IllegalArgumentException] {
      ops.Layout.readSnapshotAsOf(spark, root, ts(0)._2 - 1)
    }
    // age-based retention: cutoff between the stamps drops only the
    // oldest prefix (v1); the head still reads exactly
    Thread.sleep(15)
    ops.Layout.snapshotAppend(spark, root,
      orders.limit(5).select(col("key") + 8000000L, col("status")))
    val stats = ops.Layout.vacuumSnapshotsOlderThan(spark, root, ts(1)._2)
    assert(stats.droppedVersions === Seq(1))
    assert(ops.Layout.snapshotVersions(spark, root) === Seq(2, 3))
    assert(ops.Layout.readSnapshot(spark, root).count() === orders.count() + 5)
    // a cutoff in the future still keeps minKeep newest
    val stats2 = ops.Layout.vacuumSnapshotsOlderThan(spark, root,
      Long.MaxValue, minKeep = 1)
    assert(stats2.droppedVersions === Seq(2))
    assert(ops.Layout.snapshotVersions(spark, root) === Seq(3))
  }

  test("snapshotMerge: untouched files carried by reference, history readable, sidecar precondition enforced") {
    val root = java.nio.file.Files.createTempDirectory("graft-smerge").toString
    val orders = Tables(spark, sf, "orders")
      .select(col("o_orderkey").as("key"), col("o_orderstatus").as("status"))
    ops.Layout.snapshotAppend(spark, root,
      orders.repartitionByRange(6, col("key")).sortWithinPartitions(col("key")))
    val filesV1 = dataListing(root)
    val cutoff = orders.agg(max(col("key"))).head().getLong(0) / 5
    val changes = orders.filter(col("key") % 9 === 2 && col("key") <= cutoff)
      .select(col("key").as("c_key"), lit("M").as("c_status"))
      .localCheckpoint()
    val keys = changes.select(col("c_key")).collect().map(_.getLong(0))
    val v2 = ops.Layout.snapshotMergeKeys(spark, root, "key",
      changes.select(col("c_key")),
      touched => touched.join(changes, col("key") === col("c_key"), "full_outer")
        .select(coalesce(col("key"), col("c_key")).as("key"),
          coalesce(col("c_status"), col("status")).as("status")))
    assert(v2 === 2)
    // untouched v1 files: same paths, byte-identical, REFERENCED by v2
    val after = dataListing(root)
    filesV1.foreach { case (p, sig) =>
      assert(after(p) === sig, s"merge rewrote or removed base file $p") }
    val v2Files = ops.Layout.readSnapshot(spark, root, 2).inputFiles
      .map(f => new org.apache.hadoop.fs.Path(f).toUri.getPath).toSet
    val carried = filesV1.keySet.filter(v2Files.contains)
    assert(carried.nonEmpty && carried.size < filesV1.size,
      s"expected a proper subset carried by reference: ${carried.size}/${filesV1.size}")
    // result ≡ the all-shuffle merge; v1 still reads exactly
    val want = orders.join(changes, col("key") === col("c_key"), "full_outer")
      .select(coalesce(col("key"), col("c_key")).as("key"),
        coalesce(col("c_status"), col("status")).as("status"))
    val got = ops.Layout.readSnapshot(spark, root, 2)
    assert(got.exceptAll(want).count() === 0 && want.exceptAll(got).count() === 0)
    val r1 = ops.Layout.readSnapshot(spark, root, 1)
    assert(r1.exceptAll(orders).count() === 0 && orders.exceptAll(r1).count() === 0)
    // a MOR-deleted table refuses to merge (sidecars would be ignored)
    ops.Layout.snapshotDeleteMOR(spark, root, "key", Array(keys.head))
    intercept[IllegalArgumentException] {
      ops.Layout.snapshotMergeKeys(spark, root, "key", changes.select(col("c_key")),
        identity)
    }
  }

  test("schema evolution: additive columns read null on old rows; time travel keeps the narrow schema; MOR still applies") {
    val root = java.nio.file.Files.createTempDirectory("graft-evo").toString
    val orders = Tables(spark, sf, "orders")
      .select(col("o_orderkey").as("key"), col("o_orderstatus").as("status"))
    ops.Layout.snapshotAppend(spark, root, orders.repartition(2))
    ops.Layout.snapshotAppend(spark, root,
      orders.filter(col("key") % 100 === 9)
        .select((col("key") + 7000000L).as("key"), col("status"),
          lit(42L).as("extra")))
    val head = ops.Layout.readSnapshot(spark, root)
    assert(head.columns.toSeq === Seq("key", "status", "extra"))
    assert(head.filter(col("key") < 7000000L && col("extra").isNotNull).count() === 0,
      "pre-evolution rows must read the added column as null")
    assert(head.filter(col("extra") === 42L).count() ===
      orders.filter(col("key") % 100 === 9).count())
    // time travel: v1's schema contract is immutable
    assert(ops.Layout.readSnapshot(spark, root, 1).columns.toSeq ===
      Seq("key", "status"))
    // MOR delete on the evolved table: both halves (old narrow files,
    // new wide files) align by name and the delete applies
    val delKeys = orders.filter(col("key") % 100 === 9)
      .select(col("key") + 7000000L).collect().map(_.getLong(0)).take(5)
    ops.Layout.snapshotDeleteMOR(spark, root, "key", delKeys)
    val after = ops.Layout.readSnapshot(spark, root)
    assert(after.columns.toSeq === Seq("key", "status", "extra"))
    assert(after.filter(col("key").isin(delKeys: _*)).count() === 0)
    assert(after.count() === head.count() - delKeys.length)
  }

  test("bloom file index prunes a hash layout that min/max cannot, with zero false negatives") {
    val orders = Tables(spark, sf, "orders")
      .select(col("o_orderkey").as("key"), col("o_orderstatus").as("status"))
    val root = snapshotOf("bloom", orders, files = 8)
    val idx = freshRoot("bloom-idx")
    // hash layout really defeats range pruning: every file spans ~the
    // whole keyspace, so min/max overlap for any probe key
    val ranges = ops.Layout.snapshotKeyRanges(spark, root, 1, "key")
    val (gmn, gmx) = (ranges.map(_._2).min, ranges.map(_._3).max)
    val mid = (gmn + gmx) / 2
    assert(ranges.forall { case (_, mn, mx) => mn <= mid && mid <= mx },
      "hash layout should give every file an overlapping range")
    ops.Layout.maintainBloomIndex(spark, root, idx, "key")
    def lookup(keys: Seq[Long]) =
      ops.Layout.snapshotPointLookup(spark, root, idx, "key", keys)
    // single-key lookups: exactly the owning file (+ rare FP) scans
    val keys = orders.filter(col("key") % 701 === 3)
      .select(col("key")).collect().map(_.getLong(0)).toSeq
    assert(keys.nonEmpty)
    val one = lookup(Seq(keys.head))
    assert(one.totalFiles === 8)
    assert(one.scannedFiles.size < one.totalFiles,
      s"bloom must prune: scanned ${one.scannedFiles.size} of ${one.totalFiles}")
    // no false negatives: the multi-key lookup equals the full filter
    val multi = lookup(keys)
    val want = orders.filter(col("key").isin(keys: _*))
    assert(multi.result.select(col("key"), col("status")).exceptAll(want).count() === 0 &&
      want.exceptAll(multi.result.select(col("key"), col("status"))).count() === 0)
    // a key absent from the table scans (almost) nothing and returns none
    val miss = lookup(Seq(gmx + 999999L))
    assert(miss.result.count() === 0)
    assert(miss.scannedFiles.size < miss.totalFiles)
  }

  test("shallow clone: zero data copy, divergence isolated both ways, compaction detaches from the source") {
    val srcRoot = java.nio.file.Files.createTempDirectory("graft-clsrc").toString
    val dstRoot = java.nio.file.Files.createTempDirectory("graft-cldst").toString
    val orders = Tables(spark, sf, "orders")
      .select(col("o_orderkey").as("key"), col("o_orderstatus").as("status"))
    ops.Layout.snapshotAppend(spark, srcRoot, orders.repartition(3))
    def files(root: String) = {
      def walk(d: java.io.File): Seq[String] =
        if (d.isDirectory) d.listFiles().toSeq.flatMap(walk) else Seq(d.getPath)
      val data = new java.io.File(s"$root/data")
      if (data.exists()) walk(data).filter(_.endsWith(".parquet")).toSet
      else Set.empty[String]
    }
    assert(ops.Layout.snapshotClone(spark, srcRoot, dstRoot) === 1)
    // the clone wrote no data files — manifest-only
    assert(files(dstRoot).isEmpty, "clone must not copy data files")
    val r = ops.Layout.readSnapshot(spark, dstRoot)
    assert(r.exceptAll(orders).count() === 0 && orders.exceptAll(r).count() === 0)
    // divergence: clone append invisible at source, source append
    // invisible at clone
    import spark.implicits._
    ops.Layout.snapshotAppend(spark, dstRoot, Seq((900000001L, "C")).toDF("key", "status"))
    ops.Layout.snapshotAppend(spark, srcRoot, Seq((900000002L, "S")).toDF("key", "status"))
    assert(ops.Layout.readSnapshot(spark, dstRoot)
      .filter(col("key") === 900000002L).count() === 0)
    assert(ops.Layout.readSnapshot(spark, srcRoot)
      .filter(col("key") === 900000001L).count() === 0)
    // the documented caveat's escape hatch: compaction detaches the
    // clone — afterwards it references only files under its own root
    val before = ops.Layout.readSnapshot(spark, dstRoot).localCheckpoint()
    ops.Layout.snapshotCompact(spark, dstRoot, targetBytes = 1L << 22)
    val own = ops.Layout.readSnapshot(spark, dstRoot).inputFiles
    assert(own.nonEmpty && own.forall(f =>
      new org.apache.hadoop.fs.Path(f).toUri.getPath.startsWith(dstRoot)),
      "post-compaction clone must own all its files")
    val after = ops.Layout.readSnapshot(spark, dstRoot)
    assert(after.exceptAll(before).count() === 0 &&
      before.exceptAll(after).count() === 0)
    // vacuum OWNERSHIP: vacuuming the detached clone drops its pre-
    // compaction manifests, whose refs point at the SOURCE's files —
    // those must survive (only their owner's vacuum may delete them)
    val srcFilesBefore = ops.Layout.readSnapshot(spark, srcRoot).inputFiles.toSet
    ops.Layout.vacuumSnapshots(spark, dstRoot, keep = 1)
    srcFilesBefore.foreach { f =>
      assert(new java.io.File(new org.apache.hadoop.fs.Path(f).toUri.getPath).exists(),
        s"clone-side vacuum deleted the source's file $f")
    }
    assert(ops.Layout.readSnapshot(spark, srcRoot).count() === orders.count() + 1,
      "source table must still read after clone-side vacuum")
    assert(ops.Layout.readSnapshot(spark, dstRoot).count() === before.count())
  }

  test("MOR delete: zero data I/O, scoped sidecar, time travel, re-insert survival, compaction folds the debt") {
    val root = java.nio.file.Files.createTempDirectory("graft-mor").toString
    val orders = Tables(spark, sf, "orders")
      .select(col("o_orderkey").as("key"),
        col("o_totalprice").cast("double").as("price"))
    ops.Layout.snapshotAppend(spark, root,
      orders.repartitionByRange(6, col("key")).sortWithinPartitions(col("key")))
    val filesV1 = dataListing(root)
    val cutoff = orders.agg(max(col("key"))).head().getLong(0) / 5
    val delKeys = orders.filter(col("key") % 13 === 1 && col("key") <= cutoff)
      .select(col("key")).collect().map(_.getLong(0))
    assert(delKeys.nonEmpty)
    val v2 = ops.Layout.snapshotDeleteMOR(spark, root, "key", delKeys)
    assert(v2 === 2)
    // the delete wrote and rewrote ZERO data files — that's the MOR deal
    assert(dataListing(root) === filesV1,
      "MOR delete must not add or rewrite any data file")
    // sidecar scope: range-localized churn on a clustered table touches a
    // strict subset of files
    val delDirs = new java.io.File(s"$root/deletes").listFiles().filter(_.isDirectory)
    assert(delDirs.length === 1, "exactly one sidecar attempt dir expected")
    val sidecar = spark.read.parquet(delDirs.head.getPath)
    val dirtyNames = sidecar.select(col("file")).distinct().count()
    assert(dirtyNames > 0 && dirtyNames < filesV1.size,
      s"expected scoped sidecar, got $dirtyNames of ${filesV1.size} files")
    // read-side semantics: v2 = v1 minus the requested keys; v1 intact
    val want2 = orders.filter(!(col("key") % 13 === 1 && col("key") <= cutoff))
    val r2 = ops.Layout.readSnapshot(spark, root, 2)
    assert(r2.exceptAll(want2).count() === 0 && want2.exceptAll(r2).count() === 0)
    assert(ops.Layout.readSnapshot(spark, root, 1).count() === orders.count(),
      "time travel to v1 must still see the deleted rows")
    // RE-INSERT a deleted key: the appended file is outside the sidecar's
    // scope, so the new row survives where an unscoped NOT-IN would kill it
    val k = delKeys.min
    import spark.implicits._
    val v3 = ops.Layout.snapshotAppend(spark, root,
      Seq((k, -1.0)).toDF("key", "price"))
    val revived = ops.Layout.readSnapshot(spark, root, v3)
      .filter(col("key") === k).collect()
    assert(revived.map(_.getDouble(1)).toSeq === Seq(-1.0),
      "re-inserted row must survive; the originally deleted row must not")
    // CDF across the delete must NOT take the file fast path (file sets
    // are equal there): row-level fallback, exact
    val diff13 = ops.Layout.changeInserts(
      ops.Layout.snapshotChanges(spark, root, 1, 3))
    val want13 = ops.Layout.readSnapshot(spark, root, 3)
      .exceptAll(ops.Layout.readSnapshot(spark, root, 1))
    assert(diff13.exceptAll(want13).count() === 0 &&
      want13.exceptAll(diff13).count() === 0)
    // compaction folds the read-side debt: the new manifest carries no
    // sidecar references and the rows are unchanged. Pin the pre-compaction
    // rows: the later vacuum deletes v3's files, so a lazy plan over its
    // manifest would dangle.
    val before = ops.Layout.readSnapshot(spark, root).localCheckpoint()
    val v4 = ops.Layout.snapshotCompact(spark, root, targetBytes = 1L << 22)
    val manifest = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$root/_manifests/v$v4.manifest")), "UTF-8")
    assert(!manifest.contains("delete:"),
      "compaction must publish a sidecar-free manifest")
    val r4 = ops.Layout.readSnapshot(spark, root, v4)
    assert(r4.exceptAll(before).count() === 0 && before.exceptAll(r4).count() === 0)
    // vacuum to the folded head: the sidecar file itself is now
    // unreferenced and must go; the head still reads exactly
    ops.Layout.vacuumSnapshots(spark, root, keep = 1)
    def sidecarParquets() = {
      def walk(d: java.io.File): Seq[java.io.File] =
        if (d.isDirectory) d.listFiles().toSeq.flatMap(walk) else Seq(d)
      val dels = new java.io.File(s"$root/deletes")
      if (!dels.exists()) Nil
      else walk(dels).filter(_.getName.endsWith(".parquet"))
    }
    assert(sidecarParquets().isEmpty,
      "vacuum must delete the unreferenced sidecar")
    val rHead = ops.Layout.readSnapshot(spark, root)
    assert(rHead.exceptAll(before).count() === 0 &&
      before.exceptAll(rHead).count() === 0)
  }

  test("position deletes: arbitrary-predicate DELETE without a unique key — byte-identity, O(matched) sidecar, CDC retraction, both kinds fold") {
    val root = java.nio.file.Files.createTempDirectory("graft-posdel").toString
    // lineitem keeps DUPLICATE orderkeys — the no-unique-key table an
    // equality delete cannot serve without collateral damage
    val li = Tables(spark, sf, "lineitem")
      .select(col("l_orderkey").as("key"),
        col("l_quantity").cast("double").as("qty"),
        col("l_returnflag").as("flag"))
    ops.Layout.snapshotAppend(spark, root, li.repartition(4))
    def posSidecarRows() = {
      def walk(d: java.io.File): Seq[java.io.File] =
        if (d.isDirectory) d.listFiles().toSeq.flatMap(walk) else Seq(d)
      val dels = new java.io.File(s"$root/deletes")
      val fs = if (!dels.exists()) Nil
      else walk(dels).filter(f => f.getName.endsWith(".parquet") &&
        f.getPath.contains("/deletes/pos-"))
      if (fs.isEmpty) spark.emptyDataFrame
      else spark.read.parquet(fs.map(_.getPath): _*)
    }
    val filesV1 = dataListing(root)
    val pred = col("flag") === "R" && col("qty") > 30
    assert(li.filter(pred).count() > 0 && // predicate rows share keys with
      li.filter(pred).select("key")       // survivors: no key is unique
        .join(li.filter(!pred).select("key"), Seq("key"), "left_semi")
        .count() > 0, "fixture: the predicate must split duplicate keys")
    val v2 = ops.Layout.snapshotDeletePositions(spark, root, pred)
    assert(v2 === 2)
    // the deal: ZERO data files written or rewritten
    assert(dataListing(root) === filesV1,
      "position delete must leave every data file byte-identical")
    // the sidecar prices at O(matched rows), exactly
    assert(posSidecarRows().count() === li.filter(pred).count(),
      "sidecar must carry exactly one ordinal per matched row")
    // read semantics: rows masked by ordinal; duplicates of the same key
    // that did NOT match survive; time travel intact
    val want2 = li.filter(!pred)
    val r2 = ops.Layout.readSnapshot(spark, root, 2)
    assert(r2.exceptAll(want2).count() === 0 && want2.exceptAll(r2).count() === 0)
    assert(ops.Layout.readSnapshot(spark, root, 1).count() === li.count())
    // a SECOND predicate delete evaluates over the CURRENT logical
    // content: already-deleted rows never re-enter the sidecar
    val pred2 = col("qty") > 30 // strict superset of pred
    val v3 = ops.Layout.snapshotDeletePositions(spark, root, pred2)
    assert(posSidecarRows().count() === li.filter(pred2).count(),
      "second delete adds only the NEWLY matched ordinals")
    val want3 = li.filter(!pred2)
    val r3 = ops.Layout.readSnapshot(spark, root, v3)
    assert(r3.exceptAll(want3).count() === 0 && want3.exceptAll(r3).count() === 0)
    // CDC across the pos transition: the exact retracted multiset, typed
    // delete, derived from the new sidecar entries alone
    val ch = ops.Layout.snapshotChanges(spark, root, 2, 3)
    assert(ch.select("_change_type").distinct().collect()
      .map(_.getString(0)).toSeq === Seq("delete"))
    val retracted = ch.drop("_change_type")
    val wantRetract = li.filter(pred2 && !pred)
    assert(retracted.exceptAll(wantRetract).count() === 0 &&
      wantRetract.exceptAll(retracted).count() === 0,
      "retraction = newly matched rows only (old deletes never re-retract)")
    // RE-INSERT semantics: an equal row appended later lands in a NEW
    // file no (file, pos) entry addresses — it survives
    import spark.implicits._
    val dead = li.filter(pred2).limit(1).collect().head
    val v4 = ops.Layout.snapshotAppend(spark, root,
      Seq((dead.getLong(0), dead.getDouble(1), dead.getString(2)))
        .toDF("key", "qty", "flag"))
    assert(ops.Layout.readSnapshot(spark, root, v4)
      .filter(col("key") === dead.getLong(0) && col("qty") === dead.getDouble(1)
        && col("flag") === dead.getString(2)).count() === 1,
      "re-inserted row must be visible; the original stays deleted")
    // BOTH KINDS COEXIST: an equality delete on top of the position
    // sidecars — the read applies each kind to its scoped files
    val eqKey = want3.groupBy("key").count().filter(col("count") > 1)
      .select("key").head().getLong(0)
    val v5 = ops.Layout.snapshotDeleteMOR(spark, root, "key", Array(eqKey))
    val want5 = want3.filter(col("key") =!= eqKey)
      .unionAll(Seq((dead.getLong(0), dead.getDouble(1), dead.getString(2)))
        .toDF("key", "qty", "flag")
        .filter(lit(dead.getLong(0)) =!= eqKey))
    val r5 = ops.Layout.readSnapshot(spark, root, v5)
    assert(r5.exceptAll(want5).count() === 0 && want5.exceptAll(r5).count() === 0,
      "equality and position sidecars must compose on one version")
    // compaction folds BOTH sidecar kinds; vacuum then reclaims them
    val before = ops.Layout.readSnapshot(spark, root).localCheckpoint()
    val v6 = ops.Layout.snapshotCompact(spark, root, targetBytes = 1L << 22)
    val manifest = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$root/_manifests/v$v6.manifest")), "UTF-8")
    assert(!manifest.contains("delete:"),
      "compaction must fold equality AND position sidecars")
    val r6 = ops.Layout.readSnapshot(spark, root, v6)
    assert(r6.exceptAll(before).count() === 0 && before.exceptAll(r6).count() === 0)
    ops.Layout.vacuumSnapshots(spark, root, keep = 1)
    assert(posSidecarRows().isEmpty,
      "vacuum must reclaim the unreferenced position sidecars")
    val rHead2 = ops.Layout.readSnapshot(spark, root)
    assert(rHead2.exceptAll(before).count() === 0 &&
      before.exceptAll(rHead2).count() === 0)
  }

  test("position deletes: broad predicates SHARD the sidecar (no single-task funnel) and evaluate the predicate scan ONCE") {
    val root = java.nio.file.Files.createTempDirectory("graft-posshard")
      .toString
    val li = Tables(spark, sf, "lineitem")
      .select(col("l_orderkey").as("key"),
        col("l_quantity").cast("double").as("qty"),
        col("l_returnflag").as("flag"))
    ops.Layout.snapshotAppend(spark, root, li.repartition(4))
    val nRows = li.count()
    // SINGLE-EVALUATION EVIDENCE: the predicate routes every row through
    // an accumulator-counting UDF (no pushdown, no short-circuit), so a
    // second evaluation of the scan would read 2× the table. The matched
    // frame is pinned before any action — the emptiness check and the
    // sidecar write both consume the pinned blocks.
    val acc = spark.sparkContext.longAccumulator("graft-posdel-predEvals")
    val counted = udf { (q: Double) => acc.add(1L); q > 10.0 }
    // a LOW threshold forces the sharded write path: ceil(matched/2000)
    // range-partitioned files instead of coalesce(1)
    val v2 = withConf("spark.graft.posdelete.rowsPerFile" -> "2000") {
      ops.Layout.snapshotDeletePositions(spark, root, counted(col("qty")))
    }
    assert(acc.value === nRows,
      s"predicate must evaluate exactly once per row (${acc.value} evals " +
        s"for $nRows rows — a re-scan would double it)")
    val matched = li.filter(col("qty") > 10.0).count()
    assert(matched > 4000, "fixture: the predicate must be broad enough " +
      "to exceed the 2000-row shard threshold at least twice over")
    def walk(d: java.io.File): Seq[java.io.File] =
      if (d.isDirectory) d.listFiles().toSeq.flatMap(walk) else Seq(d)
    val sidecarFiles = walk(new java.io.File(s"$root/deletes"))
      .filter(f => f.getName.endsWith(".parquet") &&
        f.getPath.contains("/deletes/pos-"))
    assert(sidecarFiles.size > 1,
      s"a ${matched}-row sidecar over a 2000-row threshold must shard " +
        s"across parallel write tasks (got ${sidecarFiles.size} file)")
    assert(spark.read.parquet(sidecarFiles.map(_.getPath): _*).count()
      === matched, "sharding must not drop or duplicate ordinals")
    // shard count is invisible to read semantics: the multi-file sidecar
    // masks exactly the matched rows
    val want = li.filter(!(col("qty") > 10.0))
    val r = ops.Layout.readSnapshot(spark, root, v2)
    assert(r.exceptAll(want).count() === 0 && want.exceptAll(r).count() === 0,
      "multi-file sidecar must behave identically to the single-file kind")
  }
}

/** ST29: the snapshot layer as an exactly-once streaming table sink. */
class StreamingSnapshotSinkSpec extends GraftSuite {
  test("ST29: each micro-batch commits one version, replays are no-ops, readers see only committed data") {
    val docs = Tables(spark, sf, "documents")
      .select(col("doc_id"), col("source"), col("text"))
    val root = java.nio.file.Files.createTempDirectory("graft-st29").toString
    new java.io.File(s"$root/in").mkdirs()
    (0 to 2).foreach { b =>
      val dir = s"$root/stage_$b"
      docs.filter(col("doc_id") % 3 === b).coalesce(1).write.parquet(dir)
      val part = new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = java.nio.file.Paths.get(s"$root/in/0$b.parquet")
      java.nio.file.Files.move(part.toPath, dst)
      // FileStreamSource orders by MODIFICATION TIME, not name — pin
      // strictly increasing mtimes so file b is epoch b deterministically
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1600000000000L + b * 60000L))
    }
    val q = ops.Layout.streamingSnapshotSink(spark, s"$root/in", docs.schema, root)
    q.awaitTermination(120000)
    assert(ops.Layout.snapshotVersions(spark, root) === Seq(1, 2, 3))
    // the latest committed version is exactly the full feed
    val latest = ops.Layout.readSnapshot(spark, root)
    assert(latest.exceptAll(docs).count() === 0 &&
      docs.exceptAll(latest).count() === 0)
    // intermediate versions are strict cumulative prefixes
    val v1 = ops.Layout.readSnapshot(spark, root, 1)
    val want1 = docs.filter(col("doc_id") % 3 === 0)
    assert(v1.exceptAll(want1).count() === 0 && want1.exceptAll(v1).count() === 0)
    // crash-replay of epoch 1 (the foreachBatch retry, SAME writer = the
    // run token persisted in the intact checkpoint): a NO-OP — versions
    // unchanged, latest unchanged
    val token = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$root/ckpt/graft-writer-id")), "UTF-8").trim
    val before = ops.Layout.snapshotVersions(spark, root)
    val v = ops.Layout.snapshotAppendIdempotent(
      spark, root, docs.filter(col("doc_id") % 3 === 1), 1L,
      writerId = token)
    assert(v === 2, "replayed epoch must report its already-committed version")
    assert(ops.Layout.snapshotVersions(spark, root) === before)
    // a DIFFERENT writer (fresh checkpoint) restarting its epoch counter
    // against the existing table carries NEW data — it must fail loudly,
    // never silently discard its batch as a "replay"
    intercept[IllegalStateException] {
      ops.Layout.snapshotAppendIdempotent(
        spark, root, docs.limit(3), 0L, writerId = "someone-else/ckpt")
    }
    val after = ops.Layout.readSnapshot(spark, root)
    assert(after.exceptAll(docs).count() === 0 &&
      docs.exceptAll(after).count() === 0)
    // a torn epoch (data written, commit never ran) is INVISIBLE: write
    // data for a phantom epoch without committing; readers see nothing new
    docs.limit(5).write.mode("overwrite").parquet(s"$root/data/e=99")
    assert(ops.Layout.snapshotVersions(spark, root) === Seq(1, 2, 3),
      "uncommitted data must not surface as a version")
    assert(ops.Layout.readSnapshot(spark, root).count() === docs.count())
  }
}

/** ST31: the end-to-end streaming maintained view — exactly-once from
  * file stream through versioned base table to incremental rollup.
  */
class StreamingMaintainedViewSpec extends GraftSuite {
  test("ST31: per-epoch view advances track the base exactly; epoch replay and cold re-maintenance are no-ops") {
    val dir = java.nio.file.Files.createTempDirectory("graft-st31").toString
    val (baseRoot, viewRoot) = (s"$dir/base", s"$dir/view")
    val orders = Tables(spark, sf, "orders")
      .select(col("o_orderkey").as("key"), col("o_orderstatus").as("status"),
        col("o_totalprice").cast("double").as("price"))
    new java.io.File(s"$dir/in").mkdirs()
    (0 to 2).foreach { b =>
      val stage = s"$dir/stage_$b"
      orders.filter(col("key") % 3 === b).coalesce(1).write.parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = java.nio.file.Paths.get(s"$dir/in/0$b.parquet")
      java.nio.file.Files.move(part.toPath, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1600000000000L + b * 60000L))
    }
    val q = ops.Layout.streamingMaintainedView(spark, s"$dir/in",
      orders.schema, baseRoot, viewRoot, "status", "price")
    q.awaitTermination(180000)
    // incremental folds add partial sums in a different order than one
    // full scan — compare at round(4), far above the ~1e-9 ulp drift and
    // far below any real divergence
    def viewNow() = ops.Layout.readSnapshot(spark, viewRoot)
      .select(col("status"), round(col("sum_v"), 4).as("sum_v"), col("n"))
    def want() = ops.Layout.readSnapshot(spark, baseRoot)
      .groupBy(col("status"))
      .agg(round(sum(col("price")), 4).as("sum_v"), count(lit(1)).as("n"))
    assert(ops.Layout.snapshotVersions(spark, baseRoot) === Seq(1, 2, 3))
    assert(viewNow().exceptAll(want()).count() === 0 &&
      want().exceptAll(viewNow()).count() === 0,
      "final view must equal the full rollup of the streamed table")
    // every epoch advanced the view incrementally (3 view commits, each
    // stamped with the base version it reflects)
    assert(ops.Layout.snapshotVersions(spark, viewRoot).size === 3)
    assert(ops.Layout.readSnapshot(spark, viewRoot)
      .agg(max(col("base_version"))).head().getInt(0) === 3)
    // crash-replay of epoch 1's whole foreachBatch body (same writer
    // token): base commit no-ops, maintenance no-ops — nothing changes
    val token = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$baseRoot/ckpt/graft-writer-id")), "UTF-8").trim
    val baseBefore = ops.Layout.snapshotVersions(spark, baseRoot)
    val viewBefore = ops.Layout.snapshotVersions(spark, viewRoot)
    ops.Layout.snapshotAppendIdempotent(spark, baseRoot,
      orders.filter(col("key") % 3 === 1), 1L, writerId = token)
    ops.Layout.maintainSumView(spark, baseRoot, viewRoot, "status", "price")
    assert(ops.Layout.snapshotVersions(spark, baseRoot) === baseBefore)
    assert(ops.Layout.snapshotVersions(spark, viewRoot) === viewBefore,
      "replayed epoch must not publish a view version")
  }
}

/** Multi-writer optimistic concurrency: concurrent appends under the
  * retry wrapper all land, history stays a linear sequence of winners,
  * and no rows are lost or duplicated.
  */
class SnapshotConcurrencySpec extends GraftSuite {
  test("eight concurrent appends with commit retry: all land exactly once, versions are linear") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-conc").toString
    ops.Layout.snapshotAppend(spark, root,
      Seq((0L, "base")).toDF("key", "tag"))
    val writers = 8
    val pool = java.util.concurrent.Executors.newFixedThreadPool(writers)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val futures = (1 to writers).map { w =>
      scala.concurrent.Future {
        ops.Layout.withCommitRetry(attempts = writers + 2) {
          ops.Layout.snapshotAppend(spark, root,
            Seq((w.toLong, s"writer$w")).toDF("key", "tag"))
        }
      }
    }
    import scala.concurrent.duration._
    val committed = scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(futures), 120.seconds)
    pool.shutdown()
    // a linear history: versions 1..9, each writer's commit distinct
    assert(ops.Layout.snapshotVersions(spark, root) === (1 to writers + 1))
    assert(committed.toSet.size === writers, "every writer won a distinct version")
    // no lost or duplicated rows
    val rows = ops.Layout.readSnapshot(spark, root)
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(rows === ((0L, "base") +:
      (1 to writers).map(w => (w.toLong, s"writer$w"))).sorted)
    // losing attempts leave orphan attempt dirs; the orphan sweep
    // removes them and NEVER touches a referenced file
    val before = ops.Layout.readSnapshot(spark, root)
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    ops.Layout.vacuumOrphanFiles(spark, root)
    val after = ops.Layout.readSnapshot(spark, root)
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(after === before, "orphan sweep must not touch referenced files")
    (1 to writers + 1).foreach { v =>
      assert(ops.Layout.readSnapshot(spark, root, v).count() === v,
        s"version $v must still time-travel after the orphan sweep")
    }
  }
}

/** ST32: the live dedup registry — the maintainer-generic streaming
  * driver carrying d24 instead of the sum view; same exactly-once
  * composition, zero registry-specific streaming code.
  */
class StreamingDedupRegistrySpec extends GraftSuite {
  test("ST32: the registry tracks the streamed corpus per epoch; a replayed epoch body changes nothing") {
    val dir = java.nio.file.Files.createTempDirectory("graft-st32").toString
    val (baseRoot, viewRoot) = (s"$dir/base", s"$dir/registry")
    val docs = Tables(spark, sf, "documents").select(col("doc_id"), col("text"))
    // batch 2 re-sends batch 0's texts under shifted ids: cross-epoch
    // duplicates the registry must count without re-reading old epochs
    val feed = Seq(
      docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 === 1),
      docs.filter(col("doc_id") % 2 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    new java.io.File(s"$dir/in").mkdirs()
    feed.zipWithIndex.foreach { case (b, i) =>
      val stage = s"$dir/stage_$i"
      b.coalesce(1).write.parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = java.nio.file.Paths.get(s"$dir/in/0$i.parquet")
      java.nio.file.Files.move(part.toPath, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1600000000000L + i * 60000L))
    }
    val q = ops.Layout.streamingMaintained(spark, s"$dir/in", docs.schema,
      baseRoot, s => { dedup.Dedup.maintainDedupRegistry(s, baseRoot, viewRoot); () })
    q.awaitTermination(180000)
    assert(ops.Layout.snapshotVersions(spark, baseRoot) === Seq(1, 2, 3))
    val reg = ops.Layout.readSnapshot(spark, viewRoot)
    // every even doc's text arrived twice (original + shifted copy), and
    // the registry keeps the ORIGINAL id though the copy came 2 epochs later
    val evens = docs.filter(col("doc_id") % 2 === 0).count()
    assert(reg.filter(col("n_copies") === 2).count() === evens)
    assert(reg.filter(col("keep_id") >= 1000000L).count() === 0)
    assert(reg.count() === docs.count())
    // replayed epoch body (same writer token): base no-ops, registry
    // publishes nothing
    val token = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$baseRoot/ckpt/graft-writer-id")), "UTF-8").trim
    val viewBefore = ops.Layout.snapshotVersions(spark, viewRoot)
    ops.Layout.snapshotAppendIdempotent(spark, baseRoot, feed(1), 1L,
      writerId = token)
    dedup.Dedup.maintainDedupRegistry(spark, baseRoot, viewRoot)
    assert(ops.Layout.snapshotVersions(spark, viewRoot) === viewBefore)
  }
}

/** Incremental materialized view over the versioned table: correctness
  * under append lineage, the overwrite fallback, idempotence, and the
  * one-commit crash-atomicity contract.
  */
class SnapshotIvmSpec extends GraftSuite {
  test("maintainSumView tracks the head exactly through appends, compaction, and no-op reruns") {
    val base = java.nio.file.Files.createTempDirectory("graft-ivm-base").toString
    val view = java.nio.file.Files.createTempDirectory("graft-ivm-view").toString
    val orders = Tables(spark, sf, "orders")
      .select(col("o_orderkey").as("key"), col("o_orderstatus").as("status"),
        col("o_totalprice").as("price"))

    def fullRecompute() = ops.Layout.readSnapshot(spark, base)
      .groupBy(col("status"))
      .agg(sum(col("price").cast("double")).as("sum_v"), count(lit(1)).as("n"))
    def viewNow() = ops.Layout.readSnapshot(spark, view)
      .select(col("status"), col("sum_v"), col("n"))
    def check(tag: String): Unit = {
      val want = fullRecompute()
      val got = viewNow()
      assert(got.exceptAll(want).count() === 0 && want.exceptAll(got).count() === 0,
        s"$tag: view diverged from the full recompute")
    }

    // v1 + first maintenance (full path)
    ops.Layout.snapshotAppend(spark, base, orders.filter(col("key") % 2 === 0))
    assert(ops.Layout.maintainSumView(spark, base, view, "status", "price") === 1)
    check("after v1")
    // v2, v3 appends: ONE maintenance run advances over both deltas
    ops.Layout.snapshotAppend(spark, base, orders.filter(col("key") % 4 === 1))
    ops.Layout.snapshotAppend(spark, base, orders.filter(col("key") % 4 === 3))
    assert(ops.Layout.maintainSumView(spark, base, view, "status", "price") === 3)
    check("after v2+v3 incremental")
    // idempotent no-op: head already processed — no new view version
    val viewVersions = ops.Layout.snapshotVersions(spark, view)
    assert(ops.Layout.maintainSumView(spark, base, view, "status", "price") === 3)
    assert(ops.Layout.snapshotVersions(spark, view) === viewVersions,
      "a no-op run must not publish a view version")
    // compaction breaks append lineage: the maintainer must take the
    // full-recompute fallback and still be exact
    ops.Layout.snapshotCompact(spark, base, targetBytes = 1L << 20,
      clusterBy = Seq(col("key")))
    assert(ops.Layout.maintainSumView(spark, base, view, "status", "price") === 4)
    check("after compaction fallback")
    // a MOR delete changes NO data file — the sidecar-set check must
    // still force the fallback (sums can't subtract deletions), and the
    // view must reflect the removed rows
    val delKeys = ops.Layout.readSnapshot(spark, base)
      .filter(col("key") % 50 === 1).select(col("key"))
      .collect().map(_.getLong(0))
    assert(delKeys.nonEmpty)
    assert(ops.Layout.snapshotDeleteMOR(spark, base, "key", delKeys) === 5)
    assert(ops.Layout.maintainSumView(spark, base, view, "status", "price") === 5)
    check("after MOR delete fallback")
    // additive schema evolution mid-gap: TWO appends land before one
    // maintenance run and the second is WIDER — the delta union must
    // align by name (nulls), not throw, and the view must stay exact
    ops.Layout.snapshotAppend(spark, base,
      orders.filter(col("key") % 10 === 2)
        .select((col("key") + 3000000L).as("key"), col("status"), col("price")))
    ops.Layout.snapshotAppend(spark, base,
      orders.filter(col("key") % 10 === 4)
        .select((col("key") + 4000000L).as("key"), col("status"),
          col("price"), lit("x").as("extra")))
    assert(ops.Layout.maintainSumView(spark, base, view, "status", "price") === 7)
    check("after widened delta union")
  }

  test("d24 dedup registry: incremental min/sum merges equal the full d1 rollup at every step; MOR delete forces fallback") {
    val dir = java.nio.file.Files.createTempDirectory("graft-d24").toString
    val (baseRoot, viewRoot) = (s"$dir/base", s"$dir/registry")
    val docs = Tables(spark, sf, "documents").select(col("doc_id"), col("text"))
    val corpus = docs.unionAll(
      docs.select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    def check(tag: String): Unit = {
      val want = ops.Layout.readSnapshot(spark, baseRoot)
        .groupBy(md5(col("text").cast("binary")).as("text_hash"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      val got = ops.Layout.readSnapshot(spark, viewRoot)
        .select(col("text_hash"), col("keep_id"), col("n_copies"))
      assert(got.exceptAll(want).count() === 0 && want.exceptAll(got).count() === 0,
        s"$tag: registry diverged from the full rollup")
    }
    // duplicates arrive across DIFFERENT appends (the shifted copy in a
    // later batch than its original) — the min-merge must still pick the
    // original's id
    ops.Layout.snapshotAppend(spark, baseRoot, docs)
    dedup.Dedup.maintainDedupRegistry(spark, baseRoot, viewRoot)
    check("originals only")
    ops.Layout.snapshotAppend(spark, baseRoot,
      corpus.filter(col("doc_id") >= 1000000L && col("doc_id") % 2 === 0))
    dedup.Dedup.maintainDedupRegistry(spark, baseRoot, viewRoot)
    check("half the copies")
    ops.Layout.snapshotAppend(spark, baseRoot,
      corpus.filter(col("doc_id") >= 1000000L && col("doc_id") % 2 === 1))
    dedup.Dedup.maintainDedupRegistry(spark, baseRoot, viewRoot)
    check("all copies")
    // every duplicated hash counts 2 and keeps the ORIGINAL (un-shifted) id
    val reg = ops.Layout.readSnapshot(spark, viewRoot)
    assert(reg.filter(col("n_copies") === 2).count() === docs.count())
    assert(reg.filter(col("keep_id") >= 1000000L).count() === 0,
      "min-merge must keep the original id even when the copy arrived later")
    // MOR delete on the base removes rows — counts can't subtract, so the
    // maintainer must fall back and still be exact
    val delKeys = corpus.filter(col("doc_id") % 97 === 5)
      .select(col("doc_id")).collect().map(_.getLong(0))
    assert(delKeys.nonEmpty)
    ops.Layout.snapshotDeleteMOR(spark, baseRoot, "doc_id", delKeys)
    dedup.Dedup.maintainDedupRegistry(spark, baseRoot, viewRoot)
    check("after MOR delete fallback")
  }

  test("maintainJoinView: delta rule exact through interleaved appends, no-op reruns, and lineage-break fallback") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivmj").toString
    val (lRoot, rRoot, vRoot) = (s"$dir/L", s"$dir/R", s"$dir/V")
    val orders = Tables(spark, sf, "orders")
      .select(col("o_custkey").as("custkey"), col("o_orderkey").as("okey"))
    val cust = Tables(spark, sf, "customer")
      .select(col("c_custkey").as("custkey"), col("c_acctbal").as("acctbal"))
    def check(tag: String): Unit = {
      val want = ops.Layout.readSnapshot(spark, lRoot)
        .join(ops.Layout.readSnapshot(spark, rRoot), Seq("custkey"))
      val got = ops.Layout.readSnapshot(spark, vRoot)
        .select(col("custkey"), col("okey"), col("acctbal"))
      assert(got.exceptAll(want).count() === 0 && want.exceptAll(got).count() === 0,
        s"$tag: view diverged from the full join")
    }
    // initial full build
    ops.Layout.snapshotAppend(spark, lRoot, orders.filter(col("okey") % 4 === 0))
    ops.Layout.snapshotAppend(spark, rRoot, cust.filter(col("custkey") % 3 === 1))
    assert(ops.Layout.maintainJoinView(spark, lRoot, rRoot, vRoot, "custkey") === ((1, 1)))
    check("initial build")
    // left-only delta (ΔL ⋈ R quadrant)
    ops.Layout.snapshotAppend(spark, lRoot, orders.filter(col("okey") % 4 === 1))
    ops.Layout.maintainJoinView(spark, lRoot, rRoot, vRoot, "custkey")
    check("left delta")
    // right-only delta (L_old ⋈ ΔR quadrant)
    ops.Layout.snapshotAppend(spark, rRoot, cust.filter(col("custkey") % 3 === 2))
    ops.Layout.maintainJoinView(spark, lRoot, rRoot, vRoot, "custkey")
    check("right delta")
    // BOTH sides advanced before one run: all three delta quadrants at once
    ops.Layout.snapshotAppend(spark, lRoot, orders.filter(col("okey") % 4 === 2))
    ops.Layout.snapshotAppend(spark, rRoot, cust.filter(col("custkey") % 3 === 0))
    ops.Layout.maintainJoinView(spark, lRoot, rRoot, vRoot, "custkey")
    check("both-sides delta")
    // the incremental runs really appended (never overwrote) the view
    assert(ops.Layout.snapshotVersions(spark, vRoot).size === 4)
    val vFiles = ops.Layout.readSnapshot(spark, vRoot).inputFiles.toSet
    ops.Layout.snapshotVersions(spark, vRoot).dropRight(1).foreach { v =>
      val old = ops.Layout.readSnapshot(spark, vRoot, v).inputFiles.toSet
      assert(old.subsetOf(vFiles), "view lineage must be append-only")
    }
    // no-op rerun publishes nothing
    val before = ops.Layout.snapshotVersions(spark, vRoot)
    ops.Layout.maintainJoinView(spark, lRoot, rRoot, vRoot, "custkey")
    assert(ops.Layout.snapshotVersions(spark, vRoot) === before)
    // a MOR delete on the right breaks append lineage → full-recompute
    // fallback, view reflects the removals
    val delKeys = cust.filter(col("custkey") % 10 === 1)
      .select(col("custkey")).collect().map(_.getLong(0))
    assert(delKeys.nonEmpty)
    ops.Layout.snapshotDeleteMOR(spark, rRoot, "custkey", delKeys)
    ops.Layout.maintainJoinView(spark, lRoot, rRoot, vRoot, "custkey")
    check("after right-side MOR delete fallback")
    // last append (okey % 4 === 3): incremental again after the fallback
    ops.Layout.snapshotAppend(spark, lRoot, orders.filter(col("okey") % 4 === 3))
    ops.Layout.maintainJoinView(spark, lRoot, rRoot, vRoot, "custkey")
    check("incremental after fallback")
  }
}

/** Model-based randomized check of the snapshot layer: random
  * append / MOR-delete / compact sequences must match a driver-side
  * multiset model at EVERY committed version (time travel included),
  * and the sum-view maintainer must track the head through every step.
  * Interaction bugs (delete-then-reinsert scoping, delete-then-compact,
  * back-to-back deletes) hide exactly in sequences no hand-written
  * scenario enumerates.
  */
class SnapshotModelSpec extends GraftSuite {
  test("random op sequences: every version reads its model state; the maintained view tracks the head") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260814L)
    for (trial <- 0 until 2) {
      val root = java.nio.file.Files.createTempDirectory(s"graft-model$trial").toString
      val viewRoot = java.nio.file.Files.createTempDirectory(s"graft-modelv$trial").toString
      // model: multiset of (key, v); history: model state per version
      var model = Vector.empty[(Long, Long)]
      val history = scala.collection.mutable.Map.empty[Int, Vector[(Long, Long)]]
      def appendOp(): Unit = {
        val rows = Vector.fill(5 + rnd.nextInt(20))(
          (rnd.nextInt(40).toLong, rnd.nextInt(1000).toLong))
        val v = ops.Layout.snapshotAppend(spark, root, rows.toDF("key", "v"))
        model = model ++ rows
        history(v) = model
      }
      def deleteOp(): Unit = {
        val keys = model.map(_._1).distinct.filter(_ => rnd.nextBoolean()).toArray
        if (keys.isEmpty) return
        val v = ops.Layout.snapshotDeleteMOR(spark, root, "key", keys)
        model = model.filterNot(r => keys.contains(r._1))
        history(v) = model
      }
      def compactOp(): Unit = {
        val v = ops.Layout.snapshotCompact(spark, root, targetBytes = 1L << 22)
        history(v) = model // content unchanged
      }
      def checkHead(tag: String): Unit = {
        val got = ops.Layout.readSnapshot(spark, root)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toVector.sorted
        assert(got === model.sorted, s"trial $trial $tag: head diverged from model")
      }
      appendOp() // v1 always exists
      checkHead("v1")
      for (step <- 0 until 8) {
        rnd.nextInt(4) match {
          case 0 | 1 => appendOp()
          case 2 => deleteOp()
          case 3 => compactOp()
        }
        checkHead(s"step $step")
        ops.Layout.maintainSumView(spark, root, viewRoot, "key", "v")
        val wantView = model.groupBy(_._1).view
          .mapValues(rs => (rs.map(_._2).sum.toDouble, rs.size.toLong)).toMap
        val gotView = ops.Layout.readSnapshot(spark, viewRoot)
          .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
        assert(gotView === wantView, s"trial $trial step $step: view diverged")
      }
      // time travel: EVERY committed version still reads its recorded state
      history.foreach { case (v, m) =>
        val got = ops.Layout.readSnapshot(spark, root, v)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toVector.sorted
        assert(got === m.sorted, s"trial $trial: version $v diverged from its model")
      }
    }
  }
}
