package graft

import org.apache.spark.sql.functions._
import graft.ops.Layout

/** The round-9 manifest layer: per-file column stats recorded at commit
  * (pruning without parquet-footer I/O), O(delta) segmented commits,
  * the DataFrame changelog interface, and partitioned snapshot reads.
  */
class ManifestV2Spec extends GraftSuite {

  private def freshRoot(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-$tag").toString + "/t"

  private def ordersBase = Tables(spark, sf, "orders")
    .select(col("o_orderkey").as("key"),
      col("o_totalprice").cast("double").as("price"))
    .repartitionByRange(8, col("key")).sortWithinPartitions(col("key"))

  test("stats-bearing table: MERGE pruning does ZERO parquet-footer reads") {
    val root = freshRoot("stats")
    Layout.snapshotAppend(spark, root, ordersBase, statsKey = Some("key"))
    val before = Layout.readSnapshot(spark, root)
    val maxKey = before.agg(max(col("key"))).head().getLong(0)
    val keys = Array.range(1, (maxKey / 10).toInt, 13).map(_.toLong)
    import spark.implicits._
    val f0 = Layout.footerReads.get()
    val v = Layout.snapshotMergeKeys(spark, root, "key", keys.toSeq.toDF("key"),
      touched => touched.withColumn("price",
        when(col("key").isin(keys.map(Long.box): _*), col("price") * 2)
          .otherwise(col("price"))))
    // the pruning decision AND the stats of the rewritten files both
    // priced... no: the new files' stats are one footer pass (commit
    // cost); the PRUNE itself must be free. Assert the delta is exactly
    // the new files' count — not one footer more.
    val newFiles = Layout.readSnapshot(spark, root, v).inputFiles
      .count(_.contains(s"/data/v$v-"))
    assert(Layout.footerReads.get() - f0 == newFiles,
      s"pruning must read no footers beyond the ${newFiles} new files' " +
        s"commit-time stats (saw ${Layout.footerReads.get() - f0})")
    // correctness: doubled keys in range, untouched keys identical
    val after = Layout.readSnapshot(spark, root, v)
    val expect = before.withColumn("price",
      when(col("key").isin(keys.map(Long.box): _*), col("price") * 2)
        .otherwise(col("price")))
    assert(after.exceptAll(expect).isEmpty && expect.exceptAll(after).isEmpty)
  }

  test("multi-column stats: pruning on EITHER declared column reads zero footers") {
    val root = freshRoot("mstats")
    val base = Tables(spark, sf, "orders")
      .select(col("o_orderkey").as("key"), col("o_custkey").as("cust"),
        col("o_totalprice").cast("double").as("price"))
      .repartitionByRange(8, col("key")).sortWithinPartitions(col("key"))
    Layout.snapshotAppend(spark, root, base, statsKey = Some("key,cust"))
    for (kc <- Seq("key", "cust")) {
      val f0 = Layout.footerReads.get()
      val ranges = Layout.snapshotKeyRanges(spark, root,
        Layout.snapshotVersions(spark, root).last, kc)
      assert(Layout.footerReads.get() == f0,
        s"$kc ranges must come from the manifest, not footers")
      assert(ranges.size == Layout.readSnapshot(spark, root).inputFiles.length)
    }
    // key-clustered layout: key ranges tile disjointly, cust ranges
    // (unclustered) overlap — both recorded faithfully per file
    val keyRanges = Layout.snapshotKeyRanges(spark, root, 1, "key")
      .map { case (_, mn, mx) => (mn, mx) }.sortBy(_._1)
    assert(keyRanges.sliding(2).forall {
      case Seq((_, mx1), (mn2, _)) => mx1 < mn2
      case _ => true
    }, s"clustered key ranges must tile: $keyRanges")
    // an undeclared column still prunes correctly via the footer fallback
    val f1 = Layout.footerReads.get()
    val pr = Layout.snapshotKeyRanges(spark, root, 1, "price")
    assert(Layout.footerReads.get() - f1 == pr.size,
      "undeclared column falls back to one footer per file")
    // merge on the SECOND declared column: zero footer reads for pruning
    val custs = Layout.readSnapshot(spark, root)
      .filter(col("cust") % 17 === 1).select(col("cust"))
      .limit(5).collect().map(_.getLong(0))
    import spark.implicits._
    val f2 = Layout.footerReads.get()
    val v = Layout.snapshotMergeKeys(spark, root, "cust", custs.toSeq.toDF("cust"),
      touched => touched.withColumn("price",
        when(col("cust").isin(custs.map(Long.box): _*), col("price") * 2)
          .otherwise(col("price"))))
    val newFiles = Layout.readSnapshot(spark, root, v).inputFiles
      .count(_.contains(s"/data/v$v-"))
    assert(Layout.footerReads.get() - f2 == newFiles,
      "cust-column pruning must be manifest-served")
    val expect = Layout.readSnapshot(spark, root, 1).withColumn("price",
      when(col("cust").isin(custs.map(Long.box): _*), col("price") * 2)
        .otherwise(col("price")))
    val after = Layout.readSnapshot(spark, root, v)
    assert(after.exceptAll(expect).isEmpty && expect.exceptAll(after).isEmpty)
  }

  test("stat-less table: the same MERGE falls back to footer reads and stays exact") {
    val root = freshRoot("nostats")
    Layout.snapshotAppend(spark, root, ordersBase) // no statsKey
    val before = Layout.readSnapshot(spark, root)
    val nFiles = before.inputFiles.length
    val keys = Array(1L, 2L, 3L)
    import spark.implicits._
    val f0 = Layout.footerReads.get()
    val v = Layout.snapshotMergeKeys(spark, root, "key", keys.toSeq.toDF("key"),
      touched => touched.withColumn("price",
        when(col("key").isin(keys.map(Long.box): _*), col("price") * 2)
          .otherwise(col("price"))))
    // fallback: one footer per base file (pruning) + commit-time stats
    // of the new files are NOT computed (table has no statsKey)
    assert(Layout.footerReads.get() - f0 == nFiles,
      s"stat-less pruning reads one footer per base file ($nFiles), " +
        s"saw ${Layout.footerReads.get() - f0}")
    val after = Layout.readSnapshot(spark, root, v)
    val expect = before.withColumn("price",
      when(col("key").isin(keys.map(Long.box): _*), col("price") * 2)
        .otherwise(col("price")))
    assert(after.exceptAll(expect).isEmpty && expect.exceptAll(after).isEmpty)
  }

  test("distributed footer fallback (>32 files) agrees with the driver loop") {
    val dir = java.nio.file.Files.createTempDirectory("graft-dist").toString
    Tables(spark, sf, "orders")
      .select(col("o_orderkey"), col("o_totalprice"))
      .repartitionByRange(40, col("o_orderkey"))
      .write.mode("overwrite").parquet(dir)
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath).toSeq
    assert(files.size > 32, s"need >32 files to exercise the job path, got ${files.size}")
    val viaJob = Layout.fileStatsOf(spark, files, "o_orderkey")
      .map(s => s.path -> ((s.min, s.max, s.rows))).toMap
    val viaLoop = files.grouped(8).flatMap(g =>
      Layout.fileStatsOf(spark, g, "o_orderkey")).map(
      s => s.path -> ((s.min, s.max, s.rows))).toMap
    assert(viaJob == viaLoop)
    // ranges tile the keyspace disjointly (range-partitioned write)
    val sorted = viaJob.values.toSeq.sortBy(_._1)
    assert(sorted.sliding(2).forall {
      case Seq((_, mx1, _), (mn2, _, _)) => mx1 < mn2
      case _ => true
    })
  }

  test("O(delta) commits: per-append metadata is O(new files), not O(table)") {
    val root = freshRoot("delta")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def manifestBytes(v: Int): Long = fs.getFileStatus(
      new org.apache.hadoop.fs.Path(s"$root/_manifests/v$v.manifest")).getLen
    def segsBytes(): Map[String, Long] = {
      val d = new org.apache.hadoop.fs.Path(s"$root/_manifests/segs")
      if (!fs.exists(d)) Map.empty
      else fs.listStatus(d).map(s => s.getPath.getName -> s.getLen).toMap
    }
    val batch = Tables(spark, sf, "orders").limit(500)
      .select(col("o_orderkey").as("key"), col("o_totalprice").cast("double").as("price"))
      .repartition(4)
    var perCommitSegBytes = Vector.empty[Long]
    var segsBefore = segsBytes()
    for (_ <- 1 to 12) {
      Layout.snapshotAppend(spark, root, batch, statsKey = Some("key"))
      val now = segsBytes()
      val added = (now.keySet -- segsBefore.keySet).toSeq.map(now)
      assert(added.size == 1, s"each append writes exactly ONE new segment, got ${added.size}")
      perCommitSegBytes :+= added.sum
      segsBefore = now
    }
    // the segment payload per append is constant (4 files each time):
    // late appends may not write more file metadata than early ones
    assert(perCommitSegBytes.last <= perCommitSegBytes.head * 2,
      s"per-append segment bytes grew with table size: $perCommitSegBytes")
    // the manifest body inlines NO file paths — only headers + seg refs —
    // so it grows one ~20-byte line per version, not one per file
    val body = {
      val in = fs.open(new org.apache.hadoop.fs.Path(s"$root/_manifests/v12.manifest"))
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    }
    assert(body.forall(l => l.startsWith("#") || l.startsWith("seg:")),
      s"v12 manifest must hold only headers and seg refs:\n${body.mkString("\n")}")
    assert(body.count(_.startsWith("seg:")) == 12)
    assert(manifestBytes(12) < 1000,
      s"12-version manifest stays metadata-light, got ${manifestBytes(12)}B")
    // and the table still reads exactly: 12 appended batches
    assert(Layout.readSnapshot(spark, root).count() == batch.count() * 12)
  }

  test("vacuum reclaims segments exactly: shared segs survive, orphaned chains die") {
    val root = freshRoot("segvac")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def nSegs: Int = fs.listStatus(
      new org.apache.hadoop.fs.Path(s"$root/_manifests/segs")).length
    val batch = Tables(spark, sf, "nation").select(col("n_nationkey").as("key"))
    for (_ <- 1 to 5) Layout.snapshotAppend(spark, root, batch.coalesce(1))
    assert(nSegs == 5)
    // keep=1 retains v5, which references ALL five segments — none die
    Layout.vacuumSnapshots(spark, root, keep = 1)
    assert(nSegs == 5, "segments referenced by the kept head must survive")
    assert(Layout.readSnapshot(spark, root).count() == batch.count() * 5)
    // an overwrite starts a fresh chain; vacuum keep=1 then orphans all
    // five old segments and reclaims them with the old data files
    Layout.snapshotOverwrite(spark, root, batch.coalesce(1))
    Layout.vacuumSnapshots(spark, root, keep = 1)
    assert(nSegs == 1, s"overwrite + vacuum must leave only the head's segment, got $nSegs")
    assert(Layout.readSnapshot(spark, root).count() == batch.count())
  }

  test("snapshotMergeKeys (DataFrame changelog) rewrites exactly the files whose key ranges hold a changelog key") {
    import spark.implicits._
    val root = freshRoot("mk")
    Layout.snapshotAppend(spark, root, ordersBase, statsKey = Some("key"))
    val keys = Seq(5L, 7L, 11L, 13L, 9999999L) // incl. a no-match insert key
    def norm(f: String) = new org.apache.hadoop.fs.Path(f).toUri.getPath
    // the touched set the per-file ranges predict
    val owning = Layout.snapshotKeyRanges(spark, root, 1, "key")
      .filter { case (_, mn, mx) => keys.exists(k => mn <= k && k <= mx) }
    val predicted = owning.map(r => norm(r._1)).toSet
    val v = Layout.snapshotMergeKeys(spark, root, "key", keys.toDF("k"),
      touched => touched.withColumn("price", col("price") + 1))
    def files(version: Int) = Layout.readSnapshot(spark, root, version)
      .inputFiles.map(norm).toSet
    val (v1Files, vFiles) = (files(1), files(v))
    val carried = v1Files.intersect(vFiles)
    assert(v1Files -- carried == predicted,
      s"rewritten files ${v1Files -- carried} != range-predicted $predicted")
    assert(carried == v1Files -- predicted)
    assert(carried.nonEmpty, "a localized changelog must leave untouched files")
    // the rewrite saw exactly the rows of the touched files
    val inTouched = owning.map { case (_, mn, mx) => col("key").between(mn, mx) }
      .reduce(_ || _)
    val expect = Layout.readSnapshot(spark, root, 1).withColumn("price",
      when(inTouched, col("price") + 1).otherwise(col("price")))
    val after = Layout.readSnapshot(spark, root, v)
    assert(after.exceptAll(expect).isEmpty && expect.exceptAll(after).isEmpty)
  }

  test("partitioned snapshot: pruned read ≡ filtered read, inputFiles excludes other partitions") {
    val root = freshRoot("part")
    val base = Tables(spark, sf, "orders")
      .select(col("o_orderkey").as("key"),
        col("o_totalprice").cast("double").as("price"),
        col("o_orderstatus").as("status"))
    // per-status ingest batches (the shape a partitioned feed arrives
    // in): each append's files are value-pure, so the pruning assertion
    // below is exact, not hash-layout-dependent
    for (s <- Seq("O", "F", "P"))
      Layout.snapshotAppendPartitioned(spark, root,
        base.filter(col("status") === s), "status")
    val full = Layout.readSnapshot(spark, root)
    val pruned = Layout.readSnapshot(spark, root, partitions = Seq("F"))
    val expect = full.filter(col("status") === "F")
    assert(pruned.exceptAll(expect).isEmpty && expect.exceptAll(pruned).isEmpty)
    assert(pruned.inputFiles.length < full.inputFiles.length,
      s"partition read must open fewer files: ${pruned.inputFiles.length} vs ${full.inputFiles.length}")
    // files opened by the pruned read must actually contain partition F
    // (value-set pruning, not name matching): every kept file's recorded
    // set intersects {F} — verified the hard way, by reading them
    val onlyPruned = spark.read.parquet(pruned.inputFiles: _*)
    assert(onlyPruned.filter(col("status") === "F").count() ==
      expect.count())
    // appends keep the partition property without re-declaring it
    val v2 = Layout.snapshotAppend(spark, root,
      base.filter(col("status") === "O").limit(100))
    val pruned2 = Layout.readSnapshot(spark, root, v2, partitions = Seq("F"))
    assert(pruned2.count() == expect.count(),
      "an O-only append must not enter an F-partition read")
  }

  test("maintained bloom index: incremental per-file blooms, exact MOR-aware point lookup") {
    val root = freshRoot("bloomidx")
    val idx = freshRoot("bloomidx-i")
    // HASH layout (key % 8): every file's key range spans the keyspace —
    // the case footer min/max cannot prune and blooms exist for
    val base = Tables(spark, sf, "orders")
      .select(col("o_orderkey").as("key"),
        col("o_totalprice").cast("double").as("price"))
      .repartition(8, col("key") % 8)
    Layout.snapshotAppend(spark, root, base)
    assert(Layout.maintainBloomIndex(spark, root, idx, "key") == 1)
    val indexedOnce = Layout.readSnapshot(spark, idx)
      .select(col("file")).distinct().count()
    val someKeys = Layout.readSnapshot(spark, root)
      .filter(col("key") % 97 === 1).select(col("key"))
      .limit(3).collect().map(_.getLong(0)).toSeq
    val lk = Layout.snapshotPointLookup(spark, root, idx, "key", someKeys)
    assert(lk.scannedFiles.size < lk.totalFiles,
      s"bloom must prune a hash layout: scanned ${lk.scannedFiles.size}/${lk.totalFiles}")
    val expect = Layout.readSnapshot(spark, root)
      .filter(col("key").isin(someKeys.map(Long.box): _*))
    assert(lk.result.exceptAll(expect).isEmpty && expect.exceptAll(lk.result).isEmpty)
    // append a batch → maintenance indexes ONLY the new files
    Layout.snapshotAppend(spark, root,
      base.filter(col("key") % 5 === 0)
        .withColumn("key", col("key") + 100000000L).coalesce(2))
    Layout.maintainBloomIndex(spark, root, idx, "key")
    val indexedNow = Layout.readSnapshot(spark, idx)
      .select(col("file")).distinct().count()
    assert(indexedNow > indexedOnce && indexedNow <= indexedOnce + 2,
      s"incremental run must add only the appended files' blooms ($indexedOnce -> $indexedNow)")
    // a re-run with nothing new appends nothing (idempotent maintainer)
    val idxVs = Layout.snapshotVersions(spark, idx)
    Layout.maintainBloomIndex(spark, root, idx, "key")
    assert(Layout.snapshotVersions(spark, idx) == idxVs)
    // MOR delete composes: deleted keys vanish from the lookup result
    Layout.snapshotDeleteMOR(spark, root, "key", Array(someKeys.head))
    val lk2 = Layout.snapshotPointLookup(spark, root, idx, "key", someKeys)
    val expect2 = Layout.readSnapshot(spark, root)
      .filter(col("key").isin(someKeys.map(Long.box): _*))
    assert(lk2.result.exceptAll(expect2).isEmpty &&
      expect2.exceptAll(lk2.result).isEmpty)
    assert(lk2.result.filter(col("key") === someKeys.head).count() == 0)
    // absent key: lookup scans (almost) nothing and returns empty
    val lk3 = Layout.snapshotPointLookup(spark, root, idx, "key",
      Seq(999999999L))
    assert(lk3.result.count() == 0)
    assert(lk3.scannedFiles.size <= 2,
      s"absent key must scan ~no files (FPP), scanned ${lk3.scannedFiles.size}")
  }

  test("range read: narrow range on a clustered table opens only overlapping files") {
    val root = freshRoot("range")
    Layout.snapshotAppend(spark, root, ordersBase, statsKey = Some("key"))
    val full = Layout.readSnapshot(spark, root)
    val maxKey = full.agg(max(col("key"))).head().getLong(0)
    val (lo, hi) = (maxKey / 2, maxKey / 2 + maxKey / 16)
    val f0 = Layout.footerReads.get()
    val ranged = Layout.readSnapshotRange(spark, root, "key", lo, hi)
    assert(Layout.footerReads.get() == f0, "range pruning must be manifest-served")
    assert(ranged.inputFiles.length < full.inputFiles.length,
      s"narrow range must open fewer files: ${ranged.inputFiles.length}/${full.inputFiles.length}")
    val expect = full.filter(col("key") >= lo && col("key") <= hi)
    assert(ranged.exceptAll(expect).isEmpty && expect.exceptAll(ranged).isEmpty)
    // MOR composes: delete a key inside the range, the range read drops it
    Layout.snapshotDeleteMOR(spark, root, "key",
      Array(expect.agg(min(col("key"))).head().getLong(0)))
    val ranged2 = Layout.readSnapshotRange(spark, root, "key", lo, hi)
    assert(ranged2.count() == expect.count() - 1)
    // stat-less table: degrades to the plain filtered read (no pruning,
    // same rows)
    val root2 = freshRoot("range2")
    Layout.snapshotAppend(spark, root2, ordersBase)
    val r2 = Layout.readSnapshotRange(spark, root2, "key", lo, hi)
    assert(r2.inputFiles.length ==
      Layout.readSnapshot(spark, root2).inputFiles.length)
    assert(r2.exceptAll(expect).isEmpty && expect.exceptAll(r2).isEmpty)
  }

  test("snapshotRowCount: metadata-only on stats-bearing tables, fallback on MOR debt") {
    val root = freshRoot("rowcnt")
    Layout.snapshotAppend(spark, root, ordersBase, statsKey = Some("key"))
    val want = Layout.readSnapshot(spark, root).count()
    val f0 = Layout.footerReads.get()
    assert(Layout.snapshotRowCount(spark, root) == want)
    assert(Layout.footerReads.get() == f0, "stats-bearing count is metadata-only")
    // MOR debt: manifest arithmetic would over-count — falls back exactly
    Layout.snapshotDeleteMOR(spark, root, "key", Array(1L, 2L, 3L))
    assert(Layout.snapshotRowCount(spark, root) ==
      Layout.readSnapshot(spark, root).count())
    // time travel still metadata-only on the pre-delete version
    assert(Layout.snapshotRowCount(spark, root, 1) == want)
  }

  test("snapshotTable: Catalyst pushes filters into manifest pruning (stats, IN, partition, conjunction)") {
    val root = freshRoot("cattab")
    val base = Tables(spark, sf, "orders")
      .select(col("o_orderkey").as("key"),
        col("o_custkey").as("cust"),
        col("o_totalprice").cast("double").as("price"),
        col("o_orderstatus").as("part"))
    // clustered on key, stats on key+cust, partitioned by status
    for (s <- Seq("O", "F", "P"))
      Layout.snapshotAppendPartitioned(spark, root,
        base.filter(col("part") === s)
          .repartitionByRange(4, col("key")).sortWithinPartitions(col("key")),
        "part", statsKey = Some("key,cust"), shuffleByPartition = false)
    val plain = Layout.readSnapshot(spark, root)
    val maxKey = plain.agg(max(col("key"))).head().getLong(0)
    val (df, idx) = Layout.snapshotTableWithIndex(spark, root)
    val total = idx.inputFiles.length

    def checkPruned(filtered: org.apache.spark.sql.DataFrame,
        expect: org.apache.spark.sql.DataFrame, tag: String): Unit = {
      assert(filtered.exceptAll(expect).isEmpty &&
        expect.exceptAll(filtered).isEmpty, s"$tag: rows diverged")
      assert(idx.lastListedFiles < total,
        s"$tag: expected pruning, listed ${idx.lastListedFiles}/$total")
    }
    // BETWEEN on the clustered stats column
    checkPruned(
      df.filter(col("key") >= maxKey / 2 && col("key") <= maxKey / 2 + maxKey / 16),
      plain.filter(col("key") >= maxKey / 2 && col("key") <= maxKey / 2 + maxKey / 16),
      "between")
    // IN on the stats column
    checkPruned(df.filter(col("key").isin(1L, 2L, 3L)),
      plain.filter(col("key").isin(1L, 2L, 3L)), "in")
    // equality on the PARTITION column
    checkPruned(df.filter(col("part") === "F"),
      plain.filter(col("part") === "F"), "partition")
    // conjunction across BOTH pruning dimensions
    checkPruned(df.filter(col("part") === "F" && col("key") <= maxKey / 8),
      plain.filter(col("part") === "F" && col("key") <= maxKey / 8), "conj")
    // a non-provable predicate keeps every file and stays correct
    // (pmod survives the optimizer — key+0 would constant-fold to a
    // provable key=5 and legitimately prune)
    val hard = df.filter(pmod(col("key"), lit(97L)) === 5L)
    val hardExpect = plain.filter(pmod(col("key"), lit(97L)) === 5L)
    assert(hard.exceptAll(hardExpect).isEmpty &&
      hardExpect.exceptAll(hard).isEmpty)
    assert(idx.lastListedFiles == total,
      "an unprovable predicate must keep every file (conservative)")
    // unfiltered scan equals the plain read; aggregation rides the scan
    assert(df.count() == plain.count())
    assert(df.agg(sum(col("price"))).head().getDouble(0) ==
      plain.agg(sum(col("price"))).head().getDouble(0))
    // MOR debt refuses loudly
    Layout.snapshotDeleteMOR(spark, root, "key", Array(1L))
    intercept[IllegalArgumentException] {
      Layout.snapshotTable(spark, root)
    }
  }

  test("string-column stats: date-string ranges prune through Catalyst; ASCII guard holds") {
    val root = freshRoot("strstats")
    val base = Tables(spark, sf, "orders")
      .select(col("o_orderkey").as("key"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("d"),
        col("o_totalprice").cast("double").as("price"))
      .repartitionByRange(8, col("d")).sortWithinPartitions(col("d"))
    Layout.snapshotAppend(spark, root, base, statsKey = Some("d,key"))
    val plain = Layout.readSnapshot(spark, root)
    val (df, idx) = Layout.snapshotTableWithIndex(spark, root)
    val total = idx.inputFiles.length
    // a narrow slice of the date-clustered corpus (middle ~10% of the
    // distinct days): the everyday time-range query, pruned from string
    // stats
    val days = plain.select(col("d")).distinct().orderBy(col("d"))
      .collect().map(_.getString(0))
    val (lo, hi) = (days(days.length * 45 / 100), days(days.length * 55 / 100))
    val f = df.filter(col("d") >= lo && col("d") < hi)
    val expect = plain.filter(col("d") >= lo && col("d") < hi)
    assert(f.exceptAll(expect).isEmpty && expect.exceptAll(f).isEmpty)
    assert(idx.lastListedFiles < total,
      s"date-string range must prune: ${idx.lastListedFiles}/$total")
    assert(f.count() > 0, "the slice must be non-empty for the test to mean anything")
    // equality on the string column prunes too
    val day = expect.agg(min(col("d"))).head().getString(0)
    val eq = df.filter(col("d") === day)
    assert(eq.count() == plain.filter(col("d") === day).count())
    assert(idx.lastListedFiles < total)
    // non-ASCII values: bounds are withheld (the collation guard), the
    // file never prunes on that column, rows stay exact
    val root2 = freshRoot("strstats2")
    import spark.implicits._
    Layout.snapshotAppend(spark, root2,
      Seq(("héllo", 1L), ("wörld", 2L), ("plain", 3L)).toDF("s", "k").coalesce(1),
      statsKey = Some("s"))
    val (df2, idx2) = Layout.snapshotTableWithIndex(spark, root2)
    assert(df2.filter(col("s") === "zzz").count() == 0)
    assert(idx2.lastListedFiles == idx2.inputFiles.length,
      "non-ASCII bounds must withhold pruning (conservative)")
    assert(df2.filter(col("s") === "wörld").count() == 1)
  }

  test("type guards: date partitions and fractional stats columns never mis-prune") {
    import spark.implicits._
    // TIMESTAMP-typed partition column: internal literals (micros)
    // can never match the recorded cast-to-string values — pruning must
    // not engage, rows must be exact
    val root = freshRoot("dateguard")
    val base = Tables(spark, sf, "orders")
      .select(col("o_orderkey").as("key"), col("o_orderdate").as("d"),
        col("o_totalprice").cast("double").as("price"))
    Layout.snapshotAppendPartitioned(spark, root, base, "d")
    val (df, idx) = Layout.snapshotTableWithIndex(spark, root)
    val day = base.agg(min(col("d"))).head().getTimestamp(0)
    val got = df.filter(col("d") === lit(day)).count()
    val want = base.filter(col("d") === lit(day)).count()
    assert(want > 0 && got == want,
      s"date-partition equality must return all $want rows, got $got")
    // FRACTIONAL stats column: declared on a double — commit records the
    // conservative full range, the index refuses fractional bounds, and
    // a x.5 threshold loses no rows
    val root2 = freshRoot("fracguard")
    Layout.snapshotAppend(spark, root2,
      Seq((1L, 10.2), (2L, 10.6), (3L, 10.8)).toDF("key", "price").coalesce(1),
      statsKey = Some("key,price"))
    val (df2, idx2) = Layout.snapshotTableWithIndex(spark, root2)
    assert(df2.filter(col("price") > 10.5).count() == 2,
      "rows above a fractional threshold must survive")
    assert(idx2.lastListedFiles == idx2.inputFiles.length,
      "a fractional column must never prune")
    // integral pruning on the same table's long column still works
    assert(df2.filter(col("key") === 2L).count() == 1)
  }

  test("claim protocol: owned stale claims replay (ST29); foreign claims lose; vacuum grace protects in-flight claims") {
    import spark.implicits._
    val root = freshRoot("claims")
    val rows = Seq((1L, "a"), (2L, "b")).toDF("key", "tag")
    Layout.snapshotAppendIdempotent(spark, root, rows, 0L, writerId = "w1")
    // simulate a crash between claim and rename for epoch 1: the claim
    // exists with w1's token, no v2 manifest behind it
    val claim = java.nio.file.Paths.get(s"$root/_manifests/v2.claim")
    java.nio.file.Files.write(claim, "w1".getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.CREATE_NEW)
    // the SAME writer's replay reclaims and commits (no deadlock)
    assert(Layout.snapshotAppendIdempotent(spark, root, rows, 1L,
      writerId = "w1") == 2)
    assert(Layout.readSnapshot(spark, root).count() == 4)
    // a FOREIGN stale claim is a lost race for an anonymous writer
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$root/_manifests/v3.claim"),
      "someone-else".getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.CREATE_NEW)
    intercept[IllegalStateException] {
      Layout.snapshotAppend(spark, root, rows)
    }
    // vacuum's claim grace: the fresh orphan claim SURVIVES the default
    // sweep (an in-flight commit must never lose its claim)...
    Layout.vacuumOrphanFiles(spark, root)
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$root/_manifests/v3.claim")))
    // ...but an AGED one is reclaimed (backdate past the grace period)
    java.nio.file.Files.setLastModifiedTime(
      java.nio.file.Paths.get(s"$root/_manifests/v3.claim"),
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - Layout.ClaimGraceMillis - 60000))
    Layout.vacuumOrphanFiles(spark, root)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$root/_manifests/v3.claim")))
    // and the table is writable again
    assert(Layout.snapshotAppend(spark, root, rows) == 3)
  }

  test("bloom lookup: duplicate index rows from overlapping maintenance cause NO false negatives") {
    val root = freshRoot("bloomdup")
    val idx = freshRoot("bloomdup-i")
    val base = Tables(spark, sf, "orders")
      .select(col("o_orderkey").as("key"),
        col("o_totalprice").cast("double").as("price"))
      .repartition(8, col("key") % 8)
    Layout.snapshotAppend(spark, root, base)
    Layout.maintainBloomIndex(spark, root, idx, "key")
    // OVERLAPPING MAINTENANCE: a second run whose have-set read raced
    // the first run's append commits the SAME (file, w, bits) rows
    // again. Reproduce its exact effect: append the index to itself.
    Layout.snapshotAppend(spark, idx, Layout.readSnapshot(spark, idx)
      .select(col("file"), col("w"), col("bits"), col("base_version")))
    val dups = Layout.readSnapshot(spark, idx)
      .groupBy(col("file"), col("w")).count().filter(col("count") > 1).count()
    assert(dups > 0, "precondition: the index must actually hold duplicates")
    val someKeys = Layout.readSnapshot(spark, root)
      .filter(col("key") % 97 === 1).select(col("key"))
      .limit(5).collect().map(_.getLong(0)).toSeq
    val lk = Layout.snapshotPointLookup(spark, root, idx, "key", someKeys)
    val expect = Layout.readSnapshot(spark, root)
      .filter(col("key").isin(someKeys.map(Long.box): _*))
    assert(expect.count() > 0, "precondition: probes must have real hits")
    // the operator's contract: duplicates may cost scans, never rows
    assert(lk.result.exceptAll(expect).isEmpty &&
      expect.exceptAll(lk.result).isEmpty,
      "duplicate (file, w) index rows must not prune a true hit")
    assert(lk.scannedFiles.size < lk.totalFiles,
      "dedup'd bits must still prune non-matching files")
  }

  test("claim protocol: non-atomic-create scheme refuses loudly; opt-in conf proceeds") {
    import spark.implicits._
    spark.sparkContext.hadoopConfiguration
      .set("fs.stall.impl", classOf[StallFs].getName)
    val root = "stall:" +
      java.nio.file.Files.createTempDirectory("graft-stallfs").toString + "/t"
    val rows = Seq((1L, "a"), (2L, "b")).toDF("key", "tag")
    // `stall` is not in the atomic-create allowlist: the commit must
    // refuse with an error naming the hazard and the opt-in conf —
    // never silently claim over HEAD-then-PUT semantics
    val ex = intercept[IllegalStateException] {
      Layout.snapshotAppend(spark, root, rows)
    }
    assert(ex.getMessage.contains("atomic version claim") &&
      ex.getMessage.contains("assumeAtomicClaim"))
    try {
      spark.conf.set("spark.graft.commit.assumeAtomicClaim", "true")
      assert(Layout.snapshotAppend(spark, root, rows) == 1)
      assert(Layout.readSnapshot(spark, root).count() == 2)
    } finally spark.conf.set("spark.graft.commit.assumeAtomicClaim", "false")
  }

  test("stalled-writer guard: a swept-and-re-claimed version aborts before rename, never clobbers") {
    import spark.implicits._
    spark.sparkContext.hadoopConfiguration
      .set("fs.stall.impl", classOf[StallFs].getName)
    val root = "stall:" +
      java.nio.file.Files.createTempDirectory("graft-stallwr").toString + "/t"
    val rows = Seq((1L, "a"), (2L, "b")).toDF("key", "tag")
    try {
      spark.conf.set("spark.graft.commit.assumeAtomicClaim", "true")
      Layout.snapshotAppend(spark, root, rows)
      // Writer A claims v2, then STALLS past the grace period; vacuum
      // sweeps the claim and writer B re-claims the version. The hook
      // runs at exactly that point in A's timeline — between its
      // claim-create and its pre-rename re-read — replacing A's token
      // with B's, as the sweep + re-claim would.
      StallFs.onClaimOpen = p =>
        java.nio.file.Files.write(
          java.nio.file.Paths.get(p.toUri.getPath),
          "writer-B".getBytes("UTF-8"))
      val ex = intercept[IllegalStateException] {
        Layout.snapshotAppend(spark, root, rows)
      }
      assert(ex.getMessage.contains("swept or re-claimed"))
      // A renamed NOTHING: v1 is intact, no v2 manifest appeared
      assert(Layout.snapshotVersions(spark, root) == Seq(1))
      assert(Layout.readSnapshot(spark, root).count() == 2)
      // once the foreign claim ages out (vacuum grace), the version
      // commits normally — the abort poisoned nothing
      java.nio.file.Files.delete(java.nio.file.Paths.get(
        new org.apache.hadoop.fs.Path(s"$root/_manifests/v2.claim")
          .toUri.getPath))
      assert(Layout.snapshotAppend(spark, root, rows) == 2)
      assert(Layout.readSnapshot(spark, root).count() == 4)
    } finally {
      StallFs.onClaimOpen = null
      spark.conf.set("spark.graft.commit.assumeAtomicClaim", "false")
    }
  }

  test("unsigned-int guard: wide unsigned records the sentinel, NARROW unsigned records exact bounds") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType, Types}
    val dir = java.nio.file.Files.createTempDirectory("graft-uint").toString
    // UINT_16 rides INT32 with headroom — can never sign-wrap, footer
    // bounds exact; UINT_32 fills INT32 — 3e9 stores as a negative raw
    // int, bounds inverted, must fall to the conservative sentinel
    val schema = Types.buildMessage()
      .required(PrimitiveType.PrimitiveTypeName.INT32)
        .as(LogicalTypeAnnotation.intType(16, false)).named("u16")
      .required(PrimitiveType.PrimitiveTypeName.INT32)
        .as(LogicalTypeAnnotation.intType(32, false)).named("u32")
      .named("rec")
    val p = new org.apache.hadoop.fs.Path(s"$dir/u.parquet")
    val w = ExampleParquetWriter.builder(p).withType(schema)
      .withConf(spark.sessionState.newHadoopConf()).build()
    val gf = new SimpleGroupFactory(schema)
    for (v <- Seq(5, 60000)) {
      val g = gf.newGroup()
      g.add("u16", v)
      g.add("u32", (3000000000L + v).toInt) // > Int.MaxValue as unsigned
      w.write(g)
    }
    w.close()
    val ms = Layout.fileMultiStatsOf(spark, Seq(p.toString), Seq("u16", "u32")).head
    assert(ms.longCols("u16") == ((5L, 60000L)),
      "narrow unsigned (UINT_16 on INT32) bounds are exact and prunable")
    assert(ms.longCols("u32") == ((Long.MinValue, Long.MaxValue)),
      "wide unsigned (UINT_32) must record the conservative sentinel")
  }

  test("logical-type guard: decimal-backed stats record the full range, never unscaled bounds") {
    import spark.implicits._
    val root = freshRoot("decguard")
    Layout.snapshotAppend(spark, root,
      Seq((1L, BigDecimal("10.50")), (2L, BigDecimal("20.99")))
        .toDF("key", "amt")
        .select(col("key"), col("amt").cast("decimal(10,2)").as("amt"))
        .coalesce(1),
      statsKey = Some("key,amt"))
    // the decimal column's recorded range must be the conservative full
    // range — unscaled int stats (1050, 2099) would mis-prune BETWEEN 10
    // AND 20
    val ranges = Layout.snapshotKeyRanges(spark, root, 1, "amt")
    assert(ranges == Seq((ranges.head._1, Long.MinValue, Long.MaxValue)),
      s"decimal stats must be full-range: $ranges")
    // and a range read on it returns exact rows (no file pruned)
    val r = Layout.readSnapshotRange(spark, root, "key", 1L, 1L)
    assert(r.count() == 1)
  }

  test("null-count stats prune IS NULL / IS NOT NULL; metadata tables read from manifests only") {
    import spark.implicits._
    val root = freshRoot("nullstats")
    // file 1: every `v` null; file 2: no `v` null — the two poles the
    // null-count pruning rules bite on
    Layout.snapshotAppend(spark, root,
      Seq((1L, Option.empty[Long]), (2L, Option.empty[Long]))
        .toDF("key", "v").coalesce(1),
      statsKey = Some("key,v"))
    Layout.snapshotAppend(spark, root,
      Seq((3L, Some(30L)), (4L, Some(40L))).toDF("key", "v").coalesce(1))
    val (df, idx) = Layout.snapshotTableWithIndex(spark, root)
    val total = idx.inputFiles.length
    assert(df.filter(col("v").isNull).count() == 2)
    assert(idx.lastListedFiles == 1, s"IS NULL must skip the no-null file")
    assert(df.filter(col("v").isNotNull).count() == 2)
    assert(idx.lastListedFiles == 1, s"IS NOT NULL must skip the all-null file")
    assert(df.count() == 4 && idx.lastListedFiles == total)
    // metadata tables: zero data I/O, manifest-derived
    val f0 = Layout.footerReads.get()
    val hist = Layout.snapshotHistory(spark, root)
    assert(hist.count() == 2)
    assert(hist.orderBy(col("version")).collect().map(_.getInt(0)).toSeq == Seq(1, 2))
    assert(hist.filter(col("version") === 2)
      .head().getAs[Long]("recorded_rows") == 4L)
    val files = Layout.snapshotFilesTable(spark, root)
    assert(files.count() == total)
    assert(files.filter(col("rows") === 2L).count() == total)
    assert(Layout.footerReads.get() == f0, "metadata tables must not touch parquet")
  }

  test("schema evolution × stats: a file missing the stats column records the full range and stays merge-safe") {
    import spark.implicits._
    val root = freshRoot("evostats")
    Layout.snapshotAppend(spark, root,
      Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("key", "price")
        .repartitionByRange(2, col("key")),
      statsKey = Some("key"))
    // an append WITHOUT the declared stats column (schema evolution gone
    // sideways): its entries record the conservative full range instead
    // of failing or silently mis-pruning
    Layout.snapshotAppend(spark, root,
      Seq(("x", 1.0), ("y", 2.0)).toDF("tag", "price").coalesce(1))
    val f0 = Layout.footerReads.get()
    val ranges = Layout.snapshotKeyRanges(spark, root,
      Layout.snapshotVersions(spark, root).last, "key")
    assert(Layout.footerReads.get() == f0, "all entries carry stats — no footers")
    assert(ranges.count { case (_, mn, mx) =>
      mn == Long.MinValue && mx == Long.MaxValue } == 1,
      s"the key-less file must record the full range: $ranges")
    // a merge on key treats the full-range file as touched (conservative)
    // and the result is exact: key-less rows pass through the rewrite's
    // otherwise-branch with key null
    val v = Layout.snapshotMergeKeys(spark, root, "key", Seq(2L).toDF("key"),
      touched => touched.withColumn("price",
        when(col("key") === 2L, col("price") * 2).otherwise(col("price"))))
    val after = Layout.readSnapshot(spark, root, v)
    assert(after.filter(col("key") === 2L).head().getAs[Double]("price") == 40.0)
    assert(after.filter(col("key").isNull).count() == 2, "evolved rows survive")
    assert(after.count() == 5)
  }

  test("model: random op sequences over the round-9 surface — stats, partitions, merge, range/partition/bloom reads") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260814L)
    val root = freshRoot("model9")
    val idxRoot = freshRoot("model9-idx")
    // model rows: (key, part, v); part is a function of key so every
    // read predicate has a model-side mirror
    def partOf(k: Long) = "P" + (k % 3)
    var model = Vector.empty[(Long, String, Long)]
    val history = scala.collection.mutable.Map.empty[Int, Vector[(Long, String, Long)]]
    var sidecars = false
    def df(rows: Vector[(Long, String, Long)]) = rows.toDF("key", "part", "v")
    def appendOp(): Unit = {
      val rows = Vector.fill(5 + rnd.nextInt(20))(
        { val k = rnd.nextInt(400).toLong; (k, partOf(k), rnd.nextInt(1000).toLong) })
      val v = Layout.snapshotAppendPartitioned(spark, root, df(rows), "part",
        statsKey = Some("key"))
      model = model ++ rows; history(v) = model
    }
    def deleteOp(): Unit = {
      val keys = model.map(_._1).distinct.filter(_ => rnd.nextInt(4) == 0).toArray
      if (keys.isEmpty) return
      val v = Layout.snapshotDeleteMOR(spark, root, "key", keys)
      model = model.filterNot(r => keys.contains(r._1)); history(v) = model
      sidecars = true
    }
    def compactOp(): Unit = {
      val v = Layout.snapshotCompact(spark, root, targetBytes = 1L << 22)
      history(v) = model; sidecars = false
    }
    def mergeOp(): Unit = {
      if (sidecars) { compactOp() } // merge refuses sidecar debt
      val keys = model.map(_._1).distinct.filter(_ => rnd.nextInt(3) == 0)
      if (keys.isEmpty) return
      val ks = keys.toSet
      val v = Layout.snapshotMergeKeys(spark, root, "key", keys.toDF("k"),
        touched => touched.withColumn("v",
          when(col("key").isin(keys.map(Long.box): _*), col("v") + 1000)
            .otherwise(col("v"))))
      model = model.map { case r @ (k, p, x) =>
        if (ks(k)) (k, p, x + 1000) else r }
      history(v) = model
    }
    def restoreOp(): Unit = {
      val vs = Layout.snapshotVersions(spark, root)
      val target = vs(rnd.nextInt(vs.length))
      val v = Layout.snapshotRestore(spark, root, target)
      model = history(target); history(v) = model
      // the restored state's sidecar debt is the head's debt again
      sidecars = Layout.snapshotMeta(spark, root).hasDeleteSidecars
    }
    def check(tag: String): Unit = {
      def rows(d: org.apache.spark.sql.DataFrame) =
        d.select(col("key"), col("part"), col("v"))
          .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
          .toVector.sorted
      assert(rows(Layout.readSnapshot(spark, root)) == model.sorted, s"$tag: head")
      // range read mirrors the model filter
      val (lo, hi) = (50L, 250L)
      assert(rows(Layout.readSnapshotRange(spark, root, "key", lo, hi)) ==
        model.filter(r => r._1 >= lo && r._1 <= hi).sorted, s"$tag: range")
      // partition read mirrors the model filter
      val p = "P" + rnd.nextInt(3)
      assert(rows(Layout.readSnapshot(spark, root, partitions = Seq(p))) ==
        model.filter(_._2 == p).sorted, s"$tag: partition $p")
      // point lookup stays exact whether or not the index is fresh
      // (unindexed files scan conservatively); maintain on a coin flip
      if (rnd.nextBoolean()) Layout.maintainBloomIndex(spark, root, idxRoot, "key")
      val probe = model.map(_._1).distinct.take(3) :+ 999999L
      val lk = Layout.snapshotPointLookup(spark, root, idxRoot, "key", probe)
      assert(rows(lk.result) ==
        model.filter(r => probe.contains(r._1)).sorted, s"$tag: lookup")
    }
    appendOp(); check("v1")
    for (step <- 0 until 10) {
      rnd.nextInt(6) match {
        case 0 | 1 => appendOp()
        case 2 => deleteOp()
        case 3 => compactOp()
        case 4 => mergeOp()
        case 5 => restoreOp()
      }
      check(s"step $step")
    }
    history.foreach { case (v, m) =>
      val got = Layout.readSnapshot(spark, root, v)
        .select(col("key"), col("part"), col("v"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .toVector.sorted
      assert(got == m.sorted, s"version $v diverged from its model")
    }
  }

  test("ST33: bloom index rides the generic streaming maintainer exactly-once") {
    val dir = java.nio.file.Files.createTempDirectory("graft-st33").toString
    val (baseRoot, idxRoot) = (s"$dir/base", s"$dir/idx")
    val rows = Tables(spark, sf, "orders")
      .select(col("o_orderkey").as("key"),
        col("o_totalprice").cast("double").as("price"))
    val feed = Seq(
      rows.filter(col("key") % 3 === 0),
      rows.filter(col("key") % 3 === 1),
      rows.filter(col("key") % 3 === 2))
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
    val q = Layout.streamingMaintained(spark, s"$dir/in", feed.head.schema,
      baseRoot, s => { Layout.maintainBloomIndex(s, baseRoot, idxRoot, "key"); () })
    q.awaitTermination(180000)
    assert(Layout.snapshotVersions(spark, baseRoot) == Seq(1, 2, 3))
    // the index covers every base file, so a lookup across all three
    // epochs' keys is exact
    val probe = Seq(3L, 7L, 11L).filter(k =>
      Layout.readSnapshot(spark, baseRoot).filter(col("key") === k).count() > 0)
    if (probe.nonEmpty) {
      val lk = Layout.snapshotPointLookup(spark, baseRoot, idxRoot, "key", probe)
      val expect = Layout.readSnapshot(spark, baseRoot)
        .filter(col("key").isin(probe.map(Long.box): _*))
      assert(lk.result.exceptAll(expect).isEmpty &&
        expect.exceptAll(lk.result).isEmpty)
    }
    // replayed epoch body: base no-ops, index publishes nothing
    val token = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$baseRoot/ckpt/graft-writer-id")), "UTF-8").trim
    val idxBefore = Layout.snapshotVersions(spark, idxRoot)
    Layout.snapshotAppendIdempotent(spark, baseRoot, feed(1), 1L,
      writerId = token)
    Layout.maintainBloomIndex(spark, baseRoot, idxRoot, "key")
    assert(Layout.snapshotVersions(spark, idxRoot) == idxBefore)
  }

  test("temporal stats: TIMESTAMP and DATE columns prune through the manifest; INT96 lineage stays exact without pruning") {
    val root = freshRoot("tstats")
    val prevOtt = spark.conf.getOption("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try {
      val base = Tables(spark, sf, "orders")
        .select(col("o_orderkey").as("key"),
          col("o_orderdate").as("ts"),
          col("o_orderdate").cast("date").as("d"),
          col("o_totalprice").cast("double").as("price"))
        .repartitionByRange(8, col("ts")).sortWithinPartitions(col("ts"))
      Layout.snapshotAppend(spark, root, base, statsKey = Some("ts,d"))
      val (df, idx) = Layout.snapshotTableWithIndex(spark, root)
      val total = idx.inputFiles.length
      assert(total >= 4, s"need a multi-file layout (got $total)")
      val r = base.agg(min("ts"), max("ts")).head()
      val (loMs, hiMs) = (r.getTimestamp(0).getTime, r.getTimestamp(1).getTime)
      def check(cond: org.apache.spark.sql.Column): Int = {
        val got = df.filter(cond)
        val exp = base.filter(cond)
        assert(got.exceptAll(exp).isEmpty && exp.exceptAll(got).isEmpty,
          s"rows diverged under $cond")
        idx.lastListedFiles
      }
      // a 10% window on the TIMESTAMP cluster column prunes
      val tsCut = new java.sql.Timestamp(loMs + (hiMs - loMs) / 10)
      val nTs = check(col("ts") <= lit(tsCut))
      assert(nTs < total, s"timestamp slice must prune ($nTs of $total)")
      // the derived DATE column (same clustering) prunes too
      val dCut = new java.sql.Date(loMs + (hiMs - loMs) / 10)
      val nD = check(col("d") <= lit(dCut))
      assert(nD < total, s"date slice must prune ($nD of $total)")
      // string-literal form folds to the same typed literal and prunes
      val iso = tsCut.toInstant.toString.stripSuffix("Z").replace("T", " ")
      val nIso = check(col("ts") <= lit(iso).cast("timestamp"))
      assert(nIso < total)

      // INT96 lineage (the pre-annotation legacy unit): footers carry no
      // usable stats, so the column records the conservative range —
      // zero pruning, still exact
      spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
      val root96 = freshRoot("tstats96")
      Layout.snapshotAppend(spark, root96, base, statsKey = Some("ts"))
      val (df96, idx96) = Layout.snapshotTableWithIndex(spark, root96)
      val got96 = df96.filter(col("ts") <= lit(tsCut))
      val exp96 = base.filter(col("ts") <= lit(tsCut))
      assert(got96.exceptAll(exp96).isEmpty && exp96.exceptAll(got96).isEmpty)
      assert(idx96.lastListedFiles == idx96.inputFiles.length,
        "INT96 stats must not prune (no usable footer bounds)")
    } finally {
      prevOtt match {
        case Some(v) => spark.conf.set("spark.sql.parquet.outputTimestampType", v)
        case None => spark.conf.unset("spark.sql.parquet.outputTimestampType")
      }
    }
  }

  test("double stats: upper-bound predicates prune, lower-bound predicates never do (NaN soundness), hidden NaN rows always survive") {
    val root = freshRoot("dstats")
    val base = Tables(spark, sf, "orders")
      .select(col("o_orderkey").as("key"),
        col("o_totalprice").cast("double").as("price"))
      .repartitionByRange(8, col("price")).sortWithinPartitions(col("price"))
    Layout.snapshotAppend(spark, root, base, statsKey = Some("price"))
    val (df, idx) = Layout.snapshotTableWithIndex(spark, root)
    val total = idx.inputFiles.length
    assert(total >= 4)
    val r = base.agg(min("price"), max("price")).head()
    val (loP, hiP) = (r.getDouble(0), r.getDouble(1))
    def check(cond: org.apache.spark.sql.Column): Int = {
      val got = df.filter(cond)
      val exp = base.filter(cond)
      assert(got.exceptAll(exp).isEmpty && exp.exceptAll(got).isEmpty)
      idx.lastListedFiles
    }
    // price ≤ low-cut prunes: footer MIN is sound even against NaN
    val nHi = check(col("price") <= lit(loP + (hiP - loP) / 10))
    assert(nHi < total, s"upper-bounded double slice must prune ($nHi of $total)")
    // price ≥ high-cut must NOT prune: footer MAX cannot rule out a
    // hidden NaN row (Spark orders NaN greatest — it satisfies ≥)
    val nLo = check(col("price") >= lit(hiP - (hiP - loP) / 10))
    assert(nLo == total,
      s"lower-bounded double predicates must stay conservative ($nLo of $total)")

    // the NaN case itself: a file whose footer max (NaN-excluding) is
    // tiny still carries a NaN row that satisfies `price > big`
    import spark.implicits._
    val root2 = freshRoot("dstats-nan")
    Layout.snapshotAppend(spark, root2,
      Seq(1.0d, 2.0d, Double.NaN).toDF("price").coalesce(1),
      statsKey = Some("price"))
    Layout.snapshotAppend(spark, root2,
      Seq(1000.0d, 2000.0d).toDF("price").coalesce(1))
    val big = Layout.snapshotTable(spark, root2)
      .filter(col("price") > lit(500.0d))
    assert(big.count() == 3,
      "NaN satisfies `> 500` in Spark semantics and must never be pruned away")
    assert(big.filter(isnan(col("price"))).count() == 1)
  }

  // ---- JOB-COUNT REGRESSIONS: reads, lookups and maintenance answer
  // what the manifest already records without Spark jobs of their own

  /** A key-clustered table with stats on `k`, a bloom index on `k` at the
    * convention root, and two appended batches: versions 1, 3 and 4 hold
    * 12 000, 12 150 and 12 300 rows (version 2 declares the index).
    */
  private def indexedTable(tag: String): String = {
    val root = freshRoot(tag)
    def rows(lo: Long, hi: Long) = spark.range(lo, hi).select(
      col("id").as("k"), (col("id") / 8).cast("long").as("okey"),
      (col("id") % 200).as("part"),
      (col("id") % 50 + 1).cast("double").as("qty"),
      (col("id") % 1000 * 1.5).as("price"), lit("N").as("flag"))
    Layout.snapshotAppend(spark, root,
      rows(0, 12000).repartitionByRange(4, col("k"))
        .sortWithinPartitions(col("k")), statsKey = Some("k"))
    Layout.maintainBloomIndexFor(spark, root, "k")
    Seq((12000L, 12150L), (12150L, 12300L)).foreach { case (lo, hi) =>
      Layout.snapshotAppend(spark, root, rows(lo, hi).coalesce(1),
        statsKey = Some("k"))
    }
    root
  }

  test("readSnapshot of a head with a schema header starts no job before its action") {
    val root = indexedTable("jobs-read")
    val (head, headJobs) = jobsOf(Layout.readSnapshot(spark, root))
    assert(headJobs.isEmpty, s"head read started jobs: $headJobs")
    assert(head.count() == 12300)
    val (old, oldJobs) = jobsOf(Layout.readSnapshot(spark, root, 1))
    assert(oldJobs.isEmpty, s"time-travel read started jobs: $oldJobs")
    assert(old.count() == 12000)
  }

  test("snapshotPointLookup resolves bloom candidates in one shuffle: at most 2 jobs before its action") {
    import spark.implicits._
    val root = indexedTable("jobs-lookup")
    val hits = Seq(5L, 777L, 11999L, 12100L)
    val probe = hits ++ (1 to 16).map(i => 50000000L + i)
    val (lk, jobs) = jobsOf(Layout.snapshotPointLookup(spark, root,
      Layout.bloomSnapIdxRoot(root, "k"), "k", probe))
    assert(jobs.size <= 2, s"lookup started ${jobs.size} jobs: $jobs")
    assert(lk.result.select(col("k")).as[Long].collect().sorted.toSeq == hits)
    assert(lk.scannedFiles.size < lk.totalFiles,
      s"the bloom must prune: ${lk.scannedFiles.size} of ${lk.totalFiles}")
  }

  test("a snapshotMaintain cycle with a declared index takes the index inventory once") {
    import spark.implicits._
    val root = indexedTable("jobs-maintain")
    Layout.snapshotDeleteMOR(spark, root, "k", Array(6L, 12200L))
    val (report, jobs) = jobsOf(Layout.snapshotMaintain(spark, root,
      Layout.MaintenancePolicy(maxDeleteFiles = 1, maxSmallFiles = 12)))
    assert(report.compactedVersion.isDefined && report.indexedCols == Seq("k"),
      s"the cycle must compact and advance the index: $report")
    // 4 jobs here, all compaction and index-rebuild work: the dirty-file
    // split reads the delete's recorded scope and the index inventory
    // its recorded base head, so neither pays a job (8 jobs before both
    // were recorded, 20 with per-read footer inference on top)
    assert(jobs.size <= 4, s"maintenance ran ${jobs.size} jobs: $jobs")
    // the refilled index still serves exact lookups
    val lk = Layout.snapshotPointLookup(spark, root,
      Layout.bloomSnapIdxRoot(root, "k"), "k", Seq(5L, 6L, 12100L, 12200L))
    assert(lk.result.select(col("k")).as[Long].collect().sorted.toSeq ==
      Seq(5L, 12100L))
  }

  test("snapshotMergeKeys picks touched files in one map-side job: at most 4 jobs") {
    import spark.implicits._
    val root = indexedTable("jobs-merge")
    val upd = Seq(5L, 3001L, 12100L)
    val ins = Seq(20000L, 20001L)
    val changes = spark.createDataFrame(spark.sparkContext.parallelize(
      (upd ++ ins).map(k => (k, 99.0)), 1)).toDF("c_k", "c_qty")
    val (v, jobs) = jobsOf(Layout.snapshotMergeKeys(spark, root, "k",
      changes.select(col("c_k")), touched =>
        touched.join(changes, col("k") === col("c_k"), "full_outer").select(
          coalesce(col("k"), col("c_k")).as("k"),
          coalesce(col("okey"), floor(col("c_k") / 8)).cast("long").as("okey"),
          coalesce(col("part"), lit(0L)).as("part"),
          coalesce(col("c_qty"), col("qty")).as("qty"),
          coalesce(col("price"), lit(0.0)).as("price"),
          coalesce(col("flag"), lit("U")).as("flag"))))
    // one touched-file probe, then the rewrite (its join's map stages and
    // the write); the parent took 6
    assert(jobs.size <= 4, s"merge ran ${jobs.size} jobs: $jobs")
    val after = Layout.readSnapshot(spark, root, v)
    assert(after.count() == 12302)
    assert(after.where(col("qty") === 99.0).select(col("k")).as[Long]
      .collect().sorted.toSeq == upd ++ ins)
  }

  test("snapshotDeleteMORKeys writes its sidecar in one job: at most 2 jobs") {
    import spark.implicits._
    val root = indexedTable("jobs-delete")
    // a duplicated key and a key outside every file range ride along
    val keys = spark.createDataFrame(spark.sparkContext.parallelize(
      Seq(6L, 6L, 12200L, 90000000L).map(Tuple1(_)), 1)).toDF("k")
    val (v, jobs) = jobsOf(Layout.snapshotDeleteMORKeys(spark, root, "k", keys))
    assert(jobs.size <= 2, s"delete ran ${jobs.size} jobs: $jobs")
    val (after, readJobs) = jobsOf(Layout.readSnapshot(spark, root, v))
    assert(readJobs.isEmpty, s"the dirty-file split started jobs: $readJobs")
    assert(after.count() == 12298)
    assert(after.where(col("k").isin(6L, 12200L)).count() == 0)
  }
}
