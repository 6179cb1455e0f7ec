package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.ops.{ClaimArbiter, CommitConflictException,
  ConcurrentWriteConflictException, Layout}

/** Deterministic two-writer arbiter: the FIRST claim attempt after
  * arming triggers `racer` — a full competing commit of the SAME
  * version — before the caller's CAS runs, so the caller provably
  * loses and must rebase. State lives in the companion because
  * commits cache arbiter instances by class name.
  */
class RacingArbiter extends ClaimArbiter {
  import RacingArbiter._
  override def tryClaim(spark: SparkSession, root: String, version: Int,
      token: String): Boolean = {
    val r = racer
    if (armed && r != null) {
      armed = false
      r() // the competing writer claims and commits this version first
    }
    table.putIfAbsent(key(root, version), token) == null
  }
  override def holder(spark: SparkSession, root: String,
      version: Int): Option[String] =
    Option(table.get(key(root, version)))
  override def release(spark: SparkSession, root: String, version: Int,
      token: String): Unit =
    table.remove(key(root, version), token)
}

object RacingArbiter {
  private def key(root: String, version: Int) =
    new org.apache.hadoop.fs.Path(root).toUri.getPath + "#" + version
  val table = new java.util.concurrent.ConcurrentHashMap[String, String]()
  @volatile var armed: Boolean = false
  @volatile var racer: () => Unit = null
  /** A claim nobody ever releases — a writer that vanished mid-commit. */
  def plantForeign(root: String, version: Int): Unit =
    table.put(key(root, version), "foreign:stuck")
  def reset(): Unit = { table.clear(); armed = false; racer = null }
}

/** OPTIMISTIC CONCURRENCY over the snapshot commit protocol: an append
  * that loses its version claim REBASES — re-resolves the head,
  * recomputes carried state, and re-commits its already-written data
  * files at head+1 (appends commute with any interleaved commit) —
  * while read-dependent committers (overwrite & kin) surface a typed
  * [[CommitConflictException]], because their output was computed from
  * the base version and silently rebasing could drop the winner's
  * effect.
  */
class OptimisticConcurrencySpec extends GraftSuite {

  private def freshRoot(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-$tag").toString + "/t"

  private def withArbiter[T](body: => T): T = {
    spark.conf.set("spark.graft.commit.arbiter",
      classOf[RacingArbiter].getName)
    try body
    finally {
      spark.conf.unset("spark.graft.commit.arbiter")
      RacingArbiter.reset()
    }
  }

  test("two concurrent appends both land: the loser rebases onto the winner without rewriting its files") {
    withArbiter {
      import spark.implicits._
      val root = freshRoot("occ")
      Layout.snapshotAppend(spark, root,
        Seq((1L, "base")).toDF("k", "v"), statsKey = Some("k")) // v1
      // writer B fires INSIDE writer A's first claim attempt for v2
      RacingArbiter.racer = () => Layout.snapshotAppend(spark, root,
        Seq((2L, "writerB")).toDF("k", "v"))
      RacingArbiter.armed = true
      val committed = Layout.snapshotAppend(spark, root,
        Seq((3L, "writerA")).toDF("k", "v"))
      assert(committed == 3, s"A must rebase to v3, committed v$committed")
      assert(Layout.snapshotVersions(spark, root) == Seq(1, 2, 3))
      // all three writers' rows present exactly once
      val got = Layout.readSnapshot(spark, root)
        .orderBy("k").collect().map(r => (r.getLong(0), r.getString(1)))
      assert(got.toSeq == Seq((1L, "base"), (2L, "writerB"), (3L, "writerA")))
      // REUSE proof: A staged its files for attempt v2; the rebase
      // committed those same files (path still under a v2-* attempt
      // dir) instead of rewriting them for v3
      val v3Meta = Layout.snapshotMeta(spark, root, 3)
      val aFiles = v3Meta.paths.filterNot(
        Layout.snapshotMeta(spark, root, 2).paths.toSet)
      assert(aFiles.nonEmpty && aFiles.forall(_.contains("/v2-")),
        s"A's files must be the v2-attempt staging reused at v3: $aFiles")
      // the rebase carried the winner's stats property forward: A's new
      // entries still carry k ranges (statsKey declared at v1 travels)
      val files = Layout.snapshotFilesTable(spark, root)
      assert(files.filter(element_at(col("col_ranges"), "k").isNull)
        .count() == 0,
        "every committed file must carry k stats after the rebase")
    }
  }

  test("a permanently-held claim exhausts bounded retries with a typed conflict error") {
    withArbiter {
      import spark.implicits._
      val root = freshRoot("occ2")
      Layout.snapshotAppend(spark, root, Seq((1L, "x")).toDF("k", "v"))
      RacingArbiter.plantForeign(root, 2) // a vanished writer holds v2
      spark.conf.set("spark.graft.commit.maxRetries", "1")
      try {
        val ex = intercept[CommitConflictException] {
          Layout.snapshotAppend(spark, root, Seq((2L, "y")).toDF("k", "v"))
        }
        assert(ex.version == 2 && ex.getMessage.contains("lost the race"))
        // nothing half-committed
        assert(Layout.snapshotVersions(spark, root) == Seq(1))
      } finally spark.conf.unset("spark.graft.commit.maxRetries")
    }
  }

  test("read-dependent committers do NOT auto-rebase: overwrite surfaces the conflict") {
    withArbiter {
      import spark.implicits._
      val root = freshRoot("occ3")
      Layout.snapshotAppend(spark, root, Seq((1L, "x")).toDF("k", "v"))
      RacingArbiter.plantForeign(root, 2)
      val ex = intercept[CommitConflictException] {
        Layout.snapshotOverwrite(spark, root, Seq((9L, "z")).toDF("k", "v"))
      }
      assert(ex.version == 2)
      // the table is untouched: same head, same rows
      assert(Layout.snapshotVersions(spark, root) == Seq(1))
      assert(Layout.readSnapshot(spark, root).count() == 1)
    }
  }

  test("LOGICAL RESOLUTION: a MERGE racing a DISJOINT append — both commits land, zero data re-I/O") {
    withArbiter {
      import spark.implicits._
      val root = freshRoot("occ-merge-disjoint")
      Layout.snapshotAppend(spark, root,
        (1L to 100L).map(k => (k, "orig")).toDF("k", "v"),
        statsKey = Some("k")) // v1
      // writer B appends keys 1000.. INSIDE the merge's claim for v2 —
      // ranges disjoint from the merge's changelog keys {5, 6}
      RacingArbiter.racer = () => Layout.snapshotAppend(spark, root,
        Seq((1000L, "appended")).toDF("k", "v"))
      RacingArbiter.armed = true
      val committed = Layout.snapshotMergeKeys(spark, root, "k",
        Seq(5L, 6L).toDF("k"), df => df.withColumn("v",
          when(col("k").isin(5L, 6L), lit("updated")).otherwise(col("v"))))
      assert(committed == 3,
        s"the merge must rebase onto the append and commit v3 (got v$committed)")
      assert(Layout.snapshotVersions(spark, root) == Seq(1, 2, 3))
      val head = Layout.readSnapshot(spark, root)
      assert(head.count() == 101, "both commits' effects present")
      assert(head.filter(col("v") === "updated").count() == 2)
      assert(head.filter(col("k") === 1000L && col("v") === "appended")
        .count() == 1, "the winner's appended row survives the rebase")
      // zero data re-I/O: the merge's rewritten files were staged for the
      // v2 attempt and committed verbatim at v3
      val v3New = Layout.snapshotMeta(spark, root, 3).paths
        .filterNot(Layout.snapshotMeta(spark, root, 2).paths.toSet)
      assert(v3New.nonEmpty && v3New.forall(_.contains("/v2-")),
        s"rebase must reuse the staged rewrite: $v3New")
    }
  }

  test("LOGICAL RESOLUTION: a MERGE racing an OVERLAPPING append refuses with the typed conflict") {
    withArbiter {
      import spark.implicits._
      val root = freshRoot("occ-merge-overlap")
      Layout.snapshotAppend(spark, root,
        (1L to 100L).map(k => (k, "orig")).toDF("k", "v"),
        statsKey = Some("k")) // v1
      // writer B appends a row whose key THIS merge matches — the
      // merge's rewrite, computed before B landed, would miss it
      RacingArbiter.racer = () => Layout.snapshotAppend(spark, root,
        Seq((5L, "late-arrival")).toDF("k", "v"))
      RacingArbiter.armed = true
      val ex = intercept[ConcurrentWriteConflictException] {
        Layout.snapshotMergeKeys(spark, root, "k",
          Seq(5L, 6L).toDF("k"), df => df.withColumn("v",
            when(col("k").isin(5L, 6L), lit("updated")).otherwise(col("v"))))
      }
      assert(ex.getMessage.contains("key ranges this merge matches"),
        ex.getMessage)
      // deterministic refusal: the winner's state is intact, the merge
      // published nothing
      assert(Layout.snapshotVersions(spark, root) == Seq(1, 2))
      val head = Layout.readSnapshot(spark, root)
      assert(head.count() == 101 &&
        head.filter(col("v") === "updated").count() == 0)
      // and the honest remedy works: re-run against the new head
      val v = Layout.snapshotMergeKeys(spark, root, "k",
        Seq(5L, 6L).toDF("k"), df => df.withColumn("v",
          when(col("k").isin(5L, 6L), lit("updated")).otherwise(col("v"))))
      assert(v == 3 && Layout.readSnapshot(spark, root)
        .filter(col("v") === "updated").count() == 3,
        "the re-run sees BOTH rows with k=5 plus k=6")
    }
  }

  test("LOGICAL RESOLUTION: compaction racing an append — both land (the standing-maintenance race)") {
    withArbiter {
      import spark.implicits._
      val root = freshRoot("occ-compact-append")
      Layout.snapshotAppend(spark, root,
        (1L to 50L).map(k => (k, "a")).toDF("k", "v"))
      Layout.snapshotAppend(spark, root,
        (51L to 100L).map(k => (k, "b")).toDF("k", "v")) // v2, 2+ files
      RacingArbiter.racer = () => Layout.snapshotAppend(spark, root,
        Seq((999L, "during-compact")).toDF("k", "v"))
      RacingArbiter.armed = true
      val committed = Layout.snapshotCompact(spark, root,
        targetBytes = 128L * 1024 * 1024)
      assert(committed == 4,
        s"compaction must rebase past the append (got v$committed)")
      val head = Layout.readSnapshot(spark, root)
      assert(head.count() == 101,
        "packed content AND the interleaved append both present")
      assert(head.filter(col("k") === 999L).count() == 1)
      // the appended file is carried verbatim (un-packed) — content
      // equality with a fresh union proves nothing dropped or doubled
      assert(head.groupBy("k").count().filter(col("count") > 1).count() == 0)
    }
  }

  test("LOGICAL RESOLUTION: compaction racing an OVERWRITE refuses with the typed conflict") {
    withArbiter {
      import spark.implicits._
      val root = freshRoot("occ-compact-ovr")
      Layout.snapshotAppend(spark, root,
        (1L to 50L).map(k => (k, "a")).toDF("k", "v"))
      RacingArbiter.racer = () => Layout.snapshotOverwrite(spark, root,
        Seq((7L, "replaced")).toDF("k", "v"))
      RacingArbiter.armed = true
      val ex = intercept[ConcurrentWriteConflictException] {
        Layout.snapshotCompact(spark, root, targetBytes = 128L * 1024 * 1024)
      }
      assert(ex.getMessage.contains("removed or rewrote files"),
        ex.getMessage)
      // the overwrite (winner) is the head; the stale repack never landed
      assert(Layout.snapshotVersions(spark, root) == Seq(1, 2))
      assert(Layout.readSnapshot(spark, root).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq ==
        Seq((7L, "replaced")))
    }
  }

  test("LOGICAL RESOLUTION: partition-scoped compaction racing an append — both land, the packed files are reused") {
    withArbiter {
      import spark.implicits._
      val root = freshRoot("occ-compact-parts")
      for (p <- Seq("p0", "p1"))
        Layout.snapshotAppendPartitioned(spark, root,
          (1L to 40L).map(k => (k, p)).toDF("k", "p").repartition(4),
          "p", shuffleByPartition = false) // v1, v2: four small files each
      // writer B appends INSIDE the compacted partition while the
      // OPTIMIZE claims v3: its file was not packed, so it rides along
      RacingArbiter.racer = () => Layout.snapshotAppendPartitioned(
        spark, root, Seq((999L, "p0")).toDF("k", "p"), "p")
      RacingArbiter.armed = true
      val committed = Layout.snapshotCompactPartitions(spark, root,
        128L * 1024 * 1024, Seq("p0"))
      assert(committed == 4,
        s"the scoped OPTIMIZE must rebase past the append (got v$committed)")
      assert(Layout.snapshotVersions(spark, root) == Seq(1, 2, 3, 4))
      val head = Layout.readSnapshot(spark, root)
      assert(head.count() == 81 && head.filter(col("k") === 999L).count() == 1,
        "packed content AND the interleaved append both present")
      assert(head.groupBy("k", "p").count().filter(col("count") > 1)
        .count() == 0, "nothing doubled")
      // the packed files were staged for the v3 attempt and committed
      // verbatim at v4; everything else is carried by path
      val v4New = Layout.snapshotMeta(spark, root, 4).paths
        .filterNot(Layout.snapshotMeta(spark, root, 3).paths.toSet)
      assert(v4New.nonEmpty && v4New.forall(_.contains("/v3-")),
        s"rebase must reuse the staged packing: $v4New")
    }
  }

  test("LOGICAL RESOLUTION: ANALYZE racing an append — both land, the appended file stays un-enriched") {
    withArbiter {
      import spark.implicits._
      val root = freshRoot("occ-analyze-append")
      Layout.snapshotAppend(spark, root,
        (1L to 50L).map(k => (k, s"v${k % 7}")).toDF("k", "v")) // v1
      RacingArbiter.racer = () => Layout.snapshotAppend(spark, root,
        Seq((999L, "during-analyze")).toDF("k", "v"))
      RacingArbiter.armed = true
      val committed = Layout.snapshotAnalyze(spark, root, Seq("v"))
      assert(committed == 3, s"ANALYZE must rebase past the append (got v$committed)")
      assert(Layout.snapshotVersions(spark, root) == Seq(1, 2, 3))
      assert(Layout.readSnapshot(spark, root).count() == 51)
      val appended = Layout.snapshotMeta(spark, root, 2).paths
        .filterNot(Layout.snapshotMeta(spark, root, 1).paths.toSet).toSet
      val ndv = Layout.snapshotFilesTable(spark, root).collect()
        .map(r => r.getString(0) -> r.getMap[String, Long](6)).toMap
      assert(appended.nonEmpty && ndv.keySet.exists(appended))
      ndv.foreach { case (path, m) =>
        if (appended(path)) assert(m.isEmpty, s"appended $path was enriched")
        else assert(m.contains("v"), s"analyzed $path carries no synopsis")
      }
    }
  }

  test("LOGICAL RESOLUTION: ANALYZE racing an OVERWRITE refuses with the typed conflict") {
    withArbiter {
      import spark.implicits._
      val root = freshRoot("occ-analyze-ovr")
      Layout.snapshotAppend(spark, root,
        (1L to 50L).map(k => (k, "a")).toDF("k", "v"))
      RacingArbiter.racer = () => Layout.snapshotOverwrite(spark, root,
        Seq((7L, "replaced")).toDF("k", "v"))
      RacingArbiter.armed = true
      val ex = intercept[ConcurrentWriteConflictException] {
        Layout.snapshotAnalyze(spark, root, Seq("v"))
      }
      assert(ex.op == "ANALYZE" && ex.getMessage.startsWith("ANALYZE"),
        ex.getMessage)
      assert(Layout.snapshotVersions(spark, root) == Seq(1, 2))
      assert(Layout.readSnapshot(spark, root).count() == 1)
    }
  }

  test("LOGICAL RESOLUTION: a NOT-MATCHED-BY-SOURCE merge refuses ANY concurrent append — even key-disjoint ones") {
    withArbiter {
      import spark.implicits._
      val wh = java.nio.file.Files
        .createTempDirectory("graft-occ-nmbs").toString
      spark.conf.set("spark.sql.catalog.gnmbs",
        classOf[graft.sources.GraftCatalog].getName)
      spark.conf.set("spark.sql.catalog.gnmbs.root", wh)
      try {
        spark.sql("CREATE TABLE gnmbs.t (k BIGINT, v STRING) " +
          "TBLPROPERTIES ('statsKey'='k')")
        (1L to 10L).map(k => (k, "old")).toDF("k", "v")
          .createOrReplaceTempView("nmbs_src")
        spark.sql("INSERT INTO gnmbs.t SELECT * FROM nmbs_src")
        Seq((1L, "fresh")).toDF("sk", "sv")
          .createOrReplaceTempView("nmbs_chg")
        // writer B appends key 1000 — DISJOINT from the source keys,
        // but the NMBS clause reads (and deletes!) every key absent
        // from the source, so the append is inside the merge's read
        // set: rebasing would let key 1000 survive a delete-all-others
        // merge, a history no serial order produces
        RacingArbiter.racer = () => Layout.snapshotAppend(spark,
          s"$wh/t", Seq((1000L, "interleaved")).toDF("k", "v"))
        RacingArbiter.armed = true
        val ex = intercept[graft.ops.ConcurrentWriteConflictException] {
          spark.sql(
            """MERGE INTO gnmbs.t t USING nmbs_chg s ON t.k = s.sk
              |WHEN MATCHED THEN UPDATE SET v = s.sv
              |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
        }
        assert(ex.getMessage.contains("NOT MATCHED BY SOURCE"),
          ex.getMessage)
        // the winner's append is intact; the re-run merge then deletes
        // it along with every other unmatched key
        assert(Layout.readSnapshot(spark, s"$wh/t")
          .filter(col("k") === 1000L).count() == 1)
        spark.sql(
          """MERGE INTO gnmbs.t t USING nmbs_chg s ON t.k = s.sk
            |WHEN MATCHED THEN UPDATE SET v = s.sv
            |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
        val rows = Layout.readSnapshot(spark, s"$wh/t")
          .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
        assert(rows == Seq((1L, "fresh")),
          s"the re-run merge owns the whole table: $rows")
      } finally spark.conf.unset("spark.sql.catalog.gnmbs")
    }
  }

  test("rebase adopts properties a concurrent FIRST commit declared") {
    withArbiter {
      import spark.implicits._
      val root = freshRoot("occ4")
      // writer B creates the table WITH a statsKey while A races it for v1
      RacingArbiter.racer = () => Layout.snapshotAppend(spark, root,
        Seq((10L, "first")).toDF("k", "v"), statsKey = Some("k"))
      RacingArbiter.armed = true
      val committed = Layout.snapshotAppend(spark, root,
        Seq((20L, "second")).toDF("k", "v")) // declares nothing
      assert(committed == 2)
      // A's rebased commit recomputed its entries under B's statsKey —
      // its file carries k stats, so the table prunes uniformly
      val files = Layout.snapshotFilesTable(spark, root)
      assert(files.filter(element_at(col("col_ranges"), "k").isNull)
        .count() == 0,
        "the rebased file must carry stats under the adopted statsKey")
      val got = Layout.readSnapshot(spark, root).orderBy("k")
        .collect().map(_.getLong(0)).toSeq
      assert(got == Seq(10L, 20L))
    }
  }

  test("POSITION DELETE racing a COMPACTION loses loudly: stale file-relative ordinals never apply to rewritten files") {
    withArbiter {
      import spark.implicits._
      val root = freshRoot("occ-posdel-compact")
      // duplicate keys → no equality form could serve this delete
      Layout.snapshotAppend(spark, root,
        (1L to 50L).map(k => (k, "a")).toDF("k", "v"))
      Layout.snapshotAppend(spark, root,
        (1L to 50L).map(k => (k, "b")).toDF("k", "v")) // v2, 2+ files
      val before = Layout.readSnapshot(spark, root, 2).collect().toSet
      // a compaction interleaves between the pos-delete's predicate scan
      // (ordinals computed against v2's physical files) and its claim at
      // v3 — the rewrite invalidates every (file, pos) the delete holds
      RacingArbiter.racer = () => Layout.snapshotCompact(spark, root,
        targetBytes = 128L * 1024 * 1024)
      RacingArbiter.armed = true
      val thrown = intercept[CommitConflictException] {
        Layout.snapshotDeletePositions(spark, root, col("k") <= 10L)
      }
      assert(thrown.root === root && thrown.version === 3,
        "the typed conflict must name the contested table and version")
      // READ-DEPENDENT = NO SILENT REBASE: ordinals are file-relative;
      // rebasing them onto the compacted head would mask ARBITRARY rows
      // of the rewritten files. The head must be exactly the compaction's
      // content — zero rows deleted, zero rows lost.
      val head = Layout.readSnapshot(spark, root)
      assert(head.collect().toSet === before,
        "losing pos-delete must leave the compacted head untouched")
      // the loser's orphaned sidecar is UNREFERENCED: no committed
      // manifest carries a pos- delete line, so no reader ever applies
      // the stale mask to a rewritten file
      val msDir = new java.io.File(s"$root/_manifests")
      val manifests = msDir.listFiles().filter(_.getName.endsWith(".manifest"))
      assert(manifests.nonEmpty)
      manifests.foreach { m =>
        val body = new String(java.nio.file.Files.readAllBytes(m.toPath),
          "UTF-8")
        assert(!body.contains("delete:") || !body.contains("/pos-"),
          s"${m.getName}: a stale ordinal sidecar must never be referenced")
      }
      // RETRY-FROM-HEAD is exact: re-evaluating the predicate against the
      // compacted head computes FRESH ordinals for the rewritten files
      val v = Layout.snapshotDeletePositions(spark, root, col("k") <= 10L)
      val want = before.filterNot(_.getLong(0) <= 10L)
      assert(Layout.readSnapshot(spark, root, v).collect().toSet === want,
        "the retried delete must mask exactly the predicate rows against " +
          "the rewritten files")
    }
  }
}
