package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.ops.{Arbiters, CommitConflictException, ConditionalPutArbiter,
  Layout, LockRootArbiter, SingleDriverArbiter}

/** [[LockRootArbiter]] with a test seam on the holder re-read — the
  * "meanwhile, on another writer" hook firing between a commit's claim
  * and its pre-rename re-read, where a sweep + re-claim by another
  * writer would land.
  */
class HookedLockRootArbiter extends LockRootArbiter {
  override def holder(spark: SparkSession, root: String,
      version: Int): Option[String] = {
    val hook = HookedLockRootArbiter.onHolderRead
    if (hook != null) { HookedLockRootArbiter.onHolderRead = null; hook() }
    super.holder(spark, root, version)
  }
}
object HookedLockRootArbiter {
  @volatile var onHolderRead: () => Unit = null
}

/** [[ConditionalPutArbiter]] with the same test seam on the holder
  * re-read as [[HookedLockRootArbiter]].
  */
class HookedConditionalPutArbiter extends ConditionalPutArbiter {
  override def holder(spark: SparkSession, root: String,
      version: Int): Option[String] = {
    val hook = HookedConditionalPutArbiter.onHolderRead
    if (hook != null) { HookedConditionalPutArbiter.onHolderRead = null; hook() }
    super.holder(spark, root, version)
  }
}
object HookedConditionalPutArbiter {
  @volatile var onHolderRead: () => Unit = null
}

/** The SHIPPED flat-object-store commit arbiters, proven through a
  * flat-store-simulating filesystem ([[FlatFs]]: create-exclusive is
  * HEAD-then-PUT): the hazard the refusal default guards against is
  * REAL (a deterministic interleaving silently loses a committed
  * manifest), and with [[SingleDriverArbiter]] or [[LockRootArbiter]]
  * configured the same store COMMITS with a linear history — operate,
  * not refuse, on s3a-class schemes.
  */
class FlatStoreCommitSpec extends GraftSuite {

  private def flatRoot(tag: String): String = {
    spark.sparkContext.hadoopConfiguration
      .set("fs.flat.impl", classOf[FlatFs].getName)
    "flat:" +
      java.nio.file.Files.createTempDirectory(s"graft-$tag").toString + "/t"
  }

  private def withConf[T](kvs: (String, String)*)(body: => T): T = {
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally kvs.foreach { case (k, _) => spark.conf.unset(k) }
  }

  test("the flat-store hazard is real: HEAD-then-PUT claims let a racer silently clobber a committed manifest") {
    import spark.implicits._
    val root = flatRoot("flat-hazard")
    withConf("spark.graft.commit.assumeAtomicClaim" -> "true") {
      Layout.snapshotAppend(spark, root, Seq((0L, "base")).toDF("k", "tag"))
      // Writer A passes the claim's HEAD; in that window writer B runs
      // an ENTIRE successful commit of the same version; A's PUT then
      // overwrites B's claim, A re-reads its own token, and A's rename
      // replaces B's manifest. B's acknowledged commit is gone.
      var bCommitted = -1
      FlatFs.betweenHeadAndPut = _ => {
        bCommitted = Layout.snapshotAppend(spark, root,
          Seq((2L, "writer-B")).toDF("k", "tag"))
      }
      Layout.snapshotAppend(spark, root, Seq((1L, "writer-A")).toDF("k", "tag"))
      assert(bCommitted == 2, "B's commit succeeded (and was acknowledged)")
      val tags = Layout.readSnapshot(spark, root)
        .select("tag").as[String].collect().toSet
      assert(!tags.contains("writer-B") && tags.contains("writer-A"),
        s"the interleaving must demonstrate B's lost commit (got $tags) — " +
          "this is exactly why flat schemes refuse without an arbiter")
    }
  }

  test("SingleDriverArbiter on the flat store: concurrent appends arbitrate to a linear, lossless history") {
    import spark.implicits._
    val root = flatRoot("flat-sda")
    withConf("spark.graft.commit.arbiter" ->
        classOf[SingleDriverArbiter].getName) {
      Layout.snapshotAppend(spark, root, Seq((0L, "base")).toDF("k", "tag"))
      val writers = 8
      val pool = java.util.concurrent.Executors.newFixedThreadPool(writers)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      val fs = (1 to writers).map { w =>
        scala.concurrent.Future {
          Layout.withCommitRetry(attempts = writers + 2) {
            Layout.snapshotAppend(spark, root,
              Seq((w.toLong, s"writer$w")).toDF("k", "tag"))
          }
        }
      }
      import scala.concurrent.duration._
      scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(fs), 120.seconds)
      pool.shutdown()
      assert(Layout.snapshotVersions(spark, root) == (1 to writers + 1),
        "linear history of winners on the flat store")
      val rows = Layout.readSnapshot(spark, root)
        .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
      assert(rows == ((0L, "base") +:
        (1 to writers).map(w => (w.toLong, s"writer$w"))).sorted,
        "no commit lost, none duplicated")
    }
  }

  test("SingleDriverArbiter TTL: a stale claim on an UNCOMMITTED version expires; on a committed version it never breaks") {
    import spark.implicits._
    val root = flatRoot("flat-ttl")
    withConf("spark.graft.commit.arbiter" ->
        classOf[SingleDriverArbiter].getName) {
      Layout.snapshotAppend(spark, root, Seq((0L, "base")).toDF("k", "tag"))
      val arb = new SingleDriverArbiter
      // a writer claimed v2 then crashed (no manifest). Fresh: blocks.
      assert(arb.tryClaim(spark, root, 2, "crashed-writer"))
      intercept[CommitConflictException] {
        Layout.snapshotAppend(spark, root, Seq((1L, "blocked")).toDF("k", "tag"))
      }
      // …aged past the grace: the next commit breaks it and proceeds
      SingleDriverArbiter.backdate(spark, root, 2,
        Layout.ClaimGraceMillis + 1000)
      assert(Layout.snapshotAppend(spark, root,
        Seq((1L, "after-ttl")).toDF("k", "tag")) == 2)
      // v2 is COMMITTED now; even an ancient claim entry must not break
      SingleDriverArbiter.backdate(spark, root, 2,
        10 * Layout.ClaimGraceMillis)
      assert(!arb.tryClaim(spark, root, 2, "late-racer"),
        "a committed version's claim is inert history — never re-handed out")
      assert(Layout.snapshotVersions(spark, root) == Seq(1, 2))
    }
  }

  test("LockRootArbiter primitives: CAS on the lock store, stale-lock break only on uncommitted versions") {
    import spark.implicits._
    val root = flatRoot("flat-lr")
    val lockRoot =
      java.nio.file.Files.createTempDirectory("graft-locks").toString
    withConf("spark.graft.commit.lockRoot" -> lockRoot) {
      // seed a committed table (v1) through the arbiter
      withConf("spark.graft.commit.arbiter" ->
          classOf[LockRootArbiter].getName) {
        Layout.snapshotAppend(spark, root, Seq((0L, "base")).toDF("k", "tag"))
      }
      // two DRIVER instances race the same version: exactly one token wins
      val a1 = new LockRootArbiter
      val a2 = new LockRootArbiter
      val w1 = a1.tryClaim(spark, root, 2, "driver-1")
      val w2 = a2.tryClaim(spark, root, 2, "driver-2")
      assert(w1 && !w2, "create-exclusive on the lock root arbitrates")
      assert(a2.holder(spark, root, 2).contains("driver-1"))
      // release is content-guarded: the loser's release is a no-op
      a2.release(spark, root, 2, "driver-2")
      assert(a1.holder(spark, root, 2).contains("driver-1"))
      // stale + uncommitted → broken by the next claimer
      val lockDir = new java.io.File(lockRoot).listFiles()
        .find(_.isDirectory).get
      val lock = new java.io.File(lockDir, "v2.lock")
      assert(lock.setLastModified(
        System.currentTimeMillis() - Layout.ClaimGraceMillis - 60000))
      assert(a2.tryClaim(spark, root, 2, "driver-2"),
        "a stale lock on an uncommitted version must break")
      assert(a1.holder(spark, root, 2).contains("driver-2"))
      // stale + COMMITTED → inert: v1's lock never re-hands out
      val lock1 = new java.io.File(lockDir, "v1.lock")
      assert(lock1.setLastModified(
        System.currentTimeMillis() - Layout.ClaimGraceMillis - 60000))
      assert(!a2.tryClaim(spark, root, 1, "time-traveler"))
      // housekeeping: sweep removes only committed-version locks past grace
      val swept = LockRootArbiter.sweep(spark, root)
      assert(swept == 1, s"sweep drops v1's inert lock only (got $swept)")
      assert(a1.holder(spark, root, 2).contains("driver-2"),
        "the live uncommitted claim survives the sweep")
    }
  }

  test("LockRootArbiter end-to-end on the flat store: commits operate; a crashed writer's stale lock self-heals") {
    import spark.implicits._
    val root = flatRoot("flat-lr-e2e")
    val lockRoot =
      java.nio.file.Files.createTempDirectory("graft-locks2").toString
    withConf(
      "spark.graft.commit.arbiter" -> classOf[LockRootArbiter].getName,
      "spark.graft.commit.lockRoot" -> lockRoot) {
      Layout.snapshotAppend(spark, root, Seq((0L, "base")).toDF("k", "tag"))
      Layout.snapshotAppend(spark, root, Seq((1L, "w1")).toDF("k", "tag"))
      assert(Layout.snapshotVersions(spark, root) == Seq(1, 2))
      // crash-between-claim-and-manifest: a writer claimed v3 and died.
      // Fresh lock: the next commit loses loudly. Aged past grace: the
      // next commit breaks the lock and publishes v3.
      val arb = new LockRootArbiter
      assert(arb.tryClaim(spark, root, 3, "crashed"))
      intercept[CommitConflictException] {
        Layout.snapshotAppend(spark, root, Seq((2L, "blocked")).toDF("k", "tag"))
      }
      val lockDir = new java.io.File(lockRoot).listFiles()
        .find(_.isDirectory).get
      val lock = new java.io.File(lockDir, "v3.lock")
      assert(lock.setLastModified(
        System.currentTimeMillis() - Layout.ClaimGraceMillis - 60000))
      assert(Layout.snapshotAppend(spark, root,
        Seq((2L, "healed")).toDF("k", "tag")) == 3)
      assert(Layout.readSnapshot(spark, root).count() == 3)
      // concurrent load through the lock root stays linear
      val writers = 6
      val pool = java.util.concurrent.Executors.newFixedThreadPool(writers)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      val fs = (1 to writers).map { w =>
        scala.concurrent.Future {
          Layout.withCommitRetry(attempts = writers + 2) {
            Layout.snapshotAppend(spark, root,
              Seq((10L + w, s"c$w")).toDF("k", "tag"))
          }
        }
      }
      import scala.concurrent.duration._
      scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(fs), 120.seconds)
      pool.shutdown()
      assert(Layout.snapshotVersions(spark, root) == (1 to 3 + writers))
      assert(Layout.readSnapshot(spark, root).count() == 3 + writers)
    }
  }

  test("stalled-writer guard through the lock root: a broken-and-re-claimed lock aborts before rename") {
    import spark.implicits._
    val root = flatRoot("flat-lr-stall")
    val lockRoot =
      java.nio.file.Files.createTempDirectory("graft-locks3").toString
    withConf(
      "spark.graft.commit.arbiter" -> classOf[HookedLockRootArbiter].getName,
      "spark.graft.commit.lockRoot" -> lockRoot) {
      Layout.snapshotAppend(spark, root, Seq((0L, "base")).toDF("k", "tag"))
      // between this writer's claim of v2 and its pre-rename re-read,
      // the lock is swept and re-claimed by another driver (the hook
      // rewrites the lock content, as the break + re-claim would)
      HookedLockRootArbiter.onHolderRead = () => {
        val lockDir = new java.io.File(lockRoot).listFiles()
          .find(_.isDirectory).get
        java.nio.file.Files.write(
          new java.io.File(lockDir, "v2.lock").toPath,
          "other-driver".getBytes("UTF-8"))
      }
      val ex = intercept[IllegalStateException] {
        Layout.snapshotAppend(spark, root, Seq((1L, "stalled")).toDF("k", "tag"))
      }
      assert(ex.getMessage.contains("swept or re-claimed"))
      assert(Layout.snapshotVersions(spark, root) == Seq(1),
        "the stalled writer renamed nothing")
    }
  }

  private def withConditionalPut[T](body: => T): T = {
    FlatFs.conditionalPut = true
    try body finally FlatFs.conditionalPut = false
  }

  private def backdateClaim(root: String, name: String): Unit = {
    val f = new java.io.File(
      root.stripPrefix("flat:") + "/_manifests/" + name)
    assert(f.exists(), s"claim object $name must exist to backdate")
    assert(f.setLastModified(
      System.currentTimeMillis() - Layout.ClaimGraceMillis - 60000))
  }

  test("ConditionalPutArbiter refuses an uncertified flat scheme; certification + conditional PUT arbitrates the claim") {
    import spark.implicits._
    val root = flatRoot("flat-cp-refuse")
    withConf("spark.graft.commit.arbiter" ->
        classOf[ConditionalPutArbiter].getName) {
      // 'flat' not certified → loud refusal (its create-exclusive is
      // HEAD-then-PUT — exactly the hazard)
      val ex = intercept[IllegalStateException] {
        Layout.snapshotAppend(spark, root, Seq((0L, "x")).toDF("k", "tag"))
      }
      assert(ex.getMessage.contains("conditionalPutSchemes"))
      withConf("spark.graft.commit.conditionalPutSchemes" -> "flat") {
        withConditionalPut {
          Layout.snapshotAppend(spark, root, Seq((0L, "base")).toDF("k", "tag"))
          // two driver instances race v2: the store's conditional PUT
          // picks exactly one winner (generation 0)
          val a1 = new ConditionalPutArbiter
          val a2 = new ConditionalPutArbiter
          val w1 = a1.tryClaim(spark, root, 2, "driver-1")
          val w2 = a2.tryClaim(spark, root, 2, "driver-2")
          assert(w1 && !w2, "conditional put on the data store arbitrates")
          assert(a2.holder(spark, root, 2).contains("driver-1"))
          // loser's release is content-guarded: no-op
          a2.release(spark, root, 2, "driver-2")
          assert(a1.holder(spark, root, 2).contains("driver-1"))
          // winner's own release (failed-rename path) frees the slot
          a1.release(spark, root, 2, "driver-1")
          assert(a1.holder(spark, root, 2).isEmpty)
          assert(a2.tryClaim(spark, root, 2, "driver-2"),
            "a released claim re-opens generation 0")
        }
      }
    }
  }

  test("ConditionalPutArbiter generation break: stale+uncommitted breaks via g+1 with ONE winner; committed versions are inert; sweep") {
    import spark.implicits._
    val root = flatRoot("flat-cp-gen")
    withConf(
      "spark.graft.commit.arbiter" -> classOf[ConditionalPutArbiter].getName,
      "spark.graft.commit.conditionalPutSchemes" -> "flat") {
      withConditionalPut {
        Layout.snapshotAppend(spark, root, Seq((0L, "base")).toDF("k", "tag"))
        val arb = new ConditionalPutArbiter
        // a crashed writer holds v2's g0; fresh → blocks commits
        assert(arb.tryClaim(spark, root, 2, "crashed"))
        intercept[CommitConflictException] {
          Layout.snapshotAppend(spark, root,
            Seq((1L, "blocked")).toDF("k", "tag"))
        }
        // aged past grace: TWO concurrent breakers race the SAME next
        // generation object — exactly one wins
        backdateClaim(root, "v2.cput.g0")
        val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
        implicit val ec: scala.concurrent.ExecutionContext =
          scala.concurrent.ExecutionContext.fromExecutor(pool)
        import scala.concurrent.duration._
        val wins = scala.concurrent.Await.result(
          scala.concurrent.Future.sequence((1 to 2).map(i =>
            scala.concurrent.Future {
              new ConditionalPutArbiter()
                .tryClaim(spark, root, 2, s"breaker-$i")
            })), 60.seconds)
        assert(wins.count(identity) == 1,
          s"exactly one breaker may win generation 1 (got $wins)")
        val winner = arb.holder(spark, root, 2).get
        assert(winner.startsWith("breaker-"),
          s"the break hands the claim forward (holder=$winner)")
        // the broken writer's pre-rename re-read now sees the breaker
        assert(!arb.holder(spark, root, 2).contains("crashed"))
        // release the breaker's claim and let a real commit through
        new ConditionalPutArbiter().release(spark, root, 2, winner)
        assert(Layout.snapshotAppend(spark, root,
          Seq((1L, "after-break")).toDF("k", "tag")) == 2)
        // v2 committed: even an ancient claim object never re-hands out
        val leftover = new java.io.File(
          root.stripPrefix("flat:") + "/_manifests").listFiles()
          .filter(_.getName.startsWith("v2.cput.g"))
        leftover.foreach(f => f.setLastModified(
          System.currentTimeMillis() - 10 * Layout.ClaimGraceMillis))
        assert(!arb.tryClaim(spark, root, 2, "time-traveler"),
          "a committed version's claim history is inert")
        // claim v3 fresh (uncommitted, live): sweep must keep it while
        // dropping v2's inert objects
        assert(arb.tryClaim(spark, root, 3, "live"))
        val swept = ConditionalPutArbiter.sweep(spark, root)
        assert(swept >= 1, s"v2's aged claim objects sweep (got $swept)")
        assert(arb.holder(spark, root, 3).contains("live"),
          "the live uncommitted claim survives the sweep")
      }
    }
  }

  test("ConditionalPutArbiter end-to-end: concurrent appends on the flat store commit a linear lossless history — no lock root, no second system") {
    import spark.implicits._
    val root = flatRoot("flat-cp-e2e")
    withConf(
      "spark.graft.commit.arbiter" -> classOf[ConditionalPutArbiter].getName,
      "spark.graft.commit.conditionalPutSchemes" -> "flat") {
      withConditionalPut {
        Layout.snapshotAppend(spark, root, Seq((0L, "base")).toDF("k", "tag"))
        val writers = 8
        val pool = java.util.concurrent.Executors.newFixedThreadPool(writers)
        implicit val ec: scala.concurrent.ExecutionContext =
          scala.concurrent.ExecutionContext.fromExecutor(pool)
        val fs = (1 to writers).map { w =>
          scala.concurrent.Future {
            Layout.withCommitRetry(attempts = writers + 2) {
              Layout.snapshotAppend(spark, root,
                Seq((w.toLong, s"writer$w")).toDF("k", "tag"))
            }
          }
        }
        import scala.concurrent.duration._
        scala.concurrent.Await.result(
          scala.concurrent.Future.sequence(fs), 120.seconds)
        pool.shutdown()
        assert(Layout.snapshotVersions(spark, root) == (1 to writers + 1),
          "linear history arbitrated by the data store's conditional PUT")
        val rows = Layout.readSnapshot(spark, root)
          .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
        assert(rows == ((0L, "base") +:
          (1 to writers).map(w => (w.toLong, s"writer$w"))).sorted,
          "no commit lost, none duplicated")
      }
    }
  }

  test("stalled-writer guard through conditional put: a generation break mid-commit aborts before rename") {
    import spark.implicits._
    val root = flatRoot("flat-cp-stall")
    withConf(
      "spark.graft.commit.arbiter" ->
        classOf[HookedConditionalPutArbiter].getName,
      "spark.graft.commit.conditionalPutSchemes" -> "flat") {
      withConditionalPut {
        Layout.snapshotAppend(spark, root, Seq((0L, "base")).toDF("k", "tag"))
        // between this writer's g0 claim of v2 and its pre-rename
        // re-read, another driver breaks to generation 1 (as a stale
        // break would) — the higher generation IS the holder now
        HookedConditionalPutArbiter.onHolderRead = () => {
          java.nio.file.Files.write(
            java.nio.file.Paths.get(
              root.stripPrefix("flat:") + "/_manifests/v2.cput.g1"),
            "other-driver".getBytes("UTF-8"))
        }
        val ex = intercept[IllegalStateException] {
          Layout.snapshotAppend(spark, root,
            Seq((1L, "stalled")).toDF("k", "tag"))
        }
        assert(ex.getMessage.contains("swept or re-claimed"))
        assert(Layout.snapshotVersions(spark, root) == Seq(1),
          "the stalled writer renamed nothing")
      }
    }
  }

  test("ConditionalPutArbiter error taxonomy: a store fault surfaces as I/O (not contention); a lost PUT response resolves via own-token re-read") {
    import spark.implicits._
    val root = flatRoot("flat-cp-fault")
    withConf(
      "spark.graft.commit.arbiter" -> classOf[ConditionalPutArbiter].getName,
      "spark.graft.commit.conditionalPutSchemes" -> "flat") {
      withConditionalPut {
        Layout.snapshotAppend(spark, root, Seq((0L, "base")).toDF("k", "tag"))
        // 1) genuine store fault (object never lands): the arbiter must
        //    NOT map it to "claim lost" — diagnostics would chase a
        //    non-existent concurrent writer. The named I/O diagnostic
        //    propagates through the commit path.
        FlatFs.faultBeforePut = _.getName.contains(".cput.")
        try {
          val ex = intercept[java.io.IOException] {
            Layout.snapshotAppend(spark, root,
              Seq((1L, "fault")).toDF("k", "tag"))
          }
          assert(ex.getMessage.contains("STORE error"),
            s"named store-fault diagnostic, got: ${ex.getMessage}")
          assert(Iterator.iterate[Throwable](ex)(_.getCause)
            .takeWhile(_ != null).forall(!_.isInstanceOf[CommitConflictException]),
            "a store fault surfaced as a lost race in its cause chain")
        } finally FlatFs.faultBeforePut = null
        // the failed attempt left no claim behind: the version is free
        assert(new ConditionalPutArbiter().holder(spark, root, 2).isEmpty)
        // 2) ambiguous success (PUT landed, response lost): the re-read
        //    recognizes the writer's own token — the claim is WON, not
        //    orphaned blocking the version for the grace period.
        FlatFs.faultAfterPut = _.getName.contains(".cput.")
        try {
          val arb = new ConditionalPutArbiter
          assert(arb.tryClaim(spark, root, 2, "me"),
            "own-token re-read resolves a lost PUT response as success")
          assert(arb.holder(spark, root, 2).contains("me"))
          arb.release(spark, root, 2, "me")
        } finally FlatFs.faultAfterPut = null
        // 3) ambiguous error with a CONCURRENT claim present: still a
        //    lost race, not an I/O failure
        val win = new ConditionalPutArbiter
        assert(win.tryClaim(spark, root, 2, "other"))
        FlatFs.faultBeforePut = null
        // (no injection needed: already-exists is the store's own signal)
        assert(!new ConditionalPutArbiter().tryClaim(spark, root, 2, "me"))
        win.release(spark, root, 2, "other")
        // commits still work after the fault episodes
        Layout.snapshotAppend(spark, root, Seq((2L, "after")).toDF("k", "tag"))
        assert(Layout.readSnapshot(spark, root).count() == 2)
      }
    }
  }

  test("LockRootArbiter refuses an unset or non-atomic lock root loudly") {
    import spark.implicits._
    val root = flatRoot("flat-lr-refuse")
    withConf("spark.graft.commit.arbiter" ->
        classOf[LockRootArbiter].getName) {
      val ex = intercept[IllegalArgumentException] {
        Layout.snapshotAppend(spark, root, Seq((0L, "x")).toDF("k", "tag"))
      }
      assert(ex.getMessage.contains("spark.graft.commit.lockRoot"))
      // a lock root on the flat store itself defeats the purpose: refuse
      withConf("spark.graft.commit.lockRoot" -> flatRoot("flat-lockroot")) {
        val ex2 = intercept[IllegalStateException] {
          Layout.snapshotAppend(spark, root, Seq((0L, "x")).toDF("k", "tag"))
        }
        assert(ex2.getMessage.contains("atomic create-exclusive") ||
          ex2.getMessage.contains("no atomic"))
      }
    }
  }
}
