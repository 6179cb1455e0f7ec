package graft

import org.apache.spark.sql.DataFrame

/** labelClusters' two CC paths. A pair list whose pinned size fits
  * `spark.sql.autoBroadcastJoinThreshold` is collected once and solved by
  * union-find on the driver (two jobs, no loop round); a bigger one — or
  * any one with the threshold at -1, as scoped here — runs the self-loop
  * round: one self-loop edge per node, so each round's new label is
  * min(own, neighbors') from a single edge join, and convergence is an
  * unchanged Σ cluster between rounds. The fixture exercises the shapes
  * that stress that convergence rule: a diameter-4 chain (multi-round
  * propagation), a clique (one-round collapse), an isolated pair, and a
  * duplicate edge.
  *
  * The round's convergence sum and BFS's frontier count ride each pin's
  * own job through `Dataset.observe`; when the observation never arrives
  * ([[graft.functions.observedOrNone]] times out and sets the JVM-wide
  * `obsBroken` memo) both fall back to a second job over the pinned rows,
  * and `observedFallbacks` counts each such call. The timeout test forces
  * that fallback on the loop, checks it answers the same and that it was
  * counted.
  */
class CcSelfLoopSpec extends GraftSuite {

  private def labels(df: DataFrame): Seq[(Long, Long, Int)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq

  private def run(pairs: Seq[(Long, Long)]): Seq[(Long, Long, Int)] = {
    import spark.implicits._
    labels(dedup.Dedup.labelClusters(pairs.toDF("i", "j"), "id"))
  }

  /** `body` on the propagation loop: nothing fits a broadcast threshold
    * of -1. The session's setting is restored afterwards. */
  private def onLoop[A](body: => A): A = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    try body
    finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** `body`'s result and the CC loop rounds it ran. */
  private def rounds[A](body: => A): (A, Long) = {
    val before = dedup.Dedup.ccRounds.get()
    val out = body
    (out, dedup.Dedup.ccRounds.get() - before)
  }

  // chain 10-11-12-13-14 (diameter 4), clique {20,21,22}, pair (30,31)
  private val fixture = Seq[(Long, Long)]((10L, 11L), (11L, 12L), (12L, 13L),
    (13L, 14L), (20L, 21L), (20L, 22L), (21L, 22L), (30L, 31L))

  private val expected = Seq[(Long, Long, Int)](
    (10L, 10L, 1), (11L, 10L, 0), (12L, 10L, 0), (13L, 10L, 0), (14L, 10L, 0),
    (20L, 20L, 1), (21L, 20L, 0), (22L, 20L, 0),
    (30L, 30L, 1), (31L, 30L, 0))

  /** Runs `body` with the observation memo forced to `broken`, restoring
    * the JVM-wide memo afterwards (every suite shares this JVM). */
  private def withObsBroken[A](broken: Boolean)(body: => A): A = {
    val saved = functions.obsBroken
    functions.obsBroken = broken
    try body finally functions.obsBroken = saved
  }

  test("chain, clique and pair label to their min id; a duplicate edge is a no-op") {
    onLoop {
      assert(run(fixture) == expected)
      assert(run(fixture :+ ((10L, 11L))) == expected)
    }
    assert(run(fixture) == expected)
    assert(run(fixture :+ ((10L, 11L))) == expected)
  }

  test("self-loop fused CC handles a single edge and converges") {
    onLoop(assert(run(Seq((5L, 3L))) == Seq((3L, 3L, 1), (5L, 3L, 0))))
    assert(run(Seq((5L, 3L))) == Seq((3L, 3L, 1), (5L, 3L, 0)))
  }

  test("observation timeout: the fallback jobs answer as the fused CC and BFS paths") {
    onLoop {
      def bfs() = ops.Graph.q76BfsHops(spark, sf).collect().toSeq
      val (fusedCc, fusedBfs) = withObsBroken(false)((run(fixture), bfs()))
      // every CC round and BFS hop that ran its fallback job counts it:
      // the chain takes at least four rounds to label 14 with 10, and BFS
      // at least one hop
      def counted[A](body: => A): (A, Long) = {
        val before = functions.observedFallbacks.get()
        val out = withObsBroken(true)(body)
        (out, functions.observedFallbacks.get() - before)
      }
      val (fallbackCc, ccFallbacks) = counted(run(fixture))
      val (fallbackBfs, bfsFallbacks) = counted(bfs())
      assert(ccFallbacks >= 4, s"CC fallbacks counted: $ccFallbacks")
      assert(bfsFallbacks >= 1, s"BFS fallbacks counted: $bfsFallbacks")
      assert(fusedCc == expected)
      assert(fallbackCc == expected)
      assert(fusedBfs.nonEmpty)
      assert(fallbackBfs == fusedBfs)
    }
  }

  test("ccRounds counts loop rounds only: +0 solved on the driver, >= 4 on the loop") {
    val (driver, driverRounds) = rounds(run(fixture))
    val (loop, loopRounds) = rounds(onLoop(run(fixture)))
    assert(driver == expected && loop == expected)
    assert(driverRounds === 0)
    // the chain has diameter 4
    assert(loopRounds >= 4, s"loop rounds counted: $loopRounds")
  }

  test("a driver-solved call starts at most 2 jobs: the pin and the collect") {
    import spark.implicits._
    val pairs = fixture.toDF("i", "j")
    val (out, sites) = jobsOf(dedup.Dedup.labelClusters(pairs, "id"))
    assert(sites.size <= 2, s"jobs: ${sites.mkString(", ")}")
    assert(labels(out) == expected)
  }

  test("driver solve ≡ loop on seeded random graphs of chains, cliques and pairs") {
    import spark.implicits._
    for (seed <- Seq(1, 2, 3)) {
      val rnd = new scala.util.Random(seed)
      // a few hundred distinct ids, dealt out to components in random order
      val ids = rnd.shuffle((0L until 5000L).toVector).take(300)
      val edges = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      val comps = scala.collection.mutable.ArrayBuffer.empty[Seq[Long]]
      var rest = ids
      while (rest.size >= 2) {
        val kind = rnd.nextInt(3)
        val size = math.min(rest.size, if (kind == 2) 2 else 2 + rnd.nextInt(7))
        val (c, tail) = rest.splitAt(size)
        rest = tail
        comps += c
        kind match {
          case 0 => edges ++= c.zip(c.tail) // chain
          case 1 => edges ++= (for (a <- c; b <- c if a < b) yield (a, b)) // clique
          case _ => edges += ((c(0), c(1))) // pair
        }
      }
      // duplicate and reversed copies of some edges
      val noisy = rnd.shuffle(edges.toSeq ++ edges.take(20) ++
        edges.takeRight(20).map(_.swap))
      val want = comps.flatMap { c =>
        c.map(v => (v, c.min, if (v == c.min) 1 else 0)) }.sortBy(_._1).toSeq
      val driver = labels(dedup.Dedup.labelClusters(noisy.toDF("i", "j"), "id"))
      val loop = onLoop(labels(dedup.Dedup.labelClusters(noisy.toDF("i", "j"), "id")))
      assert(driver == loop, s"seed $seed")
      assert(driver == want, s"seed $seed")
      // int ids keep their type on both paths
      val intPairs = noisy.map { case (a, b) => (a.toInt, b.toInt) }.toDF("i", "j")
      val driverInt = dedup.Dedup.labelClusters(intPairs, "id")
      val loopInt = onLoop(dedup.Dedup.labelClusters(intPairs, "id").collect())
      assert(driverInt.schema.map(_.dataType) ===
        Seq(org.apache.spark.sql.types.IntegerType,
          org.apache.spark.sql.types.IntegerType,
          org.apache.spark.sql.types.IntegerType))
      assert(driverInt.collect().toSeq == loopInt.toSeq, s"seed $seed (int ids)")
    }
  }

  test("d7, d8, d18, d20 and m7 return identical rows on both CC paths") {
    val ops = Seq[(String, (org.apache.spark.sql.SparkSession, String) => DataFrame)](
      "d7" -> dedup.Dedup.d7DedupClusters,
      "d8" -> dedup.Dedup.d8EmbedClusters,
      "d18" -> dedup.Dedup.d18ClusterSplit,
      "d20" -> dedup.Dedup.d20SemanticDedup,
      "m7" -> multimodal.Multimodal.m7PhashClusters)
    for ((name, op) <- ops) {
      def rows() = op(spark, sf).collect().map(_.toString).sorted.toSeq
      val (driver, driverRounds) = rounds(rows())
      val (loop, loopRounds) = rounds(onLoop(rows()))
      assert(driver == loop, name)
      assert(driverRounds === 0, s"$name ran the loop at the default threshold")
      assert(loopRounds > 0, s"$name did not run the loop under -1")
    }
  }
}
