package graft

/** labelClusters' CC round: one self-loop edge per node, so each round's
  * new label is min(own, neighbors') from a single edge join, and
  * convergence is an unchanged Σ cluster between rounds. The fixture
  * exercises the shapes that stress that convergence rule: a diameter-4
  * chain (multi-round propagation), a clique (one-round collapse), an
  * isolated pair, and a duplicate edge.
  *
  * The round's convergence sum and BFS's frontier count ride each pin's
  * own job through `Dataset.observe`; when the observation never arrives
  * ([[graft.functions.observedOrNone]] times out and sets the JVM-wide
  * `obsBroken` memo) both fall back to a second job over the pinned rows,
  * and `observedFallbacks` counts each such call. The last test forces
  * that fallback, checks it answers the same and that it was counted.
  */
class CcSelfLoopSpec extends GraftSuite {

  private def run(pairs: Seq[(Long, Long)]): Seq[(Long, Long, Int)] = {
    import spark.implicits._
    dedup.Dedup.labelClusters(pairs.toDF("i", "j"), "id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
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
    assert(run(fixture) == expected)
    assert(run(fixture :+ ((10L, 11L))) == expected)
  }

  test("self-loop fused CC handles a single edge and converges") {
    assert(run(Seq((5L, 3L))) == Seq((3L, 3L, 1), (5L, 3L, 0)))
  }

  test("observation timeout: the fallback jobs answer as the fused CC and BFS paths") {
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
