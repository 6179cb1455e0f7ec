package graft

/** The edit-dedup family's hot-group skew grid (round 19): for the
  * ungridded (G = 1) arm, (seg, part) groups whose sampled index-side
  * count extrapolates past `spark.graft.editDedup.hotGroupRows` are split
  * G²-ways at `Dedup.EditHotGridG` — and ONLY those groups,
  * so the replication prices the hot rows rather than the whole exploded
  * side (the blanket grid's measured sf10 failure mode). The contract:
  * the grid is a PLACEMENT decision — the candidate multiset, and
  * therefore the output, is bit-identical whichever groups it splits.
  * The fixture plants a genuinely hot group (many docs sharing one exact
  * 60-char tail, so every segment collides) amid unique-tail docs, and
  * the threshold sweep exercises all-hot, mixed, and none-hot splits.
  */
class EditDedupHotGridSpec extends GraftSuite {

  private def corpus = {
    import spark.implicits._
    val rnd = new scala.util.Random(4242)
    val alpha = "abcdefghijklmnopqrstuvwxyz "
    def randText(n: Int) =
      (0 until n).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
    val hotTail = randText(70)
    // 24 docs share the identical tail (every (seg, part) of the hot key
    // collides ~24²-ways), 36 docs are unique-ish with planted ≤K edits
    val hot = (0 until 24).map(i => (1000L + i, randText(5 + i % 7) + hotTail))
    val planted = (0 until 18).flatMap { g =>
      val base = randText(60 + rnd.nextInt(40))
      def edit(s: String): String = rnd.nextInt(3) match {
        case 0 if s.nonEmpty =>
          val i = rnd.nextInt(s.length)
          s.updated(i, alpha(rnd.nextInt(alpha.length)))
        case 1 if s.nonEmpty =>
          val i = rnd.nextInt(s.length); s.take(i) + s.drop(i + 1)
        case _ =>
          val i = rnd.nextInt(s.length + 1)
          s.take(i) + alpha(rnd.nextInt(alpha.length)) + s.drop(i)
      }
      val e = g % (dedup.Dedup.D15K + 3)
      val mutated = (0 until e).foldLeft(base)((s, _) => edit(s))
      Seq((g * 2L, base), (g * 2L + 1, mutated))
    }
    (hot ++ planted).toDF("doc_id", "text")
  }

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

  private def withHotConfs[A](confs: (String, String)*)(body: => A): A = {
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally confs.foreach { case (k, _) => spark.conf.unset(k) }
  }

  test("hot-grid split is placement-only: output bit-identical at every threshold") {
    val docs = corpus
    val (b15, b17) =
      (rows(dedup.Dedup.d15Pairs(docs)), rows(dedup.Dedup.d17Pairs(docs)))
    assert(b15.nonEmpty, "fixture must exercise non-trivial pairs")
    assert(b15 === b17, "both blockings agree before any grid")
    // hotGroupRows=0: every sampled group is hot (all-split stress);
    // a mid threshold leaves the hot-tail group split and the rest not;
    // a huge threshold finds nothing hot (pure detector overhead path).
    for (threshold <- Seq("0", "64", "1000000")) {
      val got = withHotConfs(
        dedup.Dedup.EditHotMinDocsConf -> "0",
        dedup.Dedup.EditHotGroupRowsConf -> threshold) {
        (rows(dedup.Dedup.d15Pairs(docs)), rows(dedup.Dedup.d17Pairs(docs)))
      }
      // d15 runs gridG=8 (not 1) so the hot grid must NOT engage there
      assert(got._1 === b15, s"d15 output changed at hotGroupRows=$threshold")
      assert(got._2 === b17, s"d17 output changed at hotGroupRows=$threshold")
    }
  }

  test("hot grid engages only for the G=1 arm past the doc-count gate") {
    val docs = corpus
    // gate above the corpus size: detector off, d17's plan is unchanged
    // (no sample-count aggregate anywhere)
    val off = withHotConfs(dedup.Dedup.EditHotMinDocsConf -> "1000000") {
      dedup.Dedup.d17Pairs(docs).queryExecution.optimizedPlan.toString
    }
    assert(!off.contains("hseg"), "detector must stay off below the gate")
    // gate at 0: the hot-set join appears in d17 (G=1 arm) ...
    val on = withHotConfs(dedup.Dedup.EditHotMinDocsConf -> "0",
        dedup.Dedup.EditHotGroupRowsConf -> "0") {
      dedup.Dedup.d17Pairs(docs).queryExecution.optimizedPlan.toString
    }
    assert(on.contains("hseg"), "detector must engage past the gate")
    // ... but never in d15 (its arm runs the blanket gridG=8)
    val d15on = withHotConfs(dedup.Dedup.EditHotMinDocsConf -> "0",
        dedup.Dedup.EditHotGroupRowsConf -> "0") {
      dedup.Dedup.d15Pairs(docs).queryExecution.optimizedPlan.toString
    }
    assert(!d15on.contains("hseg"), "blanket-grid arm must not pay the detector")
  }

  test("inline-carry form composes with the hot grid") {
    val docs = corpus
    val expect = rows(dedup.Dedup.d17Pairs(docs))
    val got = withHotConfs(
      dedup.Dedup.EditKeysBroadcastMaxRowsConf -> "0",
      dedup.Dedup.EditHotMinDocsConf -> "0",
      dedup.Dedup.EditHotGroupRowsConf -> "0") {
      rows(dedup.Dedup.d17Pairs(docs))
    }
    assert(got === expect, "inline + hot grid must stay bit-identical")
  }
}
