package graft

import org.scalatest.funsuite.AnyFunSuite

/** `TimeQuery`'s command line is checked before any session starts: a
  * typo in a mode word or a query name fails loudly instead of running
  * (and timing) something other than what was asked.
  */
class TimeQuerySpec extends AnyFunSuite {

  test("parse reads names, sfDir, reps and a mode; flagship is a name") {
    val a = TimeQuery.parse(Seq("q80_ivm_agg,flagship", "/data/sf1", "2", "stages"))
    assert(a === TimeQuery.Args(Seq("q80_ivm_agg", "flagship"), "/data/sf1", 2,
      Some("stages")))
    assert(TimeQuery.parse(Seq("d3_simhash", "/d", "0", "explain")).mode ===
      Some("explain"))
    assert(TimeQuery.parse(Seq("d3_simhash")).reps === 4)
  }

  test("an unknown mode word fails naming it") {
    val e = intercept[IllegalArgumentException](
      TimeQuery.parse(Seq("d3_simhash", "/d", "1", "explian")))
    assert(e.getMessage.contains("explian"), e.getMessage)
  }

  test("an unknown query name fails with `unknown query <name>`") {
    val e = intercept[IllegalArgumentException](
      TimeQuery.parse(Seq("d3_simhash,q999_nope")))
    assert(e.getMessage === "unknown query q999_nope")
  }

  test("a non-numeric rep count or a surplus argument fails naming it") {
    val reps = intercept[IllegalArgumentException](
      TimeQuery.parse(Seq("d3_simhash", "/d", "four")))
    assert(reps.getMessage.contains("four"), reps.getMessage)
    val extra = intercept[IllegalArgumentException](
      TimeQuery.parse(Seq("d3_simhash", "/d", "1", "stages", "extra")))
    assert(extra.getMessage.contains("extra"), extra.getMessage)
  }
}
