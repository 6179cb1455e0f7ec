package graft

import org.scalatest.funsuite.AnyFunSuite

/** `SPARK_GRAFT_CONF` parsing: well-formed entries apply, empty segments
  * are skipped, and a malformed entry fails loudly instead of leaving the
  * run on the default it was meant to override.
  */
class GraftSessionSpec extends AnyFunSuite {

  test("parseConf reads k=v entries and skips empty segments") {
    assert(GraftSession.parseConf(" a.b = 1 ;c=x=y;;") ===
      Seq("a.b" -> "1", "c" -> "x=y"))
    assert(GraftSession.parseConf("") === Nil)
  }

  test("parseConf rejects an entry without a key or an '='") {
    for (bad <- Seq("a=1;k:v", "=v", "k")) {
      val e = intercept[IllegalArgumentException](GraftSession.parseConf(bad))
      assert(e.getMessage.contains(bad.split(";").last), e.getMessage)
    }
  }
}
