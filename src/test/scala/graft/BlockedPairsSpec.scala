package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{BlockedPairsGridG, blockedPairs}

/** [[graft.functions.blockedPairs]] against a brute-force reference: the
  * `distinct` self-join of the exploded keys. The fixture puts one group
  * of rows in a single bucket (so every cell of the G×G skew grid is
  * used, diagonal cells included), has pairs that collide at several key
  * positions (first-collision emission must keep exactly one), and a row
  * whose keys collide only with itself.
  */
class BlockedPairsSpec extends GraftSuite {

  private val Lonely = 500L

  private def fixture: DataFrame = {
    import spark.implicits._
    // 64 rows sharing key 7 at position 0, plus finer groups after it
    val bucket = (0L until 64L).map(id => (id, Seq(7L, 100 + id / 4, 200 + id / 2)))
    // first collision at position 1 or 2, never at position 0
    val later = (0L until 12L).map(k =>
      (1000 + k, Seq(5000 + k, 2000 + k / 3, 3000 + k / 2)))
    val lonely = Seq((Lonely, Seq(-1L, -2L, -3L)))
    (bucket ++ later ++ lonely).toDF("id", "keys")
      .withColumn("tag", col("id") * 10)
  }

  private def reference(df: DataFrame): Set[(Long, Long)] = {
    val ex = df.select(col("id"), posexplode(col("keys")))
    ex.alias("a").join(ex.alias("b"),
        col("a.pos") === col("b.pos") && col("a.col") === col("b.col") &&
          col("a.id") < col("b.id"))
      .select(col("a.id"), col("b.id")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  test("each colliding pair appears exactly once, i < j, with its payloads") {
    val df = fixture
    val got = blockedPairs(df, "id", "keys", Seq("tag"))
      .select(col("i"), col("j"), col("pi.tag"), col("pj.tag"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    val pairs = got.map(g => (g._1, g._2))
    assert(pairs.size === pairs.distinct.size, "a pair was emitted twice")
    assert(pairs.forall { case (i, j) => i < j })
    assert(pairs.toSet === reference(df))
    assert(got.forall { case (i, j, ti, tj) => Set(ti, tj) == Set(i * 10, j * 10) },
      "payloads must belong to the pair's rows")
    assert(!pairs.exists { case (i, j) => i == Lonely || j == Lonely },
      "a row colliding only with itself must not pair")
    // the fixture reaches every case it is meant to
    assert(pairs.count { case (i, j) => i >= 1000 && j >= 1000 } > 0)
    assert(pairs.count { case (i, _) => i < 64 } === 64 * 63 / 2)
  }

  test("the single-bucket group uses every cell of the upper-triangular grid") {
    val G = BlockedPairsGridG
    // the primitive's sub-block rule: pmod(xxhash64(id, 909), G)
    def sub(c: String) = pmod(xxhash64(col(c), lit(909)), lit(G))
    val cells = blockedPairs(fixture, "id", "keys", Seq("tag"))
      .filter(col("j") < 64)
      .select(least(sub("i"), sub("j")), greatest(sub("i"), sub("j")))
      .distinct().count()
    assert(cells === G * (G + 1) / 2)
  }
}
