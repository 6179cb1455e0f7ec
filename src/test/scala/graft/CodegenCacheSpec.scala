package graft

import org.apache.spark.sql.DataFrame

/** The session factory keeps each generated class compiled once per JVM:
  * Spark's codegen cache is sized to graft's working set
  * (`GraftSession.CodegenCacheEntries`) and stage ids stay out of class
  * names, so a second round of the same operators compiles nothing.
  * With Spark's defaults (100 entries, the AQE stage id in every class
  * name) each warm `curate` call recompiled over a hundred classes.
  */
class CodegenCacheSpec extends GraftSuite {

  /** Classes compiled while `curate`, d20 and m7 each run through a
    * full-column action (every column is generated and read, unlike a
    * `.count()` whose plan prunes them).
    */
  private def round(): Long = {
    val calls = Seq[() => DataFrame](
      () => ops.Curation.curate(spark, sf),
      () => SparkEntry.queries("d20_semantic_dedup")(spark, sf),
      () => SparkEntry.queries("m7_phash_clusters")(spark, sf))
    val c0 = TimeQuery.compiles()
    calls.foreach(call => assert(call().collect().nonEmpty))
    TimeQuery.compiles() - c0
  }

  test("a second round of curate, d20 and m7 compiles no class") {
    val first = round()
    val second = round()
    assert(second === 0L, s"first round compiled $first classes")
  }
}
