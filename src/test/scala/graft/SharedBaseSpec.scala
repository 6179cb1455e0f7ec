package graft

import graft.ops.{Layout, Relational}

/** q78 and q82 merge on every run, and q91 looks up on every run, against
  * snapshot tables built once per session: a run merges into its own
  * shallow clone of the shared base, never into the base itself. So a
  * query repeated in one session gives the same answer, and the shared
  * tables keep the single version their build committed.
  */
class SharedBaseSpec extends GraftSuite {

  test("q78, q82 and q91 repeat exactly and leave their shared base tables at one version") {
    val queries = Seq("q78_cow_merge", "q82_targeted_delete", "q91_bloom_lookup")
    def run(q: String) = SparkEntry.queries(q)(spark, sf).collect().toSeq
    val first = queries.map(q => q -> run(q)).toMap
    val second = queries.map(q => q -> run(q)).toMap
    queries.foreach { q =>
      assert(first(q).nonEmpty, s"$q returned no rows")
      val differing = first(q).diff(second(q)).size + second(q).diff(first(q)).size
      assert(differing == 0,
        s"$q changed between two runs in one session: $differing rows differ")
    }
    for (tag <- Seq("cow", "bloom", "bloomidx")) {
      val root = Relational.sessionRoot(sf, tag)
      assert(Layout.snapshotVersions(spark, root) == Seq(1),
        s"shared table '$tag' gained versions: " +
          Layout.snapshotVersions(spark, root))
    }
  }
}
