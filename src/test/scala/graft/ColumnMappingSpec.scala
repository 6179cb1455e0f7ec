package graft

import org.apache.spark.sql.functions._

import graft.ops.Layout

/** COLUMN MAPPING (Delta's "name" mode, at its core): RENAME/DROP COLUMN
  * as metadata-only commits — the logical schema changes, physical file
  * bytes never do. Reads alias physical->logical, appends alias
  * logical->physical, time travel below the commit keeps the old shape,
  * and reserved (pruning-identity) columns refuse.
  */
class ColumnMappingSpec extends GraftSuite {

  private def freshRoot(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-$tag").toString + "/t"

  test("RENAME COLUMN is metadata-only: reads alias, appends write the original physical slot") {
    import spark.implicits._
    val root = freshRoot("cmap")
    Layout.snapshotAppend(spark, root,
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), statsKey = Some("k")) // v1
    val before = Layout.snapshotMeta(spark, root).paths.toSet
    Layout.snapshotRenameColumn(spark, root, "v", "label")           // v2
    // zero data I/O: same files
    assert(Layout.snapshotMeta(spark, root).paths.toSet == before)
    // logical read carries the new name, same values
    val got = Layout.readSnapshot(spark, root).orderBy("k")
    assert(got.columns.toSeq == Seq("k", "label"))
    assert(got.collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a"), (2L, "b")))
    // an append speaks logical names; its file stores the PHYSICAL slot
    Layout.snapshotAppend(spark, root, Seq((3L, "c")).toDF("k", "label"))
    val newFile = Layout.snapshotMeta(spark, root).paths
      .filterNot(before).head
    assert(spark.read.parquet(newFile).columns.toSeq == Seq("k", "v"),
      "appends must write the original physical name")
    val all = Layout.readSnapshot(spark, root).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(all == Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // time travel below the rename keeps the old name
    assert(Layout.readSnapshot(spark, root, 1).columns.toSeq == Seq("k", "v"))
  }

  test("rename back to the original name clears the mapping") {
    import spark.implicits._
    val root = freshRoot("cmapback")
    Layout.snapshotAppend(spark, root, Seq((1L, "x")).toDF("k", "v"))
    Layout.snapshotRenameColumn(spark, root, "v", "w")
    Layout.snapshotRenameColumn(spark, root, "w", "v")
    val hdr = Layout.snapshotMeta(spark, root).header
    assert(!hdr.contains("colmap"), s"mapping must clear: $hdr")
    assert(Layout.readSnapshot(spark, root).columns.toSeq == Seq("k", "v"))
  }

  test("DROP COLUMN projects the slot out; the name cannot be re-added until a rewrite") {
    import spark.implicits._
    val root = freshRoot("cdrop")
    Layout.snapshotAppend(spark, root,
      Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("k", "v", "score"))
    Layout.snapshotDropColumn(spark, root, "score")
    val got = Layout.readSnapshot(spark, root)
    assert(got.columns.toSeq == Seq("k", "v"))
    // re-adding the dropped name would resurrect old file bytes: refuse
    val ex = intercept[IllegalArgumentException] {
      Layout.snapshotAddColumns(spark, root, org.apache.spark.sql.types
        .StructType(Seq(org.apache.spark.sql.types.StructField("score",
          org.apache.spark.sql.types.DoubleType))))
    }
    assert(ex.getMessage.contains("DROPPED"), ex.getMessage)
    // ... and so would an append introducing it
    val ex2 = intercept[IllegalArgumentException] {
      Layout.snapshotAppend(spark, root,
        Seq((3L, "c", 99.0)).toDF("k", "v", "score"))
    }
    assert(ex2.getMessage.contains("DROPPED"), ex2.getMessage)
    // a compaction rewrite clears the slot: files then carry only the
    // logical columns, and the name is free again
    Layout.snapshotCompact(spark, root, targetBytes = 128L * 1024 * 1024)
    Layout.snapshotAddColumns(spark, root, org.apache.spark.sql.types
      .StructType(Seq(org.apache.spark.sql.types.StructField("score",
        org.apache.spark.sql.types.DoubleType))))
    val again = Layout.readSnapshot(spark, root)
    assert(again.columns.toSeq == Seq("k", "v", "score") &&
      again.filter(col("score").isNotNull).count() == 0)
  }

  test("the change feed stays LOGICAL across a rename: deltas before and after carry the current names") {
    import spark.implicits._
    val root = freshRoot("cdfren")
    Layout.snapshotAppend(spark, root, Seq((1L, "a")).toDF("k", "v"))   // v1
    Layout.snapshotRenameColumn(spark, root, "v", "label")             // v2
    Layout.snapshotAppend(spark, root, Seq((2L, "b")).toDF("k", "label")) // v3
    val deltas = Layout.snapshotChangesWalk(spark, root, 1, 3)
      .map { case (v, ch) => v -> Layout.changeInserts(ch) }
    assert(deltas.map(_._1) == Seq(2, 3))
    // every delta speaks the head's LOGICAL name — a maintainer's
    // unionByName must see ONE column, never v-and-label halves
    deltas.foreach { case (v, d) =>
      assert(d.columns.toSeq == Seq("k", "label"),
        s"delta v$v columns: ${d.columns.mkString(",")}")
    }
    assert(deltas.find(_._1 == 2).get._2.isEmpty, "a rename adds no rows")
    assert(deltas.find(_._1 == 3).get._2.collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((2L, "b")))
    val merged = deltas.map(_._2)
      .reduce(_.unionByName(_, allowMissingColumns = true))
    assert(merged.filter(col("label").isNull).count() == 0,
      "no silent null-fill from a physical-name leak")
  }

  test("equality-delete change rows after a rename carry the logical names, so a retracting view retracts real values") {
    import spark.implicits._
    val root = freshRoot("cdcdelren")
    val view = freshRoot("cdcdelren-view")
    Layout.snapshotAppend(spark, root, Seq((1L, "a", 10.0), (2L, "a", 5.0),
      (3L, "b", 7.0)).toDF("k", "g", "v"))                           // v1
    Layout.maintainSumViewCdc(spark, root, view, "g", "v")
    Layout.snapshotRenameColumn(spark, root, "v", "amount")          // v2
    Layout.snapshotDeleteMOR(spark, root, "k", Array(1L))            // v3
    val logical = Seq("k", "g", "amount", "_change_type")
    val ch = Layout.snapshotChanges(spark, root, 2, 3)
    assert(ch.columns.toSeq == logical, ch.columns.mkString(","))
    val walked = Layout.snapshotChangesUnion(spark, root, 1, 3)
    assert(walked.columns.toSeq == logical, walked.columns.mkString(","))
    assert(walked.collect().map(r => (r.getLong(0), r.getDouble(2),
      r.getString(3))).toSeq == Seq((1L, 10.0, "delete")))
    Layout.maintainSumViewCdc(spark, root, view, "g", "amount")
    val got = Layout.readSnapshot(spark, view).collect()
      .map(r => r.getAs[String]("g") -> ((r.getAs[Double]("sum_v"),
        r.getAs[Long]("n"), r.getAs[Long]("nn")))).toMap
    assert(got == Map("a" -> ((5.0, 1L, 1L)), "b" -> ((7.0, 1L, 1L))), got)
  }

  test("reserved (pruning-identity) columns refuse rename and drop") {
    import spark.implicits._
    val root = freshRoot("cres")
    Layout.snapshotAppend(spark, root,
      Seq((1L, "a")).toDF("k", "v"), statsKey = Some("k"))
    val ex = intercept[IllegalArgumentException] {
      Layout.snapshotRenameColumn(spark, root, "k", "id")
    }
    assert(ex.getMessage.contains("statsKey"), ex.getMessage)
    val ex2 = intercept[IllegalArgumentException] {
      Layout.snapshotDropColumn(spark, root, "k")
    }
    assert(ex2.getMessage.contains("statsKey"), ex2.getMessage)
  }

  test("row-level SQL (UPDATE / MERGE) composes with a renamed column: rewrites speak logical, files stay physical") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft-cmaprl").toString
    spark.conf.set("spark.sql.catalog.gmr",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gmr.root", wh)
    spark.sql("CREATE TABLE gmr.t (k BIGINT, price DOUBLE, note STRING) " +
      "TBLPROPERTIES ('statsKey'='k')")
    (1 to 50).map(i => (i.toLong, i * 1.0, s"n$i")).toDF("k", "price", "note")
      .createOrReplaceTempView("mr_src")
    spark.sql("INSERT INTO gmr.t SELECT * FROM mr_src")
    spark.sql("ALTER TABLE gmr.t RENAME COLUMN note TO label")
    // UPDATE references (and rewrites) the RENAMED column by its
    // logical name; the COW engine must write the physical slot
    spark.sql("UPDATE gmr.t SET label = 'flagged' WHERE k <= 3")
    assert(spark.sql("SELECT count(*) FROM gmr.t WHERE label = 'flagged'")
      .head().getLong(0) == 3L)
    // MERGE updates the renamed column and inserts new rows through it
    Seq((2L, 99.0, "merged"), (1000L, 5.0, "new"))
      .toDF("mk", "mprice", "mlabel").createOrReplaceTempView("mr_chg")
    spark.sql(
      """MERGE INTO gmr.t t USING mr_chg s ON t.k = s.mk
        |WHEN MATCHED THEN UPDATE SET price = s.mprice, label = s.mlabel
        |WHEN NOT MATCHED THEN INSERT (k, price, label)
        |  VALUES (s.mk, s.mprice, s.mlabel)""".stripMargin)
    val got = spark.sql(
      "SELECT k, price, label FROM gmr.t WHERE k IN (1, 2, 1000) ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
    assert(got.toSeq == Seq((1L, 1.0, "flagged"), (2L, 99.0, "merged"),
      (1000L, 5.0, "new")), got.mkString(", "))
    // every data file still stores the ORIGINAL physical name
    val allCols = Layout.snapshotMeta(spark, s"$wh/t").paths
      .flatMap(p => spark.read.parquet(p).columns).toSet
    assert(allCols.contains("note") && !allCols.contains("label"),
      s"files must stay physical: $allCols")
    assert(Layout.readSnapshot(spark, s"$wh/t").count() == 51)
  }

  test("SQL surface: ALTER TABLE RENAME/DROP COLUMN through the catalog; scans stay pruned and exact") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft-cmapsql").toString
    spark.conf.set("spark.sql.catalog.gmap",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gmap.root", wh)
    spark.sql("CREATE TABLE gmap.t (k BIGINT, v STRING, junk DOUBLE) " +
      "TBLPROPERTIES ('statsKey'='k')")
    for (b <- 0 until 3) {
      (b * 1000 until b * 1000 + 50)
        .map(i => (i.toLong, s"v$i", i / 2.0)).toDF("k", "v", "junk")
        .orderBy("k").coalesce(1).createOrReplaceTempView("cm_src")
      spark.sql("INSERT INTO gmap.t SELECT * FROM cm_src")
    }
    spark.sql("ALTER TABLE gmap.t RENAME COLUMN v TO label")
    spark.sql("ALTER TABLE gmap.t DROP COLUMN junk")
    val q = spark.sql(
      "SELECT k, label FROM gmap.t WHERE k BETWEEN 1000 AND 1049 " +
        "ORDER BY k")
    val rows = q.collect()
    assert(rows.length == 50 && rows.head.getLong(0) == 1000L &&
      rows.head.getString(1) == "v1000")
    // manifest pruning still fires on the (unrenamed) stats column: the
    // scan description reports 1 kept file of the 4 committed entries
    val planStr = q.queryExecution.executedPlan.toString
    assert(planStr.contains("graft t v") &&
      planStr.contains("files=1/"), s"plan:\n$planStr")
    // a logical-name INSERT after the rename round-trips
    Seq((9000L, "nine")).toDF("k", "label")
      .createOrReplaceTempView("cm_add")
    spark.sql("INSERT INTO gmap.t SELECT * FROM cm_add")
    assert(spark.sql("SELECT label FROM gmap.t WHERE k = 9000")
      .head().getString(0) == "nine")
    // renamed column still filterable (row-group pushdown via mapping)
    assert(spark.sql("SELECT k FROM gmap.t WHERE label = 'v1001'")
      .head().getLong(0) == 1001L)
  }

  test("manifest-typed reads: renamed, dropped and header-only columns give the same rows on the clean and the MOR dirty-file path") {
    import spark.implicits._
    val root = freshRoot("cmapmor")
    Layout.snapshotAppend(spark, root,
      Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
        .toDF("k", "v", "score").coalesce(1), statsKey = Some("k"))   // file A
    Layout.snapshotRenameColumn(spark, root, "v", "label")
    Layout.snapshotDropColumn(spark, root, "score")
    Layout.snapshotAddColumns(spark, root, org.apache.spark.sql.types
      .StructType(Seq(org.apache.spark.sql.types.StructField("note",
        org.apache.spark.sql.types.StringType))))                      // header-only
    Layout.snapshotAppend(spark, root,
      Seq((4L, "d", "n4"), (5L, "e", "n5")).toDF("k", "label", "note")
        .coalesce(1), statsKey = Some("k"))                            // file B
    def rows(): Seq[(Long, String, Option[String])] = {
      val df = Layout.readSnapshot(spark, root)
      assert(df.columns.toSeq == Seq("k", "label", "note"))
      df.collect().map(r => (r.getLong(0), r.getString(1),
        Option(r.getString(2)))).sortBy(_._1).toSeq
    }
    val all = Seq((1L, "a", None), (2L, "b", None), (3L, "c", None),
      (4L, "d", Some("n4")), (5L, "e", Some("n5")))
    assert(rows() == all, "clean path")
    // A turns dirty, B stays clean: both halves of the split in one read
    Layout.snapshotDeleteMOR(spark, root, "k", Array(2L))
    assert(rows() == all.filterNot(_._1 == 2L), "dirty A + clean B")
    // both files dirty
    Layout.snapshotDeleteMOR(spark, root, "k", Array(5L))
    assert(rows() == all.filterNot(r => r._1 == 2L || r._1 == 5L),
      "dirty A + dirty B")
  }

  test("a table whose schema header a type conflict dropped still reads through the footer fallback") {
    import spark.implicits._
    val root = freshRoot("cmapfallback")
    Layout.snapshotAppend(spark, root, Seq((1L, 1)).toDF("k", "n")
      .select(col("k"), struct(col("n").as("a")).as("s")), statsKey = Some("k"))
    assert(Layout.snapshotMeta(spark, root).schema.isDefined)
    // a nested field added inside the struct is a type change of `s`
    Layout.snapshotAppend(spark, root, Seq((2L, 2, 3)).toDF("k", "n", "m")
      .select(col("k"), struct(col("n").as("a"), col("m").as("b")).as("s")),
      statsKey = Some("k"))
    assert(Layout.snapshotMeta(spark, root).schema.isEmpty,
      "the conflicting append must drop the recorded schema")
    def rows() = Layout.readSnapshot(spark, root)
      .select(col("k"), col("s.a"), col("s.b")).collect()
      .map(r => (r.getLong(0), r.getInt(1), Option(r.get(2)))).sortBy(_._1).toSeq
    assert(rows() == Seq((1L, 1, None), (2L, 2, Some(3))))
    Layout.snapshotDeleteMOR(spark, root, "k", Array(1L))
    assert(rows() == Seq((2L, 2, Some(3))), "the dirty-file path falls back too")
  }
}
