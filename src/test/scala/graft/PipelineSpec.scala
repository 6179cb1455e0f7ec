package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.pipeline._

/** Pipeline framework semantics (SURVEY §2.1 P2/P4/P5/P6/P7/P8). */
class PipelineSpec extends GraftSuite {
  implicit def s: SparkSession = spark

  private def countingSource(data: Map[String, DataFrame]): (DataSource, () => Int) = {
    var calls = 0
    val src = new DataSource {
      override def provides: Set[String] = data.keySet
      override def get(dt: String, q: Query, sp: SparkSession): DataFrame = {
        calls += 1
        data.getOrElse(dt, throw new NotFoundError(dt))
      }
    }
    (src, () => calls)
  }

  test("P2: a sink before the source caches; second get is served from it") {
    val orders = Tables(spark, sf, "orders")
    val (src, calls) = countingSource(Map("orders" -> orders))
    val cache = new MemoryCacheSink(Set("orders"))
    val p = new DataPipeline(Seq(Right(cache), Left(src)))
    val q = Query.of("k" -> 1)
    val first = p.get("orders", q)
    assert(calls() === 1 && cache.puts === 1 && cache.hits === 0)
    val second = p.get("orders", q)
    assert(calls() === 1, "source must not be re-queried on a cache hit")
    assert(cache.hits === 1)
    assert(first.count() === second.count())
    // a different query misses the cache
    p.get("orders", Query.of("k" -> 2))
    assert(calls() === 2)
  }

  test("P4: cheapest transformer chain wins (A→B→C over direct A→C)") {
    import spark.implicits._
    val base = Seq((1, "x")).toDF("id", "v")
    val (src, _) = countingSource(Map("A" -> base))
    def tagger(f: String, t: String, c: Double): Transformer = new Transformer {
      val from = f; val to = t; override val cost = c
      def transform(df: DataFrame): DataFrame =
        df.withColumn("path", concat_ws("→", col("path_tmp"), lit(t)))
          .withColumnRenamed("path", "path_tmp")
    }
    // simpler tagging: append to an array column
    def tag(f: String, t: String, c: Double): Transformer = new Transformer {
      val from = f; val to = t; override val cost = c
      def transform(df: DataFrame): DataFrame = {
        val withTrail = if (df.columns.contains("trail")) df
          else df.withColumn("trail", array())
        withTrail.withColumn("trail", array_union(col("trail"), array(lit(t))))
      }
    }
    val p = new DataPipeline(Seq(Left(src)),
      Seq(tag("A", "B", 1.0), tag("B", "C", 1.0), tag("A", "C", 5.0)))
    val out = p.get("C")
    val trail = out.select(col("trail")).head().getSeq[String](0)
    assert(trail === Seq("B", "C"), s"expected chain A→B→C, got $trail")
    // and the graph resolver agrees
    assert(p.chain("A", "C").get._2 === 2.0)
  }

  test("P4: chains are memoized per (from, to): a second get reads no transformer cost") {
    import spark.implicits._
    val (src, _) = countingSource(Map("A" -> Seq(1).toDF("x")))
    var costReads = 0
    val aToB = new Transformer {
      val from = "A"; val to = "B"
      override def cost: Double = { costReads += 1; 1.0 }
      def transform(df: DataFrame): DataFrame = df
    }
    val p = new DataPipeline(Seq(Left(src)), Seq(aToB))
    p.get("B")
    assert(costReads > 0, "the first get resolves the chain")
    val afterFirst = costReads
    p.get("B")
    assert(costReads === afterFirst, "the second get re-ran the chain search")
  }

  test("P5: composite source falls through NotFound; Unsupported propagates") {
    import spark.implicits._
    val empty = new MemorySource(Map.empty, advertised = Set("T"))
    val full = new MemorySource(Map("T" -> Seq(1).toDF("x")))
    val composite = new CompositeDataSource(Seq(empty, full))
    assert(composite.get("T", Query.empty, spark).count() === 1)
    intercept[UnsupportedError] { composite.get("nope", Query.empty, spark) }
    val p = new DataPipeline(Seq(Left(new MemorySource(Map.empty))))
    intercept[NotFoundError] { p.get("missing") }
  }

  test("P3: validator rejects wrong types and missing keys, applies defaults") {
    val v = QueryValidator.builder
      .has("status").asType[String]
      .canHave("limit").withDefault(10)
    val ok = v.validate(Query.of("status" -> "F"))
    assert(ok[Int]("limit") === 10)
    intercept[QueryValidationError] { v.validate(Query.empty) }
    // an int coerces to a declared String key (reference as_(str) semantics)
    assert(v.validate(Query.of("status" -> 42))[String]("status") === "42")
    // but an unparsable string against an int key is rejected
    intercept[QueryValidationError] {
      v.validate(Query.of("status" -> "F", "limit" -> "lots"))
    }
  }

  test("P3: validator coerces compatible primitives to the declared type") {
    val v = QueryValidator.builder
      .has("n").asType[Int]
      .has("big").asType[Long]
      .has("ratio").asType[Double]
      .has("flag").asType[Boolean]
    val out = v.validate(Query.of(
      "n" -> "5", "big" -> 7, "ratio" -> "0.25", "flag" -> "true"))
    assert(out[Int]("n") === 5)
    assert(out[Long]("big") === 7L)
    assert(out[Double]("ratio") === 0.25)
    assert(out[Boolean]("flag") === true)
    // lossy narrowings are rejected: fractional double → int
    intercept[QueryValidationError] {
      QueryValidator.builder.has("n").asType[Int]
        .validate(Query.of("n" -> 2.5))
    }
    // whole double narrows losslessly
    assert(QueryValidator.builder.has("n").asType[Int]
      .validate(Query.of("n" -> 2.0))[Int]("n") === 2)
  }

  test("put routes through every accepting sink; putMany fans out; no-sink errors") {
    import spark.implicits._
    val df = Seq((1, "a"), (2, "b")).toDF("id", "v")
    val c1 = new MemoryCacheSink(Set("T"))
    val c2 = new MemoryCacheSink(Set("T", "U"))
    val (src, _) = countingSource(Map.empty)
    val p = new DataPipeline(Seq(Right(c1), Left(src), Right(c2)))
    p.put("T", df)
    assert(c1.puts === 1 && c2.puts === 1,
      "put must reach every accepting sink in the chain")
    assert(p.get("T").count() === 2) // served back from a cache tier
    p.putMany("U", Seq(df, df))
    assert(c2.puts === 3 && c1.puts === 1)
    intercept[UnsupportedError] { p.put("unknown", df) }
  }

  test("put converts through the transformer chain for sinks of another type") {
    import spark.implicits._
    val df = Seq(1, 2, 3).toDF("x")
    val sink = new MemoryCacheSink(Set("B"))
    val double = new Transformer {
      val from = "A"; val to = "B"
      def transform(d: DataFrame): DataFrame = d.withColumn("x", col("x") * 2)
    }
    val p = new DataPipeline(Seq(Right(sink)), Seq(double))
    p.put("A", df)
    assert(sink.puts === 1)
    val cached = sink.lookup("B", Query.empty, spark).get
    assert(cached.agg(sum(col("x"))).head().getLong(0) === 12)
  }

  test("binaryFile and text sources read raw files through the pipeline") {
    val dir = java.nio.file.Files.createTempDirectory("graft-binsrc")
    val payload = Array[Byte](1, 2, 3, 4, 5)
    java.nio.file.Files.write(dir.resolve("a.bin"), payload)
    java.nio.file.Files.write(dir.resolve("b.txt"),
      "line one\nline two\n".getBytes("UTF-8"))
    val p = new DataPipeline(Seq(
      Left(new BinaryFileSource("blobs", dir.toString, Some("*.bin"))),
      Left(new TextSource("lines", s"$dir/b.txt"))))
    val blobs = p.get("blobs")
    assert(blobs.count() === 1, "glob filter must prune non-matching files")
    val row = blobs.select(col("length"), col("content")).head()
    assert(row.getLong(0) === payload.length)
    assert(row.getAs[Array[Byte]](1).toSeq === payload.toSeq)
    assert(p.get("lines").count() === 2)
  }

  test("streaming foreachBatch bridges into a pipeline sink") {
    import org.apache.spark.sql.streaming.Trigger
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-sink")
    Tables(spark, sf, "orders").limit(50).coalesce(1)
      .write.parquet(s"$dir/in")
    val sink = new MemoryCacheSink(Set("orders_agg"))
    val stream = spark.readStream
      .schema(spark.read.parquet(s"$dir/in").schema)
      .parquet(s"$dir/in")
    val q = stream.groupBy(col("o_orderstatus")).count()
      .writeStream.outputMode("complete")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        sink.put("orders_agg", batch.persist())
        // materialize every partition — Spark 4 validates that foreachBatch
        // processed the whole batch (state-store commit tracking)
        batch.count(): Unit
      }
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val cached = sink.lookup("orders_agg", Query.empty, spark)
    assert(cached.isDefined, "foreachBatch must have put a batch into the sink")
    assert(cached.get.count() > 0)
  }

  test("re-putting the same DataFrame keeps its persisted blocks") {
    import spark.implicits._
    val df = Seq(1, 2, 3).toDF("x")
    val sink = new MemoryCacheSink(Set("T"))
    sink.put("T", df)
    sink.put("T", df) // idempotent re-put (e.g. a promoted lookup hit)
    assert(df.storageLevel.useMemory,
      "re-put of the same DataFrame must not unpersist it")
    df.unpersist()
  }

  test("P6/P7: csv and json round-trip through sinks and sources") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-io").toString
    val orders = Tables(spark, sf, "orders").limit(100)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    orders.write.mode("overwrite").option("header", "true").csv(s"$tmp/csv")
    orders.write.mode("overwrite").json(s"$tmp/json")
    val schema = StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
      StructField("o_totalprice", DoubleType)))
    val csv = new CsvSource("orders_csv", s"$tmp/csv", schema)
      .get("orders_csv", Query.empty, spark)
    val json = new JsonSource("orders_json", s"$tmp/json", schema)
      .get("orders_json", Query.empty, spark)
    assert(csv.count() === 100 && json.count() === 100)
    assert(csv.exceptAll(json).count() === 0)
    // parquet store tier serves back what was put
    val store = new ParquetDirSink(s"$tmp/pq", Set("orders_sel"))
    store.put("orders_sel", orders)
    val back = store.lookup("orders_sel", Query.empty, spark)
    assert(back.isDefined && back.get.exceptAll(orders).count() === 0)
  }

  test("P8: getMany returns one result per query") {
    val (src, calls) = countingSource(Map("orders" -> Tables(spark, sf, "orders")))
    val p = new DataPipeline(Seq(Left(src)))
    val res = p.getMany("orders", Seq(Query.of("a" -> 1), Query.of("a" -> 2)))
    assert(res.size === 2 && calls() === 2)
  }

  test("durable store keys are injective: spelled-out pairs and retyped values miss each other") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-inj").toString
    val store = new ParquetDirSink(tmp, Set("t"))
    val rows = spark.range(3).toDF("id")
    store.put("t", rows, Query.of("a" -> "1&b=2"))
    assert(store.lookup("t", Query.of("a" -> "1", "b" -> "2"), spark).isEmpty,
      "a value spelling another query's pairs must MISS")
    assert(store.lookup("t", Query.of("a" -> "1&b=2"), spark).isDefined)
    store.put("t", rows, Query.of("n" -> 1))
    assert(store.lookup("t", Query.of("n" -> "1"), spark).isEmpty,
      "the number 1 and the string \"1\" must MISS each other")
    assert(store.lookup("t", Query.of("n" -> 1), spark).isDefined)
    // no stable encoding: refused, never keyed by identity
    intercept[QueryValidationError](
      store.lookup("t", Query.of("ids" -> Array(1, 2)), spark))
  }

  test("a tier that cannot take the fill never fails a served read: miss fill and hit promotion are counted") {
    // the durable tier's base directory sits under a regular file, so
    // every put into it fails
    val blocker = java.nio.file.Files.createTempFile("graft-blocker", ".f")
    val broken = new ParquetDirSink(s"$blocker/pq", Set("t"))
    val rows = spark.range(5).toDF("id")
    val before = DataPipeline.fillFailures.get()
    val miss = new DataPipeline(
      Seq(Right(broken), Left(new MemorySource(Map("t" -> rows)))))
    assert(miss.get("t").count() === 5, "the source's rows are served")
    assert(DataPipeline.fillFailures.get() === before + 1)
    val mem = new MemoryCacheSink(Set("t"))
    mem.put("t", rows, Query.empty)
    val hit = new DataPipeline(Seq(Right(broken), Right(mem)))
    assert(hit.get("t").count() === 5, "the lower tier's hit is served")
    assert(DataPipeline.fillFailures.get() === before + 2)
  }

  test("a put that fails mid-write leaves the previous entry; a get then falls through to the source") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-atomic").toString
    val store = new ParquetDirSink(tmp, Set("t"))
    val good = spark.range(10).toDF("id")
    // one task of four throws after the others wrote their files
    val failing = spark.range(0, 100, 1, 4).select(
      when(col("id") === 57L, raise_error(lit("mid-write failure")))
        .otherwise(col("id")).as("id"))
    val (q1, q2) = (Query.of("k" -> 1), Query.of("k" -> 2))
    store.put("t", good, q1)
    intercept[Exception](store.put("t", failing, q1))
    assert(store.lookup("t", q1, spark)
      .map(_.collect().map(_.getLong(0)).sorted.toSeq) === Some(0L until 10L),
      "a failed put must leave the previous entry as it was")
    intercept[Exception](store.put("t", failing, q2))
    assert(store.lookup("t", q2, spark).isEmpty, "a half-written entry is a miss")
    assert(new java.io.File(s"$tmp/t").list().forall(n => !n.startsWith(".")),
      "a failed put leaves no staged sibling behind")
    val (src, calls) = countingSource(Map("t" -> good))
    val p = new DataPipeline(Seq(Right(store), Left(src)))
    assert(p.get("t", q2).count() === 10 && calls() === 1)
    assert(p.get("t", q2).count() === 10 && calls() === 1,
      "the source's answer is published for the next get")
  }
}

/** P7 partitioned writes: a sink that partitions by a column, pruned reads. */
class PartitionedSinkSpec extends GraftSuite {
  test("partitionBy write produces prunable directories served back whole") {
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("graft-part").toString
    val orders = Tables(spark, sf, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    orders.write.mode("overwrite").partitionBy("o_orderstatus").parquet(s"$tmp/orders")
    // partition directories exist
    val dirs = new java.io.File(s"$tmp/orders").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(dirs.exists(_.startsWith("o_orderstatus=")))
    val back = spark.read.parquet(s"$tmp/orders")
    assert(back.count() === orders.count())
    // a partition-filtered read only lists that directory (partition pruning)
    val one = back.filter(col("o_orderstatus") === "F")
    val expected = orders.filter(col("o_orderstatus") === "F").count()
    assert(one.count() === expected)
  }
}

/** SQL registration of graft's native expressions + ORC source. */
class SqlSurfaceSpec extends GraftSuite {
  test("registered SQL functions compute the same values as the Column API") {
    import org.apache.spark.sql.functions._
    graft.functions.GraftFunctions.register(spark)
    Tables.registerAll(spark, sf)
    val viaSql = spark.sql(
      "SELECT doc_id, charfold(text) AS fp, dot_product(ARRAY(1.0d,2.0d), ARRAY(3.0d,4.0d)) AS d FROM documents ORDER BY doc_id LIMIT 5")
    val viaApi = Tables(spark, sf, "documents")
      .select(col("doc_id"), graft.functions.charFoldHash(col("text")).as("fp"))
      .orderBy(col("doc_id")).limit(5)
    assert(viaSql.select(col("doc_id"), col("fp")).exceptAll(viaApi).count() === 0)
    assert(viaSql.head().getDouble(2) === 11.0)
  }

  test("sketch aggregates on the SQL surface equal their Column-API forms") {
    import org.apache.spark.sql.functions._
    graft.functions.GraftFunctions.register(spark)
    Tables.registerAll(spark, sf)
    // CMS is bit-deterministic, so SQL ≡ API is exact array equality
    val sqlCms = spark.sql(
      "SELECT count_min(tok) AS s FROM (SELECT explode(split(text, ' ')) AS tok FROM documents)")
      .head().getSeq[Long](0)
    val apiCms = Tables(spark, sf, "documents")
      .select(explode(split(col("text"), " ")).as("tok"))
      .select(graft.functions.CountMinSketch.countMin(col("tok")).as("s"))
      .head().getSeq[Long](0)
    assert(sqlCms === apiCms)
    // KLL quartiles: deterministic compaction ⇒ same values through SQL
    val sqlKll = spark.sql(
      "SELECT kll_quartiles(value) AS q FROM events").head().getSeq[Double](0)
    val apiKll = Tables(spark, sf, "events")
      .select(graft.functions.QuantileSketch
        .kllQuantiles(col("value"), Seq(0.25, 0.5, 0.75)).as("q"))
      .head().getSeq[Double](0)
    assert(sqlKll === apiKll)
    // MG through SQL honors its retention guarantee (map ordering is not
    // canonical, so compare contents)
    val sqlMg = spark.sql(
      "SELECT misra_gries(tok) AS s FROM (SELECT explode(split(text, ' ')) AS tok FROM documents)")
      .head().getMap[String, Long](0).toMap
    assert(sqlMg.nonEmpty && sqlMg.size <= 31)
  }

  test("evolving parquet source merges epoch schemas; promised-column drift detection throws") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-evolve").toString
    // epoch 1: (id, v); epoch 2 adds a quality column
    Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .write.parquet(s"$tmp/docs/epoch=1")
    Seq((3L, "c", 0.9), (4L, "d", 0.7)).toDF("id", "v", "quality")
      .write.parquet(s"$tmp/docs/epoch=2")
    implicit val s = spark
    val src = new pipeline.EvolvingParquetSource("docs", s"$tmp/docs")
    val p = new pipeline.DataPipeline(Seq(Left(src)))
    val got = p.get("docs")
    assert(got.schema.fieldNames.contains("quality"),
      "late-added column must survive the merged read")
    assert(got.count() === 4)
    // old-epoch rows null-fill the new column
    assert(got.filter(col("id") <= 2 && col("quality").isNull).count() === 2)
    assert(got.filter(col("id") >= 3 && col("quality").isNotNull).count() === 2)
    // drift DETECTION: promising a column no epoch has ever written throws
    val strict = new pipeline.EvolvingParquetSource("docs", s"$tmp/docs",
      expect = Some(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("license",
          org.apache.spark.sql.types.StringType)))))
    intercept[pipeline.NotFoundError] {
      new pipeline.DataPipeline(Seq(Left(strict))).get("docs")
    }
  }

  test("orc source round-trips") {
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("graft-orc").toString
    val orders = Tables(spark, sf, "orders").limit(50)
      .select(col("o_orderkey"), col("o_totalprice"))
    orders.write.mode("overwrite").orc(s"$tmp/orc")
    val back = new pipeline.OrcSource("orders_orc", s"$tmp/orc", orders.schema)
      .get("orders_orc", pipeline.Query.empty, spark)
    assert(back.count() === 50)
    assert(back.exceptAll(orders).count() === 0)
  }
}

/** Review follow-ups: store hits promote into faster tiers; durable store
  * entries are query-keyed.
  */
class CacheTierSpec extends GraftSuite {
  test("a hit in a later store populates the cache tiers in front of it") {
    val orders = Tables(spark, sf, "orders").limit(10)
    val tmp = java.nio.file.Files.createTempDirectory("graft-tier").toString
    val store = new pipeline.ParquetDirSink(tmp, Set("orders"))
    val q = pipeline.Query.of("k" -> 1)
    store.put("orders", orders, q) // durable tier pre-populated
    val mem = new pipeline.MemoryCacheSink(Set("orders"))
    val p = new pipeline.DataPipeline(Seq(
      Right(mem), Right(store),
      Left(new pipeline.MemorySource(Map.empty, advertised = Set("orders")))))
    implicit val s = spark
    val got = p.get("orders", q)
    assert(got.count() === 10)
    assert(mem.puts === 1, "memory tier must be populated from the store hit")
    p.get("orders", q)
    assert(mem.hits === 1, "second get must be served by the memory tier")
  }

  test("durable store entries are keyed by query, not just type") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-keyed").toString
    val store = new pipeline.ParquetDirSink(tmp, Set("orders"))
    val a = Tables(spark, sf, "orders").limit(5)
    store.put("orders", a, pipeline.Query.of("f" -> "A"))
    assert(store.lookup("orders", pipeline.Query.of("f" -> "B"), spark).isEmpty,
      "a different query must MISS")
    assert(store.lookup("orders", pipeline.Query.of("f" -> "A"), spark).isDefined)
  }
}

/** GraftExtensions injects without error; SQL parity itself is covered by
  * SqlSurfaceSpec via the runtime registry (one shared session per suite —
  * extensions only apply to sessions built with them).
  */
class ExtensionsSpec extends GraftSuite {
  test("GraftExtensions builds its injection list cleanly") {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.functions.GraftExtensions()(ext)
  }
}

/** Element-order semantics: the FIRST source that can provide (directly or
  * via a chain) wins, even when a later source provides the type directly —
  * matching the reference's ordered-walk contract.
  */
class PipelineOrderSpec extends GraftSuite {
  test("earlier source + transformer chain beats later direct source") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val srcA = new pipeline.MemorySource(Map("A" -> Seq(("a", 1)).toDF("origin", "x")))
    val srcC = new pipeline.MemorySource(Map("C" -> Seq(("c", 2)).toDF("origin", "x")))
    val aToC = new pipeline.Transformer {
      val from = "A"; val to = "C"
      def transform(df: org.apache.spark.sql.DataFrame) =
        df.withColumn("via", lit("chain"))
    }
    implicit val s = spark
    val p = new pipeline.DataPipeline(Seq(Left(srcA), Left(srcC)), Seq(aToC))
    val out = p.get("C")
    assert(out.select(col("origin")).head().getString(0) === "a",
      "the earlier source (via the chain) must win the ordered walk")
    // reversed order: the direct provider wins
    val p2 = new pipeline.DataPipeline(Seq(Left(srcC), Left(srcA)), Seq(aToC))
    assert(p2.get("C").select(col("origin")).head().getString(0) === "c")
  }
}

/** Edge-behavior robustness (additive; no operator changes). */
class EdgeCaseSpec extends GraftSuite {
  import org.apache.spark.sql.functions._

  test("validator chains multiple rules and later defaults see earlier keys") {
    val v = QueryValidator.builder
      .has("a").asType[String]
      .canHave("b").withDefault(1)
      .canHave("c").withDefault("x")
    val q = v.validate(Query.of("a" -> "ok", "b" -> 5))
    assert(q[String]("a") === "ok" && q[Int]("b") === 5 && q[String]("c") === "x")
  }

  test("operators degrade gracefully on empty inputs (impossible filters)") {
    val li = Tables(spark, sf, "lineitem").filter(col("l_quantity") < -1)
    // aggregation over empty input: one row of zeros/nulls, no crash
    assert(li.groupBy(col("l_returnflag")).count().count() === 0)
    // window over empty input
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("l_returnflag")).orderBy(col("l_orderkey"))
    assert(li.withColumn("rn", row_number().over(w)).count() === 0)
    // shingles of empty token stream don't blow up
    import spark.implicits._
    val tiny = Seq("ab", "a b", "a b c").toDF("text")
      .select(graft.functions.shingleHashes(col("text")).as("sh"))
      .collect().map(_.getSeq[Long](0).length)
    assert(tiny.toSeq === Seq(0, 0, 1))
  }

  test("registerAll is idempotent and re-registration points at the same data") {
    Tables.registerAll(spark, sf)
    val n1 = spark.table("orders").count()
    Tables.registerAll(spark, sf)
    assert(spark.table("orders").count() === n1)
  }
}

/** P9 quarantine sink: the clean/quarantine pair is an exact partition. */
class QuarantineSinkSpec extends GraftSuite {
  import org.apache.spark.sql.functions._

  test("P9: clean + quarantine partition the put exactly; nulls quarantine; clean has no violations") {
    import spark.implicits._
    implicit val ss: org.apache.spark.sql.SparkSession = spark
    val tmp = java.nio.file.Files.createTempDirectory("graft-q-spec").toString
    val rows = Seq(
      (1L, 10.0), (2L, -5.0), (3L, 0.0), (4L, Double.NaN), (5L, 3.0))
      .toDF("id", "v")
      // id 6: NULL constraint input — must fail CLOSED (quarantined)
      .unionByName(Seq(6L).toDF("id").withColumn("v", lit(null).cast("double")))
    val sink = new pipeline.QuarantineSink(
      new pipeline.ParquetDirSink(tmp, Set("t", "t__quarantine")),
      col("v") > 0, "v_not_positive")
    val dp = new pipeline.DataPipeline(Seq(Right(sink)))
    dp.put("t", rows)
    val clean = dp.get("t")
    val quar = dp.get("t__quarantine")
    assert(clean.count() + quar.count() === rows.count(), "exact partition")
    assert(clean.filter(!(col("v") > 0)).count() === 0, "violation in clean")
    assert(quar.filter(col("reason") =!= "v_not_positive").count() === 0)
    assert(quar.filter(col("id") === 6L).count() === 1, "null must quarantine")
    // round trip: clean ∪ quarantine (minus annotation) equals the input
    val together = clean.unionByName(quar.drop("reason"))
    assert(together.exceptAll(rows).count() === 0 &&
      rows.exceptAll(together).count() === 0)
  }
}

/** P9 live: the quarantine gate on a STREAMING ingest (P6b bridge). */
class StreamingQuarantineSpec extends GraftSuite {
  import org.apache.spark.sql.functions._

  test("P9 live: epoch-keyed foreachBatch puts through QuarantineSink partition the whole feed exactly like batch") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    implicit val ss: org.apache.spark.sql.SparkSession = spark
    val dir = java.nio.file.Files.createTempDirectory("graft-st-quar").toString
    val f1 = Seq((1L, 10.0), (2L, -1.0), (3L, 5.0))
    val f2 = Seq((4L, 0.0), (5L, 7.0), (6L, -9.0))
    def stage(rows: Seq[(Long, Double)], name: String): Unit = {
      val tmp = s"$dir/stage_$name"
      rows.toDF("id", "v").coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/in"))
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$dir/in/$name.parquet"))
    }
    stage(f1, "01"); stage(f2, "02")
    val sink = new pipeline.QuarantineSink(
      new pipeline.ParquetDirSink(s"$dir/sink", Set("t", "t__quarantine")),
      col("v") > 0, "v_not_positive")
    val dp = new pipeline.DataPipeline(Seq(Right(sink)))
    val schema = f1.toDF("id", "v").schema
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/in")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, epoch: Long) =>
        // epoch-keyed put: each micro-batch lands in its own sink slot
        // (the overwrite-idempotent cache layout doubles as exactly-once
        // on retry — a replayed epoch overwrites itself)
        dp.put("t", batch, pipeline.Query.of("epoch" -> epoch.toString))
        ()
      }
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    def slurp(dt: String): org.apache.spark.sql.DataFrame =
      (0L to 1L).map(e =>
        dp.get(dt, pipeline.Query.of("epoch" -> e.toString)))
        .reduce(_ unionByName _)
    val clean = slurp("t")
    val quar = slurp("t__quarantine")
    assert(clean.collect().map(_.getLong(0)).toSet === Set(1L, 3L, 5L))
    assert(quar.collect().map(_.getLong(0)).toSet === Set(2L, 4L, 6L))
    assert(quar.filter(col("reason") =!= "v_not_positive").count() === 0)
  }
}
