package graft.pipeline

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.Tables
import graft.ops.Pin.Pinned

/** Concrete sources/sinks (SURVEY.md §2.1 P6/P7). */

/** Parquet-backed source for the test star schema. Filters arrive as query
  * params `filter_<col> -> value` and are applied BEFORE returning, so
  * Catalyst pushes them into the scan — the pipeline abstraction costs no
  * pushdown.
  */
class ParquetTablesSource(sfDir: String) extends DataSource {
  override def provides: Set[String] = Tables.names.toSet
  override def get(dataType: String, query: Query, spark: SparkSession): DataFrame = {
    if (!provides(dataType)) throw new UnsupportedError(s"unknown table '$dataType'")
    val df = Tables(spark, sfDir, dataType)
    query.params.collect { case (k, v) if k.startsWith("filter_") =>
      (k.stripPrefix("filter_"), v)
    }.foldLeft(df) { case (acc, (c, v)) => acc.filter(col(c) === lit(v)) }
  }
}

/** CSV source with an explicit schema (header line expected). */
final class CsvSource(name: String, path: String, schema: StructType) extends DataSource {
  override def provides: Set[String] = Set(name)
  override def get(dataType: String, query: Query, spark: SparkSession): DataFrame = {
    if (dataType != name) throw new UnsupportedError(dataType)
    spark.read.schema(schema).option("header", "true").csv(path)
  }
}

/** ORC source with an explicit schema. */
final class OrcSource(name: String, path: String, schema: StructType) extends DataSource {
  override def provides: Set[String] = Set(name)
  override def get(dataType: String, query: Query, spark: SparkSession): DataFrame = {
    if (dataType != name) throw new UnsupportedError(dataType)
    spark.read.schema(schema).orc(path)
  }
}

/** JSON-lines source with an explicit schema. */
final class JsonSource(name: String, path: String, schema: StructType) extends DataSource {
  override def provides: Set[String] = Set(name)
  override def get(dataType: String, query: Query, spark: SparkSession): DataFrame = {
    if (dataType != name) throw new UnsupportedError(dataType)
    spark.read.schema(schema).json(path)
  }
}

/** Line-oriented text source: one row per line, column `value`. */
final class TextSource(name: String, path: String) extends DataSource {
  override def provides: Set[String] = Set(name)
  override def get(dataType: String, query: Query, spark: SparkSession): DataFrame = {
    if (dataType != name) throw new UnsupportedError(dataType)
    spark.read.text(path)
  }
}

/** Binary-file source (Spark's built-in `binaryFile` format): one row per
  * file with (path, modificationTime, length, content) — the ingestion
  * path for image/audio/video corpora feeding graft.multimodal. A glob
  * filter narrows the listing; `pathGlobFilter` prunes at FILE level, so
  * at 100 TB the scan never opens non-matching objects.
  */
final class BinaryFileSource(name: String, path: String,
    globFilter: Option[String] = None) extends DataSource {
  override def provides: Set[String] = Set(name)
  override def get(dataType: String, query: Query, spark: SparkSession): DataFrame = {
    if (dataType != name) throw new UnsupportedError(dataType)
    val reader = spark.read.format("binaryFile")
    globFilter.fold(reader)(g => reader.option("pathGlobFilter", g)).load(path)
  }
}

/** Schema-EVOLVING parquet source: reads a directory whose files were
  * written across ingest epochs with drifting schemas (columns added over
  * time) under `mergeSchema` — the union schema comes back, old-epoch rows
  * null-fill the later columns. This is the production contract for
  * long-lived landing directories; the P6 sources pin one schema and
  * would silently drop late-added columns (parquet reads take the first
  * footer's schema without merging).
  * 100 TB note: mergeSchema reads EVERY file footer at planning — fine
  * for epoch-scale drift (few schemas), wrong as a default on millions of
  * files; production either caches the merged schema in a metastore or
  * passes it explicitly once known. An optional `expect` schema asserts
  * the merged result covers the columns a consumer was promised — drift
  * DETECTION, not just tolerance.
  */
final class EvolvingParquetSource(name: String, path: String,
    expect: Option[StructType] = None) extends DataSource {
  override def provides: Set[String] = Set(name)
  override def get(dataType: String, query: Query, spark: SparkSession): DataFrame = {
    if (dataType != name) throw new UnsupportedError(dataType)
    val df = spark.read.option("mergeSchema", "true").parquet(path)
    expect.foreach { want =>
      val have = df.schema.fieldNames.toSet
      val missing = want.fieldNames.filterNot(have)
      if (missing.nonEmpty)
        throw new NotFoundError(
          s"evolving source '$name' is missing promised columns: ${missing.mkString(", ")}")
    }
    df
  }
}

/** In-memory source over pre-registered DataFrames; throws NotFoundError
  * for types it advertises but has no entry for (exercises fall-through).
  */
final class MemorySource(data: Map[String, DataFrame], advertised: Set[String] = Set.empty)
    extends DataSource {
  override def provides: Set[String] = data.keySet ++ advertised
  override def get(dataType: String, query: Query, spark: SparkSession): DataFrame = {
    if (!provides(dataType)) throw new UnsupportedError(dataType)
    data.getOrElse(dataType, throw new NotFoundError(s"no data for '$dataType'"))
  }
}

/** In-memory cache tier: keyed by (type, query), persists the cached plan's
  * blocks so repeated gets skip recomputation. `puts`/`hits` counters let
  * tests observe cache behavior.
  */
final class MemoryCacheSink(acceptTypes: Set[String]) extends DataSink {
  private val cache = TrieMap.empty[(String, Query), DataFrame]
  @volatile var puts: Int = 0
  @volatile var hits: Int = 0

  override def accepts: Set[String] = acceptTypes
  override def put(dataType: String, df: DataFrame): Unit =
    put(dataType, df, Query.empty)
  override def put(dataType: String, df: DataFrame, query: Query): Unit = {
    synchronized { puts += 1 }
    cache.put((dataType, query), df.persist())
      // don't leak blocks of a replaced entry — but an idempotent re-put of
      // the SAME DataFrame (e.g. a lookup hit promoted back) must not
      // unpersist the blocks just persisted
      .filter(_ ne df).foreach(_.unpersist())
  }
  override def lookup(dataType: String, query: Query, spark: SparkSession): Option[DataFrame] = {
    val r = cache.get((dataType, query))
    if (r.isDefined) synchronized { hits += 1 }
    r
  }
}

/** Parquet directory sink/store: `put` writes <base>/<type>/<query-key>,
  * `lookup` serves it back if present — a durable cache tier. The key
  * hashes an INJECTIVE encoding of the query (sorted keys, each key and
  * value length-prefixed, each value tagged with its class), so
  * `a -> "1&b=2"` never meets `(a -> "1", b -> "2")`, nor 1 meets "1"; a
  * value with no stable encoding (an array, say) is refused with a
  * [[QueryValidationError]], never keyed by its identity. A put writes a
  * hidden sibling and renames it into place: a put that fails mid-write
  * leaves the previous entry (or none), never a half-written one.
  */
final class ParquetDirSink(baseDir: String, acceptTypes: Set[String]) extends DataSink {
  import org.apache.hadoop.fs.Path

  private def fp(query: Query): String = {
    def field(s: String) = s"${s.length}:$s"
    val canonical = query.params.toSeq.sortBy(_._1)
      .map { case (k, v) => field(k) + field(tagged(k, v)) }.mkString
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(canonical.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  /** The value's class name (never holds ':') and its text. */
  private def tagged(key: String, v: Any): String = v match {
    case null => "null"
    case _: String | _: Boolean | _: Byte | _: Short | _: Int | _: Long |
        _: Float | _: Double | _: Char | _: BigDecimal | _: BigInt |
        _: java.math.BigDecimal | _: java.math.BigInteger |
        _: java.time.LocalDate | _: java.time.Instant =>
      s"${v.getClass.getName}:$v"
    case x => throw new QueryValidationError(
      s"query key '$key' holds a ${x.getClass.getName}, which has no stable " +
        "encoding to key a durable cache entry by")
  }

  private def entry(dataType: String, query: Query, spark: SparkSession) = {
    val p = new Path(s"$baseDir/$dataType/${fp(query)}")
    (p, p.getFileSystem(spark.sparkContext.hadoopConfiguration))
  }

  override def accepts: Set[String] = acceptTypes
  override def put(dataType: String, df: DataFrame): Unit =
    put(dataType, df, Query.empty)
  override def put(dataType: String, df: DataFrame, query: Query): Unit = {
    val (target, fs) = entry(dataType, query, df.sparkSession)
    // '.'-prefixed siblings: never listed as data, never served
    def sibling(tag: String) = new Path(target.getParent,
      s".${target.getName}.${java.util.UUID.randomUUID()}.$tag")
    val staged = sibling("staged")
    try {
      df.write.mode("error").parquet(staged.toString)
      val old = sibling("old")
      val replacing = fs.exists(target) && fs.rename(target, old)
      if (!fs.rename(staged, target)) {
        if (replacing) fs.rename(old, target)
        throw new java.io.IOException(s"could not publish cache entry $target")
      }
      if (replacing) fs.delete(old, true)
    } finally fs.delete(staged, true) // a failed or published put leaves no stage
  }
  override def lookup(dataType: String, query: Query, spark: SparkSession): Option[DataFrame] = {
    val (p, fs) = entry(dataType, query, spark)
    if (fs.exists(p)) Some(spark.read.parquet(p.toString)) else None
  }
}

/** P9: row-level constraint gate on the WRITE path — the quarantine
  * pattern every production ingest runs (Delta constraint + quarantine
  * table, dbt store_failures, Deequ row-level): a put partitions its rows
  * by a constraint Column; passing rows land in the real table, failing
  * rows land in `<type>__quarantine` ANNOTATED with the violated rule —
  * never dropped silently (silently-dropped bad rows are undebuggable;
  * failing the whole batch for one bad row stalls the pipeline — the
  * quarantine is the production middle ground, and its row count is the
  * alarm metric, q75/ST18's write-path sibling).
  * Decorator over any [[DataSink]]; the constraint folds nulls to FAILING
  * (a rule that cannot be evaluated is a violation, the Deequ default) so
  * the two sinks are an exact partition of the input. The input is
  * checkpointed once — both writes read the materialized rows, not two
  * executions of the upstream plan. 100 TB: the gate is one map-side
  * predicate; both writes stream the same pass.
  */
final class QuarantineSink(inner: DataSink, constraint: Column,
    rule: String) extends DataSink {
  override def accepts: Set[String] = inner.accepts
  override def put(dataType: String, df: DataFrame): Unit =
    put(dataType, df, Query.empty)
  override def put(dataType: String, df: DataFrame, query: Query): Unit = {
    val rows = df.pin() // partition ONE materialization
    val pass = coalesce(constraint, lit(false))
    inner.put(dataType, rows.filter(pass), query)
    inner.put(s"${dataType}__quarantine",
      rows.filter(!pass).withColumn("reason", lit(rule)), query)
  }
  override def lookup(dataType: String, query: Query,
      spark: SparkSession): Option[DataFrame] =
    inner.lookup(dataType, query, spark)
}

/** The driver-gate pipeline queries (SURVEY §2.1 P1/P3). */
object PipelineQueries {

  /** orders → orders_enriched (join customer) → orders_by_nation
    * (join nation + aggregate): a 2-hop transformer chain resolved by the
    * pipeline, producing one Catalyst plan with broadcast dimension joins.
    */
  def p1PipelineGet(spark: SparkSession, sfDir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val enrich = new Transformer {
      val from = "orders"; val to = "orders_enriched"
      // customer scales with SF — no hint; Catalyst auto-broadcasts it
      // below the threshold and shuffles on o_custkey above it
      def transform(df: DataFrame): DataFrame =
        df.join(Tables(s, sfDir, "customer"),
          col("o_custkey") === col("c_custkey"))
    }
    val byNation = new Transformer {
      val from = "orders_enriched"; val to = "orders_by_nation"
      def transform(df: DataFrame): DataFrame =
        // nation is 25 rows at any SF — bounded broadcast
        df.join(broadcast(Tables(s, sfDir, "nation")),
            col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name"))
          .agg(count(lit(1)).as("n_orders"),
            round(sum(col("o_totalprice").cast("decimal(18,2)")), 2)
              .cast("double").as("revenue"))
    }
    val pipeline = new DataPipeline(
      Seq(Left(new ParquetTablesSource(sfDir))), Seq(enrich, byNation))
    pipeline.get("orders_by_nation").orderBy(col("n_name"))
  }

  val p1Sql: String =
    """SELECT n_name, count(*) AS n_orders,
      |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY n_name ORDER BY n_name""".stripMargin

  /** Validated get: the validator coerces/defaults query params, the source
    * applies them as pushed-down filters.
    */
  def p3ValidatedGet(spark: SparkSession, sfDir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val source = new ParquetTablesSource(sfDir) {
      override def validator(dataType: String): Option[QueryValidator] =
        if (dataType == "orders")
          Some(QueryValidator.builder
            .has("filter_o_orderstatus").asType[String]
            .canHave("filter_o_orderpriority").withDefault("1-URGENT"))
        else None
    }
    val pipeline = new DataPipeline(Seq(Left(source)))
    pipeline.get("orders", Query.of("filter_o_orderstatus" -> "F"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy(col("o_orderkey"))
  }

  val p3Sql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      |WHERE o_orderstatus = 'F' AND o_orderpriority = '1-URGENT'
      |ORDER BY o_orderkey""".stripMargin

  /** P9's oracle-checked end-to-end: a put of order-joined lineitems
    * through a [[QuarantineSink]] with q75's ship-before-order rule; the
    * query serves BACK the quarantine table — so the on-disk partition,
    * the annotation, and the null-folding all sit under the value gate.
    * The clean/quarantine EXACT-partition property is spec'd.
    */
  def p5QuarantinePut(spark: SparkSession, sfDir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val tmp = java.nio.file.Files.createTempDirectory("graft-quarantine").toString
    val rows = Tables(spark, sfDir, "lineitem")
      .join(Tables(spark, sfDir, "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_shipdate"), col("o_orderdate"))
    val sink = new QuarantineSink(
      new ParquetDirSink(tmp, Set("lines_clean", "lines_clean__quarantine")),
      col("l_shipdate") >= col("o_orderdate"), "ship_before_order")
    val pipeline = new DataPipeline(Seq(Right(sink)))
    pipeline.put("lines_clean", rows)
    pipeline.get("lines_clean__quarantine")
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  val p5Sql: String =
    """SELECT l_orderkey, l_linenumber, l_shipdate, o_orderdate,
      |  'ship_before_order' AS reason
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE l_shipdate < o_orderdate
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** The reference WRITE path, oracle-checked end-to-end: `put` routes a
    * curated subset into a parquet sink, `get` serves it back from that
    * sink (sink-as-cache lookup, P2 semantics). The oracle recomputes the
    * subset straight from the base table — so the round trip through the
    * sink's on-disk parquet must be value-exact, column types included.
    */
  def p2PutRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val tmp = java.nio.file.Files.createTempDirectory("graft-put-rt").toString
    val pipeline = new DataPipeline(
      Seq(Right(new ParquetDirSink(tmp, Set("orders_f")))))
    pipeline.put("orders_f",
      Tables(spark, sfDir, "orders")
        .filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")))
    pipeline.get("orders_f").orderBy(col("o_orderkey"))
  }

  val p2Sql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      |WHERE o_orderstatus = 'F'
      |ORDER BY o_orderkey""".stripMargin

  /** P4, oracle-checked end-to-end: a 2-hop transformer chain resolved by
    * the pipeline UNDER sink-as-cache — the reference's composed get
    * behavior (pipelines.py `_transform` + `_put_cache`). The first `get`
    * computes lineitem → (join part) → per-type profit through the source
    * + chain and auto-fills the parquet cache tier in front of it; the
    * SECOND `get` must be served from that sink without touching the
    * source (require-d via a source-call counter), and it is THAT cached
    * result the driver compares against an oracle recomputing from the
    * base tables — so the cache round trip (plan → parquet → plan) must
    * be value-exact, column types included.
    */
  def p4CachedChain(spark: SparkSession, sfDir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val counting = new java.util.concurrent.atomic.AtomicInteger(0)
    val source = new ParquetTablesSource(sfDir) {
      override def get(dataType: String, query: Query, sp: SparkSession): DataFrame = {
        counting.incrementAndGet()
        super.get(dataType, query, sp)
      }
    }
    val enrich = new Transformer {
      val from = "lineitem"; val to = "lineitem_with_part"
      def transform(df: DataFrame): DataFrame =
        // part scales with SF — let Catalyst pick broadcast vs shuffle
        df.join(Tables(s, sfDir, "part"), col("l_partkey") === col("p_partkey"))
    }
    val profit = new Transformer {
      val from = "lineitem_with_part"; val to = "profit_by_type"
      def transform(df: DataFrame): DataFrame =
        df.groupBy(col("p_type"))
          .agg(count(lit(1)).as("n_items"),
            round(sum(col("l_extendedprice").cast("decimal(18,2)") *
              (lit(1).cast("decimal(18,2)") -
                col("l_discount").cast("decimal(18,2)"))), 2)
              .cast("double").as("revenue"))
    }
    val tmp = java.nio.file.Files.createTempDirectory("graft-p4-cache").toString
    val sink = new ParquetDirSink(tmp, Set("profit_by_type"))
    val pipeline = new DataPipeline(
      Seq(Right(sink), Left(source)), Seq(enrich, profit))
    pipeline.get("profit_by_type") // source + 2-hop chain; fills the sink
    val afterFirst = counting.get()
    require(afterFirst > 0, "first get must have hit the source")
    val cached = pipeline.get("profit_by_type")
    require(counting.get() == afterFirst,
      "second get must be served from the sink cache, not the source")
    cached.orderBy(col("p_type"))
  }

  val p4Sql: String =
    """SELECT p_type, count(*) AS n_items,
      |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |    (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))), 2)
      |    AS DOUBLE) AS revenue
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |GROUP BY p_type ORDER BY p_type""".stripMargin

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "p5_quarantine_put" -> (p5QuarantinePut _),
    "p1_pipeline_get" -> (p1PipelineGet _),
    "p2_put_roundtrip" -> (p2PutRoundtrip _),
    "p3_validated_get" -> (p3ValidatedGet _),
    "p4_cached_chain" -> (p4CachedChain _))

  val sql: Map[String, String] = Map(
    "p5_quarantine_put" -> p5Sql,
    "p1_pipeline_get" -> p1Sql,
    "p2_put_roundtrip" -> p2Sql,
    "p3_validated_get" -> p3Sql,
    "p4_cached_chain" -> p4Sql)
}
