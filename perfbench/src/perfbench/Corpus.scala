package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Generates the star schema plus the document and vector tables that the
  * benchmarked operators read, in `graft.GenData`'s schemas, value domains
  * and key relationships, at a fractional scale. Every draw is
  * `xxhash64(id, salt)` arithmetic, so a (shape, salt) pair always yields
  * the same bytes; salt 0 reproduces GenData's own draws.
  *
  * `plantShare` of the documents are planted near-duplicates: an earlier
  * document's words with about one word in twenty substituted.
  */
final case class CorpusShape(sf: Double, docs: Int, vecs: Int,
    plantShare: Double)

object Corpus {
  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  private val Vocab = Seq("batch", "part", "spark", "line", "column", "order",
    "small", "sort", "fast", "value", "scan", "a", "query", "agg",
    "table", "hash", "vector", "join", "shuffle", "merge", "plan",
    "read", "write", "file", "row", "group", "key", "index", "cache",
    "page")

  /** Writes `tables` (a subset of [[Tables]]) under `out`. */
  def write(spark: SparkSession, out: String, shape: CorpusShape,
      salt: Int, tables: Set[String]): Unit = {
    import spark.implicits._
    def s(k: Int): Column = lit(k + 1000 * salt)
    def h(k: Int): Column = xxhash64(col("id"), s(k))
    def u(k: Int): Column = pmod(h(k), lit(1000000000L)) / 1e9
    def ui(k: Int, n: Long): Column = pmod(h(k), lit(n)).cast("int")
    def pick(k: Int, vs: Seq[String]): Column =
      element_at(array(vs.map(lit): _*), ui(k, vs.size) + 1)
    def n(base: Long): Long = math.max(1L, math.round(base * shape.sf / 0.1))
    val (nCust, nOrders, nPart, nSupp) = (n(15000), n(150000), n(20000), n(1000))
    val (nEvents, nUsers) = (n(100000), n(150))
    def save(name: String, df: => DataFrame): Unit =
      if (tables(name)) df.coalesce(1).write.mode("overwrite").parquet(s"$out/$name.parquet")

    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    save("region", regions.zipWithIndex.map { case (r, i) => (i.toLong, r) }
      .toDF("r_regionkey", "r_name"))
    save("nation", (0 until 25).map(i => (i.toLong, s"nation$i", (i % 5).toLong))
      .toDF("n_nationkey", "n_name", "n_regionkey"))
    save("customer", spark.range(nCust).select(
      col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      ui(1, 25).cast("long").as("c_nationkey"),
      round(u(2) * 11000 - 1000, 2).as("c_acctbal"),
      pick(3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
        "MACHINERY")).as("c_mktsegment")))
    save("supplier", spark.range(nSupp).select(
      col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      ui(4, 25).cast("long").as("s_nationkey"),
      round(u(5) * 11000 - 1000, 2).as("s_acctbal")))
    val adjectives = Seq("large", "hot", "blue", "dark", "small", "shiny",
      "round", "flat", "cold", "green")
    val nouns = Seq("ring", "bolt", "washer", "cog", "plate", "wheel",
      "pin", "cap", "rod", "disk")
    save("part", spark.range(nPart).select(
      col("id").as("p_partkey"),
      concat_ws(" ", pick(6, adjectives), pick(7, nouns)).as("p_name"),
      format_string("Brand#%d", ui(8, 25) + 1).as("p_brand"),
      pick(9, Seq("LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM",
        "PROMO")).as("p_type"),
      (ui(10, 50) + 1).as("p_size"),
      round(u(11) * 99.9 + 900.0, 2).as("p_retailprice")))
    def day(iso: String): Long = java.time.LocalDate.parse(iso).toEpochDay * 86400L
    save("orders", spark.range(nOrders).select(
      col("id").as("o_orderkey"),
      ui(12, nCust).cast("long").as("o_custkey"),
      pick(13, Seq("F", "O", "P")).as("o_orderstatus"),
      round(u(14) * 499000 + 1000, 2).as("o_totalprice"),
      timestamp_seconds(lit(day("1995-01-01")) + ui(15, 2405).cast("long") * 86400L)
        .as("o_orderdate"),
      pick(16, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW")).as("o_orderpriority")))
    def hr(k: Int): Column = xxhash64(col("rid"), s(k))
    save("lineitem", spark.range(nOrders)
      .withColumn("k", ui(17, 7) + 1)
      .select(col("id"), explode(sequence(lit(1), col("k"))).as("ln"))
      .withColumn("rid", col("id") * 8 + col("ln"))
      .select(
        col("id").as("l_orderkey"),
        pmod(hr(18), lit(nPart)).as("l_partkey"),
        pmod(hr(19), lit(nSupp)).as("l_suppkey"),
        col("ln").cast("int").as("l_linenumber"),
        (pmod(hr(20), lit(50L)) + 1).cast("double").as("l_quantity"),
        round(pmod(hr(21), lit(1000000000L)) / 1e9 * 104100 + 900, 2)
          .as("l_extendedprice"),
        (pmod(hr(22), lit(11L)) / 100.0).as("l_discount"),
        (pmod(hr(23), lit(9L)) / 100.0).as("l_tax"),
        element_at(array(lit("A"), lit("N"), lit("R")),
          pmod(hr(24), lit(3L)).cast("int") + 1).as("l_returnflag"),
        element_at(array(lit("F"), lit("O")),
          pmod(hr(25), lit(2L)).cast("int") + 1).as("l_linestatus"),
        timestamp_seconds(lit(day("1995-01-02")) + pmod(hr(26), lit(2498L)) * 86400L)
          .as("l_shipdate")))
    save("events", spark.range(nEvents).select(
      col("id").as("event_id"),
      timestamp_micros(lit(day("2024-01-01") * 1000000L) +
        pmod(h(27), lit(30L * 86400L * 1000000L))).as("ts"),
      ui(28, nUsers).cast("long").as("user_id"),
      pick(29, Seq("click", "error", "purchase", "signup", "view")).as("event_type"),
      round(least(-log(lit(1.0) - u(30) * 0.9999) * 50.0, lit(560.0)), 2).as("value"),
      format_string("{\"k\": %d}", ui(32, 100)).as("props")))

    val vocab = array(Vocab.map(lit): _*)
    def soup(id: Column): Column = {
      val nw = pmod(xxhash64(id, s(33)), lit(80L)).cast("int") + 8
      concat_ws(" ", transform(sequence(lit(1), nw), i =>
        element_at(vocab, pmod(xxhash64(id, i, s(34)), lit(Vocab.size.toLong))
          .cast("int") + 1)))
    }
    val planted = col("id") > 0 && u(40) < shape.plantShare
    val edited = concat_ws(" ", transform(
      split(soup(pmod(h(41), col("id"))), " "), (w, i) =>
        when(pmod(xxhash64(col("id"), i, s(42)), lit(20L)) === 0,
          element_at(vocab, pmod(xxhash64(col("id"), i, s(43)),
            lit(Vocab.size.toLong)).cast("int") + 1)).otherwise(w)))
    save("documents", spark.range(shape.docs.toLong)
      .withColumn("text", when(planted, edited).otherwise(soup(col("id"))))
      .select(
        col("id").as("doc_id"),
        col("text"),
        element_at(array(lit("en"), lit("en"), lit("de"), lit("es"),
          lit("fr"), lit("zh")), ui(35, 6) + 1).as("lang"),
        format_string("src%d", ui(36, 20)).as("source"),
        length(col("text")).cast("long").as("n_chars")))
    save("embeddings", spark.range(shape.vecs.toLong)
      .withColumn("label", ui(37, 10))
      .withColumn("raw", transform(sequence(lit(0), lit(63)), i =>
        (pmod(xxhash64(col("id"), i, s(38)), lit(2000L)) - 1000) / 1000.0
          + when(pmod(i, lit(10)) === col("label").cast("long"), 1.5)
            .otherwise(0.0)))
      .withColumn("nrm", sqrt(aggregate(col("raw"), lit(0.0),
        (acc, x) => acc + x * x)))
      .select(
        col("id").as("vec_id"),
        transform(col("raw"), x => (x / col("nrm")).cast("float")).as("embedding"),
        col("label").cast("int").as("label")))
  }
}
