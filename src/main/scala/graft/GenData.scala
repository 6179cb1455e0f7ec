package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** SF1 CORPUS SYNTHESIS — generates a 10×-sf0.1 rung of the TESTDATA.md
  * star schema (`region nation customer supplier part orders lineitem
  * events documents embeddings`) so the scale ladder and flagship can
  * be MEASURED across sf0.01 → sf0.1 → sf1 instead of arguing the
  * 100× claims from plan specs alone. Same schemas (verified against
  * the driver corpus' parquet/arrow types), same value domains and
  * categorical weights (profiled from sf0.1), same key relationships
  * (lineitem→orders FK, ~4 lines per order, part/supp key ranges).
  *
  * FULLY DETERMINISTIC AND DISTRIBUTED: every draw is
  * `xxhash64(id, salt)` arithmetic over `spark.range` — no RNG state,
  * no driver-side data, identical bytes on every run, and generation
  * itself scales to any SF on a real cluster (the generator is a Spark
  * job, not a script).
  *
  * Run: `sbt "runMain graft.GenData /tmp/graft-sf1 10"` (scale 10 =
  * sf1). The output directory is NOT committed — the generator is.
  */
object GenData {

  /** uniform [0,1) from (id, salt) — half-open, deterministic. */
  private def u(salt: Int) =
    pmod(xxhash64(col("id"), lit(salt)), lit(1000000000L)) / 1e9

  /** integer uniform [0, n) from (id, salt). */
  private def ui(salt: Int, n: Int) =
    pmod(xxhash64(col("id"), lit(salt)), lit(n.toLong)).cast("int")

  private def pick(salt: Int, vs: Seq[String]) = {
    val arr = array(vs.map(lit): _*)
    element_at(arr, ui(salt, vs.size) + 1)
  }

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/graft-sf1")
    val scale = args.lift(1).map(_.toInt).getOrElse(10) // 10 = sf1
    val spark = GraftSession.local()
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")

    val nCust = 15000 * scale
    val nOrders = 150000 * scale
    val nPart = 20000 * scale
    val nSupp = 1000 * scale
    val nEvents = 100000 * scale
    val nUsers = 150 * scale
    val nDocs = 5000 * scale
    val nVecs = 2000 * scale

    def gen(n: Long, parts: Int = 0)(f: DataFrame => DataFrame)
        : DataFrame = {
      val base = if (parts > 0) spark.range(0, n, 1, parts)
                 else spark.range(n)
      f(base.withColumnRenamed("id", "id").withColumn("id", col("id")))
    }

    def write(name: String, df: DataFrame): Unit = {
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[gendata] $name written")
    }

    // tiny dims: fixed content, identical at every SF (like TPC-H)
    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    import spark.implicits._
    write("region", regions.zipWithIndex
      .map { case (r, i) => (i.toLong, r) }.toDF("r_regionkey", "r_name"))
    write("nation", (0 until 25)
      .map(i => (i.toLong, s"nation$i", (i % 5).toLong))
      .toDF("n_nationkey", "n_name", "n_regionkey"))

    write("customer", gen(nCust) { df => df.select(
      col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      ui(1, 25).cast("long").as("c_nationkey"),
      round(u(2) * 11000 - 1000, 2).as("c_acctbal"),
      pick(3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
        "MACHINERY")).as("c_mktsegment"))
    })

    write("supplier", gen(nSupp) { df => df.select(
      col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      ui(4, 25).cast("long").as("s_nationkey"),
      round(u(5) * 11000 - 1000, 2).as("s_acctbal"))
    })

    val adjectives = Seq("large", "hot", "blue", "dark", "small", "shiny",
      "round", "flat", "cold", "green")
    val nouns = Seq("ring", "bolt", "washer", "cog", "plate", "wheel",
      "pin", "cap", "rod", "disk")
    write("part", gen(nPart) { df => df.select(
      col("id").as("p_partkey"),
      concat_ws(" ", pick(6, adjectives), pick(7, nouns)).as("p_name"),
      format_string("Brand#%d", ui(8, 25) + 1).as("p_brand"),
      pick(9, Seq("LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM",
        "PROMO")).as("p_type"),
      (ui(10, 50) + 1).as("p_size"),
      round(u(11) * 99.9 + 900.0, 2).as("p_retailprice"))
    })

    val orders = gen(nOrders.toLong) { df => df.select(
      col("id").as("o_orderkey"),
      ui(12, nCust).cast("long").as("o_custkey"),
      pick(13, Seq("F", "O", "P")).as("o_orderstatus"),
      round(u(14) * 499000 + 1000, 2).as("o_totalprice"),
      timestamp_seconds(
        lit(java.time.LocalDate.parse("1995-01-01").toEpochDay * 86400L) +
          ui(15, 2405).cast("long") * 86400L).as("o_orderdate"),
      pick(16, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW")).as("o_orderpriority"))
    }
    write("orders", orders)

    // lineitem: 1–7 lines per order (avg 4 → ~6M rows at scale 10),
    // FK to orders by construction
    write("lineitem", gen(nOrders.toLong) { df => df
      .withColumn("k", ui(17, 7) + 1)
      .select(col("id"), explode(sequence(lit(1), col("k"))).as("ln"))
      .withColumn("rid", col("id") * 8 + col("ln")) // per-line draw seed
      .drop("k")
      .select(
        col("id").as("l_orderkey"),
        pmod(xxhash64(col("rid"), lit(18)), lit(nPart.toLong))
          .as("l_partkey"),
        pmod(xxhash64(col("rid"), lit(19)), lit(nSupp.toLong))
          .as("l_suppkey"),
        col("ln").cast("int").as("l_linenumber"),
        (pmod(xxhash64(col("rid"), lit(20)), lit(50L)) + 1)
          .cast("double").as("l_quantity"),
        round(pmod(xxhash64(col("rid"), lit(21)), lit(1000000000L)) / 1e9
          * 104100 + 900, 2).as("l_extendedprice"),
        (pmod(xxhash64(col("rid"), lit(22)), lit(11L)) / 100.0)
          .as("l_discount"),
        (pmod(xxhash64(col("rid"), lit(23)), lit(9L)) / 100.0).as("l_tax"),
        element_at(array(lit("A"), lit("N"), lit("R")),
          pmod(xxhash64(col("rid"), lit(24)), lit(3L)).cast("int") + 1)
          .as("l_returnflag"),
        element_at(array(lit("F"), lit("O")),
          pmod(xxhash64(col("rid"), lit(25)), lit(2L)).cast("int") + 1)
          .as("l_linestatus"),
        timestamp_seconds(
          lit(java.time.LocalDate.parse("1995-01-02").toEpochDay * 86400L) +
            pmod(xxhash64(col("rid"), lit(26)), lit(2498L)) * 86400L)
          .as("l_shipdate"))
    })

    write("events", gen(nEvents.toLong) { df => df.select(
      col("id").as("event_id"),
      timestamp_micros(
        lit(java.time.LocalDate.parse("2024-01-01").toEpochDay
          * 86400L * 1000000L) +
          pmod(xxhash64(col("id"), lit(27)),
            lit(30L * 86400L * 1000000L))).as("ts"),
      ui(28, nUsers).cast("long").as("user_id"),
      pick(29, Seq("click", "error", "purchase", "signup", "view"))
        .as("event_type"),
      // exponential-ish value (profiled: mean ≈ 50, max ≈ 560):
      // inverse-CDF on the uniform draw, capped at the observed max
      round(least(-log(lit(1.0) - u(30) * 0.9999) * 50.0, lit(560.0)), 2)
        .as("value"),
      format_string("{\"k\": %d}", ui(32, 100)).as("props"))
    })

    // documents: word-soup text from the corpus vocabulary (small vocab
    // → natural near-dup structure for the dedup/text operators), en
    // weighted ~40%, 20 sources
    val vocab = Seq("batch", "part", "spark", "line", "column", "order",
      "small", "sort", "fast", "value", "scan", "a", "query", "agg",
      "table", "hash", "vector", "join", "shuffle", "merge", "plan",
      "read", "write", "file", "row", "group", "key", "index", "cache",
      "page")
    write("documents", gen(nDocs.toLong) { df => df
      .withColumn("nw", ui(33, 80) + 8)
      .withColumn("text", concat_ws(" ",
        transform(sequence(lit(1), col("nw")), i =>
          element_at(array(vocab.map(lit): _*),
            pmod(xxhash64(col("id"), i, lit(34)),
              lit(vocab.size.toLong)).cast("int") + 1))))
      .select(
        col("id").as("doc_id"),
        col("text"),
        element_at(array(lit("en"), lit("en"), lit("de"), lit("es"),
          lit("fr"), lit("zh")), ui(35, 6) + 1).as("lang"),
        format_string("src%d", ui(36, 20)).as("source"),
        length(col("text")).cast("long").as("n_chars"))
    })

    // embeddings: 64-dim float vectors, L2-normalized, 10 labels with
    // a per-label direction bias (so ANN clustering is non-trivial)
    write("embeddings", gen(nVecs.toLong) { df => df
      .withColumn("label", ui(37, 10))
      .withColumn("raw", transform(sequence(lit(0), lit(63)), i =>
        (pmod(xxhash64(col("id"), i, lit(38)), lit(2000L)) - 1000) / 1000.0
          + when(pmod(i, lit(10)) === col("label").cast("long"), 1.5)
            .otherwise(0.0)))
      .withColumn("nrm", sqrt(aggregate(col("raw"), lit(0.0),
        (acc, x) => acc + x * x)))
      .select(
        col("id").as("vec_id"),
        transform(col("raw"), x => (x / col("nrm")).cast("float"))
          .as("embedding"),
        col("label").cast("int").as("label"))
    })

    println(s"[gendata] scale=$scale complete at $out")
    spark.stop()
  }
}
