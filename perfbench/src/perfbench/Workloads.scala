package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.Layout
import graft.pipeline._

/** One timed operation as the pass saw it. `kind` is "read" for an
  * operation that commits nothing and "write" for one that commits. */
final case class Sample(name: String, family: String, kind: String,
    seconds: Double, ok: Boolean)

/** What a workload needs from the runner while a pass executes. */
final class PassCtx(val spark: SparkSession, val tracer: Tracer) {
  val samples = mutable.ArrayBuffer.empty[Sample]
  val errors = mutable.ArrayBuffer.empty[String]
  /** Extra per-pass figures a workload reports (bytes, table state). */
  val figures = mutable.LinkedHashMap.empty[String, Double]

  /** Times `body` as one operation inside a root span, then checks its
    * result outside the timed region. A throw or a failed check counts
    * the operation as failed. */
  def op[T](name: String, family: String, kind: String)(body: => T)
      (check: T => Boolean): Unit = {
    val t0 = System.nanoTime()
    val result = try Right(tracer(name, family)(body))
      catch { case e: Throwable => Left(e) }
    val sec = (System.nanoTime() - t0) / 1e9
    val ok = result match {
      case Left(e) => errors += s"$name: ${e.toString.take(300)}"; false
      case Right(v) =>
        try check(v) || { errors += s"$name: output check failed"; false }
        catch { case e: Throwable => errors += s"$name check: $e"; false }
    }
    samples += Sample(name, family, kind, sec, ok)
  }

  def figure(name: String, v: Double): Unit =
    figures(name) = figures.getOrElse(name, 0.0) + v
}

trait Workload {
  def name: String
  /** Corpus tables the operations read. */
  def tables: Set[String]
  /** Salt of the generated corpus for a seed. */
  def salt(seed: Long): Int
  /** Called once after the inputs exist, before warm-up. */
  def prepare(spark: SparkSession, corpus: String, seed: Long): Unit = ()
  /** Runs every operation once; `warm` passes may run operations
    * concurrently since nothing is timed. */
  def pass(ctx: PassCtx, corpus: String, seed: Long, index: Int): Unit
  def warm(ctx: PassCtx, corpus: String, seed: Long): Unit = pass(ctx, corpus, seed, 0)
}

/** Expected digests, committed per workload and corpus variant. */
final class Expected(file: java.io.File, variant: String) {
  import com.fasterxml.jackson.databind.ObjectMapper
  import com.fasterxml.jackson.databind.node.ObjectNode
  private val mapper = new ObjectMapper()
  private val root: ObjectNode =
    if (file.exists()) mapper.readTree(file).asInstanceOf[ObjectNode]
    else mapper.createObjectNode()
  val recorded = mutable.LinkedHashMap.empty[String, String]
  var planted: Option[String] = None

  def get(op: String): Option[Digest] = {
    val node = root.path("variants").path(variant).path(op)
    if (node.isMissingNode) None else Some(Digest.parse(node.asText()))
  }

  /** Record mode writes what was seen; check mode compares. */
  def check(op: String, got: Digest, record: Boolean): Boolean =
    if (record) { recorded(op) = got.toString; true }
    else get(op).exists { want =>
      if (planted.contains(op)) want.copy(rows = want.rows + 1) == got
      else want == got
    }

  def save(meta: Map[String, String]): Unit = {
    meta.foreach { case (k, v) => root.put(k, v) }
    val vs = Option(root.get("variants")).map(_.asInstanceOf[ObjectNode])
      .getOrElse(root.putObject("variants"))
    val node = vs.putObject(variant)
    recorded.toSeq.sortBy(_._1).foreach { case (k, v) => node.put(k, v) }
    mapper.writerWithDefaultPrettyPrinter().writeValue(file, root)
  }
}

/** Runs a fixed list of read-only operator calls and checks each digest. */
abstract class DigestWorkload(expected: String => Expected, dump: Option[String])
    extends Workload {
  private val record = dump.isDefined
  /** (operation name, family, call). */
  def ops: Seq[(String, String, (SparkSession, String) => DataFrame)]
  /** Operations in the order a seed gives them. */
  def order(seed: Long): Seq[(String, String, (SparkSession, String) => DataFrame)] =
    new scala.util.Random(seed).shuffle(ops)

  private var exp: Expected = _
  def expectations: Expected = exp

  override def prepare(spark: SparkSession, corpus: String, seed: Long): Unit =
    exp = expected(variant(seed))

  def variant(seed: Long): String = salt(seed).toString

  def runOp(ctx: PassCtx, corpus: String, op: (String, String, (SparkSession, String) => DataFrame)): Unit = {
    val (name, family, fn) = op
    ctx.op(name, family, "read") {
      val df = ctx.tracer(s"$family.$name", "operator")(fn(ctx.spark, corpus))
      ctx.tracer("action", "action")(Digest.of(df))
    }(d => exp.check(name, d, record))
  }

  def pass(ctx: PassCtx, corpus: String, seed: Long, index: Int): Unit =
    order(seed).foreach(runOp(ctx, corpus, _))

  /** Writes every operation's output, the oracle SQL that exists for it
    * and single-file copies of the corpus tables, the layout
    * tools/check.py compares against DuckDB. */
  def dumpForOracle(spark: SparkSession, corpus: String, dir: String): Unit = {
    val oracle = graft.SparkEntry.oracleSql
    ops.foreach { case (name, _, fn) =>
      fn(spark, corpus).write.mode("overwrite").parquet(s"$dir/out/$name")
    }
    val sql = Main.obj(ops.map(_._1).filter(oracle.contains).map(n => n -> oracle(n)): _*)
    Main.Mapper.writeValue(new java.io.File(s"$dir/out/oracle_sql.json"), sql)
    new java.io.File(s"$dir/data").mkdirs()
    Corpus.Tables.foreach { t =>
      val part = new java.io.File(s"$corpus/$t.parquet").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(s"$dir/data/$t.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
  }

  /** Warm-up runs every operation once, a few at a time on separate driver
    * threads: nothing is timed, it only has to load and compile what the
    * timed passes use. The first timed pass still runs slower than the
    * next ones; the median over passes leaves it out. */
  override def warm(ctx: PassCtx, corpus: String, seed: Long): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(4, Runtime.getRuntime.availableProcessors())))
    try {
      val futures = order(seed).map { op =>
        pool.submit(new Runnable {
          def run(): Unit = {
            val local = new PassCtx(ctx.spark, ctx.tracer)
            runOp(local, corpus, op)
            ctx.synchronized { ctx.samples ++= local.samples; ctx.errors ++= local.errors }
          }
        })
      }
      futures.foreach(_.get())
    } finally pool.shutdown()
  }
}

/** `relational`: read-only relational and graph queries on a fixed corpus;
  * the seed only permutes their order. */
final class RelationalWorkload(expected: String => Expected, dump: Option[String],
    queries: Seq[String])
    extends DigestWorkload(expected, dump) {
  val name = "relational"
  val tables = Set("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events")
  def salt(seed: Long): Int = 0
  private val graph = graft.ops.Graph.all
  private val all = graft.ops.Relational.all ++ graph
  val ops = queries.map(q => (q, if (graph.contains(q)) "graph" else "relational", all(q)))
}

/** `curation`: the curation flagship and the near-dup, similarity, text
  * and multimodal operators on a corpus salted by the seed. */
final class CurationWorkload(expected: String => Expected, dump: Option[String],
    operators: Seq[String], variants: Int)
    extends DigestWorkload(expected, dump) {
  val name = "curation"
  val tables = Set("documents", "embeddings")
  def salt(seed: Long): Int = (Math.floorMod(seed, variants.toLong) + 1).toInt
  private def family(op: String): String = op.head match {
    case 'd' => "dedup"
    case 's' => "similarity"
    case 't' => "text"
    case _ => "multimodal"
  }
  /** The seed salts the corpus; the operations keep their listed order. */
  override def order(seed: Long): Seq[(String, String, (SparkSession, String) => DataFrame)] = ops
  val ops = ("curate", "curation",
      (s: SparkSession, d: String) => graft.ops.Curation.curate(s, d)) +:
    operators.map(o => (o, family(o), graft.SparkEntry.queries(o)))
}

/** `table-rw`: a closed-loop stream of commits and reads on one snapshot
  * table seeded from lineitem, plus pipeline gets and puts. Every output is
  * checked against the benchmark's own model of the stream. */
final class TableRwWorkload(rootOf: Int => String) extends Workload {
  val name = "table-rw"
  val tables = Set("lineitem", "part")
  def salt(seed: Long): Int = (Math.floorMod(seed, 1000L) + 1).toInt

  val schema: StructType = StructType(Seq(
    StructField("k", LongType), StructField("okey", LongType),
    StructField("part", LongType), StructField("qty", DoubleType),
    StructField("price", DoubleType), StructField("flag", StringType)))
  private val cols = schema.fieldNames.toSeq
  private val order = cols.toArray.zipWithIndex.sortBy(_._1)
  private def rowHash(r: Row) = Digest(1L, Digest.row(r, order))
  private def rowBytes(r: Row) = 40L + r.getString(5).length

  private var base: Array[Row] = Array.empty
  private var pipelineExpected: Map[Long, Digest] = Map.empty
  private var suppliers: Array[Long] = Array.empty

  private val profitCols = Seq("p_type", "n_items", "revenue")
  private def profit(df: DataFrame): DataFrame =
    df.groupBy(col("p_type"))
      .agg(count(lit(1)).as("n_items"),
        round(sum(col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1).cast("decimal(18,2)") -
            col("l_discount").cast("decimal(18,2)"))), 2)
          .cast("double").as("revenue"))

  override def prepare(spark: SparkSession, corpus: String, seed: Long): Unit = {
    val li = spark.read.parquet(s"$corpus/lineitem.parquet")
    base = li.select(
      (col("l_orderkey") * 8 + col("l_linenumber")).as("k"),
      col("l_orderkey").as("okey"), col("l_partkey").as("part"),
      col("l_quantity").as("qty"), col("l_extendedprice").as("price"),
      col("l_returnflag").as("flag")).collect()
    // the pipeline model: lineitem ⋈ part aggregated per supplier, the
    // answer every cached or computed get for that supplier must equal
    val part = spark.read.parquet(s"$corpus/part.parquet")
    val joined = li.join(part, col("l_partkey") === col("p_partkey"))
    val rows = joined.groupBy(col("l_suppkey"), col("p_type"))
      .agg(count(lit(1)).as("n_items"),
        round(sum(col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1).cast("decimal(18,2)") -
            col("l_discount").cast("decimal(18,2)"))), 2)
          .cast("double").as("revenue")).collect()
    pipelineExpected = rows.groupBy(_.getLong(0)).map { case (s, rs) =>
      s -> Digest.ofRows(profitCols, rs.map(r => Row(r.get(1), r.get(2), r.get(3))))
    }
    suppliers = pipelineExpected.keys.toArray.sorted
  }

  /** Warm-up runs each kind of operation once, on a table of its own. */
  override def warm(ctx: PassCtx, corpus: String, seed: Long): Unit =
    run(ctx, corpus, seed, 0, Seq("append", "scan", "lookup", "get", "merge",
      "timetravel", "delete", "put"))

  def pass(ctx: PassCtx, corpus: String, seed: Long, index: Int): Unit =
    run(ctx, corpus, seed, index, Stream)

  /** The pass's operations: eleven reads to five writes (plus the
    * maintenance a delete triggers), interleaved in a fixed order so that
    * every seed does the same work on its own keys and values. */
  private val Stream: Seq[String] = Seq("scan", "get", "append", "timetravel",
    "lookup", "get", "merge", "scan", "get", "delete", "timetravel", "lookup",
    "put", "scan", "get", "append")

  /** Which of the drawn suppliers each successive get asks for: two
    * misses, then two hits, whatever the seed. */
  private val GetPattern = Seq(0, 1, 0, 1)

  private def run(ctx: PassCtx, corpus: String, seed: Long, index: Int,
      kinds: Seq[String]): Unit = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val root = rootOf(index) + "/table"
    val idx = s"$root/_bloomidx_k"
    val rnd = new scala.util.Random(seed * 7919 + 17)
    val model = mutable.HashMap.empty[Long, Row]
    base.foreach(r => model(r.getLong(0)) = r)
    var digest = base.foldLeft(Digest.empty)(_ + rowHash(_))
    val versions = mutable.LinkedHashMap.empty[Int, Digest]
    var inputBytes = base.map(rowBytes).sum
    var nextKey = base.map(_.getLong(0)).max + 1
    val seen = mutable.HashMap.empty[String, Long]
    def listing(): Map[String, Long] = {
      val out = mutable.HashMap.empty[String, Long]
      def walk(f: java.io.File): Unit =
        if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(walk))
        else if (f.isFile) out(f.getPath) = f.length
      walk(new java.io.File(root))
      out.toMap
    }
    def noteFiles(): Unit = listing().foreach { case (p, n) => seen(p) = n }
    def head(): Int = Layout.snapshotVersions(spark, root).last
    def committed(): Boolean = {
      val v = head()
      versions(v) = digest
      noteFiles()
      Layout.snapshotRowCount(spark, root) == model.size.toLong
    }
    def df(rows: Seq[Row]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema)
    def existing(n: Int): Seq[Long] = {
      val keys = model.keysIterator.toArray.sorted
      Seq.fill(n)(keys(rnd.nextInt(keys.length))).distinct
    }
    def price(): Double = math.round(rnd.nextDouble() * 1000000.0) / 100.0

    // the table as it stands before the pass: key-clustered, stats on k,
    // with the bloom index on k the point lookups read
    Layout.snapshotAppend(spark, root,
      df(base.toSeq).repartitionByRange(4, col("k")).sortWithinPartitions(col("k")),
      statsKey = Some("k"))
    Layout.maintainBloomIndexFor(spark, root, "k")
    require(committed(), "initial load row count")

    val memory = new MemoryCacheSink(Set("profit_by_type"))
    val parquetDir = rootOf(index) + "/pipeline"
    val cacheDir = new ParquetDirSink(parquetDir, Set("profit_by_type"))
    val batchDir = new ParquetDirSink(parquetDir, Set("batch", "batch__quarantine"))
    val sourceGets = new java.util.concurrent.atomic.AtomicInteger(0)
    val source = new ParquetTablesSource(corpus) {
      override def get(t: String, q: Query, s: SparkSession): DataFrame = {
        sourceGets.incrementAndGet(); super.get(t, q, s)
      }
    }
    val enrich = new Transformer {
      val from = "lineitem"; val to = "lineitem_with_part"
      def transform(d: DataFrame): DataFrame =
        d.join(graft.Tables(spark, corpus, "part"), col("l_partkey") === col("p_partkey"))
    }
    val agg = new Transformer {
      val from = "lineitem_with_part"; val to = "profit_by_type"
      def transform(d: DataFrame): DataFrame = profit(d)
    }
    val quarantine = new QuarantineSink(batchDir, col("qty") > 5.0, "qty>5")
    val pipeline = new DataPipeline(
      Seq(Right(memory), Right(cacheDir), Right(quarantine), Left(source)),
      Seq(enrich, agg))
    // two suppliers picked by the seed; the gets ask for them in a fixed
    // pattern, so every pass has the same misses (computed through the
    // source and chain) and hits (cache)
    val drawn = new scala.util.Random(seed).shuffle(suppliers.toSeq).take(2).toArray
    var gets, hits, commits, batches = 0
    var lookupScanned, lookupTotal = 0L

    def commit(kind: String, n: String)(body: => Int)(apply: => Unit): Unit =
      ctx.op(n, "table", "write")(tr(s"Layout.$kind", "table")(body)) { _ =>
        apply
        commits += 1
        committed()
      }

    def step(kind: String): Unit = kind match {
      case "scan" =>
        val keys = model.keysIterator.toArray.sorted
        val lo = keys(rnd.nextInt(keys.length))
        val hi = lo + 400
        ctx.op("scan", "table", "read") {
          val t = tr("Layout.snapshotTable", "table")(
            Layout.snapshotTable(spark, root).filter(col("k") >= lo && col("k") <= hi))
          tr("action", "action")(Digest.of(t))
        } { d =>
          d == model.valuesIterator.filter { r =>
            val k = r.getLong(0); k >= lo && k <= hi
          }.foldLeft(Digest.empty)(_ + rowHash(_))
        }
      case "timetravel" =>
        val vs = versions.keys.toArray
        val v = vs(rnd.nextInt(vs.length))
        ctx.op("timetravel", "table", "read") {
          val t = tr("Layout.readSnapshot", "table")(Layout.readSnapshot(spark, root, v))
          tr("action", "action")(Digest.of(t))
        }(_ == versions(v))
      case "lookup" =>
        val probe = (existing(16) ++ Seq.fill(4)(nextKey + 1000 + rnd.nextInt(1000)))
          .distinct
        ctx.op("lookup", "table", "read") {
          val r = tr("Layout.snapshotPointLookup", "table")(
            Layout.snapshotPointLookup(spark, root, idx, "k", probe))
          (r, tr("action", "action")(Digest.of(r.result)))
        } { case (r, d) =>
          lookupScanned += r.scannedFiles.size
          lookupTotal += r.totalFiles
          d == probe.flatMap(model.get).foldLeft(Digest.empty)(_ + rowHash(_))
        }
      case "get" =>
        val supp = drawn(GetPattern(gets % GetPattern.size))
        val before = sourceGets.get()
        ctx.op("get", "pipeline", "read") {
          val r = tr("pipeline.get", "pipeline")(
            pipeline.get("profit_by_type", Query.of("filter_l_suppkey" -> supp))(spark))
          tr("action", "action")(Digest.of(r))
        } { d =>
          gets += 1
          if (sourceGets.get() == before) hits += 1
          d == pipelineExpected(supp)
        }
      case "put" =>
        val rows = Seq.fill(200) {
          val k = nextKey + rnd.nextInt(1000000)
          Row(k, k / 8, rnd.nextInt(1000).toLong, (1 + rnd.nextInt(50)).toDouble,
            price(), "P")
        }
        val passing = rows.count(_.getDouble(3) > 5.0)
        batches += 1
        val q = Query.of("batch" -> batches)
        ctx.op("put", "pipeline", "write")(
          tr("pipeline.put", "pipeline")(pipeline.put("batch", df(rows), q))) { _ =>
          def back(t: String) = new ParquetDirSink(parquetDir, Set(t))
            .lookup(t, q, spark).map(_.count()).getOrElse(-1L)
          back("batch") == passing && back("batch__quarantine") == rows.size - passing
        }
      case "append" =>
        val rows = Seq.fill(150) {
          val k = nextKey; nextKey += 1
          Row(k, k / 8, rnd.nextInt(1000).toLong, (1 + rnd.nextInt(50)).toDouble,
            price(), "N")
        }
        commit("snapshotAppend", "append")(
          Layout.snapshotAppend(spark, root, df(rows), statsKey = Some("k"))) {
          rows.foreach { r => model(r.getLong(0)) = r; digest += rowHash(r) }
          inputBytes += rows.map(rowBytes).sum
        }
      case "merge" =>
        val upd = existing(60)
        val ins = Seq.fill(20) { val k = nextKey; nextKey += 1; k }
        val changes = (upd ++ ins).map(k =>
          Row(k, (1 + rnd.nextInt(50)).toDouble, price(), "U"))
        val changeSchema = StructType(Seq(StructField("c_k", LongType),
          StructField("c_qty", DoubleType), StructField("c_price", DoubleType),
          StructField("c_flag", StringType)))
        val cdf = spark.createDataFrame(spark.sparkContext.parallelize(changes, 1),
          changeSchema)
        commit("snapshotMergeKeys", "merge")(
          Layout.snapshotMergeKeys(spark, root, "k", cdf.select(col("c_k")), touched =>
            touched.join(cdf, col("k") === col("c_k"), "full_outer").select(
              coalesce(col("k"), col("c_k")).as("k"),
              coalesce(col("okey"), floor(col("c_k") / 8)).cast("long").as("okey"),
              coalesce(col("part"), lit(0L)).as("part"),
              coalesce(col("c_qty"), col("qty")).as("qty"),
              coalesce(col("c_price"), col("price")).as("price"),
              coalesce(col("c_flag"), col("flag")).as("flag")))) {
          changes.foreach { c =>
            val k = c.getLong(0)
            val old = model.get(k)
            old.foreach(o => digest -= rowHash(o))
            val r = Row(k, old.map(_.getLong(1)).getOrElse(k / 8),
              old.map(_.getLong(2)).getOrElse(0L), c.getDouble(1), c.getDouble(2), "U")
            if (old.isEmpty) inputBytes += rowBytes(r)
            model(k) = r
            digest += rowHash(r)
          }
        }
      case "delete" =>
        val keys = existing(40)
        val kdf = spark.createDataFrame(spark.sparkContext.parallelize(
          keys.map(Row(_)), 1), StructType(Seq(StructField("k", LongType))))
        commit("snapshotDeleteMORKeys", "delete")(
          Layout.snapshotDeleteMORKeys(spark, root, "k", kdf)) {
          keys.foreach(k => model.remove(k).foreach(r => digest -= rowHash(r)))
        }
    }
    // maintenance runs every few commits and right after a delete: merges
    // and catalog scans need a head without delete sidecars
    kinds.foreach { kind =>
      val before = commits
      step(kind)
      if (commits > before && (kind == "delete" || commits % MaintainEvery == 0))
        ctx.op("maintain", "table", "write")(tr("Layout.snapshotMaintain", "table")(
          Layout.snapshotMaintain(spark, root, Policy)))(_ => committed())
    }

    val files = listing()
    val dataBytes = files.filter(_._1.endsWith(".parquet")).values.sum
    ctx.figure("stored_bytes", files.values.sum.toDouble)
    ctx.figure("written_bytes", seen.values.sum.toDouble)
    ctx.figure("input_bytes", inputBytes.toDouble)
    ctx.figure("output_files", seen.size.toDouble)
    ctx.figure("metadata_bytes", (files.values.sum - dataBytes).toDouble)
    ctx.figure("versions", Layout.snapshotVersions(spark, root).size.toDouble)
    ctx.figure("live_files", Layout.snapshotMeta(spark, root).paths.size.toDouble)
    ctx.figure("lookup_scanned_files", lookupScanned.toDouble)
    ctx.figure("lookup_total_files", lookupTotal.toDouble)
    ctx.figure("pipeline_gets", gets.toDouble)
    ctx.figure("pipeline_hits", hits.toDouble)
    ctx.figure("pipeline_source_gets", sourceGets.get().toDouble)
  }

  private val MaintainEvery = 6
  private val Policy = Layout.MaintenancePolicy(maxDeleteFiles = 1, maxSmallFiles = 12)
}
