package perfbench

import java.lang.management.ManagementFactory

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload, one seed, one closed-loop client.
  *
  * Set-up (session start, input generation, warm-up) is timed as `setup_s`.
  * Then a fixed pass over the workload's operations repeats; the number of
  * passes is `--seconds` over the workload's nominal pass length, so runs
  * of one build do the same work. Every operation's output is checked. With
  * `--trace 1` passes alternate untraced and traced, and the traced ones
  * attribute time and bytes to graft's layers.
  *
  * The last stdout line is the result object; the lines before it are the
  * run record and, when traced, the per-layer self-time table.
  */
object Main {
  /** Input generation is repeated and its median kept, so a slow first
    * write does not decide `setup_s`. */
  val SetupReps = 3

  /** About how long one pass of any workload takes on four cores: with
    * `--seconds` it fixes how many passes a run makes, so every run of one
    * build does the same work. */
  val NominalPassSeconds = 8.0

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: String, results: String, expected: String,
      record: Boolean, smoke: Boolean, plant: Option[String],
      commit: String, srcHash: String)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", m("work"), m("results"), m("expected"),
      m.getOrElse("record", "0") == "1", m.getOrElse("smoke", "0") == "1",
      m.get("plant-bad-digest"), m.getOrElse("commit", "unknown"),
      m.getOrElse("src-hash", "unknown"))
  }

  // Operator sets, sized so set-up plus one pass stays near half a minute
  // on four cores (see perfbench/README.md). The relational list spreads
  // over the read-only queries: aggregates, joins, windows, subqueries,
  // set operations and one graph query.
  val RelationalQueries: Seq[String] = Seq(
    "q1_agg", "q3_join_agg", "q4_multi_join", "q5_sort_limit",
    "q7_window_rank", "q9_semi_join", "q12_rollup", "q17_scalar_subquery",
    "q19_range_join", "q30_set_ops", "q64_market_share", "q76_bfs_hops")
  val CurationOps: Seq[String] = Seq(
    "d1_exact_dedup", "d3_simhash", "d15_edit_dedup", "d20_semantic_dedup",
    "s15_knn_graph", "t7_gopher_rules", "m7_phash_clusters")
  val CurationVariants = 8

  def shapes(smoke: Boolean): Map[String, CorpusShape] =
    if (smoke) Map(
      "relational" -> CorpusShape(0.001, 50, 20, 0.0),
      "curation" -> CorpusShape(0.001, 200, 80, 0.1),
      "table-rw" -> CorpusShape(0.001, 20, 10, 0.0))
    else Map(
      "relational" -> CorpusShape(0.01, 500, 200, 0.0),
      "curation" -> CorpusShape(0.001, 600, 240, 0.1),
      "table-rw" -> CorpusShape(0.002, 20, 10, 0.0))

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = Runtime.getRuntime.availableProcessors()
    val master = s"local[$cores]"
    val spark = graft.GraftSession.builder(master = master, appName = "perfbench")
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0

    val tag = if (a.smoke) "smoke-" else ""
    def expected(w: String)(variant: String) = {
      val e = new Expected(new java.io.File(s"${a.expected}/$tag$w.json"), variant)
      e.planted = a.plant
      e
    }
    val shape = shapes(a.smoke)(a.workload)
    // record mode keeps every output and the corpus for the DuckDB oracle
    val dump = if (a.record) Some(s"${a.results}/record-$tag${a.workload}-seed${a.seed}")
      else None
    val workload: Workload = a.workload match {
      case "relational" =>
        new RelationalWorkload(expected("relational"), dump, RelationalQueries)
      case "curation" =>
        new CurationWorkload(expected("curation"), dump, CurationOps,
          CurationVariants)
      case "table-rw" =>
        new TableRwWorkload(i => s"${a.work}/trw-pass-$i")
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val salt = workload.salt(a.seed)
    // the smoke test checks outputs and metric names, not timings: one
    // generation and no warm-up
    val reps = if (a.smoke) 1 else SetupReps
    val genS = (1 to reps).map { i =>
      val t0 = System.nanoTime()
      Corpus.write(spark, s"${a.work}/corpus-$i", shape, salt,
        if (a.record) Corpus.Tables.toSet else workload.tables)
      (System.nanoTime() - t0) / 1e9
    }
    val corpus = s"${a.work}/corpus-$reps"
    val tracer = new Tracer(spark.sparkContext)
    val t0 = System.nanoTime()
    workload.prepare(spark, corpus, a.seed)
    val warmCtx = new PassCtx(spark, tracer)
    if (!a.smoke) workload.warm(warmCtx, corpus, a.seed)
    probe(spark) // compiles the probe so its timings measure the machine
    val warmS = (System.nanoTime() - t0) / 1e9
    val setupS = sessionS + median(genS) + warmS
    val toFirstOp = (System.currentTimeMillis() - jvmStart) / 1000.0

    val listener = new SpanListener
    if (a.trace) spark.listenerManager.register(listener.queryListener)
    val probeBefore = probe(spark)
    val passCount = math.max(if (a.trace) 2 else 1,
      math.round(a.seconds / NominalPassSeconds).toInt)
    val passes = (1 to passCount).map { index =>
      runPass(spark, workload, corpus, a.seed, index, tracer, listener,
        traced = a.trace && index % 2 == 0)
    }
    val probeAfter = probe(spark)

    val plain = passes.filterNot(_.traced)
    val samples = plain.flatMap(_.samples)
    val attempted = passes.map(_.samples.size).sum
    val failed = passes.map(_.samples.count(!_.ok)).sum
    val errors = passes.flatMap(_.errors) ++ warmCtx.errors
    val lat = samples.map(_.seconds)
    val reads = samples.filter(_.kind == "read").map(_.seconds)
    val writes = samples.filter(_.kind == "write").map(_.seconds)
    val (tailP, tailV, tailN) = tail(lat)
    // every operation (by its place in the pass, the same in every pass)
    // at its median over the untraced passes: a burst of load on the
    // machine during one pass moves neither wall_s nor latency_p50_s
    val perOp = plain.map(_.samples.map(_.seconds)).transpose.map(median(_))
    val e2e = Seq(
      "setup_s" -> m(setupS, "s"),
      "wall_s" -> m(perOp.sum, "s"))
    // figures of the untraced passes that a traced run reports next to its
    // layer metrics, unbounded: latencies of a few dozen operations of mixed
    // kinds and the peak RSS, which follows when the collector grows the
    // heap, move more between runs than any allowed bound, and the
    // read/write and bytes figures are defined by table-rw alone
    val runFigures = Seq(
      "peak_rss_mb" -> m(peakRssMb(), "MB"),
      "latency_p50_s" -> m(median(perOp), "s"),
      "latency_tail_s" -> m(tailV, "s"),
      "read_p50_s" -> m(median(reads), "s"),
      "read_tail_s" -> m(tail(reads)._2, "s"),
      "write_p50_s" -> m(median(writes), "s"),
      "write_tail_s" -> m(tail(writes)._2, "s"),
      "stored_bytes_per_input_byte" ->
        m(median(plain.map(p => ratio(p.figures, "stored_bytes", "input_bytes"))), "ratio"),
      "written_bytes_per_input_byte" ->
        m(median(plain.map(p => ratio(p.figures, "written_bytes", "input_bytes"))), "ratio"))

    val quiet = readQuietProbe(a.expected)
    val recordJson = obj(
      "run_record" -> obj(
        "workload" -> a.workload, "seed" -> a.seed, "corpus_salt" -> salt,
        "commit" -> a.commit, "source_hash" -> a.srcHash,
        "nproc" -> cores, "master" -> master,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
        "spark_version" -> spark.version,
        "java_version" -> System.getProperty("java.version"),
        "smoke" -> a.smoke, "traced" -> a.trace,
        "cpu_probe_before_s" -> probeBefore, "cpu_probe_after_s" -> probeAfter,
        "cpu_probe_quiet_s" -> quiet,
        "cpu_probe_load" -> quiet.map(q => math.max(probeBefore, probeAfter) / q),
        "setup" -> obj("session_s" -> sessionS, "generate_s" -> genS,
          "warmup_s" -> warmS, "process_start_to_first_op_s" -> toFirstOp),
        "passes" -> passes.size, "untraced_pass_wall_s" -> plain.map(_.wallS),
        "untraced_op_s" -> plain.map(_.samples.map(_.seconds)),
        "op_median_s" -> obj(samples.groupBy(_.name).toSeq.sortBy(_._1)
          .map { case (n, ss) => n -> median(ss.map(_.seconds)) }: _*),
        "warmup_op_s" -> obj(warmCtx.samples.toSeq.map(s => s.name -> s.seconds): _*),
        "latency_samples" -> lat.size, "latency_tail_percentile" -> tailP,
        "latency_samples_beyond_tail" -> tailN,
        "failed_frac" -> failed.toDouble / math.max(1, attempted),
        "figures" -> obj(runFigures.map { case (k, (v, _)) => k -> v }: _*),
        "errors" -> errors.take(8)))
    println(Mapper.writeValueAsString(recordJson))

    val metrics: Seq[(String, (Double, String))] =
      if (!a.trace) e2e
      else {
        val layers = layerMetrics(passes.filter(_.traced), cores) ++
          runFigures ++ Seq("trace.overhead_frac" -> m(overhead(passes), "ratio"))
        writeTrace(a, passes.filter(_.traced))
        layers
      }
    val result = obj(
      "correct" -> (failed == 0 && attempted > 0),
      "attempted" -> attempted, "failed" -> failed,
      "metrics" -> obj(metrics.map { case (k, (v, u)) =>
        k -> obj("value" -> v, "unit" -> u) }: _*))
    (workload, dump) match {
      case (d: DigestWorkload, Some(dir)) if failed == 0 =>
        d.expectations.save(Map("corpus" -> shape.toString))
        d.dumpForOracle(spark, corpus, dir)
      case _ => ()
    }
    spark.stop()
    println(Mapper.writeValueAsString(result))
  }

  /** Median traced pass over median untraced pass, minus one. The first
    * pass runs slower than the rest whatever the tracing, so it is left
    * out of the untraced side when a later untraced pass exists. */
  def overhead(ps: Seq[PassResult]): Double = {
    val untraced = ps.filterNot(_.traced)
    val base = if (untraced.size > 1) untraced.tail else untraced
    median(ps.filter(_.traced).map(_.wallS)) / median(base.map(_.wallS)) - 1
  }

  final case class PassResult(index: Int, traced: Boolean, wallS: Double,
      samples: Seq[Sample], errors: Seq[String], figures: Map[String, Double],
      spans: Seq[Span], groups: Map[String, SparkAgg],
      stageTasks: Map[Int, Seq[Long]], gcMs: Double, heapPeakMb: Double)

  def runPass(spark: SparkSession, w: Workload, corpus: String, seed: Long,
      index: Int, tracer: Tracer, listener: SpanListener,
      traced: Boolean): PassResult = {
    val sc = spark.sparkContext
    if (traced) { listener.reset(); sc.addSparkListener(listener) }
    tracer.spans.clear()
    tracer.enabled = traced
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    pools.foreach(_.resetPeakUsage())
    val gc0 = gcMs()
    val ctx = new PassCtx(spark, tracer)
    w.pass(ctx, corpus, seed, index)
    // the pass's wall is the time its operations took: checks, the
    // table-rw starting table and listing are outside it
    val wall = ctx.samples.map(_.seconds).sum
    tracer.enabled = false
    val gc = gcMs() - gc0
    val heapPeak = pools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    val (groups, stages) = if (traced) {
      listener.drain(sc)
      sc.removeSparkListener(listener)
      listener.synchronized((listener.byGroup.toMap,
        listener.stageTasks.map { case (k, v) => k -> v.toSeq }.toMap))
    } else (Map.empty[String, SparkAgg], Map.empty[Int, Seq[Long]])
    PassResult(index, traced, wall, ctx.samples.toSeq, ctx.errors.toSeq,
      ctx.figures.toMap, tracer.spans.toSeq, groups, stages, gc, heapPeak)
  }

  /** Per-layer metrics of the traced passes, averaged per pass. */
  def layerMetrics(ps: Seq[PassResult], cores: Int): Seq[(String, (Double, String))] = {
    def avg(f: PassResult => Double): Double =
      if (ps.isEmpty) 0.0 else ps.map(f).sum / ps.size
    // only the spans' own job groups: checks and table set-up run outside them
    def sumAgg(p: PassResult)(f: SparkAgg => Double): Double =
      p.groups.collect { case (g, a) if g.startsWith("pb-") => f(a) }.sum
    def spanMs(p: PassResult, name: String): Double =
      p.spans.filter(_.name == name).map(_.ms).sum
    def familyMs(p: PassResult, family: String): Double =
      p.spans.filter(s => s.parent == 0 && s.layer == family).map(_.ms).sum
    def opWallMs(p: PassResult): Double = p.spans.filter(_.parent == 0).map(_.ms).sum
    def floorMs(p: PassResult): Double = p.spans.filter(_.parent == 0).map { root =>
      val ids = p.spans.filter(_.op == root.op).map(s => s"pb-${s.id}").toSet
      val intervals = ids.toSeq.flatMap(g => p.groups.get(g).toSeq.flatMap(_.taskSpans))
      math.max(0.0, root.ms - unionMs(intervals))
    }.sum
    def straggler(p: PassResult): Double = {
      val ratios = p.stageTasks.values.filter(_.size >= 2).map { ds =>
        val m = median(ds.map(_.toDouble))
        if (m > 0) ds.max / m else 1.0
      }
      if (ratios.isEmpty) 1.0 else ratios.max
    }
    def fig(p: PassResult, k: String) = p.figures.getOrElse(k, 0.0)
    val ms = "ms"
    Seq(
      "pipeline.get_ms" -> m(avg(spanMs(_, "pipeline.get")), ms),
      "pipeline.put_ms" -> m(avg(spanMs(_, "pipeline.put")), ms),
      "pipeline.cache_hit_ratio" -> m(avg(p => ratio(p.figures, "pipeline_hits", "pipeline_gets")), "ratio"),
      "pipeline.source_gets" -> m(avg(fig(_, "pipeline_source_gets")), "count"),
      "catalyst.analysis_ms" -> m(avg(sumAgg(_)(_.analysisMs.toDouble)), ms),
      "catalyst.optimization_ms" -> m(avg(sumAgg(_)(_.optimizationMs.toDouble)), ms),
      "catalyst.planning_ms" -> m(avg(sumAgg(_)(_.planningMs.toDouble)), ms),
      "plans.graft_rule_ms" -> m(avg(sumAgg(_)(_.graftRuleNs / 1e6)), ms),
      "plans.graft_rule_effective_ratio" -> m(avg { p =>
        val runs = sumAgg(p)(_.graftRuleRuns.toDouble)
        if (runs > 0) sumAgg(p)(_.graftRuleEffective.toDouble) / runs else 0.0
      }, "ratio"),
      "scheduler.jobs" -> m(avg(sumAgg(_)(_.jobs.toDouble)), "count"),
      "scheduler.stages" -> m(avg(sumAgg(_)(_.stages.toDouble)), "count"),
      "scheduler.tasks" -> m(avg(sumAgg(_)(_.tasks.toDouble)), "count"),
      "scheduler.floor_ms" -> m(avg(floorMs), ms),
      "scheduler.task_wait_ms" -> m(avg(sumAgg(_)(_.taskWaitMs.toDouble)), ms),
      "executor.run_ms" -> m(avg(sumAgg(_)(_.runMs.toDouble)), ms),
      "executor.cpu_ms" -> m(avg(sumAgg(_)(_.cpuNs / 1e6)), ms),
      "executor.gc_ms" -> m(avg(sumAgg(_)(_.gcMs.toDouble)), ms),
      "executor.busy_frac" -> m(avg { p =>
        val wall = opWallMs(p)
        if (wall > 0) sumAgg(p)(_.runMs.toDouble) / (wall * cores) else 0.0
      }, "ratio"),
      "executor.straggler_ratio" -> m(avg(straggler), "ratio"),
      "shuffle.write_bytes" -> m(avg(sumAgg(_)(_.shuffleWrite.toDouble)), "B"),
      "shuffle.read_bytes" -> m(avg(sumAgg(_)(_.shuffleRead.toDouble)), "B"),
      "shuffle.fetch_wait_ms" -> m(avg(sumAgg(_)(_.fetchWaitMs.toDouble)), ms),
      "spill.disk_bytes" -> m(avg(sumAgg(_)(_.spillDisk.toDouble)), "B"),
      "spill.memory_bytes" -> m(avg(sumAgg(_)(_.spillMemory.toDouble)), "B"),
      "scan.input_bytes" -> m(avg(sumAgg(_)(_.inputBytes.toDouble)), "B"),
      "scan.input_rows" -> m(avg(sumAgg(_)(_.inputRows.toDouble)), "count"),
      "output.bytes" -> m(avg(sumAgg(_)(_.outputBytes.toDouble)), "B"),
      "output.files" -> m(avg(fig(_, "output_files")), "count"),
      "table.append_ms" -> m(avg(spanMs(_, "Layout.snapshotAppend")), ms),
      "table.merge_ms" -> m(avg(spanMs(_, "Layout.snapshotMergeKeys")), ms),
      "table.delete_ms" -> m(avg(spanMs(_, "Layout.snapshotDeleteMORKeys")), ms),
      "table.maintain_ms" -> m(avg(spanMs(_, "Layout.snapshotMaintain")), ms),
      "table.scan_ms" -> m(avg(spanMs(_, "Layout.snapshotTable")), ms),
      "table.timetravel_ms" -> m(avg(spanMs(_, "Layout.readSnapshot")), ms),
      "table.lookup_ms" -> m(avg(spanMs(_, "Layout.snapshotPointLookup")), ms),
      "table.versions" -> m(avg(fig(_, "versions")), "count"),
      "table.live_files" -> m(avg(fig(_, "live_files")), "count"),
      "table.metadata_bytes" -> m(avg(fig(_, "metadata_bytes")), "B"),
      "table.lookup_scanned_file_ratio" ->
        m(avg(p => ratio(p.figures, "lookup_scanned_files", "lookup_total_files")), "ratio"),
      "relational.ms" -> m(avg(familyMs(_, "relational")), ms),
      "graph.ms" -> m(avg(familyMs(_, "graph")), ms),
      "dedup.ms" -> m(avg(familyMs(_, "dedup")), ms),
      "similarity.ms" -> m(avg(familyMs(_, "similarity")), ms),
      "text.ms" -> m(avg(familyMs(_, "text")), ms),
      "multimodal.ms" -> m(avg(familyMs(_, "multimodal")), ms),
      "curation.ms" -> m(avg(familyMs(_, "curation")), ms),
      "jvm.gc_ms" -> m(avg(_.gcMs), ms),
      "jvm.heap_peak_mb" -> m(avg(_.heapPeakMb), "MB"))
  }

  /** Writes the spans of the traced passes as JSON lines and prints each
    * layer's total and self time. Self time is a span's duration minus
    * the time its child spans cover. */
  def writeTrace(a: Args, ps: Seq[PassResult]): Unit = {
    val dir = new java.io.File(a.results)
    dir.mkdirs()
    val base = s"${a.workload}-seed${a.seed}"
    val out = new java.io.PrintWriter(new java.io.File(dir, s"$base.spans.jsonl"))
    // per layer: spans, total ms, self ms, and what Spark charged to the
    // layer's own job groups: jobs, tasks, planning ms, executor run ms
    val self = mutable.LinkedHashMap.empty[String, Array[Double]]
    try ps.foreach { p =>
      val children = p.spans.groupBy(_.parent)
      p.spans.foreach { s =>
        val selfMs = s.ms - children.getOrElse(s.id, Nil).map(_.ms).sum
        val layer = if (s.parent == 0) s"op:${s.layer}" else s.layer
        val agg = p.groups.get(s"pb-${s.id}")
        def of(f: SparkAgg => Long): Double = agg.map(f).getOrElse(0L).toDouble
        val row = self.getOrElseUpdate(layer, new Array[Double](7))
        Seq(1.0, s.ms, selfMs, of(_.jobs), of(_.tasks),
          of(a => a.analysisMs + a.optimizationMs + a.planningMs), of(_.runMs))
          .zipWithIndex.foreach { case (v, i) => row(i) += v }
        out.println(Mapper.writeValueAsString(obj(
          "pass" -> p.index, "span" -> s.id, "parent" -> s.parent,
          "op" -> s.op, "name" -> s.name, "layer" -> s.layer,
          "start_ns" -> s.startNs, "end_ns" -> s.endNs, "self_ms" -> selfMs,
          "jobs" -> of(_.jobs), "tasks" -> of(_.tasks),
          "plan_ms" -> of(a => a.analysisMs + a.optimizationMs + a.planningMs),
          "executor_run_ms" -> of(_.runMs))))
      }
    } finally out.close()
    val n = math.max(1, ps.size)
    val header = Seq("layer", "spans", "total_ms", "self_ms", "jobs", "tasks",
      "plan_ms", "exec_run_ms")
    val lines = Seq(s"per-layer self time, ${a.workload}, mean of $n traced passes",
      f"${header.head}%-20s" + header.tail.map(h => f"$h%12s").mkString) ++
      self.toSeq.sortBy(-_._2(2)).map { case (l, row) =>
        f"$l%-20s" + row.map(v => f"${v / n}%12.1f").mkString }
    val table = lines.mkString("\n")
    java.nio.file.Files.write(new java.io.File(dir, s"$base.layers.txt").toPath,
      (table + "\n").getBytes("UTF-8"))
    println(table)
  }

  /** Writes the record, result and span lines; Scala maps, sequences and
    * options become JSON objects, arrays and values or null. */
  val Mapper: JsonMapper = JsonMapper.builder().addModule(DefaultScalaModule).build()

  /** A JSON object whose keys keep their order. */
  def obj(fields: (String, Any)*): ListMap[String, Any] = ListMap(fields: _*)

  /** A metric value with its unit. */
  def m(value: Double, unit: String): (Double, String) = (value, unit)

  def probe(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(1L << 26).selectExpr("sum(id % 1000003)").collect()
    (System.nanoTime() - t0) / 1e9
  }

  def readQuietProbe(dir: String): Option[Double] = {
    val f = new java.io.File(s"$dir/probe.json")
    if (!f.exists()) None
    else Option(Mapper.readTree(f).get("quiet_probe_s")).map(_.asDouble())
  }

  def gcMs(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum.toDouble

  def peakRssMb(): Double = {
    val status = scala.io.Source.fromFile("/proc/self/status")
    try status.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN)
    finally status.close()
  }

  def ratio(f: Map[String, Double], num: String, den: String): Double = {
    val d = f.getOrElse(den, 0.0)
    if (d > 0) f.getOrElse(num, 0.0) / d else 0.0
  }

  def median(xs: scala.collection.Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The highest percentile with at least ten samples beyond it: returns
    * (percentile, value, samples beyond). Below twenty samples that
    * percentile would not reach the median, so the tail is the maximum,
    * with none beyond. */
  def tail(xs: scala.collection.Seq[Double]): (Double, Double, Int) =
    if (xs.isEmpty) (100.0, 0.0, 0)
    else if (xs.size < 20) (100.0, xs.max, 0)
    else {
      val s = xs.sorted
      val i = s.size - 11
      (100.0 * (i + 1) / s.size, s(i), s.size - 1 - i)
    }

  /** Total length of the union of [start, end) intervals, in ms. */
  def unionMs(xs: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    xs.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total.toDouble
  }
}
