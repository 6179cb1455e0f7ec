package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.Pin.Pinned

/** Iterative graph analytics over the purchase graph (SURVEY.md §2.2's
  * graph slot beyond d7/d8's connected components).
  *
  * The graph: customers and suppliers are nodes (disjoint id spaces via
  * 2k / 2k+1), one undirected edge per distinct (customer, supplier)
  * purchase relationship mined from orders ⋈ lineitem.
  */
object Graph {

  // ---------------------------------------------------------------- q74
  /** PageRank, FIXED-POINT INTEGER edition — [[Iters]] Jacobi iterations
    * of rank(u) ← base + 0.85·Σ_{v→u} rank(v)/outdeg(v) over the
    * undirected purchase graph, with every quantity held in integer
    * "rank micro-units" (total mass [[MassUnits]]) and every divide an
    * INTEGER divide.
    *
    * Why fixed-point: distributed double sums are ORDER-DEPENDENT — a
    * 1000-executor reduce and DuckDB's single-threaded fold would differ
    * in final ulps, and any rounding cut chosen for the oracle would
    * eventually land a value on a boundary. Integer addition is exactly
    * associative-commutative, so the oracle (10 unrolled CTE iterations of
    * the same integer arithmetic) matches bit-for-bit on ANY cluster
    * size / partitioning / reduce order. Production PageRank at 100 TB
    * accepts float drift; an oracle-gated one cannot — and the integer
    * formulation costs nothing (60 bits of headroom vs 52 mantissa bits).
    *
    * Scale design: d7's large-graph loop — one equi-join (ranks ⋈ the
    * degree-annotated edge table, pre-partitioned on src) + one
    * partial-aggregated groupBy transpose per iteration, localCheckpoint
    * each round to cut lineage and bound the plan the optimizer re-walks
    * (the fixed iteration count admits a single 10-deep lazy plan, but
    * A/B-measured on this corpus the chained-shuffle mega-plan is SLOWER
    * under AQE than materialized rounds — and at cluster scale an
    * uncheckpointed 10-join lineage re-executes everything on a single
    * lost executor, so the checkpoint is also the fault-tolerance
    * choice). Rank state is 16 bytes/node; the shuffles carry (node,
    * contrib) longs only. Symmetrized edges mean no dangling-mass
    * redistribution pass (every node has out- and in-edges), which is why
    * the bipartite graph is walked undirected.
    */
  val Iters = 10
  val MassUnits = 1000000000000L // 1e12 µ-units of rank mass
  val TopK = 20

  def q74PageRank(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables(spark, sfDir, "orders").select(col("o_orderkey"), col("o_custkey"))
    // NOT widened (round-19 A/B): the e0 join+distinct has only ~0.5 s of
    // CPU at sf0.1 while the widen exchange itself costs ~0.8 s of scan +
    // sort + write — measured q74 4.7 -> 7.4 s with it; q81's explode
    // (1.6 s+ CPU) is the shape that pays for widening, this one is not
    val l = Tables(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"))
    // pin e0 (round 18): the union below and the degree join reference the
    // (c, s) relation FOUR times — unpinned, each plan branch re-executed
    // the orders ⋈ lineitem join + distinct (measured: two ~730 ms twin
    // stages at sf0.1 for one ~5 MB relation)
    val e0 = o.join(l, col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("c"), (col("l_suppkey") * 2 + 1).as("s"))
      .distinct()
      .pin()
    val edges = e0.select(col("c").as("src"), col("s").as("dst"))
      .unionAll(e0.select(col("s").as("src"), col("c").as("dst")))
    val nPart = spark.sessionState.conf.numShufflePartitions
    // ed's pin width from MEASURED bytes at AQE's advisory size (round 18,
    // the labelClusters rule): a toy edge table pins to 1 partition — its
    // 10 per-iteration joins then run 1–2 tasks instead of 32 broadcast-
    // deserializing ones — while a big one fans out to the session width
    // and the iterations reuse the pinned layout instead of re-shuffling
    val advisory = math.max(1L, spark.sessionState.conf.getConf(
      org.apache.spark.sql.internal.SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES))
    val edW = graft.functions.partitionsForBytes(
      e0.queryExecution.optimizedPlan.stats.sizeInBytes, 3, advisory, nPart)
    val ed = edges
      .join(edges.groupBy("src").agg(count(lit(1)).as("outdeg")), "src")
      .repartition(edW, col("src"))
      .pin() // referenced by all 10 iterations — build once
    val nodes = ed.select(col("src").as("node")).distinct().pin()
    // n is the one driver-side scalar (a model parameter, like k-means'
    // centroids): the init/teleport constants must be literals in-plan.
    val n = nodes.count()
    val init = MassUnits / n
    val base = 15L * init / 100L
    var ranks = nodes.withColumn("rank", lit(init))
    for (i <- 1 to Iters) {
      ranks = ed.join(ranks, col("src") === col("node"))
        .select(col("dst"), expr("rank div outdeg").as("contrib"))
        .groupBy(col("dst"))
        .agg(sum(col("contrib")).as("mass"))
        .select(col("dst").as("node"),
          (lit(base) + expr("(85 * mass) div 100")).as("rank"))
      // checkpoint every SECOND iteration: the cut exists to bound lineage
      // (plan depth 2 costs Catalyst nothing), and each materialization is
      // a scheduled job — at 10 iterations the per-job floor, not the
      // shuffle, dominates, so halving the cuts halves the loop's fixed
      // cost while the shuffle volume is unchanged
      if (i % 2 == 0 || i == Iters) ranks = ranks.pin()
    }
    ranks.orderBy(col("rank").desc, col("node"))
      .limit(TopK)
      .select(col("node"), col("rank").as("rank_u"))
  }

  /** Oracle: the identical integer recurrence, iterations unrolled as
    * chained CTEs (portable — no recursive-CTE aggregation extension
    * needed). CASTs keep DuckDB's 128-bit sum() in BIGINT like Spark's. */
  val q74Sql: String = {
    val iters = (1 to Iters).map { k =>
      s"""it$k AS (SELECT node, (SELECT base FROM consts) + (85 * mass) // 100 AS rank
         |  FROM (SELECT ed.dst AS node, CAST(sum(it${k - 1}.rank // ed.outdeg) AS BIGINT) AS mass
         |        FROM it${k - 1} JOIN ed ON it${k - 1}.node = ed.src GROUP BY ed.dst))"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS (SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      |edges AS (SELECT c AS src, s AS dst FROM e0
      |          UNION ALL SELECT s AS src, c AS dst FROM e0),
      |deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
      |ed AS (SELECT edges.src, edges.dst, deg.outdeg
      |       FROM edges JOIN deg USING (src)),
      |nodes AS (SELECT DISTINCT src AS node FROM edges),
      |consts AS (SELECT $MassUnits // count(*) AS init,
      |                  (15 * ($MassUnits // count(*))) // 100 AS base
      |           FROM nodes),
      |it0 AS (SELECT node, (SELECT init FROM consts) AS rank FROM nodes),
      |$iters
      |SELECT node, rank AS rank_u FROM it$Iters
      |ORDER BY rank_u DESC, node LIMIT $TopK""".stripMargin
  }

  // ---------------------------------------------------------------- q76
  /** Multi-source BFS hop distance — the FRONTIER-EXPANSION graph pattern
    * (CC = label propagation to fixpoint, PageRank = fixed-iteration mass
    * flow; this is the third loop shape: bounded-depth reachability).
    * Seeds: every third supplier (s_suppkey % 3 = 0 — nation keys are
    * too sparse at sf0.001 to seed reliably); output: every node within
    * [[MaxHops]] hops of any seed, with its exact hop distance. The oracle
    * is the unrolled Bellman-Ford CTE — equivalent because with unit edge
    * weights a node's first-reach round IS its min hop distance, so
    * "first reach at round h ⇒ dist = h" and settled nodes can never be
    * improved (anything generated in round h has dist h > their dist).
    *
    * 100 TB: FRONTIER-DELTA loop — each round joins the edge table
    * (pre-partitioned on src, the q74 table shape) against only the nodes
    * FIRST REACHED last round, never the full reached set; on a dense
    * purchase graph most nodes are reached by hop 2, so later rounds
    * would otherwise redo the largest joins for nothing (round 5's
    * measured r3 frontier here is ~1% of |reached|). The frontier carries
    * bare node ids (dist is the round literal, stamped after), the
    * anti-join that subtracts already-reached nodes is the only operation
    * that touches the reached set, and the loop exits early once the
    * frontier drains — the fixed hop bound is a cap, not a cost floor.
    * Unreached nodes never enter any shuffle (the CC contrast), and
    * settled nodes never re-enter the edge join (the Bellman-Ford
    * contrast).
    */
  val MaxHops = 4

  def q76BfsHops(spark: SparkSession, sfDir: String): DataFrame = {
    val s = Tables(spark, sfDir, "supplier")
      .filter(col("s_suppkey") % 3 === 0)
      .select((col("s_suppkey") * 2 + 1).as("node")).distinct()
    val o = Tables(spark, sfDir, "orders").select(col("o_orderkey"), col("o_custkey"))
    val l = Tables(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey")) // see q74's widen note
    // pin e0 + measured-bytes ed width — q74's rationale verbatim
    val e0 = o.join(l, col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("c"), (col("l_suppkey") * 2 + 1).as("s"))
      .distinct()
      .pin()
    val edges = e0.select(col("c").as("src"), col("s").as("dst"))
      .unionAll(e0.select(col("s").as("src"), col("c").as("dst")))
    val nPart = spark.sessionState.conf.numShufflePartitions
    val advisory = math.max(1L, spark.sessionState.conf.getConf(
      org.apache.spark.sql.internal.SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES))
    val edW = graft.functions.partitionsForBytes(
      e0.queryExecution.optimizedPlan.stats.sizeInBytes, 2, advisory, nPart)
    val ed = edges.repartition(edW, col("src")).pin()
    // Each round's frontier is checkpointed ONCE (it feeds two consumers:
    // the next edge join and the final union); the cumulative reached set
    // stays a LAZY union of those checkpoint roots — re-materializing it
    // per round (the round-6 form) paid an extra job over ever-growing
    // data for nothing, since every leaf below the union is already a
    // checkpoint and the lineage depth is bounded by MaxHops.
    // FUSED FRONTIER COUNT (round 19, guide §2.4 — labelClusters'
    // pinSummed, the count edition): the drained-frontier check rides the
    // pin's own materialization job via observe() instead of a separate
    // isEmpty job per hop; on observation timeout fall back to isEmpty
    // (same predicate over the same pinned rows).
    def pinCounted(df: DataFrame): (DataFrame, Boolean) = {
      val o = org.apache.spark.sql.Observation()
      val pinned = df.observe(o, count(lit(1)).as("n")).pin()
      graft.functions.observedOrNone(o) match {
        case Some(m) => (pinned, m.getOrElse("n", 1L) == 0L)
        case None => (pinned, pinned.isEmpty)
      }
    }
    var (frontier, drained) = pinCounted(s) // nodes first reached last round
    val frontiers = scala.collection.mutable.ListBuffer((frontier, 0L))
    var reachedNodes = frontier // ids only, lazy union of checkpoints
    var h = 1
    while (h <= MaxHops && !drained) {
      val (f, d) = pinCounted(ed.join(frontier, col("src") === col("node"))
        .select(col("dst").as("node")).distinct()
        .join(reachedNodes, Seq("node"), "left_anti"))
      frontier = f
      drained = d
      frontiers += ((frontier, h.toLong))
      reachedNodes = reachedNodes.unionAll(frontier)
      h += 1
    }
    frontiers.map { case (f, d) => f.withColumn("dist", lit(d)) }
      .reduce(_ unionAll _)
      .orderBy(col("node"))
  }

  val q76Sql: String = {
    val hops = (1 to MaxHops).map { h =>
      s"""h$h AS (SELECT node, min(dist) AS dist FROM (
         |  SELECT node, dist FROM h${h - 1}
         |  UNION ALL
         |  SELECT e.dst AS node, r.dist + 1 AS dist
         |  FROM h${h - 1} r JOIN ed e ON r.node = e.src) GROUP BY node)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS (SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      |ed AS (SELECT c AS src, s AS dst FROM e0
      |       UNION ALL SELECT s AS src, c AS dst FROM e0),
      |h0 AS (SELECT DISTINCT s_suppkey * 2 + 1 AS node, CAST(0 AS BIGINT) AS dist
      |       FROM supplier WHERE s_suppkey % 3 = 0),
      |$hops
      |SELECT node, dist FROM h$MaxHops ORDER BY node""".stripMargin
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q74_pagerank" -> (q74PageRank _),
    "q76_bfs_hops" -> (q76BfsHops _))

  val sql: Map[String, String] = Map(
    "q74_pagerank" -> q74Sql,
    "q76_bfs_hops" -> q76Sql)
}
