package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions._
import graft.ops.Pin
import graft.ops.Pin.Pinned

/** Deduplication operators over `documents` (SURVEY.md §2.3).
  *
  * Scale story (100 TB): every near-dup operator avoids the O(n²) pair
  * space by candidate *blocking* — LSH band buckets (d2), SimHash block
  * pigeonholing (d3), token-count bands (d4) — so shuffle volume is
  * O(n·blocks) and exact verification runs only inside buckets. The DuckDB
  * oracles recompute the same portable arithmetic (see graft.functions);
  * where the oracle brute-forces all pairs instead (d2), the blocking is
  * provably/overwhelmingly lossless at the operating threshold.
  */
object Dedup {

  // ---------------------------------------------------------------- d1
  /** Exact dedup by content hash. The corpus is run against a doubled copy
    * of itself (ids shifted by 1e6) so the grouping does real work: each
    * text keeps its minimum doc_id and reports its multiplicity.
    * 100 TB: groupBy on md5(text) — the shuffle carries a 32-char key, not
    * the document; within-group min/count are partial-aggregated map-side.
    */
  def d1ExactDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables(spark, sfDir, "documents").select(col("doc_id"), col("text"))
    val corpus = docs.unionAll(
      docs.select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    corpus
      .groupBy(md5(col("text").cast("binary")).as("text_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("n_copies"), col("text_hash"))
      .orderBy(col("keep_id"))
  }

  val d1Sql: String =
    """SELECT keep_id, n_copies, text_hash FROM (
      |  SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS n_copies
      |  FROM (SELECT doc_id, text FROM documents
      |        UNION ALL SELECT doc_id + 1000000, text FROM documents)
      |  GROUP BY md5(text))
      |ORDER BY keep_id""".stripMargin

  // ---------------------------------------------------------------- d2
  /** MinHash + LSH near-dup pairs.
    * Pipeline: shingle → 128-perm MinHash → 32 bands × 4 rows → bucket
    * self-join → exact-Jaccard verify ≥ 0.8.
    * The oracle brute-forces exact Jaccard ≥ 0.8 over all pairs; at the
    * corpus's planted similarity (J ≥ 0.97) the probability LSH misses a
    * qualifying pair is (1 − 0.97⁴)³² ≈ 1e−30, and false candidates are
    * removed by the exact verify — so both sides agree.
    */
  val MinHashPerms = 128
  val Bands = 32
  val RowsPerBand = 4

  /** The per-document signature table — (doc_id, sh, mh): shingle hashes +
    * 128-perm MinHash, materialized ONCE (localCheckpoint). The bands
    * self-join and both array join-backs would otherwise recompute
    * shingles+minhash per plan branch (4 scans in the naive plan). At
    * cluster scale this is the signature table a real pipeline persists;
    * d2, d11 and the flagship curation all feed from ONE build of it.
    */
  private[graft] def signatures(spark: SparkSession, sfDir: String): DataFrame =
    // widen BEFORE the shingle+128-perm MinHash compute (10³+ ops/byte):
    // scan width tracks input bytes, not the hash work per byte.
    // FLAT width on purpose (round-19 A/B): byte-scaling this site made
    // d12 0.78 -> 1.07-1.83 s — the 128-perm pass is multi-second CPU
    // even on the sf0.1 corpus, edit-family class
    widen(Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("text")))
      .select(col("doc_id"), shingleHashes(col("text")).as("sh"))
      .withColumn("mh", minHashSignature(col("sh"), MinHashPerms))
      .pin()

  def d2MinHashLsh(spark: SparkSession, sfDir: String): DataFrame =
    d2PairsFromSignatures(signatures(spark, sfDir))
      .orderBy(col("i"), col("j"))

  /** (doc_id, band, sig) rows — one per LSH band — from a (doc_id, mh)
    * signature frame; the band equi-join key shared by d2's self-join and
    * d16's batch-vs-corpus probe. Band signature = the [[RowsPerBand]]
    * minhash values folded into one long (prime combine). A fold collision
    * only ever ADDS a candidate pair — d2's exact verify (or d12's
    * estimate filter) removes it — so the 8-byte join key is safe and
    * shuffles ~5x less than the concat-string signature.
    */
  private def bandSignatures(withSig: DataFrame): DataFrame =
    withSig.select(col("doc_id"),
        posexplode(transform(sequence(lit(0), lit(Bands - 1)), b =>
          aggregate(slice(col("mh"), b * RowsPerBand + 1, lit(RowsPerBand)),
            lit(0L), (acc, x) => (acc * ShingleBase + x) % P))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "sig")

  private def bandCandidates(withSig: DataFrame): DataFrame = {
    val bands = bandSignatures(withSig)
    bands.alias("x").join(bands.alias("y"),
        col("x.band") === col("y.band") && col("x.sig") === col("y.sig") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("i"), col("y.doc_id").as("j"))
      .distinct()
  }

  /** d2's core on a prebuilt (doc_id, sh, mh) signature frame — the input
    * must already be materialized (checkpointed); every plan branch here
    * re-reads it. Returns UNORDERED (i, j, jaccard).
    */
  private[graft] def d2PairsFromSignatures(withSig: DataFrame): DataFrame = {
    val docs = withSig.select(col("doc_id"), col("sh"))
    val cand = bandCandidates(withSig)
    cand
      .join(docs.select(col("doc_id").as("i"), col("sh").as("sh_i")), Seq("i"))
      .join(docs.select(col("doc_id").as("j"), col("sh").as("sh_j")), Seq("j"))
      .withColumn("jac",
        size(array_intersect(col("sh_i"), col("sh_j"))).cast("double") /
          size(array_union(col("sh_i"), col("sh_j"))))
      .filter(col("jac") >= 0.8)
      .select(col("i"), col("j"), round(col("jac"), 6).as("jaccard"))
  }

  val d2Sql: String = {
    val ths = sqlTokenHashes("text")
    s"""SELECT a.doc_id AS i, b.doc_id AS j,
      |  round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |        / len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
      |FROM (SELECT doc_id, ${sqlShingles("ths")} AS sh
      |      FROM (SELECT doc_id, $ths AS ths FROM documents)) a
      |JOIN (SELECT doc_id, ${sqlShingles("ths")} AS sh
      |      FROM (SELECT doc_id, $ths AS ths FROM documents)) b
      |  ON a.doc_id < b.doc_id
      |WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |      / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8
      |ORDER BY i, j""".stripMargin
  }

  // ---------------------------------------------------------------- d3
  /** SimHash near-dup pairs: 48-bit signature over token hashes, pairs at
    * hamming ≤ 3. Candidates come from pigeonholing the 48 bits into 4
    * blocks of 12 — hamming ≤ 3 guarantees at least one identical block,
    * so the blocking is *exactly* lossless (the oracle brute-forces).
    *
    * STREAM-BOUND (round 17, the last family member converted): the
    * former block-join → candidate `.distinct()` shape shuffled the
    * candidate MULTISET with the 48-element bit arrays riding every row —
    * under band saturation (30-word vocab ⇒ near-dup text clusters share
    * whole 12-bit blocks, postings lists ~n/4096) that multiset is
    * ~quadratic and the sf10 rung measured it at 641 s of spill-bound
    * survival. Now the per-doc state is two packed columns — `sigs`
    * (4×12-bit block signatures, exact fold) and `w` (all 48 bits in one
    * long) — riding the O(n·4·G) bucket rows inline; a pair emits
    * EXACTLY ONCE at its FIRST shared block (codegen'd
    * [[graft.functions.PrefixCollideExpr]] over the carried `sigs`, the
    * d5/d14 rule), the hamming verifies on the join stream as one
    * `bit_count(xor)` over the packed words, and the only pair-level
    * shuffle left is the output-sized orderBy. Dense (blk, sig) buckets
    * parallelize across the G×G upper-triangular skew grid of
    * [[graft.functions.blockedPairs]] — one saturated block key becomes
    * ~G²/2 independent join cells instead of a single-task straggler. The
    * candidate SET (pairs sharing ≥1 block, i < j) and the hamming
    * integer are unchanged, so the output is bit-identical.
    */
  val SimHashBitsN = 48
  val SimHashBlocks = 4
  val HammingMax = 3

  def d3SimHash(spark: SparkSession, sfDir: String): DataFrame = {
    val blockLen = SimHashBitsN / SimHashBlocks
    // widen before the 48-bit-per-token SimHash fold (byte-scaled,
    // see [[widen]])
    val docs = widen(Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("text")), DefaultWidenAmp)
      .select(col("doc_id"), simHashBits(col("text"), SimHashBitsN).as("bits"))
      // Pack each 12-bit block into a long (fold acc*2+bit — exact, so
      // block equality is preserved bit-for-bit, unlike a lossy hash),
      // and the full 48 bits into one word for the xor-popcount verify.
      .select(col("doc_id"),
        transform(sequence(lit(0), lit(SimHashBlocks - 1)), k =>
          aggregate(slice(col("bits"), k * blockLen + 1, lit(blockLen)),
            lit(0L), (acc, x) => acc * 2 + x)).as("sigs"),
        aggregate(col("bits"), lit(0L), (acc, x) => acc * 2 + x).as("w"))
    blockedPairs(docs, "doc_id", "sigs", Seq("w"))
      .withColumn("hamming",
        bit_count(col("pi.w").bitwiseXOR(col("pj.w"))).cast("long"))
      .filter(col("hamming") <= HammingMax)
      .select(col("i"), col("j"), col("hamming"))
      .orderBy(col("i"), col("j"))
  }

  val d3Sql: String = {
    val ths = sqlTokenHashes("text")
    val bits =
      s"""[CASE WHEN list_reduce(list_prepend(CAST(0 AS BIGINT),
         |  list_transform(ths, h -> 2 * (((h * ((j*1099511628211 + 3) % $P)
         |    + (j*2654435761 + 7) % $P) % $P) % 2) - 1)),
         |  (a, x) -> a + x) >= 0 THEN 1 ELSE 0 END
         | for j in range($SimHashBitsN)]""".stripMargin.replaceAll("\n", " ")
    s"""SELECT a.doc_id AS i, b.doc_id AS j,
      |  CAST(list_sum([CASE WHEN a.bits[k+1] = b.bits[k+1] THEN 0 ELSE 1 END
      |                 for k in range($SimHashBitsN)]) AS BIGINT) AS hamming
      |FROM (SELECT doc_id, $bits AS bits
      |      FROM (SELECT doc_id, $ths AS ths FROM documents)) a
      |JOIN (SELECT doc_id, $bits AS bits
      |      FROM (SELECT doc_id, $ths AS ths FROM documents)) b
      |  ON a.doc_id < b.doc_id
      |WHERE list_sum([CASE WHEN a.bits[k+1] = b.bits[k+1] THEN 0 ELSE 1 END
      |               for k in range($SimHashBitsN)]) <= $HammingMax
      |ORDER BY i, j""".stripMargin
  }

  // ---------------------------------------------------------------- d4
  /** N-gram Jaccard near-dup pairs on the distinct *hashed* shingle sets
    * (portable mod-P shingle hashes — BOTH engines compute jaccard over
    * the identical hash sets, so the oracle gate is exact by construction
    * rather than modulo hash injectivity), with
    * prefix-filter blocking: candidates must share one of their two
    * smallest shingle *hashes* (deterministic blocking keys — for a random
    * hash family, a J≥0.8 pair shares the global minimum with prob ≥ J, and
    * one of the two smallest with prob ≈ 1−(1−J)²). Length banding is
    * useless on a uniform-length corpus (every doc lands in 2–3 bands →
    * O(n²) candidates); min-hash prefix keys keep buckets tiny. The oracle
    * applies the identical blocking, so results match exactly.
    */
  def d4NgramJaccard(spark: SparkSession, sfDir: String): DataFrame = {
    // STREAM-BOUND (round 16): the ids-distinct-then-join-back shape
    // died at the sf10 rung — under shingle saturation the 2-smallest-
    // hash buckets are the corpus' hottest postings lists and the
    // candidate distinct shuffles ~quadratically. Now the SORTED HASH
    // shingle arrays ride the bucket rows inline (the string arrays
    // were only ever counted — intersect/union sizes over the distinct
    // hash sets are the same integers), the jaccard verifies on the
    // join stream via the codegen'd merge scan, and a pair emits
    // exactly once at the SMALLER of its shared blocking keys.
    val docs = Tables(spark, sfDir, "documents")
      .select(col("doc_id"),
        array_sort(shingleHashes(col("text"))).as("sh"))
      .withColumn("keys", slice(col("sh"), 1, 2))
      .withColumn("n", size(col("sh")))
      .pin()
    val side = docs.select(col("doc_id"), col("sh"), col("keys"), col("n"),
      explode(col("keys")).as("key"))
    side.alias("x").hint("shuffle_hash").join(side.alias("y"), Seq("key"))
      .filter(col("x.doc_id") < col("y.doc_id") &&
        sortedIntersectHead(col("x.keys"), col("y.keys")) === col("key"))
      .withColumn("ninter", sortedIntersectCount(col("x.sh"), col("y.sh")))
      .withColumn("jac", col("ninter").cast("double") /
        (col("x.n") + col("y.n") - col("ninter")).cast("double"))
      .filter(col("jac") >= 0.8)
      .select(col("x.doc_id").as("i"), col("y.doc_id").as("j"),
        round(col("jac"), 6).as("jaccard"))
      .orderBy(col("i"), col("j"))
  }

  val d4Sql: String = {
    val ths = sqlTokenHashes("text")
    // sh = the distinct HASHED shingle set (same sqlShingles family as
    // d10Sql/d23Sql) — the engine verifies over sorted hash arrays, and
    // an oracle that re-derived string shingles would disagree with it
    // on any corpus where two co-occurring shingles hash-collide.
    val docsSub =
      s"""SELECT doc_id,
         | ${sqlShingles("ths")} AS sh,
         | list_sort(${sqlShingles("ths")})[1:2] AS keys
         |FROM (SELECT doc_id, $ths AS ths FROM documents)"""
        .stripMargin.replaceAll("\n", " ")
    s"""SELECT i, j,
      |  round(CAST(len(list_intersect(sh_i, sh_j)) AS DOUBLE)
      |        / len(list_distinct(list_concat(sh_i, sh_j))), 6) AS jaccard
      |FROM (
      |  SELECT DISTINCT a.doc_id AS i, b.doc_id AS j, a.sh AS sh_i, b.sh AS sh_j
      |  FROM (SELECT doc_id, sh, unnest(keys) AS key FROM ($docsSub)) a
      |  JOIN (SELECT doc_id, sh, unnest(keys) AS key FROM ($docsSub)) b
      |    ON a.key = b.key AND a.doc_id < b.doc_id)
      |WHERE CAST(len(list_intersect(sh_i, sh_j)) AS DOUBLE)
      |      / len(list_distinct(list_concat(sh_i, sh_j))) >= 0.8
      |ORDER BY i, j""".stripMargin
  }

  // ---------------------------------------------------------------- d5
  /** Embedding-cosine near-dup pairs (cos ≥ 0.4), hyperplane-bucket blocked.
    * Candidate pairs = vectors sharing a random-hyperplane LSH bucket in any
    * of NTables tables (OR-amplified, same plane family as s2_ann_lsh);
    * exact cosine verifies inside buckets only. The oracle mirrors the
    * bucket predicate with the identical portable plane arithmetic, so the
    * two engines agree exactly — the operator's contract IS the blocked
    * semantics (recall tunes with NTables/PlanesPerTable; at real near-dup
    * thresholds (cos ≥ 0.9) 12×4 blocking is overwhelmingly lossless).
    * 100 TB: the pair space is never materialized — candidates come from an
    * equi-join on (table, bucket) carrying ids only; payload vectors join
    * back AFTER an id-level distinct, so wide rows never enter the shuffle.
    * Candidate volume per table is O(n²/2^planes): with FIXED planes that
    * is still quadratic in n, so a production deployment scales planes ≈
    * log₂(n / target-bucket-size) (adding tables to hold recall) — the
    * plane count is fixed here only so the DuckDB oracle stays a static
    * SQL string. Dot products fold sequentially in index order on both
    * engines, so doubles agree bitwise.
    */
  val CosineThreshold = 0.4
  val D5Tables = 12
  val D5Planes = 4
  val D5Dim = 64

  def d5EmbeddingDedup(spark: SparkSession, sfDir: String): DataFrame = {
    // the production plane-count knob (≈ log₂(n/bucket-target)), shared
    // with s2/s6; the static oracle pins the defaults, LshKnobSpec proves
    // a non-default geometry keeps the subset+recall properties
    val nT = confInt(spark, graft.similarity.Similarity.TablesConf, D5Tables)
    val nP = confInt(spark, graft.similarity.Similarity.PlanesConf, D5Planes)
    // Norms are computed once per vector (not per pair) — both engines then
    // evaluate cos = dot / (norm_a · norm_b) with identical float steps.
    // widen straight off the scan so the norm AND the bucket compute
    // downstream parallelize (see [[widen]])
    val e = widen(Tables(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v")),
      DefaultWidenAmp)
      .withColumn("norm", sqrt(dot(col("v"), col("v"))))
    hyperplanePairJoin(e, nT, nP, D5Dim, Seq("v", "norm"))
      .withColumn("cos", dot(col("pi.v"), col("pj.v")) /
        (col("pi.norm") * col("pj.norm")))
      .filter(col("cos") >= CosineThreshold)
      .select(col("i"), col("j"), round(col("cos"), 6).as("cos"))
      .orderBy(col("i"), col("j"))
  }

  /** OR-amplified hyperplane-bucket PAIR JOIN (i < j, each colliding pair
    * emitted EXACTLY ONCE, at its first colliding table) over a
    * (vec_id, v, …) frame of `dim`-d vectors — d5's blocking, shared with
    * d14 and s15's kNN graph. Returns [[graft.functions.blockedPairs]]'
    * (i, j, pi, pj) over the per-table bucket vector. The candidate SET
    * is the OR-amplified bucket collisions; the production escape for
    * data whose qualifying pairs are themselves quadratic is the per-doc
    * form (d12's estimate gate, d20's degree-bounded kNN clusters).
    */
  private[graft] def hyperplanePairJoin(e: DataFrame, nT: Int, nP: Int,
      dim: Int, payload: Seq[String]): DataFrame =
    blockedPairs(e.withColumn("bs", array((0 until nT).map(t =>
        hyperplaneBucket(col("v"), nP, dim, t * nP)): _*)),
      "vec_id", "bs", payload)

  val d5Sql: String =
    s"""WITH e AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS norm
      |           FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)),
      |eb AS (SELECT vec_id, generate_subscripts(tb, 1) - 1 AS t, unnest(tb) AS bucket
      |       FROM (SELECT vec_id, ${sqlHyperplaneBuckets("v", D5Tables, D5Planes, D5Dim)} AS tb
      |             FROM e)),
      |pairs AS (SELECT DISTINCT a.vec_id AS i, b.vec_id AS j
      |          FROM eb a JOIN eb b
      |            ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id)
      |SELECT i, j,
      |  round(list_dot_product(ea.v, eb2.v) / (ea.norm * eb2.norm), 6) AS cos
      |FROM pairs JOIN e ea ON ea.vec_id = i JOIN e eb2 ON eb2.vec_id = j
      |WHERE list_dot_product(ea.v, eb2.v) / (ea.norm * eb2.norm) >= $CosineThreshold
      |ORDER BY i, j""".stripMargin


  // ---------------------------------------------------------------- d6
  /** Scoped dedup: exact dedup WITHIN each source (a corpus mixed from many
    * crawls often dedups per-provenance before global passes). Same hash
    * grouping as d1, keyed by (source, digest) — the shuffle key gains the
    * scope column and nothing else changes, which is the point: scoping a
    * dedup is free at any scale.
    */
  def d6ScopedDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("source"), col("text"))
    val corpus = docs.unionAll(docs
      .select((col("doc_id") + 1000000L).as("doc_id"), col("source"), col("text")))
    corpus
      .groupBy(col("source"), md5(col("text").cast("binary")).as("h"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_unique"),
        sum(col("n_copies")).as("n_total"),
        min(col("keep_id")).as("first_keep"))
      .orderBy(col("source"))
  }

  val d6Sql: String =
    """SELECT source, count(*) AS n_unique, CAST(sum(n_copies) AS BIGINT) AS n_total,
      |  min(keep_id) AS first_keep
      |FROM (
      |  SELECT source, md5(text) AS h, min(doc_id) AS keep_id,
      |    count(*) AS n_copies
      |  FROM (SELECT doc_id, source, text FROM documents
      |        UNION ALL SELECT doc_id + 1000000, source, text FROM documents)
      |  GROUP BY source, md5(text))
      |GROUP BY source ORDER BY source""".stripMargin


  // ---------------------------------------------------------------- d7
  /** Near-dup CLUSTER resolution: the d2 pair list turned into connected
    * components (min-doc_id label per component) — the step that converts
    * pairwise similarity into an actionable keep/drop set when dup chains
    * overlap (a~b, b~c ⇒ one cluster {a,b,c}, keep a).
    * Spark side: [[labelClusters]] — union-find on the driver while the
    * pinned pair list fits the broadcast threshold, else iterative
    * min-label propagation over the symmetric edge list (each round:
    * label = min(own, neighbors'); converges in O(component diameter)
    * rounds — at 100 TB the standard large-graph CC loop, one join+agg
    * per round). The oracle computes the same components with a
    * recursive-CTE transitive closure.
    */
  /** Shared CC engine over an undirected (i, j) pair list of integral
    * ids. Returns (<idCol>, cluster, is_kept) for every node with at
    * least one edge, ordered by <idCol>, cluster = the component's min id.
    *
    * SIZE RULE: the pairs are pinned first, and the pin measures their
    * size without a job. When that size is at most
    * `spark.sql.autoBroadcastJoinThreshold` (≥ 0), the pairs are
    * collected once and solved on the driver by union-find
    * ([[componentsOnDriver]]) — 2 jobs per call, the pin and the collect.
    * That is the same rule under which the loop below would broadcast the
    * whole label set through the driver every round anyway. Above it (or
    * with the threshold at -1) runs iterative min-label propagation: one
    * join+agg per round, a pin to truncate the growing lineage, the
    * round's label sum as the only driver-side state — the standard
    * large-graph CC loop, about 3 AQE jobs per round (the broadcast, the
    * shuffle-map stage and the pin's result job), counted in [[ccRounds]].
    */
  private[graft] def labelClusters(pairs: DataFrame, idCol: String,
      maxRounds: Int = 50): DataFrame = {
    val p = pairs.pin()
    val threshold = p.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    if (threshold >= 0 &&
        p.queryExecution.optimizedPlan.stats.sizeInBytes <= threshold) {
      val solved = componentsOnDriver(p, idCol)
      if (solved.isDefined) { Pin.unpin(p); return solved.get }
    }
    val nPart = p.sparkSession.sessionState.conf.numShufflePartitions
    // ROUND-18 SHUFFLE REUSE (guide §2.4): the edge list — the loop's only
    // O(n·k) frame — is hash-partitioned on the probe key ONCE and pinned
    // (a localCheckpoint preserves outputPartitioning). Every round's
    // labels side arrives hash-partitioned on the SAME key by construction
    // (each round's output is keyed by idCol through the agg), so when
    // the labels side is too big to broadcast the per-round probe join
    // plans with ZERO exchanges on the edge list — before, the edges
    // re-shuffled every round, the d8-family's dominant sf10 term.
    // No join hints: the pins carry MEASURED stats, so the planner
    // broadcasts the labels side while it provably fits (the toy-scale
    // fast path, keeps rounds down to 2 stages) and falls back to the
    // co-partitioned merge join — with the edge exchange already paid —
    // when it doesn't. The one exchange left per round is the groupBy
    // transpose, inherent to propagating labels along edges.
    // SELF-LOOP FUSION (round 19, guide §2.4 — remove a join outright):
    // append one (v, v) edge per node, so each round's new label is
    // min(own, neighbors') from the SINGLE edge join. Convergence
    // compares Σ cluster between rounds: labels are monotonically
    // non-increasing per node under min-propagation, so the sum is
    // strictly decreasing until the fixed point — equal sums ⟺ zero
    // changed labels (summed exactly in DECIMAL(38,0); a bigint sum could
    // wrap and false-converge).
    val edgesSym = p.unionAll(p.select(col("j").as("i"), col("i").as("j")))
    val edgesRaw = edgesSym.unionAll(edgesSym.select(col("i")).distinct()
      .select(col("i"), col("i").as("j")))
    // Partition count from the MEASURED pair bytes (the pin's stats), at
    // AQE's own advisory partition size — NOT a flat numShufflePartitions:
    // a toy edge list stays at 1–2 partitions (measured: 32 partitions ×
    // ~10 rounds of ~120 ms fixed per-task cost added ~2 s at sf0.1,
    // where AQE had coalesced the same loop to 2 tasks/round), a big one
    // fans out to the session width. Same sizing rule AQE applies to its
    // coalesced exchanges, applied to the pinned layout.
    val advisory = math.max(1L, p.sparkSession.sessionState.conf.getConf(
      org.apache.spark.sql.internal.SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES))
    val nEdge = partitionsForBytes(
      p.queryExecution.optimizedPlan.stats.sizeInBytes, 2, advisory, nPart)
    val edges = edgesRaw.repartition(nEdge, col("j")).pin()
    // the pinned edges fully subsume the pinned pairs (round-18 advice:
    // keeping both resident paid ~3× pair bytes of pinned blocks) —
    // release the pair blocks now; every downstream frame reads `edges`
    Pin.unpin(p)
    val nodes = edges.filter(col("i") === col("j")) // exactly the node set
      .select(col("i").as(idCol))
    // FUSED CONVERGENCE SUM (round 19, guide §2.4): the per-round Σ cluster
    // rides the pin's own materialization job via observe() instead of a
    // second job over the pinned rows — same aggregate over the same rows,
    // so the value is identical whichever path delivers it; on observation
    // timeout fall back to that second job (see
    // [[graft.functions.observedOrNone]]). About 3 AQE jobs per round: the
    // labels' broadcast, the transpose's shuffle-map stage and this pin's
    // result job — which is why small edge lists skip the loop entirely.
    def pinSummed(df: DataFrame): (DataFrame, Option[Any]) = {
      val o = org.apache.spark.sql.Observation()
      val pinned = df
        .observe(o, sum(col("cluster").cast("decimal(38,0)")).as("s"))
        .pin()
      val s = graft.functions.observedOrNone(o) match {
        case Some(m) => m.getOrElse("s", null)
        case None =>
          pinned.agg(sum(col("cluster").cast("decimal(38,0)"))).first().get(0)
      }
      (pinned, Option(s))
    }
    var (labels, prevSum) = pinSummed(nodes.withColumn("cluster", col(idCol)))
    var converged = false
    var rounds = 0
    while (!converged && rounds < maxRounds) {
      // one join + one transpose per round; self-loops carry own labels.
      // Plain min-propagation (no pointer doubling): near-dup components
      // are SHALLOW in practice (dup chains, not long paths), so the
      // O(diameter) rounds stay small and the extra label-of-label join a
      // pointer-doubling variant needs per round costs more than the
      // rounds it saves (measured: d8 5.7 s → 6.1 s at sf0.1).
      val (next, s) = pinSummed(edges
        .join(labels.withColumnRenamed(idCol, "j_id"),
          col("j") === col("j_id"))
        .groupBy(col("i").as(idCol))
        .agg(min(col("cluster")).as("cluster")))
      // superseded per-round label pins are released as soon as the next
      // round's pin materializes — without this the loop holds rounds×
      // the label bytes resident (O(n) rows per round at the sf10 rung)
      Pin.unpin(labels)
      labels = next
      converged = s == prevSum
      prevSum = s
      rounds += 1
      ccRounds.incrementAndGet()
    }
    // the oracle computes the FULL transitive closure — returning
    // non-converged labels would surface as an opaque hash mismatch
    require(converged,
      s"labelClusters: label propagation did not converge in $rounds rounds " +
        "(component diameter exceeds the cap — raise the round limit)")
    labels
      .withColumn("is_kept", (col(idCol) === col("cluster")).cast("int"))
      .orderBy(col(idCol))
  }

  /** Loop rounds run by [[labelClusters]]' propagation loop (a driver
    * solve adds none) — the CC decision of each call, recorded. */
  private[graft] val ccRounds = new java.util.concurrent.atomic.AtomicLong(0)

  /** Driver-side CC of the pinned pair list `p`: one collect, then
    * union-find over primitive arrays — the sorted distinct ids and one
    * int parent per id, each root the smallest index (= the min id) of
    * its component. Rows come out in id order, ids in their original
    * type. None (the caller runs the loop) when an id is null.
    */
  private def componentsOnDriver(p: DataFrame, idCol: String): Option[DataFrame] = {
    val rows = p.select(col("i").cast("long"), col("j").cast("long")).collect()
    if (rows.exists(r => r.isNullAt(0) || r.isNullAt(1))) return None
    val ends = rows.flatMap(r => Array(r.getLong(0), r.getLong(1)))
    val ids = {
      val s = ends.clone()
      java.util.Arrays.sort(s)
      var n = 0
      s.indices.foreach { k => if (n == 0 || s(k) != s(n - 1)) { s(n) = s(k); n += 1 } }
      java.util.Arrays.copyOf(s, n)
    }
    val parent = Array.range(0, ids.length)
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    def index(id: Long): Int = java.util.Arrays.binarySearch(ids, id)
    rows.indices.foreach { k =>
      val a = find(index(ends(2 * k)))
      val b = find(index(ends(2 * k + 1)))
      parent(math.max(a, b)) = math.min(a, b)
    }
    val labels = ids.indices.map { k =>
      val root = find(k)
      (ids(k), ids(root), if (root == k) 1 else 0)
    }
    val t = p.schema("i").dataType
    Some(p.sparkSession.createDataFrame(labels).toDF(idCol, "cluster", "is_kept")
      .select(col(idCol).cast(t).as(idCol), col("cluster").cast(t).as("cluster"),
        col("is_kept")))
  }

  def d7DedupClusters(spark: SparkSession, sfDir: String): DataFrame =
    labelClusters(d2PairsFromSignatures(signatures(spark, sfDir))
      .select(col("i"), col("j")), "doc_id") // unordered core: CC doesn't need d2's sort

  val d7Sql: String = {
    // same pair predicate as the d2 oracle, then transitive closure
    val ths = sqlTokenHashes("text")
    val docsSub =
      s"""SELECT doc_id, ${sqlShingles("ths")} AS sh
         |FROM (SELECT doc_id, $ths AS ths FROM documents)""".stripMargin
        .replaceAll("\n", " ")
    s"""WITH RECURSIVE pairs AS (
      |  SELECT a.doc_id AS i, b.doc_id AS j
      |  FROM ($docsSub) a JOIN ($docsSub) b ON a.doc_id < b.doc_id
      |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |        / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8),
      |edges AS (SELECT i, j FROM pairs UNION SELECT j, i FROM pairs),
      |reach(src, dst) AS (
      |  SELECT i, j FROM edges
      |  UNION
      |  SELECT r.src, e.j FROM reach r JOIN edges e ON r.dst = e.i),
      |labels AS (
      |  SELECT src AS doc_id, least(src, min(dst)) AS cluster
      |  FROM reach GROUP BY src)
      |SELECT doc_id, cluster, CAST(doc_id = cluster AS INT) AS is_kept
      |FROM labels ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- d8
  /** Semantic (embedding) near-dup clusters: the d5 blocked cosine pairs
    * resolved into connected components — same keep/drop semantics as d7
    * but over vector similarity, via the shared [[labelClusters]] engine.
    * The oracle rebuilds the identical blocked pair list (same hyperplane
    * arithmetic as d5Sql) and closes it with a recursive CTE.
    */
  def d8EmbedClusters(spark: SparkSession, sfDir: String): DataFrame =
    labelClusters(
      d5EmbeddingDedup(spark, sfDir).select(col("i"), col("j")), "vec_id")

  val d8Sql: String =
    s"""WITH RECURSIVE e AS (
      |  SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS norm
      |  FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)),
      |eb AS (SELECT vec_id, generate_subscripts(tb, 1) - 1 AS t, unnest(tb) AS bucket
      |       FROM (SELECT vec_id, ${sqlHyperplaneBuckets("v", D5Tables, D5Planes, D5Dim)} AS tb
      |             FROM e)),
      |cand AS (SELECT DISTINCT a.vec_id AS i, b.vec_id AS j
      |         FROM eb a JOIN eb b
      |           ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
      |pairs AS (
      |  SELECT i, j FROM cand
      |  JOIN e ea ON ea.vec_id = i JOIN e eb2 ON eb2.vec_id = j
      |  WHERE list_dot_product(ea.v, eb2.v) / (ea.norm * eb2.norm) >= $CosineThreshold),
      |edges AS (SELECT i, j FROM pairs UNION SELECT j, i FROM pairs),
      |reach(src, dst) AS (
      |  SELECT i, j FROM edges
      |  UNION
      |  SELECT r.src, e2.j FROM reach r JOIN edges e2 ON r.dst = e2.i),
      |labels AS (
      |  SELECT src AS vec_id, least(src, min(dst)) AS cluster
      |  FROM reach GROUP BY src)
      |SELECT vec_id, cluster, CAST(vec_id = cluster AS INT) AS is_kept
      |FROM labels ORDER BY vec_id""".stripMargin

  // ---------------------------------------------------------------- d9
  /** Segment-level (paragraph) exact dedup — the C4/RefinedWeb-style pass
    * that removes REPEATED SPANS across documents, not whole documents:
    * split each doc into fixed 16-token segments, keep a segment only in
    * the lowest-doc_id document that contains it, and reassemble each doc
    * from its surviving segments (docs whose every segment is owned
    * elsewhere disappear — the fully-boilerplate case).
    * 100 TB: two shuffles, both narrow — ownership groups on md5(segment)
    * (32-char key, not the text), reassembly groups on doc_id; the segment
    * explode is a generator inside the scan stage. Segment payloads only
    * travel in the reassembly shuffle, whose volume ≤ corpus size.
    */
  val SegTokens = 16

  /** (doc_id, n_seg_total, seg_idx, seg): each document split into fixed
    * [[SegTokens]]-token segments — a generator inside the scan stage, no
    * shuffle. Shared by d9 (ownership dedup) and t12 (boilerplate removal).
    */
  private[graft] def segments(spark: SparkSession, sfDir: String): DataFrame =
    // widen before tokenize + the ×n_seg explode (see [[widen]]); NOT
    // inside [[segmentsOf]] — the flagship feeds it an already-pinned
    // (and already-wide) shared signature-pass frame
    segmentsOf(widen(Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("text")), DefaultWidenAmp)
      .select(col("doc_id"), tokens(col("text")).as("t")))

  /** [[segments]] on a prebuilt (doc_id, t) token frame — lets the flagship
    * derive segments from its shared signature pass instead of re-scanning
    * and re-tokenizing `documents`.
    */
  private[graft] def segmentsOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("t"),
        ceil(size(col("t")).cast("double") / SegTokens).cast("int").as("n_seg_total"))
      .select(col("doc_id"), col("n_seg_total"), col("t"),
        explode(sequence(lit(0), col("n_seg_total") - 1)).as("seg_idx"))
      .select(col("doc_id"), col("n_seg_total"), col("seg_idx"),
        array_join(slice(col("t"), col("seg_idx") * SegTokens + 1, lit(SegTokens)), " ")
          .as("seg"))

  /** The surviving segment rows of the cross-document ownership dedup: a
    * segment survives only in the lowest-doc_id document containing it.
    * Shared by d9 (which adds the reassembly fingerprint) and the flagship
    * boilerplate gate (which only counts survivors per doc).
    */
  private[graft] def segmentKept(segs: DataFrame): DataFrame = {
    val owners = segs.groupBy(md5(col("seg").cast("binary")).as("seg_hash"))
      .agg(min(col("doc_id")).as("keeper"))
    segs.join(owners,
      md5(col("seg").cast("binary")) === col("seg_hash") &&
        col("doc_id") === col("keeper"))
  }

  /** DuckDB spelling of [[segments]] (a CTE body named `segs`). */
  private[graft] val segmentsSql: String =
    s"""SELECT doc_id, n_seg_total, c AS seg_idx,
      |    array_to_string(list_slice(t, c * $SegTokens + 1, c * $SegTokens + $SegTokens), ' ') AS seg
      |  FROM (
      |    SELECT doc_id, t, CAST(ceil(len(t) / ${SegTokens}.0) AS INT) AS n_seg_total,
      |      unnest(range(CAST(ceil(len(t) / ${SegTokens}.0) AS INT))) AS c
      |    FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents))""".stripMargin

  def d9SegmentDedup(spark: SparkSession, sfDir: String): DataFrame =
    segmentKept(segments(spark, sfDir))
      .groupBy(col("doc_id"))
      .agg(max(col("n_seg_total")).as("n_seg_total"),
        count(lit(1)).as("n_seg_kept"),
        charFoldHash(array_join(
          transform(array_sort(collect_list(struct(col("seg_idx"), col("seg")))),
            s => s.getField("seg")), " ")).as("text_fp"))
      .orderBy(col("doc_id"))

  val d9Sql: String =
    s"""WITH segs AS (
      |  $segmentsSql),
      |owners AS (SELECT md5(seg) AS seg_hash, min(doc_id) AS keeper
      |           FROM segs GROUP BY md5(seg))
      |SELECT doc_id, max(n_seg_total) AS n_seg_total, count(*) AS n_seg_kept,
      |  ${sqlCharFold("string_agg(seg, ' ' ORDER BY seg_idx)")} AS text_fp
      |FROM segs s JOIN owners o ON md5(s.seg) = o.seg_hash AND s.doc_id = o.keeper
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- d10
  /** Asymmetric containment near-dup pairs: C(A→B) = |sh_A ∩ sh_B| / |sh_A|
    * ≥ [[ContainmentTau]] over word-3-gram shingle sets — catches
    * doc-inside-doc duplication (quoting, aggregation, page wrappers) that
    * symmetric Jaccard misses when the container is much larger.
    * Blocking is the PPJoin-style prefix filter, and for containment it is
    * exactly lossless: sort A's shingle hashes ascending and take the first
    * p = ⌊(1−τ)|A|⌋+1 as A's prefix; any B with C(A→B) ≥ τ shares ≥ τ|A|
    * shingles with A, and |A| − p < τ|A|, so at least one shared shingle is
    * in the prefix. Candidates therefore come from an equi-join of A-prefix
    * hashes against B's full inverted index — ids only, distinct'ed before
    * the payload join-back. The oracle brute-forces all ordered pairs
    * (losslessness makes both sides agree exactly).
    * 100 TB: shuffle volume is O(n·p + n·|sh|) 8-byte keys, never the pair
    * space; the big-side explode is the standard inverted-index build.
    */
  val ContainmentTau = 0.9

  def d10Containment(spark: SparkSession, sfDir: String): DataFrame =
    d10FromShingles(Tables(spark, sfDir, "documents")
      .select(col("doc_id"), shingleHashes(col("text")).as("sh")))
      .orderBy(col("i"), col("j"))

  /** d10's core on a prebuilt (doc_id, sh) shingle frame (sh unsorted) —
    * sorts, sizes, and materializes its own working copy (every join
    * branch re-reads it). Returns UNORDERED (i, j, containment).
    *
    * SHINGLE-SPACE SATURATION (the sf10 ladder's finding): when corpus
    * growth outruns shingle entropy (boilerplate-heavy corpora; the
    * synthetic rung's fixed 30-word vocabulary), every postings list
    * grows ~linearly with the corpus and the bare prefix⋈index join's
    * output goes ~quadratic even though the TRUE ≥τ pairs stay sparse.
    * The response is LOSSLESS and keeps every pair-level row OFF the
    * shuffle:
    *
    *  - PPJoin-family filters prune candidate rows in the join: for a
    *    qualifying pair, the smallest shared shingle s* (global
    *    ascending hash order) sits in A's prefix AND within B's first
    *    |B| − ⌈τ|A|⌉ + 1 positions (all ⌈τ|A|⌉ shared shingles are
    *    ≥ s* in both sorted docs), and |B| ≥ ⌈τ|A|⌉ outright — the
    *    POSITIONAL and LENGTH filters.
    *  - shingle arrays ride the exploded rows INLINE (index-side
    *    amplification O(n·|sh|) — linear in the corpus), so the exact
    *    verify runs ON THE JOIN STREAM instead of per-pair join-backs.
    *  - each pair emits EXACTLY ONCE structurally: only the candidate
    *    row whose join key equals the pair's smallest shared shingle
    *    (the head of the sorted intersection) survives — there is no
    *    candidate `distinct` left to shuffle the ~quadratic multiset
    *    (the round-16 re-measure: the bare shape spilled the sf10
    *    rung's disk twice — first the join-backs, then the distinct).
    *
    * Same candidate SET, same verify arithmetic — the oracle agrees
    * row-for-row as before; only the plan moved from shuffle-bound to
    * stream-bound.
    */
  private[graft] def d10FromShingles(shingled: DataFrame): DataFrame = {
    val docs = shingled
      .select(col("doc_id"), array_sort(col("sh")).as("sh"))
      .withColumn("n", size(col("sh")))
      .pin() // sorted shingles compute once, not per join branch
    val prefixLen = (col("n") - col("n") % 10) / 10 + 1 // ⌊0.1·n⌋ + 1, integer-exact
    val minShared = ceil(lit(ContainmentTau) * col("n_i")) // ⌈τ|A|⌉
    // payloads ride the exploded rows INLINE (O(n·|sh|) amplification on
    // the index side — linear in the corpus) so the verify runs ON THE
    // JOIN STREAM: under saturation the candidate multiset is ~quadratic
    // and must never hit a shuffle, neither as a distinct nor as
    // join-backs
    val prefixes = docs
      .select(col("doc_id").as("i"), col("n").as("n_i"),
        col("sh").as("sh_i"),
        explode(slice(col("sh"), lit(1), prefixLen.cast("int"))).as("key"))
    val index = docs
      .select(col("doc_id").as("j"), col("n").as("n_j"),
        col("sh").as("sh_j"), posexplode(col("sh")))
      .select(col("j"), col("n_j"), col("sh_j"), (col("pos") + 1).as("l"),
        col("col").as("key"))
    // the A-prefix side is the ~10×-smaller one: build it (shuffle_hash
    // keeps the big index side sort-free — a size-only planner cannot
    // price two exploded sides)
    prefixes.hint("shuffle_hash").join(index, Seq("key"))
      .filter(col("i") =!= col("j") &&
        col("n_j") >= minShared && // length: |B| ≥ ⌈τ|A|⌉
        col("l") <= col("n_j") - minShared + 1) // positional: room for ⌈τ|A|⌉ shared ≥ s*
      // FIRST-SHARED-KEY emission: both arrays are sorted, so the merge
      // scan's first hit is the pair's smallest shared shingle s*; only
      // the candidate row whose join key IS s* survives — each pair
      // verifies exactly once, with no distinct (for a qualifying pair
      // the s* row provably passes the filters above: all ⌈τ|A|⌉ shared
      // shingles are ≥ s* in both docs). Both probes are codegen'd merge
      // scans ([[graft.functions.SortedIntersectHeadExpr]]) — the verify
      // runs on ~10⁹ rows at the saturated rung, where array_intersect's
      // per-row hash set was the wall.
      .filter(sortedIntersectHead(col("sh_i"), col("sh_j")) === col("key"))
      .withColumn("containment",
        sortedIntersectCount(col("sh_i"), col("sh_j")).cast("double") /
          col("n_i"))
      .filter(col("containment") >= ContainmentTau)
      .select(col("i"), col("j"), round(col("containment"), 6).as("containment"))
  }

  val d10Sql: String = {
    val ths = sqlTokenHashes("text")
    s"""SELECT a.doc_id AS i, b.doc_id AS j,
      |  round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(a.sh), 6)
      |    AS containment
      |FROM (SELECT doc_id, ${sqlShingles("ths")} AS sh
      |      FROM (SELECT doc_id, $ths AS ths FROM documents)) a
      |JOIN (SELECT doc_id, ${sqlShingles("ths")} AS sh
      |      FROM (SELECT doc_id, $ths AS ths FROM documents)) b
      |  ON a.doc_id <> b.doc_id
      |WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(a.sh) >= $ContainmentTau
      |ORDER BY i, j""".stripMargin
  }

  // ---------------------------------------------------------------- d11
  /** Signature-based Jaccard ESTIMATION — what a 100 TB deployment actually
    * ships: at scale the exact verify (intersecting full shingle sets)
    * is the expensive step, and the unbiased MinHash estimator
    * matches/nPerms replaces it at 8 bytes × 128 per doc. This operator
    * reports, for every verified d2 near-dup pair, the exact Jaccard next
    * to the 128-perm estimate — the operator a pipeline uses to CALIBRATE
    * how many perms its estimate-only dedup needs (σ = √(J(1−J)/n) ≈ 0.035
    * here). The oracle rebuilds the identical signatures (same affine
    * perms) in SQL.
    */
  def d11MinhashEstimate(spark: SparkSession, sfDir: String): DataFrame = {
    // ONE signature build feeds both the verified d2 pairs and the
    // estimate join-backs (round 3 built it twice)
    val withSig = signatures(spark, sfDir)
    d2PairsFromSignatures(withSig) // verified (i, j, jaccard) pairs
      .join(withSig.select(col("doc_id").as("i"), col("mh").as("mh_i")), Seq("i"))
      .join(withSig.select(col("doc_id").as("j"), col("mh").as("mh_j")), Seq("j"))
      .withColumn("jaccard_est", round(
        size(filter(zip_with(col("mh_i"), col("mh_j"), (a, b) => a === b),
          x => x)).cast("double") / MinHashPerms, 6))
      .select(col("i"), col("j"), col("jaccard"), col("jaccard_est"))
      .orderBy(col("i"), col("j"))
  }

  val d11Sql: String = {
    val ths = sqlTokenHashes("text")
    val jac = """CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      | / len(list_distinct(list_concat(a.sh, b.sh)))""".stripMargin.replaceAll("\n", " ")
    s"""WITH m AS (
      |  SELECT doc_id, sh,
      |    [list_min([((i * 2654435761 + 1) % $P * s + (i * 40503 + 7) % $P) % $P
      |      for s in sh]) for i in range($MinHashPerms)] AS mh
      |  FROM (SELECT doc_id, ${sqlShingles("ths")} AS sh
      |        FROM (SELECT doc_id, $ths AS ths FROM documents)))
      |SELECT a.doc_id AS i, b.doc_id AS j,
      |  round($jac, 6) AS jaccard,
      |  round(CAST(len([x for x in range($MinHashPerms)
      |                  if a.mh[x+1] = b.mh[x+1]]) AS DOUBLE) / $MinHashPerms, 6)
      |    AS jaccard_est
      |FROM m a JOIN m b ON a.doc_id < b.doc_id
      |WHERE $jac >= 0.8
      |ORDER BY i, j""".stripMargin
  }

  // ---------------------------------------------------------------- d12
  /** ESTIMATE-ONLY near-dup dedup — what 100 TB actually ships: the exact
    * verify (intersecting full shingle sets inside candidate buckets) is
    * d2's expensive step, and d11's calibration (σ = √(J(1−J)/n) ≈ 0.015
    * at J ≈ 0.97, n = 128 perms) says the signature estimate alone
    * decides correctly at any sane threshold margin. So: LSH band
    * candidates (same banding as d2) filtered by the MinHash ESTIMATE
    * matches/nPerms ≥ τ — the full shingle arrays never join back, never
    * shuffle; per-doc cost after the signature pass is 128 longs, full
    * stop. The operator's contract is the blocked+estimated semantics,
    * and the oracle rebuilds the identical bands + estimate in SQL, so
    * the driver checks it EXACTLY (no reliance on estimate≈exact).
    * 100 TB: candidate generation is d2's (band, sig) equi-join; the
    * estimate filter is a zip_with over two broadcast-free 1-KB arrays in
    * the join row — no payload join-back stage at all (d2 needs two).
    */
  val EstimateTau = 0.8

  def d12EstimateDedup(spark: SparkSession, sfDir: String): DataFrame =
    d12PairsFromSignatures(signatures(spark, sfDir))
      .orderBy(col("i"), col("j"))

  /** d12's core on a prebuilt (doc_id, mh) signature frame (materialized);
    * returns UNORDERED (i, j, jaccard_est).
    */
  private[graft] def d12PairsFromSignatures(withSig: DataFrame): DataFrame = {
    val mh = withSig.select(col("doc_id"), col("mh"))
    bandCandidates(withSig)
      .join(mh.select(col("doc_id").as("i"), col("mh").as("mh_i")), Seq("i"))
      .join(mh.select(col("doc_id").as("j"), col("mh").as("mh_j")), Seq("j"))
      .withColumn("jaccard_est",
        size(filter(zip_with(col("mh_i"), col("mh_j"), (a, b) => a === b),
          x => x)).cast("double") / MinHashPerms)
      .filter(col("jaccard_est") >= EstimateTau)
      .select(col("i"), col("j"), round(col("jaccard_est"), 6).as("jaccard_est"))
  }

  val d12Sql: String = {
    val ths = sqlTokenHashes("text")
    s"""WITH m AS (
      |  SELECT doc_id,
      |    [list_min([((i * 2654435761 + 1) % $P * s + (i * 40503 + 7) % $P) % $P
      |      for s in sh]) for i in range($MinHashPerms)] AS mh
      |  FROM (SELECT doc_id, ${sqlShingles("ths")} AS sh
      |        FROM (SELECT doc_id, $ths AS ths FROM documents))),
      |bands AS (
      |  SELECT doc_id, b,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_slice(mh, b * $RowsPerBand + 1, b * $RowsPerBand + $RowsPerBand)),
      |      (acc, x) -> (acc * $ShingleBase + x) % $P) AS sig
      |  FROM m, (SELECT unnest(range($Bands)) AS b) bs),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
      |  FROM bands a JOIN bands b
      |    ON a.b = b.b AND a.sig = b.sig AND a.doc_id < b.doc_id)
      |SELECT i, j, round(est, 6) AS jaccard_est FROM (
      |  SELECT c.i, c.j,
      |    CAST(len([x for x in range($MinHashPerms)
      |              if ma.mh[x+1] = mb.mh[x+1]]) AS DOUBLE) / $MinHashPerms AS est
      |  FROM cand c JOIN m ma ON ma.doc_id = c.i JOIN m mb ON mb.doc_id = c.j)
      |WHERE est >= $EstimateTau
      |ORDER BY i, j""".stripMargin
  }

  // ---------------------------------------------------------------- d13
  /** INCREMENTAL ingest dedup — the production shape exact dedup actually
    * runs in: a new BATCH arrives against an EXISTING corpus (here: every
    * 5th doc_id is "the batch", the rest "the corpus"). A batch doc
    * survives iff its content hash is (a) absent from the corpus and
    * (b) first within the batch (min doc_id per hash) — d1 recomputes the
    * whole corpus every run; d13 touches only the batch plus one
    * membership probe.
    * 100 TB: the anti-join shuffles 32-char hashes keyed by hash; the
    * corpus side dominates, which is exactly the join Spark's runtime
    * bloom filter (ScaleFeaturesSpec) prunes — the batch's hash set is
    * tiny, so the bloom built from it skips almost every corpus row at
    * the scan. A standing deployment bucket-sorts the corpus hash table
    * (q49's layout) so every nightly batch anti-joins exchange-free.
    */
  def d13IncrementalDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), md5(col("text").cast("binary")).as("h"))
    val corpus = docs.filter(col("doc_id") % 5 =!= 0).select(col("h").as("ch"))
    val batch = docs.filter(col("doc_id") % 5 === 0)
    batch
      .join(corpus.distinct(), col("h") === col("ch"), "left_anti")
      .groupBy(col("h")).agg(min(col("doc_id")).as("doc_id"),
        count(lit(1)).as("n_batch_copies"))
      .select(col("doc_id"), col("h").as("text_hash"), col("n_batch_copies"))
      .orderBy(col("doc_id"))
  }

  val d13Sql: String =
    """WITH d AS (SELECT doc_id, md5(text) AS h FROM documents),
      |corpus AS (SELECT DISTINCT h FROM d WHERE doc_id % 5 <> 0),
      |batch AS (SELECT * FROM d WHERE doc_id % 5 = 0)
      |SELECT min(doc_id) AS doc_id, h AS text_hash, count(*) AS n_batch_copies
      |FROM batch WHERE h NOT IN (SELECT h FROM corpus)
      |GROUP BY h
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- d14
  /** Embedding SimHash ESTIMATE dedup — the d12 analog for vectors: d5's
    * OR-amplified hyperplane-bucket candidates, but the verify step is the
    * HAMMING ESTIMATE over a 256-bit sign signature (8 words × 32 planes
    * from a fresh plane range) instead of the exact cosine. By the
    * Goemans–Williamson identity P[sign mismatch] = θ/π, so ĉos =
    * cos(π·h/256) estimates the cosine with σ(θ̂) = π·√(p(1−p)/256) ≤ 0.1.
    * The signature planes are the SCRAMBLED family (xorshift-mixed): the
    * linear Weyl planes the blocking shares with d5/s2 have pair-to-pair
    * correlated sign bits that quintuple the estimator's variance
    * (measured hamming σ 39.6 → 9.3 on near-orthogonal pairs; the
    * Binomial ideal is 8) — blocking tolerates that, an estimator
    * cannot;
    * the keep predicate is the INTEGER cut h ≤ 94 (⇔ ĉos ≥ 0.4 at d5's
    * threshold), so no float comparison decides membership and both
    * engines agree exactly. The operator's contract is the
    * blocked+estimated semantics; `EmbeddingSimhashSpec` calibrates the
    * estimate against d5's exact cosines (the cross-family check).
    * 100 TB: after the signature pass each doc is 32 BYTES — the verify
    * join-back shuffles sig arrays instead of d5's 512-byte vectors (16×
    * less verify traffic), and the estimate needs no norm: sign bits are
    * scale-invariant. Exactly d11/d12's ship-the-sketch story, vector
    * edition. (Note a SIGNED-PERMUTATION rotation (s10) is a no-op on
    * pairwise hamming — both signatures permute identically — which is
    * WHY the signature family must be dense hyperplanes, not rotated
    * coordinate signs.)
    */
  val SimHashWords = 8
  val WordPlanes = 32 // 8 × 32 = a 256-bit signature
  val D14PlaneBase = 256 // fresh plane indices, disjoint from d5/s2's 0..47
  val D14HammingMax = 94 // ⌊256·acos(0.4)/π⌋ — keep ⇔ cos(π·h/256) ≥ 0.4

  def d14EmbeddingSimhash(spark: SparkSession, sfDir: String): DataFrame = {
    val sig = array((0 until SimHashWords).map(w =>
      hyperplaneBucket(col("v"), WordPlanes, D5Dim,
        D14PlaneBase + w * WordPlanes, scrambled = true)): _*)
    // widen straight off the scan: the 256-plane signature compute is
    // the heavy per-row step here (see [[widen]])
    val e = widen(Tables(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v")),
      DefaultWidenAmp)
      .withColumn("sig", sig)
    // the verify payload is the 32-BYTE signature, not the 512-byte
    // vector — the ship-the-sketch story now also holds on the wire:
    // bucket rows carry sigs inline and the hamming estimate runs on the
    // join stream (see [[hyperplanePairJoin]] — no pair-level shuffle)
    hyperplanePairJoin(e, D5Tables, D5Planes, D5Dim, Seq("sig"))
      .withColumn("hamming", bitHamming(col("pi.sig"), col("pj.sig")))
      .filter(col("hamming") <= D14HammingMax)
      .select(col("i"), col("j"), col("hamming"),
        round(cos(lit(math.Pi) * col("hamming") / lit(SimHashWords * WordPlanes)), 6)
          .as("cos_est"))
      .orderBy(col("i"), col("j"))
  }

  val d14Sql: String = {
    val nBits = SimHashWords * WordPlanes
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |es AS (SELECT vec_id,
      |  ${sqlHyperplaneBuckets("v", SimHashWords, WordPlanes, D5Dim, D14PlaneBase, scrambled = true)} AS sig
      |  FROM e),
      |eb AS (SELECT vec_id, generate_subscripts(tb, 1) - 1 AS t, unnest(tb) AS bucket
      |       FROM (SELECT vec_id, ${sqlHyperplaneBuckets("v", D5Tables, D5Planes, D5Dim)} AS tb
      |             FROM e)),
      |pairs AS (SELECT DISTINCT a.vec_id AS i, b.vec_id AS j
      |          FROM eb a JOIN eb b
      |            ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
      |h AS (SELECT i, j,
      |        CAST(list_sum([bit_count(xor(sa.sig[w+1], sb.sig[w+1]))
      |                       for w in range($SimHashWords)]) AS BIGINT) AS hamming
      |      FROM pairs JOIN es sa ON sa.vec_id = i JOIN es sb ON sb.vec_id = j)
      |SELECT i, j, hamming, round(cos(pi() * hamming / $nBits), 6) AS cos_est
      |FROM h WHERE hamming <= $D14HammingMax
      |ORDER BY i, j""".stripMargin
  }

  // ---------------------------------------------------------------- d15
  /** Edit-distance near-dup pairs via PASSJOIN segment blocking — the
    * third blocking family (after set-overlap d4/d10 and bit-signature
    * d3): candidate generation for a LEVENSHTEIN threshold without the
    * O(n²) pair space.
    *
    * Dedup key: the last [[D15KeyLen]] chars of the text (the corpus's
    * near-dups differ at the END — suffix distances are 7-8 where prefixes
    * are identical), right-padded with U+0001 to exactly 60 chars so every
    * key has one fixed length and one fixed segmentation.
    *
    * PassJoin lemma (Li/Deng/Feng 2011, the pigeonhole for edit distance):
    * partition one string of a pair into K+1 contiguous segments; any
    * string within edit distance K must contain at least one segment
    * EXACTLY, and an optimal alignment shifts a segment's start by at most
    * K positions (each unit of shift costs one indel). So: index side
    * emits its K+1 segments at their home positions; probe side emits the
    * substrings at every start within ±K of each home position; an
    * equi-join on (segment index, substring) is a provably LOSSLESS
    * candidate filter — Levenshtein runs only on candidates, with Spark's
    * threshold variant (early-exits the DP past K).
    *
    * Scale honesty: the EXPLODE factor is constant (9 index + ~130 probe
    * rows of ≤7 chars per doc), but candidate volume is collision-driven —
    * at K = 8 the segments are only 6-7 chars, and natural-language text
    * shares short substrings heavily: measured at sf0.1, 3.3M of 12.5M
    * possible pairs survive the blocking (3.8×, so the verify — a
    * threshold DP, O(K·len) per candidate — dominates). Shared-segment
    * candidates grow with the pair space, so at 100× corpus this K/key
    * combination would need the next refinement: a SECOND pigeonhole over
    * g = 5 super-segments (⌊K/5⌋ = 1 edit each) matched through 1-deletion
    * neighborhoods — 13-char near-exact keys collide ~10³× less — or
    * simply the production operating point (small K over short
    * title/URL-class keys), where base segments are long and selective.
    * The contract and oracle are unchanged either way; this ships the
    * lemma machinery both refinements reuse.
    */
  val D15K = 8 // max edit distance (corpus near-dup suffixes sit at 7-8)
  val D15KeyLen = 60
  val D15Segs: Int = D15K + 1

  /** (segIdx, 1-based start, len) for the even partition of the key. */
  private val d15Segments: Seq[(Int, Int, Int)] = {
    val base = D15KeyLen / D15Segs
    val extra = D15KeyLen % D15Segs
    val lens = Seq.tabulate(D15Segs)(i => base + (if (i < extra) 1 else 0))
    val starts = lens.scanLeft(1)(_ + _).init
    Seq.tabulate(D15Segs)(i => (i, starts(i), lens(i)))
  }

  private def d15Key(text: Column): Column =
    rpad(text.substr(greatest(lit(1), length(text) - (D15KeyLen - 1)),
      lit(D15KeyLen)), D15KeyLen, "\u0001")

  def d15EditDedup(spark: SparkSession, sfDir: String): DataFrame =
    d15Pairs(Tables(spark, sfDir, "documents"))

  /** Corpus-size bound for the edit-dedup family's keys BROADCAST:
    * up to this many docs the 60-char keys frame (n·68 B — 34 MB at
    * 500 k docs, ~680 MB at the bound) broadcasts and the two candidate
    * join-backs are map-side; PAST it d15/d17 switch to the INLINE-CARRY
    * form (each exploded side rides its own key on the candidate join
    * stream, no broadcast anywhere) instead of silently driving the
    * driver off a memory cliff — the `broadcast()` hint bypasses
    * `autoBroadcastJoinThreshold`, so without this gate the failure mode
    * past ~10 M docs was an opaque driver OOM. Tune per deployment via
    * `spark.graft.editDedup.broadcastKeysMaxRows`; set it to 0 to force
    * the inline form (the equivalence spec does exactly that).
    */
  val EditKeysBroadcastMaxRows = 10000000L
  val EditKeysBroadcastMaxRowsConf = "spark.graft.editDedup.broadcastKeysMaxRows"

  /** Sub-blocks per side for the edit-family candidate join's skew grid
    * (see [[editPairsVerify]]): a hot (seg, part) group parallelizes
    * across G² cells at ×G shuffle replication per side.
    *
    * PER-ARM CONSTANTS, both measured (round 18): the grid's ×G
    * replication prices the WHOLE exploded side, so it only pays where
    * hot groups actually exist.
    *  - d15's 6-7-char exact segments collide massively on natural text
    *    (the r17 sf10 autopsy: one hot (seg, part) group pinned the join
    *    on 3-4 cores for 2h45m) — G = 8 turns that into a measured
    *    full-width 32-core completion, and its probe side is only ~139
    *    rows/doc so the ×8 replication is cheap (identical sf0.1 time
    *    grid-on vs grid-off, measured 3.5 s both ways).
    *  - d17's 11-13-char near-exact keys collide ~10³× less — there is
    *    no comparable hot group to split — while its DOMINANT term is
    *    the ~1.4k-row/doc variant explode, which ×8 turns into a
    *    >65 GB shuffle at sf10 (measured: disk-full death) and a 2×
    *    slowdown at sf0.1 (measured 10.5 s at G = 1 vs 23.3 s at G = 8).
    *    The selective arm therefore runs at G = 1. */
  val EditGridG = 8
  val EditSelectiveGridG = 1

  /** HOT-GROUP grid for the UNGRIDDED (G = 1) arm (round 19, guide §2.5
    * "split hot keys"): the round-19 sf10 probe of d17 caught the
    * selective arm's candidate join collapsed to ONE core for its final
    * hours — a thread dump showed a single task streaming
    * `levenshteinDistance` through the shuffled-hash-join consume, i.e.
    * one shuffle partition holding a ~quadratic (seg, part) group. The
    * blanket ×G grid is the WRONG cure for this arm (its dominant
    * variant explode priced ×8 is a measured >65 GB disk-full death at
    * sf10), so instead only the groups that are actually hot get split:
    * a deterministic 1-in-[[EditHotSampleMod]] doc sample is counted per
    * (seg, part) on the index side, groups whose extrapolated count
    * exceeds [[EditHotGroupRows]] join back (broadcast — the hot tail is
    * small by definition) onto BOTH exploded sides, and only those rows
    * grid at [[EditHotGridG]] — replication cost ×G on the hot rows
    * alone, not the whole side. Placement-only: a pair's (seg, part)
    * group is hot or not identically on both sides, so the candidate
    * multiset is unchanged (`EditDedupHotGridSpec` proves bit-identity
    * with the grid forced all-hot and mixed). The sampled detector can
    * only MISS a borderline group (stays unsplit — the status quo) or
    * split a lukewarm one (×G on few rows) — both safe.
    * [[EditHotMinDocs]] gates the detector off below 100 k docs: at toy
    * scale no group can be hot enough to matter and the sample pass
    * would be pure overhead (the driver's sf0.1 bench rows are
    * unchanged); at the sf10 rung (500 k docs) and beyond it is on.
    * The row threshold and the doc gate are conf-tunable per deployment. */
  val EditHotGridG = 16
  val EditHotGroupRows = 2048L
  val EditHotGroupRowsConf = "spark.graft.editDedup.hotGroupRows"
  val EditHotMinDocs = 100000L
  val EditHotMinDocsConf = "spark.graft.editDedup.hotMinDocs"
  val EditHotSampleMod = 16

  /** Measured row count of the pinned keys frame: prefer the exact row
    * count its statistics carry (the disk-checkpoint path records one —
    * zero extra jobs); the memory-pin path's block-manager stats don't,
    * so fall back to one count() over the already-materialized blocks —
    * metadata-cheap next to either blocking. */
  private def keysDocCount(keys: DataFrame): Long =
    keys.queryExecution.optimizedPlan.stats.rowCount
      .map(_.toLong).getOrElse(keys.count())

  /** True when the corpus is past the broadcast bound and the edit-dedup
    * verify must carry keys inline. */
  private def editKeysInline(spark: SparkSession, nDocs: Long): Boolean = {
    val bound = graft.functions.confLong(spark,
      EditKeysBroadcastMaxRowsConf, EditKeysBroadcastMaxRows)
    bound <= 0 || nDocs > bound
  }

  /** Shared verify tail for the edit-distance family (d15/d17): candidate
    * (seg, part) equi-join → banded levenshtein → output-sized distinct.
    * STREAM-BOUND both ways (round 16's rule: the candidate multiset
    * never hits a shuffle — at the sf10 rung the saturated segment space
    * made it ~quadratic and a candidate distinct spilled the disk dry):
    *
    *  - BROADCAST form (≤ [[EditKeysBroadcastMaxRows]] docs): candidates
    *    reduce to (i, j), both key join-backs are broadcast map-side,
    *    the banded levenshtein evaluates on that stream;
    *  - INLINE-CARRY form (past the bound, or bound = 0): each exploded
    *    side carries its own 60-char key on the candidate join stream
    *    and the levenshtein evaluates directly on (a.k, b.k) — no
    *    broadcast at all, shuffle volume O(n · slots · G · 68 B) (the
    *    skew grid below replicates each side ×G), the truly
    *    corpus-size-unbounded shape.
    *
    * Both forms end in the same distinct over true ≤K pairs —
    * output-sized by definition — so the output is bit-identical
    * ([[graft.EditDedupInlineKeysSpec]] proves it with the broadcast
    * path disabled).
    */
  private def editPairsVerify(keys: DataFrame, indexSide: DataFrame,
      probeSide: DataFrame, inline: Boolean, gridG: Int,
      nDocs: Long): DataFrame = {
    // SKEW GRID (round 17): under segment saturation a handful of hot
    // (seg, part) values concentrate a ~quadratic candidate space on
    // whichever shuffle partition drew them — the r17 sf10 sweep
    // measured d15's join stage collapsing from 32 busy cores to 4
    // stragglers for over an hour. Same cure as
    // [[graft.functions.blockedPairs]], simpler decomposition because
    // index × probe is NOT a self-join:
    // each side carries its own doc_id sub-block and cross-explodes the
    // other side's G values, so a (seg, part) group's A×B cell grid
    // splits G²-ways with ×G row replication per side and every
    // (x, y) candidate meets in EXACTLY one cell (ga(x), gb(y)) — the
    // candidate multiset is unchanged, only its placement. G is a
    // PER-ARM decision (see [[EditGridG]]/[[EditSelectiveGridG]]): the
    // replication prices the whole exploded side, so the selective arm
    // whose blocking keys rarely produce hot groups runs ungridded —
    // with the HOT-GROUP grid (round 19, [[EditHotGridG]]) splitting
    // the few groups that ARE hot at corpus scale.
    val spark = keys.sparkSession
    val useHotGrid = gridG == 1 && nDocs >= graft.functions.confLong(spark,
      EditHotMinDocsConf, EditHotMinDocs)
    def gridded(side: DataFrame, own: String, other: String,
        width: Column) =
      side
        .withColumn(own,
          pmod(xxhash64(col("doc_id"), lit(311)), width).cast("int"))
        .withColumn(other, explode(sequence(lit(0), (width - 1).cast("int"))))
    val (a0, b0) = if (!useHotGrid) (
      gridded(indexSide, "ga", "gb", lit(gridG)),
      gridded(probeSide, "gb", "ga", lit(gridG))
    ) else {
      // HOT-GROUP grid (see [[EditHotGridG]]): count a deterministic
      // 1-in-EditHotSampleMod doc sample per (seg, part) on the index
      // side, broadcast the hot tail back onto both sides, and grid ONLY
      // those rows at EditHotGridG — replication prices the hot rows, not
      // the side. Pinned: both side joins read the same hot set (and the
      // sample-count job runs once).
      val hotRows = graft.functions.confLong(spark, EditHotGroupRowsConf,
        EditHotGroupRows)
      val hot = indexSide
        .filter(pmod(xxhash64(col("doc_id"), lit(733)),
          lit(EditHotSampleMod)) === 0)
        .groupBy(col("seg"), col("part")).agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") * EditHotSampleMod > hotRows)
        .select(col("seg").as("hseg"), col("part").as("hpart"))
        .pin()
      def hotGridded(side: DataFrame, own: String, other: String) =
        gridded(side.join(broadcast(hot),
            col("seg") === col("hseg") && col("part") === col("hpart"),
            "left_outer"), own, other,
          when(col("hseg").isNotNull, lit(EditHotGridG)).otherwise(lit(1)))
          .drop("hseg", "hpart")
      (hotGridded(indexSide, "ga", "gb"), hotGridded(probeSide, "gb", "ga"))
    }
    val cand = a0.hint("shuffle_hash").alias("a")
      .join(b0.hint("shuffle_hash").alias("b"),
        col("a.seg") === col("b.seg") && col("a.part") === col("b.part") &&
          col("a.ga") === col("b.ga") && col("a.gb") === col("b.gb") &&
          col("a.doc_id") =!= col("b.doc_id"))
    val scored =
      if (inline)
        // levenshtein is symmetric, so the (a, b) role order is free
        cand.select(least(col("a.doc_id"), col("b.doc_id")).as("i"),
          greatest(col("a.doc_id"), col("b.doc_id")).as("j"),
          levenshtein(col("a.k"), col("b.k"), D15K).cast("long").as("dist"))
      else
        cand.select(least(col("a.doc_id"), col("b.doc_id")).as("i"),
            greatest(col("a.doc_id"), col("b.doc_id")).as("j"))
          .join(broadcast(keys.select(col("doc_id").as("i"),
            col("k").as("ki"))), Seq("i"))
          .join(broadcast(keys.select(col("doc_id").as("j"),
            col("k").as("kj"))), Seq("j"))
          .select(col("i"), col("j"),
            levenshtein(col("ki"), col("kj"), D15K).cast("long").as("dist"))
    scored
      .filter(col("dist") >= 0) // threshold variant returns -1 past K
      .select(col("i"), col("j"), col("dist"))
      .distinct()
      .orderBy(col("i"), col("j"))
  }

  /** d15's core on any (doc_id, text) frame — split out so the PassJoin
    * fuzz spec can drive it with planted ≤K-edit pairs. */
  private[graft] def d15Pairs(docs: DataFrame): DataFrame = {
    // widen the 68 B/doc keys before pinning: the probe explode below
    // amplifies ×~139 rows/doc and inherits the pin's partitioning —
    // unwidened, a few-split documents scan runs the whole variant
    // generation on as many cores (see [[widen]]; measured single-task)
    val keys = widen(docs
      .select(col("doc_id"), d15Key(col("text")).as("k")))
      .pin() // 4 plan branches below; build the keys once
    val nDocs = keysDocCount(keys)
    val inline = editKeysInline(docs.sparkSession, nDocs)
    def extract(slots: Seq[(Int, Int, Int)]) = keys.select(col("doc_id"),
        col("k"),
        explode(array(slots.map { case (i, p, l) =>
          struct(lit(i).as("seg"), lit(p).as("p"), lit(l).as("l")) }: _*)).as("s"))
      .select(col("doc_id") +: col("s.seg").as("seg") +:
        col("k").substr(col("s.p"), col("s.l")).as("part") +:
        (if (inline) Seq(col("k")) else Nil): _*)
    val indexSide = extract(d15Segments)
    val probeSide = extract(for {
      (i, p, l) <- d15Segments
      d <- -D15K to D15K
      q = p + d if q >= 1 && q + l - 1 <= D15KeyLen
    } yield (i, q, l))
    // the exploded sides are CORPUS × SEGMENTS — the one frame shape the
    // optimizer cannot price (Generate passes its child's size estimate
    // through, and the child is the measured-but-tiny keys frame), so an
    // unhinted planner broadcasts a ~30×-amplified build at every scale.
    // The candidate join is big-big by construction: hint it shuffled.
    // Verify is stream-bound either way — see [[editPairsVerify]].
    editPairsVerify(keys, indexSide, probeSide, inline, EditGridG, nDocs)
  }

  /** Oracle: brute-force Levenshtein over all pairs — the blocking must be
    * exactly lossless for the hashes to agree. */
  val d15Sql: String =
    s"""WITH k AS (SELECT doc_id,
      |  rpad(substr(text, greatest(1, length(text) - ${D15KeyLen - 1}),
      |       $D15KeyLen), $D15KeyLen, chr(1)) AS kk FROM documents)
      |SELECT a.doc_id AS i, b.doc_id AS j,
      |       CAST(levenshtein(a.kk, b.kk) AS BIGINT) AS dist
      |FROM k a JOIN k b ON a.doc_id < b.doc_id
      |WHERE levenshtein(a.kk, b.kk) <= $D15K
      |ORDER BY i, j""".stripMargin

  // ---------------------------------------------------------------- d17
  /** d15's documented refinement, SHIPPED: edit-distance dedup with
    * SUPER-SEGMENT blocking through 1-deletion neighborhoods. Same
    * contract, same oracle, ~13× fewer candidates (measured 250k vs d15's
    * 3.3M distinct candidate pairs at sf0.1).
    *
    * Second pigeonhole: partition the 60-char key into g = 5 segments of
    * 12; K = 8 edits over 5 bins leave some segment with ≤ ⌊8/5⌋ = 1
    * edit. A ≤1-edit match is found EXACTLY by deletion neighborhoods
    * (Mor/Fraenkel): u within 1 edit of w ⟺ ({u} ∪ del1(u)) ∩
    * ({w} ∪ del1(w)) ≠ ∅ — substitution meets at the deletion of the
    * differing position, indels meet at the inserted char's deletion. So:
    * index side emits each home segment's 13-string variant set; probe
    * side emits the variant sets of every window at start ∈ ±K of the
    * home position and length ∈ {11, 12, 13} (a 1-edited segment's image;
    * both keys are exactly 60 chars, so images stay inside the key).
    * An 11-char near-exact join key collides ~10³× less than d15's
    * 6-7-char exact segments on natural text — candidates stop tracking
    * the pair space: measured 250k vs 3.3M candidate pairs at sf0.1.
    * The trade, measured honestly: at sf0.1 d17 is ~3.8× SLOWER than d15
    * (19.6 s vs 5.2 s, the committed BENCH_FULL anchors) because the
    * ~1.4k-row/doc variant explode — O(n),
    * but a big constant even after boundary anchoring, asymmetric
    * emission and hashed keys — dwarfs the verify savings on a 5k-doc
    * corpus. The candidate term is the one that grows ~quadratically, so
    * the crossover where d17 wins is a larger corpus (the 100 TB
    * operating point d15's scaladoc flags), and both operators share the
    * oracle so either can be swapped in per deployment. Verify (threshold
    * DP) and output are d15's; the fuzz spec runs BOTH blockings against
    * the planted-edit brute force.
    */
  val D17Segs = 5
  val D17SegLen: Int = D15KeyLen / D17Segs // 12
  private val d17Starts: Seq[Int] = Seq.tabulate(D17Segs)(i => 1 + i * D17SegLen)

  def d17EditDedupSelective(spark: SparkSession, sfDir: String): DataFrame =
    d17Pairs(Tables(spark, sfDir, "documents"))

  private[graft] def d17Pairs(docs: DataFrame): DataFrame = {
    // widen before pin for the same reason as d15Pairs — and ×10 the
    // stakes: d17's probe side amplifies ×~1.4k rows/doc (measured at
    // sf0.1: one 12.6 s task in a 13.9 s query before the widen)
    val keys = widen(docs
      .select(col("doc_id"), d15Key(col("text")).as("k")))
      .pin()
    val nDocs = keysDocCount(keys)
    val inline = editKeysInline(docs.sparkSession, nDocs)
    // Slot = (seg, start, len, mode). mode encodes WHICH variants a
    // window's image length makes reachable (asymmetric emission):
    //   len 11 ⇒ the image lost a char ⇒ it IS a member of del1(index
    //            segment) — emit the RAW window only (mode 0);
    //   len 13 ⇒ the image gained a char ⇒ the raw index segment ∈
    //            del1(image) — emit the DELETIONS only (mode 1);
    //   len 12 ⇒ exact (raw meets raw) or substitution (deletions meet
    //            deletions) — emit BOTH (mode 2).
    // The index side always emits raw + deletions (mode 2).
    // Join keys are xxhash64 of the variant — hash collisions only ever
    // ADD candidates, which the Levenshtein verify removes.
    def extract(slots: Seq[(Int, Int, Int, Int)]) = {
      val slotArr = array(slots.map { case (i, q, lam, mode) =>
        struct(lit(i).as("seg"), lit(q).as("q"), lit(lam).as("lam"),
          lit(mode).as("mode")) }: _*)
      val w = col("k").substr(col("s.q"), col("s.lam"))
      val dels = transform(sequence(lit(1), col("s.lam")), j =>
        concat(w.substr(lit(1), j - 1), w.substr(j + 1, col("s.lam"))))
      val variants = when(col("s.mode") === 0, array(w))
        .when(col("s.mode") === 1, dels)
        .otherwise(concat(array(w), dels))
      keys.select(col("doc_id"), col("k"), explode(slotArr).as("s"))
        .select(col("doc_id") +: col("s.seg").as("seg") +:
          explode(variants).as("pstr") +:
          (if (inline) Seq(col("k")) else Nil): _*)
        .select(col("doc_id") +: col("seg") +:
          xxhash64(col("pstr")).as("part") +:
          (if (inline) Seq(col("k")) else Nil): _*)
    }
    val indexSide = extract(d17Starts.zipWithIndex.map { case (p, i) =>
      (i, p, D17SegLen, 2) })
    val lastSeg = D17Segs - 1
    val probeSide = extract(for {
      (p, i) <- d17Starts.zipWithIndex
      lam <- (D17SegLen - 1) to (D17SegLen + 1)
      // boundary anchoring: segment 0 has no edits before it, so its
      // image starts exactly at 1; the last segment's image runs to the
      // key's end (both keys are exactly 60 chars), so its start is
      // pinned by its length. Middle segments shift by ≤ K.
      q <- if (i == 0) Seq(1)
        else if (i == lastSeg) Seq(D15KeyLen - lam + 1)
        else (p - D15K) to (p + D15K)
      if q >= 1 && q + lam - 1 <= D15KeyLen
    } yield (i, q, lam, if (lam < D17SegLen) 0
      else if (lam > D17SegLen) 1 else 2))
    // same shuffled-candidate rationale as d15Pairs: the exploded sides
    // defeat size estimation (Generate passthrough over the tiny keys
    // frame), and the pigeonhole join is big-big by construction.
    // Verify is stream-bound either way — see [[editPairsVerify]].
    // UNGRIDDED by default ([[EditSelectiveGridG]] = 1, measured): ×G
    // here multiplies the dominant variant-explode shuffle — at sf10 the
    // G = 8 form is a measured >65 GB disk-full death. The groups that
    // ARE hot at corpus scale (the round-19 sf10 probe caught one
    // pinning the verify join on a single core) split via the hot-group
    // grid inside [[editPairsVerify]] instead.
    editPairsVerify(keys, indexSide, probeSide, inline, EditSelectiveGridG,
      nDocs)
  }

  // ---------------------------------------------------------------- d19
  /** AUTO-SWITCHING edit-distance dedup: ONE entry point that picks the
    * blocking family by corpus size — d15's PassJoin segment blocking
    * below the crossover, d17's super-segment/1-deletion-neighborhood
    * blocking above it. Both blockings are provably lossless for the same
    * ≤K contract, so the OUTPUT is identical either way (the fuzz spec
    * runs all three — d15, d17, d19 — against the same planted-edit brute
    * force) and the switch is purely a cost decision.
    *
    * The crossover, derived from the committed sf0.1 measurements (n≈5k
    * docs: d15 ≈ 5.2 s with ~3.3M candidates, d17 ≈ 19.6 s with ~250k):
    * d15's verify term rides its candidate count, which is
    * collision-driven and grows with the PAIR SPACE (~n²); d17's explode
    * term is linear with a ~1.4k-row/doc constant and its candidates stay
    * ~10³× rarer. Equating d15 ≈ v·(n/5k)² + s·(n/5k) against d17 ≈
    * e·(n/5k) + v'·(n/5k)² with the measured splits (v ≈ 3 s of d15 is
    * verify, e ≈ 19 s of d17 is explode+join) crosses near n ≈ 7×5k ≈
    * 35k docs. The default threshold rounds that to 35 000 and
    * `spark.graft.editDedup.crossover` overrides it per deployment (the
    * constant moves with key length and text entropy; re-derive it from a
    * BENCH_FULL pair on the actual corpus).
    *
    * 100 TB: the statistic is one count() — metadata-cheap next to either
    * blocking — and the big-corpus arm is exactly the one whose candidate
    * volume stops tracking the pair space.
    */
  val D19Crossover = 35000

  def d19EditDedupAuto(spark: SparkSession, sfDir: String): DataFrame =
    d19Pairs(Tables(spark, sfDir, "documents"))

  private[graft] def d19Pairs(docs: DataFrame): DataFrame =
    if (d19Choice(docs.sparkSession, docs.count()) == "d15") d15Pairs(docs)
    else d17Pairs(docs)

  /** The arm [[d19Pairs]] would take for a corpus of `n` docs — split out
    * so the switch rule itself is spec-assertable without running either
    * blocking. */
  private[graft] def d19Choice(spark: SparkSession, n: Long): String = {
    val crossover = graft.functions.confInt(spark,
      "spark.graft.editDedup.crossover", D19Crossover)
    if (n <= crossover) "d15" else "d17"
  }

  // ---------------------------------------------------------------- d16
  /** INCREMENTAL near-dup probe — d13's production shape for MinHash-LSH:
    * the new batch (every 5th doc_id) probes the STANDING corpus for
    * near-duplicates instead of re-running d2 over corpus ∪ batch. Output
    * is the (batch, corpus, jaccard) match list a nightly ingest acts on.
    *
    * The candidate stage joins the batch's band signatures against the
    * corpus's — same 8-byte fold keys as d2, but the join is batch-small ×
    * corpus-big instead of the corpus self-join: exactly the asymmetric
    * join d13 demonstrates the runtime bloom filter on, so the corpus-side
    * band table is pruned at the scan by the batch's tiny key set. The
    * standing deployment persists the corpus band table once (it is
    * append-only between dedup sweeps) and each batch re-derives only its
    * own signatures — O(batch) new work per ingest.
    * Losslessness: the planted near-dups sit at J ≥ 0.97, where the LSH
    * miss probability is (1 − 0.97⁴)³² ≈ 1e−30 (d2's argument verbatim);
    * the exact-Jaccard verify then removes every false candidate.
    */
  def d16IncrementalNeardup(spark: SparkSession, sfDir: String): DataFrame = {
    val sig = signatures(spark, sfDir) // (doc_id, sh, mh), checkpointed
    val bands = bandSignatures(sig)
    val batchBands = bands.filter(col("doc_id") % 5 === 0)
    val corpusBands = bands.filter(col("doc_id") % 5 =!= 0)
    val cand = batchBands.alias("x").join(corpusBands.alias("y"),
        col("x.band") === col("y.band") && col("x.sig") === col("y.sig"))
      .select(col("x.doc_id").as("i"), col("y.doc_id").as("j"))
      .distinct()
    val docs = sig.select(col("doc_id"), col("sh"))
    cand
      .join(docs.select(col("doc_id").as("i"), col("sh").as("sh_i")), Seq("i"))
      .join(docs.select(col("doc_id").as("j"), col("sh").as("sh_j")), Seq("j"))
      .withColumn("jac",
        size(array_intersect(col("sh_i"), col("sh_j"))).cast("double") /
          size(array_union(col("sh_i"), col("sh_j"))))
      .filter(col("jac") >= 0.8)
      .select(col("i"), col("j"), round(col("jac"), 6).as("jaccard"))
      .orderBy(col("i"), col("j"))
  }

  /** Oracle: brute-force exact Jaccard over batch × corpus pairs. */
  val d16Sql: String = {
    val ths = sqlTokenHashes("text")
    s"""SELECT a.doc_id AS i, b.doc_id AS j,
      |  round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |        / len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
      |FROM (SELECT doc_id, ${sqlShingles("ths")} AS sh
      |      FROM (SELECT doc_id, $ths AS ths FROM documents)
      |      WHERE doc_id % 5 = 0) a
      |JOIN (SELECT doc_id, ${sqlShingles("ths")} AS sh
      |      FROM (SELECT doc_id, $ths AS ths FROM documents)
      |      WHERE doc_id % 5 <> 0) b ON true
      |WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |      / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8
      |ORDER BY i, j""".stripMargin
  }

  // ---------------------------------------------------------------- d18
  /** NEAR-DUP-SAFE train/val/test split — the "same operator, coarser
    * key" variant a9's scaladoc promises, shipped: the split key is the
    * content hash of the doc's NEAR-DUP CLUSTER REPRESENTATIVE (d7's
    * min-id member; singletons key on their own content), so not just
    * byte-identical but NEAR-identical documents can never straddle a
    * split boundary — the eval leak a9 still commits between near-dup
    * runs (a paraphrase of a training doc lands in test). Keying on the
    * representative's CONTENT (not its id) keeps the split a reproducible
    * artifact under re-ingest with different ids, exactly a9's
    * reproducibility contract.
    * 100 TB: d7's clusters are already the production CC output; the
    * extra work is two equi-joins (labels, representative text) and the
    * same map-side bucket arithmetic — no new shuffle shape. Spec: every
    * d2 near-dup pair lands in ONE split (the straddle check a9 cannot
    * pass on near-dups).
    */
  def d18ClusterSplit(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables(spark, sfDir, "documents").select(col("doc_id"), col("text"))
    val labels = d7DedupClusters(spark, sfDir).select(col("doc_id"), col("cluster"))
    val rep = docs.select(col("doc_id").as("cluster"), col("text").as("rep_text"))
    val bucket = hashBucket(md5(col("rep_text").cast("binary")), 1000)
    docs.join(labels, Seq("doc_id"), "left")
      .withColumn("cluster", coalesce(col("cluster"), col("doc_id")))
      .join(rep, Seq("cluster"))
      .select(col("doc_id"), col("cluster"),
        when(bucket < 900, "train").when(bucket < 950, "val")
          .otherwise("test").as("split"))
      .orderBy(col("doc_id"))
  }

  val d18Sql: String = {
    // d7's cluster CTE (same shingle/Jaccard predicate + transitive
    // closure), then a9's bucket arithmetic on the representative's text
    val ths = sqlTokenHashes("text")
    val docsSub =
      s"""SELECT doc_id, ${sqlShingles("ths")} AS sh
         |FROM (SELECT doc_id, $ths AS ths FROM documents)""".stripMargin
        .replaceAll("\n", " ")
    val bucket = sqlHashBucket("md5(rep_text)", 1000)
    s"""WITH RECURSIVE pairs AS (
      |  SELECT a.doc_id AS i, b.doc_id AS j
      |  FROM ($docsSub) a JOIN ($docsSub) b ON a.doc_id < b.doc_id
      |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |        / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8),
      |edges AS (SELECT i, j FROM pairs UNION SELECT j, i FROM pairs),
      |reach(src, dst) AS (
      |  SELECT i, j FROM edges
      |  UNION
      |  SELECT r.src, e.j FROM reach r JOIN edges e ON r.dst = e.i),
      |labels AS (
      |  SELECT src AS doc_id, least(src, min(dst)) AS cluster
      |  FROM reach GROUP BY src),
      |keyed AS (
      |  SELECT d.doc_id, coalesce(l.cluster, d.doc_id) AS cluster
      |  FROM documents d LEFT JOIN labels l USING (doc_id)),
      |rep AS (
      |  SELECT k.doc_id, k.cluster, r.text AS rep_text
      |  FROM keyed k JOIN documents r ON r.doc_id = k.cluster)
      |SELECT doc_id, cluster,
      |  CASE WHEN $bucket < 900 THEN 'train'
      |       WHEN $bucket < 950 THEN 'val' ELSE 'test' END AS split
      |FROM rep ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- d20
  /** SEMANTIC dedup via the kNN graph (SemDeDup, Abbas et al. 2023) — the
    * semantic-cluster rung of the dedup ladder: embeddings cluster on the
    * k-NN GRAPH restricted to cos ≥ τ, one representative (min id) kept
    * per cluster. vs d8 (LSH-bucket pairs → CC): the kNN graph BOUNDS THE
    * DEGREE — edge volume is O(n·k) by construction, immune to the dense-
    * blob failure mode where a hot semantic region's bucket pairs go
    * quadratic (the d8 shape's one soft spot at corpus scale); SemDeDup's
    * published form (cluster → within-cluster graph → keep one) is
    * exactly this composition. Edges ride s15's production output — the
    * graph is built once and reused across dedup, clustering and
    * retrieval — then d7/d8's CC engine [[labelClusters]] labels
    * components; singletons keep themselves.
    * 100 TB: s15's candidate stage is the bounded (t, bucket) self-join;
    * CC runs over ≤ n·k/2 8-byte edges; the keep decision is one
    * map-side comparison. Oracle: s15's SQL as a CTE + the d8 recursive
    * closure + a corpus left-join for singletons.
    */
  def d20SemanticDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val knn = graft.similarity.Similarity.s15KnnGraph(spark, sfDir)
    val pairs = knn.filter(col("cos") >= CosineThreshold)
      .select(least(col("q_id"), col("neighbor_id")).as("i"),
        greatest(col("q_id"), col("neighbor_id")).as("j"))
      .distinct()
    val labels = labelClusters(pairs, "vec_id")
    Tables(spark, sfDir, "embeddings").select(col("vec_id"))
      .join(labels, Seq("vec_id"), "left")
      .withColumn("cluster", coalesce(col("cluster"), col("vec_id")))
      .withColumn("is_kept", (col("vec_id") === col("cluster")).cast("int"))
      .select(col("vec_id"), col("cluster"), col("is_kept"))
      .orderBy(col("vec_id"))
  }

  val d20Sql: String = {
    val knn = graft.similarity.Similarity.s15Sql
    s"""WITH RECURSIVE knn AS ($knn),
      |p AS (
      |  SELECT DISTINCT least(q_id, neighbor_id) AS i,
      |    greatest(q_id, neighbor_id) AS j
      |  FROM knn WHERE cos >= $CosineThreshold),
      |edges AS (SELECT i, j FROM p UNION SELECT j, i FROM p),
      |reach(src, dst) AS (
      |  SELECT i, j FROM edges
      |  UNION
      |  SELECT r.src, e2.j FROM reach r JOIN edges e2 ON r.dst = e2.i),
      |labels AS (
      |  SELECT src AS vec_id, least(src, min(dst)) AS cluster
      |  FROM reach GROUP BY src)
      |SELECT v.vec_id, coalesce(l.cluster, v.vec_id) AS cluster,
      |  CAST(v.vec_id = coalesce(l.cluster, v.vec_id) AS INT) AS is_kept
      |FROM (SELECT vec_id FROM embeddings) v
      |LEFT JOIN labels l USING (vec_id)
      |ORDER BY v.vec_id""".stripMargin
  }

  // ---------------------------------------------------------------- d21
  /** Exact duplicated-substring removal — the token-window form of
    * suffix-array training-data dedup (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better"): every [[SubstrWin]]-token
    * sliding window that occurs anywhere else in the corpus keeps only its
    * globally FIRST occurrence (min (doc_id, pos)); every later occurrence
    * is flagged, and flagged windows union into maximal removal spans per
    * doc (interval union via running-max island detection — a 100-token
    * duplicated block collapses to ONE span, not 85 windows). Output is
    * per-doc removal accounting plus the md5 of the span-stripped text —
    * both engines prove the exact same reassembly. Unlike d9 (fixed
    * non-overlapping segments) the sliding window catches duplication at
    * ANY offset — cross-doc quoting and boilerplate whose boundaries never
    * line up with segment edges. Note the Lee-et-al. subtlety holds here
    * too: an owner window's tokens can still be removed when a DIFFERENT
    * duplicated window overlaps them; ownership is per-window, coverage is
    * per-token.
    * 100 TB: window hashing is map-side (the shuffle carries (md5, 8-byte
    * packed ord), never window text); ownership is one partial-aggregated
    * groupBy on the hash; span union is one per-doc window sort; the
    * kept-text rebuild hash-anti-joins token positions against spans on
    * doc_id. The pair space is never materialized — cost is O(tokens · W)
    * map-side char work (a rolling Rabin-Karp over per-token hashes drops
    * that to O(tokens); md5-of-joined-window keeps the oracle bit-exact —
    * the documented tradeoff) plus O(windows) shuffle. The packed
    * (doc_id·2²⁰ + pos) tiebreak key assumes docs under ~1M tokens; longer
    * docs would switch to min(struct(doc_id, pos)).
    */
  val SubstrWin = 16

  def d21SubstringDedup(spark: SparkSession, sfDir: String): DataFrame =
    d21Of(Tables(spark, sfDir, "documents"))

  private[graft] def d21Of(documents: DataFrame): DataFrame = {
    val L = SubstrWin
    val docs = documents
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .pin() // feeds windows, the token explode, and the summary
    val ord = col("doc_id") * 1000000L + col("pos")
    val wins = docs.filter(size(col("t")) >= L)
      .select(col("doc_id"),
        explode(sequence(lit(0L), (size(col("t")) - L).cast("long"))).as("pos"),
        col("t"))
      .select(col("doc_id"), col("pos"),
        md5(array_join(slice(col("t"), (col("pos") + 1).cast("int"), lit(L)), " ")
          .cast("binary")).as("h"))
    val owners = wins.groupBy(col("h")).agg(min(ord).as("own"))
    val flagged = wins.join(owners, "h").filter(ord =!= col("own"))
      .select(col("doc_id"), col("pos"))
    val byPos = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val spans = flagged
      .withColumn("e", col("pos") + L)
      .withColumn("st",
        when(col("pos") > coalesce(
          max(col("e")).over(byPos.rowsBetween(Window.unboundedPreceding, -1)),
          lit(-1L)), 1).otherwise(0))
      .withColumn("g", sum(col("st")).over(byPos))
      .groupBy(col("doc_id"), col("g"))
      .agg(min(col("pos")).as("s"), max(col("e")).as("e"))
    val toks = docs.select(col("doc_id"), posexplode(col("t")).as(Seq("p", "tok")))
    val kept = toks.alias("k").join(spans.alias("sp"),
      col("k.doc_id") === col("sp.doc_id") &&
        col("k.p") >= col("sp.s") && col("k.p") < col("sp.e"), "left_anti")
    val keptAgg = kept.groupBy(col("doc_id"))
      .agg(md5(array_join(
        transform(array_sort(collect_list(struct(col("p"), col("tok")))),
          x => x.getField("tok")), " ").cast("binary")).as("kept_fp"))
    val flagAgg = flagged.groupBy(col("doc_id")).agg(count(lit(1)).as("dup_wins"))
    val spanAgg = spans.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"), sum(col("e") - col("s")).as("tokens_removed"))
    docs.select(col("doc_id"), size(col("t")).cast("long").as("n_tok"))
      .join(flagAgg, Seq("doc_id"), "left")
      .join(spanAgg, Seq("doc_id"), "left")
      .join(keptAgg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tok"),
        coalesce(col("dup_wins"), lit(0L)).as("dup_wins"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("tokens_removed"), lit(0L)).as("tokens_removed"),
        coalesce(col("kept_fp"), md5(lit("").cast("binary"))).as("kept_fp"))
      .orderBy(col("doc_id"))
  }

  val d21Sql: String = {
    val L = SubstrWin
    s"""WITH docs AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |wins AS (SELECT doc_id, CAST(unnest(range(len(t) - $L + 1)) AS BIGINT) AS pos, t
      |         FROM docs WHERE len(t) >= $L),
      |hashed AS (SELECT doc_id, pos,
      |    md5(array_to_string(list_slice(t, pos + 1, pos + $L), ' ')) AS h FROM wins),
      |owners AS (SELECT h, min(doc_id * 1000000 + pos) AS own FROM hashed GROUP BY h),
      |flagged AS (SELECT f.doc_id, f.pos FROM hashed f JOIN owners o ON f.h = o.h
      |            WHERE f.doc_id * 1000000 + f.pos <> o.own),
      |isl AS (SELECT doc_id, pos, pos + $L AS e,
      |    CASE WHEN pos > coalesce(max(pos + $L) OVER (PARTITION BY doc_id ORDER BY pos
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) THEN 1 ELSE 0 END AS st
      |  FROM flagged),
      |sp AS (SELECT doc_id, min(pos) AS s, max(e) AS e FROM
      |   (SELECT doc_id, pos, e, sum(st) OVER (PARTITION BY doc_id ORDER BY pos) AS g FROM isl)
      |   GROUP BY doc_id, g),
      |tok2 AS (SELECT doc_id, CAST(p AS BIGINT) AS p, list_extract(t, p + 1) AS tok
      |         FROM (SELECT doc_id, unnest(range(len(t))) AS p, t FROM docs)),
      |kept AS (SELECT k.doc_id, k.p, k.tok FROM tok2 k
      |  WHERE NOT EXISTS (SELECT 1 FROM sp WHERE sp.doc_id = k.doc_id
      |                    AND k.p >= sp.s AND k.p < sp.e)),
      |keptagg AS (SELECT doc_id, md5(string_agg(tok, ' ' ORDER BY p)) AS kept_fp
      |  FROM kept GROUP BY doc_id),
      |flagagg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dup_wins
      |  FROM flagged GROUP BY doc_id),
      |spagg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
      |  CAST(sum(e - s) AS BIGINT) AS tokens_removed FROM sp GROUP BY doc_id)
      |SELECT d.doc_id, CAST(len(d.t) AS BIGINT) AS n_tok,
      |  coalesce(f.dup_wins, CAST(0 AS BIGINT)) AS dup_wins,
      |  coalesce(s.n_spans, CAST(0 AS BIGINT)) AS n_spans,
      |  coalesce(s.tokens_removed, CAST(0 AS BIGINT)) AS tokens_removed,
      |  coalesce(k.kept_fp, md5('')) AS kept_fp
      |FROM docs d LEFT JOIN flagagg f USING (doc_id) LEFT JOIN spagg s USING (doc_id)
      |  LEFT JOIN keptagg k USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- d23
  /** INCREMENTAL containment probe — d10's asymmetric doc-inside-doc
    * detection in d16's batch-vs-corpus shape, covering BOTH directions a
    * real ingest needs: (a) an arriving doc contained in standing corpus
    * (quoted/wrapped rehash of something already kept — drop it) and (b)
    * a standing doc contained in the arrival (the arrival is the fuller
    * version — supersede). Candidates per direction via the PPJoin prefix
    * filter, lossless by d10's argument applied per side: direction (a)
    * joins the BATCH docs' prefixes against the standing corpus's FULL
    * inverted index; direction (b) joins the standing corpus's persisted
    * PREFIX index (an O(0.1·|sh|)-per-doc standing artifact) against the
    * batch's full index. Verification (exact containment ≥
    * [[ContainmentTau]]) runs only on id-distinct candidates.
    * 100 TB: both probe joins are O(batch·|sh|) keys against standing
    * tables — per-ingest cost scales with the batch, never the corpus;
    * the two standing indexes are append-only and bucketable on the
    * shingle key for shuffle-free probes (d16's note verbatim).
    */
  def d23IncrementalContainment(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), shingleHashes(col("text")).as("sh"))
      .select(col("doc_id"), array_sort(col("sh")).as("sh"))
      .withColumn("n", size(col("sh")))
      .pin()
    val prefixLen = ((col("n") - col("n") % 10) / 10 + 1).cast("int")
    // d10's saturation-proof probe shape, applied per direction: inline
    // payloads, length + positional filters, verify on the join stream,
    // first-shared-key exactly-once emission — no candidate distinct, no
    // pair-level join-backs (see [[d10FromShingles]])
    def prefixes(d: DataFrame) = d.select(col("doc_id").as("i"),
      col("n").as("n_i"), col("sh").as("sh_i"),
      explode(slice(col("sh"), lit(1), prefixLen)).as("key"))
    def index(d: DataFrame) = d
      .select(col("doc_id").as("j"), col("n").as("n_j"),
        col("sh").as("sh_j"), posexplode(col("sh")))
      .select(col("j"), col("n_j"), col("sh_j"), (col("pos") + 1).as("l"),
        col("col").as("key"))
    val minShared = ceil(lit(ContainmentTau) * col("n_i"))
    def probe(p: DataFrame, x: DataFrame) = p.hint("shuffle_hash")
      .join(x, Seq("key"))
      .filter(col("n_j") >= minShared &&
        col("l") <= col("n_j") - minShared + 1)
      .filter(sortedIntersectHead(col("sh_i"), col("sh_j")) === col("key"))
      .withColumn("containment",
        sortedIntersectCount(col("sh_i"), col("sh_j")).cast("double") /
          col("n_i"))
      .filter(col("containment") >= ContainmentTau)
      .select(col("i"), col("j"),
        round(col("containment"), 6).as("containment"))
    val batch = docs.filter(col("doc_id") % 5 === 0)
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    probe(prefixes(batch), index(corpus))
      .unionAll(probe(prefixes(corpus), index(batch)))
      .orderBy(col("i"), col("j"))
  }

  /** Oracle: brute-force ordered containment over pairs with EXACTLY ONE
    * batch side (both directions), losslessness making both sides agree.
    */
  val d23Sql: String = {
    val ths = sqlTokenHashes("text")
    s"""SELECT a.doc_id AS i, b.doc_id AS j,
      |  round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(a.sh), 6)
      |    AS containment
      |FROM (SELECT doc_id, ${sqlShingles("ths")} AS sh
      |      FROM (SELECT doc_id, $ths AS ths FROM documents)) a
      |JOIN (SELECT doc_id, ${sqlShingles("ths")} AS sh
      |      FROM (SELECT doc_id, $ths AS ths FROM documents)) b
      |  ON a.doc_id <> b.doc_id AND ((a.doc_id % 5 = 0) <> (b.doc_id % 5 = 0))
      |WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(a.sh) >= $ContainmentTau
      |ORDER BY i, j""".stripMargin
  }

  // ---------------------------------------------------------------- d22
  /** LSH BANDING AUTO-TUNER — the (bands, rows) knob behind d2/d11/d16,
    * chosen instead of inherited: for a target Jaccard threshold τ and a
    * signature width P, every divisor split b·r = P has the S-curve
    * P_hit(s) = 1 − (1 − s^r)^b with inflection ≈ (1/b)^(1/r); the tuner
    * picks the split minimizing the weighted error mass
    * w_fn·∫_{s≥τ}(1−P_hit) + w_fp·∫_{s<τ}P_hit on a fixed 1000-point
    * grid (closed-form, driver-side, no Spark job — this is a PLANNING
    * utility, the knob a production deployment sets per threshold).
    * Asymmetric weights encode the real cost split: false negatives are
    * silent corpus duplication (usually the expensive side), false
    * positives only cost exact-verify CPU — w_fn ≫ w_fp pushes the
    * inflection BELOW τ, which is exactly why d2 runs (32, 4) with its
    * inflection at 0.42 against a 0.8 verify threshold: at the planted
    * J ≥ 0.97 the miss probability is (1−0.97⁴)³² ≈ 1e−30 and every
    * false candidate dies in the exact verify. Deterministic: fixed grid,
    * fixed tie-break (objective, then fewer rows).
    */
  case class LshPlan(bands: Int, rows: Int, threshold: Double,
      fnMass: Double, fpMass: Double)

  def lshTune(tau: Double, perms: Int = MinHashPerms,
      wFn: Double = 1.0, wFp: Double = 1.0): LshPlan = {
    require(tau > 0 && tau < 1, s"tau must be in (0,1): $tau")
    require(perms > 0)
    val grid = (0 until 1000).map(i => (i + 0.5) / 1000)
    def masses(b: Int, r: Int): (Double, Double) = {
      var fn = 0.0; var fp = 0.0
      grid.foreach { s =>
        val p = 1.0 - math.pow(1.0 - math.pow(s, r), b)
        if (s >= tau) fn += (1 - p) / 1000 else fp += p / 1000
      }
      (fn, fp)
    }
    val candidates = (1 to perms).filter(perms % _ == 0).map(r => (perms / r, r))
    val (b, r) = candidates.minBy { case (bb, rr) =>
      val (fn, fp) = masses(bb, rr)
      (wFn * fn + wFp * fp, rr)
    }
    val (fn, fp) = masses(b, r)
    LshPlan(b, r, math.pow(1.0 / b, 1.0 / r), fn, fp)
  }

  // ---------------------------------------------------------------- ST25
  /** ST25: LIVE near-dup ingest gate — d16 STREAMED, the dedup twin of
    * ST21's live ANN ingest and the last core live shape the dedup family
    * was missing. Arriving documents are signature-encoded per micro-batch
    * (shingle/minhash are per-row — corpus-independent, like ST21's frozen
    * model), probed against the STANDING band/shingle tables on disk for
    * cross-batch matches, self-joined for within-batch matches, and then
    * APPENDED to the standing tables — state is the persisted index, not
    * executor memory, so the gate restarts from disk and its per-trigger
    * cost is O(batch): exactly d16's asymmetric probe, once per trigger.
    * EXACTNESS CONTRACT (spec'd): an unordered near-dup pair {a, b}
    * surfaces exactly once, in the micro-batch where the LATER of a, b
    * arrives — so the union of per-batch match lists over any batching of
    * the corpus ≡ d2's full self-join, pair for pair. (LSH losslessness at
    * the planted J ≥ 0.97 is d2's argument verbatim.)
    * 100 TB: both probe joins key on the 8-byte band fold; the standing
    * band table is append-only and bucketable by sig for a shuffle-free
    * probe side; shingle payloads join back only for id-distinct verified
    * candidates (d16's note). A horizon policy (drop standing rows older
    * than the dedup window) bounds state like a watermark would.
    */
  private[graft] def signaturesOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), shingleHashes(col("text")).as("sh"))
      .withColumn("mh", minHashSignature(col("sh"), MinHashPerms))

  /** One trigger of the gate over a (doc_id, text) micro-batch: RETURNS
    * the verified (i, j, jaccard) matches (i < j, both orientations
    * folded) and appends the batch's signatures to the standing tables.
    * The matches are materialized BEFORE the append (the returned frame
    * must not see the batch's own rows as standing state).
    */
  /** One trigger of the gate, EXACTLY-ONCE under micro-batch replay: all
    * standing-table writes are EPOCH-KEYED OVERWRITES (`…/e=<epoch>/`,
    * Spark partition-dir layout) and the standing side reads only epochs
    * STRICTLY BEFORE this one — so a crash-replayed epoch excludes its own
    * earlier (possibly partial) write from the probe, recomputes the
    * identical matches, and overwrites its own slot instead of appending a
    * duplicate (plain `mode(append)` state would double every replayed
    * signature AND re-emit its pairs; `StreamingNearDupSpec` replays an
    * epoch twice and asserts state and matches are unchanged).
    */
  def st25IngestGateBatch(spark: SparkSession, batch: DataFrame,
      root: String, epoch: Long): DataFrame = {
    val bandsDir = s"$root/bands"
    val shinglesDir = s"$root/shingles"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // PER-DIR existence (not one proxy): the two state writes below are
    // sequential, so a crash between them leaves bands present and
    // shingles absent — a replay gated on bandsDir alone would throw
    // PATH_NOT_FOUND on the missing sibling instead of recovering
    def dirExists(d: String) = fs.exists(new org.apache.hadoop.fs.Path(d))
    val hasState = dirExists(bandsDir)
    val sig = signaturesOf(batch).pin()
    val bands = bandSignatures(sig)
    val selfCand = bands.alias("x").join(bands.alias("y"),
        col("x.band") === col("y.band") && col("x.sig") === col("y.sig") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("i"), col("y.doc_id").as("j"))
    // prior epochs only — partition pruning makes the e filter free
    val standingBands =
      if (hasState) spark.read.parquet(bandsDir)
        .filter(col("e") < epoch).drop("e")
      else null
    val cand = (if (standingBands == null) selfCand
      else {
        val cross = bands.alias("x").join(standingBands.alias("y"),
            col("x.band") === col("y.band") && col("x.sig") === col("y.sig"))
          .select(least(col("x.doc_id"), col("y.doc_id")).as("i"),
            greatest(col("x.doc_id"), col("y.doc_id")).as("j"))
        selfCand.unionAll(cross)
      }).distinct()
    val shingleStore = sig.select(col("doc_id"), col("sh")).unionByName(
      if (dirExists(shinglesDir)) spark.read.parquet(shinglesDir)
        .filter(col("e") < epoch).drop("e").select(col("doc_id"), col("sh"))
      else sig.select(col("doc_id"), col("sh")).where(lit(false)))
    val matches = cand
      .join(shingleStore.select(col("doc_id").as("i"), col("sh").as("sh_i")), Seq("i"))
      .join(shingleStore.select(col("doc_id").as("j"), col("sh").as("sh_j")), Seq("j"))
      .withColumn("jac",
        size(array_intersect(col("sh_i"), col("sh_j"))).cast("double") /
          size(array_union(col("sh_i"), col("sh_j"))))
      .filter(col("jac") >= 0.8)
      .select(col("i"), col("j"), round(col("jac"), 6).as("jaccard"))
      .pin() // pin BEFORE the writes mutate the standing dirs
    bands.write.mode("overwrite").parquet(s"$bandsDir/e=$epoch")
    sig.select(col("doc_id"), col("sh"))
      .write.mode("overwrite").parquet(s"$shinglesDir/e=$epoch")
    matches
  }

  /** The streaming driver: file-source micro-batches of documents through
    * [[st25IngestGateBatch]]; match lists land epoch-keyed under
    * `$root/matches` (same overwrite-idempotence as the state tables).
    */
  def streamingNearDupIngest(spark: SparkSession, inDir: String,
      schema: org.apache.spark.sql.types.StructType,
      root: String): org.apache.spark.sql.streaming.StreamingQuery =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        st25IngestGateBatch(spark, batch, root, epoch)
          .write.mode("overwrite").parquet(s"$root/matches/e=$epoch")
        ()
      }
      .option("checkpointLocation", s"$root/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  // ---------------------------------------------------------------- d24
  /** DEDUP REGISTRY AS AN INCREMENTALLY-MAINTAINED VIEW — d1's exact
    * content-hash dedup riding the snapshot layer's CDF (the poll-based
    * twin of ST25's streamed gate, and the form a scheduled curation job
    * runs): the registry (text_hash → keep_id, n_copies) is a snapshot
    * table maintained from the versioned corpus's deltas. Both partials
    * are MERGEABLE (min-merge for keep_id, sum for n_copies), so under
    * append lineage a maintenance run prices at O(new bytes + registry)
    * and the result is EXACTLY the full recompute — d1's oracle SQL
    * verbatim certifies the final registry after three interleaved
    * appends. Runs through [[graft.ops.Layout.maintainView]] (rows
    * stamped `base_version`, header `mvBase`): broken lineage (a removal
    * can't be subtracted from a count) recomputes with one full scan.
    * 100 TB: the registry shuffles 32-char hashes, never documents; the
    * daily delta maintenance replaces the full-corpus GROUP BY re-run.
    */
  private val dedupViewLock = new Object

  def maintainDedupRegistry(spark: SparkSession, baseRoot: String,
      viewRoot: String): Int = {
    import graft.ops.Layout
    def rollup(df: DataFrame): DataFrame = df
      .groupBy(md5(col("text").cast("binary")).as("text_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
    Layout.maintainView(spark, Seq(baseRoot), viewRoot, Seq("base_version"),
      appendOnly = true)(
      recompute = heads => rollup(Layout.readSnapshot(spark, baseRoot, heads.head)),
      fold = (processed, heads) => {
        val delta = rollup(Layout.changeInserts(Layout.snapshotChangesUnion(
          spark, baseRoot, processed.head, heads.head)))
        Some(Layout.ViewUpdate(Layout.readSnapshot(spark, viewRoot)
          .select(col("text_hash"), col("keep_id").as("old_keep"),
            col("n_copies").as("old_n"))
          .join(delta, Seq("text_hash"), "full_outer")
          .select(col("text_hash"),
            least(col("old_keep"), col("keep_id"))
              .as("keep_id"), // least() skips nulls: min-merge of partials
            (coalesce(col("old_n"), lit(0L)) +
              coalesce(col("n_copies"), lit(0L))).as("n_copies")), append = false))
      }).head
  }

  /** d24's driver demo: the d1 corpus (documents ∪ their +1e6-shifted
    * copies) arrives as THREE appends to a versioned table, the registry
    * maintains after each; the final registry ≡ d1's one-shot GROUP BY —
    * the oracle is d1's SQL verbatim.
    */
  def d24DedupRegistryView(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.ops.Layout
    val root = graft.ops.Relational.sessionRoot(sfDir, "dedupv")
    val (baseRoot, viewRoot) = (s"$root/base", s"$root/registry")
    dedupViewLock.synchronized {
      if (Layout.snapshotVersions(spark, viewRoot).isEmpty) {
        val docs = Tables(spark, sfDir, "documents")
          .select(col("doc_id"), col("text"))
        val corpus = docs.unionAll(
          docs.select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
        Seq(0, 1, 2).foreach { b =>
          Layout.snapshotAppend(spark, baseRoot,
            corpus.filter(col("doc_id") % 3 === b))
          maintainDedupRegistry(spark, baseRoot, viewRoot)
        }
      }
    }
    Layout.readSnapshot(spark, viewRoot)
      .select(col("keep_id"), col("n_copies"), col("text_hash"))
      .orderBy(col("keep_id"))
  }

  /** Oracle: d1's verbatim — incremental min/sum merges ≡ one GROUP BY. */
  val d24Sql: String = d1Sql

  // ---------------------------------------------------------------- ST30
  /** ST30: LIVE containment ingest gate — d23 STREAMED, closing the live
    * dedup matrix (ST25 = near-dup/Jaccard live, this = doc-inside-doc
    * live): each micro-batch is shingled per-row (corpus-independent),
    * probed BOTH directions against the standing state — batch prefixes
    * against the standing FULL inverted index (an arrival contained in
    * the corpus) and the standing PREFIX index against the batch's full
    * index (a standing doc contained in the fuller arrival) — plus the
    * within-batch self probe, then appended to all three standing tables.
    * State is the persisted index, not executor memory (restarts from
    * disk); per-trigger cost is O(batch·|sh|) keys against standing
    * append-only tables — d23's asymmetric probes, once per trigger.
    * EXACTNESS CONTRACT (spec'd): an ordered containment pair (i→j)
    * surfaces exactly once, in the micro-batch where the LATER of i, j
    * arrives — the union of per-batch match lists over ANY batching of
    * the corpus ≡ d10's full ordered-pair output, pair for pair
    * (prefix-filter losslessness is d10's argument applied per side).
    * EXACTLY-ONCE under replay: ST25's protocol verbatim — epoch-keyed
    * overwrites, standing reads strictly before the current epoch.
    */
  def st30ContainmentGateBatch(spark: SparkSession, batch: DataFrame,
      root: String, epoch: Long): DataFrame = {
    val idxDir = s"$root/index"
    val prefDir = s"$root/prefixes"
    val shDir = s"$root/shingles"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val docs = batch.select(col("doc_id"), shingleHashes(col("text")).as("sh"))
      .select(col("doc_id"), array_sort(col("sh")).as("sh"))
      .withColumn("n", size(col("sh")))
      .pin()
    val prefixLen = ((col("n") - col("n") % 10) / 10 + 1).cast("int")
    val bPref = docs.select(col("doc_id").as("i"),
      explode(slice(col("sh"), lit(1), prefixLen)).as("key"))
    val bIdx = docs.select(col("doc_id").as("j"), explode(col("sh")).as("key"))
    // existence is PER DIR, not a single proxy: the three state writes
    // below are sequential, so a crash between them leaves some dirs
    // present and some not — a replay gated on one proxy dir would throw
    // PATH_NOT_FOUND on the missing sibling instead of recovering
    def standing(dir: String) =
      if (fs.exists(new org.apache.hadoop.fs.Path(dir)))
        Some(spark.read.parquet(dir).filter(col("e") < epoch).drop("e"))
      else None
    val selfCand = bPref.join(bIdx, Seq("key"))
      .filter(col("i") =!= col("j")).select(col("i"), col("j"))
    val cand = (standing(idxDir), standing(prefDir)) match {
      case (Some(sIdx), Some(sPref)) =>
        selfCand
          .unionAll(bPref.join(sIdx, Seq("key")).select(col("i"), col("j")))
          .unionAll(sPref.join(bIdx, Seq("key")).select(col("i"), col("j")))
      case _ => selfCand
    }
    val store = docs.select(col("doc_id"), col("sh")).unionByName(
      standing(shDir).getOrElse(
        docs.select(col("doc_id"), col("sh")).where(lit(false))))
    val matches = cand.distinct()
      .join(store.select(col("doc_id").as("i"), col("sh").as("sh_i")), Seq("i"))
      .join(store.select(col("doc_id").as("j"), col("sh").as("sh_j")), Seq("j"))
      .withColumn("containment",
        size(array_intersect(col("sh_i"), col("sh_j"))).cast("double") /
          size(col("sh_i")))
      .filter(col("containment") >= ContainmentTau)
      .select(col("i"), col("j"), round(col("containment"), 6).as("containment"))
      .pin() // pin BEFORE the writes mutate the standing dirs
    bIdx.write.mode("overwrite").parquet(s"$idxDir/e=$epoch")
    bPref.write.mode("overwrite").parquet(s"$prefDir/e=$epoch")
    docs.select(col("doc_id"), col("sh"))
      .write.mode("overwrite").parquet(s"$shDir/e=$epoch")
    matches
  }

  /** The streaming driver: file-source micro-batches through
    * [[st30ContainmentGateBatch]]; matches land epoch-keyed (same
    * overwrite-idempotence as the state tables).
    */
  def streamingContainmentIngest(spark: SparkSession, inDir: String,
      schema: org.apache.spark.sql.types.StructType,
      root: String): org.apache.spark.sql.streaming.StreamingQuery =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        st30ContainmentGateBatch(spark, batch, root, epoch)
          .write.mode("overwrite").parquet(s"$root/matches/e=$epoch")
        ()
      }
      .option("checkpointLocation", s"$root/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d23_incremental_containment" -> (d23IncrementalContainment _),
    "d24_dedup_registry_view" -> (d24DedupRegistryView _),
    "d21_substring_dedup" -> (d21SubstringDedup _),
    "d20_semantic_dedup" -> (d20SemanticDedup _),
    "d19_edit_dedup_auto" -> (d19EditDedupAuto _),
    "d18_cluster_split" -> (d18ClusterSplit _),
    "d17_edit_dedup_selective" -> (d17EditDedupSelective _),
    "d15_edit_dedup" -> (d15EditDedup _),
    "d16_incremental_neardup" -> (d16IncrementalNeardup _),
    "d14_embedding_simhash" -> (d14EmbeddingSimhash _),
    "d13_incremental_dedup" -> (d13IncrementalDedup _),
    "d9_segment_dedup" -> (d9SegmentDedup _),
    "d10_containment" -> (d10Containment _),
    "d11_minhash_estimate" -> (d11MinhashEstimate _),
    "d12_estimate_dedup" -> (d12EstimateDedup _),
    "d1_exact_dedup" -> (d1ExactDedup _),
    "d2_minhash_lsh" -> (d2MinHashLsh _),
    "d3_simhash" -> (d3SimHash _),
    "d4_ngram_jaccard" -> (d4NgramJaccard _),
    "d5_embedding_dedup" -> (d5EmbeddingDedup _),
    "d6_scoped_dedup" -> (d6ScopedDedup _),
    "d7_dedup_clusters" -> (d7DedupClusters _),
    "d8_embed_clusters" -> (d8EmbedClusters _))

  val sql: Map[String, String] = Map(
    // the auto-switch picks a blocking, never changes the contract — the
    // oracle is the same brute force both arms share
    "d23_incremental_containment" -> d23Sql,
    "d24_dedup_registry_view" -> d24Sql,
    "d21_substring_dedup" -> d21Sql,
    "d20_semantic_dedup" -> d20Sql,
    "d19_edit_dedup_auto" -> d15Sql,
    "d18_cluster_split" -> d18Sql,
    // same contract as d15, independently re-verified through the
    // selective blocking — the oracle is the shared brute force
    "d17_edit_dedup_selective" -> d15Sql,
    "d15_edit_dedup" -> d15Sql,
    "d16_incremental_neardup" -> d16Sql,
    "d14_embedding_simhash" -> d14Sql,
    "d13_incremental_dedup" -> d13Sql,
    "d9_segment_dedup" -> d9Sql,
    "d10_containment" -> d10Sql,
    "d11_minhash_estimate" -> d11Sql,
    "d12_estimate_dedup" -> d12Sql,
    "d1_exact_dedup" -> d1Sql,
    "d2_minhash_lsh" -> d2Sql,
    "d3_simhash" -> d3Sql,
    "d4_ngram_jaccard" -> d4Sql,
    "d5_embedding_dedup" -> d5Sql,
    "d6_scoped_dedup" -> d6Sql,
    "d7_dedup_clusters" -> d7Sql,
    "d8_embed_clusters" -> d8Sql)
}
