package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.functions._

/** Shared column builders for the LLM-pipeline operators, plus the DuckDB
  * SQL spellings of the same arithmetic.
  *
  * Everything here follows one rule: the math must be *portable* — exactly
  * re-expressible in DuckDB SQL so the driver's oracle can recompute it.
  * That means pure integer arithmetic (no engine hash functions, no float
  * accumulation ambiguity) on a prime field mod P = 2^31 - 1. Products stay
  * under 2^63 (P² ≈ 4.6e18), so everything fits in BIGINT on both engines.
  *
  * Hot-path builders delegate to the native expressions in
  * Expressions.scala ([[graft.functions.MinHashSigExpr]],
  * [[graft.functions.DotProductExpr]], …) — identical arithmetic, ~50×
  * faster than the interpreted higher-order-function formulation; the
  * lightweight token-level helpers stay as Catalyst HOFs.
  */
package object functions {

  /** Prime modulus for all portable hashing (2^31 - 1, Mersenne). */
  val P: Long = PortableHash.P

  /** Word-level combine base for shingles. */
  val ShingleBase: Long = PortableHash.ShingleBase

  private def native(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    GraftColumnBridge.column(e)
  private def ex(c: Column) = GraftColumnBridge.expression(c)

  /** Session-conf-driven scale knob with a pinned default. The DuckDB
    * oracles are static SQL built from the DEFAULTS, so the driver's
    * correctness gate always runs the default geometry; a deployment
    * re-tunes via conf (e.g. `spark.graft.lsh.planes` ≈ log₂(n/bucket
    * target) at production corpus sizes) without touching operator code.
    */
  def confInt(spark: org.apache.spark.sql.SparkSession, key: String,
      dflt: Int): Int =
    try spark.conf.get(key, dflt.toString).toInt
    catch { case _: Exception => dflt }

  /** [[confInt]] for long-valued knobs (row-count bounds). */
  def confLong(spark: org.apache.spark.sql.SparkSession, key: String,
      dflt: Long): Long =
    try spark.conf.get(key, dflt.toString).toLong
    catch { case _: Exception => dflt }

  /** WIDEN-BEFORE-AMPLIFY (round 18; optimization guide §2.2/§2.5): a
    * CPU-amplifying stage — a generator exploding ×10²–10³ rows per input
    * row (edit-dedup variant neighborhoods, LSH band/bucket explodes,
    * bigram windows) or a per-row compute doing 10³+ ops per input byte
    * (128-perm MinHash, hyperplane dot products, payload decoders) —
    * inherits its task count from its INPUT's partitioning. A compact
    * frame scanned from a few parquet splits therefore runs the whole
    * amplification on a handful of cores regardless of cluster width
    * (measured at sf0.1: d17's ~1.4k-row/doc variant explode was ONE
    * 12.6 s task in a 14 s query; the same mechanism is the sf10 "join
    * stage collapsed to 3–4 cores" straggler class — scan width tracks
    * input BYTES, which amplification makes a lie).
    *
    * Fix: round-robin repartition the compact frame to the session
    * shuffle width first. No-op when the frame is already at least that
    * wide — at big inputs scan width grows with the data, so this never
    * adds a shuffle at scale; when it does fire, it moves only the
    * PRE-amplification rows (≤ 1/amplification of the bytes the next
    * exchange moves anyway). Call it only on exchange-free frames
    * (scan/projection/pinned): `.rdd` on a plan that already contains
    * exchanges would trigger AQE stage execution at plan time.
    */
  def widen(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    widen(df, 0)

  /** [[widen]] with a BYTE-SCALED target width (round 19): width =
    * ⌈input bytes × amp / advisory partition size⌉, clamped to [current
    * partitions, session shuffle width]. `amp` is a lower bound on the
    * stage's work amplification (bytes of downstream work per input
    * byte); amp = 0 keeps the flat session-width behavior.
    *
    * Why: the flat widen is right when the amplified work is large at
    * every scale (the edit-family ×1.4k variant explode measures 12.6 s
    * of CPU at sf0.1 from a 350 KB key frame — full width always wins),
    * but for the ×10–10² stages (simhash, minhash, hyperplane buckets,
    * payload decodes, bigram windows) a toy input carries well under a
    * second of work and 32 near-empty tasks cost MORE than they
    * parallelize (measured round 19: full-width widen on t19's shingle
    * pass DOUBLED stage CPU in per-task setup and made a14 slower; the
    * 8-core driver rung shows the same queries scaling <1.0 to 32
    * cores). Byte-scaling keeps those stages at 1–4 tasks at sf0.1 and
    * still saturates the session at the sf10 rung, where a 50 MB
    * single-split documents scan × amp ≥ 64 clears the session width —
    * the sf10 plan this family's widen exists for is unchanged.
    * Default amp per call site is [[DefaultWidenAmp]].
    */
  def widen(df: org.apache.spark.sql.DataFrame, amp: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical._
    // PRECONDITION, enforced (round 19; was comment-only): `.rdd` below
    // resolves the plan's partitioning, and under AQE that EXECUTES any
    // query stages an exchange-bearing plan contains — silent eager
    // execution at plan time for a future caller. widen is for
    // scan/projection/pinned frames only; fail fast otherwise.
    val offending = df.queryExecution.logical.collect {
      case n @ (_: Join | _: Aggregate | _: RepartitionOperation | _: Sort |
                _: Window | _: Deduplicate | _: SetOperation) => n.nodeName
    }
    require(offending.isEmpty,
      "widen() requires an exchange-free frame (scan/projection/pinned); " +
        s"plan contains: ${offending.distinct.mkString(", ")}")
    val conf = df.sparkSession.sessionState.conf
    val session = conf.numShufflePartitions
    val target =
      if (amp <= 0) session
      else {
        val advisory = math.max(1L, conf.getConf(
          org.apache.spark.sql.internal.SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES))
        partitionsForBytes(
          df.queryExecution.optimizedPlan.stats.sizeInBytes, amp, advisory,
          session)
      }
    if (df.rdd.getNumPartitions >= target) df else df.repartition(target)
  }

  /** Work-amplification lower bound the ×10–10² widen call sites pass
    * (see [[widen]]).
    */
  val DefaultWidenAmp = 256

  /** Partitions needed for `mult × bytes` of data at `advisory` bytes per
    * partition, clamped to [1, cap] — the shared sizing rule for pinned
    * edge/iteration layouts (labelClusters, pagerank, BFS). All arithmetic
    * stays in BigInt: with unmeasured stats Catalyst's default estimates
    * can sit near Long.MaxValue, where a Long multiply overflows negative
    * and would silently collapse the width to 1 exactly on the largest
    * inputs.
    */
  def partitionsForBytes(bytes: BigInt, mult: Int, advisory: Long,
      cap: Int): Int =
    ((bytes * mult + advisory - 1) / advisory)
      .min(BigInt(cap)).max(BigInt(1)).toInt

  /** FUSED LOOP METRICS (round 19; guide §2.4 — remove a pass outright):
    * the iterative operators (CC label propagation, BFS frontier) pin
    * each round's frame and then run a tiny whole-frame aggregate — the
    * convergence sum, the frontier-drained count — as a SEPARATE job. At
    * sf0.1 that second job is pure per-job floor (~30–60 ms × rounds ×
    * every CC consumer); at the sf10 rung it is a second full pass over
    * the O(n) pinned rows each round. `Dataset.observe` computes the
    * same aggregate DURING the pin's own materialization (a
    * CollectMetrics accumulator riding the checkpoint action), so each
    * round schedules exactly one job.
    *
    * The observation listener delivers asynchronously: poll briefly and
    * return None on timeout — the caller falls back to a second job over
    * the pinned rows (same aggregate, same rows: the value, when it
    * arrives either way, is identical by construction). A platform whose
    * checkpoint action does not route QueryExecutionListener events
    * pays the wait ONCE per JVM, not once per round ([[obsBroken]]
    * memo). Every fallback — the timeout that sets the memo and each
    * call the memo answers — counts in [[observedFallbacks]], so the
    * second job a caller then runs is visible rather than silent.
    */
  @volatile private[graft] var obsBroken = false

  /** Calls of [[observedOrNone]] that returned None (the caller ran its
    * fallback job), since JVM start. */
  private[graft] val observedFallbacks = new java.util.concurrent.atomic.AtomicLong(0)

  def observedOrNone(o: org.apache.spark.sql.Observation,
      timeoutMs: Long = 2000): Option[Map[String, Any]] = {
    if (obsBroken) { observedFallbacks.incrementAndGet(); return None }
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    var m = org.apache.spark.sql.GraftObservationBridge.getOrEmpty(o)
    while (m.isEmpty && System.nanoTime() < deadline) {
      Thread.sleep(2)
      m = org.apache.spark.sql.GraftObservationBridge.getOrEmpty(o)
    }
    if (m.isEmpty) {
      obsBroken = true
      observedFallbacks.incrementAndGet()
      None
    } else Some(m.toMap)
  }

  // ------------------------------------------------------------ Spark side

  /** Epoch microseconds of a TIMESTAMP or TIMESTAMP_NTZ column. Spark 4
    * infers parquet micros written with isAdjustedToUTC=false (pandas/
    * pyarrow's default) as TIMESTAMP_NTZ, which `unix_micros` rejects with
    * DATATYPE_MISMATCH; the cast localizes NTZ in the session timezone
    * (pinned UTC in every graft session) — the same reading DuckDB's
    * epoch_us applies to the identical naive micros — and is a no-op for
    * an already-LTZ column, so the helper is type-agnostic.
    */
  def epochUs(c: Column): Column = unix_micros(c.cast("timestamp"))

  /** Epoch milliseconds; see [[epochUs]] for the NTZ contract. */
  def epochMs(c: Column): Column = unix_millis(c.cast("timestamp"))

  /** Polynomial char-fold hash of a string column: fold(h*31 + code(c)) mod P. */
  def charFoldHash(c: Column): Column = native(CharFoldExpr(ex(c)))

  /** Whitespace tokens (the corpus is single-space separated). */
  def tokens(text: Column): Column = split(text, " ")

  /** Per-token portable hashes, order-preserving (with multiplicity). */
  def tokenHashes(text: Column): Column =
    transform(tokens(text), t => charFoldHash(t))

  /** Distinct word-3-gram shingle hashes (combine consecutive token hashes
    * in the prime field).
    */
  def shingleHashes(text: Column): Column = native(ShingleHashesExpr(ex(text)))

  /** Distinct word-3-gram shingles as strings ("w1 w2 w3"). */
  def stringShingles(text: Column): Column = native(StringShinglesExpr(ex(text)))

  /** MinHash signature: for perm i, min over shingles s of (a_i·s+b_i) mod P. */
  def minHashSignature(shingles: Column, n: Int): Column =
    native(MinHashSigExpr(ex(shingles), n))

  /** SimHash bit vector over token hashes with multiplicity. */
  def simHashBits(text: Column, nBits: Int): Column =
    native(SimHashBitsExpr(ex(text), nBits))

  /** Hamming distance between two equal-length long arrays. */
  def hamming(a: Column, b: Column): Column = native(HammingExpr(ex(a), ex(b)))

  /** Sequential-fold dot product (index order — matches DuckDB bitwise). */
  def dot(a: Column, b: Column): Column = native(DotProductExpr(ex(a), ex(b)))

  /** size(array_intersect(a, b)) for SORTED distinct bigint arrays — one
    * codegen'd merge scan, no per-row hash set.
    */
  def sortedIntersectCount(a: Column, b: Column): Column =
    native(SortedIntersectCountExpr(ex(a), ex(b)))

  /** element_at(array_intersect(a, b), 1) for SORTED distinct bigint
    * arrays (null when disjoint) — first hit of the merge scan.
    */
  def sortedIntersectHead(a: Column, b: Column): Column =
    native(SortedIntersectHeadExpr(ex(a), ex(b)))

  /** Any pairwise collision among the first n entries of two bigint
    * arrays — the LSH first-colliding-table check, one codegen'd loop.
    */
  def prefixCollide(a: Column, b: Column, n: Column): Column =
    native(PrefixCollideExpr(ex(a), ex(b), ex(n)))

  /** Sub-blocks per bucket of [[blockedPairs]]' skew grid: a bucket's
    * pair space splits into G(G+1)/2 independently-joinable cells, so one
    * dense bucket parallelizes across ~G²/2 tasks instead of serializing
    * on whichever task drew its key.
    */
  val BlockedPairsGridG = 8

  /** The blocked PAIR SELF-JOIN of the near-dup and similarity family
    * (d3 simhash blocks, m6/m7 dHash blocks, the d5/d14/s15 hyperplane
    * tables): two rows are candidates when they share a blocking key at
    * the same position of their `keys` (a bigint array), and each
    * candidate pair is emitted EXACTLY ONCE, i < j. Returns (i, j, pi, pj)
    * where pi/pj are structs of the `payload` columns, so the caller
    * verifies ON THE JOIN STREAM and reduces to output rows with no
    * pair-level shuffle at all:
    *
    *  - payloads ride the bucket rows INLINE — O(n·|keys|·G) shuffle —
    *    instead of joining back per candidate pair (an ids-then-join-back
    *    shape shuffles the CANDIDATE multiset, which under dense-blob or
    *    saturated-block geometry is ~quadratic: the sf10 rung's 200 k
    *    vectors in 10 fixed label blobs spilled >60 GB and died);
    *  - cross-position duplicates are dropped STRUCTURALLY, not by a
    *    distinct: each row carries its whole `keys` array, and a pair
    *    survives only at its FIRST colliding position (no earlier entry
    *    matches pairwise — codegen'd [[PrefixCollideExpr]], since this
    *    predicate runs once per in-bucket candidate row);
    *  - SKEW GRID: each row gets a deterministic sub-block g of
    *    [[BlockedPairsGridG]] within its bucket, and a bucket's pair
    *    space is enumerated as a G×G upper-triangular grid of cells. A
    *    row in sub-block g plays the LEFT role of cells (g, g..G-1) and
    *    the RIGHT role of cells (0..g, g); a pair with blocks (gi, gj) meets
    *    in exactly ONE cell (min, max) — once off the diagonal, twice on
    *    it, where the id filter keeps one. Without the grid one dense
    *    bucket serializes its ~quadratic pair space on a single task
    *    (measured as a 27-minute straggler at the sf10 rung);
    *  - shuffle_hash: the cells are still equal-key join groups, and a
    *    sort-merge join RE-ITERATES its spilled right-side group once per
    *    left row (disk reads quadratic in cell size); the hash join holds
    *    the partition's build rows in one map and streams the probe once.
    *
    * The pair is id-ordered but the payloads are ROLE-ordered: pi/pj
    * belong to the a/b join roles, not to i/j — the callers' verifies
    * (cosine, hamming) are symmetric. In-bucket pair enumeration stays
    * CPU-quadratic per bucket, inherent to "list all qualifying pairs".
    * Callers widen BEFORE their per-row signature compute: widening here
    * would call `.rdd` on a plan the caller may already have shuffled,
    * which executes the exchange at plan time under AQE.
    */
  def blockedPairs(side: org.apache.spark.sql.DataFrame, id: String,
      keys: String, payload: Seq[String]): org.apache.spark.sql.DataFrame = {
    val rows = side
      .select(col(id).as("id"), col(keys).as("keys"),
        struct(payload.map(col): _*).as("p"), posexplode(col(keys)))
      .withColumnRenamed("col", "key")
      .withColumn("g",
        pmod(xxhash64(col("id"), lit(909)), lit(BlockedPairsGridG))
          .cast("int"))
    val pinned = graft.ops.Pin(rows) // keys compute once, not per side
    val left = pinned
      .withColumn("cgb",
        explode(sequence(col("g"), lit(BlockedPairsGridG - 1))))
      .withColumnRenamed("g", "cga")
    val right = pinned.withColumn("cga", explode(sequence(lit(0), col("g"))))
      .withColumnRenamed("g", "cgb")
    left.alias("a").hint("shuffle_hash")
      .join(right.alias("b"), Seq("pos", "key", "cga", "cgb"))
      .filter((col("cga") =!= col("cgb") || col("a.id") < col("b.id")) &&
        col("a.id") =!= col("b.id") &&
        !prefixCollide(col("a.keys"), col("b.keys"), col("pos")))
      .select(least(col("a.id"), col("b.id")).as("i"),
        greatest(col("a.id"), col("b.id")).as("j"),
        col("a.p").as("pi"), col("b.p").as("pj"))
  }

  /** Σ bit_count(a[i] xor b[i]) — bit-level hamming over long arrays. */
  def bitHamming(a: Column, b: Column): Column =
    native(BitHammingExpr(ex(a), ex(b)))

  /** Cosine similarity of two double-array columns. */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / sqrt(dot(a, a) * dot(b, b))

  /** Random-hyperplane LSH bucket: Σ_j [dot(plane_{off+j}, v) ≥ 0] · 2^j
    * with plane(g,i) = ((g·dim+i)·2654435761 mod 2^32) / 2^31 − 1.
    */
  def hyperplaneBucket(v: Column, nPlanes: Int, dim: Int, planeOffset: Int = 0,
      scrambled: Boolean = false): Column =
    native(HyperplaneBucketExpr(ex(v), nPlanes, dim, planeOffset, scrambled))

  /** Interleaved-bit z-value (Morton code) of long-valued columns already
    * scaled to [0, 2^bits) — see [[ZValueExpr]].
    */
  def zvalue(bits: Int, cols: Column*): Column =
    native(ZValueExpr(cols.map(c => ex(c.cast("long"))), bits))

  /** Deterministic SAMPLING bucket in [0, buckets): charFold then Knuth
    * multiplicative scrambling before the modulo. The raw polynomial fold
    * is fine as an identity hash but badly non-uniform mod small bases
    * when inputs share a prefix and differ in a few trailing digits
    * (consecutive ids land in consecutive residues) — the scramble
    * decorrelates it, measured within ~2% of the target rate on the
    * corpus keys. Product < 2^62, exact in BIGINT on both engines.
    */
  def hashBucket(c: Column, buckets: Int): Column =
    (charFoldHash(c) * lit(2654435761L)) % lit(4294967296L) % buckets

  // ------------------------------------------------------------ DuckDB side

  /** DuckDB spelling of [[charFoldHash]] applied to SQL expression `e`. */
  def sqlCharFold(e: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(string_split($e, ''), c -> CAST(unicode(c) AS BIGINT))), " +
      s"(h, c) -> (h * 31 + c) % $P)"

  /** DuckDB spelling of [[zvalue]] over SQL expressions (bit i of expr k →
    * position i·n + k, same mapping as ZValueExpr).
    */
  def sqlZValue(bits: Int, cols: Seq[String]): String = {
    val n = cols.size
    val terms = cols.zipWithIndex.map { case (c, k) =>
      s"list_sum([((($c) >> i) & 1) << (i*$n + $k) for i in range($bits)])"
    }
    s"CAST(${terms.mkString(" + ")} AS BIGINT)"
  }

  /** DuckDB spelling of [[hashBucket]]. */
  def sqlHashBucket(e: String, buckets: Int): String =
    s"${sqlCharFold(e)} * 2654435761 % 4294967296 % $buckets"

  /** DuckDB: list of portable token hashes of text expression `e`. */
  def sqlTokenHashes(e: String): String =
    s"list_transform(string_split($e, ' '), t -> ${sqlCharFold("t")})"

  /** DuckDB: distinct shingle hashes from a token-hash list expression. */
  def sqlShingles(ths: String): String =
    s"list_distinct([(($ths[k+1] * $ShingleBase + $ths[k+2]) % $P * $ShingleBase " +
      s"+ $ths[k+3]) % $P for k in range(len($ths) - 2)])"

  /** DuckDB spelling of the multi-table [[hyperplaneBucket]] family: a list
    * whose entry t is the bucket of planes [base+t·k, base+(t+1)·k) of a
    * DOUBLE[] expression `v` (plane index = base + t·k + jj — same
    * arithmetic as HyperplaneBucketExpr with planeOffset = base + t·k).
    */
  def sqlHyperplaneBuckets(v: String, nTables: Int, planesPerTable: Int, dim: Int,
      planeBase: Int = 0, scrambled: Boolean = false): String = {
    val lin = s"(($planeBase+t*$planesPerTable+jj)*$dim + i) * 2654435761 % 4294967296"
    val s1 = s"xor($lin, ($lin) >> 13) * 40503 % 4294967296"
    val plane =
      if (!scrambled) lin
      else s"xor($s1, ($s1) >> 17)"
    s"""[list_reduce(list_prepend(CAST(0 AS BIGINT), [CASE WHEN
       | list_sum([$v[i+1] * (CAST($plane AS DOUBLE)
       |   / 2147483648.0 - 1.0) for i in range($dim)]) >= 0
       | THEN CAST(2 ** jj AS BIGINT) ELSE 0 END for jj in range($planesPerTable)]),
       | (a, x) -> a + x) for t in range($nTables)]""".stripMargin.replaceAll("\n", " ")
  }
}
