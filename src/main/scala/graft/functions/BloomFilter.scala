package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** A9: Bloom filter as a build/probe pair over Catalyst built-ins — the
  * membership sketch completing the family (A5 Misra-Gries frequency-under,
  * A8 Count-Min frequency-over, A6 HLL cardinality, A7 KLL quantiles; see
  * reference capability: membership prefilters for decontamination /
  * anti-join pruning, datapipelines-python's validated-get denylist path).
  *
  * Spark-first shape, deliberately NOT a typed Aggregator like A5–A8:
  *  - BUILD is a `bit_or` aggregation over per-item bit masks — partial
  *    (map-side) combine for free, and OR's commutativity/idempotence makes
  *    the result BIT-IDENTICAL under any partitioning or arrival order
  *    (spec'd at 1/7/32 partitions), the same determinism contract as A8.
  *  - PROBE is a pure expression tree over a `typedlit` of the built bits —
  *    whole-stage-codegen'd k-bit-test, zero shuffle, broadcast by literal.
  *  The filter itself is [[Words]] longs (2 KiB) — a model-scale collect,
  *  same class as the ANN centroid literals (Similarity.stubCentroids).
  *
  * Geometry: m = 2^14 bits, k = 5. For the bounded sets this prefilters
  * (eval-benchmark shingle sets, denylists — BOUNDED by construction; a
  * corpus-scale set is what the exact semi-join path is for), n ≲ 1000
  * gives FPP ≈ (1 − e^(−kn/m))^k ≈ 2e-4; false positives cost only a
  * wasted exact-verify probe, false negatives are impossible, so the
  * EXACT result of bloom-prefilter + verify equals the plain semi-join —
  * which is how t16's oracle can be t9's SQL verbatim.
  *
  * Hashing: double hashing pos_i = h1 + i·h2 (mod m) over the engine's
  * codegen'd `xxhash64` (seeded twice). Build and probe share the SAME
  * column expressions, so agreement is by construction — the oracle never
  * needs to reproduce the bloom, only the exact set semantics.
  */
object Bloom {
  val MBits = 1 << 14
  val K = 5
  val Words: Int = MBits / 64
  private val Seed2 = 0x9e3779b97f4a7c15L

  /** The k bit positions of `item` as an array<long> column. Both hashes
    * reduce mod m BEFORE the double-hash combine so h1 + i·h2 stays ≤
    * 5m ≪ Long.Max (ANSI mode overflow-checks arithmetic; raw xxhash64
    * products would throw). Reducing h2 early costs a 1/m chance of
    * h2 ≡ 0 (k collapsed positions → locally worse FPP) — harmless: no
    * false negatives either way, and build/probe share the expression.
    */
  private def positions(item: Column): Column = positionsFor(item, MBits)

  /** [[positions]] at an explicit geometry — the per-FILE bloom index
    * ([[graft.ops.Layout.maintainBloomIndex]]) sizes m to the file row
    * count instead of this object's bounded-set default (parquet's own
    * column bloom filters parameterize identically, by expected NDV).
    */
  def positionsFor(item: Column, mBits: Int): Column = {
    val m = lit(mBits.toLong)
    val h1 = pmod(xxhash64(item), m)
    val h2 = pmod(xxhash64(item, lit(Seed2)), m)
    transform(sequence(lit(0), lit(K - 1)), i =>
      pmod(h1 + i.cast("long") * h2, m))
  }

  /** Build the filter from `items`'s `item` column (an ACTION: runs one
    * partial-aggregated job collecting ≤ [[Words]] (word, bits) rows).
    */
  def build(items: DataFrame, item: Column): Array[Long] = {
    val rows = items
      .select(explode(positions(item)).as("pos"))
      .select((col("pos") / 64).cast("int").as("w"),
        call_function("shiftleft", lit(1L), (col("pos") % 64).cast("int")).as("m"))
      .groupBy(col("w")).agg(bit_or(col("m")).as("bits"))
      .collect()
    val arr = new Array[Long](Words)
    rows.foreach(r => arr(r.getInt(0)) = r.getLong(1))
    arr
  }

  /** Membership probe: true iff all k bits are set. No false negatives. */
  def contains(bits: Array[Long], item: Column): Column = {
    val bitsLit = typedlit(bits.toSeq)
    val ps = positions(item)
    (0 until K).map { i =>
      val pos = element_at(ps, i + 1)
      val word = element_at(bitsLit, (pos / 64).cast("int") + 1)
      val mask = call_function("shiftleft", lit(1L), (pos % 64).cast("int"))
      word.bitwiseAND(mask) =!= 0L
    }.reduce(_ && _)
  }
}
