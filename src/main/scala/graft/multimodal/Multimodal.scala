package graft.multimodal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.functions.blockedPairs
import graft.ops.Pin.Pinned

/** Multimodal column plumbing (SURVEY.md §2.6).
  *
  * The container ships no image/audio codecs, so the *decode* step is a
  * clearly-marked deterministic STUB — but everything Spark-side is real:
  * binary columns, schema, micro-batched per-partition processing (the
  * Arrow-batch shape a Python `mapInPandas` decoder would see), and
  * partition-parallel execution with no shuffle.
  */
/** The codec boundary: byte payloads → features, in the three access
  * patterns the media operators use. This is THE swap-in point for a real
  * codec — the operators own batching, schema, partition-parallelism and
  * ordering; a deployment passes its own Decoder and touches nothing else
  * (MultimodalBatchSpec proves the contract by running the same operators
  * through an injected non-stub decoder). Must be Serializable: instances
  * ship to executors inside the mapPartitions closures.
  */
trait Decoder extends Serializable {
  /** Full-payload decode → (checksum/feature hash, feature dimension). */
  def decode(payload: Array[Byte]): (Long, Int)
  /** Decode one frame slice [start, end) → per-frame feature. */
  def decodeFrame(payload: Array[Byte], start: Int, end: Int): Long
  /** Decode one strided sample point (the resize/thumbnail path) →
    * sampled value. */
  def sample(payload: Array[Byte], i: Int): Int
}

/** STUB decoder (default): stands in for image/audio decode — the
  * container ships no codecs. Deterministic byte arithmetic (sum mod 997,
  * length-derived "dimensions", frame byte-sums, raw byte samples) so the
  * DuckDB oracle can recompute every result.
  */
object StubDecoder extends Decoder {
  override def decode(payload: Array[Byte]): (Long, Int) = {
    var sum = 0L
    var i = 0
    while (i < payload.length) { sum += payload(i) & 0xff; i += 1 }
    (sum % 997, payload.length % 64)
  }
  override def decodeFrame(payload: Array[Byte], start: Int, end: Int): Long = {
    var s = 0L
    var i = start
    while (i < end) { s += payload(i) & 0xff; i += 1 }
    s
  }
  override def sample(payload: Array[Byte], i: Int): Int = payload(i) & 0xff
}

object Multimodal {

  val BatchSize = 64

  private val outSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("byte_len", IntegerType, nullable = false),
    StructField("checksum", LongType, nullable = false),
    StructField("stub_dim", IntegerType, nullable = false)))

  // ---------------------------------------------------------------- m1
  /** Binary metadata + stub feature extraction. Documents' text bytes stand
    * in for media payloads. The per-partition iterator processes rows in
    * batches of [[BatchSize]] — the same batch shape a vectorized decoder
    * (Arrow / mapInPandas) would get — without materializing a partition.
    */
  def m1BinaryMeta(spark: SparkSession, sfDir: String,
      decoder: Decoder = StubDecoder): DataFrame = {
    val bin = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
    val enc = RowEncoder.encoderFor(outSchema)
    bin.mapPartitions { rows =>
      rows.grouped(BatchSize).flatMap { batch =>
        batch.map { r =>
          val id = r.getLong(0)
          val payload = r.getAs[Array[Byte]](1)
          val (checksum, dim) = decoder.decode(payload)
          Row(id, payload.length, checksum, dim)
        }
      }
    }(enc).orderBy(col("doc_id"))
  }

  // Text is ASCII, so byte values = codepoints and the oracle can fold them.
  val m1Sql: String =
    """SELECT doc_id,
      |  CAST(length(text) AS INT) AS byte_len,
      |  list_reduce(list_prepend(CAST(0 AS BIGINT),
      |    list_transform(string_split(text, ''), c -> CAST(unicode(c) AS BIGINT))),
      |    (a, c) -> a + c) % 997 AS checksum,
      |  CAST(length(text) % 64 AS INT) AS stub_dim
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- M2
  private val batchSchema = StructType(Seq(
    StructField("partition_id", IntegerType, nullable = false),
    StructField("batch_idx", IntegerType, nullable = false),
    StructField("batch_len", IntegerType, nullable = false)))

  /** Batch-shape introspection for the vectorized-decode path: one row per
    * micro-batch the stub decoder would receive. MultimodalSpec asserts the
    * shape (every batch ≤ BatchSize, counts add up) — i.e., the plumbing a
    * real Arrow-batched decoder plugs into is actually batched.
    */
  def m2BatchShapes(spark: SparkSession, sfDir: String): DataFrame = {
    val bin = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
    val enc = RowEncoder.encoderFor(batchSchema)
    bin.mapPartitions { rows =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      rows.grouped(BatchSize).zipWithIndex.map { case (batch, idx) =>
        Row(pid, idx, batch.size)
      }
    }(enc)
  }

  // ---------------------------------------------------------------- m2
  val FrameBytes = 256
  val SampleEvery = 4

  private val frameSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("n_frames", IntegerType, nullable = false),
    StructField("n_sampled", IntegerType, nullable = false),
    StructField("sample_checksum", LongType, nullable = false)))

  /** Frame sampling over binary payloads: the payload is treated as a
    * sequence of fixed-size frames ([[FrameBytes]] bytes); every
    * [[SampleEvery]]-th frame is "decoded" (stub: byte-sum) — the chunked
    * random-access pattern of real video frame extraction, with the codec
    * stubbed. Resize/thumbnail is the same plumbing with a different
    * per-frame function.
    */
  def m2FrameSample(spark: SparkSession, sfDir: String,
      decoder: Decoder = StubDecoder): DataFrame = {
    val bin = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
    val enc = RowEncoder.encoderFor(frameSchema)
    bin.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val payload = r.getAs[Array[Byte]](1)
        val nFrames = (payload.length + FrameBytes - 1) / FrameBytes
        var checksum = 0L
        var sampled = 0
        var f = 0
        while (f < nFrames) {
          val start = f * FrameBytes
          val end = math.min(start + FrameBytes, payload.length)
          checksum = (checksum + decoder.decodeFrame(payload, start, end)) %
            2147483647L
          sampled += 1
          f += SampleEvery
        }
        Row(id, nFrames, sampled, checksum)
      }
    }(enc).orderBy(col("doc_id"))
  }

  // ASCII text: byte == codepoint, frames = substr windows.
  val m2Sql: String =
    s"""SELECT doc_id,
      |  CAST(ceil(length(text) / $FrameBytes.0) AS INT) AS n_frames,
      |  CAST(ceil(ceil(length(text) / $FrameBytes.0) / $SampleEvery.0) AS INT) AS n_sampled,
      |  list_reduce(list_prepend(CAST(0 AS BIGINT),
      |    [list_reduce(list_prepend(CAST(0 AS BIGINT),
      |       list_transform(string_split(substr(text, f * $FrameBytes + 1, $FrameBytes), ''),
      |         c -> CAST(unicode(c) AS BIGINT))),
      |       (a, c) -> a + c)
      |     for f in range(0, CAST(ceil(length(text) / $FrameBytes.0) AS BIGINT), $SampleEvery)]),
      |    (a, s) -> (a + s) % 2147483647) AS sample_checksum
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- m3
  val ResizeStride = 8

  private val resizeSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("n_bytes", IntegerType, nullable = false),
    StructField("n_resized", IntegerType, nullable = false),
    StructField("resized_fp", LongType, nullable = false)))

  /** Resize/thumbnail plumbing: decimate the payload by taking every
    * [[ResizeStride]]-th byte (the strided-subsampling access pattern of a
    * real nearest-neighbor image downscale; the pixel math is the stubbed
    * part). The decimated bytes are fingerprinted with the portable
    * char-fold so the oracle verifies the exact SELECTED bytes, not just
    * counts. Partition-parallel, batched like m1, no shuffle.
    */
  def m3Resize(spark: SparkSession, sfDir: String,
      decoder: Decoder = StubDecoder): DataFrame = {
    val P = graft.functions.PortableHash.P
    val bin = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
    val enc = RowEncoder.encoderFor(resizeSchema)
    bin.mapPartitions { rows =>
      rows.grouped(BatchSize).flatMap { batch =>
        batch.map { r =>
          val id = r.getLong(0)
          val payload = r.getAs[Array[Byte]](1)
          var fp = 0L
          var n = 0
          var i = 0
          while (i < payload.length) {
            fp = (fp * 31 + decoder.sample(payload, i)) % P
            n += 1
            i += ResizeStride
          }
          Row(id, payload.length, n, fp)
        }
      }
    }(enc).orderBy(col("doc_id"))
  }

  // ASCII text: byte == codepoint; decimation = substr at strided positions.
  val m3Sql: String =
    s"""SELECT doc_id,
      |  CAST(length(text) AS INT) AS n_bytes,
      |  CAST(ceil(length(text) / $ResizeStride.0) AS INT) AS n_resized,
      |  list_reduce(list_prepend(CAST(0 AS BIGINT),
      |    [CAST(unicode(substr(text, i * $ResizeStride + 1, 1)) AS BIGINT)
      |     for i in range(CAST(ceil(length(text) / $ResizeStride.0) AS BIGINT))]),
      |    (h, c) -> (h * 31 + c) % 2147483647) AS resized_fp
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- m4
  /** Modality-coverage accounting — the text↔media pairing bookkeeping of a
    * multimodal corpus (LAION-style): join the text table against the
    * payload manifest (derived deterministically here: doc_id % 3 != 0
    * "has an image") and report per-source coverage and payload volume.
    * The real pipeline decision this feeds: which sources are usable for
    * image-text training vs text-only.
    * 100 TB: one partial-aggregated pass over the manifest-joined corpus;
    * per-source rows are model-scale. Sums are CAST to BIGINT on the
    * oracle side (DuckDB widens integer sums to HUGEINT). Payload size is
    * measured in BYTES on both sides — Spark `octet_length` over the UTF-8
    * encoding, DuckDB `strlen` (its byte-length function; `length` counts
    * CHARACTERS and would diverge on any non-ASCII text).
    */
  def m4ModalityCoverage(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("source"),
        encode(col("text"), "UTF-8").as("payload"))
      .withColumn("has_image", (col("doc_id") % 3 =!= 0).cast("int"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("has_image")).cast("long").as("n_with_image"),
        sum(when(col("has_image") === 1, octet_length(col("payload")))
          .otherwise(0)).cast("long").as("image_bytes"))
      .orderBy(col("source"))

  val m4Sql: String =
    """SELECT source, count(*) AS n_docs,
      |  CAST(sum(CASE WHEN doc_id % 3 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_with_image,
      |  CAST(sum(CASE WHEN doc_id % 3 <> 0 THEN strlen(text) ELSE 0 END) AS BIGINT) AS image_bytes
      |FROM documents
      |GROUP BY source
      |ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- m5
  /** The full multimodal RETRIEVAL path composed: payload → featurize →
    * nearest-neighbor search. The featurizer is the stub tier (a
    * deterministic 8-dim letter-group histogram both engines can
    * recompute — a real deployment swaps in the image/audio encoder and
    * keeps every downstream stage); retrieval is s1's exact-cosine shape
    * over the derived vectors, and a production corpus slots the SAME
    * feature column into the s2/s3 ANN indexes instead of the brute join
    * (featurize-once, index-once — this op pins the composition, the
    * s-family owns the scale path).
    * Featurize is one narrow codegen'd projection (8 regexp counts), no
    * shuffle, no UDF.
    */
  private val m5Groups = Seq("abcd", "efgh", "ijkl", "mnop", "qrst", "uvwx", "yz", " ")
  val M5Queries = 10
  val M5TopK = 5

  def m5FeatureRetrieval(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.dot
    import org.apache.spark.sql.expressions.Window
    val feat = array(m5Groups.map(g =>
      (length(col("text")) -
        length(regexp_replace(col("text"), s"[$g]", ""))).cast("double")): _*)
    val f = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), feat.as("v"))
      .withColumn("norm", sqrt(dot(col("v"), col("v"))))
      .pin() // featurize ONCE; both join branches read it
    val q = f.filter(col("doc_id") < M5Queries)
      .select(col("doc_id").as("q_id"), col("v").as("qv"), col("norm").as("qnorm"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("doc_id"))
    q.join(f, col("doc_id") =!= col("q_id"))
      .withColumn("cos",
        round(dot(col("qv"), col("v")) / (col("qnorm") * col("norm")), 9))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= M5TopK)
      .select(col("q_id"), col("rank"), col("doc_id").as("neighbor_id"), col("cos"))
      .orderBy(col("q_id"), col("rank"))
  }

  val m5Sql: String = {
    val dims = m5Groups.map(g =>
      s"CAST(length(text) - length(regexp_replace(text, '[$g]', '', 'g')) AS DOUBLE)")
      .mkString("[", ",\n      ", "]")
    s"""WITH f AS (SELECT doc_id, $dims AS v FROM documents),
      |n AS (SELECT doc_id, v, sqrt(list_dot_product(v, v)) AS norm FROM f)
      |SELECT q_id, rank, neighbor_id, cos FROM (
      |  SELECT q.doc_id AS q_id, d.doc_id AS neighbor_id,
      |    round(list_dot_product(q.v, d.v) / (q.norm * d.norm), 9) AS cos,
      |    row_number() OVER (PARTITION BY q.doc_id ORDER BY
      |      round(list_dot_product(q.v, d.v) / (q.norm * d.norm), 9) DESC,
      |      d.doc_id) AS rank
      |  FROM n q JOIN n d ON d.doc_id <> q.doc_id
      |  WHERE q.doc_id < $M5Queries)
      |WHERE rank <= $M5TopK
      |ORDER BY q_id, rank""".stripMargin
  }

  // ---------------------------------------------------------------- m6
  /** Perceptual-hash near-dup over media payloads — the MULTIMODAL dedup
    * rung (images/video near-dup is its own family: byte-level d1 misses a
    * re-encode, text MinHash doesn't apply to pixels). Classic dHash
    * ("difference hash") through the [[Decoder]] boundary: the payload is
    * cut into [[M6Bits]]+1 length-normalized slices, each slice reduces to
    * a feature via `decodeFrame` (stub: byte sum — a real codec returns
    * per-tile luminance), and bit k = (feature_k > feature_{k+1}) — 48
    * bits of local GRADIENT, robust to global brightness/gain shifts
    * exactly like image dHash. Near-dups = pairs at hamming ≤ [[M6Tau]],
    * found WITHOUT the pair space: d3's pigeonhole blocking verbatim
    * (τ = 3 < 4 blocks ⟹ some 12-bit block identical — exactly lossless),
    * then the bit_count(xor) verify on block-collided candidates only.
    * The corpus plants same-length substitution copies (id+1000000, bytes
    * 11–15 overwritten) — the re-encode analogue; the spec asserts ALL
    * planted pairs are recovered and hamming ≤ 1 slice-window of edits.
    *
    * STREAM-BOUND (round 18, d3's template verbatim — this family was the
    * last carrier of the ids-distinct shape): the former block-join →
    * candidate `.distinct()` → two dhash join-backs shuffled the candidate
    * MULTISET — under block saturation (near-dup media clusters share
    * whole 12-bit blocks) that multiset is ~quadratic, and the r17 sf10
    * sweep measured it at 779 s / 14 GB spill here and killed m7 outright
    * (`UNABLE_TO_ACQUIRE_MEMORY` building on these pairs). Now the per-doc
    * state rides the O(n·4·G) bucket rows inline — `sigs` (the 4 unpacked
    * 12-bit block values) and `w` (the dhash word itself) — a pair emits
    * EXACTLY ONCE at its FIRST shared block (codegen'd
    * [[graft.functions.PrefixCollideExpr]] over the carried `sigs`), the
    * hamming verifies on the join stream as one `bit_count(xor)` over the
    * packed words, and the only pair-level shuffle left is the
    * output-sized orderBy. Dense (blk, sig) buckets parallelize across the
    * same G×G skew grid as d3 ([[graft.functions.blockedPairs]]).
    * Candidate SET and hamming are unchanged, so the output is
    * bit-identical.
    * 100 TB: dHash is one decoder pass per payload, partition-parallel,
    * 6 bytes of signature shipped per asset (never the media); candidate
    * generation is the (blk, sig) equi-join — shuffle O(n·4·G) longs.
    */
  val M6Bits = 48
  val M6Blocks = 4
  val M6Tau = 3

  private val dhashSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("dhash", LongType, nullable = false)))

  /** The planted corpus: documents ∪ same-length-substituted copies. */
  private def m6Corpus(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Tables(spark, sfDir, "documents").select(col("doc_id"), col("text"))
    base.unionByName(base.filter(col("doc_id") % 9 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(substring(col("text"), 1, 10), lit("XXXXX"),
          substring(col("text"), 16, 1 << 24)).as("text")))
  }

  /** The (doc_id, dhash) frame — ONE decoder pass over the planted
    * corpus, widened first (see [[graft.functions.widen]]: the
    * per-payload decode is the heavy per-row step and inherits the
    * scan's byte-proportional task count, not the cluster's). Shared by
    * m6 (pairs over all docs) and m7 (contracted CC over hash values).
    */
  private def m6Dhash(spark: SparkSession, sfDir: String,
      decoder: Decoder): DataFrame = {
    val bin = graft.functions.widen(m6Corpus(spark, sfDir)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload")),
      graft.functions.DefaultWidenAmp)
    val enc = RowEncoder.encoderFor(dhashSchema)
    val nSlices = M6Bits + 1
    bin.mapPartitions { rows =>
      rows.grouped(BatchSize).flatMap { batch =>
        batch.map { r =>
          val id = r.getLong(0)
          val payload = r.getAs[Array[Byte]](1)
          val n = payload.length
          val sums = new Array[Long](nSlices)
          var k = 0
          while (k < nSlices) {
            val start = (n.toLong * k / nSlices).toInt
            val end = (n.toLong * (k + 1) / nSlices).toInt
            sums(k) = decoder.decodeFrame(payload, start, end)
            k += 1
          }
          var hash = 0L
          k = 0
          while (k < M6Bits) {
            if (sums(k) > sums(k + 1)) hash |= 1L << k
            k += 1
          }
          Row(id, hash)
        }
      }
    }(enc)
  }

  def m6PhashNearDup(spark: SparkSession, sfDir: String,
      decoder: Decoder = StubDecoder): DataFrame =
    phashPairs(m6Dhash(spark, sfDir, decoder))
      .orderBy(col("i"), col("j"))

  /** The ≤[[M6Tau]]-hamming pair stream over any (doc_id, dhash) frame —
    * m6's stream-bound pigeonhole join, factored so m7 can run it over
    * the DISTINCT-hash contraction. Returns UNORDERED (i, j, hamming).
    */
  private def phashPairs(dh: DataFrame): DataFrame = {
    val blockLen = M6Bits / M6Blocks
    // Per-doc state inline on the bucket rows: `sigs` = the 4 unpacked
    // 12-bit block values (plain shifts of the already-packed word —
    // block equality preserved exactly), `w` = the dhash word for the
    // xor-popcount verify. No join-backs anywhere downstream.
    val side = dh
      .select(col("doc_id"), col("dhash").as("w"),
        transform(sequence(lit(0), lit(M6Blocks - 1)), b =>
          call_function("shiftright", col("dhash"), b * lit(blockLen))
            .bitwiseAND(lit((1L << blockLen) - 1))).as("sigs"))
    blockedPairs(side, "doc_id", "sigs", Seq("w"))
      .withColumn("hamming",
        bit_count(col("pi.w").bitwiseXOR(col("pj.w"))).cast("int"))
      .filter(col("hamming") <= M6Tau)
      .select(col("i"), col("j"), col("hamming"))
  }

  /** Oracle: brute-force dHash pairs (ASCII text ⟹ byte == codepoint, so
    * slice sums are substr folds; the length-normalized boundaries use the
    * same integer floor arithmetic as the Scala loop).
    */
  /** The corpus→dHash CTE chain, shared by the m6 and m7 oracles. */
  private val m6DhCtes: String = {
    val ns = M6Bits + 1
    s"""corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000 AS doc_id,
      |    substr(text, 1, 10) || 'XXXXX' || substr(text, 16) AS text
      |  FROM documents WHERE doc_id % 9 = 0),
      |sums AS (
      |  SELECT doc_id,
      |    [list_reduce(list_prepend(CAST(0 AS BIGINT),
      |       list_transform(string_split(substr(text,
      |         CAST(floor(length(text) * k / $ns.0) AS INT) + 1,
      |         CAST(floor(length(text) * (k+1) / $ns.0) AS INT)
      |           - CAST(floor(length(text) * k / $ns.0) AS INT)), ''),
      |         c -> CAST(unicode(c) AS BIGINT))),
      |       (a, c) -> a + c)
      |     for k in range($ns)] AS s
      |  FROM corpus),
      |dh AS (
      |  SELECT doc_id,
      |    list_sum([CASE WHEN s[k+1] > s[k+2] THEN CAST(1 AS BIGINT) << k
      |              ELSE 0 END for k in range($M6Bits)]) AS dhash
      |  FROM sums)""".stripMargin
  }

  val m6Sql: String =
    s"""WITH $m6DhCtes
      |SELECT a.doc_id AS i, b.doc_id AS j,
      |  CAST(bit_count(xor(a.dhash, b.dhash)) AS INT) AS hamming
      |FROM dh a JOIN dh b ON a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.dhash, b.dhash)) <= $M6Tau
      |ORDER BY i, j""".stripMargin

  // ---------------------------------------------------------------- m7
  /** Perceptual-hash near-dup CLUSTERS — m6's pair list resolved into
    * connected components with ONE representative (min id) per cluster:
    * the asset-dedup decision a media pipeline actually applies (pairs
    * alone double-drop when a re-encode chain A~B~C arrives; the CC
    * closure keeps exactly one of the chain). Engine = d7/d8's shared
    * CC engine [[graft.dedup.Dedup.labelClusters]] over the
    * m6 pigeonhole-blocked pairs; output covers every asset WITH at
    * least one near-dup edge (singletons are trivially their own keeper
    * — same contract as d7). The oracle composes m6's dHash CTEs with
    * the recursive-CTE transitive closure (d20's shape).
    * 100 TB: pairs are O(matches), never the pair space (m6's blocking);
    * CC iterates over 8-byte edges with localCheckpoint truncation —
    * d7's scale argument verbatim, applied to media signatures.
    */
  /** CONTRACT-EQUAL-HASHES-FIRST CC (round 18). m6's pair LIST is
    * inherently quadratic in equal-dhash clique sizes (measured at sf10:
    * 168.9 M pairs from a 555 k-doc corpus — the stub dhash produces
    * giant hamming-0 cliques), so `labelClusters(m6 pairs)` pinned a
    * ~20 GB edge list and died of execution memory at the sf10 rung
    * (r17's autopsy AND this round's re-probe after the m6 restructure:
    * `UNABLE_TO_ACQUIRE_MEMORY` in the CC's first aggregation). The
    * components, though, are determined by the HASH-VALUE graph: docs
    * sharing a dhash are hamming-0 connected (always one component), and
    * cross-group edges depend only on the two hash values. So: contract
    * each distinct dhash to its min-doc_id representative, run the same
    * pigeonhole pair stream over the DISTINCT hash values, CC over those
    * O(|values|)-sized rep pairs, and expand labels back through the
    * (doc_id, dhash) frame. Output-equivalent by construction — a
    * component's min doc_id is the min over its groups' reps, a doc has
    * an m6 edge iff its group has size ≥ 2 (a hamming-0 partner) or its
    * hash value has a ≤τ neighbor — and [[graft.M7ContractionSpec]]
    * re-proves equality against the uncontracted CC on the fixture
    * corpus. The quadratic pair MULTISET now exists nowhere: m6 streams
    * it (bounded-disk, output-sized only through its final sort), m7
    * never materializes it at all.
    */
  def m7PhashClusters(spark: SparkSession, sfDir: String): DataFrame = {
    val dh = m6Dhash(spark, sfDir, StubDecoder).pin() // groups + expansion
    val groups = dh.groupBy(col("dhash"))
      .agg(min(col("doc_id")).as("rep"), count(lit(1)).as("csize"))
      .pin() // rep pairs + the label expansion both read it
    val repPairs = phashPairs(
        groups.select(col("rep").as("doc_id"), col("dhash")))
      .select(col("i"), col("j"))
    val repLabels = graft.dedup.Dedup.labelClusters(repPairs, "rep_id")
      .select(col("rep_id").as("rep"), col("cluster"))
    val glab = groups
      .join(repLabels, Seq("rep"), "left")
      // membership contract (same as labelClusters over the full pairs):
      // a doc is in the output iff it has ≥1 m6 edge — an equal-hash
      // partner (csize ≥ 2) or a ≤τ cross-value neighbor (rep labeled)
      .filter(col("cluster").isNotNull || col("csize") >= 2)
      .select(col("dhash"), coalesce(col("cluster"), col("rep")).as("cluster"))
    dh.join(glab, Seq("dhash"))
      .withColumn("is_kept", (col("doc_id") === col("cluster")).cast("int"))
      .select(col("doc_id"), col("cluster"), col("is_kept"))
      .orderBy(col("doc_id"))
  }

  val m7Sql: String =
    s"""WITH RECURSIVE $m6DhCtes,
      |pairs AS (
      |  SELECT a.doc_id AS i, b.doc_id AS j
      |  FROM dh a JOIN dh b ON a.doc_id < b.doc_id
      |  WHERE bit_count(xor(a.dhash, b.dhash)) <= $M6Tau),
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

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "m7_phash_clusters" -> (m7PhashClusters _),
    "m6_phash_neardup" -> ((s: SparkSession, d: String) => m6PhashNearDup(s, d)),
    "m5_feature_retrieval" -> (m5FeatureRetrieval _),
    "m1_binary_meta" -> ((s: SparkSession, d: String) => m1BinaryMeta(s, d)),
    "m2_frame_sample" -> ((s: SparkSession, d: String) => m2FrameSample(s, d)),
    "m3_resize" -> ((s: SparkSession, d: String) => m3Resize(s, d)),
    "m4_modality_coverage" -> (m4ModalityCoverage _))

  val sql: Map[String, String] = Map(
    "m7_phash_clusters" -> m7Sql,
    "m6_phash_neardup" -> m6Sql,
    "m5_feature_retrieval" -> m5Sql,
    "m1_binary_meta" -> m1Sql,
    "m2_frame_sample" -> m2Sql,
    "m3_resize" -> m3Sql,
    "m4_modality_coverage" -> m4Sql)
}
