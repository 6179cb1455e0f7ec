package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.zvalue
import graft.ops.Pin.Pinned

/** A snapshot commit lost its version claim to a concurrent writer —
  * the OPTIMISTIC-CONCURRENCY signal. The rebasing committers (append,
  * ANALYZE, partition overwrite, both compactions, MERGE) share ONE
  * claim–conflict–rebase loop, [[Layout.commitRebasing]]: a lost claim
  * whose interleaving commutes rebases internally (both commits land);
  * one that does not surfaces the typed
  * [[ConcurrentWriteConflictException]]. This raw exception still
  * surfaces when that loop's `spark.graft.commit.maxRetries` exhaust,
  * when an append's staged files lost their column mapping to a
  * concurrent rename/drop, and from every committer with no rebase
  * path: overwrite, restore, both MOR deletes (equality and position),
  * clone (and the schema/property edits). [[Layout.withCommitRetry]]
  * re-runs the whole operation on it. Subclasses
  * `IllegalStateException` so pre-existing handlers keep working.
  */
class CommitConflictException(val root: String, val version: Int,
    detail: String = "a concurrent writer claimed this version first")
    extends IllegalStateException(
      s"snapshot commit lost the race for v$version at $root: $detail")

/** A read-dependent commit (ANALYZE, partition overwrite, compaction,
  * MERGE) lost its claim AND the interleaved commit's changes OVERLAP
  * its read set — the losing output was computed from state the winner
  * changed, so a rebase would be silently wrong. Raised by the one
  * rebase loop, [[Layout.commitRebasing]], naming the operation; DISJOINT
  * interleavings (pure appends whose rows this operation would not have
  * read) never surface this: they rebase and both commits land.
  * Committers with no rebase path (overwrite, restore, both MOR
  * deletes, clone) never raise it — they lose with the raw
  * [[CommitConflictException]]. The typed error tells the caller the
  * one honest remedy: re-run the operation against the new head.
  */
class ConcurrentWriteConflictException(val root: String, val base: Int,
    val head: Int, val op: String, why: String)
    extends IllegalStateException(
      s"$op computed against $root v$base conflicts with a concurrent " +
        s"commit (head is now v$head): $why. The operation's output " +
        "would drop or miss the concurrent commit's effect; re-run it " +
        "against the new head.")

/** Physical-layout operators: how a 100 TB table gets WRITTEN so that
  * later scans can skip most of it. Query operators assume the engine
  * prunes; these produce the layouts that make pruning possible.
  */
object Layout {

  private def linearBins(df: DataFrame, zcols: Seq[Column], bits: Int): Seq[Column] = {
    val aggs = zcols.zipWithIndex.flatMap { case (c, k) =>
      Seq(min(c.cast("long")).as(s"mn$k"), max(c.cast("long")).as(s"mx$k"))
    }
    val stats = df.agg(aggs.head, aggs.tail: _*).head()
    zcols.zipWithIndex.map { case (c, k) =>
      val mn = stats.getLong(2 * k)
      val mx = stats.getLong(2 * k + 1)
      val range = BigInt(mx) - BigInt(mn) + 1
      if (range * (1L << bits) <= BigInt(Long.MaxValue))
        // integer path: exact monotone binning onto [0, 2^bits)
        ((c.cast("long") - lit(mn)) * lit(1L << bits) / lit(range.toLong))
          .cast("long")
      else {
        // extreme-range path: (c−mn)·2^bits would overflow Long (and for
        // range > 2^63 even c−mn does). Doubles are monotone here — the
        // lost low-order bits only merge ADJACENT bins; clamp the top edge
        // where rounding could land exactly on 2^bits.
        val binD = (c.cast("double") - lit(mn.toDouble)) *
          lit((1L << bits).toDouble / range.toDouble)
        least(greatest(binD.cast("long"), lit(0L)), lit((1L << bits) - 1L))
      }
    }
  }

  private def quantileBins(df: DataFrame, zcols: Seq[Column], bits: Int): Seq[Column] = {
    require(bits <= 10, s"quantile z-order binning caps at 10 bits (got $bits)")
    val nb = (1 << bits) - 1 // interior boundaries → bins in [0, 2^bits)
    val probs = array((1 to nb).map(i => lit(i.toDouble / (nb + 1))): _*)
    val aggs = zcols.zipWithIndex.map { case (c, k) =>
      percentile_approx(c.cast("double"), probs, lit(10000)).as(s"b$k")
    }
    val stats = df.agg(aggs.head, aggs.tail: _*).head()
    zcols.zipWithIndex.map { case (c, k) =>
      // distinct-sorted boundaries (skew duplicates percentiles; dropping
      // them just merges empty bins), counted with one codegen'd filter
      val bnds = stats.getSeq[Double](k).distinct.sorted
      size(filter(array(bnds.map(lit): _*), b => c.cast("double") >= b))
        .cast("long")
    }
  }

  /** Per-file (min, max, rowCount) of a long-typed column, read from
    * parquet footers. The serializable result row of [[fileStatsOf]].
    */
  case class FileColStats(path: String, min: Long, max: Long, rows: Long)

  /** Count of parquet footers opened by the stats core — the
    * observability hook the manifest-stats spec asserts against: a
    * pruning decision served from manifest-embedded stats must leave
    * this counter untouched.
    */
  private[graft] val footerReads = new java.util.concurrent.atomic.AtomicLong(0)

  /** The file name of a path or URI — the last `/`-separated segment. Data
    * files and sidecar scopes match on it: parquet part files carry a
    * per-job UUID, and URI spellings (file:/ vs file:///) must not defeat
    * the match.
    */
  private[graft] def baseName(path: String): String =
    path.substring(path.lastIndexOf('/') + 1)

  /** One file's footer stats over SEVERAL columns in one footer open;
    * static (no Spark capture) so the distributed path can ship it to
    * executors. A column with no usable stats in any block records the
    * conservative full range.
    */
  private def footerStatsMulti(fp: String,
      hconf: org.apache.hadoop.conf.Configuration,
      cols: Seq[String]): MultiStats = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val f = new org.apache.hadoop.fs.Path(fp)
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f, hconf))
    try {
      val blocks = reader.getFooter.getBlocks.asScala
      val rows = blocks.map(_.getRowCount).sum
      val longB = Map.newBuilder[String, (Long, Long)]
      val strB = Map.newBuilder[String, (String, String)]
      val nullB = Map.newBuilder[String, Long]
      val dblB = Map.newBuilder[String, (Double, Double)]
      // pruning on strings compares with Java (UTF-16) order while the
      // footer orders unsigned bytes — identical only on ASCII, so
      // non-ASCII bounds stay unrecorded (prune nothing, stay correct)
      def ascii(x: String) = x.forall(_ < 128)
      cols.foreach { keyCol =>
        val chunks = blocks.flatMap { block =>
          block.getColumns.asScala.find(_.getPath.toDotString == keyCol)
        }
        // LOGICAL-TYPE guard: DECIMAL columns ride integral physical
        // types whose raw stats are UNSCALED values — pruning against
        // them drops rows (DECIMAL(10,2) 10.50 records as 1050). Only
        // annotations whose raw integral value IS the engine-side value
        // (plain ints, DATE = days, TIMESTAMP micros — matching exactly
        // what a Catalyst literal of that type holds) and plain strings
        // record usable bounds; everything else records the
        // conservative full range.
        import org.apache.parquet.schema.LogicalTypeAnnotation
        // raw footer value → engine value multiplier (TIMESTAMP_MILLIS
        // footers hold millis; Catalyst timestamps are micros — exact
        // ×1000, every stored value being a whole millisecond)
        var valueScale = 1L
        val annOk = chunks.forall { cc =>
          cc.getPrimitiveType.getLogicalTypeAnnotation match {
            case null => true
            // SIGNED, or unsigned NARROWER than its physical type: a
            // UINT32/UINT64 column's raw min/max are sign-wrapped bits
            // (a UINT32 3e9 reads as a negative long) — recording them
            // inverts the range and mis-prunes — but UINT_8/UINT_16 ride
            // INT32 with headroom and can never wrap, so their footer
            // bounds are exact and safe to prune on
            case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation =>
              val physBits = cc.getPrimitiveType.getPrimitiveTypeName match {
                case org.apache.parquet.schema.PrimitiveType
                    .PrimitiveTypeName.INT64 => 64
                case _ => 32
              }
              i.isSigned || i.getBitWidth < physBits
            // DATE: INT32 days since epoch — exactly a Catalyst
            // DateType literal's value; monotone, exact, prunable
            case _: LogicalTypeAnnotation.DateLogicalTypeAnnotation => true
            // TIMESTAMP: INT64 micros (Spark's TIMESTAMP[_NTZ] output
            // unit) compares directly against Catalyst's micros
            // literals; MILLIS scales exactly. NANOS (never
            // Spark-written) stays out; legacy INT96 carries no
            // annotation AND no usable footer stats, so it falls to the
            // conservative branch below on its own
            case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
              t.getUnit match {
                case LogicalTypeAnnotation.TimeUnit.MICROS => true
                case LogicalTypeAnnotation.TimeUnit.MILLIS =>
                  valueScale = 1000L; true
                case _ => false
              }
            case _: LogicalTypeAnnotation.StringLogicalTypeAnnotation => true
            case _ => false
          }
        }
        val colStats = chunks.map(_.getStatistics)
        if (!annOk) {
          longB += keyCol -> ((Long.MinValue, Long.MaxValue))
          // null counts stay safe regardless of logical type
          if (colStats.size == blocks.size && colStats.forall(st =>
              st != null && !st.isEmpty && st.isNumNullsSet))
            nullB += keyCol -> colStats.map(_.getNumNulls).sum
        } else {
        // null count: recorded only when EVERY block sets it — a single
        // unset block makes the total unknowable (no conservative sum)
        if (colStats.size == blocks.size && colStats.forall(st =>
            st != null && !st.isEmpty && st.isNumNullsSet))
          nullB += keyCol -> colStats.map(_.getNumNulls).sum
        val vals = colStats.flatMap { st =>
          if (st == null || st.isEmpty || !st.hasNonNullValue) None
          else Some((st.genericGetMin: Any, st.genericGetMax: Any))
        }
        def integral(x: Any) = x match {
          case _: java.lang.Long | _: java.lang.Integer |
               _: java.lang.Short | _: java.lang.Byte => true
          case _ => false
        }
        vals.headOption match {
          // FRACTIONAL (double/float) columns record a DOUBLE range
          // (float widens exactly). Pruning on it is ONE-SIDED — see
          // SnapshotFileIndex: footer min is sound even when the file
          // hides NaN rows (Spark orders NaN greatest, so every value
          // including NaN is ≥ min), footer max is NOT (a NaN row
          // satisfies `d > lo` while the NaN-excluding footer max
          // doesn't know it). NaN-contaminated bounds (old writers put
          // NaN IN the stats) record the full range.
          case Some((mn0, _)) if mn0.isInstanceOf[Number] && !integral(mn0) =>
            val ds = vals.map { case (mn, mx) =>
              (mn.asInstanceOf[Number].doubleValue(),
                mx.asInstanceOf[Number].doubleValue())
            }
            val (mn, mx) = (ds.map(_._1).min, ds.map(_._2).max)
            if (mn.isNaN || mx.isNaN)
              dblB += keyCol ->
                ((Double.NegativeInfinity, Double.PositiveInfinity))
            else
              // ±0.0 widening (parquet spec guidance): a writer may
              // normalize -0.0/+0.0 in either direction; widen so the
              // recorded interval covers both
              dblB += keyCol -> ((if (mn == 0.0d) -0.0d else mn,
                if (mx == 0.0d) 0.0d else mx))
          case Some((_: Number, _)) =>
            val ls = vals.map { case (mn, mx) =>
              (mn.asInstanceOf[Number].longValue(),
                mx.asInstanceOf[Number].longValue())
            }
            // valueScale (millis→micros) with overflow guard: a
            // sentinel-extreme stored value that can't scale exactly
            // records the full range instead of a wrapped bound
            val (rawMn, rawMx) = (ls.map(_._1).min, ls.map(_._2).max)
            longB += keyCol -> (try {
              (Math.multiplyExact(rawMn, valueScale),
                Math.multiplyExact(rawMx, valueScale))
            } catch { case _: ArithmeticException =>
              (Long.MinValue, Long.MaxValue)
            })
          case Some((_: org.apache.parquet.io.api.Binary, _)) =>
            val ss = vals.map { case (mn, mx) =>
              (mn.asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8,
                mx.asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8)
            }
            val (mn, mx) = (ss.map(_._1).min, ss.map(_._2).max)
            if (ascii(mn) && ascii(mx)) strB += keyCol -> ((mn, mx))
            else longB += keyCol -> ((Long.MinValue, Long.MaxValue))
          case _ =>
            // no usable stats (or an unexpected stats type): record the
            // conservative full numeric range so the entry still counts
            // as "has stats" for this column without ever pruning
            longB += keyCol -> ((Long.MinValue, Long.MaxValue))
        }
        }
      }
      MultiStats(fp, longB.result(), strB.result(), rows, nullB.result(),
        dblB.result())
    } finally reader.close()
  }

  /** Footer stats for an explicit file list. ≤32 files run as a driver
    * loop (a Spark job's scheduling floor would dominate); beyond that
    * the reads fan out as ONE job over the file list — at a million
    * stat-less files the driver no longer serially RPCs every footer
    * (the round-8 scale finding), it schedules a job whose tasks each
    * open a slice. Executors rebuild the Hadoop conf from broadcast
    * properties (Configuration itself is not java-serializable).
    */
  /** One file's stats over several columns: integral column ranges,
    * ASCII string-column ranges, and the row count.
    */
  case class MultiStats(path: String, longCols: Map[String, (Long, Long)],
      strCols: Map[String, (String, String)], rows: Long,
      nulls: Map[String, Long] = Map.empty,
      dblCols: Map[String, (Double, Double)] = Map.empty)

  def fileStatsOf(spark: org.apache.spark.sql.SparkSession,
      files: Seq[String], keyCol: String): Seq[FileColStats] =
    fileMultiStatsOf(spark, files, Seq(keyCol)).map { ms =>
      val (mn, mx) = ms.longCols.getOrElse(keyCol,
        (Long.MinValue, Long.MaxValue))
      FileColStats(ms.path, mn, mx, ms.rows)
    }

  /** [[fileStatsOf]] over SEVERAL columns — one footer open per file
    * regardless of column count.
    */
  def fileMultiStatsOf(spark: org.apache.spark.sql.SparkSession,
      files: Seq[String], cols: Seq[String]): Seq[MultiStats] = {
    if (files.isEmpty) return Nil
    footerReads.addAndGet(files.size)
    if (files.size <= 32) {
      val hconf = spark.sessionState.newHadoopConf()
      files.map(footerStatsMulti(_, hconf, cols))
    } else {
      import scala.jdk.CollectionConverters._
      val props: Seq[(String, String)] = spark.sessionState.newHadoopConf()
        .iterator().asScala.map(e => e.getKey -> e.getValue).toSeq
      val bc = spark.sparkContext.broadcast(props)
      val slices = math.min(files.size,
        math.max(2, spark.sparkContext.defaultParallelism))
      spark.sparkContext.parallelize(files, slices).map { fp =>
        val c = new org.apache.hadoop.conf.Configuration(false)
        bc.value.foreach { case (k, v) => c.set(k, v) }
        footerStatsMulti(fp, c, cols)
      }.collect().toSeq
    }
  }

  /** Per-file key range from parquet FOOTER statistics for an explicit
    * file list — no data pages are read, one footer per file (the
    * planning cost a table format pays from its manifest instead; this is
    * the stat-less fallback of [[snapshotKeyRanges]]). Returns (path,
    * minKey, maxKey) for a long-typed key column; files with no rows or
    * missing stats are reported with the full range (Long.Min, Long.Max)
    * so pruning stays conservative — a file we can't prove untouched must
    * be treated as touched.
    */
  def fileKeyRangesOf(spark: org.apache.spark.sql.SparkSession,
      files: Seq[String], keyCol: String): Seq[(String, Long, Long)] =
    fileStatsOf(spark, files, keyCol).map(s => (s.path, s.min, s.max))

  /** Per-file key ranges prepared for a MAP-SIDE probe: sorted by min,
    * with the running max of the maxes, so the files whose range holds
    * key k are one binary search (the last min ≤ k) plus a backward walk
    * that stops once no earlier range reaches k — ranges may overlap.
    * Shipped to executors as a broadcast variable, which starts no Spark
    * job; O(files) names and longs.
    */
  private final class RangeProbe(ranges: Seq[(String, Long, Long)])
      extends Serializable {
    private val sorted = ranges.sortBy(_._2).toArray
    val names: Array[String] = sorted.map(_._1)
    private val mins = sorted.map(_._2)
    private val maxs = sorted.map(_._3)
    private val reach = maxs.scanLeft(Long.MinValue)(math.max).tail

    /** Indexes into [[names]] of the ranges holding `k`. */
    def holding(k: Long): Iterator[Int] = {
      var lo = 0
      var hi = mins.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (mins(mid) <= k) lo = mid + 1 else hi = mid
      }
      Iterator.iterate(lo - 1)(_ - 1)
        .takeWhile(i => i >= 0 && reach(i) >= k).filter(maxs(_) >= k)
    }
  }

  /** A set of names gathered by the tasks of a job — merged on the
    * driver before the job's action returns, so the value is complete
    * when the write that fed it finishes. Set semantics make retried
    * tasks harmless.
    */
  private final class NameSetAccumulator
      extends org.apache.spark.util.AccumulatorV2[String, java.util.Set[String]] {
    private val names = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    def isZero: Boolean = names.isEmpty
    def copy(): NameSetAccumulator = {
      val c = new NameSetAccumulator
      c.names.addAll(names)
      c
    }
    def reset(): Unit = names.clear()
    def add(v: String): Unit = names.add(v)
    def merge(o: org.apache.spark.util.AccumulatorV2[String,
        java.util.Set[String]]): Unit = names.addAll(o.value)
    def value: java.util.Set[String] = names
  }

  /** Touched-file resolution in ONE map-side job — the changelog stays a
    * DataFrame end to end: each key is probed against the broadcast
    * [[RangeProbe]], and each partition emits the distinct indexes of
    * the files it hit. No shuffle, and no driver-side O(changelog) key
    * materialization: what returns is at most O(files) indexes per
    * partition, the price class of the manifest itself.
    */
  private def touchedFilesFor(spark: org.apache.spark.sql.SparkSession,
      ranges: Seq[(String, Long, Long)], keys: DataFrame): Set[String] = {
    if (ranges.isEmpty) return Set.empty
    val probe = new RangeProbe(ranges)
    val bc = spark.sparkContext.broadcast(probe)
    val hit = keys.select(col(keys.columns.head).cast("long")).rdd
      .mapPartitions { rows =>
        val p = bc.value
        val seen = scala.collection.mutable.BitSet()
        rows.foreach(r => if (!r.isNullAt(0)) p.holding(r.getLong(0)).foreach(seen += _))
        seen.iterator
      }.collect()
    bc.destroy()
    hit.iterator.map(i => probe.names(i)).toSet
  }

  // ------------------------------------------------------- bloom file index
  /** PER-FILE BLOOM SKIPPING INDEX geometry — file skipping for point
    * lookups on a HIGH-CARDINALITY, UNCLUSTERED column, the case min/max
    * stats can't touch (under a hash layout every file's [min,max] spans
    * the whole keyspace and range pruning keeps everything): one
    * [[graft.functions.Bloom]] per data file, m = 2^17 bits/file, k = 5 →
    * FPP ≈ 0.3% at 10k rows/file; size m to expected rows-per-file like
    * parquet's own column blooms. [[maintainBloomIndex]] builds and
    * maintains the index, [[snapshotPointLookup]] and the DSv2 scan read
    * it. Files missing from the index count as candidates — pruning stays
    * conservative, like the full-range rule for stat-less files.
    * 100 TB: the index is O(files·16 KiB) — petabyte table, gigabyte
    * index — and a point lookup reads O(true hits + FPP·files) files
    * instead of every file; build cost is one scan of the indexed column.
    */
  val BloomIndexBits: Int = 1 << 17

  /** A point/IN-list lookup's result (≡ `WHERE keyCol IN values` on the
    * full table) plus which files were scanned, for the pruning
    * assertion.
    */
  case class BloomLookup(result: DataFrame, scannedFiles: Seq[String],
      totalFiles: Int)

  /** CDF-MAINTAINED BLOOM INDEX over a VERSIONED table — per-file bloom
    * skipping ([[BloomIndexBits]]) integrated with the manifest layer,
    * maintained incrementally: the index is ITSELF a snapshot table of
    * (file, w, bits, base_version) rows, built in one partial-aggregated
    * pass (`input_file_name` → k bit masks → `bit_or` per (file, word)),
    * and one maintenance run scans ONLY the base files that have no
    * bloom yet. Per-file blooms are
    * IMMUNE to lineage (a data file's content never changes once a
    * manifest references it), so — unlike the sum/join views — even an
    * overwrite/compaction costs only the genuinely new files' scans;
    * rows for files no manifest references any more are simply never
    * consulted (a lookup joins against the CURRENT manifest) and fold
    * away at the next index compaction. One run = one append commit —
    * the same crash-atomic, re-runnable maintainer contract as
    * [[maintainSumView]], so it rides [[streamingMaintained]] unchanged.
    * Returns the base head version the index now covers.
    *
    * INVENTORY IN THE HEADER: each index commit records the base head it
    * covers (`#bloomBase`) and how many files it holds rows for
    * (`#bloomFiles`), so the next run finds its new files as
    * files(head) − files(bloomBase) from the base manifests alone — no
    * pass over the index. A restore can bring back a file the recorded
    * head no longer lists; it is indexed again, and duplicate index rows
    * are harmless ([[bloomCandidateStatus]]). An index head without the
    * header, or whose recorded base head has been vacuumed, takes the
    * inventory with one distinct pass over the index instead.
    * 100 TB: maintenance is O(new bytes) scan + O(new files · 16 KiB)
    * index rows; the index table keeps the petabyte-table/gigabyte-index
    * ratio, versioned, vacuumable, and exactly-once under streaming
    * ingest.
    */
  def maintainBloomIndex(spark: org.apache.spark.sql.SparkSession,
      baseRoot: String, idxRoot: String, keyCol: String,
      mBits: Int = BloomIndexBits): Int =
    maintainBloomIndexCore(spark, baseRoot, idxRoot, keyCol, mBits, gc = false)

  /** [[maintainBloomIndex]]'s one commit. With `gc`, rows for files the
    * head no longer references (compaction / overwrite victims) — dead
    * weight every candidate-resolution pass re-reads — are dropped once
    * they outnumber the live files' rows: the run then writes ONE
    * overwrite of live rows ∪ new rows instead of an append. When no
    * live file was indexed before (a full compaction), that overwrite
    * holds only the new rows and never reads the old index.
    * It stays off [[maintainView]]: its fold keys on the base's FILE SET,
    * not on version lineage (immune to compaction and deletes, so it
    * never recomputes), its header carries a file inventory rather than
    * `mvBase`, and it runs inside [[snapshotMaintain]] on the table
    * write path.
    */
  private def maintainBloomIndexCore(spark: org.apache.spark.sql.SparkSession,
      baseRoot: String, idxRoot: String, keyCol: String, mBits: Int,
      gc: Boolean): Int = {
    import graft.functions.Bloom
    import spark.implicits._
    val vs = snapshotVersions(spark, baseRoot)
    require(vs.nonEmpty, s"no snapshots at $baseRoot")
    val head = vs.last
    val headEntries = manifestEntries(spark, baseRoot, head)
    val live = headEntries.map(e => baseName(e.path)).toSet
    val idxHead = snapshotVersions(spark, idxRoot).lastOption
    val idxHdr = idxHead.map(manifestHeader(spark, idxRoot, _))
      .getOrElse(Map.empty[String, String])
    // (names the index covers, files it holds rows for)
    val (covered, nIndexed): (Set[String], Long) =
      if (idxHead.isEmpty) (Set.empty, 0L)
      else (for {
        b <- idxHdr.get("bloomBase").map(_.toInt) if vs.contains(b)
        n <- idxHdr.get("bloomFiles").map(_.toLong)
      } yield (manifestFiles(spark, baseRoot, b).map(baseName).toSet, n))
        .getOrElse {
          val have = readSnapshot(spark, idxRoot).select(col("file"))
            .distinct().collect().map(_.getString(0)).toSet
          (have, have.size.toLong)
        }
    val newEntries = headEntries.filterNot(e => covered(baseName(e.path)))
    val total = nIndexed + newEntries.size
    val rewrite = gc && total - live.size > live.size
    if (newEntries.isEmpty && !rewrite) return head
    def rows = manifestRelation(spark, baseRoot, newEntries,
        manifestHeader(spark, baseRoot, head))._1
      .select(element_at(split(input_file_name(), "/"), -1).as("file"),
        explode(Bloom.positionsFor(col(keyCol).cast("long"), mBits)).as("pos"))
      .select(col("file"), (col("pos") / 64).cast("int").as("w"),
        call_function("shiftleft", lit(1L), (col("pos") % 64).cast("int")).as("m"))
      .groupBy(col("file"), col("w")).agg(bit_or(col("m")).as("bits"))
    // every new file records a (w=-1, bits=0) MARKER row: "indexed".
    // A file contributing NO positions (an empty file) would otherwise
    // never enter the index and stay an eternal conservative candidate —
    // every point lookup would scan it forever. No probe requirement ever
    // targets w=-1, so the marker satisfies nothing; written for every
    // file, it needs no second pass over the rows to find the empty ones.
    val markers = newEntries.map(e => baseName(e.path)).toDF("file")
      .select(col("file"), lit(-1).cast("int").as("w"), lit(0L).as("bits"))
    val fresh = (if (newEntries.isEmpty) markers else rows.unionByName(markers))
      .withColumn("base_version", lit(head))
    def inventory(n: Long) =
      Map("bloomBase" -> head.toString, "bloomFiles" -> n.toString)
    if (!rewrite)
      appendInternal(spark, idxRoot, fresh.coalesce(1), None, None,
        extraHeader = inventory(total))
    else {
      val kept = covered.intersect(live)
      val out =
        if (kept.isEmpty) fresh
        else readSnapshot(spark, idxRoot)
          .join(kept.toSeq.toDF("file"), Seq("file"), "left_semi")
          .unionByName(fresh)
      snapshotOverwrite(spark, idxRoot, out.coalesce(1),
        extraHeader = inventory(live.size))
    }
    head
  }

  /** Per-file bloom verdicts for a probe set: file base-name → "might
    * contain some probe". Files absent from the map are UNINDEXED
    * (maintenance lag) — callers must treat them as candidates. The one
    * candidate-resolution pass shared by [[snapshotPointLookup]] and the
    * DSv2 scan's equality skipping, in ONE aggregation over the index:
    *
    *  - the probes' needs (word → mask, k words per probe) are computed
    *    on the driver through the build's own Catalyst expression — a
    *    projection over a local relation, folded at optimization, so no
    *    job;
    *  - each probe owns a field of `Bloom.K` bits in one of
    *    ⌈probes / ⌊64 / K⌋⌉ long CHUNKS, one bit per needed word; a
    *    literal map word → (chunk, bit, need) tags every index row with
    *    the needs it can satisfy (`bits & need == need`);
    *  - `groupBy(file)` bit-ORs the satisfied bits per chunk (partial
    *    aggregation before the one shuffle), and a file is a hit iff
    *    some probe's field comes back full.
    *
    * Every indexed file surfaces (rows needing nothing contribute 0), and
    * what returns to the driver is O(indexed files) NAMES + booleans —
    * name-scale like the manifest itself, never the 16 KiB/file bit
    * payload. Duplicate index rows (two overlapping maintenance runs
    * both committing a file's rows — value-identical, blooms being pure
    * functions of immutable content) set the same bits again: bit_or is
    * idempotent, the no-false-negative guard.
    */
  private[graft] def bloomCandidateStatus(
      spark: org.apache.spark.sql.SparkSession, idxRoot: String,
      values: Seq[Long], mBits: Int = BloomIndexBits)
      : Map[String, Boolean] = {
    import graft.functions.Bloom
    import spark.implicits._
    require(values.nonEmpty, "empty probe set")
    if (snapshotVersions(spark, idxRoot).isEmpty) return Map.empty
    val needs: Seq[Map[Int, Long]] = values.distinct.toDF("v")
      .select(Bloom.positionsFor(col("v"), mBits).as("ps"))
      .collect().toSeq.map(_.getSeq[Long](0)
        .groupMapReduce(p => (p / 64).toInt)(p => 1L << (p % 64).toInt)(_ | _))
    val perChunk = 64 / Bloom.K
    val nChunks = (needs.size + perChunk - 1) / perChunk
    def fieldAt(pid: Int) = (pid % perChunk) * Bloom.K
    val byWord: Map[Int, Seq[(Int, Long, Long)]] = needs.zipWithIndex
      .flatMap { case (ws, pid) =>
        ws.toSeq.sortBy(_._1).zipWithIndex.map { case ((w, need), j) =>
          w -> ((pid / perChunk, 1L << (fieldAt(pid) + j), need))
        }
      }.groupMap(_._1)(_._2)
    val fullByChunk: Map[Int, Seq[Long]] = needs.zipWithIndex
      .groupMap(_._2 / perChunk) { case (ws, pid) =>
        ((1L << ws.size) - 1) << fieldAt(pid) }
    val req = col("__graft_req")
    val got = when(req.isNotNull &&
      col("bits").bitwiseAND(req("_3")) === req("_3"), req("_2")).otherwise(0L)
    val chunkAggs = (0 until nChunks).map(c =>
      bit_or(when(req("_1") === c, got).otherwise(0L)).as(s"__graft_c$c"))
    val hit = (0 until nChunks).map { c =>
      val acc = col(s"__graft_c$c")
      exists(typedlit(fullByChunk(c)), full => acc.bitwiseAND(full) === full)
    }.reduce(_ || _)
    readSnapshot(spark, idxRoot)
      .select(col("file"), col("bits"),
        explode_outer(element_at(typedlit(byWord), col("w"))).as("__graft_req"))
      .groupBy(col("file")).agg(chunkAggs.head, chunkAggs.tail: _*)
      .select(col("file"), hit)
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
  }

  /** The CONVENTION index root for [[maintainBloomIndexFor]]'s indexes:
    * a sibling of the data dirs (vacuum walks only `data/` + `deletes/`,
    * so the index table is never swept as orphans).
    */
  private[graft] def bloomSnapIdxRoot(root: String, keyCol: String): String =
    s"$root/_bloomidx_$keyCol"

  /** [[maintainBloomIndex]] at the convention location, RECORDED on the
    * base table (`bloomIndex` property: comma set of indexed columns) so
    * the DSv2 scan discovers and uses the index for equality/IN
    * predicates with zero per-query configuration. Run it on the same
    * cadence as any maintenance job; unindexed fresh files stay
    * conservative (scanned) until the next run.
    */
  def maintainBloomIndexFor(spark: org.apache.spark.sql.SparkSession,
      root: String, keyCol: String, mBits: Int = BloomIndexBits): Int = {
    val idxRoot = bloomSnapIdxRoot(root, keyCol)
    val v = maintainBloomIndexCore(spark, root, idxRoot, keyCol, mBits, gc = true)
    val declared = manifestHeader(spark, root, snapshotVersions(spark, root).last)
      .get("bloomIndex").map(_.split(",").map(_.trim).toSet)
      .getOrElse(Set.empty)
    if (!declared.contains(keyCol))
      snapshotSetProperties(spark, root,
        Map("bloomIndex" -> (declared + keyCol).toSeq.sorted.mkString(",")))
    v
  }

  /** Point/IN-list lookup on the VERSIONED table through
    * [[maintainBloomIndex]]'s index — ≡ `readSnapshot(...).filter(keyCol
    * IN values)`, including MOR delete semantics: candidate files (bloom
    * hit, or not yet indexed — conservative) are read through the same
    * MOR-aware subset engine as a partition read, so delete sidecars
    * still apply; then one broadcast semi-join against the probe set.
    * No false negatives (bloom contract + conservative unindexed rule)
    * makes the result exact; false positives cost one wasted file scan.
    *
    * Candidate resolution is [[bloomCandidateStatus]]'s one aggregation
    * over the index (one shuffle): the probes' needs fold on the driver,
    * the index NEVER collects to the driver (at 10⁶ files it is ~16 GB;
    * only O(indexed files) names and booleans come back), and the
    * candidate read is typed from the manifest — building the result
    * starts no further job.
    */
  def snapshotPointLookup(spark: org.apache.spark.sql.SparkSession,
      baseRoot: String, idxRoot: String, keyCol: String, values: Seq[Long],
      mBits: Int = BloomIndexBits): BloomLookup = {
    import graft.functions.Bloom
    import spark.implicits._
    require(values.nonEmpty, "empty probe set")
    val vs = snapshotVersions(spark, baseRoot)
    require(vs.nonEmpty, s"no snapshots at $baseRoot")
    val head = vs.last
    val status = bloomCandidateStatus(spark, idxRoot, values, mBits)
    def isCandidate(e: FileEntry): Boolean =
      // unindexed (maintenance lag): conservative, scan it
      status.getOrElse(baseName(e.path), true)
    val entries = manifestEntries(spark, baseRoot, head)
    val candidates = entries.filter(isCandidate).map(_.path)
    val probe = values.toDF("__graft_probe")
    val hdr = manifestHeader(spark, baseRoot, head)
    val result = readSnapshotSubset(spark, baseRoot, head, hdr, isCandidate)
      .join(broadcast(probe), col(keyCol) === col("__graft_probe"), "left_semi")
    BloomLookup(result, candidates, entries.size)
  }

  // ------------------------------------------------------------ snapshots
  /** Manifest-based SNAPSHOT ISOLATION + TIME TRAVEL + VACUUM — the
    * metadata layer that turns a directory of parquet files into a
    * versioned table (the Iceberg/Delta idea at its core): a commit is a
    * MANIFEST (`_manifests/vN.manifest`: header lines + `seg:` references
    * to immutable SEGMENT files holding the data-file entries — see the
    * segment scaladoc below) published atomically via
    * write-temp-then-rename; data files are IMMUTABLE once referenced —
    * an append writes only its own new files, ONE new segment, and a
    * manifest of O(versions) reference lines; an overwrite (compaction,
    * COW merge) writes new files and a manifest that simply stops
    * referencing the old ones. Entries carry per-file column stats and
    * partition values recorded at commit ([[FileStats]]/[[FileEntry]]),
    * so pruning reads the manifest, not parquet footers.
    * Readers resolve a manifest ONCE and read exactly its file list, so
    * a query sees one version even while writers commit — and any retained
    * version stays readable forever (time travel) until `vacuumSnapshots`
    * deletes files no kept manifest references (the retention job every
    * deployment schedules).
    * 100 TB: commits are O(files) metadata — no data I/O; appends are
    * O(new bytes); rename-atomicity holds on HDFS-like stores (object
    * stores substitute a conditional PUT — same protocol shape); vacuum
    * is listing + set difference, and is the ONLY operation that ever
    * deletes a data file.
    */
  case class VacuumStats(deletedFiles: Int, keptFiles: Int, droppedVersions: Seq[Int])

  /** Minimum age before an uncommitted version claim may be swept —
    * bounds how long a writer may stall between claiming and renaming.
    */
  val ClaimGraceMillis: Long = 15L * 60 * 1000

  /** Filesystem schemes where `create(path, overwrite=false)` is a true
    * atomic claim: kernel-atomic (local), namenode-atomic (HDFS family),
    * or hierarchical-namespace-atomic (ABFS). Flat object stores (s3a …)
    * are deliberately absent — their create-exclusive is HEAD-then-PUT;
    * deployments with conditional-put or an external lock opt in via
    * `spark.graft.commit.assumeAtomicClaim=true`.
    */
  val AtomicClaimSchemes: Set[String] =
    Set("file", "hdfs", "viewfs", "webhdfs", "swebhdfs", "abfs", "abfss")

  /** Reflectively-loaded [[ClaimArbiter]] per
    * `spark.graft.commit.arbiter` — instantiated once per class name
    * (implementations are driver-thread-safe by contract). Unset (the
    * default) means the filesystem claim file arbitrates.
    */
  private val arbiterCache =
    new java.util.concurrent.ConcurrentHashMap[String, ClaimArbiter]()

  private def externalArbiter(
      spark: org.apache.spark.sql.SparkSession): Option[ClaimArbiter] =
    spark.conf.get("spark.graft.commit.arbiter", "") match {
      case "" => None
      case cn => Some(arbiterCache.computeIfAbsent(cn, c =>
        Class.forName(c).getDeclaredConstructor().newInstance()
          .asInstanceOf[ClaimArbiter]))
    }

  private def msDir(root: String) = new org.apache.hadoop.fs.Path(s"$root/_manifests")

  /** ATTEMPT-UNIQUE data directory for version `v`: two writers racing
    * the same next version must never share a staging directory — a
    * shared `data/vN` makes their parquet jobs fight over the SAME
    * `_temporary` tree (one job's cleanup deletes the other's in-flight
    * task files) and both fail with committer errors instead of the
    * protocol's clean lost-the-race signal. Each attempt writes its own
    * directory; the manifest references whichever attempt committed, a
    * losing attempt's directory is an unreferenced orphan
    * ([[vacuumOrphanFiles]] is the matching cleanup job).
    */
  private def attemptDir(root: String, kind: String, v: Int): String =
    s"$root/$kind/v$v-${java.util.UUID.randomUUID().toString.take(8)}"

  private def fsOf(spark: org.apache.spark.sql.SparkSession, root: String) =
    new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  def snapshotVersions(spark: org.apache.spark.sql.SparkSession,
      root: String): Seq[Int] = {
    val fs = fsOf(spark, root)
    if (!fs.exists(msDir(root))) Seq.empty
    else fs.listStatus(msDir(root)).toSeq
      .map(_.getPath.getName)
      .collect { case n if n.matches("v\\d+\\.manifest") =>
        n.stripPrefix("v").stripSuffix(".manifest").toInt }
      .sorted
  }

  private def manifestLines(spark: org.apache.spark.sql.SparkSession,
      root: String, version: Int): Seq[String] = {
    val fs = fsOf(spark, root)
    val p = new org.apache.hadoop.fs.Path(msDir(root), s"v$version.manifest")
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList.filter(_.nonEmpty)
    finally in.close()
  }

  /** Manifest-embedded per-file column statistics: (min, max) per
    * declared stats column plus the row count, recorded AT COMMIT TIME
    * (one footer pass over only the commit's NEW files) so every later
    * pruning decision — COW merge, MOR delete scoping — reads
    * manifest-grade metadata instead of re-opening parquet footers.
    * The Iceberg/Delta stats idea, at its core. `statsKey` may declare
    * SEVERAL comma-separated columns (a real table prunes on more than
    * one); numeric columns must be integral — a truncated double max
    * would wrongly prune (10.5 > floor(10.7)), so the numeric contract
    * is long-typed keys, same as the footer fallback's.
    * STRING columns (ISO-date strings, UUIDs, URL prefixes) record
    * (min, max) too — with the collation guard that keeps byte-order
    * pruning SOUND: parquet footer stats order binary min/max by
    * unsigned byte, which coincides with Java string comparison only on
    * ASCII, so non-ASCII bounds are recorded as absent (the file prunes
    * nothing — conservative, never wrong).
    */
  case class FileStats(cols: Map[String, (Long, Long)],
      strCols: Map[String, (String, String)], rows: Long,
      nulls: Map[String, Long] = Map.empty,
      dblCols: Map[String, (Double, Double)] = Map.empty,
      // per-column KMV (bottom-k) distinct-count synopses for the
      // table's declared `ndvKey` columns ([[graft.functions.KmvSketch]],
      // k = [[graft.functions.KmvSketch.ManifestK]]): mergeable across
      // files (k-smallest union), so a scan's kept-file set folds into
      // a table/partition NDV estimate the optimizer reads through
      // DSv2 column statistics
      ndv: Map[String, Seq[Long]] = Map.empty,
      // per-column EQUI-HEIGHT QUANTILE BOUNDARIES for the table's
      // declared `histKey` columns (HistBins+1 doubles, from the
      // commit-time KLL pass — [[graft.functions.QuantileSketch]]): the
      // file's value distribution as a piecewise-uniform synopsis,
      // merged at scan build into the DSv2 histogram CBO's range
      // FilterEstimation reads — the `WHERE ts BETWEEN` shape NDV and
      // min/max alone cannot price under skew
      hist: Map[String, Seq[Double]] = Map.empty)

  /** One data-file entry of a manifest segment: path, optional
    * [[FileStats]] on the table's statsKey column, and the file's
    * distinct partition values (for tables with a declared `partCol`) —
    * the unit of all manifest-side pruning.
    */
  case class FileEntry(path: String, stats: Option[FileStats],
      parts: Option[Seq[String]])

  /** Header keys that are PER-COMMIT metadata, never table properties:
    * everything else carries across commits (the `deleteKey` carry rule,
    * generalized to user properties and `check.*` constraints).
    */
  private val EphemeralHeaders = Set("ts", "writer", "epoch", "schema",
    "mvBase", "cdcKey", "publishRef", "publishSrc", "bloomBase", "bloomFiles")

  /** Engine-owned properties a user must not SET/UNSET directly — each
    * has its own evolution path (declaration at first commit; the
    * rename/drop engine for the mapping pair).
    */
  private[graft] val ReservedProps = Set("deleteKey", "statsKey", "partCol",
    "partSpec", "ndvKey", "histKey", "clusterBy", "colmap", "tombstones") ++
    EphemeralHeaders

  private def carriedProps(hdr: Map[String, String]): Map[String, String] =
    hdr -- EphemeralHeaders

  /** SCHEMA IN THE MANIFEST (Delta's log-recorded schema): each commit
    * records its version's full schema as a header (`#schema=<json>`),
    * so planning — the Catalyst relation, an all-files-pruned read —
    * never infers schema from O(table) parquet footers. Additive merge:
    * new columns append (nullable), a type conflict drops the header
    * (readers fall back to the mergeSchema read, which fails loudly —
    * same contract as before). Tables whose history predates the header
    * simply keep falling back.
    */
  /** DEEP nullability normalization: encoder-derived schemas mark
    * nested fields non-nullable where a parquet read-back marks them
    * nullable — a strict dataType comparison would call that a "type
    * conflict" and permanently drop the schema header. Everything
    * recorded and compared is all-nullable at every depth.
    */
  private def asNullable(dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = dt match {
    case st: org.apache.spark.sql.types.StructType =>
      org.apache.spark.sql.types.StructType(st.fields.map(f =>
        f.copy(dataType = asNullable(f.dataType), nullable = true)))
    case at: org.apache.spark.sql.types.ArrayType =>
      org.apache.spark.sql.types.ArrayType(asNullable(at.elementType), true)
    case mt: org.apache.spark.sql.types.MapType =>
      org.apache.spark.sql.types.MapType(
        asNullable(mt.keyType), asNullable(mt.valueType), true)
    case other => other
  }

  private def mergeSchemas(
      prev: Option[org.apache.spark.sql.types.StructType],
      add: org.apache.spark.sql.types.StructType)
      : Option[org.apache.spark.sql.types.StructType] = {
    val norm = asNullable(add).asInstanceOf[org.apache.spark.sql.types.StructType]
    prev match {
      case None => Some(norm)
      case Some(p0) =>
        val p = asNullable(p0).asInstanceOf[org.apache.spark.sql.types.StructType]
        val byName = p.fields.map(f => f.name -> f).toMap
        val conflict = norm.fields.exists(f =>
          byName.get(f.name).exists(_.dataType != f.dataType))
        if (conflict) None
        else Some(org.apache.spark.sql.types.StructType(
          p.fields ++ norm.fields.filterNot(f => byName.contains(f.name))))
    }
  }

  private def schemaHeaderOf(
      schema: Option[org.apache.spark.sql.types.StructType])
      : Map[String, String] =
    schema.map(sc =>
      "schema" -> java.net.URLEncoder.encode(sc.json, "UTF-8")).toMap

  /** The carry-forward state of a version, shared by every commit path
    * that extends it (append, idempotent append, MOR delete): segment
    * references, legacy inline entries (which must re-serialize or the
    * commit silently drops pre-v2 files), delete sidecars (their
    * `delete:` lines verbatim, recorded scopes included), table
    * properties, and the recorded schema.
    */
  private case class CarriedState(segs: Seq[String], inline: Seq[FileEntry],
      deletes: Seq[String], props: Map[String, String],
      schema: Option[org.apache.spark.sql.types.StructType])

  private def carriedStateOf(spark: org.apache.spark.sql.SparkSession,
      root: String, prev: Option[Int]): CarriedState = prev match {
    case None => CarriedState(Nil, Nil, Nil, Map.empty, None)
    case Some(v0) => CarriedState(
      manifestSegRefs(spark, root, v0),
      manifestEntriesTagged(spark, root, v0).collect { case ("", e) => e },
      manifestDeleteRefs(spark, root, v0),
      carriedProps(manifestHeader(spark, root, v0)),
      manifestSchema(spark, root, v0))
  }

  private def manifestSchema(spark: org.apache.spark.sql.SparkSession,
      root: String, version: Int)
      : Option[org.apache.spark.sql.types.StructType] =
    manifestSchemaOf(manifestHeader(spark, root, version))

  // Entry wire format: `path` optionally followed by tab-separated
  // tokens `n=<rows>`, one `s=<encCol>:<min>:<max>` per stats column,
  // and `p=<enc,enc,...>` (names/values URL-encoded so separators
  // can't corrupt the line). Token-less lines parse as stat-less
  // entries — the v1 manifests' raw path lines remain readable.
  private def serEntry(e: FileEntry): String = {
    def enc(x: String) = java.net.URLEncoder.encode(x, "UTF-8")
    val st = e.stats.toSeq.flatMap { s =>
      s"n=${s.rows}" +:
        (s.cols.toSeq.sortBy(_._1).map { case (c, (mn, mx)) =>
          s"s=${enc(c)}:$mn:$mx"
        } ++ s.strCols.toSeq.sortBy(_._1).map { case (c, (mn, mx)) =>
          s"t=${enc(c)}:${enc(mn)}:${enc(mx)}"
        } ++ s.nulls.toSeq.sortBy(_._1).map { case (c, z) =>
          s"z=${enc(c)}:$z"
        } ++ s.dblCols.toSeq.sortBy(_._1).map { case (c, (mn, mx)) =>
          // raw-bits longs, not decimal text: the round-trip is exact
          // for every double including ±0.0 and infinities
          s"d=${enc(c)}:${java.lang.Double.doubleToRawLongBits(mn)}:" +
            s"${java.lang.Double.doubleToRawLongBits(mx)}"
        } ++ s.ndv.toSeq.sortBy(_._1).map { case (c, sk) =>
          // KMV synopsis: base64 of big-endian longs (≤ ManifestK · 8 B)
          val bb = java.nio.ByteBuffer.allocate(sk.length * 8)
          sk.foreach(bb.putLong)
          s"k=${enc(c)}:${java.util.Base64.getEncoder.encodeToString(bb.array)}"
        } ++ s.hist.toSeq.sortBy(_._1).map { case (c, bs) =>
          // quantile boundaries: base64 of raw-bits doubles (exact
          // round-trip; HistBins+1 · 8 B per column)
          val bb = java.nio.ByteBuffer.allocate(bs.length * 8)
          bs.foreach(v => bb.putLong(java.lang.Double.doubleToRawLongBits(v)))
          s"q=${enc(c)}:${java.util.Base64.getEncoder.encodeToString(bb.array)}"
        })
    }
    val ps = e.parts.toSeq.map(vs => "p=" + vs.map(
      java.net.URLEncoder.encode(_, "UTF-8")).mkString(","))
    (e.path +: (st ++ ps)).mkString("\t")
  }

  private def parseEntry(line: String): FileEntry = {
    val toks = line.split('\t')
    val kvs = toks.tail.flatMap(t => t.split("=", 2) match {
      case Array(k, v) => Some(k -> v)
      case _ => None
    })
    def dec(x: String) = java.net.URLDecoder.decode(x, "UTF-8")
    // TOLERANT token parsing: a malformed or unknown token degrades to
    // "that statistic is absent" (prune nothing, stay correct) instead
    // of a MatchError that would brick every version sharing the segment
    val cols = kvs.flatMap {
      case ("s", v) => v.split(":") match {
        case Array(c, mn, mx) =>
          scala.util.Try(dec(c) -> ((mn.toLong, mx.toLong))).toOption
        case _ => None
      }
      case _ => None
    }.toMap
    val strCols = kvs.flatMap {
      // -1 limit keeps trailing empty fields (an empty-string min/max)
      case ("t", v) => v.split(":", -1) match {
        case Array(c, mn, mx) =>
          scala.util.Try(dec(c) -> ((dec(mn), dec(mx)))).toOption
        case _ => None
      }
      case _ => None
    }.toMap
    val nulls = kvs.flatMap {
      case ("z", v) => v.split(":") match {
        case Array(c, z) => scala.util.Try(dec(c) -> z.toLong).toOption
        case _ => None
      }
      case _ => None
    }.toMap
    val dblCols = kvs.flatMap {
      case ("d", v) => v.split(":") match {
        case Array(c, mn, mx) => scala.util.Try(dec(c) ->
          ((java.lang.Double.longBitsToDouble(mn.toLong),
            java.lang.Double.longBitsToDouble(mx.toLong)))).toOption
        case _ => None
      }
      case _ => None
    }.toMap
    val ndv = kvs.flatMap {
      // -1 limit keeps the trailing empty field: an EMPTY synopsis
      // (all-NULL column in the file) serializes as "k=c:" and must
      // round-trip as an empty sketch, not vanish — a dropped entry
      // silently kills table-wide NDV reporting (which requires every
      // kept file to carry one)
      case ("k", v) => v.split(":", -1) match {
        case Array(c, b64) => scala.util.Try {
          val bytes = java.util.Base64.getDecoder.decode(b64)
          val bb = java.nio.ByteBuffer.wrap(bytes)
          dec(c) -> Seq.fill(bytes.length / 8)(bb.getLong)
        }.toOption
        case _ => None
      }
      case _ => None
    }.toMap
    val hist = kvs.flatMap {
      // -1 limit as for "k=": an empty boundary list (all-NULL column)
      // round-trips as empty, not absent
      case ("q", v) => v.split(":", -1) match {
        case Array(c, b64) => scala.util.Try {
          val bytes = java.util.Base64.getDecoder.decode(b64)
          val bb = java.nio.ByteBuffer.wrap(bytes)
          dec(c) -> Seq.fill(bytes.length / 8)(
            java.lang.Double.longBitsToDouble(bb.getLong))
        }.toOption
        case _ => None
      }
      case _ => None
    }.toMap
    val stats = kvs.collectFirst { case ("n", v) => v }
      .flatMap(n => scala.util.Try(n.toLong).toOption)
      .map(n => FileStats(cols, strCols, n, nulls, dblCols, ndv, hist))
    val parts = kvs.collectFirst { case ("p", v) => v }
      .map(_.split(",").toSeq.map(java.net.URLDecoder.decode(_, "UTF-8")))
    FileEntry(toks.head, stats, parts)
  }

  /** MANIFEST SEGMENTS — the O(delta) commit structure (Iceberg's
    * manifest-list, at its core): data-file entries live in immutable
    * `.seg` files under `_manifests/segs/`; a manifest body holds only
    * headers, delete-sidecar lines, and `seg:` references. An append
    * writes ONE new segment (its own files) and a manifest whose seg
    * list is the previous version's plus one line — per-commit metadata
    * is O(new files + versions), not O(table files). At 10⁶ table files
    * that is the difference between ~100 MB and ~KB of manifest text
    * per append.
    */
  private def segsDir(root: String) =
    new org.apache.hadoop.fs.Path(msDir(root), "segs")

  private def writeSegment(spark: org.apache.spark.sql.SparkSession,
      root: String, entries: Seq[FileEntry]): String = {
    val fs = fsOf(spark, root)
    fs.mkdirs(segsDir(root))
    val name = s"${java.util.UUID.randomUUID().toString.take(12)}.seg"
    val out = fs.create(new org.apache.hadoop.fs.Path(segsDir(root), name), false)
    try out.write((entries.map(serEntry).mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
    name
  }

  /** Parsed-segment memo: segment files are IMMUTABLE once written
    * (attempt-unique names, never rewritten), so their parsed entries
    * cache safely forever — an append chain's history walk becomes
    * O(segments) instead of O(versions · segments), and one read
    * resolves a manifest's segments at most once per process. Bounded
    * LRU; vacuumed segments age out naturally (no manifest references
    * them, so they are never looked up again).
    */
  private val segCache =
    new java.util.LinkedHashMap[String, Seq[FileEntry]](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Seq[FileEntry]]): Boolean =
        size() > 4096
    }

  private def segEntries(spark: org.apache.spark.sql.SparkSession,
      root: String, name: String): Seq[FileEntry] = {
    val key = s"$root|$name"
    segCache.synchronized {
      val hit = segCache.get(key)
      if (hit != null) return hit
    }
    val fs = fsOf(spark, root)
    val in = fs.open(new org.apache.hadoop.fs.Path(segsDir(root), name))
    val parsed =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .filter(_.nonEmpty).map(parseEntry).toList
      finally in.close()
    segCache.synchronized { segCache.put(key, parsed) }
    parsed
  }

  private def manifestSegRefs(spark: org.apache.spark.sql.SparkSession,
      root: String, version: Int): Seq[String] =
    manifestLines(spark, root, version).filter(_.startsWith("seg:"))
      .map(_.stripPrefix("seg:"))

  /** Every data-file entry of a version, tagged with its owning segment
    * name ("" for legacy inline path lines) — segment tags let
    * [[snapshotMergeKeys]] carry wholly-untouched segments BY REFERENCE.
    */
  private def manifestEntriesTagged(spark: org.apache.spark.sql.SparkSession,
      root: String, version: Int): Seq[(String, FileEntry)] = {
    val lines = manifestLines(spark, root, version)
    lines.filter(_.startsWith("seg:")).map(_.stripPrefix("seg:"))
      .flatMap(s => segEntries(spark, root, s).map(s -> _)) ++
      lines.filterNot(l => l.startsWith("#") || l.startsWith("delete:") ||
        l.startsWith("seg:")).map(l => "" -> parseEntry(l))
  }

  private def manifestEntries(spark: org.apache.spark.sql.SparkSession,
      root: String, version: Int): Seq[FileEntry] =
    manifestEntriesTagged(spark, root, version).map(_._2)

  private def manifestFiles(spark: org.apache.spark.sql.SparkSession,
      root: String, version: Int): Seq[String] =
    manifestEntries(spark, root, version).map(_.path)

  /** MERGE-ON-READ delete sidecar files of a manifest (`delete:` lines):
    * parquet files of (file, key) equality-delete rows the reader applies
    * as an anti-join over exactly the scoped data files. Empty for every
    * table no [[snapshotDeleteMOR]] ever touched.
    */
  private def manifestDeleteFiles(spark: org.apache.spark.sql.SparkSession,
      root: String, version: Int): Seq[String] =
    manifestDeleteRefs(spark, root, version).map(deleteRefPath)

  /** The `delete:` lines of a manifest as written: the sidecar path,
    * optionally followed by a tab and `scope=<enc,enc,...>`, the base
    * names of the data files the sidecar has rows for, recorded by the
    * delete that wrote it. Commits carry these lines verbatim, so a
    * recorded scope travels with its sidecar through appends, restores,
    * clones and branch publishes. A line without a scope (sidecars
    * written before the scope was recorded) is still read: the reader
    * derives its scope with one distinct pass ([[deleteScopeOf]]).
    */
  private def manifestDeleteRefs(spark: org.apache.spark.sql.SparkSession,
      root: String, version: Int): Seq[String] =
    manifestLines(spark, root, version).filter(_.startsWith("delete:"))
      .map(_.stripPrefix("delete:"))

  private def deleteRefPath(ref: String): String = ref.takeWhile(_ != '\t')

  private def deleteRef(path: String, scope: Set[String]): String =
    s"$path\tscope=" + scope.toSeq.sorted
      .map(java.net.URLEncoder.encode(_, "UTF-8")).mkString(",")

  private def deleteRefScope(ref: String): Option[Set[String]] =
    ref.split('\t').drop(1).collectFirst {
      case t if t.startsWith("scope=") => t.stripPrefix("scope=").split(",")
        .filter(_.nonEmpty).map(java.net.URLDecoder.decode(_, "UTF-8")).toSet
    }

  /** `#key=value` header entries of a manifest (writer identity etc.). */
  private def manifestHeader(spark: org.apache.spark.sql.SparkSession,
      root: String, version: Int): Map[String, String] =
    manifestLines(spark, root, version).filter(_.startsWith("#"))
      .flatMap { l =>
        l.drop(1).split("=", 2) match {
          case Array(k, v) => Some(k -> v)
          case _ => None
        }
      }.toMap

  /** Commit a manifest: `newEntries` (if any) are first written as ONE
    * new segment; the manifest body is headers + delete lines +
    * `seg:` references (`carriedSegs` in order, then the new segment).
    * The body never inlines data-file paths, so its size is O(versions
    * + sidecars), and the bytes written per commit are O(new files).
    */
  private def commitManifest(spark: org.apache.spark.sql.SparkSession,
      root: String, version: Int, carriedSegs: Seq[String],
      newEntries: Seq[FileEntry],
      header: Map[String, String] = Map.empty,
      deletes: Seq[String] = Nil,
      claimOwner: Option[String] = None): Unit = {
    val fs = fsOf(spark, root)
    fs.mkdirs(msDir(root))
    val segs = carriedSegs ++
      (if (newEntries.nonEmpty) Seq(writeSegment(spark, root, newEntries)) else Nil)
    // a UNIQUE tmp per attempt: a shared ".vN.tmp" would let two racing
    // writers overwrite each other's staged body and cross-commit — the
    // rename guard below can only arbitrate if each writer renames its
    // OWN bytes
    val tmp = new org.apache.hadoop.fs.Path(msDir(root),
      s".v$version.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    val out = fs.create(tmp, false)
    // every commit is wall-clock stamped (AS OF timestamp reads resolve
    // against it); callers may pin an explicit ts for reproducible tables
    val stamped =
      if (header.contains("ts")) header
      else header + ("ts" -> System.currentTimeMillis().toString)
    val body = (stamped.toSeq.sortBy(_._1).map { case (k, v) => s"#$k=$v" } ++
      deletes.map(d => s"delete:$d") ++ segs.map(s => s"seg:$s")).mkString("\n") + "\n"
    try out.write(body.getBytes("UTF-8"))
    finally out.close()
    val dst = new org.apache.hadoop.fs.Path(msDir(root), s"v$version.manifest")
    // ATOMIC CLAIM, then rename. Rename-if-absent alone is NOT atomic on
    // a local filesystem: FileContext's Rename.NONE is an exists-check
    // followed by rename(2), so two racers can both pass the check and
    // the loser's rename silently overwrites the winner (observed as a
    // CRC-sidecar mismatch under the concurrency spec). The commit
    // therefore first claims the version with a CREATE-EXCLUSIVE marker
    // (O_EXCL via java.nio on local paths — kernel-atomic; name-node-
    // atomic create(overwrite=false) elsewhere); only the claim winner
    // renames, so the manifest rename is single-writer and appears
    // atomically to readers. A claim whose writer crashed pre-rename is
    // swept by [[vacuumOrphanFiles]] under its age cutoff.
    val claim = new org.apache.hadoop.fs.Path(msDir(root), s"v$version.claim")
    // PER-ATTEMPT TOKEN: idempotent writers claim under their stable
    // owner string (so a crash-replay recognizes its own half-commit
    // below); anonymous writers claim under a fresh UUID. Either way the
    // token is what the pre-rename re-read compares against — a swept-
    // and-re-claimed version holds a DIFFERENT token, which is how a
    // stalled writer learns it lost the lock instead of clobbering.
    val token = claimOwner.getOrElse(
      s"anon:${java.util.UUID.randomUUID().toString}")
    val ownerBytes = token.getBytes("UTF-8")
    // EXTERNAL ARBITER ([[ClaimArbiter]]): when configured, the claim's
    // three primitives (atomic try-claim, holder re-read, release) ride
    // the deployment's lock service instead of the claim file — the
    // object-store answer, since a conditional-PUT/lock-table CAS is
    // atomic where create(overwrite=false) is not. The protocol below
    // is identical either way.
    val external = externalArbiter(spark)
    val won = external.map(_.tryClaim(spark, root, version, token)).getOrElse {
      if (fs.getScheme == "file") {
        try {
          java.nio.file.Files.write(
            java.nio.file.Paths.get(claim.toUri.getPath), ownerBytes,
            java.nio.file.StandardOpenOption.CREATE_NEW)
          true
        } catch { case _: java.nio.file.FileAlreadyExistsException => false }
      } else {
        // create(overwrite=false) is only an atomic claim where the
        // store enforces it server-side (namenode / hierarchical
        // namespace). Flat object stores (S3A and kin) implement it as
        // HEAD-then-PUT — two racers can both "win" — so the commit
        // refuses them loudly unless the deployment explicitly opts in
        // (e.g. S3 strong-consistency + an external lock, or a store
        // whose PUT honors If-None-Match).
        val scheme = Option(fs.getScheme).getOrElse("").toLowerCase
        if (!AtomicClaimSchemes.contains(scheme) &&
            spark.conf.get("spark.graft.commit.assumeAtomicClaim",
              "false") != "true")
          throw new IllegalStateException(
            s"snapshot commit on scheme '$scheme' cannot guarantee an " +
              "atomic version claim: create(overwrite=false) is " +
              "HEAD-then-PUT on flat object stores, so two writers can " +
              "both claim the same version. Commit from an " +
              s"atomic-create store (${AtomicClaimSchemes.mkString(", ")}), " +
              "configure spark.graft.commit.arbiter — shipped: " +
              "graft.ops.ConditionalPutArbiter (this store's PUT honors " +
              "If-None-Match; certify via " +
              "spark.graft.commit.conditionalPutSchemes), " +
              "graft.ops.SingleDriverArbiter (all writers in one driver " +
              "JVM) or graft.ops.LockRootArbiter (+ " +
              "spark.graft.commit.lockRoot on an atomic store), or any " +
              "graft.ops.ClaimArbiter backed by a lock table / " +
              "conditional PUT — or set " +
              "spark.graft.commit.assumeAtomicClaim=true if this store " +
              "provides conditional-put semantics natively.")
        try {
          val o = fs.create(claim, false)
          try o.write(ownerBytes) finally o.close()
          true
        }
        catch { case _: org.apache.hadoop.fs.FileAlreadyExistsException => false }
      }
    }
    // the holder re-read, against whichever store arbitrates the claim
    def claimHolder(): Option[String] = external match {
      case Some(a) => a.holder(spark, root, version)
      case None =>
        try {
          val in = fs.open(claim)
          try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
          finally in.close()
        } catch { case _: java.io.FileNotFoundException => None }
    }
    // OWNED-CLAIM RECLAIM: an idempotent writer (claimOwner set) that
    // crashed between claiming and renaming finds, on replay, its OWN
    // writer token in the claim with no manifest behind it — that is a
    // resumable half-commit, not a lost race, and the replay proceeds to
    // the rename. Foreign or anonymous claims stay a loss (a generic
    // crashed claim is swept by [[vacuumOrphanFiles]] after its grace).
    val reclaimed = !won && claimOwner.exists { me =>
      !fs.exists(dst) && claimHolder().contains(me)
    }
    if (!won && !reclaimed) {
      fs.delete(tmp, false)
      throw new CommitConflictException(root, version)
    }
    // STALLED-WRITER GUARD: between claim and rename this writer may
    // have stalled past ClaimGraceMillis, had its claim swept by
    // [[vacuumOrphanFiles]], and the version re-claimed (and possibly
    // committed) by another writer — renaming now would OVERWRITE that
    // committed manifest. Re-read the claim immediately before the
    // rename: only the holder of OUR token proceeds; a missing claim
    // (swept, not re-claimed) aborts too — the lock is simply no longer
    // ours. The window between this read and the rename is bounded by
    // one metadata op, vs the unbounded stall it closes.
    val stillMine = claimHolder().contains(token)
    if (!stillMine) {
      fs.delete(tmp, false)
      throw new IllegalStateException(
        s"snapshot commit claim for v$version was swept or re-claimed " +
          "while this writer was stalled; aborting before rename to " +
          "avoid clobbering a committed manifest")
    }
    if (!fs.rename(tmp, dst)) {
      // the rename failing leaves the claim blocking the version — give
      // it back before surfacing the error (the JVM is alive to do so;
      // only a crash leaves a stale claim, which vacuum's grace — or the
      // external arbiter's TTL — handles)
      external match {
        case Some(a) => a.release(spark, root, version, token)
        case None => fs.delete(claim, false)
      }
      fs.delete(tmp, false)
      throw new java.io.IOException(s"manifest rename failed for v$version")
    }
  }

  private def listDataFiles(spark: org.apache.spark.sql.SparkSession,
      dir: String): Seq[String] = {
    val fs = fsOf(spark, dir)
    fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.toString).toSeq.sorted
  }

  /** One commit's content: carried segment refs, inline entries, header
    * and delete refs — what [[commitRebasing]]'s `build` returns. */
  private case class Commit(segs: Seq[String], entries: Seq[FileEntry],
      header: Map[String, String], deletes: Seq[String] = Nil)

  /** THE OPTIMISTIC COMMIT every rebasing committer (append, ANALYZE,
    * partition overwrite, both compactions, MERGE) runs: claim `cur + 1`
    * for `build(cur, added)`, starting at `cur = base`. A lost claim
    * re-reads the head and asks `admit(cur, head)` what the interleaving
    * added: `Right(entries)` when it commutes with `op` — the entries join
    * `added` and the commit is rebuilt against the head, reusing every
    * staged data file — `Left(why)` when it does not, surfaced as the
    * typed [[ConcurrentWriteConflictException]]. Bounded by
    * `spark.graft.commit.maxRetries`; the last lost claim surfaces raw.
    * The happy path is one claim and only the reads `build` makes.
    * Returns the committed version.
    */
  private def commitRebasing(spark: org.apache.spark.sql.SparkSession,
      root: String, base: Int, op: String)(
      build: (Int, Seq[FileEntry]) => Commit)(
      admit: (Int, Int) => Either[String, Seq[FileEntry]]): Int = {
    val maxRetries = spark.conf
      .get("spark.graft.commit.maxRetries", "3").toInt
    @scala.annotation.tailrec
    def attempt(cur: Int, added: Seq[FileEntry], n: Int): Int = {
      val c = build(cur, added)
      val lost =
        try {
          commitManifest(spark, root, cur + 1, c.segs, c.entries, c.header,
            c.deletes)
          None
        } catch { case e: CommitConflictException => Some(e) }
      lost match {
        case None => cur + 1
        case Some(e) if n >= maxRetries => throw e
        case Some(_) =>
          val head = snapshotVersions(spark, root).lastOption.getOrElse(cur)
          admit(cur, head) match {
            case Left(why) => throw new ConcurrentWriteConflictException(
              root, cur, head, op, why)
            case Right(more) => attempt(head, added ++ more, n + 1)
          }
      }
    }
    attempt(base, Nil, 0)
  }

  /** SEGMENT-GRANULAR CARRY of version `v` (its `tagged` entries) past a
    * rewrite of the entries `touched` selects: a segment with no touched
    * entry is carried by ONE `seg:` reference; only partially-touched
    * segments (and legacy inline lines) re-serialize their untouched
    * entries, stats and partition sets intact. Metadata written stays
    * O(touched + new), not O(table). Returns (carried segs, residual).
    */
  private def carrySegments(spark: org.apache.spark.sql.SparkSession,
      root: String, v: Int, tagged: Seq[(String, FileEntry)])(
      touched: FileEntry => Boolean): (Seq[String], Seq[FileEntry]) = {
    val touchedSegs = tagged.collect { case (s, e) if touched(e) => s }.toSet
    (manifestSegRefs(spark, root, v).filterNot(touchedSegs),
      tagged.collect {
        case (s, e) if !touched(e) && (s == "" || touchedSegs(s)) => e
      })
  }

  /** Stage `df` for version `v` in its own attempt directory
    * ([[attemptDir]], mode `error`) and return the new files' entries
    * under `props`. */
  private def stageEntries(spark: org.apache.spark.sql.SparkSession,
      root: String, v: Int, df: DataFrame,
      props: Map[String, String]): Seq[FileEntry] = {
    val dir = attemptDir(root, "data", v)
    df.write.mode("error").parquet(dir)
    entriesForNewFiles(spark, listDataFiles(spark, dir), props)
  }

  private def uriPath(s: String): String =
    new org.apache.hadoop.fs.Path(s).toUri.getPath

  /** Build the [[FileEntry]] rows for a commit's freshly-written files,
    * per the table's declared properties: `statsKey` → one footer pass
    * over ONLY the new files ([[fileStatsOf]] — distributed past 32
    * files); `partCol` → one single-column distinct job over only the
    * new files, recording each file's partition-value set. Both are the
    * amortized O(new files) price a table format pays at commit so no
    * later read ever re-derives them. Files missing the stats column
    * record the conservative full range (prune nothing, stay correct).
    */
  /** Per-file (KMV sketch, null count, row count, quantile boundaries)
    * for `cols0` (NDV) and `histCols0` (histogram) over `files` — ONE
    * distributed aggregate; the shared engine under the commit-time
    * `ndvKey`/`histKey` pass and [[snapshotAnalyze]]'s backfill.
    * Columns absent from the files' merged schema are skipped
    * (recorded-nothing = prune-nothing, conservative). Boundary lists
    * record for every histKey column of every file — a file whose
    * column is all-null records an EMPTY list (zero histogram mass,
    * still a recorded synopsis), never NaNs.
    */
  private def ndvSynopsesFor(spark: org.apache.spark.sql.SparkSession,
      files: Seq[String], cols0: Seq[String],
      histCols0: Seq[String] = Nil,
      failOnMissing: Boolean = false)
      : Map[String, (Map[String, Seq[Long]], Map[String, Long], Long,
        Map[String, Seq[Double]])] = {
    import graft.functions.{KmvSketch, QuantileSketch}
    if (files.isEmpty || (cols0.isEmpty && histCols0.isEmpty))
      return Map.empty
    val df = spark.read.option("mergeSchema", "true").parquet(files: _*)
    val cols = cols0.filter(df.columns.contains)
    val hCols = histCols0.filter(df.columns.contains)
    if (failOnMissing) {
      val missing = (cols0 ++ histCols0).distinct
        .filterNot(df.columns.contains)
      require(missing.isEmpty,
        s"ANALYZE columns not in the table: ${missing.mkString(", ")}")
    }
    if (cols.isEmpty && hCols.isEmpty) return Map.empty
    // null counts cover BOTH column sets: CBO's hasCountStats needs the
    // null count next to a distinct count, and the histogram's mass is
    // the NON-null row count
    val zCols = (cols ++ hCols).distinct
    // sketch + null count + boundaries per column (and the file's row
    // count) in ONE pass
    val aggs = cols.map(c =>
      KmvSketch.kmv(col(c).cast("string"), KmvSketch.ManifestK).as(c)) ++
      zCols.map(c => sum(when(col(c).isNull, 1L).otherwise(0L))
        .as(s"__z_$c")) ++
      hCols.map(c => QuantileSketch.kllBoundaries(col(c).cast("double"))
        .as(s"__q_$c")) :+ count(lit(1)).as("__graft_rows")
    df.groupBy(input_file_name().as("__graft_f"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
      .map { r =>
        val histOff = 1 + cols.size + zCols.size
        uriPath(r.getString(0)) -> (cols.zipWithIndex.map {
          case (c, i) => c -> r.getSeq[Long](i + 1)
        }.toMap, zCols.zipWithIndex.map {
          case (c, i) => c -> r.getLong(cols.size + i + 1)
        }.toMap, r.getLong(histOff + hCols.size),
        hCols.zipWithIndex.map { case (c, i) =>
          val bs = r.getSeq[Double](histOff + i)
          // all-null (or unparseable) column → the aggregator returns
          // NaNs; record EMPTY (zero mass), never NaN boundaries
          c -> (if (bs.exists(_.isNaN)) Seq.empty[Double] else bs)
        }.toMap)
      }.toMap
  }

  /** ANALYZE TABLE — the statistics-backfill commit: compute KMV NDV
    * synopses (+ null counts, + exact row counts) for `cols` over EVERY
    * data file of the head and republish the manifest with the enriched
    * entries — one distributed pass over the table (the ANALYZE price a
    * user opts into), one O(files) metadata commit, zero data rewritten
    * (entries re-serialize inline; the files themselves are untouched
    * and stay carried by path). Declares `ndvKey = cols` so every
    * SUBSEQUENT append keeps the synopses fresh at commit time — after
    * one ANALYZE the table maintains its own statistics. Entries that
    * had no stats at all (tables created before a statsKey, raw
    * appends) gain exact row counts, which also unlocks the
    * metadata-only COUNT pushdown and optimizer row counts for them.
    * Returns the committed version.
    */
  def snapshotAnalyze(spark: org.apache.spark.sql.SparkSession,
      root: String, cols: Seq[String], histCols: Seq[String] = Nil): Int = {
    require(cols.nonEmpty || histCols.nonEmpty,
      "ANALYZE needs at least one column")
    val vs = snapshotVersions(spark, root)
    require(vs.nonEmpty, s"no snapshots at $root")
    val head = vs.last
    val hdr = manifestHeader(spark, root, head)
    val entries = manifestEntries(spark, root, head)
    val dataFiles = entries.map(_.path)
    // stats ride PHYSICAL names (the files' own columns)
    val phys = cols.map(c => physicalNameOf(hdr, c))
    val physHist = histCols.map(c => physicalNameOf(hdr, c))
    // failOnMissing: a silently skipped column would "analyze" nothing
    // while declaring ndvKey/histKey (one footer pass serves the check
    // AND the aggregate)
    val syn = ndvSynopsesFor(spark, dataFiles, phys, physHist,
      failOnMissing = true)
    val enriched = entries.map { e =>
      syn.get(uriPath(e.path)) match {
        case None =>
          // the pass read EVERY data file, so a file with no group
          // provably holds zero rows (e.g. CREATE's empty first file):
          // record that — exact empty stats, an empty sketch per
          // column — so it stops blocking whole-scan statistics
          val st = e.stats.getOrElse(FileStats(Map.empty, Map.empty, 0L,
            (phys ++ physHist).map(_ -> 0L).toMap, Map.empty,
            phys.map(_ -> Seq.empty[Long]).toMap,
            physHist.map(_ -> Seq.empty[Double]).toMap))
          e.copy(stats = Some(st))
        case Some((sk, zs, rows, hs)) =>
          val st = e.stats match {
            case Some(s) => s.copy(nulls = zs ++ s.nulls, ndv = sk,
              hist = hs ++ s.hist)
            case None => FileStats(Map.empty, Map.empty, rows, zs,
              Map.empty, sk, hs)
          }
          e.copy(stats = Some(st))
      }
    }
    // metadata-only commit with LOGICAL CONFLICT RESOLUTION: a pure
    // append interleaving commutes — rebase, carrying the appended
    // entries UN-enriched (they simply wait for the next ANALYZE /
    // their own commit-time ndv pass; statistics reporting stays
    // refused until every file carries a synopsis — conservative).
    commitRebasing(spark, root, head, "ANALYZE") { (cur, added) =>
      val carried = carriedStateOf(spark, root, Some(cur))
      val declHdr = carried.props ++
        (if (cols.nonEmpty) Map("ndvKey" -> cols.mkString(","))
         else Map.empty) ++
        (if (histCols.nonEmpty) Map("histKey" -> histCols.mkString(","))
         else Map.empty)
      Commit(Nil, enriched ++ added, declHdr ++ schemaHeaderOf(carried.schema),
        carried.deletes)
    }(appendOnlyDiff(spark, root, _, _))
  }

  private def entriesForNewFiles(spark: org.apache.spark.sql.SparkSession,
      files: Seq[String], props: Map[String, String]): Seq[FileEntry] = {
    if (files.isEmpty) return Nil
    // per-file KMV distinct-count synopses (and null counts) for the
    // declared `ndvKey` columns, plus per-file quantile boundaries for
    // the declared `histKey` columns: ONE distributed aggregate over
    // only the new files (the amortized commit-time price, like the
    // stats footer pass), merged at read into optimizer-visible NDV and
    // histograms ([[graft.sources.GraftScan]]).
    def declared(key: String): Seq[String] = props.get(key).toSeq
      // names are LOGICAL; the files speak physical (a table ANALYZEd
      // after a rename) — synopses key physical names, the scan's
      // reverse map logicalizes them on report
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
      .map(c => physicalNameOf(props, c))
    val ndvCols = declared("ndvKey")
    val histCols = declared("histKey")
    val ndv: Map[String, (Map[String, Seq[Long]], Map[String, Long], Long,
        Map[String, Seq[Double]])] =
      if (ndvCols.isEmpty && histCols.isEmpty) Map.empty
      else ndvSynopsesFor(spark, files, ndvCols, histCols)
    val stats: Map[String, FileStats] = props.get("statsKey") match {
      case Some(k) =>
        val cols = k.split(",").map(_.trim).filter(_.nonEmpty).toSeq
        fileMultiStatsOf(spark, files, cols)
          .map { ms =>
            val (sk, zs, _, hs) = ndv.getOrElse(uriPath(ms.path),
              (Map.empty[String, Seq[Long]], Map.empty[String, Long], 0L,
                Map.empty[String, Seq[Double]]))
            // ndv-pass null counts fill in for columns the footer pass
            // didn't cover (ndvKey need not be a statsKey column)
            ms.path -> FileStats(ms.longCols, ms.strCols, ms.rows,
              zs ++ ms.nulls, ms.dblCols, sk, hs)
          }
          .toMap
      case None =>
        // ndvKey/histKey WITHOUT statsKey (the post-ANALYZE legacy-table
        // shape): entries still carry row/null/synopsis stats from the
        // ndv pass
        files.flatMap(f => ndv.get(uriPath(f)).map {
          case (sk, zs, rows, hs) =>
            f -> FileStats(Map.empty, Map.empty, rows, zs, Map.empty, sk, hs)
        }).toMap
    }
    val parts: Map[String, Seq[String]] = props.get("partCol") match {
      case Some(pc) =>
        val df = spark.read.parquet(files: _*)
        if (!df.columns.contains(pc)) Map.empty
        else df.select(input_file_name().as("__graft_f"),
            // null partition values record as a NUL sentinel: such a
            // file never matches a requested value (over-keeping at
            // worst; the read-side row filter still applies)
            coalesce(col(pc).cast("string"), lit("\u0000")).as("__graft_p"))
          .distinct().collect()
          .groupBy(r => uriPath(r.getString(0)))
          .view.mapValues(_.map(_.getString(1)).toSeq.sorted).toMap
      case None => props.get("partSpec") match {
        // PARTITION TRANSFORMS ([[PartSpec]]): record each file's
        // distinct TRANSFORMED values per dimension, prefixed "i:" —
        // one distributed distinct over only the new files, all dims in
        // a single explode pass. A dim whose column is absent from this
        // batch (schema evolution) records nothing — its files keep on
        // every probe of that dim, conservative.
        case Some(spec) =>
          val dims = PartSpec.parse(spec)
          val df = spark.read.parquet(files: _*)
          val resolver = spark.sessionState.conf.resolver
          val dimCols = dims.flatMap { d =>
            df.schema.fields.find(f => resolver(f.name, d.col)).flatMap {
              f =>
                PartSpec.transformExpr(d,
                  org.apache.spark.sql.catalyst.analysis
                    .UnresolvedAttribute(Seq(f.name)), f.dataType)
                  .map(e => concat(lit(s"${d.idx}:"),
                    org.apache.spark.sql.GraftColumnBridge.column(e)))
            }
          }
          if (dimCols.isEmpty) Map.empty
          else df.select(input_file_name().as("__graft_f"),
              explode(array(dimCols: _*)).as("__graft_p"))
            .distinct().collect()
            .groupBy(r => uriPath(r.getString(0)))
            .view.mapValues(_.map(_.getString(1)).toSeq.sorted).toMap
        case None => Map.empty
      }
    }
    files.map(f => FileEntry(f, stats.get(f), parts.get(uriPath(f))))
  }

  /** Append `df` as a new snapshot: new files + a manifest referencing
    * old ∪ new — the old files by SEGMENT REFERENCE (one `seg:` line
    * each), so the commit writes O(new files) metadata regardless of
    * table size. `statsKey`, given on the FIRST commit, declares the
    * table's stats column; every subsequent commit records (min, max,
    * rows) of it per new file in the manifest ([[FileStats]]), and
    * every pruning path reads them instead of parquet footers.
    * Returns the committed version.
    */
  def snapshotAppend(spark: org.apache.spark.sql.SparkSession, root: String,
      df: DataFrame, statsKey: Option[String] = None,
      clusterBy: Option[String] = None,
      extraProps: Map[String, String] = Map.empty,
      ndvKey: Option[String] = None,
      histKey: Option[String] = None): Int =
    appendInternal(spark, root, df, statsKey, None, clusterBy, extraProps,
      ndvKey = ndvKey, histKey = histKey)

  /** [[snapshotAppend]] for a PARTITIONED table: `partCol`, declared on
    * the first commit, becomes a table property; the data is shuffled so
    * each file holds few partition values, and each commit records every
    * new file's distinct partition-value set in the manifest — the
    * metadata [[readSnapshot]]'s `partitions` filter prunes from. The
    * partition column stays IN the data (no directory encoding), so any
    * non-partitioned read path works unchanged.
    */
  def snapshotAppendPartitioned(spark: org.apache.spark.sql.SparkSession,
      root: String, df: DataFrame, partCol: String,
      statsKey: Option[String] = None,
      shuffleByPartition: Boolean = true,
      extraProps: Map[String, String] = Map.empty,
      ndvKey: Option[String] = None,
      histKey: Option[String] = None): Int =
    appendInternal(spark, root,
      // value-localized files by default; pass shuffleByPartition=false
      // when the caller already arranged a layout (e.g. key-clustered
      // within a single partition value) that the shuffle would destroy
      if (shuffleByPartition) df.repartition(col(partCol)) else df,
      statsKey, Some(partCol), extraProps = extraProps, ndvKey = ndvKey,
      histKey = histKey)

  /** [[snapshotAppend]] for a TRANSFORM-PARTITIONED table
    * ([[PartSpec]]): `spec` (e.g. `"days(ts),bucket(16,key)"`),
    * declared on the first commit, becomes the `partSpec` table
    * property; every commit records each new file's distinct
    * TRANSFORMED value set per dimension, and both static predicates
    * and DPP-delivered runtime filters on the SOURCE columns prune
    * through the recorded dims. By default the batch is shuffled on
    * the transformed dimensions so files are value-localized (the
    * layout pruning pays for); the spec is validated against the
    * frame's schema at declaration — a transform that cannot apply
    * refuses at CREATE, never records nothing silently.
    */
  def snapshotAppendSpec(spark: org.apache.spark.sql.SparkSession,
      root: String, df: DataFrame, spec: String,
      statsKey: Option[String] = None,
      shuffleByPartition: Boolean = true,
      extraProps: Map[String, String] = Map.empty,
      ndvKey: Option[String] = None,
      histKey: Option[String] = None): Int = {
    val dims = PartSpec.parse(spec)
    PartSpec.validate(dims, df.schema, spark.sessionState.conf.resolver)
    val shuffled =
      if (!shuffleByPartition) df
      else {
        val cols = dims.flatMap { d =>
          df.schema.fields
            .find(f => spark.sessionState.conf.resolver(f.name, d.col))
            .flatMap(f => PartSpec.transformExpr(d,
              org.apache.spark.sql.catalyst.analysis
                .UnresolvedAttribute(Seq(f.name)), f.dataType))
            .map(org.apache.spark.sql.GraftColumnBridge.column)
        }
        if (cols.isEmpty) df else df.repartition(cols: _*)
      }
    appendInternal(spark, root, shuffled, statsKey, None,
      extraProps = extraProps, partSpec = Some(PartSpec.render(dims)),
      ndvKey = ndvKey,
      histKey = histKey)
  }

  private def appendInternal(spark: org.apache.spark.sql.SparkSession,
      root: String, df: DataFrame, statsKey: Option[String],
      partCol: Option[String], clusterBy: Option[String] = None,
      extraProps: Map[String, String] = Map.empty,
      partSpec: Option[String] = None,
      ndvKey: Option[String] = None,
      histKey: Option[String] = None,
      extraHeader: Map[String, String] = Map.empty): Int = {
    require(extraProps.keySet.intersect(ReservedProps).isEmpty,
      s"extraProps must not set engine-owned keys: " +
        extraProps.keySet.intersect(ReservedProps).mkString(", "))
    require(partCol.isEmpty || partSpec.isEmpty,
      "a table declares either partCol (single identity) or partSpec " +
        "(transforms / multi-column), not both")
    // declared properties must agree with the table's: silently switching
    // the stats column would leave old entries' stats wrong for pruning
    def propsAgainst(prevHdr: Map[String, String]): Map[String, String] = {
      for (k <- statsKey; e <- prevHdr.get("statsKey"))
        require(e == k, s"table stats column is '$e', not '$k'")
      for (p <- partCol; e <- prevHdr.get("partCol"))
        require(e == p, s"table partition column is '$e', not '$p'")
      for (s <- partSpec; e <- prevHdr.get("partSpec"))
        require(e == s, s"table partition spec is '$e', not '$s'")
      for (n <- ndvKey; e <- prevHdr.get("ndvKey"))
        require(e == n, s"table NDV columns are '$e', not '$n'")
      for (h <- histKey; e <- prevHdr.get("histKey"))
        require(e == h, s"table histogram columns are '$e', not '$h'")
      for (c <- clusterBy; e <- prevHdr.get("clusterBy"))
        require(e == c, s"table cluster columns are '$e', not '$c'")
      // user properties (incl. check.* constraints) may DECLARE at the
      // first commit; thereafter the table's own carry wins
      (if (prevHdr.isEmpty) extraProps else Map.empty[String, String]) ++
        carriedProps(prevHdr) ++
        statsKey.map("statsKey" -> _) ++ partCol.map("partCol" -> _) ++
        partSpec.map("partSpec" -> _) ++
        ndvKey.map("ndvKey" -> _) ++
        histKey.map("histKey" -> _) ++
        clusterBy.map("clusterBy" -> _)
    }
    val prev = snapshotVersions(spark, root)
    val v = prev.lastOption.getOrElse(0) + 1
    val prevHdr = prev.lastOption
      .map(manifestHeader(spark, root, _)).getOrElse(Map.empty[String, String])
    val props = propsAgainst(prevHdr)
    // CHECK constraints gate the batch BEFORE any file is written
    enforceConstraints(props, df, "append")
    var enforcedChecks = props.filter(_._1.startsWith("check."))
    // COLUMN MAPPING at the write boundary: the caller's frame carries
    // LOGICAL names; files store PHYSICAL names ([[snapshotRenameColumn]]
    // fixes a column's physical slot at first write forever). New logical
    // columns must not collide with physical slots still living in files.
    val entryCmap = colMapOf(prevHdr)
    val entryTombs = tombstonesOf(prevHdr)
    if (entryCmap.nonEmpty || entryTombs.nonEmpty) {
      val recorded = prev.lastOption.flatMap(manifestSchema(spark, root, _))
        .map(_.fieldNames.toSet).getOrElse(Set.empty)
      df.columns.filterNot(recorded)
        .foreach(requireFreshPhysicalName(spark, prevHdr, _))
    }
    val dfW =
      if (entryCmap.isEmpty) df
      else df.select(df.columns.toIndexedSeq.map(c =>
        col(s"`$c`").as(entryCmap.getOrElse(c, c))): _*)
    // CLUSTERED-ON-WRITE (Delta liquid clustering's slot): a table that
    // declared `clusterBy` range-clusters EVERY append at write time, so
    // each commit's files tile its batch's key space and manifest stats
    // stay tight without waiting for a maintenance compaction. One extra
    // shuffle per append — the price every subsequent pruned scan repays.
    // (Not combined with partCol: the partition shuffle owns the layout.)
    require(props.get("clusterBy").isEmpty || props.get("partCol").isEmpty,
      "clusterBy and partCol are exclusive (the partition shuffle owns " +
        "the layout; cluster within partitions by pre-arranging the frame " +
        "and shuffleByPartition=false)")
    val toWrite = props.get("clusterBy") match {
      case Some(cs) if dfW.columns.nonEmpty =>
        val cols = cs.split(",").map(_.trim).filter(_.nonEmpty).toSeq.map(col)
        if (cols.isEmpty) dfW
        else dfW.repartitionByRange(cols: _*).sortWithinPartitions(cols: _*)
      case _ => props.get("partCol") match {
        // DECLARED-LAYOUT CARRY, partCol edition (clusterBy's rule above):
        // an append that did NOT take layout responsibility itself
        // (partCol param None — SQL INSERT INTO, plain snapshotAppend)
        // into a table that DECLARED a partition column gets the same
        // value-localizing shuffle snapshotAppendPartitioned applies, so
        // every commit's files stay value-pure — partition pruning stays
        // sharp and storage-partitioned joins stay eligible. An explicit
        // partCol arg (snapshotAppendPartitioned, incl. its
        // shuffleByPartition=false escape hatch) owns the layout and
        // skips this.
        case Some(pc) if partCol.isEmpty && dfW.columns.contains(pc) =>
          dfW.repartition(col(pc))
        case _ => dfW
      }
    }
    val dataDir = attemptDir(root, "data", v)
    toWrite.write.mode("error").parquet(dataDir)
    val newFiles = listDataFiles(spark, dataDir)

    // OPTIMISTIC REBASE: an append's new files commute with ANY
    // interleaved commit (they are outside every sidecar's scope and
    // replace nothing), so losing the version claim costs one manifest
    // recompute — the data files written above are reused as-is, never
    // rewritten. Read-dependent committers (merge/overwrite/delete)
    // deliberately do NOT get this: their output derives from the base
    // version, and rebasing could silently drop the winner's effect.
    var attemptProps = props
    var entries = entriesForNewFiles(spark, newFiles, props)
    val headNow = snapshotVersions(spark, root).lastOption.getOrElse(0)
    commitRebasing(spark, root, headNow, "append") { (cur, _) =>
      val head = Some(cur).filter(_ > 0)
      val hdr = head.map(manifestHeader(spark, root, _))
        .getOrElse(Map.empty[String, String])
      val effProps = propsAgainst(hdr) // re-validate vs the CURRENT head
      // a concurrent RENAME/DROP changed the column mapping the staged
      // files were written under — those bytes carry the WRONG physical
      // names now; the whole append must re-run ([[withCommitRetry]]'s
      // slot), not just the manifest
      if (colMapOf(hdr) != entryCmap || tombstonesOf(hdr) != entryTombs)
        throw new CommitConflictException(root, cur + 1,
          "a concurrent schema change (rename/drop) altered the column " +
            "mapping while this append was staged; re-run the append to " +
            "rewrite the batch under the new mapping")
      // a concurrent first commit may have declared stats/partition
      // properties this attempt's entries were not computed under
      if (effProps.get("statsKey") != attemptProps.get("statsKey") ||
          effProps.get("partCol") != attemptProps.get("partCol") ||
          effProps.get("partSpec") != attemptProps.get("partSpec") ||
          effProps.get("ndvKey") != attemptProps.get("ndvKey")) {
        entries = entriesForNewFiles(spark, newFiles, effProps)
      }
      // a concurrent SET TBLPROPERTIES may have added a constraint this
      // batch was never checked against
      val checksNow = effProps.filter(_._1.startsWith("check."))
      if (checksNow != enforcedChecks) {
        enforceConstraints(effProps, df, "append")
        enforcedChecks = checksNow
      }
      attemptProps = effProps
      val carried = carriedStateOf(spark, root, head)
      // delete sidecars carry forward with the files they scope: an
      // append must not resurrect rows a prior MOR delete removed. The
      // new files are NOT in any sidecar's scope, so re-inserted keys in
      // them survive. Schema header: the union of the head's recorded
      // schema and this batch's (None once unknowable — legacy history
      // or a type conflict; readers then fall back to mergeSchema).
      val schema =
        if (head.isEmpty) mergeSchemas(None, df.schema)
        else carried.schema.flatMap(ps => mergeSchemas(Some(ps), df.schema))
      // extraHeader: PER-COMMIT metadata (EphemeralHeaders — never
      // carried), e.g. the bloom index's covered base head
      Commit(carried.segs, carried.inline ++ entries,
        effProps ++ extraHeader ++ schemaHeaderOf(schema), carried.deletes)
    } ((_, _) => Right(Nil)) // build re-reads the head's whole carry
  }

  /** Replace the table content in a new snapshot (compaction / COW merge
    * publish): new files only; prior versions stay readable. Table
    * properties (statsKey/partCol) survive the overwrite — the new
    * files' stats/partition sets are recomputed; deleteKey does not
    * (an overwrite's content carries no sidecar debt).
    */
  def snapshotOverwrite(spark: org.apache.spark.sql.SparkSession, root: String,
      df: DataFrame, extraHeader: Map[String, String] = Map.empty): Int = {
    val prev = snapshotVersions(spark, root)
    val v = prev.lastOption.getOrElse(0) + 1
    // an overwrite REPLACES the content with the caller's logical frame:
    // sidecar debt and column-mapping debt both reset with it
    val props = prev.lastOption
      .map(v0 => carriedProps(manifestHeader(spark, root, v0)) -
        "deleteKey" - "colmap" - "tombstones")
      .getOrElse(Map.empty[String, String])
    enforceConstraints(props, df, "overwrite")
    // extraHeader: PER-COMMIT metadata (EphemeralHeaders — never
    // carried), e.g. the maintainers' mvBase freshness stamp
    commitManifest(spark, root, v, Nil, stageEntries(spark, root, v, df, props),
      header = props ++ extraHeader ++
        schemaHeaderOf(mergeSchemas(None, df.schema)))
    v
  }

  /** PARTITION-SCOPED OVERWRITE (Delta's `replaceWhere` / the classic
    * `INSERT OVERWRITE … PARTITION` semantics): atomically replace every
    * row whose `partCol` value is in `partitions` with `df`, leaving all
    * other partitions' files UNTOUCHED (carried by segment reference —
    * the commit writes O(replaced + mixed) bytes, never O(table)). The
    * daily-load shape at 100 TB: "reload yesterday's partition" costs
    * one partition's I/O.
    *
    * File handling from the manifest's per-file value sets:
    *  - files wholly inside `partitions` DROP (their replacement is `df`);
    *  - files wholly outside carry verbatim;
    *  - MIXED files (and files with no recorded value set) REWRITE,
    *    keeping only rows outside `partitions` (null partition values
    *    are outside by definition — they are kept).
    * `df` must itself lie inside `partitions` (checked — replacing
    * partition X with rows claiming partition Y would corrupt the
    * manifest's pruning metadata, so it refuses loudly). Requires a
    * sidecar-free head: a MOR delete scoped to a mixed file would be
    * silently lost by its rewrite (compact first — same precondition as
    * the scoped OPTIMIZE). Returns the committed version.
    */
  def snapshotOverwritePartitions(spark: org.apache.spark.sql.SparkSession,
      root: String, df: DataFrame, partitions: Seq[String]): Int = {
    val vs = snapshotVersions(spark, root)
    require(vs.nonEmpty, s"no snapshots at $root")
    val base = vs.last
    val hdr = manifestHeader(spark, root, base)
    val pc = hdr.getOrElse("partCol", throw new IllegalArgumentException(
      s"$root declares no partCol; partition overwrite needs one"))
    require(partitions.nonEmpty, "no partitions given")
    require(manifestDeleteFiles(spark, root, base).isEmpty,
      "partition overwrite needs a sidecar-free head — a MOR delete " +
        "scoped to a mixed file would be lost by its rewrite; run " +
        "snapshotCompact first")
    val want = partitions.toSet
    // the replacement content must lie INSIDE the replaced partitions
    val got = df.select(coalesce(col(pc).cast("string"), lit("\u0000")))
      .distinct().collect().map(_.getString(0)).toSet
    val stray = got -- want
    require(stray.isEmpty,
      "replacement rows carry partition values outside the overwrite " +
        "scope: " + stray.toSeq.sorted.take(5)
          .map(s => if (s == "\u0000") "NULL" else s).mkString(", ") +
        " — widen the partition list or fix the frame")
    val tagged = manifestEntriesTagged(spark, root, base)
    def scopeOf(e: FileEntry): Int = e.parts match {
      case Some(ps) if ps.nonEmpty && ps.forall(want) => 2 // wholly inside
      case Some(ps) if !ps.exists(want) => 0               // wholly outside
      case _ => 1                                          // mixed/unknown
    }
    val mixed = tagged.collect { case (_, e) if scopeOf(e) == 1 => e }
    val props = carriedProps(hdr)
    enforceConstraints(props, df, "partition overwrite")
    // survivors of mixed files: rows OUTSIDE the replaced partitions
    // (null partition values are outside — kept). Raw physical read →
    // physical write: byte-compatible with the carried files. partCol is
    // a reserved column (never renamed), so the filter binds either way.
    val keepMixed = mixed.map(_.path) match {
      case Nil => None
      case ps => Some(spark.read.option("mergeSchema", "true")
        .parquet(ps: _*)
        .filter(coalesce(!col(pc).cast("string").isin(want.toSeq: _*),
          lit(true))))
    }
    val newContent = {
      val replacement = toPhysicalFrame(df, hdr).repartition(col(pc))
      keepMixed match {
        case Some(k) => replacement.unionByName(k, allowMissingColumns = true)
        case None => replacement
      }
    }
    val newEntries = stageEntries(spark, root, base + 1, newContent, props)
    // LOGICAL CONFLICT RESOLUTION, the daily-reload edition: losing the
    // claim to a pure append whose files lie PROVABLY WHOLLY OUTSIDE
    // the replaced partitions commutes — rebase, carrying the appended
    // entries with the other out-of-scope files (zero data re-I/O).
    // An appended file inside the scope — or one whose partition set is
    // unrecorded (can't prove) — conflicts: the reload's output was
    // computed without those rows.
    commitRebasing(spark, root, base, "partition overwrite") { (cur, _) =>
      val taggedNow =
        if (cur == base) tagged else manifestEntriesTagged(spark, root, cur)
      val (segs, residual) =
        carrySegments(spark, root, cur, taggedNow)(scopeOf(_) > 0)
      val schema = manifestSchema(spark, root, cur)
        .flatMap(ps => mergeSchemas(Some(ps), df.schema))
      Commit(segs, residual ++ newEntries, props ++ schemaHeaderOf(schema))
    } { (cur, head) =>
      appendOnlyDiff(spark, root, cur, head).filterOrElse(
        _.forall(_.parts.exists(ps => ps.nonEmpty && !ps.exists(want))),
        "concurrently appended files carry rows inside (or not " +
          "provably outside) the replaced partition scope — the " +
          "reload was computed without them")
    }
  }

  /** DYNAMIC partition overwrite (`partitionOverwriteMode=dynamic`):
    * replace exactly the partitions PRESENT IN `df` — the reload-what-
    * arrived shape. Null partition values refuse (they cannot name a
    * partition to replace).
    */
  def snapshotOverwritePartitionsDynamic(
      spark: org.apache.spark.sql.SparkSession,
      root: String, df: DataFrame): Int = {
    val hdr = manifestHeader(spark, root, snapshotVersions(spark, root).last)
    val pc = hdr.getOrElse("partCol", throw new IllegalArgumentException(
      s"$root declares no partCol; partition overwrite needs one"))
    val values = df.select(col(pc).cast("string")).distinct()
      .collect().map(r => Option(r.getString(0)))
    require(values.forall(_.isDefined),
      "dynamic partition overwrite: the frame carries NULL partition " +
        "values, which cannot name a partition to replace")
    require(values.nonEmpty, "dynamic partition overwrite of an empty " +
      "frame would replace nothing; use snapshotOverwrite to truncate")
    snapshotOverwritePartitions(spark, root, df, values.flatten.toSeq)
  }

  /** ALTER TABLE ADD COLUMN as a METADATA-ONLY commit: a new version
    * carrying the same files/sidecars/properties and a WIDENED recorded
    * schema (the new columns appended, forced nullable — pre-existing
    * rows read them as null, exactly like columns added by an evolved
    * append before their first row). Zero data I/O; time travel below
    * the commit keeps the narrow schema. Requires a recorded schema
    * (legacy header-less history evolves by appending an evolved frame
    * instead) and refuses duplicate names.
    */
  def snapshotAddColumns(spark: org.apache.spark.sql.SparkSession,
      root: String, newCols: org.apache.spark.sql.types.StructType): Int = {
    val vs = snapshotVersions(spark, root)
    require(vs.nonEmpty, s"no snapshots at $root")
    val base = vs.last
    val prev = manifestSchema(spark, root, base).getOrElse(
      throw new IllegalArgumentException(
        s"$root records no schema header (legacy history); evolve it by " +
          "appending an evolved frame instead of ALTER"))
    val resolver = spark.sessionState.conf.resolver
    val hdr0 = manifestHeader(spark, root, base)
    newCols.fields.foreach { f =>
      require(!prev.fields.exists(p => resolver(p.name, f.name)),
        s"column '${f.name}' already exists")
      requireFreshPhysicalName(spark, hdr0, f.name)
    }
    val widened = org.apache.spark.sql.types.StructType(
      prev.fields ++ newCols.fields.map(_.copy(nullable = true)))
    val v = base + 1
    val carried = carriedStateOf(spark, root, Some(base))
    commitManifest(spark, root, v, carried.segs, carried.inline,
      header = carried.props ++ schemaHeaderOf(Some(widened)),
      deletes = carried.deletes)
    v
  }

  // ---- COLUMN MAPPING (Delta column-mapping "name" mode, at its core):
  // the manifest header records the LOGICAL schema (`#schema=`) plus a
  // `colmap` of logical->PHYSICAL names for renamed columns (physical =
  // the name actually written in parquet, fixed at first write forever)
  // and a `tombstones` set of dropped physical names. Reads alias
  // physical->logical; writes alias logical->physical; RENAME/DROP are
  // metadata-only commits that never touch a data file.

  private def encTok(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
  private def decTok(s: String) = java.net.URLDecoder.decode(s, "UTF-8")

  /** logical -> physical name map of a manifest header (empty = every
    * column's physical name IS its logical name).
    */
  private[graft] def colMapOf(hdr: Map[String, String]): Map[String, String] =
    hdr.get("colmap").map(_.split(",").toSeq.flatMap(_.split(":", 2) match {
      case Array(l, p) => Some(decTok(l) -> decTok(p))
      case _ => None
    }).toMap).getOrElse(Map.empty)

  /** Physical names of DROPPED columns — still present in old files, no
    * longer part of the table; re-using one would resurrect old values.
    */
  private[graft] def tombstonesOf(hdr: Map[String, String]): Set[String] =
    hdr.get("tombstones").map(_.split(",").toSeq.filter(_.nonEmpty)
      .map(decTok).toSet).getOrElse(Set.empty)

  private def colMapHeader(m: Map[String, String],
      tombs: Set[String]): Map[String, String] =
    (if (m.isEmpty) Map.empty[String, String]
     else Map("colmap" -> m.toSeq.sortBy(_._1)
       .map { case (l, p) => s"${encTok(l)}:${encTok(p)}" }.mkString(","))) ++
      (if (tombs.isEmpty) Map.empty[String, String]
       else Map("tombstones" -> tombs.toSeq.sorted.map(encTok).mkString(",")))

  /** Physical name of logical column `c` under header `hdr`. */
  private[graft] def physicalNameOf(hdr: Map[String, String],
      c: String): String = colMapOf(hdr).getOrElse(c, c)

  /** A caller-facing (LOGICAL-named) frame re-aliased to the PHYSICAL
    * names files store — every data write of a mapped table passes
    * through here (or clears the mapping, for full rewrites).
    */
  private def toPhysicalFrame(df: DataFrame,
      hdr: Map[String, String]): DataFrame = {
    val m = colMapOf(hdr)
    if (m.isEmpty) df
    else df.select(df.columns.toIndexedSeq.map(c =>
      col(s"`$c`").as(m.getOrElse(c, c))): _*)
  }

  /** A PHYSICAL frame (raw file read) projected to exactly the recorded
    * LOGICAL schema: renamed slots alias, dropped slots project out,
    * header-only columns null-fill — the read-side mapping boundary.
    */
  private def toLogicalFrame(df: DataFrame, hdr: Map[String, String],
      sc: org.apache.spark.sql.types.StructType,
      extras: Seq[String] = Nil): DataFrame = {
    val cmap = colMapOf(hdr)
    val have = df.columns.toSet
    df.select(sc.fields.toIndexedSeq.map { f =>
      val phys = cmap.getOrElse(f.name, f.name)
      if (have.contains(phys)) col(s"`$phys`").as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    } ++ extras.filter(have).map(c => col(s"`$c`")): _*)
  }

  /** Columns the table's layout/engine properties reference (always
    * PHYSICAL names): these refuse rename/drop — the stats, partition,
    * clustering, and delete-key identities are overwrite-class changes.
    */
  private def reservedCols(hdr: Map[String, String]): Set[String] =
    (hdr.get("statsKey").toSeq.flatMap(_.split(",")) ++
      hdr.get("partCol") ++ hdr.get("deleteKey") ++
      hdr.get("clusterBy").toSeq.flatMap(_.split(",")) ++
      // NDV synopses and partition-transform dims key off these columns
      // in every manifest entry — renaming/dropping them would silently
      // orphan the recorded statistics / partition metadata
      hdr.get("ndvKey").toSeq.flatMap(_.split(",")) ++
      hdr.get("histKey").toSeq.flatMap(_.split(",")) ++
      hdr.get("partSpec").toSeq.flatMap(s =>
        scala.util.Try(PartSpec.parse(s).map(_.col)).getOrElse(Nil)))
      .map(_.trim).filter(_.nonEmpty).toSet

  /** A NEW column name must not collide with any physical name still
    * living in data files: a tombstoned (dropped) column's or a renamed
    * column's physical slot — writing it would make old file bytes
    * readable as the new column's values.
    */
  private def requireFreshPhysicalName(
      spark: org.apache.spark.sql.SparkSession,
      hdr: Map[String, String], name: String): Unit = {
    val resolver = spark.sessionState.conf.resolver
    require(!tombstonesOf(hdr).exists(resolver(_, name)),
      s"column name '$name' was DROPPED and its physical slot still " +
        "lives in data files; compact (rewrite) the table before reusing " +
        "the name")
    require(!colMapOf(hdr).values.exists(resolver(_, name)),
      s"column name '$name' is the physical slot of a renamed column; " +
        "pick another name or compact the table first")
  }

  /** ALTER TABLE SET/UNSET TBLPROPERTIES as a METADATA-ONLY commit:
    * user properties (and `check.*` CHECK constraints) change in one
    * versioned header commit — zero data I/O, time travel below keeps
    * the old properties. Engine-owned properties refuse (each has its
    * own evolution path). A NEW `check.<name>` constraint is validated
    * against the CURRENT head before it commits (the Delta contract:
    * a constraint you could not have written under must not appear to
    * hold), and every subsequent write enforces it
    * ([[enforceConstraints]]).
    */
  def snapshotSetProperties(spark: org.apache.spark.sql.SparkSession,
      root: String, set: Map[String, String],
      unset: Seq[String] = Nil): Int = {
    val vs = snapshotVersions(spark, root)
    require(vs.nonEmpty, s"no snapshots at $root")
    val base = vs.last
    (set.keys ++ unset).foreach { k =>
      require(!ReservedProps.contains(k),
        s"property '$k' is engine-owned (declared at first commit / " +
          "evolved by its own ALTER path); SET/UNSET refuses it")
    }
    // a new or changed CHECK constraint must hold on the EXISTING rows —
    // all added rules validate in ONE labeled pass over the head
    val newChecks = set.filter(_._1.startsWith("check."))
    if (newChecks.nonEmpty) {
      val head = readSnapshot(spark, root, base)
      val hit = head
        .select(violationLabel(newChecks).as("__graft_violated"),
          struct(head.columns.map(col): _*).as("__graft_row"))
        .filter(col("__graft_violated").isNotNull)
        .limit(1).collect()
      if (hit.nonEmpty) {
        val name = hit.head.getString(0)
        throw new IllegalArgumentException(
          s"requirement failed: cannot add constraint $name " +
            s"(${newChecks(name)}): existing rows violate it, " +
            s"e.g. ${hit.head.get(1)}")
      }
    }
    val carried = carriedStateOf(spark, root, Some(base))
    val v = base + 1
    commitManifest(spark, root, v, carried.segs, carried.inline,
      header = (carried.props -- unset) ++ set ++
        schemaHeaderOf(carried.schema),
      deletes = carried.deletes)
    v
  }

  /** First violated `check.*` rule per row, as a label column: NULL
    * when every rule holds (SQL-standard semantics: a row violates only
    * when the expression is FALSE — nulls pass). ONE expression folding
    * all k rules, so the gate is one filter-and-probe job regardless of
    * how many constraints the table declares.
    */
  private def violationLabel(checks: Map[String, String]) =
    coalesce(checks.toSeq.sortBy(_._1).map { case (name, exprSql) =>
      when(!coalesce(expr(exprSql).cast("boolean"), lit(true)), lit(name))
    }: _*)

  /** The write-side CHECK-constraint gate: every committed batch must
    * satisfy each `check.*` property. ONE filter-and-probe job per
    * write — the k rules fold into a single CASE-labeled pass — and
    * only for tables that declared constraints; the refusal names the
    * violated constraint and one offending row. Runs on the LOGICAL
    * frame, before physical renaming.
    */
  private def enforceConstraints(props: Map[String, String],
      df: DataFrame, op: String): Unit = {
    val checks = props.filter(_._1.startsWith("check."))
    if (checks.isEmpty || df.columns.isEmpty) return
    val hit = df
      .select(violationLabel(checks).as("__graft_violated"),
        struct(df.columns.map(col): _*).as("__graft_row"))
      .filter(col("__graft_violated").isNotNull)
      .limit(1).collect()
    if (hit.nonEmpty) {
      val name = hit.head.getString(0)
      throw new IllegalArgumentException(
        s"requirement failed: $op violates constraint $name " +
          s"(${checks(name)}): e.g. ${hit.head.get(1)}")
    }
  }

  /** ALTER TABLE RENAME COLUMN as a METADATA-ONLY commit: the logical
    * schema renames the field and `colmap` records logical->physical so
    * every read aliases old-file bytes to the new name and every append
    * writes the ORIGINAL physical name (all files agree physically,
    * forever). Zero data I/O; time travel below the commit sees the old
    * name. Columns the table's properties reference (statsKey, partCol,
    * clusterBy, deleteKey) refuse — renaming the pruning/layout identity
    * is an overwrite-class operation.
    */
  def snapshotRenameColumn(spark: org.apache.spark.sql.SparkSession,
      root: String, from: String, to: String): Int = {
    val vs = snapshotVersions(spark, root)
    require(vs.nonEmpty, s"no snapshots at $root")
    val base = vs.last
    val hdr = manifestHeader(spark, root, base)
    val prev = manifestSchema(spark, root, base).getOrElse(
      throw new IllegalArgumentException(
        s"$root records no schema header (legacy history); RENAME needs " +
          "a recorded schema"))
    val resolver = spark.sessionState.conf.resolver
    val field = prev.fields.find(f => resolver(f.name, from)).getOrElse(
      throw new IllegalArgumentException(s"no column '$from' to rename"))
    require(!prev.fields.exists(f => resolver(f.name, to)),
      s"column '$to' already exists")
    require(!reservedCols(hdr).exists(resolver(_, field.name)),
      s"column '$from' is referenced by a table property (statsKey/" +
        "partCol/clusterBy/deleteKey); renaming the pruning identity is " +
        "an overwrite-class operation (REPLACE TABLE)")
    val cmap0 = colMapOf(hdr)
    val phys = cmap0.getOrElse(field.name, field.name)
    // renaming BACK to the column's OWN physical slot clears the mapping
    // entry (and is always legal); any other target must be fresh
    if (!resolver(to, phys)) requireFreshPhysicalName(spark, hdr, to)
    val cmap = (cmap0 - field.name) ++
      (if (resolver(phys, to)) Map.empty else Map(to -> phys))
    val renamed = org.apache.spark.sql.types.StructType(prev.fields.map(f =>
      if (resolver(f.name, from)) f.copy(name = to) else f))
    val v = base + 1
    val carried = carriedStateOf(spark, root, Some(base))
    commitManifest(spark, root, v, carried.segs, carried.inline,
      header = (carried.props -- Seq("colmap", "tombstones")) ++
        colMapHeader(cmap, tombstonesOf(hdr)) ++
        schemaHeaderOf(Some(renamed)),
      deletes = carried.deletes)
    v
  }

  /** ALTER TABLE DROP COLUMN as a METADATA-ONLY commit: the logical
    * schema drops the field; its physical slot joins `tombstones` (old
    * files still carry the bytes — reads project them out; the name
    * cannot be re-added until a rewrite clears the slot). Same reserved-
    * column refusal as RENAME.
    */
  def snapshotDropColumn(spark: org.apache.spark.sql.SparkSession,
      root: String, name: String): Int = {
    val vs = snapshotVersions(spark, root)
    require(vs.nonEmpty, s"no snapshots at $root")
    val base = vs.last
    val hdr = manifestHeader(spark, root, base)
    val prev = manifestSchema(spark, root, base).getOrElse(
      throw new IllegalArgumentException(
        s"$root records no schema header (legacy history); DROP needs " +
          "a recorded schema"))
    val resolver = spark.sessionState.conf.resolver
    val field = prev.fields.find(f => resolver(f.name, name)).getOrElse(
      throw new IllegalArgumentException(s"no column '$name' to drop"))
    require(prev.fields.length > 1, "cannot drop the only column")
    require(!reservedCols(hdr).exists(resolver(_, field.name)),
      s"column '$name' is referenced by a table property (statsKey/" +
        "partCol/clusterBy/deleteKey); dropping the pruning identity is " +
        "an overwrite-class operation (REPLACE TABLE)")
    val cmap0 = colMapOf(hdr)
    val phys = cmap0.getOrElse(field.name, field.name)
    val narrowed = org.apache.spark.sql.types.StructType(
      prev.fields.filterNot(f => resolver(f.name, name)))
    val v = base + 1
    val carried = carriedStateOf(spark, root, Some(base))
    commitManifest(spark, root, v, carried.segs, carried.inline,
      header = (carried.props -- Seq("colmap", "tombstones")) ++
        colMapHeader(cmap0 - field.name, tombstonesOf(hdr) + phys) ++
        schemaHeaderOf(Some(narrowed)),
      deletes = carried.deletes)
    v
  }

  /** Read a snapshot (default: latest). The manifest resolves once here —
    * the returned frame is pinned to this version's file list and typed
    * from its recorded schema: without delete sidecars, building it
    * starts no Spark job (header-less legacy history still infers the
    * schema from footers).
    *
    * MERGE-ON-READ: if the manifest carries delete sidecars
    * ([[snapshotDeleteMOR]]), the read splits the file list into CLEAN
    * files (in no sidecar's scope — scanned untouched, zero read-side
    * cost) and DIRTY files, which take ONE broadcast anti-join against
    * the union of sidecar (file, key) rows. Scoping is per (file, key):
    * a key deleted from an old file and later RE-INSERTED by an append
    * survives, because the new file is outside every sidecar's scope —
    * the time-ordered semantics a position/equality-delete format gives.
    * 100 TB: sidecars are O(deleted keys) bytes; the anti-join touches
    * only dirty files, and compaction ([[snapshotCompact]]) folds them
    * away so read-side debt is bounded by the maintenance cadence.
    */
  def readSnapshot(spark: org.apache.spark.sql.SparkSession, root: String,
      version: Int = -1, partitions: Seq[String] = Nil): DataFrame = {
    val vs = snapshotVersions(spark, root)
    require(vs.nonEmpty, s"no snapshots at $root")
    val v = if (version < 0) vs.last else version
    require(vs.contains(v), s"version $v not in $vs")
    val hdr = manifestHeader(spark, root, v)
    // PARTITION PRUNING from the manifest: keep only files whose recorded
    // partition-value set intersects the requested values (entries
    // without a recorded set — pre-partitioning commits, compactions that
    // mixed values — stay in: conservative). The row filter below makes
    // the result EXACTLY `readSnapshot(...).filter(partCol in values)`;
    // the pruning decides only which files are never opened.
    val partColOpt = if (partitions.isEmpty) None else Some(
      hdr.getOrElse("partCol", throw new IllegalArgumentException(
        s"$root carries no partCol table property; partition read impossible")))
    val want = partitions.toSet
    def partKeep(e: FileEntry): Boolean =
      partColOpt.isEmpty || e.parts.forall(_.exists(want))
    val partFilter = (df: DataFrame) => partColOpt match {
      case Some(pc) => df.filter(col(pc).cast("string").isin(partitions: _*))
      case None => df
    }
    partFilter(readSnapshotSubset(spark, root, v, hdr, partKeep))
  }

  /** KEY-RANGE PRUNED snapshot read — the continuous sibling of the
    * partition read, and the everyday query shape on a key/time-
    * clustered corpus ("last week's rows"): keep only files whose
    * manifest stats range for `keyCol` INTERSECTS [lo, hi] (stat-less
    * entries conservatively kept; a stat-less TABLE keeps everything and
    * degrades to the plain filtered read, never to a wrong one), then
    * row-filter, so the result is exactly
    * `readSnapshot(...).filter(keyCol BETWEEN lo AND hi)`. Composes
    * with MOR deletes via the shared subset engine.
    * 100 TB: on a z-ordered/clustered layout ([[snapshotCompact]]) a
    * narrow range opens O(overlapping files) — the manifest decides from
    * metadata what footer-based pruning would re-derive from a million
    * file opens.
    */
  def readSnapshotRange(spark: org.apache.spark.sql.SparkSession,
      root: String, keyCol: String, lo: Long, hi: Long,
      version: Int = -1): DataFrame = {
    val vs = snapshotVersions(spark, root)
    require(vs.nonEmpty, s"no snapshots at $root")
    val v = if (version < 0) vs.last else version
    require(vs.contains(v), s"version $v not in $vs")
    val hdr = manifestHeader(spark, root, v)
    def keep(e: FileEntry): Boolean = e.stats.flatMap(_.cols.get(keyCol))
      .forall { case (mn, mx) => mx >= lo && mn <= hi }
    readSnapshotSubset(spark, root, v, hdr, keep)
      .filter(col(keyCol) >= lit(lo) && col(keyCol) <= lit(hi))
  }

  /** METADATA TABLES — the table's own history and file inventory AS
    * DATAFRAMES (Delta's `DESCRIBE HISTORY` / Iceberg's `.files`
    * metadata tables): everything comes from manifests, zero data I/O.
    * `snapshotHistory`: one row per version — commit timestamp,
    * operation hints from the header (writer/epoch), file/delete-sidecar
    * counts, recorded row count (null when any entry is stat-less).
    * `snapshotFilesTable`: one row per data-file entry of a version —
    * path, rows, per-column min/max (stats columns as a map), partition
    * values — what an ops dashboard or a debugging session joins
    * against. Both are plain DataFrames: filter, join, aggregate them
    * like any table.
    */
  def snapshotHistory(spark: org.apache.spark.sql.SparkSession,
      root: String): DataFrame = {
    import spark.implicits._
    // named refs surface on the versions they point at: "tag:<name>" /
    // "branch:<name>" (a branch shows at its fork point on main)
    val refsByV = snapshotRefs(spark, root)
      .groupBy(_.version).map { case (v, rs) =>
        v -> rs.map(r => s"${r.kind}:${r.name}").sorted }
    snapshotVersions(spark, root).map { v =>
      val hdr = manifestHeader(spark, root, v)
      val entries = manifestEntries(spark, root, v)
      val nDel = manifestDeleteFiles(spark, root, v).size
      // sidecar debt makes the manifest arithmetic an OVER-count (deleted
      // rows still sit in the files) — report unknown, like snapshotRowCount
      val rows = if (nDel == 0 && entries.forall(_.stats.isDefined))
        Some(entries.map(_.stats.get.rows).sum) else None
      (v, hdr.get("ts").map(_.toLong).getOrElse(0L),
        entries.size, nDel,
        rows, hdr.get("writer"), hdr.get("epoch").map(_.toLong),
        refsByV.getOrElse(v, Nil))
    }.toDF("version", "commit_ts", "n_files", "n_delete_files",
      "recorded_rows", "writer", "epoch", "refs")
  }

  /** Delta's `DESCRIBE DETAIL` as a metadata table (`graft.t.detail`):
    * ONE row summarizing the head — version, commit time, file/sidecar
    * counts, real bytes, attributable row count (null when sidecar debt
    * or stat-less entries make the manifest arithmetic an over-count),
    * the declared layout/engine properties, and every user property —
    * resolved from manifests + one listing, zero data I/O. What an
    * operator looks at first.
    */
  def snapshotDetail(spark: org.apache.spark.sql.SparkSession,
      root: String, version: Int = -1): DataFrame = {
    import spark.implicits._
    val vs = snapshotVersions(spark, root)
    require(vs.nonEmpty, s"no snapshots at $root")
    val v = if (version < 0) vs.last else version
    require(vs.contains(v), s"version $v not in $vs")
    val hdr = manifestHeader(spark, root, v)
    val entries = manifestEntries(spark, root, v)
    val nDel = manifestDeleteFiles(spark, root, v).size
    val bytes = graft.sources.V1Filters.bytesOf(spark, entries.map(_.path))
    val rows = if (nDel == 0 && entries.nonEmpty &&
        entries.forall(_.stats.isDefined))
      Some(entries.map(_.stats.get.rows).sum) else None
    val userProps = (hdr -- ReservedProps).view
      .filterKeys(!Set("ts", "writer", "epoch", "schema").contains(_)).toMap
    Seq((v, hdr.get("ts").map(_.toLong).getOrElse(0L), entries.size, nDel,
      bytes, rows, hdr.get("partCol"), hdr.get("statsKey"),
      hdr.get("clusterBy"), hdr.get("bloomIndex"), userProps))
      .toDF("version", "commit_ts", "n_files", "n_delete_files",
        "size_bytes", "recorded_rows", "part_col", "stats_key",
        "cluster_by", "bloom_index", "properties")
  }

  /** Iceberg's `partitions` metadata table: per partition value of the
    * HEAD (or pinned version), the file count and — when every file of
    * the value carries stats and single-value scope — its recorded row
    * count (multi-value files contribute files but unknown rows:
    * reported null, never a guess). Resolved from manifests alone, zero
    * data I/O — what a maintenance scheduler reads to find the skewed
    * or splintered partition worth a scoped OPTIMIZE.
    */
  def snapshotPartitionsTable(spark: org.apache.spark.sql.SparkSession,
      root: String, version: Int = -1): DataFrame = {
    import spark.implicits._
    val vs = snapshotVersions(spark, root)
    require(vs.nonEmpty, s"no snapshots at $root")
    val v = if (version < 0) vs.last else version
    require(vs.contains(v), s"version $v not in $vs")
    val entries = manifestEntries(spark, root, v)
    val perValue = entries.flatMap { e =>
      e.parts.getOrElse(Seq.empty).map { p =>
        // rows attributable only when the file holds exactly this value
        val rows = e.stats.map(_.rows)
          .filter(_ => e.parts.exists(_.size == 1))
        (p, rows)
      }
    }
    perValue.groupBy(_._1).toSeq.sortBy(_._1).map { case (p, xs) =>
      val allKnown = xs.forall(_._2.isDefined)
      (p, xs.size.toLong,
        if (allKnown) Some(xs.flatMap(_._2).sum) else None)
    }.toDF("partition", "n_files", "recorded_rows")
  }

  def snapshotFilesTable(spark: org.apache.spark.sql.SparkSession,
      root: String, version: Int = -1): DataFrame = {
    import spark.implicits._
    val vs = snapshotVersions(spark, root)
    require(vs.nonEmpty, s"no snapshots at $root")
    val v = if (version < 0) vs.last else version
    require(vs.contains(v), s"version $v not in $vs")
    manifestEntries(spark, root, v).map { e =>
      (e.path,
        e.stats.map(_.rows),
        e.stats.map(_.cols.view.mapValues { case (mn, mx) =>
          s"$mn..$mx" }.toMap).getOrElse(Map.empty[String, String]),
        e.stats.map(_.strCols.view.mapValues { case (mn, mx) =>
          s"$mn..$mx" }.toMap).getOrElse(Map.empty[String, String]),
        e.stats.map(_.dblCols.view.mapValues { case (mn, mx) =>
          s"$mn..$mx" }.toMap).getOrElse(Map.empty[String, String]),
        e.parts.getOrElse(Seq.empty[String]),
        // per-file NDV estimates from the ndvKey KMV synopses
        e.stats.map(_.ndv.view.mapValues(sk => math.max(1L, math.round(
          graft.functions.KmvSketch.estimateDistinct(sk.toArray,
            graft.functions.KmvSketch.ManifestK)))).toMap)
          .getOrElse(Map.empty[String, Long]))
    }.toDF("path", "rows", "col_ranges", "str_ranges", "dbl_ranges",
      "partitions", "ndv")
  }

  /** METADATA-ONLY ROW COUNT — `SELECT count(*)` answered from the
    * manifest (Iceberg's metadata-table trick): stats-bearing entries
    * carry their row counts from commit time; a table whose entries all
    * have stats (and no MOR sidecar debt — deleted rows aren't in the
    * manifest's arithmetic) counts in O(manifest) with ZERO data I/O.
    * Falls back to counting the read when any entry is stat-less or
    * sidecars exist — correct for every table, free for the well-kept
    * ones.
    */
  def snapshotRowCount(spark: org.apache.spark.sql.SparkSession,
      root: String, version: Int = -1): Long = {
    val vs = snapshotVersions(spark, root)
    require(vs.nonEmpty, s"no snapshots at $root")
    val v = if (version < 0) vs.last else version
    require(vs.contains(v), s"version $v not in $vs")
    val entries = manifestEntries(spark, root, v)
    if (manifestDeleteFiles(spark, root, v).isEmpty &&
        entries.forall(_.stats.isDefined))
      entries.map(_.stats.get.rows).sum
    else readSnapshot(spark, root, v).count()
  }

  /** THE VERSIONED TABLE AS A FIRST-CLASS SPARK RELATION — a
    * `HadoopFsRelation` over [[graft.sources.SnapshotFileIndex]], so
    * CATALYST drives the manifest pruning: any pushed filter on a stats
    * column (BETWEEN, =, IN, conjunctions — including join-pushed
    * predicates) or on the partition column prunes the file list AT
    * PHYSICAL PLANNING, with Spark's own parquet reader doing the I/O.
    * This subsumes [[readSnapshotRange]]/partition reads for tables
    * without MOR debt: no special read API, the optimizer decides and
    * the manifest answers. Precondition: no delete sidecars (their
    * anti-join belongs to [[readSnapshot]]'s path; compact first — the
    * require makes a silent resurrect impossible).
    */
  def snapshotTable(spark: org.apache.spark.sql.SparkSession, root: String,
      version: Int = -1): DataFrame =
    snapshotTableWithIndex(spark, root, version)._1

  /** One version's catalog-facing metadata, resolved once: file list,
    * recorded schema, header properties, sidecar debt. What a DSv2
    * `Table` implementation ([[graft.sources.GraftCatalog]]) pins at
    * load so every downstream scan/plan is metadata-only.
    */
  case class SnapshotMeta(version: Int, paths: Seq[String],
      schema: Option[org.apache.spark.sql.types.StructType],
      header: Map[String, String], hasDeleteSidecars: Boolean)

  def snapshotMeta(spark: org.apache.spark.sql.SparkSession, root: String,
      version: Int = -1): SnapshotMeta = {
    val vs = snapshotVersions(spark, root)
    require(vs.nonEmpty, s"no snapshots at $root")
    val v = if (version < 0) vs.last else version
    require(vs.contains(v), s"version $v not in $vs")
    SnapshotMeta(v, manifestEntries(spark, root, v).map(_.path),
      manifestSchema(spark, root, v), manifestHeader(spark, root, v),
      manifestDeleteFiles(spark, root, v).nonEmpty)
  }

  /** The resolved (version, file entries, header) triple of a snapshot —
    * the planning inputs the DSv2 scan ([[graft.sources.GraftScan]])
    * needs to prune, size, and runtime-filter from manifest metadata
    * alone. One manifest resolution, zero data I/O.
    */
  private[graft] def snapshotEntriesFor(
      spark: org.apache.spark.sql.SparkSession, root: String,
      version: Int = -1): (Int, Seq[FileEntry], Map[String, String]) = {
    val vs = snapshotVersions(spark, root)
    require(vs.nonEmpty, s"no snapshots at $root")
    val v = if (version < 0) vs.last else version
    require(vs.contains(v), s"version $v not in $vs")
    (v, manifestEntries(spark, root, v), manifestHeader(spark, root, v))
  }

  private[graft] def snapshotTableWithIndex(
      spark: org.apache.spark.sql.SparkSession, root: String,
      version: Int = -1): (DataFrame, graft.sources.SnapshotFileIndex) = {
    val vs = snapshotVersions(spark, root)
    require(vs.nonEmpty, s"no snapshots at $root")
    val v = if (version < 0) vs.last else version
    require(vs.contains(v), s"version $v not in $vs")
    require(manifestDeleteFiles(spark, root, v).isEmpty,
      "table carries MOR delete sidecars; snapshotCompact before snapshotTable")
    val hdr = manifestHeader(spark, root, v)
    val (raw, index) =
      manifestRelation(spark, root, manifestEntries(spark, root, v), hdr)
    // the relation reads PHYSICAL columns; a renamed table gets a
    // logical alias projection on top — the optimizer rewrites pushed
    // predicates through the aliases, so pruning/pushdown see physical
    // names, exactly what manifest stats and footers record
    val df = manifestSchemaOf(hdr) match {
      case Some(sc) if colMapOf(hdr).nonEmpty => toLogicalFrame(raw, hdr, sc)
      case _ => raw
    }
    (df, index)
  }

  /** The recorded (LOGICAL) schema of a manifest header, if any. */
  private def manifestSchemaOf(hdr: Map[String, String])
      : Option[org.apache.spark.sql.types.StructType] =
    hdr.get("schema").flatMap { j =>
      org.apache.spark.sql.types.DataType.fromJson(
        java.net.URLDecoder.decode(j, "UTF-8")) match {
        case st: org.apache.spark.sql.types.StructType => Some(st)
        case _ => None
      }
    }

  /** `entries` of one version as a Spark relation PRICED FROM THE
    * MANIFEST — the one constructor under [[snapshotTable]], every
    * [[readSnapshot]]-family read, MERGE's touched-file read and the
    * bloom index build: the data schema is the `#schema`
    * header with `colmap`'s PHYSICAL names, and the file listing comes
    * from the entries ([[graft.sources.SnapshotFileIndex]]), so building
    * the frame starts no Spark job (the whole point at a million files).
    * The frame speaks PHYSICAL column names: dropped columns are simply
    * not in the schema, header-only columns read null. Legacy
    * header-less history falls back to footer-union inference
    * (`mergeSchema`: one job, conflicting types fail loudly).
    */
  private def manifestRelation(spark: org.apache.spark.sql.SparkSession,
      root: String, entries: Seq[FileEntry], hdr: Map[String, String])
      : (DataFrame, graft.sources.SnapshotFileIndex) = {
    val cmap = colMapOf(hdr)
    val physSchema = manifestSchemaOf(hdr) match {
      case Some(sc) => org.apache.spark.sql.types.StructType(sc.fields.map(f =>
        f.copy(name = cmap.getOrElse(f.name, f.name))))
      case None => spark.read.option("mergeSchema", "true")
        .parquet(entries.map(_.path): _*).schema
    }
    val index = new graft.sources.SnapshotFileIndex(
      spark, root, entries, hdr.get("partCol"),
      hdr.get("partSpec").map(PartSpec.parse).getOrElse(Nil))
    val relation = org.apache.spark.sql.execution.datasources.HadoopFsRelation(
      index,
      partitionSchema = org.apache.spark.sql.types.StructType(Nil),
      dataSchema = physSchema,
      bucketSpec = None,
      fileFormat =
        new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat(),
      options = Map("mergeSchema" -> "true"))(spark)
    (spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .baseRelationToDataFrame(relation), index)
  }

  /** Whether a delete-sidecar path is a POSITION sidecar
    * ([[snapshotDeletePositions]] writes them under `deletes/pos-v<N>-…`)
    * vs the equality kind ([[snapshotDeleteMOR]], `deletes/v<N>-…`). The
    * kind is path-encoded so every reference-walking consumer (vacuum,
    * lineage tests, clone/publish carries) treats both uniformly as
    * opaque references.
    */
  private def isPosSidecar(p: String): Boolean =
    p.contains("/deletes/pos-")

  /** Sidecar files as one frame. Their schemas are fixed by their
    * writers — (file, key) with the key cast to long, (file, pos) with
    * the scan's long row index — so the read skips footer inference.
    */
  private def readSidecars(spark: org.apache.spark.sql.SparkSession,
      paths: Seq[String]): DataFrame = {
    val second = if (paths.forall(isPosSidecar)) "pos" else "key"
    spark.read.schema(s"file STRING, $second BIGINT").parquet(paths: _*)
  }

  /** The base names of the data files that `refs`' sidecars hold rows
    * for: the union of their recorded scopes, plus one distinct pass
    * over the file column of any sidecar whose `delete:` line records
    * none (written before scopes were recorded).
    */
  private def deleteScopeOf(spark: org.apache.spark.sql.SparkSession,
      refs: Seq[String]): Set[String] = {
    val (scoped, legacy) = refs.partition(deleteRefScope(_).isDefined)
    val recorded = scoped.flatMap(deleteRefScope(_).get).toSet
    if (legacy.isEmpty) recorded
    else recorded ++ legacy.map(deleteRefPath).groupBy(isPosSidecar).values
      .map(ps => readSidecars(spark, ps).select(col("file")))
      .reduce(_ union _).distinct().collect().map(_.getString(0))
  }

  /** MOR-aware read of the SUBSET of a version's files passing `keep` —
    * the shared engine under [[readSnapshot]]'s partition pruning and
    * [[snapshotPointLookup]]'s bloom candidates: delete sidecars still
    * apply over the kept dirty files, so any file-level pruning composes
    * with MOR deletes without re-deriving the anti-join. BOTH sidecar
    * kinds apply: equality deletes ((file, key) rows anti-joined on the
    * declared `deleteKey`) and position deletes ((file, pos) ordinal
    * rows anti-joined on the scan's hidden `_metadata.row_index` — the
    * deletion-vector shape, key-free).
    *
    * `lineage = true` additionally carries `__graft_file` (base name)
    * and `__graft_pos` (in-file ordinal) per surviving row — what
    * [[snapshotDeletePositions]] needs to address the rows a predicate
    * matches without rewriting a byte.
    */
  private def readSnapshotSubset(spark: org.apache.spark.sql.SparkSession,
      root: String, v: Int, hdr: Map[String, String],
      keep: FileEntry => Boolean, lineage: Boolean = false): DataFrame = {
    val lineageCols = Seq("__graft_file", "__graft_pos")
    val recorded = manifestSchemaOf(hdr)
    val kept = manifestEntries(spark, root, v).filter(keep)
    if (kept.isEmpty) {
      // every file pruned: an empty frame with the version's schema —
      // from the manifest header when recorded (O(1)); footer-union
      // inference only for legacy history
      val empty = recorded match {
        case Some(sc) => spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], sc)
        case None => spark.read.option("mergeSchema", "true")
          .parquet(manifestFiles(spark, root, v): _*).where(lit(false))
      }
      return if (!lineage) empty
      else empty.withColumn("__graft_file", lit(null).cast("string"))
        .withColumn("__graft_pos", lit(null).cast("long"))
    }
    val refs = manifestDeleteRefs(spark, root, v)
    val dels = refs.map(deleteRefPath)
    // SCHEMA EVOLUTION: a version's schema is the union of its files'
    // schemas (appends may ADD columns; rows from pre-evolution files
    // read the new columns as null). The header records that union, so
    // the relation is typed from the manifest with no footer read;
    // legacy header-less history pays [[manifestRelation]]'s footer
    // fallback.
    def read(es: Seq[FileEntry]) = manifestRelation(spark, root, es, hdr)._1
    // lineage helpers ride the scan's hidden file-metadata struct:
    // split-safe, codegen'd, and the row ordinal is the file-physical
    // position a deletion vector addresses
    def withMeta(df: DataFrame) = df
      .withColumn("__graft_file", col("_metadata.file_name"))
      .withColumn("__graft_pos", col("_metadata.row_index"))
    // LOGICAL alignment: project the physical frame to exactly the
    // header's recorded (logical) schema —
    //  - HEADER-ONLY columns ([[snapshotAddColumns]] — zero new files)
    //    read as typed null, exactly like a column added by an evolved
    //    append before its first row;
    //  - RENAMED columns ([[snapshotRenameColumn]]) alias their physical
    //    slot to the logical name;
    //  - DROPPED columns ([[snapshotDropColumn]]) — still physically in
    //    old files — project out.
    // Legacy header-less history returns the physical frame unchanged.
    def align(df: DataFrame): DataFrame = recorded match {
      case Some(sc) =>
        toLogicalFrame(df, hdr, sc, if (lineage) lineageCols else Nil)
      case None => df
    }
    if (dels.isEmpty)
      return align(if (lineage) withMeta(read(kept)) else read(kept))
    val (posDels, eqDels) = dels.partition(isPosSidecar)
    val eqSide = if (eqDels.isEmpty) None else Some(
      readSidecars(spark, eqDels)
        .select(col("file").as("__graft_del_file"),
          col("key").as("__graft_del_key")))
    val posSide = if (posDels.isEmpty) None else Some(
      readSidecars(spark, posDels)
        .select(col("file").as("__graft_pdel_file"),
          col("pos").as("__graft_pdel_pos")))
    // dirty-file resolution reads the scopes the deletes recorded on
    // their `delete:` lines — no job; only sidecars without a recorded
    // scope pay a distinct pass over their file names
    val dirty = deleteScopeOf(spark, refs)
    // scope match on the file's BASE NAME: parquet part files carry a
    // per-job UUID, and URI normalization (file:/ vs file:///) must not
    // defeat the join — _metadata.file_name is already the base name
    val (dirtyFiles, cleanFiles) =
      kept.partition(e => dirty.contains(baseName(e.path)))
    val cleanRaw =
      if (cleanFiles.isEmpty) read(kept).where(lit(false))
      else read(cleanFiles)
    val cleanDf = if (lineage) withMeta(cleanRaw) else cleanRaw
    val dirtyDf =
      if (dirtyFiles.isEmpty) cleanDf.where(lit(false))
      else {
        var d = withMeta(read(dirtyFiles))
        eqSide.foreach { side =>
          val keyCol = hdr.getOrElse("deleteKey",
            throw new IllegalStateException(
              s"v$v carries equality delete sidecars but no #deleteKey header"))
          // equality sidecars are broadcast-small by nature (deletion
          // requests arrive row-at-a-time between compactions)
          d = d.join(broadcast(side),
            col("__graft_file") === col("__graft_del_file") &&
              col(keyCol) === col("__graft_del_key"), "left_anti")
        }
        posSide.foreach { side =>
          // position sidecars can be O(matched rows) of a bulk DELETE —
          // no broadcast hint; the planner picks broadcast vs shuffled
          // from the sidecar's real size
          d = d.join(side,
            col("__graft_file") === col("__graft_pdel_file") &&
              col("__graft_pos") === col("__graft_pdel_pos"), "left_anti")
        }
        if (lineage) d else d.drop(lineageCols: _*)
      }
    // schema evolution can leave the clean/dirty halves with different
    // column sets (old files lack added columns) — align on names,
    // missing columns read null
    align(cleanDf.unionByName(dirtyDf, allowMissingColumns = true))
  }

  /** Commit timestamps of every version, ascending — the `#ts` header
    * each commit stamps (0 for pre-stamping manifests: always eligible,
    * the conservative reading for AS OF).
    */
  def snapshotTimestamps(spark: org.apache.spark.sql.SparkSession,
      root: String): Seq[(Int, Long)] =
    snapshotVersions(spark, root).map { v =>
      v -> manifestHeader(spark, root, v).get("ts").map(_.toLong).getOrElse(0L)
    }

  /** TIMESTAMP time travel — `AS OF <ts>` resolved against the commit
    * stamps: the LATEST version whose commit time is ≤ `tsMillis` (ties
    * resolve to the later version, the "state the table had at t"
    * reading). Throws if `tsMillis` predates the first commit — there
    * was no table then, and silently serving the first version would
    * misreport history. Commit stamps are the writer's wall clock, the
    * same contract (and the same skew caveat) every table format
    * documents for its timestamp syntax; version pins remain the exact
    * form.
    */
  def readSnapshotAsOf(spark: org.apache.spark.sql.SparkSession,
      root: String, tsMillis: Long): DataFrame = {
    val eligible = snapshotTimestamps(spark, root).filter(_._2 <= tsMillis)
    require(eligible.nonEmpty,
      s"AS OF $tsMillis predates the first commit at $root")
    readSnapshot(spark, root, eligible.last._1)
  }

  /** MERGE-ON-READ DELETE — the O(deleted keys) commit every
    * latency-sensitive deployment runs between compactions (Iceberg
    * equality/position deletes, Delta deletion vectors — same idea,
    * built from first principles on the manifest layer): instead of
    * rewriting touched data files (q82's COW path), commit a SIDECAR of
    * (file, key) equality-delete rows scoped by per-file key ranges
    * ([[snapshotKeyRanges]]), leaving every data file byte-identical. Readers
    * ([[readSnapshot]]) apply the sidecar as a broadcast anti-join over
    * only the scoped files; [[snapshotCompact]] folds the debt into
    * clean files and drops the sidecar references.
    *
    * Soundness: every row with key k lives in a file whose key range
    * contains k, so scoping the delete to range-overlapping files misses
    * nothing; over-scoping (range overlap without an actual row) only
    * adds a file to the anti-join side — correct, conservative.
    *
    * 100 TB: the commit does NO data I/O — manifest stats for pruning plus
    * one tiny sidecar write, which is why deletion SLAs are minutes on a
    * MOR table vs a COW rewrite of every touched file; the read-side
    * debt is bounded by compaction cadence. Deletion keys are
    * broadcast-small by nature (requests arrive row-at-a-time).
    * Returns the committed version.
    *
    * Array form = the bounded-batch convenience; production request
    * tables ride [[snapshotDeleteMORKeys]] (DataFrame changelog, no
    * driver materialization).
    */
  def snapshotDeleteMOR(spark: org.apache.spark.sql.SparkSession,
      root: String, keyCol: String, keys: Array[Long]): Int = {
    val vs = snapshotVersions(spark, root)
    require(vs.nonEmpty, s"no snapshots at $root")
    val base = vs.last
    val hdr = manifestHeader(spark, root, base)
    hdr.get("deleteKey").foreach(k => require(k == keyCol,
      s"table already carries deletes on '$k'; mixed delete keys need a compaction first"))
    val entries = manifestEntries(spark, root, base)
    val sorted = keys.distinct.sorted
    def overlapping(mn: Long, mx: Long): Array[Long] = {
      val i = java.util.Arrays.binarySearch(sorted, mn)
      val from = if (i >= 0) i else -i - 1
      sorted.drop(from).takeWhile(_ <= mx)
    }
    // scope from MANIFEST stats when the table declares this key column;
    // footer fallback only for stat-less entries
    val scoped = keyRangesOfEntries(spark, entries, keyCol).flatMap {
      case (f, mn, mx) =>
        overlapping(mn, mx).map(k => (baseName(f), k))
    }
    import spark.implicits._
    commitEqualityDelete(spark, root, base, keyCol, { dir =>
      if (scoped.nonEmpty)
        scoped.toDF("file", "key").coalesce(1).write.mode("error").parquet(dir)
      scoped.map(_._1).toSet
    })
  }

  /** [[snapshotDeleteMOR]] with the deletion keys AS A DATAFRAME —
    * removes the driver-side O(requests) ceiling: scoping is a MAP-SIDE
    * probe of the manifest key ranges ([[RangeProbe]], the same probe as
    * [[touchedFilesFor]]), producing the (file, key) sidecar rows
    * DISTRIBUTED; only the O(files) range table ever touches the driver.
    * The sidecar write is the one job: it also gathers the scoped file
    * names, which both tell whether anything was scoped and become the
    * sidecar's recorded scope. Duplicate request keys are not removed —
    * a duplicated (file, key) row is harmless to the reader's anti-join.
    * Same commit shape, same soundness (a key overlapping no file range
    * owns no row), same audit-trail empty commit.
    */
  def snapshotDeleteMORKeys(spark: org.apache.spark.sql.SparkSession,
      root: String, keyCol: String, keys: DataFrame): Int = {
    val vs = snapshotVersions(spark, root)
    require(vs.nonEmpty, s"no snapshots at $root")
    val base = vs.last
    val hdr = manifestHeader(spark, root, base)
    hdr.get("deleteKey").foreach(k => require(k == keyCol,
      s"table already carries deletes on '$k'; mixed delete keys need a compaction first"))
    val entries = manifestEntries(spark, root, base)
    import spark.implicits._
    val ranges = keyRangesOfEntries(spark, entries, keyCol)
      .map { case (f, mn, mx) => (baseName(f), mn, mx) }
    val bc = spark.sparkContext.broadcast(new RangeProbe(ranges))
    val scope = new NameSetAccumulator
    spark.sparkContext.register(scope)
    val kc = keys.columns.head
    val scoped = keys.select(col(kc).cast("long").as("key"))
      .where(col("key").isNotNull).as[Long]
      .flatMap { k =>
        val p = bc.value
        p.holding(k).map { i => scope.add(p.names(i)); (p.names(i), k) }
      }.toDF("file", "key")
    import scala.jdk.CollectionConverters._
    val v = commitEqualityDelete(spark, root, base, keyCol, { dir =>
      scoped.coalesce(1).write.mode("error").parquet(dir)
      scope.value.asScala.toSet
    })
    bc.destroy()
    v
  }

  /** The commit both equality-delete forms end in: version `base + 1`
    * carries `base`'s state and adds one (file, key) sidecar, which
    * `write` writes into the directory it is given, returning the base
    * names of the files it scoped. Its `delete:` line records them
    * ([[manifestDeleteRefs]]), so readers split clean files from dirty
    * ones without a job. An empty scope (no key overlaps any file:
    * nothing to delete) still commits, so the caller gets one version
    * per request batch (audit trail) — with no `delete:` line, and no
    * sidecar directory left behind.
    */
  private def commitEqualityDelete(spark: org.apache.spark.sql.SparkSession,
      root: String, base: Int, keyCol: String,
      write: String => Set[String]): Int = {
    val v = base + 1
    val carried = carriedStateOf(spark, root, Some(base))
    val hdrOut = carried.props ++ schemaHeaderOf(carried.schema)
    val delDir = attemptDir(root, "deletes", v)
    val names = write(delDir)
    if (names.isEmpty) {
      fsOf(spark, delDir).delete(new org.apache.hadoop.fs.Path(delDir), true)
      commitManifest(spark, root, v, carried.segs, carried.inline,
        header = hdrOut, deletes = carried.deletes)
      return v
    }
    commitManifest(spark, root, v, carried.segs, carried.inline,
      header = hdrOut + ("deleteKey" -> keyCol),
      deletes = carried.deletes ++
        listDataFiles(spark, delDir).map(deleteRef(_, names)))
    v
  }

  /** POSITION-DELETE (deletion-vector) MOR DELETE — the
    * arbitrary-predicate sibling of [[snapshotDeleteMOR]], for tables
    * WITHOUT a unique key (Iceberg position deletes / Delta deletion
    * vectors, built from first principles on the manifest layer): a
    * predicate DELETE commits a SIDECAR of (file, pos) ordinal rows —
    * the row's physical position within its data file, from the scan's
    * `_metadata.row_index` — leaving every data file byte-identical.
    * Readers ([[readSnapshot]]'s subset engine) mask by ordinal;
    * [[snapshotCompact]] folds both sidecar kinds into clean files.
    *
    * The predicate evaluates over the CURRENT LOGICAL content (existing
    * equality AND position sidecars already applied), so already-deleted
    * rows never re-enter the sidecar, and it composes with any prior
    * delete. Re-insert semantics are exact: a later append of an equal
    * row lands in a NEW file, which no (file, pos) entry addresses.
    *
    * 100 TB: the write side is ONE predicate SCAN (filter pushed to
    * parquet; O(matched rows) output) and ZERO data-file writes —
    * where the COW path rewrites every touched file, this commits
    * O(matched) metadata, which is what makes a low-selectivity
    * predicate DELETE on a petabyte table an SLA of minutes. The scan
    * runs exactly once: the matched ordinals are pinned ([[Pin]] cuts
    * lineage eagerly), so the emptiness check and the sidecar write
    * both read the pinned blocks instead of re-evaluating the
    * predicate over the table. The sidecar itself SHARDS: above
    * `spark.graft.posdelete.rowsPerFile` (default 4 M ordinal rows per
    * file) the write range-partitions on (file, pos) into
    * ceil(matched / threshold) parallel tasks — a broad predicate on a
    * big table no longer funnels O(matched) rows through one task, and
    * the (file, pos)-clustered, sorted layout keeps each data file's
    * mask contiguous for the reader ([[readSnapshotSubset]] reads all
    * sidecar parts as one frame, so shard count is invisible to
    * semantics). Read-side debt is the ordinal anti-join, bounded by
    * compaction cadence like the equality kind. No `deleteKey`
    * declaration is needed — ordinals are the key. Returns the
    * committed version.
    */
  def snapshotDeletePositions(spark: org.apache.spark.sql.SparkSession,
      root: String, predicate: Column): Int = {
    val vs = snapshotVersions(spark, root)
    require(vs.nonEmpty, s"no snapshots at $root")
    val base = vs.last
    val hdr = manifestHeader(spark, root, base)
    // pin = the single evaluation of the predicate scan; every later
    // action (per-file count, write) reads the materialized blocks
    val matched = Pin(readSnapshotSubset(spark, root, base, hdr, _ => true,
      lineage = true)
      .filter(predicate)
      .select(col("__graft_file").as("file"), col("__graft_pos").as("pos")))
    // counting per file costs the job a plain count would and yields the
    // sidecar's scope, so readers split dirty files with no job
    val perFile = matched.groupBy(col("file")).count().collect()
    val nMatched = perFile.map(_.getLong(1)).sum
    val v = base + 1
    val carried = carriedStateOf(spark, root, Some(base))
    val hdrOut = carried.props ++ schemaHeaderOf(carried.schema)
    if (nMatched == 0) {
      // nothing matched: still commit — one version per request (audit
      // trail), same contract as the equality form
      commitManifest(spark, root, v, carried.segs, carried.inline,
        header = hdrOut, deletes = carried.deletes)
      return v
    }
    // the pos- prefix IS the sidecar-kind marker (see [[isPosSidecar]])
    val delDir = s"$root/deletes/pos-v$v-" +
      java.util.UUID.randomUUID().toString.take(8)
    val rowsPerFile = spark.conf
      .get("spark.graft.posdelete.rowsPerFile", "4000000").toLong
    val nShards = math.max(1L, (nMatched + rowsPerFile - 1) / rowsPerFile)
    val out =
      if (nShards == 1L) matched.coalesce(1)
      else matched.repartitionByRange(nShards.toInt, col("file"), col("pos"))
    out.sortWithinPartitions(col("file"), col("pos"))
      .write.mode("error").parquet(delDir)
    val scope = perFile.map(_.getString(0)).toSet
    commitManifest(spark, root, v, carried.segs, carried.inline,
      header = hdrOut, deletes = carried.deletes ++
        listDataFiles(spark, delDir).map(deleteRef(_, scope)))
    v
  }

  /** Per-file key ranges of a snapshot version — the pruning metadata a
    * COW merge / MOR delete / external planner consumes: manifest stats
    * when the table declares `keyCol` as its stats column (zero parquet
    * I/O), footer fallback otherwise.
    */
  def snapshotKeyRanges(spark: org.apache.spark.sql.SparkSession,
      root: String, version: Int, keyCol: String): Seq[(String, Long, Long)] =
    keyRangesOfEntries(spark, manifestEntries(spark, root, version), keyCol)

  /** Per-file key ranges for pruning: MANIFEST STATS when the table's
    * declared stats column is `keyCol` (zero parquet I/O — the payoff of
    * recording stats at commit), parquet-footer fallback for entries
    * without stats (stat-less tables, pre-stats commits) — and that
    * fallback is [[fileStatsOf]]'s distributed job, never a serial
    * driver loop past 32 files. Mixed tables split per entry.
    */
  private def keyRangesOfEntries(spark: org.apache.spark.sql.SparkSession,
      entries: Seq[FileEntry],
      keyCol: String): Seq[(String, Long, Long)] = {
    val (have, missing) = entries.partition(
      _.stats.exists(_.cols.contains(keyCol)))
    have.map { e =>
      val (mn, mx) = e.stats.get.cols(keyCol)
      (e.path, mn, mx)
    } ++ fileKeyRangesOf(spark, missing.map(_.path), keyCol)
  }

  /** ST29: IDEMPOTENT epoch-keyed append — the snapshot layer as an
    * EXACTLY-ONCE STREAMING TABLE SINK (what a table format's streaming
    * writer is): micro-batch epoch N commits version N+1; the manifest
    * test makes replays no-ops. Crash anywhere:
    *  - before the data write finishes → replay overwrites `data/e=N`
    *    (mode overwrite) and commits — no torn data is ever referenced,
    *    because nothing references a file until its manifest commits;
    *  - between data write and commit → same: replay rewrites
    *    byte-equivalent data and commits once;
    *  - after the commit → the manifest for version N+1 exists and the
    *    replay returns without touching anything.
    * Readers meanwhile see only committed versions — a half-written
    * epoch is invisible (snapshot isolation doing the exactly-once
    * work; no sink-side transaction log needed beyond the manifests).
    * Returns the committed version.
    */
  def snapshotAppendIdempotent(spark: org.apache.spark.sql.SparkSession,
      root: String, df: DataFrame, epoch: Long,
      writerId: String = "default"): Int = {
    val v = epoch.toInt + 1
    val fs = fsOf(spark, root)
    val manifest = new org.apache.hadoop.fs.Path(msDir(root), s"v$v.manifest")
    if (fs.exists(manifest)) {
      // Replay detection must key on (writer, epoch), not the version
      // number alone: a DIFFERENT stream (fresh checkpoint, restarted
      // epoch counter) colliding with a committed version is carrying NEW
      // data, and treating it as a replay would silently discard it.
      val owner = manifestHeader(spark, root, v).getOrElse("writer", "default")
      if (owner != writerId)
        throw new IllegalStateException(
          s"v$v was committed by writer '$owner'; this stream ('$writerId') " +
            "restarted its epoch counter against an existing table — refusing " +
            "to silently drop its batch")
      return v // genuine replay by the same writer: already committed
    }
    val prev = snapshotVersions(spark, root).filter(_ < v).lastOption
    require(prev.getOrElse(0) == v - 1,
      s"epoch $epoch commits v$v but the latest committed version is ${prev.getOrElse(0)}")
    commitEpochBatch(spark, root, df, epoch, writerId, prev,
      s"$root/data/e=$epoch", statsKey = None)
  }

  /** The epoch batch commit of both streaming appends: `df`'s files
    * under `dataDir`, committed at `prev` + 1 with the (writer, epoch)
    * header their replay checks read.
    */
  private def commitEpochBatch(spark: org.apache.spark.sql.SparkSession,
      root: String, df: DataFrame, epoch: Long, writerId: String,
      prev: Option[Int], dataDir: String, statsKey: Option[String]): Int = {
    val v = prev.getOrElse(0) + 1
    val hdr0 = prev.map(manifestHeader(spark, root, _))
      .getOrElse(Map.empty[String, String])
    enforceConstraints(carriedProps(hdr0), df, s"epoch $epoch append")
    // declared-layout carry (appendInternal's rule): a table that
    // declared partCol value-localizes streaming batches too, so files
    // stay prunable/SPJ-eligible without a separate maintenance pass
    val dfE = hdr0.get("partCol") match {
      case Some(pc) if df.columns.contains(pc) => df.repartition(col(pc))
      case _ => df
    }
    toPhysicalFrame(dfE, hdr0).write.mode("overwrite").parquet(dataDir)
    val carried = carriedStateOf(spark, root, prev)
    // the FIRST commit may declare the stats column (carried thereafter,
    // exactly like snapshotAppend's statsKey); an existing declaration
    // must not be contradicted
    for (sk <- statsKey; declared <- carried.props.get("statsKey"))
      require(declared == sk,
        s"table at $root already declares statsKey=$declared (asked: $sk)")
    val props = carried.props ++
      (if (prev.isEmpty) statsKey.map("statsKey" -> _) else None)
    val schema =
      if (prev.isEmpty) mergeSchemas(None, df.schema)
      else carried.schema.flatMap(ps => mergeSchemas(Some(ps), df.schema))
    commitManifest(spark, root, v, carried.segs,
      carried.inline ++
        entriesForNewFiles(spark, listDataFiles(spark, dataDir), props),
      props ++ schemaHeaderOf(schema) ++
        Map("writer" -> writerId, "epoch" -> epoch.toString),
      deletes = carried.deletes,
      // ownership lets a crash between claim and rename REPLAY instead
      // of deadlocking the stream on its own stale claim (ST29 contract)
      claimOwner = Some(writerId))
    v
  }

  /** [[snapshotAppendIdempotent]] WITHOUT the version = epoch+1 pin —
    * the streaming-sink commit that TOLERATES interleaved non-stream
    * commits (a [[snapshotMaintain]] compaction between triggers,
    * another writer's append): replay detection keys on the
    * (writer, epoch) HEADERS, resolved by scanning back from the head
    * for this writer's most recent commit, and a fresh epoch commits at
    * head+1 whatever the head is.
    *
    * Exactly-once argument, restated for the relaxed contract: engine
    * epochs per checkpoint are strictly increasing, so "this writer's
    * latest committed epoch ≥ e" ⇔ "epoch e already landed" — a replay
    * returns that version and writes nothing. The scan is O(commits
    * since this writer's last one) manifest header reads — O(1)
    * amortized for a live stream, never O(table).
    *
    * The wiped-checkpoint guard keeps its teeth in the new shape: a
    * fresh checkpoint mints a fresh writer id ([[streamWriterToken]]),
    * and a writer with NO commit history targeting a NON-EMPTY table
    * refuses loudly unless `appendToExisting` — otherwise an rm-rf'd
    * checkpoint would silently re-ingest its whole feed as duplicates.
    * Set `appendToExisting = true` for the legitimate version of the
    * same situation: deliberately pointing a NEW stream at an existing
    * table.
    */
  def snapshotAppendEpoch(spark: org.apache.spark.sql.SparkSession,
      root: String, df: DataFrame, epoch: Long, writerId: String,
      appendToExisting: Boolean = false,
      statsKey: Option[String] = None): Int = {
    val vs = snapshotVersions(spark, root)
    val mine = vs.reverse.iterator
      .map(v => v -> manifestHeader(spark, root, v))
      .find(_._2.get("writer").contains(writerId))
    mine match {
      case Some((v, hdr)) =>
        val lastEpoch = hdr.get("epoch").map(_.toLong).getOrElse(-1L)
        if (lastEpoch == epoch) return v // replay of the last batch
        if (lastEpoch > epoch)
          // deeper replays only happen when the engine re-runs an epoch
          // it already moved past — resolve the exact committed version
          return vs.reverse.iterator
            .map(w => w -> manifestHeader(spark, root, w))
            .collectFirst { case (w, h)
                if h.get("writer").contains(writerId) &&
                  h.get("epoch").map(_.toLong).contains(epoch) => w }
            .getOrElse(throw new IllegalStateException(
              s"writer '$writerId' is past epoch $epoch but no manifest " +
                "records it — was that version vacuumed? cannot prove " +
                "the replay idempotent"))
      case None =>
        if (vs.nonEmpty && !appendToExisting)
          throw new IllegalStateException(
            s"writer '$writerId' has no commits at $root but the table " +
              s"has ${vs.size} versions — a wiped checkpoint would " +
              "re-ingest its feed as duplicates. Pass appendToExisting " +
              "= true (sink option) if this NEW stream is deliberately " +
              "targeting the existing table.")
    }
    commitEpochBatch(spark, root, df, epoch, writerId, vs.lastOption,
      s"$root/data/w=${sanitize(writerId)}-e=$epoch", statsKey)
  }

  private def sanitize(s: String): String =
    s.replaceAll("[^A-Za-z0-9_.-]", "_")

  /** The streaming driver for [[snapshotAppendIdempotent]]: a file-source
    * stream lands as a manifest-versioned table, one version per
    * micro-batch.
    */
  /** Read-or-create the per-run writer token INSIDE the checkpoint dir:
    * a genuine restart (checkpoint intact ⇒ epochs really replay) reads
    * the same token; a WIPED checkpoint loses the token with the epochs,
    * so the fresh run mints a new id and epoch collisions against the
    * existing table fail loudly instead of masquerading as replays.
    * (Keying on the checkpoint PATH alone would be defeated by exactly
    * the rm-rf-and-restart case this exists for.)
    */
  private def writerToken(spark: org.apache.spark.sql.SparkSession,
      ckptDir: String): String = {
    val fs = fsOf(spark, ckptDir)
    val p = new org.apache.hadoop.fs.Path(ckptDir, "graft-writer-id")
    if (fs.exists(p)) {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
    } else {
      fs.mkdirs(new org.apache.hadoop.fs.Path(ckptDir))
      val id = java.util.UUID.randomUUID().toString
      val out = fs.create(p, false)
      try out.write(id.getBytes("UTF-8")) finally out.close()
      id
    }
  }

  /** The checkpoint-scoped writer token, public for the engine-native
    * sink ([[graft.streaming.SnapshotSink]]) — same lifetime argument
    * as the foreachBatch driver below.
    */
  def streamWriterToken(spark: org.apache.spark.sql.SparkSession,
      ckptDir: String): String = writerToken(spark, ckptDir)

  def streamingSnapshotSink(spark: org.apache.spark.sql.SparkSession,
      inDir: String, schema: org.apache.spark.sql.types.StructType,
      root: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val wid = writerToken(spark, s"$root/ckpt")
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        snapshotAppendIdempotent(spark, root, batch, epoch,
          writerId = wid)
        ()
      }
      .option("checkpointLocation", s"$root/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
  }

  /** OP-TYPED CHANGE FEED — the one per-transition diff of the table
    * layer, in Delta CDF's `_change_type` shape: every row the
    * `from → to` transition ADDED tagged `insert`, every row it REMOVED
    * tagged `delete` — and, across a COW rewrite whose commit stamped a
    * `cdcKey` header (every [[snapshotMergeKeys]] does), a key-matched
    * changed row surfaces as the `update_preimage`/`update_postimage`
    * PAIR instead, exactly Delta CDF's typing. Multiset-exact either
    * way: {insert, update_postimage} minus {delete, update_preimage}
    * IS the version diff — replaying consumers must treat the two
    * addition types (and the two retraction types) together; the
    * untyped delta is the addition side ([[changeInserts]]).
    *
    * Priced by lineage:
    *  - APPEND (every `from` file still referenced, sidecars unchanged —
    *    files are immutable once referenced, so set inclusion is exact
    *    evidence the old rows are untouched): inserts only, read from
    *    ONLY the files `to` added — zero bytes of `from` scanned;
    *  - MOR delete: deletes only, O(scoped files) ([[morOnlyDeletes]]);
    *  - cdcKey COW rewrite: O(rewritten + added files)
    *    ([[cowTypedChanges]]);
    *  - anything else (compaction, INSERT OVERWRITE): the two-scan
    *    row-level diff, correct for every history.
    * `from` 0 means "since before the table existed": all of `to` is
    * inserts.
    */
  def snapshotChanges(spark: org.apache.spark.sql.SparkSession, root: String,
      fromVersion: Int, toVersion: Int): DataFrame = {
    require(fromVersion < toVersion, s"changes need from < to")
    def typed(df: DataFrame, t: String) = df.withColumn("_change_type", lit(t))
    if (fromVersion == 0)
      typed(readSnapshot(spark, root, toVersion), "insert")
    else if (snapshotAppendLineage(spark, root, fromVersion, toVersion)) {
      val fromFiles = manifestFiles(spark, root, fromVersion).toSet
      typed(readFilesLogical(spark, root, toVersion, e => !fromFiles(e.path))
        .drop("__graft_file"), "insert")
    } else morOnlyDeletes(spark, root, fromVersion, toVersion) match {
      case Some(dels) => typed(dels, "delete")
      case None =>
        cowTypedChanges(spark, root, fromVersion, toVersion).getOrElse {
          def minus(a: Int, b: Int) =
            readSnapshot(spark, root, a).exceptAll(readSnapshot(spark, root, b))
          typed(minus(toVersion, fromVersion), "insert").unionByName(
            typed(minus(fromVersion, toVersion), "delete"),
            allowMissingColumns = true)
        }
    }
  }

  /** The INSERT SIDE of a change feed: its {insert, update_postimage}
    * rows without `_change_type` — the untyped delta "rows in `to`, not
    * in `from`", as a multiset `readSnapshot(to) exceptAll
    * readSnapshot(from)` on every lineage. Each branch of
    * [[snapshotChanges]] stamps its type as a literal, so the optimizer
    * prunes the retraction branches before anything runs: an append's
    * insert side reads only the added files, a MOR delete's reads none.
    */
  def changeInserts(changes: DataFrame): DataFrame = changes
    .where(col("_change_type").isin("insert", "update_postimage"))
    .drop("_change_type")

  /** The files of version `v` that `keep` selects, read as `v`'s LOGICAL
    * frame with no delete sidecar applied, plus each row's file base
    * name in `__graft_file` — the one raw read under the change feed's
    * fast paths (an append's added files, a COW rewrite's removed and
    * added files, an equality delete's scoped files). Typed from the
    * manifest like every snapshot read, so a feed crossing a RENAME
    * speaks the logical names, never the physical ones files store.
    */
  private def readFilesLogical(spark: org.apache.spark.sql.SparkSession,
      root: String, v: Int, keep: FileEntry => Boolean): DataFrame = {
    val hdr = manifestHeader(spark, root, v)
    val kept = manifestEntries(spark, root, v).filter(keep)
    if (kept.isEmpty)
      return readSnapshotSubset(spark, root, v, hdr, _ => false)
        .withColumn("__graft_file", lit(null).cast("string"))
    val raw = manifestRelation(spark, root, kept, hdr)._1
      .withColumn("__graft_file", col("_metadata.file_name"))
    manifestSchemaOf(hdr) match {
      case Some(sc) => toLogicalFrame(raw, hdr, sc, Seq("__graft_file"))
      case None => raw
    }
  }

  /** TYPED UPDATES ACROSS A COW REWRITE — the change feed's merge fast
    * path: when the `to` version's commit stamped a `cdcKey` (the merge
    * key — [[snapshotMergeKeys]] records it, EPHEMERAL like `mvBase`:
    * carried by no later commit, so it asserts only the transition that
    * produced it), the row diff is derivable from the REWRITTEN files
    * alone — carried files are byte-identical on both sides and cancel
    * out of any multiset diff, so reading them would be pure waste.
    * Cost O(removed + added files), not two full scans: a MERGE
    * touching 0.1% of a 100 TB table prices its CDC at the touched
    * gigabytes.
    *
    * Typing: after cancelling rows the rewrite carried UNCHANGED
    * (pre ∩ post multiset), a key with EXACTLY ONE changed row on each
    * side is an update — its old row tags `update_preimage`, its new
    * row `update_postimage` (what downstream mirrors and CDC-capable
    * view maintainers key on). Any other multiplicity (dup keys, true
    * inserts, true deletes) degrades honestly to `insert`/`delete` —
    * the typing never guesses a pairing, and null keys never pair
    * (join semantics drop them to the degraded path by construction).
    *
    * None (caller falls back to the two-scan diff) when: no cdcKey on
    * `to`; delete sidecars on either end (raw file reads would
    * resurrect MOR-deleted rows); lineage isn't a rewrite (nothing
    * removed or nothing added); the key vanished; or the logical
    * schemas diverged across the span (a rename/evolution makes the
    * positional diff unsound).
    */
  private def cowTypedChanges(spark: org.apache.spark.sql.SparkSession,
      root: String, fromVersion: Int, toVersion: Int): Option[DataFrame] = {
    val key = manifestHeader(spark, root, toVersion).getOrElse("cdcKey",
      return None)
    if (manifestDeleteFiles(spark, root, fromVersion).nonEmpty ||
        manifestDeleteFiles(spark, root, toVersion).nonEmpty) return None
    val fromFiles = manifestFiles(spark, root, fromVersion).toSet
    val toFiles = manifestFiles(spark, root, toVersion).toSet
    val removed = fromFiles -- toFiles
    val added = toFiles -- fromFiles
    if (removed.isEmpty || added.isEmpty) return None
    val pre = readFilesLogical(spark, root, fromVersion, e => removed(e.path))
      .drop("__graft_file")
    val post = readFilesLogical(spark, root, toVersion, e => added(e.path))
      .drop("__graft_file")
    // schema divergence across the span must compare TYPES, not just
    // names: a type evolution with the same column names would make the
    // exceptAll below throw instead of degrading to the two-scan diff
    val preTypes = pre.schema.fields
      .map(f => f.name -> asNullable(f.dataType)).toMap
    val typesAligned = post.schema.fields.forall(f =>
      preTypes.get(f.name).contains(asNullable(f.dataType)))
    if (pre.columns.toSet != post.columns.toSet || !typesAligned ||
        !post.columns.contains(key)) return None
    // belt and braces under the type guard above: any residual analysis
    // incompatibility between the two sides (foreign-writer evolution
    // the guard's normalization didn't anticipate) must degrade to the
    // documented two-scan fallback, never throw — construction resolves
    // eagerly, so a Try here catches exactly the analysis phase
    scala.util.Try {
      val preA = pre.select(post.columns.toSeq.map(col): _*)
      // carried-unchanged rows inside rewritten files cancel here — only
      // genuinely changed rows survive to be typed (exchange reuse keeps
      // the repeated subplans below single-computed)
      val preD = preA.exceptAll(post)
      val postD = post.exceptAll(preA)
      val one = (df: DataFrame) => df.groupBy(col(key)).count()
        .where(col("count") === 1).select(col(key))
      val updKeys = one(preD).join(one(postD), Seq(key), "inner")
      val ct = "_change_type"
      postD.join(updKeys, Seq(key), "left_semi")
        .withColumn(ct, lit("update_postimage"))
        .unionByName(preD.join(updKeys, Seq(key), "left_semi")
          .withColumn(ct, lit("update_preimage")))
        .unionByName(postD.join(updKeys, Seq(key), "left_anti")
          .withColumn(ct, lit("insert")))
        .unionByName(preD.join(updKeys, Seq(key), "left_anti")
          .withColumn(ct, lit("delete")))
    }.toOption
  }

  /** The CDC FAST PATH for a merge-on-read delete transition: when
    * `from → to` changed NO data file and only GREW the sidecar set,
    * the exact retracted multiset is derivable from the new sidecar
    * entries alone — read ONLY the files the new entries scope, keep
    * rows matching a new (file, key) pair, drop rows an OLD entry had
    * already deleted (they were not in `from`'s logical content). Cost
    * O(scoped files), not the two full scans of the row-level diff —
    * at 100 TB this is what makes a deletion's downstream propagation
    * (CDC consumers, maintained views) minutes instead of a rescan.
    * None when the lineage is not MOR-only (caller falls back).
    */
  private def morOnlyDeletes(spark: org.apache.spark.sql.SparkSession,
      root: String, fromVersion: Int, toVersion: Int): Option[DataFrame] = {
    val fromFiles = manifestFiles(spark, root, fromVersion).toSet
    val fromDel = manifestDeleteFiles(spark, root, fromVersion).toSet
    val toDel = manifestDeleteFiles(spark, root, toVersion).toSet
    if (fromFiles != manifestFiles(spark, root, toVersion).toSet ||
        !fromDel.subsetOf(toDel) || fromDel == toDel) return None
    // POSITION-sidecar growth has its own exact fast path: the retracted
    // multiset is `from`'s logical content AT the new ordinals — one
    // lineage read of only the scoped files, semi-joined on (file, pos).
    // `from`'s masks already applied means previously-deleted rows never
    // re-retract. Mixed new-kind commits (eq + pos in one span) fall
    // back (no committer writes both kinds in one commit today).
    val newDels = (toDel -- fromDel).toSeq
    // the new sidecars' scopes, as their `delete:` lines record them
    lazy val newScope = deleteScopeOf(spark, manifestDeleteRefs(spark, root,
      toVersion).filterNot(r => fromDel(deleteRefPath(r))))
    if (newDels.forall(isPosSidecar)) {
      val hdrFrom = manifestHeader(spark, root, fromVersion)
      val newSide = readSidecars(spark, newDels)
        .select(col("file").as("__graft_nf"), col("pos").as("__graft_np"))
      val retracted = readSnapshotSubset(spark, root, fromVersion, hdrFrom,
        e => newScope.contains(baseName(e.path)), lineage = true)
        .join(newSide,
          col("__graft_file") === col("__graft_nf") &&
            col("__graft_pos") === col("__graft_np"), "left_semi")
        .drop("__graft_file", "__graft_pos")
      return Some(retracted)
    }
    if (newDels.exists(isPosSidecar)) return None
    // equality-sidecar growth below: old POS sidecars (already applied
    // in `from`) still mask via the old-side anti-join requirement —
    // but the (file, key) old-side read can't parse them, so a mixed
    // HISTORY also falls back to the generic diff
    if (fromDel.exists(isPosSidecar)) return None
    val keyCol = manifestHeader(spark, root, toVersion).getOrElse("deleteKey",
      return None)
    val newSide = readSidecars(spark, newDels)
      .select(col("file").as("__graft_nf"), col("key").as("__graft_nk"))
    val rows = readFilesLogical(spark, root, toVersion,
      e => newScope.contains(baseName(e.path)))
    val newlyDead = rows.join(broadcast(newSide),
        rows("__graft_file") === col("__graft_nf") &&
          rows(keyCol) === col("__graft_nk"), "left_semi")
    val out =
      if (fromDel.isEmpty) newlyDead
      else {
        val oldSide = readSidecars(spark, fromDel.toSeq)
          .select(col("file").as("__graft_of"), col("key").as("__graft_ok"))
        newlyDead.join(broadcast(oldSide),
          newlyDead("__graft_file") === col("__graft_of") &&
            newlyDead(keyCol) === col("__graft_ok"), "left_anti")
      }
    Some(out.drop("__graft_file"))
  }

  /** OPTIMIZE on the versioned table: read the latest version through
    * its manifest, bin-pack (and optionally re-cluster) it, publish the
    * result as a NEW version. The pre-compaction version stays
    * time-travelable until vacuum — the maintenance job never blocks or
    * breaks readers, which is exactly why table formats express OPTIMIZE
    * as a snapshot commit rather than an in-place rewrite. Streaming
    * sinks and fine-grained ingests leave thousands of KB-scale files;
    * at 100 TB a scan pays one open per tiny file, so compaction is the
    * standing maintenance job every table format schedules.
    *
    * Three modes:
    *  - plain: ZERO-SHUFFLE — the scan itself is the bin-packer. Spark's
    *    file source first-fit-packs whole small files into read splits of
    *    up to `spark.sql.files.maxPartitionBytes`; setting that to
    *    `targetBytes` (and the open-cost padding to 0) in a CLONED
    *    session makes each read task a ~targetBytes bin, and the write
    *    emits one file per task.
    *  - `clusterBy`: `repartitionByRange(n, cols) + sortWithinPartitions`,
    *    n = ⌈table bytes / targetBytes⌉ — one range shuffle that
    *    re-establishes non-overlapping per-file key ranges, so stats
    *    pruning works again after appends interleaved them.
    *  - `zOrderBy` (`OPTIMIZE ZORDER BY`): scale each column to
    *    [0, 2^zBits) by monotone binning (one agg pass, broadcast as
    *    literals), interleave the bits into a Morton z-value, and
    *    range-partition + sort by it. Every file then covers a small
    *    hyper-rectangle, so stats skip files for predicates on ANY
    *    z column — a lexicographic sort only skips on its leading one.
    *    Linear binning (default) is (c−mn)·2^bits / range, switching to
    *    doubles when the multiply would overflow Long (monotone; a clamp
    *    absorbs the last-ulp edge). `zQuantile` bins by rank among
    *    ≤2^bits−1 approx-percentile boundaries instead: under a Zipf/
    *    outlier domain one extreme value stretches the linear range so
    *    every other row lands in bin 0 and that dimension prunes
    *    NOTHING, while equal-population bins keep every file on a narrow
    *    slice. Quantile mode caps at 10 bits (O(2^bits) comparisons per
    *    row).
    * Sizing (the clusterBy and zOrderBy modes) reads the real file
    * lengths, so compression-ratio drift cancels out. Returns the
    * committed version.
    */
  def snapshotCompact(spark: org.apache.spark.sql.SparkSession, root: String,
      targetBytes: Long, clusterBy: Seq[Column] = Nil,
      zOrderBy: Seq[Column] = Nil, zBits: Int = 16,
      zQuantile: Boolean = false): Int =
    compactWithLengths(spark, root, targetBytes, clusterBy, zOrderBy, zBits,
      zQuantile, Map.empty)

  /** [[snapshotCompact]] given the file lengths its caller already
    * stat-ed (path → bytes); files missing from `lengths` are stat-ed
    * here, and only when a mode sizes its output.
    */
  private def compactWithLengths(spark: org.apache.spark.sql.SparkSession,
      root: String, targetBytes: Long, clusterBy: Seq[Column],
      zOrderBy: Seq[Column], zBits: Int, zQuantile: Boolean,
      lengths: Map[String, Long]): Int = {
    require(clusterBy.isEmpty || zOrderBy.isEmpty,
      "clusterBy (lexicographic) and zOrderBy (interleaved) are exclusive")
    val vs = snapshotVersions(spark, root)
    require(vs.nonEmpty, s"no snapshots at $root")
    val base = vs.last
    lazy val bytes = manifestFiles(spark, root, base)
      .map(f => lengths.getOrElse(f, fsOf(spark, root)
        .getFileStatus(new org.apache.hadoop.fs.Path(f)).getLen)).sum
    val packed =
      if (zOrderBy.nonEmpty) {
        // Z-ORDER mode (Delta's OPTIMIZE ZORDER BY): interleave the
        // dimensions' bits so every file's manifest range is tight on
        // EVERY z column — a lexicographic sort prunes only its leading
        // column; the z-curve is what makes a two-dimensional slice
        // (key range × cust range) skip files on either predicate alone
        val n = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
        val df = readSnapshot(spark, root, base)
        val bits = if (zQuantile) math.min(zBits, 10) else zBits
        val scaled = if (zQuantile) quantileBins(df, zOrderBy, bits)
                     else linearBins(df, zOrderBy, bits)
        df.withColumn("__graft_zv", zvalue(bits, scaled: _*))
          .repartitionByRange(n, col("__graft_zv"))
          .sortWithinPartitions(col("__graft_zv"))
          .drop("__graft_zv")
      } else if (clusterBy.isEmpty) {
        // plain mode = zero-shuffle bin-packing: a CLONED session (same
        // SparkContext, separate SQLConf — a concurrent query on the
        // caller's session keeps its own split geometry) sizes read
        // splits to targetBytes so the scan itself packs small files and
        // the write emits ~one file per split
        val scoped = spark.newSession()
        scoped.conf.set("spark.sql.files.maxPartitionBytes", targetBytes.toString)
        scoped.conf.set("spark.sql.files.openCostInBytes", "0")
        readSnapshot(scoped, root, base)
      } else {
        val n = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
        readSnapshot(spark, root, base).repartitionByRange(n, clusterBy: _*)
          .sortWithinPartitions(clusterBy: _*)
      }
    // OPTIMISTIC CONCURRENCY with LOGICAL RESOLUTION: commit exactly
    // base+1; if a writer interleaved, losing the claim is only a real
    // conflict when its changes overlap what the repack read.
    // Compaction is content-preserving, so ANY pure append commutes:
    // rebase carries the appended entries verbatim next to the packed
    // files (they simply stay un-packed until the next cycle) and
    // recommits the SAME packed data — zero data I/O. This is the
    // maintenance-vs-writer race every standing snapshotMaintain cycle
    // hits; only overwrite-class interleavings (removed files, sidecar/
    // mapping/property/schema changes) surface the typed conflict.
    // statsKey/partCol survive the compaction (stats recomputed for the
    // packed files); deleteKey is dropped — the sidecar debt is folded
    // in. colmap/tombstones clear too: the FULL rewrite above read the
    // LOGICAL frame, so the packed files' physical names ARE the logical
    // names — compaction is the mapping-debt escape hatch (frees dropped
    // names for reuse).
    val hdr = manifestHeader(spark, root, base)
    val props = carriedProps(hdr) - "deleteKey" - "colmap" - "tombstones"
    val packedEntries = stageEntries(spark, root, base + 1, packed, props)
    commitRebasing(spark, root, base, "OPTIMIZE/compaction") { (cur, added) =>
      // compaction preserves content, so the base's recorded schema (if
      // any) carries verbatim
      Commit(Nil, packedEntries ++ added,
        props ++ schemaHeaderOf(manifestSchema(spark, root, cur)))
    } { (cur, head) =>
      // the packed commit CLEARS colmap/tombstones; appended files
      // written UNDER a live mapping carry physical names that would
      // then read wrong — only a mapping-free base may carry them
      // verbatim (every base shares `hdr`'s mapping: a change conflicts)
      appendOnlyDiff(spark, root, cur, head).filterOrElse(
        _ => colMapOf(hdr).isEmpty && tombstonesOf(hdr).isEmpty,
        "concurrent appends interleaved while this compaction was " +
          "folding column-mapping debt; carrying them verbatim would " +
          "strand their physical column names")
    }
  }

  /** THE VERSION WALK under every change-feed consumer: `(v, changes)`
    * for each committed version `v` in `(since, head]`, oldest first,
    * each the [[snapshotChanges]] from the previous committed version
    * (`since` for the first; 0 = "from the beginning", so the first
    * version arrives whole as inserts). Every transition is priced by
    * its OWN lineage, so a span mixing appends and merges never
    * collapses to the endpoint two-scan diff.
    *
    * CAPPED AT `head`, never "whatever is committed by now": a
    * maintainer reads head, then the feed — a commit landing between
    * the two reads would otherwise ride into this advance while the
    * view is stamped with the OLDER head, and the next advance
    * re-applies it (double-count). The CDF-stream spec (ST34)
    * reproduces exactly that interleaving.
    */
  private[graft] def snapshotChangesWalk(
      spark: org.apache.spark.sql.SparkSession, root: String, since: Int,
      head: Int): Seq[(Int, DataFrame)] = {
    val vs = snapshotVersions(spark, root).filter(v => v > since && v <= head)
    vs.zip(since +: vs).map { case (v, prev) =>
      v -> snapshotChanges(spark, root, prev, v) }
  }

  /** The op-typed change feed over `(since, head]` as one frame — the
    * [[snapshotChangesWalk]] unioned, the input of every CDF-driven
    * maintainer ([[changeInserts]] of it for the append-only ones).
    * Telescoping makes it exact: Σ (vᵢ₊₁ − vᵢ) as a signed multiset IS
    * v_head − v_since. `allowMissingColumns`: additive schema evolution
    * can widen the base mid-span, leaving consecutive transitions with
    * different column sets; consumers see the widened schema with
    * nulls, exactly like [[readSnapshot]] does. Empty when nothing
    * advanced (schema'd off the head).
    */
  def snapshotChangesUnion(spark: org.apache.spark.sql.SparkSession,
      root: String, since: Int, head: Int): DataFrame =
    snapshotChangesWalk(spark, root, since, head).map(_._2)
      .reduceOption(_.unionByName(_, allowMissingColumns = true))
      .getOrElse(readSnapshot(spark, root, head).where(lit(false))
        .withColumn("_change_type", lit("insert")))

  /** Frames of one change-feed walk unioned by name and projected to
    * `schema`: a column the span lacks (additive evolution widens later
    * transitions) reads as null, and an empty span is an empty frame.
    */
  private[graft] def unionToSchema(spark: org.apache.spark.sql.SparkSession,
      frames: Seq[DataFrame],
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val unioned = frames.reduceOption(_.unionByName(_, allowMissingColumns = true))
      .getOrElse(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema))
    unioned.select(schema.fields.toIndexedSeq.map { f =>
      (if (unioned.columns.contains(f.name)) col(s"`${f.name}`") else lit(null))
        .cast(f.dataType).as(f.name)
    }: _*)
  }

  /** The base version a single-base maintained view reflects
    * ([[viewProcessedHeads]]): no Spark job when its head has `mvBase`.
    */
  def viewProcessedVersion(spark: org.apache.spark.sql.SparkSession,
      viewRoot: String): Int =
    viewProcessedHeads(spark, viewRoot, Seq("base_version")).head

  /** The base heads a maintained view reflects, in its maintainer's
    * base order: the view head's `mvBase` header, a comma list of heads
    * read from the manifest alone (a single base reads `mvBase=7`). The
    * header is EPHEMERAL, so only a maintainer's own commit asserts it; a
    * head without it (committed before the header, or by any other
    * overwrite) takes the max of each base's `stamps` column in one
    * aggregate. 0 per base for an empty view.
    */
  private def viewProcessedHeads(spark: org.apache.spark.sql.SparkSession,
      viewRoot: String, stamps: Seq[String]): Seq[Int] = {
    val vs = snapshotVersions(spark, viewRoot)
    if (vs.isEmpty) stamps.map(_ => 0)
    else manifestHeader(spark, viewRoot, vs.last).get("mvBase")
      .flatMap(s => scala.util.Try(s.split(",").toSeq.map(_.toInt)).toOption)
      .filter(_.size == stamps.size)
      .getOrElse {
        val r = readSnapshot(spark, viewRoot)
          .agg(max(col(stamps.head)), stamps.tail.map(c => max(col(c))): _*)
          .head()
        stamps.indices.map(i => if (r.isNullAt(i)) 0 else r.getInt(i))
      }
  }

  /** LOGICAL CONFLICT ANALYSIS for read-dependent committers: what did
    * the commits interleaved between `base` and `head` change? Returns
    * `Right(addedEntries)` when EVERY interleaved effect is a pure
    * append — no file removed or rewritten, delete sidecars unchanged,
    * column mapping unchanged, carried table properties (constraints
    * included) unchanged, recorded schema unchanged — i.e. the only
    * delta is new files, which a merge/compaction can carry through a
    * rebase. Returns `Left(why)` naming the first overlapping change
    * otherwise (the caller surfaces it as
    * [[ConcurrentWriteConflictException]]). O(two manifests) metadata.
    */
  private def appendOnlyDiff(spark: org.apache.spark.sql.SparkSession,
      root: String, base: Int, head: Int): Either[String, Seq[FileEntry]] = {
    val hdrB = manifestHeader(spark, root, base)
    val hdrH = manifestHeader(spark, root, head)
    val filesB = manifestFiles(spark, root, base).toSet
    val entriesH = manifestEntries(spark, root, head)
    if (!filesB.subsetOf(entriesH.map(_.path).toSet))
      Left("it removed or rewrote files this operation read " +
        "(overwrite/compaction/merge in the interleaving)")
    else if (manifestDeleteFiles(spark, root, base).toSet !=
        manifestDeleteFiles(spark, root, head).toSet)
      Left("it changed MOR delete sidecars (rows this operation read " +
        "were deleted)")
    else if (colMapOf(hdrB) != colMapOf(hdrH) ||
        tombstonesOf(hdrB) != tombstonesOf(hdrH))
      Left("it changed the logical-to-physical column mapping " +
        "(rename/drop); files staged under the old mapping carry the " +
        "wrong physical names")
    else if (carriedProps(hdrB) != carriedProps(hdrH))
      Left("it changed table properties (possibly constraints) this " +
        "operation's output was not validated against")
    else if (manifestSchema(spark, root, base) !=
        manifestSchema(spark, root, head))
      Left("it changed the recorded table schema")
    else Right(entriesH.filterNot(e => filesB(e.path)))
  }

  /** Append-only lineage test between two versions: every `from` data
    * file still referenced at `to` AND no delete-sidecar change (a MOR
    * delete removes rows without touching data files). [[maintainView]]
    * checks it before an append-only fold trusts the insert side of the
    * change feed, and it sends [[snapshotChanges]] down its added-files
    * path.
    */
  def snapshotAppendLineage(spark: org.apache.spark.sql.SparkSession,
      root: String, from: Int, to: Int): Boolean =
    from == to || (from > 0 &&
      manifestFiles(spark, root, from).toSet
        .subsetOf(manifestFiles(spark, root, to).toSet) &&
      manifestDeleteFiles(spark, root, from).toSet ==
        manifestDeleteFiles(spark, root, to).toSet)

  /** What a maintainer's fold publishes: rows to append, or the view's
    * replacement. */
  private[graft] final case class ViewUpdate(rows: DataFrame, append: Boolean)

  /** Maintainer runs that found a prior view and recomputed it instead
    * of folding the change feed into it (broken lineage, or a view
    * layout the fold cannot merge) — the merge-or-recompute decision.
    */
  private[graft] val viewRecomputes = new java.util.concurrent.atomic.AtomicLong(0)

  /** THE INCREMENTAL-VIEW MAINTAINER the sum views, q89's join view,
    * d24's registry and s19's ANN index run through. One run:
    *  1. reads each base head from its manifests;
    *  2. reads the heads the view reflects ([[viewProcessedHeads]]) and
    *     returns at once when none moved — no Spark job;
    *  3. folds the change since then into the view — over append lineage
    *     on every base when `appendOnly` — unless the fold declines
    *     (None), else recomputes the heads ([[viewRecomputes]]);
    *  4. commits ONE view snapshot (append or overwrite) whose rows carry
    *     each base's head in its `stamps` column and whose `mvBase`
    *     header lists the heads.
    * CRASH-ATOMIC: a crash before the commit leaves the previous view,
    * and a re-run re-reads the same view and feed and publishes the same
    * commit. Returns the heads the view now reflects.
    */
  private[graft] def maintainView(spark: org.apache.spark.sql.SparkSession,
      baseRoots: Seq[String], viewRoot: String, stamps: Seq[String],
      appendOnly: Boolean)(recompute: Seq[Int] => DataFrame,
      fold: (Seq[Int], Seq[Int]) => Option[ViewUpdate]): Seq[Int] = {
    val heads = baseRoots.map(r => snapshotVersions(spark, r).lastOption
      .getOrElse(throw new IllegalArgumentException(s"no base snapshots at $r")))
    val processed = viewProcessedHeads(spark, viewRoot, stamps)
    if (processed == heads) return heads
    val prior = processed.forall(_ > 0)
    val folded =
      if (prior && (!appendOnly || baseRoots.indices.forall(i =>
          snapshotAppendLineage(spark, baseRoots(i), processed(i), heads(i)))))
        fold(processed, heads)
      else None
    if (prior && folded.isEmpty) viewRecomputes.incrementAndGet()
    val update = folded.getOrElse(ViewUpdate(recompute(heads), append = false))
    val rows = stamps.zip(heads).foldLeft(update.rows) {
      case (df, (c, h)) => df.withColumn(c, lit(h)) }
    val header = Map("mvBase" -> heads.mkString(","))
    if (update.append)
      appendInternal(spark, viewRoot, rows, None, None, extraHeader = header)
    else snapshotOverwrite(spark, viewRoot, rows, extraHeader = header)
    heads
  }

  /** INCREMENTAL MATERIALIZED VIEW over a versioned table — q80's
    * mergeable-partial discipline driven by the change feed: a per-group
    * (sum, count) rollup of `valCol` by `groupCol`, advanced through
    * [[maintainView]] (rows stamped `base_version`, header `mvBase`).
    * It merges only over APPEND lineage; after an overwrite, compaction
    * or MOR delete it recomputes the head — one base scan, bit-identical
    * to a fresh rollup, which its callers compare against.
    * [[maintainSumViewCdc]] merges on every lineage instead; its merged
    * double sums drift from a recompute in the last bits, so the two
    * stay separate entry points. Returns the base version reflected.
    * 100 TB: the common path scans O(new bytes) + O(groups) state.
    */
  def maintainSumView(spark: org.apache.spark.sql.SparkSession,
      baseRoot: String, viewRoot: String,
      groupCol: String, valCol: String): Int =
    maintainSum(spark, baseRoot, viewRoot, groupCol, valCol, retract = false)

  /** [[maintainSumView]] WITH RETRACTIONS — sum/count are SIGNED-
    * mergeable, so this merges the op-typed change feed on every
    * lineage: deletes and update preimages enter as NEGATIVE partials,
    * and the MOR fast path inside [[snapshotChanges]] prices a delete at
    * O(scoped files), so a privacy purge reaches the standing rollup in
    * O(scoped + groups). (min/max aggs are not subtractable, hence a
    * separate entry point.) Groups whose count reaches zero DROP, as a
    * recompute would; true overwrite lineage pays the row-level diff
    * inside [[snapshotChanges]]. Same [[maintainView]] contract.
    */
  def maintainSumViewCdc(spark: org.apache.spark.sql.SparkSession,
      baseRoot: String, viewRoot: String,
      groupCol: String, valCol: String): Int =
    maintainSum(spark, baseRoot, viewRoot, groupCol, valCol, retract = true)

  /** The fold and recompute of both sum-view maintainers: merge the
    * signed change feed into the view's partials (on every lineage when
    * `retract` is set, on append lineage otherwise), recompute the head
    * otherwise. Layout: sum_v (NULL iff the group has no non-null values
    * — SQL SUM semantics), n = COUNT(*), nn = COUNT(valCol). nn is the
    * AVG denominator (AVG divides by the NON-NULL count) and the guard
    * that keeps sum_v NULL-preserving through merges.
    */
  private def maintainSum(spark: org.apache.spark.sql.SparkSession,
      baseRoot: String, viewRoot: String, groupCol: String, valCol: String,
      retract: Boolean): Int =
    maintainView(spark, Seq(baseRoot), viewRoot, Seq("base_version"),
      appendOnly = !retract)(
      recompute = heads => readSnapshot(spark, baseRoot, heads.head)
        .groupBy(col(groupCol))
        .agg(sum(col(valCol).cast("double")).as("sum_v"),
          count(lit(1)).as("n"), count(col(valCol)).as("nn")),
      fold = (processed, heads) => {
        // LEGACY MIGRATION: a view committed before the nn column existed
        // cannot merge (its select of nn would crash) — the fold declines
        // and one full recompute migrates it to the current layout
        val viewDf = readSnapshot(spark, viewRoot)
        if (!viewDf.columns.contains("nn")) None
        else {
          // additions are {insert, update_postimage}, retractions
          // {delete, update_preimage} — on append lineage every row adds
          val sign = when(col("_change_type")
              .isin("insert", "update_postimage"), lit(1))
            .otherwise(lit(-1))
          val deltaAgg = snapshotChangesUnion(spark, baseRoot,
              processed.head, heads.head)
            .groupBy(col(groupCol))
            .agg(sum(col(valCol).cast("double") * sign).as("d_sum"),
              sum(sign.cast("long")).as("d_n"),
              sum(when(col(valCol).isNotNull, sign).otherwise(lit(0))
                .cast("long")).as("d_nn"))
          val old = viewDf
            .select(col(groupCol), col("sum_v").as("old_sum"),
              col("n").as("old_n"), col("nn").as("old_nn"))
          // q80's combine: full-outer on the group key, coalesce-add the
          // MERGEABLE partials. sum_v stays NULL when the merged non-null
          // count is 0 — an all-NULL group must answer SUM with NULL,
          // never a coalesced 0.
          val mergedNn = coalesce(col("old_nn"), lit(0L)) +
            coalesce(col("d_nn"), lit(0L))
          Some(ViewUpdate(old.join(deltaAgg, Seq(groupCol), "full_outer")
            .select(col(groupCol),
              when(mergedNn === 0L, lit(null).cast("double"))
                .otherwise(coalesce(col("old_sum"), lit(0.0)) +
                  coalesce(col("d_sum"), lit(0.0))).as("sum_v"),
              (coalesce(col("old_n"), lit(0L)) +
                coalesce(col("d_n"), lit(0L))).as("n"),
              mergedNn.as("nn"))
            .filter(col("n") > 0), append = false))
        }
      }).head

  /** COPY-ON-WRITE MERGE AS A SNAPSHOT COMMIT — `MERGE INTO` on the
    * versioned table, the targeted-file-rewrite plan every incremental
    * table deployment runs daily (q68 is the all-shuffle fallback):
    * touched files (key-range overlap with the changelog keys) are
    * rewritten through `rewrite` into the new version's own data
    * directory; UNTOUCHED files are CARRIED BY REFERENCE — zero copy,
    * byte-identical on disk, exactly how Delta/Iceberg publish a MERGE.
    * The pre-merge version stays time-travelable; readers never see a
    * half-merged table (the manifest commit is the atomic cutover).
    * Precondition: the table carries no delete sidecars (compact first —
    * a rewrite that ignored sidecars would resurrect deleted rows; the
    * require makes that impossible rather than wrong).
    * `rewrite` sees ONLY the touched rows and must return their merged
    * replacement (matched updates + unmatched-changelog inserts).
    *
    * The changelog keys stay a DATAFRAME: the touched-file set comes
    * from [[touchedFilesFor]]'s one map-side probe of the per-file
    * ranges ([[snapshotKeyRanges]]: manifest stats, footer fallback for
    * stat-less entries); only O(files) paths ever reach the driver.
    *
    * Soundness of the split: every base row with key k lives in a file
    * whose range contains k, so a changelog key that overlaps NO file
    * range matches no base row — changelog rows landing only in
    * `rewrite`'s unmatched branch are true inserts, never missed
    * updates. Overlap without an actual match only costs an unnecessary
    * rewrite (correct, conservative). Files without usable stats report
    * the full range and count as touched for the same reason.
    *
    * Returns the committed version.
    * 100 TB: merge I/O is O(touched bytes) + one manifest write; with a
    * key-clustered layout ([[snapshotCompact]]'s clusterBy — non-
    * overlapping per-file ranges) a localized changelog touches
    * O(changed bytes), not O(table).
    */
  def snapshotMergeKeys(spark: org.apache.spark.sql.SparkSession,
      root: String, keyCol: String, changeKeys: DataFrame,
      rewrite: DataFrame => DataFrame,
      readsWholeTable: Boolean = false): Int = {
    val vs = snapshotVersions(spark, root)
    require(vs.nonEmpty, s"no snapshots at $root")
    val base = vs.last
    require(manifestDeleteFiles(spark, root, base).isEmpty,
      "table carries MOR delete sidecars; snapshotCompact before MERGE")
    val hdr = manifestHeader(spark, root, base)
    val tagged = manifestEntriesTagged(spark, root, base)
    // manifest stats are keyed by PHYSICAL name; the caller's keyCol is
    // logical (identical unless renamed — reserved columns never are)
    val ranges = keyRangesOfEntries(spark, tagged.map(_._2),
      physicalNameOf(hdr, keyCol))
    val touchedSet: Set[String] = touchedFilesFor(spark, ranges, changeKeys)
    val touchedTagged = tagged.filter(t => touchedSet(t._2.path))
    // typed from the manifest like every snapshot read: no footer job
    val touchedRaw =
      if (touchedTagged.isEmpty)
        manifestRelation(spark, root, tagged.map(_._2), hdr)._1
          .where(lit(false))
      else manifestRelation(spark, root, touchedTagged.map(_._2), hdr)._1
    // COLUMN-MAPPING boundary: `rewrite` (the caller's / SQL MERGE's
    // logic) speaks LOGICAL names; the touched files speak physical.
    // Logicalize in, physicalize out — untouched entries carry verbatim,
    // so old and new files agree physically.
    val recordedSc = manifestSchema(spark, root, base)
    val mapped = (colMapOf(hdr).nonEmpty || tombstonesOf(hdr).nonEmpty) &&
      recordedSc.isDefined
    val touchedDf =
      if (mapped) toLogicalFrame(touchedRaw, hdr, recordedSc.get)
      else touchedRaw
    val rewritten = rewrite(touchedDf)
    val props = carriedProps(hdr) - "deleteKey"
    // merged output re-checks constraints: an UPDATE/MERGE can introduce
    // a violating value even when every input row was valid
    enforceConstraints(props, rewritten, "merge")
    val newEntries = stageEntries(spark, root, base + 1,
      toPhysicalFrame(rewritten, hdr), props)
    // LOGICAL CONFLICT RESOLUTION (Delta's conflict-checker discipline):
    // losing the version claim is only a real conflict when the
    // interleaved commit's changes OVERLAP this merge's read set. A pure
    // append whose file key-ranges are disjoint from the changelog keys
    // commutes — rebase: carry the appended files through the
    // segment-granular carry against the new head and recommit the SAME
    // rewritten data files (zero data I/O, O(manifest) metadata).
    // Anything else — removed/rewritten files, sidecar or mapping or
    // property or schema change, or appended rows this merge matches —
    // surfaces the typed [[ConcurrentWriteConflictException]]: silently
    // rebasing would drop the winner's effect. Under standing
    // maintenance cycles (appenders racing snapshotMaintain), the
    // disjoint path is the routine one.
    commitRebasing(spark, root, base, "MERGE") { (cur, _) =>
      // [[carrySegments]] of any rebased head: the touched set is fixed
      // (pure-append interleavings never remove files), so a later
      // head's entries just route the interleaved appends into the carry
      val taggedNow =
        if (cur == base) tagged else manifestEntriesTagged(spark, root, cur)
      val (segs, residual) =
        carrySegments(spark, root, cur, taggedNow)(e => touchedSet(e.path))
      val schema = manifestSchema(spark, root, cur)
        .flatMap(ps => mergeSchemas(Some(ps), rewritten.schema))
      // cdcKey: EPHEMERAL header (the mvBase pattern — never carried)
      // telling the change feed this transition is a key-scoped COW
      // rewrite, unlocking [[cowTypedChanges]]'s typed
      // update_preimage/postimage rows at O(touched files)
      Commit(segs, residual ++ newEntries,
        props ++ schemaHeaderOf(schema) + ("cdcKey" -> keyCol))
    } { (cur, head) =>
      appendOnlyDiff(spark, root, cur, head).flatMap { added =>
        // a WHEN-NOT-MATCHED-BY-SOURCE merge reads (and may act on)
        // EVERY target row: its read set is the whole table, so ANY
        // concurrently appended row overlaps — an appended key absent
        // from the source should have been updated/deleted by the NMBS
        // clause, and carrying it verbatim would contradict every serial
        // order. Key disjointness only applies to merges whose read set
        // IS their key set.
        if (readsWholeTable && added.nonEmpty)
          Left("this merge's NOT MATCHED BY SOURCE clause reads every " +
            "target row; concurrently appended rows are inside its read " +
            "set by definition")
        // do the concurrently-appended file ranges overlap this merge's
        // keys?
        else if (touchedFilesFor(spark, keyRangesOfEntries(spark, added,
            physicalNameOf(hdr, keyCol)), changeKeys).nonEmpty)
          Left("concurrently appended files carry key ranges this merge " +
            "matches — its rewrite would miss those rows")
        else Right(added)
      }
    }
  }

  /** RESTORE (Delta's `RESTORE TABLE t TO VERSION AS OF v`) — the undo
    * button: commit version `toVersion`'s EXACT state (file list,
    * delete sidecars, table properties, recorded schema) as the NEW
    * head. Metadata-only — zero data I/O, O(that version's manifest) —
    * because data files are immutable and manifests reference them: the
    * restore manifest simply references the old files again, which also
    * re-PROTECTS them from retention (vacuum keeps anything a kept
    * manifest references). History stays intact: the bad head remains
    * time-travelable below the restore commit; a subsequent vacuum can
    * expire it. Returns the committed version.
    */
  def snapshotRestore(spark: org.apache.spark.sql.SparkSession,
      root: String, toVersion: Int): Int = {
    val vs = snapshotVersions(spark, root)
    require(vs.contains(toVersion), s"version $toVersion not in $vs")
    val head = vs.last
    if (toVersion == head) return head // restoring the head is a no-op
    val carried = carriedStateOf(spark, root, Some(toVersion))
    val v = head + 1
    commitManifest(spark, root, v, carried.segs, carried.inline,
      header = carried.props ++ schemaHeaderOf(carried.schema),
      deletes = carried.deletes)
    v
  }

  /** OPTIMIZE scoped to a PARTITION SUBSET (Delta's `OPTIMIZE t WHERE
    * part = …`, Iceberg's rewrite_data_files filter): bin-pack ONLY the
    * files whose recorded partition-value set lies entirely within
    * `partitions`, carrying everything else untouched — wholly-foreign
    * segments by reference, partially-touched segments' residual entries
    * re-serialized (the [[snapshotMergeKeys]] carry machinery). At 100 TB
    * this is the difference between "compact yesterday's partition after
    * the daily load" (O(one day's bytes)) and rewriting the table; the
    * standing job compacts the hot partition on its cadence and never
    * touches cold history. Files with no recorded partition set or a
    * mixed set stay carried (conservative — repacking them would need a
    * read-and-split). Requires a sidecar-free head (fold MOR debt with
    * the full [[snapshotCompact]] first) and a declared `partCol`.
    * Returns the committed version — or the base version unchanged when
    * no file is in scope (a no-op never commits).
    */
  def snapshotCompactPartitions(spark: org.apache.spark.sql.SparkSession,
      root: String, targetBytes: Long, partitions: Seq[String]): Int = {
    val vs = snapshotVersions(spark, root)
    require(vs.nonEmpty, s"no snapshots at $root")
    val base = vs.last
    require(manifestDeleteFiles(spark, root, base).isEmpty,
      "partition-scoped OPTIMIZE needs a sidecar-free head — run " +
        "snapshotCompact to fold MOR debt first")
    val hdr = manifestHeader(spark, root, base)
    require(hdr.contains("partCol"),
      s"$root declares no partCol; partition-scoped OPTIMIZE needs one")
    val want = partitions.toSet
    require(want.nonEmpty, "no partitions given")
    val tagged = manifestEntriesTagged(spark, root, base)
    val touched = tagged.collect {
      case (_, e) if e.parts.exists(ps => ps.nonEmpty && ps.forall(want)) =>
        e.path
    }
    if (touched.isEmpty) return base
    // bin-pack via the cloned-session split sizing ([[snapshotCompact]]'s
    // plain mode): the scan itself packs the small files; zero shuffle
    val scoped = spark.newSession()
    scoped.conf.set("spark.sql.files.maxPartitionBytes", targetBytes.toString)
    scoped.conf.set("spark.sql.files.openCostInBytes", "0")
    // without this the split planner still fans out to default
    // parallelism (minPartitionNum) and a small hot partition never
    // packs below its input file count
    scoped.conf.set("spark.sql.files.minPartitionNum", "1")
    val packed = scoped.read.option("mergeSchema", "true").parquet(touched: _*)
    val props = carriedProps(hdr)
    val packedEntries = stageEntries(spark, root, base + 1, packed, props)
    // compaction's rule: any pure append commutes — its files stay
    // carried, un-packed, by the touched-PATH carry (an in-scope append
    // was not packed, so it is carried too)
    val touchedSet = touched.toSet
    commitRebasing(spark, root, base, "OPTIMIZE/compaction") { (cur, _) =>
      val taggedNow =
        if (cur == base) tagged else manifestEntriesTagged(spark, root, cur)
      val (segs, residual) =
        carrySegments(spark, root, cur, taggedNow)(e => touchedSet(e.path))
      Commit(segs, residual ++ packedEntries,
        props ++ schemaHeaderOf(manifestSchema(spark, root, cur)))
    }(appendOnlyDiff(spark, root, _, _))
  }

  /** OPTIMISTIC-CONCURRENCY RETRY — the multi-writer loop every snapshot
    * commit caller runs in production: a losing racer fails LOUDLY with
    * a [[CommitConflictException]] (its claim lost and
    * [[commitRebasing]]'s own bounded rebase exhausted, or a committer
    * with no rebase path), and this wrapper is the other half — recompute
    * against the NEW head and try again, bounded. Only that type
    * retries; any other failure propagates untouched (retrying an
    * arbitrary error would mask real bugs). The op MUST be
    * self-contained re-runnable (read head inside, like
    * [[snapshotAppend]]/[[snapshotCompact]] are): a loser's partial
    * data-dir writes are invisible (nothing references a file until its
    * manifest commits) and each attempt stages into its own
    * [[attemptDir]].
    * 100 TB: contention cost is one wasted attempt's I/O; correctness
    * never degrades — the committed history is always a linear sequence
    * of winners.
    */
  def withCommitRetry[T](attempts: Int = 5)(op: => T): T = {
    require(attempts >= 1)
    var last: Throwable = null
    var i = 0
    while (i < attempts) {
      try return op
      catch { case e: CommitConflictException => last = e }
      i += 1
    }
    throw new IllegalStateException(
      s"commit still losing races after $attempts attempts", last)
  }

  /** ZERO-COPY SHALLOW CLONE — Delta/Iceberg's `CLONE`: commit a v1
    * manifest at `dstRoot` that REFERENCES the source version's data
    * files (and delete sidecars) without copying a byte. The clone is a
    * full read-write table from birth: subsequent appends/deletes/
    * compactions at the clone write their own files under its root and
    * never touch the source (divergence is free); the source evolves
    * independently. The one production caveat every shallow-clone
    * implementation documents, preserved here honestly: VACUUM at the
    * SOURCE can delete files a clone still references (vacuum is
    * per-root and listing-based) — retention policy must outlive clones,
    * or the clone must be deep-copied (compacted) first. `snapshotCompact`
    * on the clone is exactly that escape hatch: after it, the clone
    * references only its own files.
    * 100 TB: clone cost is ONE manifest write — O(files) text, zero data
    * I/O — which is why test/dev environments clone production tables
    * instead of copying them. Returns the clone's version (always 1).
    */
  def snapshotClone(spark: org.apache.spark.sql.SparkSession,
      srcRoot: String, dstRoot: String, srcVersion: Int = -1): Int = {
    val vs = snapshotVersions(spark, srcRoot)
    require(vs.nonEmpty, s"no snapshots at $srcRoot")
    val v = if (srcVersion < 0) vs.last else srcVersion
    require(vs.contains(v), s"version $v not in $vs")
    require(snapshotVersions(spark, dstRoot).isEmpty,
      s"clone destination $dstRoot already has snapshots")
    // the clone materializes ONE segment of its own under dstRoot (seg
    // references never cross roots — vacuum's ownership reasoning stays
    // per-root); entries copy with their stats/partition sets, so the
    // clone prunes as well as the source from birth
    commitManifest(spark, dstRoot, 1, Nil, manifestEntries(spark, srcRoot, v),
      header = carriedProps(manifestHeader(spark, srcRoot, v)) ++
        schemaHeaderOf(manifestSchema(spark, srcRoot, v)),
      deletes = manifestDeleteRefs(spark, srcRoot, v))
    1
  }

  // ------------------------------------------------------------- refs
  // NAMED REFS on the manifest layer — Iceberg's branch/tag slot:
  // small files under <root>/_refs pointing into version history.
  //  - TAG: an immutable name for a committed version ("the v2.1
  //    training set") — time travel by name, protected from retention.
  //  - BRANCH: a named line of development. The workspace
  //    <root>/_refs/<name>.branch is a FULL table root seeded by
  //    [[snapshotClone]] (zero data copy — entries reference the fork
  //    version's files absolutely), so EVERY existing operator —
  //    append, MERGE, compaction, constraints, its own time travel —
  //    runs against a branch unchanged. Main never sees branch commits
  //    until [[snapshotBranchPublish]] FAST-FORWARDS them in: one main
  //    commit adopting the branch head's entries by reference (zero
  //    data I/O), allowed only while main's head is still the fork —
  //    anything else is a real divergence and refuses typed.
  // Retention: [[protectedVersions]] stops the vacuum prefix at the
  // first tagged/forked version, so a named version's manifest and
  // files survive any retention policy while the ref lives.

  private def refsDir(root: String) =
    new org.apache.hadoop.fs.Path(s"$root/_refs")

  /** One named ref: `kind` ∈ {tag, branch}; `version` is the tagged
    * version (tag) or the fork point on MAIN (branch — advanced by each
    * publish).
    */
  case class SnapshotRef(name: String, kind: String, version: Int)

  /** Ref names must be distinguishable from `VERSION AS OF <int>` and
    * filesystem-safe.
    */
  private def requireRefName(name: String): Unit =
    require(name.matches("[A-Za-z0-9._-]+") && !name.forall(_.isDigit),
      s"ref name '$name' must be [A-Za-z0-9._-]+ and not all digits " +
        "(an all-digit name would be ambiguous with VERSION AS OF n)")

  /** The branch's workspace root — a complete table root of its own;
    * run any Layout operator or catalog write against it.
    */
  def snapshotBranchRoot(root: String, name: String): String =
    s"$root/_refs/$name.branch"

  private def refPath(root: String, name: String) =
    new org.apache.hadoop.fs.Path(refsDir(root), s"$name.ref")

  /** Ref-file writes are exists-then-create, NOT the commit protocol's
    * arbitrated claim: refs are operator-issued names (a human or a
    * scheduler creates "v2.1" once), not contended commit slots, and
    * a duplicate-name race at worst surfaces as one creator's require
    * failing late. Everything refs PROTECT (publish commits, version
    * content) still goes through the arbitrated manifest commit.
    */
  private def writeRef(spark: org.apache.spark.sql.SparkSession,
      root: String, ref: SnapshotRef, overwrite: Boolean): Unit = {
    val fs = fsOf(spark, root)
    fs.mkdirs(refsDir(root))
    val p = refPath(root, ref.name)
    if (!overwrite) require(!fs.exists(p),
      s"ref '${ref.name}' already exists at $root")
    val out = fs.create(p, overwrite)
    try out.write(s"kind=${ref.kind}\nv=${ref.version}\n".getBytes("UTF-8"))
    finally out.close()
  }

  private def readRef(spark: org.apache.spark.sql.SparkSession,
      root: String, name: String): Option[SnapshotRef] = {
    val p = refPath(root, name)
    val fs = fsOf(spark, root)
    if (!fs.exists(p)) return None
    val in = fs.open(p)
    val kv =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .flatMap(_.split("=", 2) match {
          case Array(k, v) => Some(k -> v)
          case _ => None
        }).toMap
      finally in.close()
    for (k <- kv.get("kind"); v <- kv.get("v"))
      yield SnapshotRef(name, k, v.toInt)
  }

  /** Every named ref at `root`, name-sorted. */
  def snapshotRefs(spark: org.apache.spark.sql.SparkSession,
      root: String): Seq[SnapshotRef] = {
    val fs = fsOf(spark, root)
    if (!fs.exists(refsDir(root))) return Nil
    fs.listStatus(refsDir(root)).toSeq.map(_.getPath.getName)
      .filter(_.endsWith(".ref")).map(_.stripSuffix(".ref")).sorted
      .flatMap(readRef(spark, root, _))
  }

  /** Resolve a ref for reads: a TAG reads main pinned at its version; a
    * BRANCH reads its workspace head (the fork content until the first
    * branch commit). Returns (the root to read, the version to pin).
    */
  def snapshotRefTarget(spark: org.apache.spark.sql.SparkSession,
      root: String, name: String): (String, Int) = {
    val ref = readRef(spark, root, name).getOrElse(
      throw new IllegalArgumentException(s"no ref '$name' at $root"))
    if (ref.kind == "tag") (root, ref.version)
    else {
      val bRoot = snapshotBranchRoot(root, name)
      (bRoot, snapshotVersions(spark, bRoot).last)
    }
  }

  /** TAG a committed version (default: the head). Immutable — drop and
    * re-create to move it; never overwritten in place.
    */
  def snapshotTag(spark: org.apache.spark.sql.SparkSession, root: String,
      name: String, version: Int = -1): SnapshotRef = {
    requireRefName(name)
    val vs = snapshotVersions(spark, root)
    require(vs.nonEmpty, s"no snapshots at $root")
    val v = if (version < 0) vs.last else version
    require(vs.contains(v), s"version $v not committed at $root")
    val ref = SnapshotRef(name, "tag", v)
    writeRef(spark, root, ref, overwrite = false)
    ref
  }

  /** CREATE A BRANCH at `fromVersion` (default: the head): clone the
    * fork version into the workspace (zero data copy) and record the
    * fork. Returns the workspace root to write against.
    */
  def snapshotBranch(spark: org.apache.spark.sql.SparkSession, root: String,
      name: String, fromVersion: Int = -1): String = {
    requireRefName(name)
    val vs = snapshotVersions(spark, root)
    require(vs.nonEmpty, s"no snapshots at $root")
    val fork = if (fromVersion < 0) vs.last else fromVersion
    require(vs.contains(fork), s"version $fork not committed at $root")
    val bRoot = snapshotBranchRoot(root, name)
    // ref first (create-exclusive claims the NAME against concurrent
    // creates), then the workspace clone; a failed clone must not
    // leave a dangling ref pointing at nothing
    writeRef(spark, root, SnapshotRef(name, "branch", fork),
      overwrite = false)
    try snapshotClone(spark, root, bRoot, fork)
    catch {
      case e: Throwable =>
        fsOf(spark, root).delete(refPath(root, name), false)
        throw e
    }
    bRoot
  }

  /** PUBLISH a branch into main — one commit adopting the branch head's
    * entries, sidecars, properties, and schema BY REFERENCE (zero data
    * I/O; the branch's new files live under the workspace, inside main's
    * ownership boundary, so main's lifecycle manages them from here).
    * Two shapes, resolved by where main's head sits:
    *
    *  - FAST-FORWARD (main's head IS the fork): Iceberg's rule — main's
    *    next version is the branch head's exact content.
    *  - REBASE PAST PURE APPENDS (main moved, but every interleaved
    *    main commit was a pure append — [[appendOnlyDiff]]: no file
    *    removed/rewritten, sidecars/mapping/properties/schema
    *    unchanged): the published commit is the branch head's content
    *    PLUS main's appended files. File-level disjointness is
    *    structural — main's new files postdate the fork, so the branch
    *    cannot have touched them — the same logical-conflict resolution
    *    MERGE commits already use to land past concurrent appenders
    *    (Nessie/Iceberg's real merge story). Anything else refuses with
    *    the typed conflict naming the overlapping change.
    *
    * CRASH-ATOMIC ref advance: the publish commit stamps
    * `#publishRef=<name>` / `#publishSrc=<branch head>` (ephemeral —
    * never carried as table properties), so a crash between the commit
    * and the ref write is repaired on the NEXT publish: an already-
    * landed head is detected from the stamp, the ref catches up, and an
    * unchanged branch returns that version idempotently instead of
    * refusing "not a fast-forward" forever.
    *
    * The ref's fork advances to the published version, so the branch
    * can keep going.
    */
  def snapshotBranchPublish(spark: org.apache.spark.sql.SparkSession,
      root: String, name: String): Int = {
    val ref = readRef(spark, root, name).getOrElse(
      throw new IllegalArgumentException(s"no ref '$name' at $root"))
    require(ref.kind == "branch", s"ref '$name' is a ${ref.kind}, not a branch")
    val bRoot = snapshotBranchRoot(root, name)
    val bHead = snapshotVersions(spark, bRoot).last
    val mainVs = snapshotVersions(spark, root)
    val mainHead = mainVs.last
    var fork = ref.version
    if (mainHead != fork) {
      // repair a crashed predecessor: its commit landed, its ref write
      // didn't — catch the ref up to the last publish stamped with this
      // branch's name instead of refusing forever
      val landed = mainVs.filter(_ > fork).filter(v =>
        manifestHeader(spark, root, v).get("publishRef").contains(name))
      if (landed.nonEmpty) {
        val v = landed.max
        writeRef(spark, root, SnapshotRef(name, "branch", v), overwrite = true)
        fork = v
        // the branch hasn't moved since that publish → idempotent no-op
        if (manifestHeader(spark, root, v).get("publishSrc")
            .contains(bHead.toString) && v == mainHead) return v
      }
    }
    val mainAdded: Seq[FileEntry] =
      if (mainHead == fork) Nil
      else appendOnlyDiff(spark, root, fork, mainHead) match {
        case Right(added) => added
        case Left(why) =>
          throw new ConcurrentWriteConflictException(root, fork, mainHead,
            s"branch '$name' publish",
            s"main advanced past the branch's fork point and $why — not " +
              "rebasable; merge manually or re-branch")
      }
    // rebase the BRANCH first: one workspace commit adopting main's
    // appended files by reference, so branch head content == what's
    // about to publish — without this, the NEXT fast-forward publish
    // (whose content is the branch head alone) would silently drop
    // main's appends. Crash-safe ordering: a crash after this commit
    // leaves only an already-rebased branch; the publish retry finds
    // nothing left to adopt and proceeds.
    val bPaths = manifestFiles(spark, bRoot, bHead).toSet
    val rebaseAdds = mainAdded.filterNot(e => bPaths(e.path))
    val pubHead =
      if (rebaseAdds.isEmpty) bHead
      else {
        commitManifest(spark, bRoot, bHead + 1,
          manifestSegRefs(spark, bRoot, bHead), rebaseAdds,
          header = carriedProps(manifestHeader(spark, bRoot, bHead)) ++
            schemaHeaderOf(manifestSchema(spark, bRoot, bHead)),
          deletes = manifestDeleteRefs(spark, bRoot, bHead))
        bHead + 1
      }
    commitManifest(spark, root, mainHead + 1, Nil,
      manifestEntries(spark, bRoot, pubHead),
      header = carriedProps(manifestHeader(spark, bRoot, pubHead)) ++
        schemaHeaderOf(manifestSchema(spark, bRoot, pubHead)) ++
        Map("publishRef" -> name, "publishSrc" -> pubHead.toString),
      deletes = manifestDeleteRefs(spark, bRoot, pubHead))
    writeRef(spark, root, SnapshotRef(name, "branch", mainHead + 1),
      overwrite = true)
    mainHead + 1
  }

  /** Drop a ref. A tag just unpins. A branch additionally loses its
    * workspace: if NO main manifest references workspace files (never
    * published, or published content since vacuumed) the whole
    * workspace deletes; otherwise only the branch's own manifests go —
    * the published data files now belong to main's lifecycle (they sit
    * inside main's ownership boundary, so main's vacuum retires them
    * when they fall out of retained versions).
    */
  def snapshotDropRef(spark: org.apache.spark.sql.SparkSession,
      root: String, name: String): Unit = {
    val ref = readRef(spark, root, name).getOrElse(
      throw new IllegalArgumentException(s"no ref '$name' at $root"))
    val fs = fsOf(spark, root)
    if (ref.kind == "branch") {
      val bRoot = snapshotBranchRoot(root, name)
      val prefix = fs.makeQualified(
        new org.apache.hadoop.fs.Path(bRoot)).toUri.getPath + "/"
      val referencedByMain = snapshotVersions(spark, root).exists(v =>
        (manifestFiles(spark, root, v) ++ manifestDeleteFiles(spark, root, v))
          .exists(f =>
            new org.apache.hadoop.fs.Path(f).toUri.getPath.startsWith(prefix)))
      if (referencedByMain)
        fs.delete(msDir(bRoot), true)
      else
        fs.delete(new org.apache.hadoop.fs.Path(bRoot), true)
    }
    fs.delete(refPath(root, name), false)
  }

  /** Versions retention must not drop while their ref lives: tag
    * targets and branch fork points.
    */
  private def protectedVersions(spark: org.apache.spark.sql.SparkSession,
      root: String): Set[Int] =
    snapshotRefs(spark, root).map(_.version).toSet

  private val BranchWorkspaceRe = "^(.*)/_refs/[A-Za-z0-9._-]+\\.branch/?$".r

  /** If `root` is a branch WORKSPACE (`<parent>/_refs/<name>.branch`),
    * the parent table root it nests inside.
    */
  private def branchParentRoot(root: String): Option[String] =
    root.stripSuffix("/") match {
      case BranchWorkspaceRe(parent) => Some(parent)
      case _ => None
    }

  /** Workspace files the PARENT table's live versions reference, as
    * normalized URI paths — empty for a non-workspace root.
    *
    * [[snapshotBranchPublish]] adopts workspace files into main BY
    * REFERENCE (zero data I/O), so after a publish the workspace holds
    * files that main's history depends on. Vacuum and the orphan sweep
    * reason per-root; run against the workspace (explicitly supported —
    * it is a full table root) they would otherwise count a published
    * file as dead the moment the BRANCH's own manifests stop
    * referencing it (branch compacts then expires its history; a
    * dropped-and-re-created branch name whose old workspace data is
    * still live on main) — silent data loss on the MAIN line. Every
    * workspace-side delete path must treat these as live; only the
    * parent's own vacuum may ever retire them (it owns everything under
    * its root, workspaces included).
    */
  private def parentProtectedPaths(spark: org.apache.spark.sql.SparkSession,
      root: String): Set[String] =
    branchParentRoot(root) match {
      case None => Set.empty
      case Some(parent) =>
        val prefix = fsOf(spark, root)
          .makeQualified(new org.apache.hadoop.fs.Path(root))
          .toUri.getPath.stripSuffix("/") + "/"
        snapshotVersions(spark, parent).flatMap(v =>
          manifestFiles(spark, parent, v) ++
            manifestDeleteFiles(spark, parent, v))
          .map(f => new org.apache.hadoop.fs.Path(f).toUri.getPath)
          .filter(_.startsWith(prefix)).toSet
    }

  /** INCREMENTAL JOIN-VIEW MAINTENANCE over TWO versioned tables — the
    * classical bilinear delta rule (ΔV = ΔL ⋈ R_new ∪ L_old ⋈ ΔR, the
    * textbook IVM identity for inner equi-joins) made exact by the
    * snapshot layer: `L_old` is a TIME-TRAVEL read of the left table at
    * the version the view last processed — not an approximation, the
    * actual bytes — and the deltas are the insert side of the change
    * feed ([[changeInserts]]), so under append lineage on both sides a
    * maintenance run joins O(new-left · right) + O(old-left · new-right)
    * and scans none of the unchanged-×-unchanged quadrant. The
    * decomposition L_new⋈R_new = V_old ⊎ ΔL⋈R_new ⊎ L_old⋈ΔR is a
    * disjoint multiset partition, so the view appends ΔV and never
    * retracts.
    *
    * Runs through [[maintainView]] (rows stamped (base_l, base_r),
    * header `mvBase=leftHead,rightHead`); broken lineage on EITHER side
    * recomputes the join as an overwrite. Requires disjoint non-key
    * schemas. Returns (leftHead, rightHead) now reflected.
    * 100 TB: the common path's big side is the time-travel read, which
    * shuffles once on the join key; with both tables bucketed on the key
    * the deltas co-locate and the maintenance run is O(new bytes).
    */
  def maintainJoinView(spark: org.apache.spark.sql.SparkSession,
      leftRoot: String, rightRoot: String, viewRoot: String,
      key: String): (Int, Int) = {
    val heads = maintainView(spark, Seq(leftRoot, rightRoot), viewRoot,
      Seq("base_l", "base_r"), appendOnly = true)(
      recompute = hs => readSnapshot(spark, leftRoot, hs(0))
        .join(readSnapshot(spark, rightRoot, hs(1)), Seq(key)),
      fold = (ps, hs) => {
        val dL = changeInserts(snapshotChangesUnion(spark, leftRoot, ps(0), hs(0)))
        val dR = changeInserts(snapshotChangesUnion(spark, rightRoot, ps(1), hs(1)))
        val rNew = readSnapshot(spark, rightRoot, hs(1))
        val lOld = readSnapshot(spark, leftRoot, ps(0)) // time travel IS L_old
        Some(ViewUpdate(dL.join(rNew, Seq(key))
          .unionByName(lOld.join(dR, Seq(key))), append = true))
      })
    (heads(0), heads(1))
  }

  /** ST31: STREAMING MAINTAINED VIEW — stream → versioned base table
    * ([[snapshotAppendIdempotent]], ST29's idempotent epoch commit) →
    * incrementally maintained rollup ([[maintainSumView]]), composed from
    * parts that are each exactly-once, with NO new transaction machinery:
    * a replayed epoch no-ops at the base commit, and [[maintainView]]
    * publishes nothing for a view that reflects the head and the same
    * commit after a crash before its commit.
    * 100 TB: per trigger O(batch) append + O(batch + groups) maintenance.
    */
  def streamingMaintainedView(spark: org.apache.spark.sql.SparkSession,
      inDir: String, schema: org.apache.spark.sql.types.StructType,
      baseRoot: String, viewRoot: String, groupCol: String,
      valCol: String): org.apache.spark.sql.streaming.StreamingQuery =
    streamingMaintained(spark, inDir, schema, baseRoot,
      s => { maintainSumView(s, baseRoot, viewRoot, groupCol, valCol); () })

  /** The MAINTAINER-GENERIC form of [[streamingMaintainedView]]: stream →
    * idempotent epoch commit → `maintain` once per trigger. Every
    * [[maintainView]] maintainer rides it unchanged (the dedup registry
    * is ST32): the exactly-once argument never mentions the maintainer's
    * semantics.
    */
  def streamingMaintained(spark: org.apache.spark.sql.SparkSession,
      inDir: String, schema: org.apache.spark.sql.types.StructType,
      baseRoot: String,
      maintain: org.apache.spark.sql.SparkSession => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val wid = writerToken(spark, s"$baseRoot/ckpt")
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        snapshotAppendIdempotent(spark, baseRoot, batch, epoch, writerId = wid)
        maintain(spark)
        ()
      }
      .option("checkpointLocation", s"$baseRoot/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
  }

  /** Retention: drop all but the newest `keep` versions and delete every
    * data file ONLY they referenced. The kept manifests' file sets are
    * never touched — vacuum can only invalidate time travel, never the
    * surviving versions.
    */
  def vacuumSnapshots(spark: org.apache.spark.sql.SparkSession, root: String,
      keep: Int): VacuumStats = {
    require(keep >= 1, "must keep at least the latest version")
    val vs = snapshotVersions(spark, root)
    // refs protect: the prefix TRUNCATES at the first tagged/forked
    // version (never a hole in the middle — every surviving version
    // still time-travels and diffs exactly)
    val prot = protectedVersions(spark, root)
    vacuumDrop(spark, root, vs.dropRight(keep).takeWhile(!prot(_)))
  }

  /** AGE-BASED retention — the form every deployment actually schedules
    * ("expire snapshots older than 7 days"), resolved against the
    * commit stamps ([[snapshotTimestamps]]): drop the OLDEST-PREFIX of
    * versions committed before `cutoffMillis`, always keeping at least
    * `minKeep` newest. Prefix-only is deliberate: retention erases the
    * oldest history, never a hole in the middle — every surviving
    * version still time-travels and diffs exactly.
    */
  def vacuumSnapshotsOlderThan(spark: org.apache.spark.sql.SparkSession,
      root: String, cutoffMillis: Long, minKeep: Int = 1): VacuumStats = {
    require(minKeep >= 1, "must keep at least the latest version")
    val stamped = snapshotTimestamps(spark, root)
    val prot = protectedVersions(spark, root)
    val drop = stamped.dropRight(minKeep)
      .takeWhile(s => s._2 < cutoffMillis && !prot(s._1)).map(_._1)
    vacuumDrop(spark, root, drop)
  }

  /** ORPHAN-FILE SWEEP — the cleanup job matching attempt-unique staging
    * (Iceberg's remove_orphan_files): delete every data/sidecar file
    * under the root that NO existing manifest references — losing
    * commit attempts, crashed half-writes. `cutoffMillis` is the
    * safety margin every such job carries: an in-flight attempt's files
    * are orphans only until its manifest commits, so only files last
    * modified BEFORE the cutoff are swept (production passes
    * now − hours; the default sweeps everything — test use). Never
    * touches referenced files, so it composes with any retention
    * policy.
    */
  def vacuumOrphanFiles(spark: org.apache.spark.sql.SparkSession,
      root: String, cutoffMillis: Long = Long.MaxValue): Int = {
    val fs = fsOf(spark, root)
    // on a branch workspace, files the PARENT's versions reference are
    // live even when no workspace manifest lists them (see
    // [[parentProtectedPaths]]) — sweeping them would lose main's data
    val referenced = snapshotVersions(spark, root)
      .flatMap(v => manifestFiles(spark, root, v) ++
        manifestDeleteFiles(spark, root, v))
      .map(f => new org.apache.hadoop.fs.Path(f).toUri.getPath).toSet ++
      parentProtectedPaths(spark, root)
    def walk(p: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.FileStatus] =
      if (!fs.exists(p)) Nil
      else fs.listStatus(p).toSeq.flatMap { st =>
        if (st.isDirectory) walk(st.getPath) else Seq(st)
      }
    val dead = (walk(new org.apache.hadoop.fs.Path(s"$root/data")) ++
      walk(new org.apache.hadoop.fs.Path(s"$root/deletes")))
      .filter(st => !referenced.contains(st.getPath.toUri.getPath) &&
        st.getModificationTime < cutoffMillis)
    dead.foreach(st => fs.delete(st.getPath, false))
    // orphan SEGMENTS too: a losing commit attempt writes its segment
    // before the manifest rename arbitrates — the loser's seg is
    // referenced by no manifest and sweeps under the same cutoff rule
    val refSegs = snapshotVersions(spark, root)
      .flatMap(v => manifestSegRefs(spark, root, v)).toSet
    val deadSegs = walk(segsDir(root))
      .filter(st => !refSegs.contains(st.getPath.getName) &&
        st.getModificationTime < cutoffMillis)
    deadSegs.foreach(st => fs.delete(st.getPath, false))
    // a claim whose writer crashed between claiming and renaming leaves
    // the version permanently blocked — sweep claims with no manifest,
    // but NEVER younger than the grace period regardless of the caller's
    // cutoff: an IN-FLIGHT commit's claim (writer mid-rename) must not be
    // deleted, or a second writer could claim the same version and the
    // stalled first rename would clobber its manifest — the exact race
    // the claim protocol closes
    val live = snapshotVersions(spark, root).toSet
    val claimCutoff = math.min(cutoffMillis,
      System.currentTimeMillis() - ClaimGraceMillis)
    val deadClaims =
      (if (fs.exists(msDir(root))) fs.listStatus(msDir(root)).toSeq else Nil)
        .filter { st =>
          val n = st.getPath.getName
          n.matches("v\\d+\\.claim") &&
            !live.contains(n.stripPrefix("v").stripSuffix(".claim").toInt) &&
            st.getModificationTime < claimCutoff
        }
    deadClaims.foreach(st => fs.delete(st.getPath, false))
    dead.size + deadSegs.size + deadClaims.size
  }

  private def vacuumDrop(spark: org.apache.spark.sql.SparkSession,
      root: String, drop: Seq[Int]): VacuumStats = {
    val fs = fsOf(spark, root)
    val retain = snapshotVersions(spark, root).filterNot(drop.toSet)
    // delete sidecars are references like any other: a kept version's
    // sidecar must survive vacuum, a fully-unreferenced one is dead
    def refs(v: Int) =
      manifestFiles(spark, root, v) ++ manifestDeleteFiles(spark, root, v)
    val keptFiles = retain.flatMap(refs).toSet
    // OWNERSHIP GUARD: vacuum deletes only files under ITS OWN root. A
    // shallow clone's manifests reference the SOURCE table's files by
    // absolute path — without this containment check, vacuuming a clone
    // (e.g. right after the compaction that detaches it) would delete
    // the live source table's data. Foreign refs just fall out of the
    // dropped manifests; their owner's vacuum is the only thing that may
    // ever delete them.
    val ownRoot = fsOf(spark, root)
      .makeQualified(new org.apache.hadoop.fs.Path(root)).toUri.getPath
    def owned(f: String) =
      new org.apache.hadoop.fs.Path(f).toUri.getPath
        .startsWith(ownRoot.stripSuffix("/") + "/")
    // on a branch workspace, ownership is nested: a published file lives
    // under THIS root but belongs to the parent's history too — the
    // workspace may expire its own versions, never the file main adopted
    // (see [[parentProtectedPaths]])
    val parentLive = parentProtectedPaths(spark, root)
    val deadFiles = (drop.flatMap(refs).toSet -- keptFiles).filter(owned)
      .filterNot(f =>
        parentLive.contains(new org.apache.hadoop.fs.Path(f).toUri.getPath))
    // segments are references like files: dead = referenced ONLY by
    // dropped manifests (an append chain shares segments, so most segs
    // survive any prefix vacuum; an overwrite orphans the whole chain)
    val keptSegs = retain.flatMap(v => manifestSegRefs(spark, root, v)).toSet
    val deadSegs = drop.flatMap(v => manifestSegRefs(spark, root, v)).toSet -- keptSegs
    // manifests FIRST, then their files: a crash mid-vacuum must leave
    // only harmless orphan data files, never a listed-but-unreadable
    // version (files-first would strand manifests pointing at nothing)
    drop.foreach { v =>
      fs.delete(
        new org.apache.hadoop.fs.Path(msDir(root), s"v$v.manifest"), false)
      fs.delete(
        new org.apache.hadoop.fs.Path(msDir(root), s"v$v.claim"), false)
    }
    deadSegs.foreach(s => fs.delete(
      new org.apache.hadoop.fs.Path(segsDir(root), s), false))
    deadFiles.foreach(f => fs.delete(new org.apache.hadoop.fs.Path(f), false))
    VacuumStats(deadFiles.size, keptFiles.size, drop)
  }

  /** Thresholds the standing maintenance job measures the table head
    * against — the policy every table format ships as OPTIMIZE/VACUUM
    * scheduling knobs, decided from the manifest (file lists, sidecar
    * counts, commit stamps) plus one file-system length stat per live
    * file, taken once per cycle and reused by the compaction's sizing:
    * the decision starts no Spark job and reads no data, which is what
    * lets one maintenance driver poll thousands of tables.
    *
    *  - `maxDeleteFiles`: MOR sidecar debt — every sidecar is a
    *    broadcast anti-join every reader pays; past this count the debt
    *    is folded by compaction.
    *  - `maxSmallFiles` / `smallFileBytes`: small-file debt — files
    *    under `smallFileBytes` (default targetFileBytes/2) count as
    *    small; past `maxSmallFiles` of them the head is bin-packed.
    *  - `retentionMillis` / `minKeepVersions`: age-based history
    *    retention ([[vacuumSnapshotsOlderThan]] semantics — oldest
    *    prefix only, never a hole).
    *  - `orphanGraceMillis`: safety margin for the orphan sweep — an
    *    in-flight attempt's files are orphans only until its manifest
    *    commits, so only files older than the grace are swept.
    */
  case class MaintenancePolicy(
      targetFileBytes: Long = 128L << 20,
      maxDeleteFiles: Int = 4,
      maxSmallFiles: Int = 16,
      smallFileBytes: Long = -1L,
      retentionMillis: Long = 7L * 24 * 3600 * 1000,
      minKeepVersions: Int = 2,
      orphanGraceMillis: Long = ClaimGraceMillis,
      clusterBy: Seq[Column] = Nil,
      zOrderBy: Seq[Column] = Nil,
      zQuantile: Boolean = false) {
    def smallCutoff: Long =
      if (smallFileBytes > 0) smallFileBytes else targetFileBytes / 2
  }

  /** What one maintenance cycle did — debt observed, actions taken. */
  case class MaintenanceReport(
      deleteFilesBefore: Int, smallFilesBefore: Int,
      compactedVersion: Option[Int],
      vacuum: VacuumStats, orphansSwept: Int,
      indexedCols: Seq[String] = Nil)

  /** THE STANDING MAINTENANCE JOB — one call a scheduler runs per table
    * on its cadence (Delta's auto-optimize + vacuum slot, Iceberg's
    * maintenance actions): measure the head's debt against the policy,
    * compact if past threshold, expire aged history, sweep orphans.
    * Decisions read the manifest and one length stat per live file
    * ([[MaintenancePolicy]]); only a triggered compaction touches data, and it commits as a NEW version via
    * [[snapshotCompact]]'s optimistic-concurrency path — a concurrent
    * writer's commit makes the compaction fail LOUDLY (caller's next
    * cycle retries against the new head) rather than erase it.
    *
    * Order matters: compact FIRST, then retention — the compacted
    * commit supersedes the debt-laden head, so the same cycle's vacuum
    * can already expire pre-compaction versions past retention.
    * Convergence: a head below both debt thresholds triggers nothing,
    * so the cycle after a compaction is a no-op until new debt accrues —
    * maintenance never ping-pongs.
    *
    * `nowMillis` is the policy clock (injectable for tests and for
    * schedulers that pin a cycle's cutoffs); file-age checks inside the
    * orphan sweep use the same clock via the grace cutoff.
    */
  def snapshotMaintain(spark: org.apache.spark.sql.SparkSession,
      root: String, policy: MaintenancePolicy = MaintenancePolicy(),
      nowMillis: Long = System.currentTimeMillis()): MaintenanceReport = {
    val vs = snapshotVersions(spark, root)
    require(vs.nonEmpty, s"no snapshots at $root")
    val head = vs.last
    val fs = fsOf(spark, root)
    val nDel = manifestDeleteFiles(spark, root, head).size
    // one length stat per live file per cycle: the small-file count here
    // and the compaction's sizing below
    val lengths = manifestFiles(spark, root, head).map(f =>
      f -> fs.getFileStatus(new org.apache.hadoop.fs.Path(f)).getLen).toMap
    val nSmall = lengths.values.count(_ < policy.smallCutoff)
    // compaction folds BOTH debts at once (sidecars anti-join during the
    // read, bin-packing during the write) — one rewrite, never two
    val compacted =
      if (nDel >= policy.maxDeleteFiles || nSmall >= policy.maxSmallFiles)
        Some(compactWithLengths(spark, root, policy.targetFileBytes,
          policy.clusterBy, policy.zOrderBy, 16, policy.zQuantile, lengths))
      else None
    val vac = vacuumSnapshotsOlderThan(spark, root,
      nowMillis - policy.retentionMillis, policy.minKeepVersions)
    val orphans = vacuumOrphanFiles(spark, root,
      nowMillis - policy.orphanGraceMillis)
    // DECLARED BLOOM INDEXES advance in the same cycle (zero-config:
    // `CALL graft.system.index` recorded them on the table) — a
    // compaction above rewrote every file, so this is also what re-fills
    // the index after OPTIMIZE; each index table gets the table's own
    // retention applied (it is a snapshot table too)
    val idxCols = manifestHeader(spark, root,
      snapshotVersions(spark, root).last)
      .get("bloomIndex").map(_.split(",").map(_.trim)
        .filter(_.nonEmpty).toSeq).getOrElse(Nil)
    idxCols.foreach { c =>
      maintainBloomIndexFor(spark, root, c)
      vacuumSnapshotsOlderThan(spark, bloomSnapIdxRoot(root, c),
        nowMillis - policy.retentionMillis, policy.minKeepVersions)
    }
    MaintenanceReport(nDel, nSmall, compacted, vac, orphans, idxCols)
  }
}
