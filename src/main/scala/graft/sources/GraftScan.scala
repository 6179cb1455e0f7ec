package graft.sources

import java.util.OptionalLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression, In, Literal, EqualTo => CatEqualTo}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownRequiredColumns, SupportsReportStatistics, SupportsRuntimeFiltering}
import org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
import org.apache.spark.sql.sources.{Filter, EqualTo => SrcEqualTo, In => SrcIn}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.ops.Layout

/** MANIFEST-PLANNED DSv2 SCAN for snapshot tables — the clean-table read
  * path behind [[GraftCatalog]] (`SELECT … FROM graft.t`), closing the
  * three scale gaps a bare file-list scan leaves open at 100 TB:
  *
  *  1. '''Static file pruning''': pushed catalyst predicates prune the
  *     version's file list through [[SnapshotFileIndex]]'s manifest-stats
  *     engine (integral/string/double ranges, partition-value sets,
  *     null counts) BEFORE a single split is planned — the SQL surface
  *     now skips files exactly like the Scala-side
  *     [[Layout.snapshotTable]] path (q97/q99's evidence).
  *  2. '''Manifest statistics''' ([[SupportsReportStatistics]]): the
  *     optimizer sees the PRUNED byte size (real per-file lengths) and,
  *     for unfiltered scans, the exact manifest row count — so a fact
  *     table filtered to one partition broadcasts in a join instead of
  *     inheriting an unknowably-huge default and shuffling 100 TB.
  *  3. '''Runtime filtering / DPP''' ([[SupportsRuntimeFiltering]]): the
  *     scan advertises its partition + stats columns; Spark's dynamic
  *     partition pruning plants the dim-side subquery, and the delivered
  *     `IN` filter RE-prunes the file list at execution — the fact side
  *     of a star join reads only the files whose partition values /
  *     stats ranges survive the dimension's selective predicate.
  *
  * Data I/O stays Spark's own vectorized parquet machinery: the scan
  * delegates to a [[org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable]]
  * built over the pruned file list, with the same predicates re-pushed
  * (row-group pruning) and the same projection re-pruned. Every pruning
  * decision is conservative — an unprovable conjunct keeps the file, and
  * Spark re-evaluates the full predicate on the rows — so over-keeping
  * is only a cost, never a wrong answer.
  */
private[graft] object GraftScanUtil {

  /** Inner parquet scan over `paths`, with the projection and (the
    * translatable subset of) `filters` re-applied — ONE constructor for
    * the static plan and every runtime re-plan, so the two can never
    * diverge in options or schema.
    */
  def innerScan(identName: String, tableSchema: StructType,
      required: StructType, filters: Seq[Expression],
      paths: Seq[String], options: CaseInsensitiveStringMap): Scan = {
    val spark = SparkSession.active
    val tbl = org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable(
      identName,
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      new CaseInsensitiveStringMap(Map("mergeSchema" -> "true").asJava),
      paths,
      Some(tableSchema),
      classOf[org.apache.spark.sql.execution.datasources
        .parquet.ParquetFileFormat])
    val sb = tbl.newScanBuilder(options)
    sb match {
      case c: SupportsPushDownCatalystFilters => c.pushFilters(filters)
      case _ => ()
    }
    sb match {
      case p: SupportsPushDownRequiredColumns => p.pruneColumns(required)
      case _ => ()
    }
    sb.build()
  }
}

/** The [[ScanBuilder]] [[GraftCatalog]] hands Spark for a sidecar-free
  * snapshot table: receives catalyst pushdown (filters + projection),
  * resolves the manifest ONCE, and builds a [[GraftScan]]. All filters
  * are reported back as post-scan residuals (Spark re-evaluates them on
  * rows); pruning uses only what it can prove.
  */
private[graft] class GraftScanBuilder(root: String, identName: String,
    version: Int, tableSchema: StructType, options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownCatalystFilters
    with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {

  private def spark: SparkSession = SparkSession.active

  private var required: StructType = tableSchema
  private var filters: Seq[Expression] = Nil
  private var aggScan: Option[Scan] = None

  // one manifest resolution per scan build, shared by the agg path
  private lazy val manifest: (Int, Seq[Layout.FileEntry], Map[String, String]) =
    Layout.snapshotEntriesFor(spark, root, version)

  override def pushFilters(f: Seq[Expression]): Seq[Expression] = {
    // deterministic conjuncts inform file pruning; everything comes back
    // as a residual, so correctness never depends on the pruning proof
    filters = f.filter(_.deterministic)
    f
  }

  // plan display: the conjuncts the manifest pruner will consider
  override def pushedFilters(): Array[Predicate] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  // ---- METADATA-ONLY AGGREGATES (Iceberg's count-from-manifest trick,
  // as DSv2 aggregate pushdown): an unfiltered global COUNT(*) /
  // COUNT(col) / MIN(col) / MAX(col) over a clean snapshot answers from
  // the manifest in O(entries) with ZERO data I/O — the SQL twin of
  // [[Layout.snapshotRowCount]]. Refusal is always safe: anything not
  // provably exact falls back to the real scan.

  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = answerFromManifest(agg).isDefined

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = {
    val s = answerFromManifest(agg)
    if (s.isDefined) { aggScan = s; true } else false
  }

  /** The one-row scan answering `agg` from manifest stats, or None when
    * any part is not PROVABLY exact:
    *  - any pushed filter, grouping, or distinct → refuse (only global
    *    plain aggregates answer);
    *  - a stat-less entry → refuse (row counts unknowable);
    *  - MIN/MAX: integral-class columns only (plain ints, DATE,
    *    TIMESTAMP — exactly what the manifest records exactly), and any
    *    entry recording the conservative full-range sentinel (all-null
    *    file, unsupported logical type) refuses — a sentinel is a
    *    "don't know", never a bound;
    *  - COUNT(col): every live entry must record a null count for it.
    * Empty tables (or all-empty files) answer COUNT 0 / MIN,MAX null.
    */
  private def answerFromManifest(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[Scan] = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    import org.apache.spark.sql.connector.expressions.aggregate._
    import org.apache.spark.sql.types._
    if (filters.nonEmpty || agg.groupByExpressions().nonEmpty) return None
    val (v, entries, header) = manifest
    if (entries.exists(_.stats.isEmpty)) return None
    val live = entries.filter(_.stats.get.rows > 0)
    val resolver = spark.sessionState.conf.resolver
    def colNameOf(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[String] = e match {
      case nr: NamedReference if nr.fieldNames().length == 1 =>
        tableSchema.fields.map(_.name).find(resolver(_, nr.fieldNames()(0)))
      case _ => None
    }
    def physOf(c: String) = Layout.physicalNameOf(header, c)
    val Sentinel = (Long.MinValue, Long.MaxValue)
    def exactRanges(c: String): Option[Seq[(Long, Long)]] = {
      val rs = live.map(_.stats.get.cols.get(physOf(c)))
      if (rs.exists(r => r.isEmpty || r.contains(Sentinel))) None
      else Some(rs.map(_.get))
    }
    def integralType(c: String): Option[DataType] =
      tableSchema.fields.find(f => resolver(f.name, c)).map(_.dataType)
        .filter {
          case ByteType | ShortType | IntegerType | LongType | DateType |
               TimestampType | TimestampNTZType => true
          case _ => false
        }
    def box(v: Long, dt: DataType): Any = dt match {
      case ByteType => v.toByte
      case ShortType => v.toShort
      case IntegerType | DateType => v.toInt
      case _ => v
    }
    val answered = agg.aggregateExpressions().toSeq.map {
      case _: CountStar =>
        Some(("count(*)", LongType: DataType,
          entries.map(_.stats.get.rows).sum: Any))
      case c: Count if !c.isDistinct =>
        for {
          name <- colNameOf(c.column())
          nulls <- {
            val ns = live.map(_.stats.get.nulls.get(physOf(name)))
            if (ns.exists(_.isEmpty)) None else Some(ns.map(_.get).sum)
          }
        } yield (s"count($name)", LongType: DataType,
          (live.map(_.stats.get.rows).sum - nulls): Any)
      case m: Min =>
        for {
          name <- colNameOf(m.column())
          dt <- integralType(name)
          rs <- exactRanges(name)
        } yield (s"min($name)", dt,
          (if (rs.isEmpty) null else box(rs.map(_._1).min, dt)): Any)
      case m: Max =>
        for {
          name <- colNameOf(m.column())
          dt <- integralType(name)
          rs <- exactRanges(name)
        } yield (s"max($name)", dt,
          (if (rs.isEmpty) null else box(rs.map(_._2).max, dt)): Any)
      case _ => None
    }
    if (answered.exists(_.isEmpty)) return None
    val cols = answered.map(_.get)
    val schema = StructType(cols.map { case (n, dt, _) =>
      StructField(n, dt, nullable = true) })
    val row = new org.apache.spark.sql.catalyst.expressions
      .GenericInternalRow(cols.map(_._3).toArray)
    Some(new GraftAggScan(schema, row,
      s"graft $identName v$v agg-from-manifest [${cols.map(_._1).mkString(", ")}]"))
  }

  override def build(): Scan = aggScan.getOrElse {
    val (v, entries, header) = manifest
    val index = new SnapshotFileIndex(spark, root, entries,
      header.get("partCol"),
      header.get("partSpec").map(graft.ops.PartSpec.parse).getOrElse(Nil))
    new GraftScan(root, identName, v, index, header, tableSchema,
      required, filters, options)
  }
}

/** The one-row driver-local result of a manifest-answered aggregate —
  * plans as a LocalTableScan: zero tasks, zero data I/O.
  */
private[graft] class GraftAggScan(schema: StructType,
    row: org.apache.spark.sql.catalyst.InternalRow, desc: String)
    extends org.apache.spark.sql.connector.read.LocalScan {
  override def rows(): Array[org.apache.spark.sql.catalyst.InternalRow] =
    Array(row)
  override def readSchema(): StructType = schema
  override def description(): String = desc
}

/** One task's worth of a partition value's files, carrying the value as
  * the partition key — what lets Spark's storage-partitioned join prove
  * two graft scans are co-partitioned and skip the shuffle.
  */
private[graft] case class GraftKeyedPartition(
    key: org.apache.spark.sql.catalyst.InternalRow,
    inner: InputPartition)
    extends InputPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): org.apache.spark.sql.catalyst.InternalRow = key
  override def preferredLocations(): Array[String] = inner.preferredLocations()
}

/** Delegates to the parquet reader factory through the key wrapper. */
private[graft] class GraftKeyedReaderFactory(inner: PartitionReaderFactory)
    extends PartitionReaderFactory {
  private def unwrap(p: InputPartition): InputPartition =
    p.asInstanceOf[GraftKeyedPartition].inner
  override def createReader(p: InputPartition) = inner.createReader(unwrap(p))
  override def createColumnarReader(p: InputPartition) =
    inner.createColumnarReader(unwrap(p))
  override def supportColumnarReads(p: InputPartition): Boolean =
    inner.supportColumnarReads(unwrap(p))
}

/** One snapshot scan: statically pruned at build, re-pruned on runtime
  * filters, delegating data I/O to the vectorized parquet batch. See
  * [[GraftScanUtil]] for the composition contract.
  */
private[graft] class GraftScan(val root: String, identName: String,
    val version: Int, index: SnapshotFileIndex,
    header: Map[String, String], tableSchema: StructType,
    val required: StructType, val dataFilters: Seq[Expression],
    options: CaseInsensitiveStringMap)
    extends Scan with SupportsReportStatistics with SupportsRuntimeFiltering
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning {

  // COLUMN MAPPING (logical -> physical; [[Layout.snapshotRenameColumn]]):
  // the query speaks logical names, the files speak physical. Schemas
  // and filters physicalize on the way IN (field-by-field rename keeps
  // positions, so rows bind positionally); readSchema logicalizes on the
  // way OUT. Mapped columns are never stats/partition columns (reserved-
  // column refusal), so the manifest pruner needs no translation.
  private val cmap: Map[String, String] = Layout.colMapOf(header)
  private val reverseMap: Map[String, String] = cmap.map(_.swap)

  private def physSchema(s: StructType): StructType =
    if (cmap.isEmpty) s
    else StructType(s.fields.map(f =>
      f.copy(name = cmap.getOrElse(f.name, f.name))))

  private def physFilters(fs: Seq[Expression]): Seq[Expression] =
    if (cmap.isEmpty) fs
    else fs.map(_.transform {
      case a: AttributeReference if cmap.contains(a.name) =>
        a.withName(cmap(a.name))
    })

  // ---- BLOOM-INDEX FILE SKIPPING (Databricks bloom-filter-index slot):
  // a table whose `bloomIndex` property lists maintained per-file bloom
  // indexes ([[Layout.maintainBloomIndexFor]]) prunes equality/IN
  // predicates on those columns through the index — point lookups on a
  // NON-clustered column plan O(bloom hits) files instead of O(table),
  // the query shape min/max stats can never serve. One distributed
  // candidate-resolution pass per indexed predicate at planning time;
  // files the index hasn't caught up to stay candidates (conservative —
  // no false negatives, exactly snapshotPointLookup's contract).
  private def bloomPrune(
      kept: Seq[(Layout.FileEntry, org.apache.hadoop.fs.FileStatus)],
      filters: Seq[Expression])
      : Seq[(Layout.FileEntry, org.apache.hadoop.fs.FileStatus)] = {
    val indexed = header.get("bloomIndex")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty)
    if (indexed.isEmpty || kept.isEmpty) return kept
    def longsOf(es: Seq[Expression]): Option[Seq[Long]] = {
      val ls = es.collect {
        case Literal(v: Long, _) => v
        case Literal(v: Int, _) => v.toLong
        case Literal(v: Short, _) => v.toLong
        case Literal(v: Byte, _) => v.toLong
      }
      if (ls.length == es.length && ls.nonEmpty) Some(ls) else None
    }
    val resolver = SparkSession.active.sessionState.conf.resolver
    val probes: Seq[(String, Seq[Long])] = filters.flatMap {
      case CatEqualTo(a: Attribute, l: Literal)
          if indexed.exists(resolver(_, a.name)) =>
        longsOf(Seq(l)).map(a.name -> _)
      case CatEqualTo(l: Literal, a: Attribute)
          if indexed.exists(resolver(_, a.name)) =>
        longsOf(Seq(l)).map(a.name -> _)
      case In(a: Attribute, vs) if indexed.exists(resolver(_, a.name)) =>
        longsOf(vs).map(a.name -> _)
      case _ => None
    }
    probes.foldLeft(kept) { case (k, (c, vals)) =>
      val status = Layout.bloomCandidateStatus(SparkSession.active,
        Layout.bloomSnapIdxRoot(root, c), vals)
      if (status.isEmpty) k // no index commits yet: nothing to prune on
      else k.filter(e => status.getOrElse(Layout.baseName(e._1.path), true))
    }
  }

  /** Static pruning happens once: the survivors of the pushed filters. */
  private val staticKept =
    bloomPrune(index.prunedEntries(physFilters(dataFilters)),
      physFilters(dataFilters))

  /** Total entries, for plan-evidence ("kept/total"). */
  private val totalFiles = index.inputFiles.length

  /** Observability twin of [[lastPlannedFiles]]'s denominator. */
  def totalFilesVisible: Int = totalFiles

  /** Runtime (DPP-delivered) filters; empty until [[filter]] runs. */
  @volatile private var runtime: Seq[Expression] = Nil

  /** Files planned by the most recent [[toBatch]] — observability for
    * the pruning specs, mirroring [[SnapshotFileIndex.lastListedFiles]].
    */
  @volatile var lastPlannedFiles: Int = staticKept.size

  /** Bytes behind the most recently planned file list. */
  @volatile var lastPlannedBytes: Long = staticKept.map(_._2.getLen).sum

  // the inner scan is rebuilt per toBatch call because BatchScanExec
  // re-invokes toBatch AFTER delivering runtime filters; schema is
  // pinned by the static build below, so only the file list varies
  private def currentInner(): Scan = {
    val kept =
      if (runtime.isEmpty) staticKept
      else bloomPrune(
        index.prunedEntries(physFilters(dataFilters ++ runtime)),
        physFilters(dataFilters ++ runtime))
    lastPlannedFiles = kept.size
    lastPlannedBytes = kept.map(_._2.getLen).sum
    GraftScanUtil.innerScan(identName, physSchema(tableSchema),
      physSchema(required), physFilters(dataFilters ++ runtime),
      kept.map(_._1.path), options)
  }

  // schema authority: the inner parquet scan decides column order
  // (dataSchema order), so readSchema MUST be taken from it — a
  // runtime re-plan only changes the file list, never the schema
  private val staticInner: Scan =
    GraftScanUtil.innerScan(identName, physSchema(tableSchema),
      physSchema(required), physFilters(dataFilters),
      staticKept.map(_._1.path), options)

  override def readSchema(): StructType = {
    val inner = staticInner.readSchema()
    if (reverseMap.isEmpty) inner
    else StructType(inner.fields.map(f =>
      f.copy(name = reverseMap.getOrElse(f.name, f.name))))
  }

  override def description(): String = {
    val cols = filterAttributes().map(_.describe()).mkString(",")
    s"graft $identName v$version files=${staticKept.size}/$totalFiles" +
      (if (cols.nonEmpty) s" runtimeFilterable=[$cols]" else "")
  }

  // ---- STORAGE-PARTITIONED JOIN (Iceberg's SPJ slot): when the table
  // declares a string `partCol` and every planned file holds EXACTLY ONE
  // partition value (the partition shuffle's normal product — recorded
  // per file in the manifest), the scan reports
  // KeyGroupedPartitioning(identity(partCol)) and plans one keyed
  // partition per value. Two graft tables partitioned on the join key
  // then join WITHOUT A SHUFFLE — at 100 TB the single largest cost of a
  // fact-fact join. Opt-in via Spark's own SPJ switch
  // (`spark.sql.sources.v2.bucketing.enabled`); any multi-value file,
  // null partition value, non-string partCol, or a projection that
  // pruned the column away falls back to the unkeyed batch — only a
  // provably value-pure layout reports co-partitioning.

  private def bucketingOn: Boolean =
    SparkSession.active.sessionState.conf
      .getConfString("spark.sql.sources.v2.bucketing.enabled", "false") == "true"

  /** Temporal (days/hours) keyed layouts are a separate opt-in: see
    * [[keyedGroupsOf]]'s tradeoff note.
    */
  private def temporalSpjOn: Boolean =
    SparkSession.active.sessionState.conf
      .getConfString("spark.graft.spj.temporal.enabled", "false") == "true"

  /** A provably key-grouped layout: the reported transforms (one per
    * dimension) plus (internal key tuple, that tuple's file paths)
    * sorted groups — or None when any planned file is not provably
    * single-valued in EVERY dimension. Qualifying shapes:
    *  - identity on a string `partCol` (key = the value, UTF8String);
    *  - a partSpec whose EVERY dim is `bucket(n, col)` (keyed under
    *    the bucketing switch) or days/hours (keyed under the temporal
    *    opt-in) — MULTI-DIMENSIONAL specs like
    *    `bucket(16, key), days(ts)` report a compound
    *    KeyGroupedPartitioning, so two tables sharing the spec join
    *    with zero exchanges on (key, ts). Every named transform
    *    resolves through [[GraftCatalog]]'s FunctionCatalog
    *    ([[GraftBucketBound]] and kin) to the exact write-side
    *    recording expression.
    */
  private case class KeyedLayout(
      transforms: Array[org.apache.spark.sql.connector.expressions.Transform],
      groups: Seq[(Seq[Any], Seq[String])])

  private def keyedGroupsOf(kept: Seq[(Layout.FileEntry,
      org.apache.hadoop.fs.FileStatus)]): Option[KeyedLayout] = {
    val resolver = SparkSession.active.sessionState.conf.resolver
    header.get("partCol") match {
      case Some(pc) =>
        val typed = tableSchema.fields.exists(f => resolver(f.name, pc) &&
          f.dataType == org.apache.spark.sql.types.StringType)
        val projected = required.fields.exists(f => resolver(f.name, pc))
        val pure = kept.nonEmpty && kept.forall(_._1.parts.exists(ps =>
          ps.size == 1 && ps.head != "\u0000"))
        if (!typed || !projected || !pure) None
        else Some(KeyedLayout(Array(Expressions.identity(pc)),
          kept.groupBy(_._1.parts.get.head).view
            .mapValues(_.map(_._1.path)).toSeq.sortBy(_._1)
            .map { case (v, ps) =>
              (Seq(org.apache.spark.unsafe.types.UTF8String
                .fromString(v): Any), ps)
            }))
      case None => header.get("partSpec")
        .map(sp => scala.util.Try(graft.ops.PartSpec.parse(sp))
          .getOrElse(Nil))
        .flatMap { dims =>
          // hash/temporal dims → transform-keyed groups; the named
          // transforms resolve through [[GraftCatalog]]'s function
          // catalog ([[GraftBucketFunction]] and kin). BUCKET dims key
          // under the standard bucketing switch: bucketed joins are
          // what the layout exists for. TEMPORAL dims need the EXTRA
          // spark.graft.spj.temporal.enabled opt-in — keying a dim
          // trades away DPP on THAT dim (key columns stay
          // un-advertised; non-key dims remain runtime-filterable —
          // see [[filterAttributes]]), so only a deployment actually
          // running co-partitioned temporal joins should pay that on
          // every query. (Task parallelism is NOT traded: the keyed
          // batch emits one keyed partition per parquet split, and
          // Spark's own partition grouping merges same-key splits only
          // when the join demands exact clustering — under
          // partially-clustered distribution a year-deep days(ts) side
          // keeps its per-file tasks.)
          // PARTIAL KEYING: key on the KEYABLE SUBSET of dims (bucket
          // always; days/hours under the temporal opt-in) — a compound
          // spec like `bucket(8, key), days(ts)` without the temporal
          // opt-in still reports KeyGroupedPartitioning(bucket) (the
          // zero-exchange bucketed join stands), while the NON-keyed
          // dims stay runtime-filterable: a DPP IN on ts prunes files
          // WITHIN the bucket groups (see [[filterAttributes]]/
          // [[toBatch]]).
          val keyable = dims.flatMap {
            case b: graft.ops.PartSpec.Bucket =>
              Some((b.idx, b.col,
                Expressions.bucket(b.n, b.col): org.apache.spark.sql
                  .connector.expressions.Transform))
            case d: graft.ops.PartSpec.Days if temporalSpjOn =>
              Some((d.idx, d.col, Expressions.days(d.col): org.apache
                .spark.sql.connector.expressions.Transform))
            case h: graft.ops.PartSpec.Hours if temporalSpjOn =>
              Some((h.idx, h.col, Expressions.hours(h.col): org.apache
                .spark.sql.connector.expressions.Transform))
            case _ => None
          }
          if (keyable.isEmpty) None else Some(keyable)
        }
        .flatMap { keyable =>
          val projected = keyable.forall { case (_, c, _) =>
            required.fields.exists(f => resolver(f.name, c)) }
          // per-file key TUPLE: exactly one recorded value in every
          // KEYED dim (a sentinel or multi-value file parses to None →
          // the whole scan falls back shuffled)
          val keys: Seq[Option[Seq[Int]]] = kept.map { case (e, _) =>
            e.parts.flatMap { ps =>
              val byDim = ps.groupBy(s => s.takeWhile(_ != ':'))
              val vals = keyable.map { case (idx, _, _) =>
                byDim.getOrElse(idx.toString, Nil) match {
                  case Seq(one) =>
                    one.substring(one.indexOf(':') + 1).toIntOption
                  case _ => None
                }}
              if (vals.exists(_.isEmpty)) None else Some(vals.map(_.get))
            }
          }
          if (!projected || kept.isEmpty || keys.exists(_.isEmpty)) None
          else {
            import scala.math.Ordering.Implicits.seqOrdering
            Some(KeyedLayout(keyable.map(_._3).toArray,
              kept.zip(keys.map(_.get)).groupBy(_._2).view
                .mapValues(_.map(_._1._1.path)).toSeq.sortBy(_._1)
                .map { case (k, ps) =>
                  (k.map(Integer.valueOf(_): Any), ps) }))
          }
        }
    }
  }

  private lazy val staticGroups: Option[KeyedLayout] =
    if (bucketingOn) keyedGroupsOf(staticKept) else None

  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    staticGroups match {
      case Some(kl) =>
        new org.apache.spark.sql.connector.read.partitioning
          .KeyGroupedPartitioning(
            kl.transforms.toArray[org.apache.spark.sql.connector
              .expressions.Expression],
            kl.groups.size)
      case None =>
        new org.apache.spark.sql.connector.read.partitioning
          .UnknownPartitioning(0)
    }

  /** One keyed InputPartition PER PARQUET SPLIT (the Iceberg contract),
    * each carrying its key-tuple row: Spark's own partition grouping
    * ([[org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanExecBase]])
    * merges same-key splits into one task only when the join demands
    * exact clustering, and KEEPS them as separate tasks under
    * partially-clustered distribution
    * (`spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled`)
    * — so a skewed or temporal side preserves its task parallelism
    * while still skipping the shuffle.
    */
  // ---- Batch identity: [[org.apache.spark.sql.execution.datasources
  // .v2.BatchScanExec]] compares scans through their BATCH objects
  // (`this.batch == other.batch`), and exchange/subquery REUSE —
  // including AQE's PlanAdaptiveDynamicPruningFilters, which silently
  // replaces a DPP filter with TRUE when no reusable broadcast is
  // found — rides that equality. An anonymous Batch per toBatch call
  // makes every graft scan unequal to every other, which killed DPP
  // whenever the DIM side of a star join was itself a graft table
  // (observed: q104's fact planning 8/8 under a selective dim). The
  // named classes below delegate equality to the OWNING scan's
  // semantic equality (runtime filters stay excluded, per the
  // invariant on [[equals]]; BatchScanExec compares runtimeFilters
  // itself).
  private class GraftKeyedBatch(val owner: GraftScan, kl: KeyedLayout)
      extends Batch {
    override def planInputPartitions(): Array[InputPartition] = {
      lastPlannedFiles = kl.groups.map(_._2.size).sum
      var i = 0
      kl.groups.flatMap { case (values, paths) =>
        val key = new org.apache.spark.sql.catalyst.expressions
          .GenericInternalRow(values.toArray)
        if (paths.isEmpty) {
          // a key group whose files a runtime (DPP) filter pruned away
          // still emits ONE empty partition carrying its key: the
          // reported KeyGroupedPartitioning's value set must survive
          // runtime filtering exactly (BatchScanExec refuses new or a
          // changed set), and the SPJ partner's alignment depends on it
          val out = GraftKeyedPartition(key,
            org.apache.spark.sql.execution.datasources
              .FilePartition(i, Array.empty))
          i += 1
          Seq(out)
        } else GraftScanUtil
          .innerScan(identName, physSchema(tableSchema),
            physSchema(required), physFilters(dataFilters ++ runtime),
            paths, options)
          .toBatch.planInputPartitions()
          .map { p =>
            val fp = p.asInstanceOf[org.apache.spark.sql.execution
              .datasources.FilePartition]
            val out = GraftKeyedPartition(key,
              org.apache.spark.sql.execution.datasources
                .FilePartition(i, fp.files))
            i += 1
            out
          }.toSeq
      }.toArray
    }
    override def createReaderFactory(): PartitionReaderFactory =
      new GraftKeyedReaderFactory(currentInner().toBatch.createReaderFactory())
    override def equals(o: Any): Boolean = o match {
      case b: GraftKeyedBatch => b.owner == owner
      case _ => false
    }
    override def hashCode(): Int = owner.hashCode()
  }

  private class GraftPlainBatch(val owner: GraftScan) extends Batch {
    private lazy val inner: Batch = currentInner().toBatch
    override def planInputPartitions(): Array[InputPartition] =
      inner.planInputPartitions()
    override def createReaderFactory(): PartitionReaderFactory =
      inner.createReaderFactory()
    override def equals(o: Any): Boolean = o match {
      case b: GraftPlainBatch => b.owner == owner
      case _ => false
    }
    override def hashCode(): Int = owner.hashCode()
  }

  override def toBatch: Batch = {
    val groups =
      if (!bucketingOn) None
      else if (runtime.isEmpty) staticGroups
      else staticGroups match {
        case Some(kl) =>
          // keyed scan + runtime (DPP) filters — delivered only on
          // NON-key columns ([[filterAttributes]]): re-prune file lists
          // WITHIN the static key groups, KEEPING every group (an
          // emptied group emits an empty partition), so the reported
          // KeyGroupedPartitioning is preserved exactly — the bucketed
          // join stays zero-exchange while the date-dim DPP filter cuts
          // the planned files
          val keptNow = bloomPrune(
            index.prunedEntries(physFilters(dataFilters ++ runtime)),
            physFilters(dataFilters ++ runtime)).map(_._1.path).toSet
          Some(kl.copy(groups =
            kl.groups.map { case (k, ps) => (k, ps.filter(keptNow)) }))
        case None => keyedGroupsOf(bloomPrune(
          index.prunedEntries(physFilters(dataFilters ++ runtime)),
          physFilters(dataFilters ++ runtime)))
      }
    groups match {
      case Some(g) => new GraftKeyedBatch(this, g)
      case None => new GraftPlainBatch(this)
    }
  }

  /** Optimizer-visible statistics from the manifest, describing THE
    * SCAN NODE'S OUTPUT — which is every row of the statically-KEPT
    * files, because [[GraftScanBuilder.pushFilters]] returns all
    * conjuncts as post-scan residuals (pruning only drops whole files
    * whose rows provably cannot match; Spark re-evaluates the full
    * predicate above the scan). So under a pushed filter the kept
    * files' row sum and merged synopses are EXACT scan-output
    * statistics, not estimates: Catalyst's own FilterEstimation owns
    * the residual's selectivity on top of this base — the same layering
    * v1 file sources get from `PruneFileSourcePartitions` + ANALYZE
    * stats. Reported: pruned real bytes always; row counts whenever
    * every kept entry carries stats; per-column DISTINCT counts for
    * the declared `ndvKey` columns — the KEPT files' KMV synopses
    * merge (k-smallest union) into one estimate, which
    * `transformV2Stats` carries into the logical plan's attributeStats
    * where CBO's filter/aggregate/join estimation reads it. For a
    * filtered scan the merge covers only surviving files, so the CBO
    * input tightens with the pruning instead of disappearing — the
    * common shape (join on a filtered fact) keeps its statistics.
    */
  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): OptionalLong =
      OptionalLong.of(staticKept.map(_._2.getLen).sum)
    override def numRows(): OptionalLong =
      if (staticKept.isEmpty) OptionalLong.of(0L)
      else if (staticKept.forall(_._1.stats.isDefined))
        OptionalLong.of(staticKept.map(_._1.stats.get.rows).sum)
      else OptionalLong.empty()
    override def columnStats(): java.util.Map[NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
      import graft.functions.{KmvSketch, QuantileSketch}
      import org.apache.spark.sql.connector.read.colstats.{
        Histogram => V2Histogram, HistogramBin => V2HistogramBin}
      if (staticKept.isEmpty)
        return java.util.Collections.emptyMap()
      val entries = staticKept.map(_._1)
      val ndvCols = entries.flatMap(_.stats.toSeq.flatMap(_.ndv.keys))
        .distinct
      val histCols = entries.flatMap(_.stats.toSeq.flatMap(_.hist.keys))
        .distinct
      // CBO's numeric estimation expects min/max/bin bounds in the
      // attribute's own value class; non-numeric types carry no
      // histogram (FilterEstimation wouldn't read one)
      def external(v: Double, dt: org.apache.spark.sql.types.DataType)
          : Option[Object] = dt match {
        case org.apache.spark.sql.types.LongType |
            org.apache.spark.sql.types.TimestampType |
            org.apache.spark.sql.types.TimestampNTZType =>
          Some(java.lang.Long.valueOf(math.round(v)))
        case org.apache.spark.sql.types.IntegerType |
            org.apache.spark.sql.types.DateType =>
          Some(java.lang.Integer.valueOf(math.round(v).toInt))
        case org.apache.spark.sql.types.ShortType =>
          Some(java.lang.Short.valueOf(math.round(v).toShort))
        case org.apache.spark.sql.types.DoubleType =>
          Some(java.lang.Double.valueOf(v))
        case org.apache.spark.sql.types.FloatType =>
          Some(java.lang.Float.valueOf(v.toFloat))
        case _ => None
      }
      val resolver = SparkSession.active.sessionState.conf.resolver
      def dataTypeOf(c: String) = tableSchema.fields
        .find(f => resolver(f.name, c)).map(_.dataType)
      val out = new java.util.HashMap[NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
      (ndvCols ++ histCols).distinct.foreach { c =>
        // every kept file must carry a synopsis, else the merge is a
        // partial view and the estimate a silent undercount
        val sketches = entries.map(_.stats.toSeq
          .flatMap(_.ndv.get(c)).headOption)
        val nullCounts = entries.map(_.stats.toSeq
          .flatMap(_.nulls.get(c)).headOption)
        val distinctEst: Option[Long] =
          if (ndvCols.contains(c) && sketches.forall(_.isDefined) &&
              nullCounts.forall(_.isDefined))
            Some(math.max(1L, math.round(KmvSketch.estimateDistinct(
              sketches.flatten.reduce((a, b) => KmvSketch.merge(a, b))
                .toArray, KmvSketch.ManifestK))))
          else None
        val nullsTotal: Option[Long] =
          if (nullCounts.forall(_.isDefined)) Some(nullCounts.flatten.sum)
          else None
        // HISTOGRAM: kept files' equi-height synopses fold into one
        // global equi-height histogram (piecewise-linear CDF sum,
        // inverted) — an EMPTY per-file list is a recorded zero-mass
        // synopsis (all-null column in that file), only an ABSENT one
        // blocks. Mass is the non-null row count, so the histogram
        // models exactly the values range predicates select over.
        val histOpt: Option[(Seq[Double], Double)] =
          if (histCols.contains(c) &&
              entries.forall(_.stats.exists(_.hist.contains(c)))) {
            val perFile = entries.map { e =>
              val s = e.stats.get
              (s.hist(c), math.max(0L, s.rows - s.nulls.getOrElse(c, 0L)))
            }
            val totalMass = perFile.map(_._2).sum
            val bounds = QuantileSketch.mergeEquiHeight(perFile)
            if (bounds.length >= 2 && totalMass > 0)
              Some((bounds, totalMass.toDouble / (bounds.length - 1)))
            else None
          } else None
        if (distinctEst.isDefined || histOpt.isDefined) {
          // logical (post-rename) name for the optimizer; distinct and
          // null counts report TOGETHER — catalyst's hasCountStats gate
          // ignores a distinct count arriving without its null count
          val logical = reverseMap.getOrElse(c, c)
          val dt = dataTypeOf(c)
          val v2hist: Option[V2Histogram] = for {
            (bounds, h) <- histOpt
            d <- dt
            if external(bounds.head, d).isDefined
          } yield {
            val nb = bounds.length - 1
            val binNdv = distinctEst
              .map(n => math.max(1L, math.round(n.toDouble / nb)))
              .getOrElse(math.max(1L, math.round(h)))
            val binArr = bounds.sliding(2).map { w =>
              val (bLo, bHi) = (w.head, w.last)
              new V2HistogramBin {
                override def lo(): Double = bLo
                override def hi(): Double = bHi
                override def ndv(): Long = binNdv
              }
            }.toArray
            new V2Histogram {
              override def height(): Double = h
              override def bins(): Array[V2HistogramBin] = binArr
            }
          }
          // min/max from the boundary extremes (the 0%/100% quantiles)
          // — FilterEstimation's interval checks want them beside a
          // histogram; sketch-exact at the ends by construction
          val (minV, maxV) = histOpt.flatMap { case (bounds, _) =>
            dt.flatMap(d => for {
              mn <- external(bounds.head, d)
              mx <- external(bounds.last, d)
            } yield (mn, mx))
          } match {
            case Some((mn, mx)) =>
              (java.util.Optional.of(mn), java.util.Optional.of(mx))
            case None => (java.util.Optional.empty[Object](),
              java.util.Optional.empty[Object]())
          }
          out.put(Expressions.column(logical),
            new org.apache.spark.sql.connector.read.colstats
              .ColumnStatistics {
              override def distinctCount(): OptionalLong =
                distinctEst.map(OptionalLong.of)
                  .getOrElse(OptionalLong.empty())
              override def nullCount(): OptionalLong =
                if (distinctEst.isDefined || v2hist.isDefined)
                  nullsTotal.map(OptionalLong.of)
                    .getOrElse(OptionalLong.empty())
                else OptionalLong.empty()
              override def min(): java.util.Optional[Object] = minV
              override def max(): java.util.Optional[Object] = maxV
              override def histogram(): java.util.Optional[V2Histogram] =
                v2hist.map(java.util.Optional.of[V2Histogram])
                  .getOrElse(java.util.Optional.empty[V2Histogram]())
            })
        }
      }
      out
    }
  }

  /** The columns a runtime `IN` filter can prune files on: the table's
    * partition column plus every column any entry records stats for.
    */
  override def filterAttributes(): Array[NamedReference] = {
    val statCols = staticKept.flatMap(_._1.stats.toSeq.flatMap(s =>
      s.cols.keys ++ s.strCols.keys ++ s.dblCols.keys)).distinct
    // partition-transform SOURCE columns prune too: a runtime IN on
    // e.g. the days(ts) source column maps through the transform to the
    // recorded dim values ([[SnapshotFileIndex]]'s dimRestr path)
    val specCols = header.get("partSpec").toSeq
      .flatMap(s => graft.ops.PartSpec.parse(s).map(_.col))
    val resolver = SparkSession.active.sessionState.conf.resolver
    // a KEYED (storage-partitioned-join) scan accepts runtime filters
    // on its NON-key columns only: [[toBatch]] re-prunes file lists
    // WITHIN the static key groups (empty groups emit empty
    // partitions), so the reported KeyGroupedPartitioning survives
    // runtime filtering byte-for-byte. KEY columns stay un-advertised:
    // a runtime filter dropping a partition VALUE would trade the
    // zero-exchange join for the prune — and SPJ already avoids the
    // shuffle DPP exists to shrink on those dims.
    val keyedSrc: Seq[String] = staticGroups.toSeq.flatMap(
      _.transforms.toSeq.flatMap(
        _.references().toSeq.flatMap(_.fieldNames().toSeq)))
    (header.get("partCol").toSeq ++ specCols ++ statCols).distinct
      .filterNot(c => keyedSrc.exists(resolver(_, c)))
      // only columns surviving the PROJECTION: Spark's PartitionPruning
      // resolves advertised refs against the scan's pruned output and
      // THROWS on a miss — a filterable column the query never reads
      // must simply not be advertised
      .filter(c => required.fields.exists(f => resolver(f.name, c)))
      .map(Expressions.column).toArray
  }

  override def filter(filters: Array[Filter]): Unit = {
    runtime = filters.toSeq.flatMap(sourceToCatalyst)
  }

  /** Runtime source-filters re-expressed as catalyst conjuncts the
    * manifest pruner understands (attr ⋈ literal only — anything else
    * is dropped, i.e. prunes nothing: conservative).
    */
  private def sourceToCatalyst(f: Filter): Option[Expression] = {
    def attrOf(name: String): Option[Attribute] =
      tableSchema.fields
        .find(fd => SparkSession.active.sessionState.conf.resolver(fd.name, name))
        .map(fd => AttributeReference(fd.name, fd.dataType)())
    f match {
      case SrcIn(name, vals) => attrOf(name).map(a =>
        In(a, vals.toSeq.map(v => Literal.create(v, a.dataType))))
      case SrcEqualTo(name, v) => attrOf(name).map(a =>
        CatEqualTo(a, Literal.create(v, a.dataType)))
      case _ => None
    }
  }

  // plan-level equality (exchange/subquery reuse): two scans of the same
  // version with semantically-equal pushdown are the same scan.
  // INVARIANT: delivered runtime (DPP) filters are deliberately EXCLUDED
  // — runtime pruning only drops files whose rows the join re-filters
  // anyway, so two scans differing solely in runtime filters produce
  // row-equivalent output and may share an exchange. If runtime filters
  // ever start feeding estimateStatistics() or otherwise change scan
  // SEMANTICS (not just pruning), they must join this comparison.
  override def equals(other: Any): Boolean = other match {
    case g: GraftScan =>
      // filters compare as a canonicalized SET: conjunct ORDER is plan
      // noise, and an order-sensitive comparison breaks sameResult
      // between a join's dim scan and its DPP subquery's twin — AQE's
      // PlanAdaptiveDynamicPruningFilters then finds no reusable
      // broadcast and silently replaces the DPP filter with TRUE
      // (observed: q104's fact planning 8/8 under a selective dim)
      g.root == root && g.version == version &&
        g.required == required &&
        g.dataFilters.map(_.canonicalized).toSet ==
          dataFilters.map(_.canonicalized).toSet
    case _ => false
  }

  override def hashCode(): Int =
    (root, version, required).hashCode()
}
