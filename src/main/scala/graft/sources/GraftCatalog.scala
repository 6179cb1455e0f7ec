package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession, SQLContext}
import org.apache.spark.sql.connector.catalog.{Identifier, ProcedureCatalog, SupportsDelete, SupportsRead, SupportsWrite, Table, TableCapability, TableCatalog, TableChange}
import org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.sources.{AlwaysTrue, BaseRelation, EqualNullSafe, EqualTo, Filter, In, InsertableRelation, TableScan}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.ops.Layout

/** SQL/DataSourceV2 SURFACE for the manifest-versioned snapshot layer —
  * the `DeltaCatalog` slot: register with
  *
  * {{{
  * spark.sql.catalog.graft      = graft.sources.GraftCatalog
  * spark.sql.catalog.graft.root = /warehouse/dir
  * }}}
  *
  * and every snapshot table under the root is a first-class SQL table:
  *
  *  - `SELECT … FROM graft.t` — reads plan through Spark's OWN DSv2
  *    parquet scan (vectorized, filter-pushdown, column-pruned) over the
  *    pinned manifest's file list; a table carrying MOR delete sidecars
  *    falls back to the sidecar-aware [[Layout.readSnapshot]] engine via
  *    a `V1Scan`, so SQL reads are NEVER wrong, only (transiently,
  *    until compaction) less vectorized.
  *  - `SELECT … FROM graft.t VERSION AS OF 3` / `TIMESTAMP AS OF …` —
  *    time travel via `loadTable(ident, version|timestamp)`; pinned
  *    versions are read-only (writes/deletes refuse loudly).
  *  - `INSERT INTO graft.t …` → [[Layout.snapshotAppend]];
  *    `INSERT OVERWRITE` → [[Layout.snapshotOverwrite]] — every write is
  *    a manifest commit (atomic, versioned), never a bare file drop.
  *  - `DELETE FROM graft.t WHERE key = v / key IN (…)` →
  *    [[Layout.snapshotDeleteMOR]] (O(keys) sidecar commit, no data
  *    rewrite); unqualified `DELETE FROM t` truncates via an
  *    empty-overwrite commit.
  *  - `MERGE INTO graft.t` → the COW merge engine
  *    ([[Layout.snapshotMergeKeys]]) through
  *    [[graft.plans.GraftMergeRule]] (inject
  *    `graft.functions.GraftExtensions`).
  *
  * Identifiers map to directories: `graft.t` → `<root>/t`,
  * `graft.ns.t` → `<root>/ns/t`. `CREATE TABLE` commits an empty v1
  * carrying the declared schema; `statsKey` / `partCol` TBLPROPERTIES
  * become the table's manifest properties (declared once, enforced by
  * the commit path thereafter).
  *
  * 100 TB: `loadTable` resolves ONE manifest (O(files) metadata); scans
  * hand Spark an explicit file list, so planning cost is the same as
  * the Scala-side [[Layout.snapshotTable]] path, and all data I/O is
  * Spark's native vectorized parquet reader.
  */
class GraftCatalog extends TableCatalog with ProcedureCatalog
    with org.apache.spark.sql.connector.catalog.FunctionCatalog {

  private var catName: String = _
  private var warehouse: String = _

  private def spark: SparkSession = SparkSession.active

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catName = name
    warehouse = Option(options.get("root")).getOrElse(throw
      new IllegalArgumentException(
        s"graft catalog '$name' needs spark.sql.catalog.$name.root=<dir>"))
  }

  override def name(): String = catName

  private def rootOf(ident: Identifier): String =
    (warehouse +: ident.namespace.toSeq :+ ident.name).mkString("/")

  private def existingRoot(ident: Identifier): String = {
    val r = rootOf(ident)
    if (Layout.snapshotVersions(spark, r).isEmpty)
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        (catName +: ident.namespace.toSeq :+ ident.name).toSeq)
    r
  }

  override def tableExists(ident: Identifier): Boolean =
    Layout.snapshotVersions(spark, rootOf(ident)).nonEmpty

  // ---- FunctionCatalog: the layout functions partition transforms
  // resolve through (bucket → shuffle-free bucketed SPJ; see
  // [[GraftBucketUnbound]])
  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty)
      Array("bucket", "days", "hours")
        .map(Identifier.of(Array.empty[String], _))
    else Array.empty

  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    ident.name match {
      case "bucket" if ident.namespace.isEmpty => new GraftBucketUnbound
      case f @ ("days" | "hours") if ident.namespace.isEmpty =>
        new GraftTemporalUnbound(f)
      case _ => throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchFunctionException(ident)
    }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = (warehouse +: namespace.toSeq).mkString("/")
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) Array.empty
    else fs.listStatus(p).filter(_.isDirectory)
      .filter(st => fs.exists(new Path(st.getPath, "_manifests")))
      .map(st => Identifier.of(namespace, st.getPath.getName))
  }

  override def loadTable(ident: Identifier): Table = {
    val r = rootOf(ident)
    if (Layout.snapshotVersions(spark, r).nonEmpty)
      GraftTable(r, ident.toString, -1)
    else metaTableOf(ident).orElse(branchTableOf(ident)).getOrElse {
      existingRoot(ident) // throws the canonical NoSuchTableException
      throw new IllegalStateException("unreachable")
    }
  }

  /** WRITABLE BRANCH IDENTIFIERS (Iceberg's `t.branch_<name>` shape):
    * `graft.t.branch_dev` resolves to the branch's workspace — a full
    * table root — as an ordinary read/WRITE table, so
    * `INSERT INTO graft.t.branch_dev …`, `MERGE INTO`, `UPDATE`,
    * `DELETE`, and metadata reads all run against the branch with the
    * main line untouched until `CALL graft.system.publish`. A real
    * table at the same identifier shadows the branch name (checked
    * first above, like the metadata tables).
    */
  private def branchTableOf(ident: Identifier): Option[Table] =
    if (ident.namespace.isEmpty || !ident.name.startsWith("branch_")) None
    else {
      val name = ident.name.stripPrefix("branch_")
      val parent = Identifier.of(ident.namespace.init, ident.namespace.last)
      val parentRoot = rootOf(parent)
      if (Layout.snapshotVersions(spark, parentRoot).isEmpty) None
      else if (!Layout.snapshotRefs(spark, parentRoot)
          .exists(rf => rf.name == name && rf.kind == "branch")) None
      else Some(GraftTable(Layout.snapshotBranchRoot(parentRoot, name),
        ident.toString, -1))
    }

  /** Iceberg-style METADATA TABLES: `SELECT … FROM graft.t.history` /
    * `graft.t.files` serve the per-version commit log and the head's
    * per-file stats inventory ([[Layout.snapshotHistory]] /
    * [[Layout.snapshotFilesTable]]) as plain read-only SQL tables —
    * resolved from manifests alone, zero data I/O. A REAL table at the
    * same identifier shadows the metadata name (checked first above).
    */
  private def metaTableOf(ident: Identifier): Option[Table] =
    if (ident.namespace.isEmpty ||
        !GraftMetaTable.Kinds.contains(ident.name)) None
    else {
      val parent = Identifier.of(ident.namespace.init, ident.namespace.last)
      val parentRoot = rootOf(parent)
      if (Layout.snapshotVersions(spark, parentRoot).isEmpty) None
      else Some(GraftMetaTable(parentRoot, ident.name, ident.toString))
    }

  /** `VERSION AS OF n` — the snapshot version number, exactly the
    * integer [[Layout.snapshotAppend]] returned / `snapshotHistory`
    * lists. A NON-integer resolves as a NAMED REF
    * ([[Layout.snapshotRefs]]): `VERSION AS OF 'stable'` reads the
    * tagged version; `VERSION AS OF 'dev'` reads the branch's workspace
    * head — Iceberg's branch/tag read surface.
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    val root = existingRoot(ident)
    val v =
      try version.toInt
      catch { case _: NumberFormatException =>
        val (refRoot, refV) =
          try Layout.snapshotRefTarget(spark, root, version)
          catch { case e: IllegalArgumentException =>
            throw new IllegalArgumentException(
              s"VERSION AS OF '$version': not an integer version and " +
                s"no ref with that name (${e.getMessage})")
          }
        return GraftTable(refRoot, ident.toString, refV)
      }
    require(Layout.snapshotVersions(spark, root).contains(v),
      s"version $v not committed at $root")
    GraftTable(root, ident.toString, v)
  }

  /** `TIMESTAMP AS OF ts` — Spark hands micros since epoch; commits are
    * wall-clock stamped in millis, and the read resolves to the latest
    * version committed at or before the instant.
    */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val root = existingRoot(ident)
    val tsMillis = timestamp / 1000L
    val eligible = Layout.snapshotTimestamps(spark, root)
      .filter(_._2 <= tsMillis)
    require(eligible.nonEmpty,
      s"TIMESTAMP AS OF $tsMillis predates the first commit at $root")
    GraftTable(root, ident.toString, eligible.last._1)
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    // `PARTITIONED BY (col)` — ONE identity transform — stays sugar for
    // the partCol table property (the SPJ/overwrite-scoped layout).
    // Transforms and multi-column specs (`PARTITIONED BY (days(ts),
    // bucket(16, key))`) become the partSpec property
    // ([[graft.ops.PartSpec]]): each file records its distinct
    // TRANSFORMED value set per dimension, and predicates/DPP on the
    // source columns prune through them. Either way the columns stay IN
    // the data (no directory encoding).
    def dimOf(t: Transform, i: Int): graft.ops.PartSpec.Dim = {
      def colOf: String = {
        require(t.references.length == 1 &&
          t.references()(0).fieldNames.length == 1,
          s"partition transform ${t.describe} must reference one " +
            "top-level column")
        t.references()(0).fieldNames()(0)
      }
      def intArg: Int = t.arguments.collectFirst {
        case lv: org.apache.spark.sql.connector.expressions.Literal[_]
            if lv.value.isInstanceOf[Number] =>
          lv.value.asInstanceOf[Number].intValue()
      }.getOrElse(throw new IllegalArgumentException(
        s"partition transform ${t.describe} needs an integer argument"))
      t.name.toLowerCase match {
        case "identity" => graft.ops.PartSpec.Identity(i, colOf)
        case "days" => graft.ops.PartSpec.Days(i, colOf)
        case "hours" => graft.ops.PartSpec.Hours(i, colOf)
        case "bucket" => graft.ops.PartSpec.Bucket(i, intArg, colOf)
        case "truncate" => graft.ops.PartSpec.Truncate(i, intArg, colOf)
        case other => throw new IllegalArgumentException(
          s"unsupported partition transform '$other' — supported: " +
            "identity, days, hours, bucket(n, c), truncate(w, c) " +
            "(calendar months/years intentionally absent: their " +
            "session-timezone dependence would make write-side and " +
            "prune-side values diverge across deployments)")
      }
    }
    val (partFromTransforms, specFromTransforms)
        : (Option[String], Option[String]) = partitions.toSeq match {
      case Nil => (None, None)
      case Seq(t) if t.name == "identity" && t.references.length == 1 &&
          t.references()(0).fieldNames.length == 1 =>
        (Some(t.references()(0).fieldNames()(0)), None)
      case ts =>
        val dims = ts.zipWithIndex.map { case (t, i) => dimOf(t, i) }
        graft.ops.PartSpec.validate(dims, schema,
          spark.sessionState.conf.resolver)
        (None, Some(graft.ops.PartSpec.render(dims)))
    }
    val root = rootOf(ident)
    if (Layout.snapshotVersions(spark, root).nonEmpty)
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(
          (catName +: ident.namespace.toSeq :+ ident.name).toSeq)
    def prop(k: String): Option[String] =
      properties.asScala.collectFirst {
        case (pk, pv) if pk.equalsIgnoreCase(k) => pv }
    for (p1 <- partFromTransforms; p2 <- prop("partCol"))
      require(p1 == p2, s"PARTITIONED BY ($p1) and TBLPROPERTIES " +
        s"partCol='$p2' disagree")
    val partCol = partFromTransforms.orElse(prop("partCol"))
    val partSpec = specFromTransforms.orElse(prop("partSpec"))
    require(partCol.isEmpty || partSpec.isEmpty,
      "declare either a single identity partition (partCol) or a " +
        "transform spec (partSpec), not both")
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], schema)
    // user properties (incl. check.* constraints) declare at CREATE and
    // carry with the table; engine-declared and Spark-reserved keys stay
    // out of the generic channel
    val userProps = properties.asScala.toMap.filter { case (k, _) =>
      val lk = k.toLowerCase
      // reserved keys filter CASE-INSENSITIVELY, matching prop()'s
      // lookup — TBLPROPERTIES('PartCol'='x') declares partCol and must
      // not ALSO leak a stray 'PartCol' user property into the header
      !Layout.ReservedProps.exists(_.equalsIgnoreCase(k)) &&
        !Set("provider", "location", "owner", "comment", "external",
          "option.path", "path").contains(lk) &&
        !lk.startsWith("option.")
    }
    (partCol, partSpec) match {
      case (Some(pc), _) => Layout.snapshotAppendPartitioned(spark, root,
        empty, pc, statsKey = prop("statsKey"), extraProps = userProps,
        ndvKey = prop("ndvKey"), histKey = prop("histKey"))
      case (None, Some(sp)) => Layout.snapshotAppendSpec(spark, root,
        empty, sp, statsKey = prop("statsKey"), extraProps = userProps,
        ndvKey = prop("ndvKey"), histKey = prop("histKey"))
      case (None, None) => Layout.snapshotAppend(spark, root, empty,
        statsKey = prop("statsKey"), clusterBy = prop("clusterBy"),
        extraProps = userProps, ndvKey = prop("ndvKey"),
        histKey = prop("histKey"))
    }
    GraftTable(root, ident.toString, -1)
  }

  /** `ALTER TABLE graft.t ADD COLUMN(S) …` — a metadata-only commit of
    * the widened schema ([[Layout.snapshotAddColumns]]): existing rows
    * read the new columns as null, time travel below the commit keeps
    * the narrow schema. Top-level nullable appends only (the additive
    * evolution the engine supports); everything else refuses loudly.
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val root = existingRoot(ident)
    // RENAME / DROP COLUMN: metadata-only commits via the column-mapping
    // layer ([[Layout.snapshotRenameColumn]]/[[Layout.snapshotDropColumn]])
    // — old files keep their physical names, reads alias, zero data I/O.
    // One rename or one drop per statement (Spark's SQL grammar's shape).
    // SET/UNSET TBLPROPERTIES: one metadata commit for the whole
    // statement; check.* constraints validate against existing rows
    // inside snapshotSetProperties
    if (changes.forall(c => c.isInstanceOf[TableChange.SetProperty] ||
        c.isInstanceOf[TableChange.RemoveProperty]) && changes.nonEmpty) {
      val sets = changes.collect {
        case s: TableChange.SetProperty => s.property -> s.value }.toMap
      val unsets = changes.collect {
        case r: TableChange.RemoveProperty => r.property }
      Layout.snapshotSetProperties(spark, root, sets, unsets)
      return GraftTable(root, ident.toString, -1)
    }
    changes.toSeq match {
      case Seq(r: TableChange.RenameColumn) =>
        require(r.fieldNames.length == 1,
          s"nested RENAME COLUMN ${r.fieldNames.mkString(".")} not supported")
        Layout.snapshotRenameColumn(spark, root, r.fieldNames.head, r.newName)
        return GraftTable(root, ident.toString, -1)
      case Seq(d: TableChange.DeleteColumn) =>
        require(d.fieldNames.length == 1,
          s"nested DROP COLUMN ${d.fieldNames.mkString(".")} not supported")
        Layout.snapshotDropColumn(spark, root, d.fieldNames.head)
        return GraftTable(root, ident.toString, -1)
      case _ => ()
    }
    val adds = changes.collect { case a: TableChange.AddColumn => a }
    require(adds.size == changes.size,
      "graft ALTER TABLE supports ADD COLUMN(S), RENAME COLUMN, and " +
        "DROP COLUMN; type changes are overwrite-class operations " +
        "(REPLACE TABLE)")
    val fields = adds.map { a =>
      require(a.fieldNames.length == 1,
        s"nested ADD COLUMN ${a.fieldNames.mkString(".")} not supported")
      require(a.isNullable,
        s"ADD COLUMN ${a.fieldNames.head}: new columns must be nullable " +
          "(existing rows have no value for them)")
      require(a.position() == null,
        s"ADD COLUMN ${a.fieldNames.head}: FIRST/AFTER positions not " +
          "supported (new columns append)")
      org.apache.spark.sql.types.StructField(
        a.fieldNames.head, a.dataType, nullable = true)
    }
    Layout.snapshotAddColumns(spark, root,
      org.apache.spark.sql.types.StructType(fields))
    GraftTable(root, ident.toString, -1)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val p = new Path(rootOf(ident))
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.exists(new Path(p, "_manifests")) && fs.delete(p, true)
  }

  // ---- SQL stored procedures (`CALL graft.system.…`): the maintenance
  // surface as SQL — see [[GraftProcedures]]
  override def loadProcedure(ident: Identifier): UnboundProcedure =
    GraftProcedures.load(spark, warehouse, ident)

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(GraftProcedures.Namespace))
      GraftProcedures.Names
        .map(n => Identifier.of(GraftProcedures.Namespace, n)).toArray
    else Array.empty

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val fs = new Path(warehouse)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val src = new Path(rootOf(oldIdent))
    val dst = new Path(rootOf(newIdent))
    if (!fs.exists(new Path(src, "_manifests")))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        (catName +: oldIdent.namespace.toSeq :+ oldIdent.name).toSeq)
    require(fs.rename(src, dst), s"rename $src -> $dst failed")
  }
}

/** One snapshot table version as a DSv2 [[Table]] — see
  * [[GraftCatalog]] for the surface. `pinnedVersion < 0` means "head"
  * (writable); an explicit version (time travel) is read-only.
  */
case class GraftTable(root: String, identName: String, pinnedVersion: Int)
    extends Table with SupportsRead with SupportsWrite with SupportsDelete {

  private def spark: SparkSession = SparkSession.active

  // resolved ONCE per loaded table: the query's pinned manifest
  @transient private lazy val meta = Layout.snapshotMeta(
    spark, root, pinnedVersion)

  private[graft] def tableRoot: String = root
  private[graft] def writable: Boolean = pinnedVersion < 0
  private def requireWritable(op: String): Unit =
    require(writable,
      s"$op targets $identName pinned at VERSION AS OF ${meta.version} — " +
        "time-traveled tables are read-only")

  override def name(): String = identName

  override def schema(): StructType = meta.schema.getOrElse {
    if (meta.paths.isEmpty) new StructType()
    else spark.read.option("mergeSchema", "true")
      .parquet(meta.paths: _*).schema
  }

  override def properties(): util.Map[String, String] =
    meta.header.asJava

  // a declared partCol surfaces as identity partitioning (DESCRIBE /
  // SHOW CREATE show it; INSERT OVERWRITE … PARTITION resolves on it);
  // a partSpec surfaces its transforms
  override def partitioning(): Array[Transform] = {
    import org.apache.spark.sql.connector.expressions.Expressions
    meta.header.get("partCol")
      .map(pc => Array(Expressions.identity(pc)))
      .orElse(meta.header.get("partSpec").map(sp =>
        graft.ops.PartSpec.parse(sp).map {
          case d: graft.ops.PartSpec.Identity => Expressions.identity(d.col)
          case d: graft.ops.PartSpec.Days => Expressions.days(d.col)
          case d: graft.ops.PartSpec.Hours => Expressions.hours(d.col)
          case d: graft.ops.PartSpec.Bucket => Expressions.bucket(d.n, d.col)
          case d: graft.ops.PartSpec.Truncate =>
            Expressions.apply("truncate",
              Expressions.literal(Integer.valueOf(d.w)),
              Expressions.column(d.col))
        }.toArray))
      .getOrElse(Array.empty)
  }

  // AUTOMATIC_SCHEMA_EVOLUTION gates `MERGE WITH SCHEMA EVOLUTION`:
  // Spark's ResolveMergeIntoSchemaEvolution then widens the table
  // through this catalog's alterTable (the metadata-only ADD COLUMN
  // commit) before the graft merge rule plans the rewrite
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    if (!meta.hasDeleteSidecars) {
      // clean table: the manifest-planned scan ([[GraftScan]]) — static
      // file pruning from manifest stats, optimizer statistics from the
      // pruned real bytes, runtime (DPP) re-pruning — delegating data
      // I/O to Spark's own vectorized DSv2 parquet batch over the
      // surviving file list
      new GraftScanBuilder(root, identName, meta.version, schema(), options)
    } else {
      // MOR sidecar debt: route through readSnapshot's anti-join engine
      // (a V1 scan — correct always; compaction restores the fast path).
      // The builder still accepts column pruning + filter pushdown: both
      // re-apply inside readSnapshot's DataFrame plan, so the projection
      // and predicates reach the underlying parquet scan instead of
      // materializing every column of every row through the bridge.
      val tbl = this
      new ScanBuilder
          with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns
          with org.apache.spark.sql.connector.read.SupportsPushDownFilters {
        private var required: Option[StructType] = None
        private var pushed: Array[org.apache.spark.sql.sources.Filter] =
          Array.empty
        override def pruneColumns(requiredSchema: StructType): Unit =
          required = Some(requiredSchema)
        override def pushFilters(
            filters: Array[org.apache.spark.sql.sources.Filter])
            : Array[org.apache.spark.sql.sources.Filter] = {
          // remember translatable ones for the scan; report ALL of them
          // back as unhandled so Spark re-evaluates the full predicate
          pushed = filters.filter(V1Filters.toColumn(_).isDefined)
          filters
        }
        override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] =
          pushed
        override def build(): Scan = new V1Scan {
          private val outSchema = required.getOrElse(tbl.schema())
          override def readSchema(): StructType = outSchema
          override def toV1TableScan[T <: BaseRelation with TableScan](
              context: SQLContext): T =
            new BaseRelation with TableScan {
              override def sqlContext: SQLContext = context
              override def schema: StructType = outSchema
              // real bytes (one listing per commit dir), so a small MOR
              // table still broadcasts in joins instead of inheriting
              // the unknowable-huge V1 default
              override def sizeInBytes: Long =
                V1Filters.bytesOf(tbl.spark, meta.paths)
              override def buildScan()
                  : org.apache.spark.rdd.RDD[Row] = {
                val base = Layout.readSnapshot(tbl.spark, tbl.root,
                  meta.version)
                val filtered = V1Filters.conjunctionOf(pushed.toSeq)
                  .map(base.filter).getOrElse(base)
                (if (outSchema.isEmpty) filtered.select()
                 else filtered.select(outSchema.fieldNames.toIndexedSeq
                   .map(n => org.apache.spark.sql.functions.col(s"`$n`")): _*))
                  .rdd
              }
            }.asInstanceOf[T]
        }
      }
    }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate
        with org.apache.spark.sql.connector.write.SupportsOverwrite {
      private var overwrite = false
      // Some(values): partition-scoped replace; None: whole-table
      private var scope: Option[Seq[String]] = None
      override def truncate(): WriteBuilder = { overwrite = true; this }

      /** `INSERT OVERWRITE … PARTITION (pc=v)` arrives as a conjunction
        * of filters on the partition column: translate to the value set
        * and route to the partition-scoped engine; `AlwaysTrue` is the
        * unqualified overwrite. Anything else refuses loudly — a filter
        * this writer can't honor exactly must never silently widen or
        * narrow the replaced scope.
        */
      override def overwrite(filters: Array[Filter]): WriteBuilder = {
        overwrite = true
        scope = partitionScopeOf(filters)
        if (scope.isEmpty && !filters.forall(_ == AlwaysTrue))
          throw new UnsupportedOperationException(
            s"graft INSERT OVERWRITE supports PARTITION (=/IN on the " +
              s"declared partCol) or the unqualified form; got: " +
              filters.mkString(", "))
        this
      }

      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, ovr: Boolean): Unit = {
              requireWritable(if (overwrite || ovr) "INSERT OVERWRITE"
                else "INSERT")
              (if (overwrite || ovr) scope else None) match {
                case Some(values) =>
                  Layout.snapshotOverwritePartitions(spark, root, data, values)
                case None if overwrite || ovr =>
                  Layout.snapshotOverwrite(spark, root, data)
                case None =>
                  Layout.snapshotAppend(spark, root, data)
              }
            }
          }
      }
    }

  /** The partition-value set a filter conjunction pins the declared
    * partCol to — None when it isn't exactly that shape.
    */
  private def partitionScopeOf(filters: Array[Filter]): Option[Seq[String]] = {
    val pc = meta.header.get("partCol").getOrElse(return None)
    def valuesOf(f: Filter): Option[Set[String]] = f match {
      case EqualTo(c, v) if c.equalsIgnoreCase(pc) =>
        Option(v).map(x => Set(x.toString))
      case EqualNullSafe(c, v) if c.equalsIgnoreCase(pc) =>
        Option(v).map(x => Set(x.toString))
      case In(c, vs) if c.equalsIgnoreCase(pc) && vs.forall(_ != null) =>
        Some(vs.map(_.toString).toSet)
      case _ => None
    }
    // AlwaysTrue and an IsNotNull on the partition column are no-ops
    // here (the equality conjuncts imply the latter) — dropping them is
    // lenient, never scope-changing
    val nonTrivial = filters.filterNot {
      case AlwaysTrue => true
      case org.apache.spark.sql.sources.IsNotNull(c) =>
        c.equalsIgnoreCase(pc)
      case _ => false
    }
    if (nonTrivial.isEmpty) None
    else {
      val sets = nonTrivial.map(valuesOf)
      if (sets.exists(_.isEmpty)) None
      else Some(sets.flatten.reduce(_ intersect _).toSeq.sorted)
    }
  }

  // ---- DELETE FROM: key equality/IN-list → O(keys) MOR sidecar commit;
  // unqualified delete → truncating empty-overwrite commit
  private def deleteKeysOf(
      filters: Array[Filter]): Option[(String, Array[Long])] = {
    def longsOf(vs: Array[Any]): Option[Array[Long]] = {
      val ls = vs.collect {
        case n: Long => n
        case n: Int => n.toLong
        case n: Short => n.toLong
        case n: Byte => n.toLong
      }
      if (ls.length == vs.length) Some(ls) else None
    }
    filters match {
      case Array(EqualTo(c, v)) => longsOf(Array(v)).map(c -> _)
      case Array(EqualNullSafe(c, v)) => longsOf(Array(v)).map(c -> _)
      case Array(In(c, vs)) => longsOf(vs).map(c -> _)
      case _ => None
    }
  }

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    filters.forall(_.isInstanceOf[AlwaysTrue]) ||
      deleteKeysOf(filters).isDefined ||
      filters.forall(V1Filters.exactColumn(_).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    requireWritable("DELETE")
    if (filters.forall(_.isInstanceOf[AlwaysTrue])) {
      Layout.snapshotOverwrite(spark, root,
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema()))
    } else deleteKeysOf(filters) match {
      case Some((keyCol, keys)) =>
        // keyed shape: equality sidecar — zero data I/O on the write
        // side (manifest-stat scoping), the cheapest delete there is
        Layout.snapshotDeleteMOR(spark, root, keyCol, keys)
      case None =>
        // ARBITRARY predicate: position-delete sidecar — one predicate
        // scan, O(matched rows) of metadata committed, zero data files
        // rewritten (the deletion-vector path; no unique key required).
        // Translation must be EXACT — a weakened predicate would
        // over-delete.
        val exact = filters.map(V1Filters.exactColumn)
        if (exact.forall(_.isDefined) && exact.nonEmpty)
          Layout.snapshotDeletePositions(spark, root,
            exact.flatten.reduce(_ && _))
        else throw new UnsupportedOperationException(
          "graft DELETE could not translate the WHERE clause exactly; " +
            "for predicates outside the V1 filter surface run a COW " +
            "rewrite via Layout.snapshotMergeKeys")
    }
  }
}

/** A read-only metadata table over a snapshot table's manifests —
  * `graft.t.history` (per-version commit log), `graft.t.files` (the
  * head's per-file stats inventory), and `graft.t.changes` (the FULL
  * op-typed change feed, Delta's `table_changes` TVF as a plain table:
  * every version's [[Layout.snapshotChanges]] delta, one
  * [[Layout.snapshotChangesWalk]], stamped
  * `_graft_version`, `_change_type` ∈ {insert, delete,
  * update_preimage, update_postimage}). history/files
  * are manifest-priced (planning and execution never touch a data
  * byte); `changes` accepts VERSION-RANGE PUSHDOWN — conjuncts on
  * `_graft_version` (`>`, `>=`, `<`, `<=`, `=`, `IN`, `BETWEEN`)
  * restrict which versions' deltas are COMPUTED at all, so
  * `WHERE _graft_version > 40` on a 50-commit table prices the scan at
  * the last 10 deltas (append lineage metadata-priced, MOR-delete
  * transitions O(scoped files)), not the full history.
  */
case class GraftMetaTable(root: String, kind: String, identName: String)
    extends Table with SupportsRead {

  private def spark: SparkSession = SparkSession.active

  private def df: DataFrame = kind match {
    case "history" => Layout.snapshotHistory(spark, root)
    case "files" => Layout.snapshotFilesTable(spark, root)
    case "partitions" => Layout.snapshotPartitionsTable(spark, root)
    case "detail" => Layout.snapshotDetail(spark, root)
    case "refs" =>
      // named refs inventory (`graft.t.refs`): one row per tag/branch
      // — the queryable twin of history's per-version refs column
      val sp = spark
      import sp.implicits._
      Layout.snapshotRefs(spark, root)
        .map(r => (r.name, r.kind, r.version))
        .toDF("name", "kind", "version")
  }

  private def changesSchema: StructType = {
    val meta = Layout.snapshotMeta(spark, root)
    val base = meta.schema.getOrElse {
      if (meta.paths.isEmpty) new StructType()
      else spark.read.option("mergeSchema", "true")
        .parquet(meta.paths: _*).schema
    }
    StructType(base.fields :+
      org.apache.spark.sql.types.StructField("_change_type",
        org.apache.spark.sql.types.StringType, nullable = true) :+
      org.apache.spark.sql.types.StructField("_graft_version",
        org.apache.spark.sql.types.IntegerType, nullable = true) :+
      org.apache.spark.sql.types.StructField("_commit_ts",
        org.apache.spark.sql.types.LongType, nullable = true))
  }

  override def name(): String = identName
  override def schema(): StructType =
    if (kind == "changes") changesSchema else df.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  /** [lo, hi] a conjunct proves for `_graft_version` — the weakening
    * rule of [[V1Filters]]: only restrictions IMPLIED by the predicate
    * (plain comparisons, IN, conjunctions) narrow the computed range;
    * anything else leaves the side unrestricted.
    */
  private def versionBoundOf(f: org.apache.spark.sql.sources.Filter)
      : Option[(Int, Int)] = {
    import org.apache.spark.sql.sources._
    val res = spark.sessionState.conf.resolver
    def isV(a: String) = res(a, "_graft_version")
    def num(v: Any): Option[Int] = v match {
      case n @ (_: java.lang.Integer | _: java.lang.Long |
                _: java.lang.Short | _: java.lang.Byte) =>
        Some(n.asInstanceOf[Number].intValue())
      case _ => None
    }
    f match {
      case EqualTo(a, v) if isV(a) => num(v).map(x => (x, x))
      case GreaterThan(a, v) if isV(a) => num(v).map(x => (x + 1, Int.MaxValue))
      case GreaterThanOrEqual(a, v) if isV(a) => num(v).map(x => (x, Int.MaxValue))
      case LessThan(a, v) if isV(a) => num(v).map(x => (Int.MinValue, x - 1))
      case LessThanOrEqual(a, v) if isV(a) => num(v).map(x => (Int.MinValue, x))
      case In(a, vs) if isV(a) =>
        val ns = vs.flatMap(num)
        if (ns.length == vs.length && ns.nonEmpty) Some((ns.min, ns.max))
        else None
      case And(l, r) =>
        (versionBoundOf(l), versionBoundOf(r)) match {
          case (Some((a1, b1)), Some((a2, b2))) =>
            Some((math.max(a1, a2), math.min(b1, b2)))
          case (x, None) => x
          case (None, y) => y
        }
      case _ => None
    }
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val tbl = this
    if (kind != "changes") {
      new ScanBuilder {
        override def build(): Scan = new V1Scan {
          override def readSchema(): StructType = tbl.schema()
          override def toV1TableScan[T <: BaseRelation with TableScan](
              context: SQLContext): T =
            new BaseRelation with TableScan {
              override def sqlContext: SQLContext = context
              override def schema: StructType = tbl.schema()
              override def buildScan(): org.apache.spark.rdd.RDD[Row] =
                tbl.df.rdd
            }.asInstanceOf[T]
        }
      }
    } else new ScanBuilder
        with org.apache.spark.sql.connector.read.SupportsPushDownFilters {
      private var lo = Int.MinValue
      private var hi = Int.MaxValue
      override def pushFilters(
          filters: Array[org.apache.spark.sql.sources.Filter])
          : Array[org.apache.spark.sql.sources.Filter] = {
        filters.flatMap(versionBoundOf).foreach { case (l, h) =>
          lo = math.max(lo, l); hi = math.min(hi, h)
        }
        filters // all re-evaluated by Spark — bounds only prune compute
      }
      override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] =
        Array.empty
      override def build(): Scan = new V1Scan {
        private val outSchema = tbl.changesSchema
        override def readSchema(): StructType = outSchema
        override def toV1TableScan[T <: BaseRelation with TableScan](
            context: SQLContext): T =
          new BaseRelation with TableScan {
            override def sqlContext: SQLContext = context
            override def schema: StructType = outSchema
            override def buildScan(): org.apache.spark.rdd.RDD[Row] = {
              import org.apache.spark.sql.functions.lit
              val stamps = Layout.snapshotTimestamps(tbl.spark, tbl.root)
              val all = stamps.map(_._1)
              // the walk starts at the last version below the range and
              // stops at the last version this scan saw stamped
              val since = all.takeWhile(_ < lo).lastOption.getOrElse(0)
              val ts = stamps.toMap
              val deltas = Layout.snapshotChangesWalk(tbl.spark, tbl.root,
                  since, math.min(hi, all.lastOption.getOrElse(0))).map {
                case (v, ch) => ch.withColumn("_graft_version", lit(v))
                  .withColumn("_commit_ts", lit(ts(v)))
              }
              // additive evolution mid-history must not change this
              // table's declared shape
              Layout.unionToSchema(tbl.spark, deltas, outSchema).rdd
            }
          }.asInstanceOf[T]
      }
    }
  }
}

object GraftMetaTable {
  val Kinds: Set[String] =
    Set("history", "files", "changes", "partitions", "detail", "refs")
}
