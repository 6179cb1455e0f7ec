package graft.streaming

import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

import graft.ops.Layout

/** `readStream` SOURCE OVER THE SNAPSHOT CDF — the Delta-streaming-
  * source slot: the manifest-versioned table becomes a Structured
  * Streaming input, each micro-batch carrying exactly the rows the
  * commits in `(lastOffset, head]` added (the insert side,
  * [[Layout.changeInserts]], of the change feed — append lineage is
  * metadata-priced, overwrite lineage row-exact), stamped with their
  * commit version in `_graft_version`. Incremental consumers
  * (maintained views, indexes, downstream curation) stop polling and
  * ride engine triggers:
  *
  * {{{
  * spark.readStream.format("graft-cdf").option("path", root).load()
  * }}}
  *
  * EXACTLY-ONCE is offset arithmetic, not faith: the offset IS the
  * snapshot version number. The engine's WAL records (start, end] per
  * batch; a replay after any crash calls `getBatch` with the same
  * version interval, and the manifest layer reconstructs the identical
  * delta (committed manifests are immutable). Composing with the
  * epoch-keyed snapshot sink (ST29) or the overwrite-idempotent cache
  * layout gives end-to-end exactly-once with no source-side state at
  * all — the checkpoint holds two integers.
  *
  * Schema is pinned at stream start (the head manifest's recorded
  * schema); later additive evolution null-fills through the union and
  * is projected back to the pinned columns — a restart picks up the
  * widened schema. The DEFAULT mode is the insert-CDF: MOR deletes are
  * not emitted as retractions (maintainers that need delete awareness
  * check [[Layout.snapshotAppendLineage]] and recompute, same contract
  * as the poll path). `.option("mode", "cdc")` switches to the OP-TYPED
  * feed: each batch carries `_change_type` ∈ {insert, delete,
  * update_preimage, update_postimage} rows from
  * [[Layout.snapshotChanges]] — what a downstream mirror or maintained
  * join consumes to apply retractions exactly.
  *
  * 100 TB: `getOffset` is one manifest-directory listing;  a batch
  * plans O(delta bytes) — the stream never rescans the table.
  * `.option("maxVersionsPerTrigger", n)` bounds each micro-batch to n
  * commits (Delta's `maxFilesPerTrigger` slot) so a backfill over deep
  * history streams as bounded batches instead of one giant first batch.
  */
class CdfSourceProvider extends StreamSourceProvider with DataSourceRegister {

  override def shortName(): String = "graft-cdf"

  private def rootOf(parameters: Map[String, String]): String =
    parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft-cdf needs .option(\"path\", <snapshot table root>)"))

  private def cdcOf(parameters: Map[String, String]): Boolean =
    parameters.getOrElse("mode", "insert") match {
      case "insert" => false
      case "cdc" => true
      case m => throw new IllegalArgumentException(
        s"graft-cdf mode '$m': use 'insert' (added rows only, the " +
          "default) or 'cdc' (op-typed rows with _change_type)")
    }

  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) =
    (shortName(), schema.getOrElse(
      CdfSource.cdfSchema(sqlContext, rootOf(parameters), cdcOf(parameters))))

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source = {
    val cdc = cdcOf(parameters)
    val maxV = parameters.get("maxVersionsPerTrigger").map { s =>
      val n = s.toInt
      require(n > 0, s"maxVersionsPerTrigger must be positive (got $n)")
      n
    }
    // startingVersion v: serve only commits AFTER v (Delta's slot —
    // "don't backfill, start from here"); "latest" resolves the head at
    // stream creation so only post-start commits flow
    require(!(parameters.contains("startingVersion") &&
      parameters.contains("startingTimestamp")),
      "startingVersion and startingTimestamp are exclusive")
    val startV = parameters.get("startingVersion").map {
      case "latest" =>
        val vs = Layout.snapshotVersions(sqlContext.sparkSession,
          rootOf(parameters))
        if (vs.isEmpty) 0 else vs.last
      case s =>
        val v = s.toInt
        require(v >= 0, s"startingVersion must be >= 0 (got $v)")
        v
    }.orElse(parameters.get("startingTimestamp").map { s =>
      // serve only commits stamped AFTER the instant (epoch millis):
      // the watermark seeds at the latest commit at-or-before it
      val cut = s.toLong
      Layout.snapshotTimestamps(sqlContext.sparkSession, rootOf(parameters))
        .takeWhile(_._2 <= cut).lastOption.map(_._1).getOrElse(0)
    }).getOrElse(0)
    new CdfSource(sqlContext, rootOf(parameters),
      schema.getOrElse(CdfSource.cdfSchema(sqlContext, rootOf(parameters),
        cdc)), cdc, maxV, startV)
  }
}

object CdfSource {
  /** The emitted column carrying each row's commit version. */
  val VersionCol = "_graft_version"

  /** CDC mode's op column: `insert` | `delete` (Delta CDF's shape). */
  val ChangeTypeCol = "_change_type"

  private[streaming] def cdfSchema(sqlContext: SQLContext,
      root: String, cdc: Boolean = false): StructType = {
    val meta = Layout.snapshotMeta(sqlContext.sparkSession, root)
    val base = meta.schema.getOrElse(
      if (meta.paths.isEmpty) new StructType()
      else sqlContext.sparkSession.read.option("mergeSchema", "true")
        .parquet(meta.paths: _*).schema)
    require(!base.fieldNames.contains(VersionCol),
      s"table at $root already has a $VersionCol column")
    val withOp =
      if (!cdc) base.fields
      else {
        require(!base.fieldNames.contains(ChangeTypeCol),
          s"table at $root already has a $ChangeTypeCol column")
        base.fields :+ StructField(ChangeTypeCol,
          org.apache.spark.sql.types.StringType, nullable = false)
      }
    StructType(withOp :+ StructField(VersionCol, IntegerType,
      nullable = false))
  }
}

class CdfSource(sqlContext: SQLContext, root: String,
    declaredSchema: StructType, cdc: Boolean = false,
    maxVersionsPerTrigger: Option[Int] = None,
    startingVersion: Int = 0) extends Source {

  private def spark = sqlContext.sparkSession

  override def schema: StructType = declaredSchema

  private def versionOf(o: Offset): Int = o match {
    case l: LongOffset => l.offset.toInt
    case other => other.json().trim.toInt
  }

  /** RATE-LIMIT watermark (`maxVersionsPerTrigger`, Delta's
    * `maxFilesPerTrigger` slot): the highest version this source has
    * offered or served. `getOffset` offers at most N versions past it —
    * a backfill over a long table history becomes a sequence of bounded
    * micro-batches instead of one unbounded batch that must fit in one
    * trigger. Restart-safe: the engine replays the offset log's last
    * `getBatch` BEFORE asking for new offsets (the V1 source recovery
    * contract), which re-seeds this watermark; and `getOffset` never
    * offers below it, so a capped offer can never rewind the WAL.
    */
  @volatile private var lastOffered: Int = startingVersion

  override def getOffset: Option[Offset] = {
    val vs = Layout.snapshotVersions(spark, root)
    if (vs.isEmpty) None
    else {
      val head = vs.last
      val capped = maxVersionsPerTrigger match {
        case Some(n) =>
          // versions can be sparse (vacuumed prefix) — cap by POSITION
          // among the pending versions, not by arithmetic on ids
          val pending = vs.filter(_ > lastOffered)
          if (pending.isEmpty) math.max(lastOffered, vs.last)
          else pending.take(n).last
        case None => head
      }
      val offer = math.max(capped, lastOffered)
      if (offer <= 0) None
      else {
        lastOffered = offer
        Some(LongOffset(offer.toLong))
      }
    }
  }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    // first batch of a fresh stream (no WAL) starts at startingVersion,
    // so a `startingVersion` consumer never backfills the prefix
    val since = start.map(versionOf).getOrElse(startingVersion)
    val endV = versionOf(end)
    if (endV > lastOffered) lastOffered = endV
    val deltas = Layout.snapshotChangesWalk(spark, root, since, endV).map {
      case (v, ch) => (if (cdc) ch else Layout.changeInserts(ch))
        .withColumn(CdfSource.VersionCol, lit(v))
    }
    // an empty interval (getBatch on recovery) answers an empty frame;
    // additive evolution mid-stream widens the union, not this stream's
    // PINNED schema
    val projected = Layout.unionToSchema(spark, deltas, declaredSchema)
    // the engine asserts isStreaming on the returned frame
    org.apache.spark.sql.GraftDatasetBridge.streamingDataFrame(
      spark, projected)
  }

  override def stop(): Unit = ()
}
