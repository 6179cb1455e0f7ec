package graft.ops

import org.apache.spark.sql.Dataset

/** CHECKPOINT-STRATEGY KNOB for every operator that pins an
  * intermediate result (dedup signature passes, iterative
  * connected-components rounds, the flagship's gated survivors):
  *
  *  - `spark.graft.checkpoint.mode = local` (default):
  *    `localCheckpoint()` — executor-memory-pinned blocks
  *    (MEMORY_AND_DISK), zero extra I/O, the right default on a real
  *    cluster where the working set spreads across executors.
  *  - `spark.graft.checkpoint.mode = disk`: reliable `checkpoint()` to
  *    `spark.graft.checkpoint.dir` (defaults to a per-JVM temp dir) —
  *    blocks leave the heap entirely. This is the single-JVM /
  *    memory-constrained escape hatch: local[32] concentrates the whole
  *    "cluster's" pinned working set in ONE heap, and at sf1 the
  *    flagship's concurrent checkpoint blocks + broadcast builds
  *    exhaust the default 8 g — with `disk` the same run fits
  *    (measured; SURVEY §5.4). On a real cluster this memory is
  *    per-executor, so `local` stays the default.
  *
  * Both modes cut lineage eagerly — the property the iterative callers
  * (CC loops, fixed-point ranks) actually rely on — so the swap is
  * semantics-free. One helper, session-scoped, read per call: a
  * memory-tight stage can flip the conf mid-pipeline.
  */
object Pin {

  private val dirLock = new Object

  def apply[T](ds: Dataset[T]): Dataset[T] = {
    val spark = ds.sparkSession
    measured(spark.conf.get("spark.graft.checkpoint.mode", "local") match {
      case "disk" =>
        val sc = spark.sparkContext
        dirLock.synchronized {
          if (sc.getCheckpointDir.isEmpty) {
            val d = spark.conf.get("spark.graft.checkpoint.dir",
              java.nio.file.Files
                .createTempDirectory("graft-ckpt").toString)
            sc.setCheckpointDir(d)
          }
        }
        ds.checkpoint()
      case _ => ds.localCheckpoint()
    })
  }

  /** MEASURED STATISTICS for the pinned frame — the misestimated-
    * broadcast fix. A checkpointed Dataset's `LogicalRDD` snapshots the
    * ORIGIN plan's size estimate, and Catalyst prices array columns at
    * fixed default widths — a (doc_id, minhash[128]) frame "estimates"
    * under the 10 MB broadcast threshold while its real unsafe-row size
    * is 50×: the planner then broadcasts the whole signature corpus
    * into every join against it (observed: the sf1 flagship OOMing an
    * 8 g heap AND running 3× slower than its shuffled plan). The pin
    * has already materialized every row, so the REAL size is one cheap
    * cached-scan away: sum the unsafe-row byte sizes (exactly what a
    * broadcast build would allocate), count the rows, and rebuild the
    * LogicalRDD with the measured Statistics. Genuinely small frames
    * keep broadcasting; big ones stop lying. Scale-correct by
    * construction — the same frame broadcasts at sf0.1 and shuffles at
    * sf1, each because of its true size.
    */
  private def measured[T](pinned: Dataset[T]): Dataset[T] = {
    val spark = pinned.sparkSession
    // FAST PATH, zero jobs: the eager pin just registered its blocks
    // with the block manager — their reported memory/disk size IS the
    // materialized size (deserialized object size for in-memory blocks,
    // a slightly-conservative proxy for the broadcast build). One
    // driver-side lookup per pin; iterative callers (per-round CC pins)
    // pay nothing.
    val quick: Option[Long] = for {
      id <- org.apache.spark.sql.GraftStatsBridge.underlyingRddId(pinned)
      info <- spark.sparkContext.getRDDStorageInfo.find(_.id == id)
      if info.memSize + info.diskSize > 0
    } yield info.memSize + info.diskSize
    quick match {
      case Some(bytes) =>
        org.apache.spark.sql.GraftStatsBridge.withStats(pinned, bytes, None)
      case None =>
        // measuring pass (disk checkpoints — their blocks aren't cache
        // entries): one cheap scan of the materialized rows, exact
        // unsafe-row bytes + row count
        val (bytes, rows) = pinned.queryExecution.toRdd.mapPartitions { it =>
          var b = 0L
          var n = 0L
          it.foreach { r =>
            n += 1
            r match {
              case u: org.apache.spark.sql.catalyst.expressions.UnsafeRow =>
                b += u.getSizeInBytes
              case other => b += 8L * math.max(1, other.numFields)
            }
          }
          Iterator.single((b, n))
        }.fold((0L, 0L)) { case ((b1, n1), (b2, n2)) => (b1 + b2, n1 + n2) }
        org.apache.spark.sql.GraftStatsBridge.withStats(pinned, bytes,
          Some(rows))
    }
  }

  /** Release a pinned frame's storage blocks early (iterative callers:
    * each CC/fixed-point round's pin supersedes the previous round's,
    * and labelClusters' pinned edge list fully subsumes its pinned pair
    * input — without an explicit release the superseded blocks stay
    * resident for the whole loop, ~rounds× the per-round bytes at scale).
    * A LOCAL checkpoint cannot recompute, so this is safe only once no
    * later job reads the frame; no-op for non-pinned frames and for disk
    * checkpoints (their files are not cache entries).
    */
  def unpin[T](ds: Dataset[T]): Unit =
    org.apache.spark.sql.GraftStatsBridge.unpersistUnderlying(ds)

  /** `df.pin()` — the drop-in spelling at every former
    * `localCheckpoint()` call site.
    */
  implicit class Pinned[T](private val ds: Dataset[T]) extends AnyVal {
    def pin(): Dataset[T] = Pin(ds)
  }
}
