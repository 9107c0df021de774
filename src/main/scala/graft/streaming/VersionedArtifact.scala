package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** Batch-id-versioned standing artifact — the generic mechanics under
  * every foreachBatch maintenance loop ([[StandingLabels]],
  * [[StandingHllRegisters]]): a disk artifact whose version directory
  * is the micro-batch id, which converts foreachBatch's at-least-once
  * delivery into exactly-once state.
  *
  * The contract, shared by every instance:
  *  - a version is COMMITTED iff parquet's `_SUCCESS` marker exists
  *    (an aborted write is invisible);
  *  - a replayed batch whose version is already COMMITTED is a
  *    reader-safe NO-OP (the id's offset range was pinned before
  *    processing, so the rows are the same and the deterministic
  *    absorb would rewrite identical bytes — but the rewrite would
  *    transiently delete files a concurrent reader may be scanning);
  *  - an absorb whose version is absent or UNCOMMITTED crash debris
  *    reads the newest committed version STRICTLY BELOW its id —
  *    never its own failed attempt — and overwrites `v=N` whole
  *    (absorb must be a deterministic function of (predecessor
  *    state, batch rows, batch id) — every caller here is);
  *  - pruning keeps the newest [[keepBehind]]+1 versions at or below
  *    the batch just written, never state ahead of a replayed batch;
  *  - `v=-1` is the bootstrap slot: a batch-built artifact handed
  *    into the loop sorts before every real batch id.
  *
  * CLUSTER CONTRACT: like SideTables, `root` must be storage the
  * driver and every executor see at the same path; all probes go
  * through the Hadoop FileSystem of the root's scheme.
  */
object VersionedArtifact {

  /** versions kept behind the newest. One predecessor suffices for
    * replay correctness; the second is margin for an operator
    * diffing "what changed" across the last absorb. */
  private val keepBehind = 2

  private def fsFor(s: SparkSession, p: Path): FileSystem =
    p.getFileSystem(s.sparkContext.hadoopConfiguration)

  /** A FRESH stream (batch id 0) over a root that already has
    * committed post-bootstrap history is a checkpoint/root mismatch —
    * the operator reset or relocated the offset checkpoint but kept
    * the artifact root. Under the committed-version no-op rule every
    * replayed-looking batch up to the old high-water mark would be
    * SILENTLY SKIPPED (arriving rows discarded with no error), so the
    * mismatch must fail loudly at the first batch instead. Batch ids
    * only advance after the previous offset commit, so a legitimate
    * batch-0 replay can coexist with at most version 0 (plus the
    * bootstrap's -1) — anything newer proves the WAL and the root
    * disagree. */
  private[streaming] def guardCheckpointReset(batchId: Long,
      committed: Seq[Long], root: String): Unit =
    if (batchId == 0L && committed.exists(_ > 0L))
      throw new IllegalStateException(
        s"versioned-artifact root $root has committed versions up to " +
          s"${committed.max} but the stream is starting at batch 0 — " +
          "its checkpoint was reset or points elsewhere. Reprocessing " +
          "into this root needs a fresh (or deliberately emptied) root; " +
          "resuming needs the original checkpointLocation.")

  /** The FIRST batch after a (re)start must line up with the root's
    * committed high-water mark — [[guardCheckpointReset]] only
    * catches a reset to batch 0, but a WRONG-BUT-NONZERO checkpoint
    * (copied from another stream, or a root swapped under a live
    * checkpoint) whose next batch id is at or below the high-water
    * mark would hit the committed-version no-op rule and silently
    * discard arriving rows. Structured Streaming pins a batch's
    * offsets in the WAL before processing and its commit log lags the
    * WAL by at most one batch, while the artifact version commits
    * INSIDE the batch — so a legitimate first batch is either
    * `hi` (crash between artifact commit and the stream's commit log;
    * replays as a no-op) or `hi + 1` (normal advance). Anything else
    * proves the WAL and the root disagree. A root with no real
    * versions (fresh, or bootstrap-only `v=-1`) can only legitimately
    * meet batch 0. Enforced on the first batch of every
    * [[maintain]]/[[maintainTables]] run; direct [[absorbBatch]]
    * replay-test calls keep only the batch-0 guard. */
  private[streaming] def guardFirstBatch(batchId: Long, committed: Seq[Long],
      root: String): Unit = {
    val hi = committed.filter(_ >= 0L).lastOption
    val ok = hi match {
      case Some(h) => batchId == h || batchId == h + 1
      case None => batchId == 0L
    }
    if (!ok)
      throw new IllegalStateException(
        s"versioned-artifact root $root has committed high-water mark " +
          s"${hi.getOrElse(-1L)} but this run's first batch id is " +
          s"$batchId — the offset checkpoint belongs to a different " +
          "stream or the root was swapped under a live checkpoint. " +
          "Resuming needs the matching (root, checkpointLocation) pair.")
  }

  /** committed (`_SUCCESS`-marked) version ids under `root`,
    * ascending. */
  private[graft] def committedVersions(s: SparkSession,
      root: String): Seq[Long] = {
    val rootP = new Path(root)
    val fs = fsFor(s, rootP)
    if (!fs.exists(rootP)) return Seq.empty
    fs.listStatus(rootP).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("v="))
      .filter(st => fs.exists(new Path(st.getPath, "_SUCCESS")))
      .map(_.getPath.getName.stripPrefix("v=").toLong)
      .sorted
  }

  /** the newest committed state — what consumers read between
    * batches. Zero-row table of `schema` before any commit. */
  def readLatest(s: SparkSession, root: String,
      schema: StructType): DataFrame =
    committedVersions(s, root).lastOption match {
      case Some(v) => s.read.parquet(s"$root/v=$v")
      case None => s.createDataFrame(
        s.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    }

  /** seed the loop from a batch-built artifact (version -1). Refuses
    * to clobber a root that already has committed versions. */
  def bootstrap(artifact: DataFrame, root: String): Unit = {
    require(committedVersions(artifact.sparkSession, root).isEmpty,
      s"versioned-artifact root $root already has committed versions")
    artifact.write.mode("overwrite").parquet(s"$root/v=-1")
  }

  /** one absorb step — the foreachBatch body. `absorb` must be a
    * deterministic function of its arguments (see object scaladoc);
    * it receives the predecessor state (zero rows of `schema` on cold
    * start), the batch rows, and the batch id.
    *
    * Replay discipline, two cases:
    *  - `v=<batchId>` is already COMMITTED → no-op. Structured
    *    Streaming pins a batch id's offset range in the WAL before
    *    processing, so a replayed batch carries the same rows and the
    *    deterministic absorb would rewrite identical bytes — but the
    *    rewrite would first DELETE files a concurrent reader of the
    *    committed version may be mid-scan over. Skipping is both
    *    faster and the only reader-safe choice.
    *  - `v=<batchId>` exists UNCOMMITTED (crash mid-write) → nothing
    *    can have read it (no marker), so recompute from the
    *    predecessor and overwrite whole. */
  def absorbBatch(batch: DataFrame, batchId: Long, root: String,
      schema: StructType, firstOfRun: Boolean = false)
      (absorb: (DataFrame, DataFrame, Long) => DataFrame): Unit = {
    val s = batch.sparkSession
    val committed = committedVersions(s, root)
    guardCheckpointReset(batchId, committed, root)
    if (firstOfRun) guardFirstBatch(batchId, committed, root)
    if (!committed.contains(batchId)) {
      val standing = committed.filter(_ < batchId).lastOption match {
        case Some(v) => s.read.parquet(s"$root/v=$v")
        case None => s.createDataFrame(
          s.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      }
      absorb(standing, batch, batchId)
        .write.mode("overwrite").parquet(s"$root/v=$batchId")
    }
    // prune: only versions at or below the batch just written — a
    // replayed batch must never delete state AHEAD of itself
    val live = committedVersions(s, root).filter(_ <= batchId)
    val fs = fsFor(s, new Path(root))
    live.dropRight(keepBehind + 1)
      .foreach(v => fs.delete(new Path(root, s"v=$v"), true))
  }

  /** start a maintenance loop: every micro-batch is absorbed into the
    * standing artifact at `root`. `checkpoint` holds the source's
    * offset progress; the artifact itself is versioned by batch id,
    * which is what makes the at-least-once re-run exactly-once. */
  def maintain(stream: DataFrame, root: String, checkpoint: String,
      schema: StructType)
      (absorb: (DataFrame, DataFrame, Long) => DataFrame)
      : StreamingQuery = {
    val first = new java.util.concurrent.atomic.AtomicBoolean(true)
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch((b: DataFrame, id: Long) =>
        absorbBatch(b, id, root, schema,
          firstOfRun = first.getAndSet(false))(absorb))
      .start()
  }
}
