package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{broadcast, col}

import graft.queries.{Ckpt, PipelineOps}

/** Size-gated shard-vs-standing dedup — the asymmetric probe shared
  * by the [[StandingGraph]] edge path and [[StandingBandIndex]]'s
  * first-write-wins gate: the standing table is SCANNED (streamed
  * through a join probe), never shuffled or broadcast; only the
  * shard side — |micro-batch|-bounded in normal operation — crosses
  * the wire. A `Trigger.AvailableNow` backfill makes "the shard" the
  * whole source, so both probes ride
  * [[PipelineOps.relabelBroadcastMaxRows]]: past the ceiling they
  * degrade to shuffle-hash joins with the shard as build side (one
  * data-proportional shuffle of standing — the honest price of a
  * corpus-sized batch) instead of a driver OOM.
  *
  * A gate decision in the steady state costs ONE job:
  * [[collectWithin]]'s `limit(n+1).collect()` is both the size probe
  * and the data fetch while the result is driver-small
  * ([[fetchMaxRows]]); past that it probes with a count that returns
  * no rows, so a gate that fails holds at most [[fetchMaxRows]] of
  * its rows on the driver.
  * A caller that already knows an upper bound on a side's size (a
  * shard bounded by the micro-batch's row count) passes it and pays
  * no job at all.
  */
private[graft] object Gate {

  /** the broadcast/collect ceiling every gate here rides. */
  def ceiling: Long = PipelineOps.relabelBroadcastMaxRows

  /** rows a gate probe fetches in the same job as its size decision:
    * [[PipelineOps.ccDriverSolveMaxEdges]] (2M by default), the driver
    * bound of the `ccDriverSolve` probe this one mirrors. */
  def fetchMaxRows: Long = PipelineOps.ccDriverSolveMaxEdges

  /** join side for a frame whose size the driver bounds by `rows`:
    * broadcast within the ceiling, the shuffle-hash build side above
    * it — decided with no job. */
  def bounded(df: DataFrame, rows: Long): DataFrame =
    if (rows <= ceiling) broadcast(df) else df.hint("shuffle_hash")

  private def limitOf(n: Long): Int =
    math.min(math.max(n, 0L), Int.MaxValue - 2L).toInt

  /** `df`'s rows when it has at most `gate` of them, else None. Within
    * [[fetchMaxRows]] one `limit(+1).collect()` probes and fetches
    * (the `ccDriverSolve` idiom); a larger side is sized by a
    * `limit(gate+1).count()` that returns no rows, and collected only
    * once it is known to pass the gate. */
  def collectWithin(df: DataFrame, gate: Long = ceiling): Option[Array[Row]] = {
    val (lim, fetch) = (limitOf(gate), limitOf(math.min(gate, fetchMaxRows)))
    val rows = df.limit(fetch + 1).collect()
    if (rows.length <= fetch) Some(rows)
    else if (fetch == lim || df.limit(lim + 1).count() > lim) None
    else Some(df.collect())
  }

  /** shard rows whose `keys` are NOT already present in `standing`.
    * Two probes, both shard-bounded: `dup` = standing ⋈ shard (the
    * standing copies of re-delivered keys — at most |shard| rows,
    * since the standing keys are unique, the invariant this gate
    * maintains), then shard ▷ dup drops them; one decision drives
    * both probes. `shardRows` is a driver-known upper bound on the
    * shard's size: within the ceiling the shard broadcasts as is and
    * the gate costs no job. Otherwise the shard is lineage-cut FIRST
    * so the gating count and both join probes share one
    * materialization — its upstream (typically a distinct over the
    * micro-batch) would otherwise re-evaluate three times. */
  def antiAgainstStanding(standing: DataFrame, shard: DataFrame,
      keys: Seq[String], shardRows: Option[Long] = None): DataFrame = {
    val keyCols = keys.map(col)
    val (sh, rows) = shardRows match {
      case Some(n) if n <= ceiling => (shard, n)
      case known =>
        val cut = Ckpt.cut(shard, true)
        (cut, known.getOrElse(cut.limit(limitOf(ceiling) + 1).count()))
    }
    // an inner join, not a semi join: the optimizer pushes a semi
    // join below a union, and `standing` is typically a union of
    // version directories, so each branch would rebuild the shard's
    // broadcast. Duplicate matches cannot change the anti join below
    val dup = standing.select(keyCols: _*)
      .join(bounded(sh.select(keyCols: _*), rows), keys)
    sh.join(bounded(dup, rows), keys, "left_anti")
  }
}
