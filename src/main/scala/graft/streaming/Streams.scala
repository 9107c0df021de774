package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState, GroupStateTimeout, ListState, MapState, OutputMode, StatefulProcessor, StatefulProcessorWithInitialState, TTLConfig, TimeMode, TimerValues, ValueState}

/** one multiplexed record of the ingest queue — the
  * `(stream_key, symbol, payload)` triple of `binance-di.py:109,125`,
  * with the payload as a JSON string (flat-entry discipline). */
case class Envelope(stream: String, symbol: String, data: String)

/** one keyed, event-timed record for the custom sessionizer. */
case class SessionEvent(key: String, ts: java.sql.Timestamp, value: Double)

/** running per-key session state (bytes per key, not per event). */
case class SessionAgg(startMs: Long, endMs: Long, n: Long, sum: Double)

/** an emitted gap-closed session. */
case class ClosedSession(key: String, start_ms: Long, end_ms: Long,
    n_events: Long, sum_value: Double)

/** one change-log record for the streaming CDC materialization. */
case class KeyedChange(key: Long, ts_ms: Long, kind: String, value: Double)

/** one funnel step ("view" or "purchase") for [[FunnelProcessor]]. */
case class FunnelEvent(key: Long, ts: java.sql.Timestamp, kind: String)

/** a document's signature on the wire for streaming near-dup
  * detection: id + 60-bit simhash + event time. The signature is a
  * per-row batch projection (TextOps' simhash pipeline / any
  * upstream featurizer); the streaming op is the stateful matching. */
case class SigDoc(doc_id: Long, simhash: Long, ts: java.sql.Timestamp)

/** internal: one (band-bucket, doc) row after the LSH band explode. */
case class BandedSig(bandKey: Long, docId: Long, simhash: Long,
    ts: java.sql.Timestamp)

/** internal: a band bucket's retained signatures (bounded). */
case class BandBucket(entries: Seq[BandEntry])
case class BandEntry(docId: Long, simhash: Long, tsMs: Long)

/** an emitted streaming near-duplicate: `doc_id` shared ≥1 simhash
  * band with the earlier `dup_of` and verified Hamming ≤ maxDist. */
case class DupHit(doc_id: Long, dup_of: Long, hamming: Int)

/** an emitted view→purchase conversion. */
case class Conversion(key: Long, view_ms: Long, purchase_ms: Long,
    latency_ms: Long)

/** one observation for the streaming portable-HLL distinct counter:
  * group + member key (the decimal string both engines md5-hash). */
case class SketchObs(grp: String, member: String)

/** a group's live portable-HLL register vector (state cell). */
case class HllRegs(m: Seq[Int])

/** a group's refreshed distinct estimate after a micro-batch — the
  * same four columns the batch q176 emits (minus the exact count a
  * stream can't afford). */
case class SketchEstimate(grp: String, n_filled: Long, v_zero: Long,
    s_fp: Long, est_fp: Long)

/** one live CMS cell (flattened `j*w + b`) with its running count. */
case class CmsCell(cell: Long, c: Long)

/** one observation for the streaming EXACT distinct counter: group +
  * non-negative member id. */
case class KeyedId(grp: String, id: Long)

/** a group's live bitmap chunk (63 ids per chunk) with its OR-mask —
  * exact distinct = Σ popcount over a group's current cells. */
case class BitmapCell(grp: String, chunk: Long, mask: Long)

/** one MinHash band row on the wire — the SAME (doc, band,
  * band-hash) rows the batch dedup derives and persists as its
  * standing index (`TextOps.minhashBands` / the `minhash_bands` side
  * table). Featurization (shingle → minhash → band) is a per-row
  * batch projection; the streaming op is the stateful index
  * probe-and-insert. */
case class MinhashBand(doc_id: Long, band_id: Long, bh: String)

/** an emitted streaming near-dup candidate: docs `da` < `db` landed
  * in the same band bucket (band `band_id`). A pair sharing k bands
  * is emitted k times — once per bucket — so `count(distinct
  * band_id)` per (da, db) downstream equals the batch shadow's
  * n_bands (q262). */
case class BandCandidate(da: Long, db: Long, band_id: Long)

/** one lifecycle event of the live band index (see
  * [[BandIndexProcessor]]): kind ∈ pair | admit | capped. For
  * `pair`, (da, db) is the oriented candidate; for `admit`/`capped`,
  * da is the doc and db = -1. */
case class BandEvent(kind: String, da: Long, db: Long, band_id: Long,
  bh: String)

/** initial state for one band bucket — the standing parquet index's
  * member list, grouped per (band_id, bh). */
case class BucketSeed(band_id: Long, bh: String, members: Seq[Long])

/** cell-keyed additive counter for the streaming portable CMS — see
  * [[Streams.portableCmsStream]]. */
/** OR-accumulating mask state for the streaming exact distinct — see
  * [[Streams.bitmapDistinctStream]]. Unlike the CMS counter, OR is
  * IDEMPOTENT, so replayed or duplicated inputs cannot corrupt the
  * state — the cell converges to the batch mask under at-least-once
  * delivery, not just exactly-once. */
class BitmapCellProcessor
    extends StatefulProcessor[(String, Long), KeyedId, BitmapCell] {

  @transient private var mask: ValueState[Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    mask = getHandle.getValueState[Long]("mask",
      Encoders.scalaLong, TTLConfig.NONE)

  override def handleInputRows(key: (String, Long), rows: Iterator[KeyedId],
      timerValues: TimerValues): Iterator[BitmapCell] = {
    var m = if (mask.exists()) mask.get() else 0L
    rows.foreach(r => m |= 1L << (r.id % 63).toInt)
    mask.update(m)
    Iterator.single(BitmapCell(key._1, key._2, m))
  }
}

/** live MinHash band index — the q36/q171 dedup index as keyed
  * streaming state. Grouping key = (band_id, bh), i.e. ONE BUCKET of
  * the standing band index; state = the bucket's member doc ids. A
  * new doc probes its bucket (emits a candidate pair against every
  * member — the q171 asymmetric shard probe, live: per-batch cost is
  * |new bands| × bucket occupancy, never a self-join) and joins it.
  *
  * Replay/at-least-once safety: membership GATES both emission and
  * insertion, so a replayed band row emits nothing new and state
  * converges to exactly the batch index under any micro-batch
  * chopping (StreamsSpec pins parity with the batch band self-join
  * across chops and replays).
  *
  * `maxBucket` is the df-cap analog from the batch index: a bucket
  * at cap stops admitting members (and so stops emitting pairs) —
  * a near-constant band value carries no discriminative signal and
  * its pair fan-out would be occupancy², so the cap bounds both
  * state and output. Capped admissions are ARRIVAL-ORDER dependent,
  * so instead of asserting batch parity only below the cap, the
  * processor EMITS the lifecycle as data ([[BandEvent]]):
  *  - `pair` — a candidate collision (the q36 verify input);
  *  - `admit` — the doc joined the bucket: the admit stream IS the
  *    incremental append of the standing band index (drain path —
  *    standing index ∪ admits reconstructs the index parquet, see
  *    [[Streams.bandIndexFromEvents]]; no checkpoint scraping);
  *  - `capped` — the doc was refused at cap: the marker makes
  *    cap-affected buckets mechanically identifiable, so the
  *    stream-vs-batch parity contract is CHECKABLE at scale
  *    (uncapped buckets: admits == batch bucket exactly; capped
  *    buckets: |admits| == cap and admits ∪ capped == batch bucket).
  *    `capped` markers are a diagnostic channel: unlike pairs/admits
  *    they are not membership-gated, so an at-least-once replay can
  *    duplicate them — consumers dedupe by (doc, band, bh).
  *
  * LIFECYCLE: the processor can be SEEDED from the standing parquet
  * band index (`handleInitialState` — the [[StatefulProcessorWithInitialState]]
  * path, wired by [[Streams.bandIndexStreamFrom]]): seeded members
  * emit nothing (their pairs were settled when the standing artifact
  * was built — q171/q265 semantics), and subsequent stream input
  * probes them exactly like the batch shard merge, so the bootstrap
  * stream's pair set equals q265's delta legs (IncrementalIndexSpec
  * / StreamsSpec pin it).
  *
  * 100 TB shape: buckets hash-partition across executors like any
  * keyed state; per-bucket state is occupancy longs. */
class BandIndexProcessor(maxBucket: Int)
    extends StatefulProcessorWithInitialState[(Long, String),
      MinhashBand, BandEvent, BucketSeed] {

  @transient private var members: ListState[Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    members = getHandle.getListState[Long]("members",
      Encoders.scalaLong, TTLConfig.NONE)

  override def handleInitialState(key: (Long, String),
      initialState: BucketSeed, timerValues: TimerValues): Unit =
    // seed WITHOUT emitting; deterministic cap rule = smallest ids
    // (the same order a doc-ordered arrival would have admitted)
    initialState.members.sorted.take(maxBucket)
      .foreach(members.appendValue)

  override def handleInputRows(key: (Long, String),
      rows: Iterator[MinhashBand],
      timerValues: TimerValues): Iterator[BandEvent] = {
    val seen = collection.mutable.LinkedHashSet.empty[Long]
    members.get().foreach(d => seen += d)
    val out = Seq.newBuilder[BandEvent]
    // deterministic within-batch order (smallest id joins first), so
    // a batch's emitted set is chop-independent
    rows.toSeq.sortBy(_.doc_id).foreach { r =>
      if (!seen.contains(r.doc_id)) {
        if (seen.size >= maxBucket)
          out += BandEvent("capped", r.doc_id, -1L, key._1, key._2)
        else {
          seen.foreach { e =>
            out += BandEvent("pair", math.min(e, r.doc_id),
              math.max(e, r.doc_id), key._1, key._2)
          }
          out += BandEvent("admit", r.doc_id, -1L, key._1, key._2)
          seen += r.doc_id
          members.appendValue(r.doc_id)
        }
      }
    }
    out.result().iterator
  }
}

class CmsCellProcessor
    extends StatefulProcessor[Long, Long, CmsCell] {

  @transient private var count: ValueState[Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    count = getHandle.getValueState[Long]("count",
      Encoders.scalaLong, TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[Long],
      timerValues: TimerValues): Iterator[CmsCell] = {
    val n = (if (count.exists()) count.get() else 0L) + rows.size
    count.update(n)
    Iterator.single(CmsCell(key, n))
  }
}

/** streaming twin of q176's portable HLL — see
  * [[Streams.portableHllStream]]. Register update and estimator both
  * delegate to [[graft.functions.PortableHll]], the object the batch
  * SQL mirrors, so stream-vs-batch parity is structural, not
  * coincidental. */
class PortableHllProcessor
    extends StatefulProcessor[String, SketchObs, SketchEstimate] {

  @transient private var regs: ValueState[HllRegs] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    regs = getHandle.getValueState[HllRegs]("regs",
      Encoders.product[HllRegs], TTLConfig.NONE)

  override def handleInputRows(key: String, rows: Iterator[SketchObs],
      timerValues: TimerValues): Iterator[SketchEstimate] = {
    val m = (if (regs.exists()) regs.get().m
             else Seq.fill(graft.functions.PortableHll.Registers)(0)).toArray
    rows.foreach { r =>
      val (b, rho) = graft.functions.PortableHll.bucketRho(r.member)
      if (rho > m(b)) m(b) = rho
    }
    regs.update(HllRegs(m.toSeq))
    val (nf, vz, sfp, est) = graft.functions.PortableHll.estimate(m.toSeq)
    Iterator.single(SketchEstimate(key, nf, vz, sfp, est))
  }
}

/** q83's conversion funnel as LIVE state — pending views AND recent
  * purchases per user in ListStates, matched within `withinMs` in
  * either arrival order (a view arriving after its purchase, across
  * batches, still converts — output is independent of micro-batch
  * chopping up to watermark semantics), garbage-collected by
  * event-time TIMERS once the watermark proves no future match. The
  * timer is what bounds state at 100 TB: a user who views and never
  * buys costs a list entry only until watermark > view + withinMs,
  * with no scan-all-keys sweep — the state store calls back exactly
  * the expired keys.
  */
class FunnelProcessor(withinMs: Long)
    extends StatefulProcessor[Long, FunnelEvent, Conversion] {

  @transient private var pendingViews: ListState[Long] = _
  @transient private var pendingBuys: ListState[Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    pendingViews = getHandle.getListState[Long]("views",
      Encoders.scalaLong, TTLConfig.NONE)
    pendingBuys = getHandle.getListState[Long]("buys",
      Encoders.scalaLong, TTLConfig.NONE)
  }

  private def persist(views: Seq[Long], buys: Seq[Long]): Unit = {
    pendingViews.clear()
    views.foreach(pendingViews.appendValue)
    pendingBuys.clear()
    buys.foreach(pendingBuys.appendValue)
    // one timer at the earliest possible expiry; stale extra timers
    // from earlier batches are harmless (the handler re-derives
    // liveness from the watermark)
    val expiries = views.map(_ + withinMs) ++ buys.map(_ + 1)
    if (expiries.nonEmpty) getHandle.registerTimer(expiries.min)
  }

  override def handleInputRows(key: Long, rows: Iterator[FunnelEvent],
      timerValues: TimerValues): Iterator[Conversion] = {
    val batch = rows.toSeq
    // union state + batch on BOTH sides before matching, so the
    // result is the same regardless of how the stream was chopped
    // into micro-batches: each view converts against the EARLIEST
    // qualifying purchase known so far (q83's batch attribution; a
    // purchase matches many views and is never consumed — its buffer
    // drains by watermark). An out-of-order purchase arriving after
    // a view already converted can still change attribution — the
    // bounded-lateness tradeoff of incremental emission.
    val views = ((if (pendingViews.exists()) pendingViews.get().toSeq
      else Seq.empty) ++
      batch.collect { case e if e.kind == "view" => e.ts.getTime }).sorted
    val buys = ((if (pendingBuys.exists()) pendingBuys.get().toSeq
      else Seq.empty) ++
      batch.collect { case e if e.kind == "purchase" => e.ts.getTime }).sorted
    val out = views.flatMap(v =>
      buys.find(b => b >= v && b - v <= withinMs) // sorted ⇒ earliest
        .map(b => Conversion(key, v, b, b - v)))
    val convertedViews = out.map(_.view_ms).toSet
    val wm = timerValues.getCurrentWatermarkInMs()
    // a purchase older than the watermark can never match again:
    // any view it could convert would itself be late and dropped
    persist(views.filterNot(convertedViews).filter(_ + withinMs >= wm),
      buys.filter(_ >= wm))
    out.iterator
  }

  override def handleExpiredTimer(key: Long, timerValues: TimerValues,
      expiredTimerInfo: ExpiredTimerInfo): Iterator[Conversion] = {
    val wm = timerValues.getCurrentWatermarkInMs()
    val views = if (pendingViews.exists())
      pendingViews.get().filter(_ + withinMs >= wm).toSeq else Seq.empty
    val buys = if (pendingBuys.exists())
      pendingBuys.get().filter(_ >= wm).toSeq else Seq.empty
    persist(views, buys)
    Iterator.empty
  }
}

/** one item occurrence for windowed heavy-hitter counting. */
case class WindowedItem(ts: java.sql.Timestamp, item: String)

/** emitted exactly once per closed tumbling window: the window's
  * top-k items by count. */
case class WindowTopK(window_start_ms: Long, rank: Int, item: String,
    n: Long)

/** Streaming heavy hitters — q76's batch top-k as per-window LIVE
  * state: one MapState(item → count) per tumbling window, grouped BY
  * the window start itself, emitted exactly once when the
  * event-time timer proves the window complete (watermark past
  * window end). Emission at close — not per batch — makes the output
  * independent of micro-batch chopping, and the (count desc, item)
  * sort makes the top-k deterministic. State is bounded by
  * (#live windows × #distinct items within lateness), and closes
  * itself via the timer — no scan-all-keys sweep. At 100 TB the
  * per-window item space is the dial: swap the exact MapState for a
  * CMS blob (q76's sketch) in the same processor shape when the
  * domain is unbounded. */
class HeavyHittersProcessor(windowMs: Long, k: Int)
    extends StatefulProcessor[Long, WindowedItem, WindowTopK] {

  @transient private var counts: MapState[String, Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    counts = getHandle.getMapState[String, Long]("counts",
      Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[WindowedItem],
      timerValues: TimerValues): Iterator[WindowTopK] = {
    // a row for an already-closed window (watermark ≥ window end)
    // would resurrect emitted state: drop it — the same
    // bounded-lateness rule the watermark applies upstream
    if (timerValues.getCurrentWatermarkInMs() >= key + windowMs)
      return Iterator.empty
    rows.foreach { r =>
      val prev = if (counts.containsKey(r.item)) counts.getValue(r.item) else 0L
      counts.updateValue(r.item, prev + 1L)
    }
    getHandle.registerTimer(key + windowMs)
    Iterator.empty
  }

  override def handleExpiredTimer(key: Long, timerValues: TimerValues,
      expiredTimerInfo: ExpiredTimerInfo): Iterator[WindowTopK] = {
    val top = counts.iterator().map(p => (p._1, p._2)).toSeq
      .sortBy { case (item, n) => (-n, item) }.take(k)
    counts.clear()
    top.iterator.zipWithIndex.map { case ((item, n), i) =>
      WindowTopK(key, i + 1, item, n)
    }
  }
}

/** current materialized state of one key. `deleted` marks a retained
  * tombstone: the key is absent from the view, but its delete
  * timestamp must survive so late out-of-order upserts older than
  * the delete cannot resurrect it (production systems GC tombstones
  * after a retention window — the TTLConfig on the state cell is the
  * hook for that). */
case class KeyedState(key: Long, ts_ms: Long, value: Double,
    n_changes: Long, deleted: Boolean = false)

/** q82's merge-on-read compaction as CONTINUOUSLY MAINTAINED state,
  * on the `transformWithState` arbitrary-state API (the successor to
  * `mapGroupsWithState`: typed named state cells, optional TTL,
  * timers; requires the RocksDB state store — which is also the
  * 100 TB answer, since state lives off-heap/on-disk per executor
  * instead of in JVM maps). Latest-wins by event time, so
  * out-of-order changes never regress the view; a 'delete' tombstone
  * clears the key's state entirely.
  */
class LatestStateProcessor
    extends StatefulProcessor[Long, KeyedChange, KeyedState] {

  @transient private var st: ValueState[KeyedState] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    st = getHandle.getValueState[KeyedState]("latest",
      Encoders.product[KeyedState], TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[KeyedChange],
      timerValues: TimerValues): Iterator[KeyedState] = {
    val prev = if (st.exists()) Option(st.get()) else None
    val newest = rows.reduceOption { (a, b) =>
      if (b.ts_ms > a.ts_ms || (b.ts_ms == a.ts_ms && b.value > a.value)) b
      else a
    }
    // strictly-newer test, with the SAME (ts, value) tiebreak as the
    // in-batch reduce — so the final state is independent of how the
    // stream was chopped into micro-batches (replay-deterministic)
    def newer(c: KeyedChange) = prev.forall(p =>
      c.ts_ms > p.ts_ms || (c.ts_ms == p.ts_ms && c.value > p.value))
    newest match {
      case Some(c) if newer(c) =>
        if (c.kind == "delete") {
          // retained tombstone, not clear(): a late upsert older than
          // the delete must not resurrect the key. Keeps c.value so
          // the (ts, value) tiebreak stays IDENTICAL to the in-batch
          // reduce — otherwise an equal-ts upsert would win against
          // the tombstone across batches but lose within one.
          st.update(KeyedState(key, c.ts_ms, c.value,
            prev.map(_.n_changes).getOrElse(0L) + 1, deleted = true))
          Iterator.empty
        } else {
          val next = KeyedState(key, c.ts_ms, c.value,
            prev.map(_.n_changes).getOrElse(0L) + 1)
          st.update(next)
          Iterator.single(next)
        }
      case Some(_) => // stale batch: count it, keep the newer view
        prev.foreach(p => st.update(p.copy(n_changes = p.n_changes + 1)))
        Iterator.empty
      case None => Iterator.empty
    }
  }
}

/** Streaming semantics of the reference (SURVEY.md §2.9) on
  * Structured Streaming: per-key sample limiting (`--samples N`,
  * `binance-di.py:111-115`), event-time windows with watermarks (the
  * kline tumbling intervals the reference only consumes), and
  * per-key stateful counters (the writer-state pattern of
  * `binance-di.py:155-191`).
  *
  * All functions work identically on batch frames (state starts
  * empty), which is how the batch specs pin their semantics.
  */
object Streams {

  /** S3 — `--samples N` is per (stream, symbol) producer, not global
    * (SURVEY.md §7.4): keep the first `n` records per key. Streaming
    * path: explicit per-key state; emits nothing once the key's quota
    * is exhausted. */
  def limitPerKeyStream(ds: Dataset[Envelope], n: Int): Dataset[Envelope] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(e => (e.stream, e.symbol))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (_: (String, String), it: Iterator[Envelope],
         state: GroupState[Long]) => {
          val taken = state.getOption.getOrElse(0L)
          val out = it.take(math.max(0, n - taken).toInt).toSeq
          state.update(taken + out.size)
          out.iterator
        })
  }

  /** T3 — tumbling event-time counts with a watermark (T2): the
    * kline-interval aggregation computed rather than consumed. */
  def tumblingCounts(events: DataFrame, tsCol: String, keyCol: String,
      windowLen: String = "1 minute",
      watermark: String = "10 minutes"): DataFrame =
    events.withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen), col(keyCol))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))

  /** A7 streaming — OHLCV candles from a trade stream; open/close via
    * min_by/max_by on the event-time (streaming-safe: no rank
    * window), volume summed exactly. */
  def ohlcvStream(trades: DataFrame, tsCol: String, keyCol: String,
      windowLen: String = "1 minute",
      watermark: String = "10 minutes"): DataFrame =
    trades.withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen), col(keyCol))
      .agg(
        min_by(col("value"), col(tsCol)).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max_by(col("value"), col(tsCol)).as("close"),
        sum(col("value")).as("volume"),
        count(lit(1)).as("n_trades"))

  /** §2.3 stream-stream join: correlate two live streams on a key
    * within a bounded event-time range — watermarks on both sides let
    * the engine discard state once the range can no longer match
    * (bounded state; without the time-range condition state grows
    * forever). Example shape: purchase within `within` of a click. */
  def streamStreamJoin(left: DataFrame, right: DataFrame,
      keyCol: String, tsCol: String, within: String = "5 minutes",
      watermark: String = "10 minutes"): DataFrame = {
    val l = left.withWatermark(tsCol, watermark).alias("l")
    val r = right.withWatermark(tsCol, watermark).alias("r")
    l.join(r, expr(
      s"l.$keyCol = r.$keyCol AND " +
        s"r.$tsCol >= l.$tsCol AND r.$tsCol <= l.$tsCol + INTERVAL $within"))
  }

  /** §2.3 stream-static enrichment join: decorate a live stream with
    * a dimension table. The static side is broadcast — every
    * micro-batch joins map-side with zero shuffle of the stream and
    * zero streaming state (unlike stream-stream, nothing must be
    * buffered: the dim is re-resolvable per batch, so at scale a
    * refreshed dim snapshot is picked up on the next trigger). */
  def streamStaticEnrich(stream: DataFrame, dim: DataFrame,
      keyCol: String): DataFrame =
    stream.join(org.apache.spark.sql.functions.broadcast(dim), keyCol)

  /** §2.3 stream-static AS-OF enrichment: decorate each stream row
    * with the LATEST dim version at or before its event time — the
    * streaming face of `graft.plans.AsOfJoin`'s broadcast path (the
    * reference's enrich-with-latest-known-state shape, but against a
    * time-VERSIONED dimension rather than a single snapshot).
    *
    * The dim collapses to one row per key holding its versions sorted
    * by time (done once per micro-batch on the static side, never on
    * the stream), broadcast-joins map-side, and the version pick is a
    * per-row array lookup — stateless, so it composes with any
    * downstream streaming op and needs no watermark. State bound =
    * broadcast dim size; versions-per-key is typically small (config
    * history, symbol listings), which is what keeps the array scan
    * cheap. Left rows with no version at-or-before get NULL payload
    * (same null-extension as the batch operator).
    *
    * Output: stream columns + `<payloadCol>` (dim payload) +
    * `asof_ts` (the matched version's time), both null on no-match.
    */
  def asOfEnrichStream(stream: DataFrame, dim: DataFrame,
      streamKey: String, dimKey: String, streamTs: String, dimTs: String,
      payloadCol: String): DataFrame = {
    // fail fast instead of silently overwriting/joining ambiguously:
    // the two output columns and the three internals must be free
    val reserved = Seq(payloadCol, "asof_ts", "__k", "__vs", "__hit")
    val clash = stream.columns.toSeq.intersect(reserved)
    require(clash.isEmpty,
      s"asOfEnrichStream: stream already has column(s) ${clash.mkString(", ")}" +
        " — rename them (or the payload) before enriching")
    val versions = dim.groupBy(col(dimKey).as("__k"))
      .agg(sort_array(collect_list(struct(
        col(dimTs).as("t"), col(payloadCol).as("p")))).as("__vs"))
    stream
      .join(org.apache.spark.sql.functions.broadcast(versions),
        col(streamKey) === col("__k"), "left")
      .withColumn("__hit", // try_: ANSI-safe on the empty (no-match) array
        try_element_at(filter(col("__vs"), v => v("t") <= col(streamTs)), lit(-1)))
      .withColumn(payloadCol, col("__hit")("p"))
      .withColumn("asof_ts", col("__hit")("t"))
      .drop("__k", "__vs", "__hit")
  }

  /** streaming exact dedup: drop records repeating a key within the
    * watermark horizon — state is bounded by the watermark (the
    * streaming face of the batch dedup in `q30_dedup_exact`; at scale
    * the key should be a content hash, never the payload). */
  def dedupStream(df: DataFrame, tsCol: String, keys: Seq[String],
      watermark: String = "10 minutes"): DataFrame =
    df.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keys)

  /** Streaming NEAR-dup detection — the stateful face of q62's batch
    * SimHash pipeline: each doc's 60-bit signature is banded into
    * `bands` × `bandBits` keys; state per (band, value) bucket holds
    * the recent signatures that hashed there; an arriving doc is
    * verified (XOR popcount ≤ maxDist) against exactly its bucket
    * peers — never all docs. Recall below Hamming distance
    * `bands·bandBits − 59` is exact by pigeonhole (≤ 5 for 6×10),
    * same as the batch op.
    *
    * Scale bounds, in order: the watermark bounds how late a doc can
    * arrive; `ttlMs` bounds how far back a doc is compared (entries
    * older than watermark − ttl are pruned, and a quiet bucket's
    * whole state is cleared by its event-time timeout); and
    * `maxPerBucket` caps a hot bucket (a near-constant band value —
    * the df-cap analog from the batch Jaccard index: an over-full
    * bucket carries no discriminative signal, so the oldest entries
    * age out first). A pair sharing k bands emits k hits — chain
    * [[dedupStream]] on (doc_id, dup_of) for distinct pairs; the
    * composition is itself watermark-bounded.
    */
  def nearDupStream(ds: Dataset[SigDoc], bands: Int = 6, bandBits: Int = 10,
      maxDist: Int = 5, watermark: String = "10 minutes",
      ttlMs: Long = 10 * 60 * 1000L,
      maxPerBucket: Int = 1000): Dataset[DupHit] = {
    import ds.sparkSession.implicits._
    val nb = bands; val bb = bandBits
    val banded = ds.flatMap { d =>
      (0 until nb).iterator.map { b =>
        val bval = (d.simhash >>> (b * bb)) & ((1L << bb) - 1)
        BandedSig(b.toLong * (1L << bb) + bval, d.doc_id, d.simhash, d.ts)
      }
    }
    banded.withWatermark("ts", watermark)
      .groupByKey(_.bandKey)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(
        (_: Long, it: Iterator[BandedSig],
         state: GroupState[BandBucket]) => {
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val horizon = state.getCurrentWatermarkMs() - ttlMs
            var entries = state.getOption.map(_.entries).getOrElse(Nil)
              .filter(_.tsMs >= horizon)
            val hits = Seq.newBuilder[DupHit]
            var maxTs = 0L
            // deterministic within-batch order: event time, then id
            it.toSeq.sortBy(d => (d.ts.getTime, d.docId)).foreach { d =>
              val tsMs = d.ts.getTime
              maxTs = math.max(maxTs, tsMs)
              entries.foreach { e =>
                // |Δt| ≤ ttl BOTH ways: a late arrival (inside the
                // watermark but > ttl older than a stored entry) must
                // not pair with it. dup_of is the EVENT-TIME-earlier
                // doc (id tiebreak), not merely the earlier ARRIVAL —
                // late data would otherwise invert the keep/drop
                // direction downstream.
                if (e.docId != d.docId &&
                  math.abs(e.tsMs - tsMs) <= ttlMs &&
                  java.lang.Long.bitCount(e.simhash ^ d.simhash) <= maxDist) {
                  val dNewer = tsMs > e.tsMs ||
                    (tsMs == e.tsMs && d.docId > e.docId)
                  val (newer, older) =
                    if (dNewer) (d.docId, e.docId) else (e.docId, d.docId)
                  hits += DupHit(newer, older,
                    java.lang.Long.bitCount(e.simhash ^ d.simhash))
                }
              }
              entries = (BandEntry(d.docId, d.simhash, tsMs) +: entries)
                .take(maxPerBucket)
            }
            state.update(BandBucket(entries))
            state.setTimeoutTimestamp(math.max(maxTs,
              state.getCurrentWatermarkMs()) + ttlMs)
            hits.result().iterator
          }
        })
  }

  /** T3/T4 — custom-state sessionization: gap-based sessions like
    * `session_window` (q54's streaming face), but with a caller-shaped
    * payload the built-in window can't produce (event count AND exact
    * value sum AND first/last bounds, extensible to anything foldable).
    *
    * State per key is one [[SessionAgg]] (a few dozen bytes — bounded
    * by key cardinality, not event volume; the event-time timeout
    * clears keys that go quiet, so state can't grow past the live-key
    * working set). Sessions close two ways:
    *  - an in-batch event lands ≥ gap after the open session's end →
    *    the old session emits immediately, a new one opens;
    *  - the key goes silent and the watermark passes end + gap → the
    *    event-time timeout fires and emits the final session.
    * Exactly the reference writer's "rotate on quiet" file behavior
    * (`binance-di.py:171-183`), generalized to event time. */
  def sessionizeStream(ds: Dataset[SessionEvent], gapMs: Long,
      watermark: String = "10 minutes"): Dataset[ClosedSession] = {
    import ds.sparkSession.implicits._
    ds.withWatermark("ts", watermark)
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(
        (key: String, it: Iterator[SessionEvent],
         state: GroupState[SessionAgg]) => {
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(ClosedSession(key, s.startMs, s.endMs, s.n, s.sum))
          } else {
            // interval merge: this batch's events (as point
            // intervals) plus the open session, sorted by start, then
            // folded — adjacent intervals merge iff their gap is
            // strictly under gapMs (one rule for before AND after the
            // open session, so out-of-order chains merge among
            // themselves too). All but the latest merged session
            // close now; only the latest can still grow from
            // in-order arrivals — an earlier chain could only grow
            // from ever-later stragglers, the bounded-lateness
            // tradeoff vs holding every historic session open.
            val intervals = (it.map(e =>
                SessionAgg(e.ts.getTime, e.ts.getTime, 1L, e.value)) ++
              state.getOption.iterator).toSeq.sortBy(s => (s.startMs, s.endMs))
            val merged = intervals.foldLeft(List.empty[SessionAgg]) {
              case (prev :: rest, nxt) if nxt.startMs - prev.endMs < gapMs =>
                SessionAgg(prev.startMs, math.max(prev.endMs, nxt.endMs),
                  prev.n + nxt.n, prev.sum + nxt.sum) :: rest
              case (acc, nxt) => nxt :: acc
            }.reverse
            val cur = merged.last
            state.update(cur)
            state.setTimeoutTimestamp(cur.endMs + gapMs)
            merged.init.iterator.map(s =>
              ClosedSession(key, s.startMs, s.endMs, s.n, s.sum))
          }
        })
  }

  /** streaming CDC materialization on transformWithState — see
    * [[LatestStateProcessor]]. Update output mode: each batch emits
    * the keys whose materialized state changed. */
  def latestStateStream(ds: Dataset[KeyedChange]): Dataset[KeyedState] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.key)
      .transformWithState(new LatestStateProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  /** q83's funnel as live state — see [[FunnelProcessor]]. Event-time
    * mode: timers fire off the watermark, so the `withWatermark` on
    * the input is what drives state GC. */
  def funnelStream(ds: Dataset[FunnelEvent], withinMs: Long,
      watermark: String = "10 minutes"): Dataset[Conversion] = {
    import ds.sparkSession.implicits._
    ds.withWatermark("ts", watermark)
      .groupByKey(_.key)
      .transformWithState(new FunnelProcessor(withinMs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** windowed streaming heavy hitters — see [[HeavyHittersProcessor]].
    * Grouping key IS the tumbling window start (floor to windowMs),
    * so window state partitions across executors like any keyed
    * state. */
  def heavyHittersStream(ds: Dataset[WindowedItem], windowMs: Long,
      k: Int, watermark: String = "10 minutes"): Dataset[WindowTopK] = {
    import ds.sparkSession.implicits._
    ds.withWatermark("ts", watermark)
      .groupByKey(e => e.ts.getTime - math.floorMod(e.ts.getTime, windowMs))
      .transformWithState(new HeavyHittersProcessor(windowMs, k),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** live distinct-count per group via the PORTABLE HLL (q176's
    * contract, as streaming state): 16 registers per group in a
    * ValueState, updated with [[graft.functions.PortableHll]] — the
    * SAME object the batch/oracle contract pins, so after processing
    * identical rows the streaming registers, fixed-point sums and
    * estimates are bit-identical to the batch query (asserted in
    * SketchSpec). State is 16 ints per group FOREVER — the property
    * that makes HLL the only viable streaming distinct at 100 TB;
    * emits the group's refreshed estimate every micro-batch. */
  def portableHllStream(ds: Dataset[SketchObs]): Dataset[SketchEstimate] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.grp)
      .transformWithState(new PortableHllProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  /** live portable count-min sketch (q175's contract as streaming
    * state): each observed key increments its d=4 cells, state is one
    * long PER CELL (the cell id `j*w+b` is the grouping key, so the
    * 4096-cell sketch partitions across executors like any keyed
    * state — no single-node counter array), and counts are additive,
    * so the live cells converge to EXACTLY the batch counter table on
    * any micro-batch chopping (asserted in SketchSpec). Emits each
    * touched cell's refreshed count per batch; estimates are
    * min-over-cells downstream ([[graft.functions.PortableCms.estimate]]). */
  def portableCmsStream(ds: Dataset[String]): Dataset[CmsCell] = {
    import ds.sparkSession.implicits._
    ds.flatMap(k => graft.functions.PortableCms.cells(k))
      .groupByKey(identity)
      .transformWithState(new CmsCellProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  /** live EXACT distinct via bitmap chunks — q251's relational
    * bitmap index as keyed streaming state, and the exact
    * counterpart of the approximate [[portableHllStream]]: the
    * grouping key is (group, chunk = id DIV 63), the state ONE long
    * mask OR-ing `1 << id%63`, and a group's live exact distinct is
    * Σ popcount over its current cells. OR is associative AND
    * idempotent, so the cells converge to exactly the batch masks
    * under any micro-batch chopping or replay (at-least-once safe,
    * which no count-based state is). State is |chunks| longs,
    * hash-partitioned across executors like any keyed state — for a
    * 10⁹-user id space that is ~16M cells ≈ 127 MB cluster-wide.
    * Ids must be non-negative (the q251 contract). */
  def bitmapDistinctStream(ds: Dataset[KeyedId]): Dataset[BitmapCell] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(k => (k.grp, k.id / 63))
      .transformWithState(new BitmapCellProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  /** streaming MinHash dedup — see [[BandIndexProcessor]]. The one
    * north-star capability (near-dup detection) in live form: band
    * rows arrive (featurized batch-side, the exact
    * `TextOps.minhashBands` derivation), the standing band index
    * lives as keyed state, and every emitted [[BandCandidate]] is a
    * band collision to verify downstream (exact Jaccard on the
    * shingle table — the same verify stage the batch q36 runs).
    * Converges to the batch band self-join (q262's shadow) under any
    * micro-batch chopping or replay. */
  def minhashDedupStream(ds: Dataset[MinhashBand],
      maxBucket: Int = 4096): Dataset[BandCandidate] = {
    import ds.sparkSession.implicits._
    bandIndexStream(ds, maxBucket).filter(_.kind == "pair")
      .map(e => BandCandidate(e.da, e.db, e.band_id))
  }

  /** the full lifecycle stream of the live band index — pairs +
    * admit/capped markers (see [[BandIndexProcessor]]). The admit
    * channel is the DRAIN path: it is the incremental append of the
    * standing band-index parquet, so snapshotting stream state needs
    * no checkpoint scraping (see [[bandIndexFromEvents]]). */
  def bandIndexStream(ds: Dataset[MinhashBand],
      maxBucket: Int = 4096): Dataset[BandEvent] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(b => (b.band_id, b.bh))
      .transformWithState(new BandIndexProcessor(maxBucket),
        TimeMode.None(), OutputMode.Append())
  }

  /** [[bandIndexStream]] BOOTSTRAPPED from the standing parquet band
    * index (doc_id, band_id, bh): the persisted q36/q265 artifact
    * becomes the processor's initial keyed state, so the stream picks
    * up exactly where the batch index left off — seeded members emit
    * nothing (their pairs were settled when the artifact was built),
    * and arriving docs probe them like the q265 shard merge. At
    * scale the grouping below is one shuffle of the standing index
    * keyed by bucket, paid once at query start. */
  def bandIndexStreamFrom(standing: Dataset[MinhashBand],
      ds: Dataset[MinhashBand],
      maxBucket: Int = 4096): Dataset[BandEvent] = {
    import ds.sparkSession.implicits._
    val init = standing
      .groupByKey(b => (b.band_id, b.bh))
      .mapGroups((k, it) =>
        BucketSeed(k._1, k._2, it.map(_.doc_id).toSeq.sorted))
      .groupByKey(s => (s.band_id, s.bh))
    ds.groupByKey(b => (b.band_id, b.bh))
      .transformWithState(new BandIndexProcessor(maxBucket),
        TimeMode.None(), OutputMode.Append(), init)
  }

  /** batch reconstruction of the standing band index from a drained
    * event log: standing seed ∪ admit events — the parquet a
    * deployment publishes back through SideTables to close the
    * stream→artifact loop (StreamsSpec pins equality with the batch
    * [[graft.queries.TextOps]] band index on the same corpus). */
  def bandIndexFromEvents(standing: DataFrame,
      events: DataFrame): DataFrame =
    standing.select(col("doc_id"), col("band_id"), col("bh"))
      .unionByName(events.filter(col("kind") === "admit")
        .select(col("da").as("doc_id"), col("band_id"), col("bh")))

  /** T4 — per-key running counter (the writer-state pattern): emits
    * (key, runningCount) updates per batch. */
  def runningCountPerKey(ds: Dataset[Envelope]): Dataset[(String, Long)] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(e => s"${e.stream}:${e.symbol}")
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(
        (key: String, it: Iterator[Envelope], state: GroupState[Long]) => {
          val n = state.getOption.getOrElse(0L) + it.size
          state.update(n)
          (key, n)
        })
  }

  /** Incremental maintenance of a [[graft.plans.Rollup]] rollup: the
    * SAME grain × (cnt, sum/min/max) cells `Rollup.register` builds
    * in batch, kept fresh by Spark's built-in streaming aggregation —
    * deliberately NO custom state here, because count/sum/min/max
    * over an append-only stream is exactly the mergeable-partial
    * algebra the engine already maintains incrementally (min/max are
    * safe only because nothing retracts; a delete stream would need
    * the CDC path, `latestStateStream`). Complete-mode output equals
    * the batch rollup on ANY micro-batch chopping
    * (`RollupRewriteSpec`), so the aggregate-navigation rewrite can
    * serve dashboards from a rollup that is seconds stale instead of
    * rebuild-cycle stale. State is |grain-cells| rows — the same
    * reason the rewrite works is the reason the state stays small. */
  def rollupMaintenanceStream(
      rows: DataFrame, grain: Seq[String], measure: String): DataFrame =
    rows.groupBy(grain.map(col): _*).agg(
      count(lit(1)).as("cnt"),
      sum(col(measure)).as(s"sum_$measure"),
      min(col(measure)).as(s"min_$measure"),
      max(col(measure)).as(s"max_$measure"))
}
