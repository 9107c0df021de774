package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.ingest.{IngestConfig, IngestJob}
import graft.model.Schemas

/** Seeded generator of multiplexed exchange frames: ticker, trades,
  * order-book (bid/ask level arrays) and klines over Zipf-skewed
  * symbols, one envelope line per frame. Frame `i` carries id
  * `IdBase + i` as its event time (order-book: its update id), so
  * every sink row can be traced back to one frame. */
object WireGen {
  val IdBase = 1700000000000L
  val Symbols: Seq[String] = Seq("BTCUSDT", "ETHUSDT", "BNBUSDT", "SOLUSDT",
    "XRPUSDT", "ADAUSDT", "DOGEUSDT", "AVAXUSDT", "DOTUSDT", "LINKUSDT",
    "LTCUSDT", "TRXUSDT", "ATOMUSDT", "UNIUSDT", "ETCUSDT", "NEARUSDT")
  /** stream mix: share of frames per stream type. */
  val Mix: Seq[(String, Double)] =
    Seq("ticker" -> 0.3, "trades" -> 0.4, "order-book" -> 0.2, "klines" -> 0.1)
  val StreamTypes: Seq[String] = Mix.map(_._1)

  /** per-(stream, symbol) expectation: rows, sum of ids, and summed
    * length of the stream's checked string column. */
  final case class Expect(rows: Long, idSum: Long, lenSum: Long) {
    def +(o: Expect): Expect = Expect(rows + o.rows, idSum + o.idSum, lenSum + o.lenSum)
  }

  /** the id column and the string column each stream is checked on. */
  val CheckCols: Map[String, (String, String)] = Map(
    "ticker" -> ("event_time", "last_price"),
    "trades" -> ("event_time", "price"),
    "order-book" -> ("lastUpdateId", "bids"))

  private def px(r: java.util.Random, base: Double): String =
    f"${base * (0.9 + 0.2 * r.nextDouble())}%.2f"

  /** write `n` frames to `path`; `dropFrame` leaves one frame out of
    * the file but not out of the expectation (an injected defect). */
  def write(path: String, n: Int, seed: Long,
      dropFrame: Option[Int] = None): Map[(String, String), Expect] = {
    val r = new java.util.Random(seed)
    val zipf = Symbols.indices.map(k => 1.0 / math.pow(k + 1, 1.1))
    val zcum = zipf.scanLeft(0.0)(_ + _).tail.map(_ / zipf.sum)
    val mcum = Mix.map(_._2).scanLeft(0.0)(_ + _).tail
    val exp = mutable.HashMap.empty[(String, String), Expect]
    val w = java.nio.file.Files.newBufferedWriter(java.nio.file.Paths.get(path))
    try {
      var i = 0
      while (i < n) {
        val sym = Symbols(math.min(zcum.indexWhere(_ >= r.nextDouble()) max 0, Symbols.size - 1))
        val stream = StreamTypes(mcum.indexWhere(_ >= r.nextDouble()) max 0)
        val id = IdBase + i
        val base = 10.0 + Symbols.indexOf(sym) * 97.0
        val (data, checked) = stream match {
          case "ticker" =>
            val last = px(r, base)
            (s"""{"price_change":"${px(r, 1)}","price_change_percent":"${px(r, 0.5)}",""" +
              s""""last_price":"$last","high_price":"${px(r, base * 1.05)}",""" +
              s""""low_price":"${px(r, base * 0.95)}","total_volume_asset":"${px(r, 5000)}",""" +
              s""""total_volume_quote":"${px(r, 5000 * base)}","event_time":$id}""", last)
          case "trades" =>
            val price = px(r, base)
            (s"""{"event_time":$id,"price":"$price","quantity":"${px(r, 2)}",""" +
              s""""trade_time":${id - 3},"is_buyer_maker":"${if (r.nextBoolean()) "True" else "False"}"}""",
              price)
          case "order-book" =>
            def levels(sign: Int) = (1 to 5).map(k =>
              s"""["${f"${base + sign * k * 0.01}%.2f"}","${px(r, 1)}"]""").mkString("[", ",", "]")
            val bids = levels(-1)
            (s"""{"lastUpdateId":$id,"bids":$bids,"asks":${levels(1)}}""", bids)
          case _ =>
            val close = px(r, base)
            (s"""{"event_time":$id,"kline_start_time":${id - 60000},"kline_close_time":${id - 1},""" +
              s""""symbol":"$sym","interval":"1m","open_price":"${px(r, base)}",""" +
              s""""close_price":"$close","high_price":"${px(r, base * 1.02)}",""" +
              s""""low_price":"${px(r, base * 0.98)}","base_asset_volume":"${px(r, 50)}",""" +
              s""""quote_asset_volume":"${px(r, 50 * base)}","number_of_trades":${r.nextInt(900)},""" +
              s""""is_kline_closed":"True"}""", close)
        }
        val k = (stream, sym)
        exp(k) = exp.getOrElse(k, Expect(0, 0, 0)) + Expect(1, id, checked.length)
        if (!dropFrame.contains(i)) {
          w.write(s"""{"stream":"$stream","symbol":"$sym","data":"${data.replace("\"", "\\\"")}"}""")
          w.write('\n')
        }
        i += 1
      }
    } finally w.close()
    exp.toMap
  }
}

/** `wire_fanout`: the reference pipeline. A replay file generated in
  * set-up is drained through `IngestJob.start` over the `ws-replay`
  * source at 10k frames per trigger into parquet and json sinks,
  * drain after drain (closed loop, one client). */
object WireFanout {
  val Formats: Seq[String] = Seq("parquet", "json")
  val FramesPerTrigger = 10000
  /** the stream types loaded: the reference's default set. Klines
    * frames stay on the wire (every query reads and drops them), but
    * loading them fails today: the kline payload's own `symbol` field
    * collides with the envelope's (AMBIGUOUS_REFERENCE in
    * `IngestJob.start`). */
  val Loaded: Seq[String] = Seq("ticker", "trades", "order-book")

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val res = ctx.res
    val frames = if (ctx.tiny) 4000 else 20000
    val perTrigger = if (ctx.tiny) 1000 else FramesPerTrigger
    val file = ctx.path("wire.jsonl")
    val drop = if (ctx.inject == "drop_frame") Some(frames / 2) else None
    val expect = WireGen.write(file, frames, ctx.seed, drop)
    // the warm-up drains a small one-trigger file through the same calls
    val warmFile = ctx.path("wire-warm.jsonl")
    WireGen.write(warmFile, perTrigger / 5, ctx.seed + 1)
    ctx.mark("generated")

    def drain(file: String, out: String): Seq[StreamingQueryProgress] = {
      val lines = spark.readStream.format("ws-replay").option("path", file)
        .option("maxFramesPerTrigger", perTrigger.toString).load()
      val cfg = IngestConfig(symbols = WireGen.Symbols, loadTypes = Loaded,
        outputDir = out, formats = Formats)
      tr.span("ingest", "drain") {
        val parent = tr.currentSpan
        val queries = tr.span("ingest", "IngestJob.start")(IngestJob.start(spark, lines, cfg))
        try queries.foreach(_.processAllAvailable())
        finally queries.foreach(_.stop())
        val progress = queries.flatMap(_.recentProgress.toSeq).filter(_.numInputRows > 0)
        tr.addTriggers(parent, "ingest", progress, {
          case "latestOffset" | "getBatch" => "sources"
          case "queryPlanning" => "ingest"
          case _ => "sinks"
        })
        progress
      }
    }

    // set-up: one untimed drain fills JIT and the source and sink code paths
    drain(warmFile, ctx.path("out-warm"))
    Stats.deleteTree(ctx.path("out-warm"))

    ctx.startTimed()
    val perDrain = mutable.ArrayBuffer.empty[Map[String, Double]]
    val fps = mutable.ArrayBuffer.empty[Double]
    val overhead = mutable.ArrayBuffer.empty[(Boolean, Double)]
    var n = 0
    var lastOut = ""
    // whole drains; another starts only if it should end near the window
    def nextFits = fps.isEmpty ||
      ctx.timedElapsedS + frames / Stats.median(fps) <= ctx.seconds * 1.25
    // at least two drains: one 30k-frame drain a run spread 0.25-0.29
    // between runs. A traced run alternates traced and untraced drains
    // in ABBA order, so that neither kind always runs first; it needs
    // four
    val minDrains = ctx.minReps(2, 4)
    while (n < minDrains || (ctx.timedElapsedS < ctx.seconds && nextFits)) {
      val traced = ctx.trace && (n % 4 == 0 || n % 4 == 3)
      if (traced) tr.attach() else tr.detach()
      if (lastOut.nonEmpty) Stats.deleteTree(lastOut)
      val out = ctx.path(s"out-$n")
      res.attempted += 1
      val t0 = Stats.nowMs
      val progress = drain(file, out)
      val wallMs = Stats.nowMs - t0
      overhead += traced -> wallMs
      if (traced) res.tracedS += wallMs / 1000.0
      val starts = progress.map(p => java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble)
      val ends = progress.zip(starts).map { case (p, s) =>
        s + p.durationMs.asScala.getOrElse("triggerExecution", java.lang.Long.valueOf(0L)).toDouble }
      val span = if (ends.isEmpty) wallMs else ends.max - starts.min
      fps += frames / (span / 1000.0)
      // a query's first trigger also starts it up; the rest are steady
      progress.filter(_.batchId > 0)
        .foreach(p => res.latencyMs += p.durationMs.get("triggerExecution").toDouble)
      def phase(k: String) = progress.map(p =>
        Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)).sum
      val read = progress.map(_.numInputRows).sum.toDouble
      val m = mutable.LinkedHashMap[String, Double](
        "sources.read_amplification" -> read / frames,
        "sources.latest_offset_ms" -> phase("latestOffset"),
        "sources.get_batch_ms" -> phase("getBatch"),
        "ingest.triggers" -> progress.size.toDouble,
        "ingest.query_planning_ms" -> phase("queryPlanning"),
        "sinks.add_batch_ms" -> phase("addBatch"),
        "sinks.wal_commit_ms" -> phase("walCommit"))
      Formats.foreach { f =>
        val (bytes, files) = Stats.dirUsage(out, name => name.endsWith(if (f == "json") ".json" else ".parquet"))
        m(s"sinks.$f.files_written") = files.toDouble
        m(s"sinks.$f.bytes_per_frame") = bytes.toDouble / frames
      }
      val routed = expect.collect { case ((s, _), e) if Loaded.contains(s) => e.rows }.sum
      m("ingest.rows_out_per_frame_read") = routed / math.max(read, 1.0)
      perDrain += m.toMap
      val expRead = Loaded.size.toLong * (frames - drop.size)
      res.check(s"drain $n read every frame once per stream", read == expRead,
        s"read $read frames, expected $expRead")
      lastOut = out
      n += 1
    }
    tr.detach()
    val timedS = ctx.endTimed()

    // untimed: the last drain's sinks hold exactly the generated rows
    checkSinks(ctx, lastOut, expect)
    Stats.deleteTree(lastOut)

    res.throughputPerS = Stats.median(fps)
    res.detail ++= Seq("frames" -> frames, "frames_per_trigger" -> perTrigger,
      "drains" -> n, "timed_s" -> timedS, "frames_per_s" -> Stats.median(fps),
      "frames_per_s_all" -> fps.toSeq)
    val keys = perDrain.flatMap(_.keys).distinct
    keys.foreach(k => res.layers(k) = Stats.median(perDrain.map(_.getOrElse(k, 0.0))))
    if (ctx.trace) {
      val (t, u) = overhead.partition(_._1)
      res.layers("trace.overhead_pct") = Tracer.overheadPct(t.map(_._2).toSeq, u.map(_._2).toSeq)
    }
  }

  /** per (stream, symbol, format): row count, id sum and checked
    * column length sum equal the generator's. */
  def checkSinks(ctx: Ctx, out: String, expect: Map[(String, String), WireGen.Expect]): Unit = {
    val spark = ctx.spark
    val schemas = Map("ticker" -> Schemas.ticker, "trades" -> Schemas.trade,
      "order-book" -> Schemas.orderBook)
    for (stream <- Loaded; fmt <- Formats) {
      val (idCol, lenCol) = WireGen.CheckCols(stream)
      val path = s"$out/stream=$stream/fmt=$fmt"
      val df = if (fmt == "json") spark.read.schema(schemas(stream)).json(path)
        else spark.read.parquet(path)
      val got = df.groupBy(col("symbol")).agg(count(lit(1)), sum(col(idCol).cast("long")),
          sum(length(col(lenCol)).cast("long")))
        .collect().map(r => r.getString(0) -> WireGen.Expect(r.getLong(1), r.getLong(2), r.getLong(3)))
        .toMap
      val want = expect.collect { case ((s, sym), e) if s == stream => sym -> e }
      val bad = (want.keySet ++ got.keySet).filter(k => want.get(k) != got.get(k))
      ctx.res.check(s"sink $stream/$fmt rows and checksums", bad.isEmpty,
        bad.toSeq.sorted.take(3).map(k => s"$k want ${want.get(k)} got ${got.get(k)}").mkString("; "))
    }
  }
}
