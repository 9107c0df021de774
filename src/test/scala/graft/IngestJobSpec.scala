package graft

import java.nio.file.Files
import graft.ingest.{IngestConfig, IngestJob}

/** End-to-end ingest: multiplexed envelope frames → per-stream
  * projected, symbol-partitioned, multi-format output with per-key
  * sample caps — the reference's primary pipeline
  * (`--symbol ... --load ... --output ... --samples N`).
  */
class IngestJobSpec extends SparkSpec {
  import spark.implicits._

  private def tickerFrame(sym: String, i: Int) =
    s"""{"stream":"ticker","symbol":"$sym","data":"{\\"last_price\\":\\"$i.0\\",\\"event_time\\":$i}"}"""
  private def tradeFrame(sym: String, i: Int) =
    s"""{"stream":"trades","symbol":"$sym","data":"{\\"price\\":\\"$i.5\\",\\"event_time\\":$i,\\"is_buyer_maker\\":\\"True\\"}"}"""
  // the kline payload repeats the envelope's symbol
  private def klineFrame(sym: String, i: Int) =
    s"""{"stream":"klines","symbol":"$sym","data":"{\\"event_time\\":$i,""" +
      s"""\\"symbol\\":\\"$sym\\",\\"interval\\":\\"1m\\",\\"close_price\\":\\"$i.25\\"}"}"""

  test("replay ingest routes, projects, partitions, caps and fans out") {
    val replay = Files.createTempFile("ingest", ".jsonl")
    val frames =
      (1 to 8).map(i => tickerFrame("BTCUSDT", i)) ++
      (1 to 4).map(i => tickerFrame("ETHUSDT", i)) ++
      (1 to 6).map(i => tradeFrame("BTCUSDT", i)) ++
      (1 to 3).map(i => tickerFrame("DOGEUSDT", i)) // not configured
    Files.writeString(replay, frames.mkString("", "\n", "\n"))
    val out = Files.createTempDirectory("ingest-out").toString

    IngestJob.runReplay(spark, replay.toString, IngestConfig(
      symbols = Seq("BTCUSDT", "ETHUSDT"),
      loadTypes = Seq("ticker", "trades"),
      outputDir = out,
      formats = Seq("json", "parquet"),
      samplesPerKey = Some(5)))

    val ticker = spark.read.parquet(s"$out/stream=ticker/fmt=parquet")
    // BTC capped at 5, ETH has 4, DOGE filtered out
    val bySym = ticker.groupBy($"symbol").count()
      .as[(String, Long)].collect().toMap
    assert(bySym == Map("BTCUSDT" -> 5L, "ETHUSDT" -> 4L))
    assert(ticker.columns.contains("last_price"))

    val trades = spark.read.json(s"$out/stream=trades/fmt=json")
    assert(trades.count() == 5) // capped
    assert(trades.select($"is_buyer_maker").distinct().head().getString(0) == "True")

    // symbol-partitioned directory layout
    assert(new java.io.File(s"$out/stream=ticker/fmt=parquet/symbol=BTCUSDT").exists())
  }

  /** data files under `dir`, per partition directory name. */
  private def filesPer(dir: String, ext: String): Map[String, Int] =
    Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .filter(_.isDirectory)
      .map(d => d.getName -> d.listFiles().count(_.getName.endsWith(ext))).toMap

  test("a trigger-sized drain writes one file per (stream, symbol, format, trigger)") {
    val syms = Seq("BTCUSDT", "ETHUSDT", "SOLUSDT")
    // interleaved, so every trigger, and any split of one, holds every key
    val frames = (1 to 20).flatMap(i => syms.flatMap(s =>
      Seq(tickerFrame(s, i), tradeFrame(s, i))))
    val replay = Files.createTempFile("ingest-files", ".jsonl")
    Files.writeString(replay, frames.mkString("", "\n", "\n"))
    val out = Files.createTempDirectory("ingest-files-out").toString
    val perTrigger = frames.size / 2

    val lines = spark.readStream.format("ws-replay")
      .option("path", replay.toString)
      .option("maxFramesPerTrigger", perTrigger.toString).load()
    var queries = Seq.empty[org.apache.spark.sql.streaming.StreamingQuery]
    // the sinks' files and the checkpoint logs are created without
    // starting an OS process (no `chmod`, no `readlink`)
    val started = ProcessStarts.during {
      queries = IngestJob.start(spark, lines, IngestConfig(symbols = syms,
        loadTypes = Seq("ticker", "trades"), outputDir = out,
        formats = Seq("parquet", "json")))
      try queries.foreach(_.processAllAvailable())
      finally queries.foreach(_.stop())
    }
    assert(started.isEmpty, s"${started.size} processes: ${started.distinct.take(5)}")

    for (q <- queries) {
      val batches = q.recentProgress.filter(_.numInputRows > 0)
      assert(batches.map(_.numInputRows).toSeq == Seq(perTrigger, perTrigger).map(_.toLong))
    }
    for (stream <- Seq("ticker", "trades"); (fmt, ext) <- Seq("parquet" -> ".parquet", "json" -> ".json")) {
      val files = filesPer(s"$out/stream=$stream/fmt=$fmt", ext)
      assert(files == syms.map(s => s"symbol=$s" -> 2).toMap, s"$stream/$fmt: $files")
    }
  }

  test("klines drain into stream=klines with the envelope's symbol as key") {
    val replay = Files.createTempFile("ingest-klines", ".jsonl")
    val frames = (1 to 3).map(i => klineFrame("BTCUSDT", i)) ++
      (1 to 2).map(i => klineFrame("ETHUSDT", i)) ++
      (1 to 2).map(i => tickerFrame("BTCUSDT", i))
    Files.writeString(replay, frames.mkString("", "\n", "\n"))
    val out = Files.createTempDirectory("ingest-klines-out").toString

    IngestJob.runReplay(spark, replay.toString, IngestConfig(
      symbols = Seq("BTCUSDT", "ETHUSDT"),
      loadTypes = Seq("klines"),
      outputDir = out))

    val klines = spark.read.parquet(s"$out/stream=klines/fmt=parquet")
    assert(klines.columns.count(_ == "symbol") == 1)
    assert(klines.columns.contains("close_price"))
    val bySym = klines.groupBy($"symbol").count()
      .as[(String, Long)].collect().toMap
    assert(bySym == Map("BTCUSDT" -> 3L, "ETHUSDT" -> 2L))
    assert(klines.filter($"symbol" === "ETHUSDT")
      .select($"interval").as[String].collect().toSet == Set("1m"))
    assert(new java.io.File(s"$out/stream=klines/fmt=parquet/symbol=ETHUSDT").exists())
  }
}
