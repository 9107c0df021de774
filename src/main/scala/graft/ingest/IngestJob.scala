package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.fs.LocalFs
import graft.model.Schemas
import graft.sinks.Sinks
import graft.streaming.{Envelope, Streams}

/** the reference CLI surface (`binance-di.py:217-240`) as a typed
  * config: symbols (`--symbol`), stream types (`--load`), output
  * formats (`--output`), per-key sample cap (`--samples`), machine-
  * mode passthrough (`--print-only`). */
case class IngestConfig(
    symbols: Seq[String],
    // reference default: klines is opt-in (binance-di.py:220)
    loadTypes: Seq[String] = Seq("ticker", "trades", "order-book"),
    outputDir: String,
    formats: Seq[String] = Seq("parquet"),
    samplesPerKey: Option[Int] = None,
    maxFramesPerTrigger: Option[Long] = None)

/** The reference's primary entry point (`main` →
  * `symbols × load_types` producers → one consumer → sinks,
  * `binance-di.py:242-314`) as a Structured Streaming job: one query
  * per stream type, each parsing the multiplexed envelope stream,
  * filtering its (stream, symbol) routing predicate, applying the
  * per-stream projection, enforcing the per-key sample quota, and
  * fanning out to every configured format under
  * `{outputDir}/stream={type}/symbol={sym}/` with 100k-record
  * rotation.
  *
  * Parallelism model: the reference serializes every record through
  * one consumer coroutine; here each stream type is an independent
  * query and each micro-batch is partitioned work — per-key ordering
  * is preserved by the (stream, symbol) partitioning, global
  * throughput is executor-bound, and backpressure comes from source
  * admission control instead of an unbounded queue. The source sizes
  * a batch's partitions by bytes (Spark's file-source split rule over
  * `spark.sql.files.*`): a trigger-sized batch is one task, which
  * writes one file per (symbol, format). [[Sinks.fanOutBatch]]
  * persists the batch once and writes it in each format.
  *
  * File creation: [[start]] first installs the fork-free local file
  * system ([[graft.fs.LocalFs.install]]), so the sinks' files and the
  * offset- and commit-log entries of every trigger are created
  * without starting an OS process; the stock one runs `chmod` per
  * file, `.crc` and directory, and `readlink` per log rename.
  */
object IngestJob {

  /** start one streaming query per configured stream type over a
    * multiplexed envelope-line frame (`value: string` — from the
    * ws-replay/feed source or any line source). */
  def start(spark: SparkSession, lines: DataFrame,
      config: IngestConfig): Seq[StreamingQuery] = {
    import spark.implicits._
    LocalFs.install(spark)
    val symbolSet = config.symbols.map(_.toUpperCase)
    config.loadTypes.map { stream =>
      val env = lines
        .select(from_json(col("value"), Schemas.envelope()).as("env"))
        .select(col("env.stream").as("stream"), col("env.symbol").as("symbol"),
          col("env.data").as("data"))
        .filter(col("stream") === stream &&
          upper(col("symbol")).isin(symbolSet: _*))
        .as[Envelope]
      val limited = config.samplesPerKey
        .map(n => Streams.limitPerKeyStream(env, n)).getOrElse(env)
      val payloadSchema = stream match {
        case "ticker"     => Schemas.ticker
        case "order-book" => Schemas.orderBook
        case "trades"     => Schemas.trade
        case "klines"     => Schemas.kline
        case other        => throw new IllegalArgumentException(other)
      }
      // the envelope's `symbol` is the routing and partition key; a
      // payload that repeats it (klines) drops its own copy, which
      // would otherwise make `symbol` ambiguous downstream
      val parsed = limited.toDF()
        .withColumn("d", from_json(col("data"), payloadSchema))
        .select(col("symbol") +: payloadSchema.fieldNames.toIndexedSeq
          .filterNot(_ == "symbol")
          .map(f => col(s"d.$f").as(f)): _*)
      parsed.writeStream
        .outputMode("append")
        .option("checkpointLocation", s"${config.outputDir}/_ckpt/$stream")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          Sinks.fanOutBatch(batch, s"${config.outputDir}/stream=$stream",
            config.formats, partitionCols = Seq("symbol"))
        }
        .queryName(s"ingest-$stream")
        .start()
    }
  }

  /** convenience: run from a ws-replay file (the offline harness /
    * backfill path) and block until drained. */
  def runReplay(spark: SparkSession, replayPath: String,
      config: IngestConfig): Unit = {
    var reader = spark.readStream.format("ws-replay")
      .option("path", replayPath)
    config.maxFramesPerTrigger.foreach(n =>
      reader = reader.option("maxFramesPerTrigger", n.toString))
    val queries = start(spark, reader.load(), config)
    queries.foreach(_.processAllAvailable())
    queries.foreach(_.stop())
  }
}
