package graft.sinks

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.fs.LocalFs

/** Sink family of the reference engine (SURVEY.md §2.1 S4-S11)
  * re-expressed on Spark's writers:
  *
  *  - keyed, partitioned file series `{stream}_{symbol}_{part}.{fmt}`
  *    (`binance-di.py:167-207`) → `partitionBy("stream","symbol")`
  *    directories with `maxRecordsPerFile` rotation
  *    (`FILE_ROTATION_LINE_COUNT = 100000`, `binance-di.py:32`);
  *  - the Redis-stream key scheme `binance:{stream}:{symbol}`
  *    (`binance-di.py:144`) → a canonical key column (one scheme,
  *    fixing the reference's `orderbook`/`order-book` mismatch,
  *    SURVEY.md §3.3);
  *  - multi-sink fan-out (`binance-di.py:127-149`) → one persisted
  *    micro-batch written K times inside `foreachBatch`;
  *  - machine-mode envelope lines (`--print-only --silent`,
  *    `binance-di.py:130-132`) → a one-column JSON-line frame.
  *
  * Scale notes: `partitionBy(stream, symbol)` gives partition pruning
  * on read; `maxRecordsPerFile` bounds file sizes without a
  * repartition; a keyed write makes one file per (input partition,
  * key), so file counts follow the source's byte-sized splits;
  * fan-out persists the batch once instead of recomputing the plan
  * per sink.
  */
object Sinks {

  /** reference `FILE_ROTATION_LINE_COUNT` (`binance-di.py:32`). */
  val RotationRecords = 100000

  /** reference `BATCH_SIZE_FOR_COLUMNAR` (`binance-di.py:31`) — kept
    * as documentation; Spark's Parquet writer row-groups natively. */
  val ColumnarBatch = 10000

  /** canonical keyed-stream name, `binance:{stream}:{symbol}`
    * (`binance-di.py:144`; lower-cased symbol as in `binance-di.py:97`). */
  def streamKey(prefix: String = "binance") =
    concat_ws(":", lit(prefix), col("stream"), lower(col("symbol")))

  /** S5-S8 — keyed file sink with rotation. `format` one of
    * json/csv/parquet/orc; CSV gets an explicit header (schema-driven,
    * not first-record-inferred — SURVEY.md §7.4). */
  def writeKeyed(df: DataFrame, path: String, format: String = "parquet",
      maxRecordsPerFile: Int = RotationRecords,
      partitionCols: Seq[String] = Seq("stream", "symbol")): Unit = {
    LocalFs.install(df.sparkSession)
    var w = df.write.format(format).mode(SaveMode.Append)
      .option("maxRecordsPerFile", maxRecordsPerFile.toLong)
    if (format == "csv") w = w.option("header", "true")
    w.partitionBy(partitionCols: _*).save(path)
  }

  /** S11 — one batch, K formats under `basePath/fmt={format}`;
    * persist once, write K times. */
  def fanOutBatch(df: DataFrame, basePath: String, formats: Seq[String],
      partitionCols: Seq[String] = Seq("stream", "symbol")): Unit = {
    df.persist()
    try formats.foreach(f =>
      writeKeyed(df, s"$basePath/fmt=$f", f, partitionCols = partitionCols))
    finally { df.unpersist(); () }
  }

  /** S10 — machine-mode envelope: one JSON object per line with the
    * `{"stream","symbol","data"}` shape (`binance-di.py:130`). */
  def envelopeLines(df: DataFrame): DataFrame = {
    val dataCols = df.columns.filterNot(c => c == "stream" || c == "symbol")
    df.select(to_json(struct(
      col("stream"), col("symbol"),
      struct(dataCols.map(col).toIndexedSeq: _*).as("data"))).as("value"))
  }

  /** Small-files compaction — the maintenance pass every streaming
    * ingest needs: micro-batches produce files sized by TRIGGER
    * cadence, not by optimal scan granularity, and a year of 10-second
    * triggers is ~3M files whose open/footer costs dominate reads.
    * Rewrites a parquet directory into files of ~`targetBytes`,
    * sizing from the actual on-disk footprint (listing, not a data
    * scan). `coalesce`, not `repartition`: compaction must not pay a
    * full shuffle of the corpus — input splits merge locally. Writes
    * to `outDir` (swap-on-success is the caller's atomic-publish
    * step; compacting in place would lose data on failure).
    * Returns (filesBefore, filesAfter). */
  def compact(spark: org.apache.spark.sql.SparkSession, inDir: String,
      outDir: String, targetBytes: Long = 128L << 20): (Int, Int) = {
    LocalFs.install(spark)
    val path = new org.apache.hadoop.fs.Path(inDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listFiles(path, true)
    var nFiles = 0
    var totalBytes = 0L
    while (files.hasNext) {
      val f = files.next()
      if (f.getPath.getName.endsWith(".parquet")) {
        nFiles += 1; totalBytes += f.getLen
      }
    }
    val nOut = math.max(1, ((totalBytes + targetBytes - 1) / targetBytes).toInt)
    spark.read.parquet(inDir).coalesce(nOut)
      .write.mode(SaveMode.Overwrite).parquet(outDir)
    val outFiles = fs.listFiles(new org.apache.hadoop.fs.Path(outDir), true)
    var nAfter = 0
    while (outFiles.hasNext) {
      if (outFiles.next().getPath.getName.endsWith(".parquet")) nAfter += 1
    }
    (nFiles, nAfter)
  }

  /** S11 streaming — multi-format fan-out off one source via
    * `foreachBatch`: idempotent per-batch writes + checkpointing give
    * exactly-once to files (strictly stronger than the reference's
    * at-most-once, SURVEY.md §2.9 T6). */
  def startFanOut(df: DataFrame, basePath: String, checkpoint: String,
      formats: Seq[String]): StreamingQuery = {
    LocalFs.install(df.sparkSession)
    df.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        fanOutBatch(batch, basePath, formats)
      }
      .start()
  }
}
