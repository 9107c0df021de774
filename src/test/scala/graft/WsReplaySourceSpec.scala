package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.ingest.Projections
import graft.sources.WsFeeds

/** End-to-end tests of the custom DataSourceV2 micro-batch source
  * (S1/S2/S12 shape): replay mode with rate limiting and partitioned
  * reads, socket-style feed mode with frames arriving mid-query, and
  * the full wire pipeline (source → envelope parse → projection).
  */
class WsReplaySourceSpec extends SparkSpec {
  import spark.implicits._

  private def envelopeLine(i: Int): String =
    s"""{"stream":"ticker","symbol":"BTCUSDT","data":"{\\"last_price\\":\\"$i.0\\",\\"event_time\\":$i}"}"""

  /** a replay file of frames 10001..10000+n, all one length, so a
    * batch of k frames is exactly k lines' bytes; returns the file and
    * its line length. */
  private def fixedWidthReplay(n: Int): (java.nio.file.Path, Int) = {
    val lines = (1 to n).map(i => envelopeLine(10000 + i))
    val f = Files.createTempFile("ws-split", ".jsonl")
    Files.writeString(f, lines.mkString("", "\n", "\n"))
    (f, lines.head.length + 1)
  }

  /** drains a ws-replay stream with `opts`; per batch, the partitions
    * it planned (`batch.rdd.getNumPartitions`) and its frames. */
  private def drainSplits(opts: (String, String)*): Seq[(Int, Seq[String])] = {
    val seen = new ConcurrentLinkedQueue[(Long, Int, Seq[String])]()
    val q = opts.foldLeft(spark.readStream.format("ws-replay")) {
        case (r, (k, v)) => r.option(k, v) }
      .load().writeStream
      .option("checkpointLocation",
        Files.createTempDirectory("ws-split-ckpt").toString)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        seen.add((id, batch.rdd.getNumPartitions, batch.as[String].collect().toSeq)); ()
      }
      .start()
    q.processAllAvailable(); q.stop()
    seen.asScala.toSeq.sortBy(_._1).map { case (_, n, frames) => (n, frames) }
  }

  /** runs `body` with the session's `spark.sql.files.*` split confs
    * lowered, restoring the previous values after. */
  private def withSplitConf[T](maxBytes: Long, openCost: Long)(body: => T): T = {
    val keys = Seq("spark.sql.files.maxPartitionBytes" -> maxBytes,
      "spark.sql.files.openCostInBytes" -> openCost)
    val before = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    keys.foreach { case (k, v) => spark.conf.set(k, v.toString) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("replay splits by bytes with the file-source rule; feeds stay one partition") {
    val (f, lineBytes) = fixedWidthReplay(100)
    val all = Files.readAllLines(f).asScala.toSeq
    // default confs: a batch far below openCostInBytes (4 MB) is one reader
    val plain = drainSplits("path" -> f.toString, "maxFramesPerTrigger" -> "60")
    assert(plain.map(_._1) == Seq(1, 1))
    assert(plain.flatMap(_._2).sorted == all.sorted)

    val (maxBytes, openCost) = (1000L, 100L)
    withSplitConf(maxBytes, openCost) {
      // FilePartition.maxSplitBytes over one batch of `b` bytes
      val cores = spark.sparkContext.defaultParallelism
      def expected(frames: Int): Int = {
        val b = frames.toLong * lineBytes
        val split = math.min(maxBytes, math.max(openCost, (b + openCost) / cores))
        ((b + split - 1) / split).toInt
      }
      val split = drainSplits("path" -> f.toString, "maxFramesPerTrigger" -> "60")
      assert(split.map(_._1) == Seq(expected(60), expected(40)))
      assert(split.map(_._1).forall(_ > 1))
      // every frame exactly once across the byte-sized readers
      assert(split.flatMap(_._2).sorted == all.sorted)

      val feed = s"spec-split-feed-${System.nanoTime()}"
      WsFeeds.push(feed, all: _*)
      val fed = drainSplits("feed" -> feed)
      assert(fed.map(_._1) == Seq(1))
      assert(fed.flatMap(_._2) == all)
    }
  }

  test("replay mode reads all frames, honors maxFramesPerTrigger") {
    val f = Files.createTempFile("ws-replay", ".jsonl")
    Files.writeString(f, (1 to 97).map(envelopeLine).mkString("", "\n", "\n"))
    // split sizes lowered so each batch is several seek-and-skip readers
    val q = withSplitConf(maxBytes = 500, openCost = 100) {
      val stream = spark.readStream.format("ws-replay")
        .option("path", f.toString)
        .option("maxFramesPerTrigger", "20")
        .load()
      val q = stream.writeStream.format("memory").queryName("replayed")
        .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
      q.processAllAvailable(); q.stop()
      q
    }
    assert(spark.table("replayed").count() == 97)
    assert(spark.table("replayed").distinct().count() == 97)
    // batches were rate-limited: recentProgress shows ≤20 rows per batch
    assert(q.recentProgress.forall(_.numInputRows <= 20))
  }

  test("socket-style feed delivers frames pushed across micro-batches") {
    val feed = s"spec-feed-${System.nanoTime()}"
    val stream = spark.readStream.format("ws-replay")
      .option("feed", feed).load()
    val q = stream.writeStream.format("memory").queryName("fed")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    WsFeeds.push(feed, (1 to 5).map(envelopeLine): _*)
    q.processAllAvailable()
    WsFeeds.push(feed, (6 to 8).map(envelopeLine): _*)
    q.processAllAvailable(); q.stop()
    assert(spark.table("fed").count() == 8)
  }

  test("T6 checkpointed restart resumes exactly after committed offsets") {
    val f = Files.createTempFile("ws-ckpt", ".jsonl")
    val ckpt = Files.createTempDirectory("ws-ckpt-dir").toString
    val out = Files.createTempDirectory("ws-ckpt-out").toString
    Files.writeString(f, (1 to 30).map(envelopeLine).mkString("", "\n", "\n"))
    def run(): Unit = {
      val q = spark.readStream.format("ws-replay")
        .option("path", f.toString).option("maxFramesPerTrigger", "10")
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append").start()
      q.processAllAvailable(); q.stop()
    }
    run()
    assert(spark.read.parquet(out).count() == 30)
    // new frames arrive while the query is down
    Files.writeString(f,
      Files.readString(f) + (31 to 45).map(envelopeLine).mkString("", "\n", "\n"))
    run() // fresh query, same checkpoint: exactly the new frames are
          // appended — no duplicates of 1..30, nothing skipped
    val ids = spark.read.parquet(out)
      .select(get_json_object($"value", "$.data").as("d"))
      .select(get_json_object($"d", "$.event_time").cast("long").as("t"))
      .as[Long].collect().toSeq.sorted
    assert(ids == (1L to 45L).toSeq)
  }

  test("LineIndex scans only the appended tail, seeks via stride checkpoints") {
    import graft.sources.LineIndex
    val f = Files.createTempFile("ws-idx", ".jsonl")
    val first = (1 to 1000).map(envelopeLine).mkString("", "\n", "\n")
    Files.writeString(f, first)
    val idx = new LineIndex(f.toString, stride = 64)
    assert(idx.refresh() == 1000)
    val afterFirst = idx.totalBytesScanned
    assert(afterFirst == first.getBytes("UTF-8").length.toLong)
    // append 10 lines; the refresh must read ONLY those bytes —
    // round 1 re-read the whole file every trigger
    val tail = (1001 to 1010).map(envelopeLine).mkString("", "\n", "\n")
    Files.writeString(f, first + tail)
    assert(idx.refresh() == 1010)
    assert(idx.totalBytesScanned - afterFirst ==
      tail.getBytes("UTF-8").length.toLong)
    // a refresh with nothing appended reads zero bytes
    assert(idx.refresh() == 1010)
    assert(idx.totalBytesScanned - afterFirst ==
      tail.getBytes("UTF-8").length.toLong)
    // seek: checkpoint every 64 lines, so the residual skip is <64 and
    // the byte offset is a true line start
    val (startByte, skip) = idx.seek(700)
    assert(skip == 700 % 64 && skip < 64)
    val src = scala.io.Source.fromFile(f.toFile)
    try {
      val all = src.getLines().toVector
      val fromByte = new String(
        Files.readAllBytes(f)).substring(startByte.toInt)
      assert(fromByte.startsWith(all((700 / 64) * 64)))
    } finally src.close()
    // a half-written trailing frame is not counted until terminated
    Files.writeString(f, first + tail + "{\"partial\":")
    assert(idx.refresh() == 1010)
    Files.writeString(f, first + tail + "{\"partial\":true}\n")
    assert(idx.refresh() == 1011)
  }

  test("full wire pipeline: source frames parse into the ticker projection") {
    val f = Files.createTempFile("ws-pipe", ".jsonl")
    Files.writeString(f, (1 to 10).map(envelopeLine).mkString("", "\n", "\n"))
    val stream = spark.readStream.format("ws-replay")
      .option("path", f.toString).load()
    val parsed = Projections.parseEnvelope(stream, "ticker")
    val q = parsed.writeStream.format("memory").queryName("parsed")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val rows = spark.table("parsed")
    assert(rows.count() == 10)
    val r = rows.filter($"event_time" === 7).head()
    assert(r.getAs[String]("last_price") == "7.0")
    assert(r.getAs[String]("symbol") == "BTCUSDT")
  }

  test("ingest chain with quarantine: good frames sink keyed, bad frames dead-letter") {
    val f = Files.createTempFile("ws-dlq", ".jsonl")
    val lines = (1 to 5).map(envelopeLine) ++ Seq(
      "{broken frame", """{"data":"{\"c\":\"9\"}"}""")
    Files.writeString(f, lines.mkString("", "\n", "\n"))
    val out = Files.createTempDirectory("dlq-out").toString
    val stream = spark.readStream.format("ws-replay")
      .option("path", f.toString).load()
    val q = stream.writeStream
      .option("checkpointLocation", s"$out/ckpt")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val (ok, bad) = graft.ingest.Projections.deadLetterSplit(batch)
        graft.sinks.Sinks.writeKeyed(ok, s"$out/good")
        bad.write.mode("append").json(s"$out/dead")
        ()
      }
      .start()
    q.processAllAvailable(); q.stop()
    val good = spark.read.parquet(s"$out/good")
    assert(good.count() == 5)
    // keyed layout preserved for partition pruning downstream
    assert(good.filter($"symbol" === "BTCUSDT").count() == 5)
    val dead = spark.read.json(s"$out/dead")
    assert(dead.count() == 2)
    assert(dead.filter($"reason" === "unparseable_json").count() == 1)
    assert(dead.filter($"reason" === "missing_envelope_fields").count() == 1)
  }
}
