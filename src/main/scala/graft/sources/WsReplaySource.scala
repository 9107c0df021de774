package graft.sources

import java.util
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsAdmissionControl}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Custom DataSourceV2 micro-batch source for the exchange-stream
  * ingest path — the one component of the reference with no Spark
  * built-in (the per-(symbol,stream) WebSocket producer loop,
  * reference `binance-di.py:96-120`; SURVEY.md §4.3).
  *
  * One frame = one UTF-8 line (`value: string`), exactly the wire
  * JSON the reference's producers receive; the P1-P4 projections
  * apply downstream via `from_json`.
  *
  * Two feed modes:
  *
  *  - `path` — REPLAY: tail a line file. Offsets are line counts, so
  *    restart/recovery replays exactly (checkpoint-safe, exactly-once
  *    to idempotent sinks). `planInputPartitions` splits each batch's
  *    line range by bytes with Spark's file-source rule
  *    (`FilePartition.maxSplitBytes` over the session's
  *    `spark.sql.files.{maxPartitionBytes,openCostInBytes,
  *    minPartitionNum}`), sizing the batch as the index's mean line
  *    bytes × frames: a trigger-sized batch is one reader, so a keyed
  *    sink writes one file per key rather than one per (reader, key);
  *    a batch past the split size gets one reader per split. This is
  *    the offline harness for the live source.
  *  - `feed` — SOCKET-STYLE: frames arrive in a named in-JVM queue
  *    (`WsFeeds.push`), buffered driver-side and shipped inside the
  *    partition — the Spark-idiomatic shape for a non-replayable push
  *    source (same design as Spark's own socket source: at-least-once
  *    after restart, buffer truncated on `commit`). A production
  *    deployment opens one feed per (symbol, stream) connection and
  *    unions the sources, mirroring the reference's N producers; the
  *    `java.net.http.WebSocket` client pushing into a feed is
  *    [[WsFeedClient]] (spec-tested against an in-process server —
  *    this environment has no egress).
  *
  * Rate limiting: `maxFramesPerTrigger` caps each micro-batch
  * (backpressure the reference lacks — its queue is unbounded,
  * `binance-di.py:266`).
  */
class WsReplaySourceProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "ws-replay"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    WsReplaySource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new WsReplayTable(properties.asScala.map { case (k, v) =>
      k.toLowerCase(java.util.Locale.ROOT) -> v }.toMap)
}

object WsReplaySource {
  val schema: StructType = StructType(Seq(StructField("value", StringType)))
}

/** Incremental byte-offset line index for replay mode.
  *
  * Round-1 counted lines by re-reading the whole file every trigger
  * (O(file) driver-side per micro-batch) and each partition reader
  * `drop(n)`-ed from byte 0 (O(partitions × file) per batch, with a
  * silent `.toInt` truncation past 2³¹ lines). This index makes both
  * incremental:
  *
  *  - `refresh()` scans only the appended tail `[scanPos, len)` —
  *    O(new bytes), amortized O(1) per line over the file's life.
  *  - a stride checkpoint array records the byte offset of every
  *    `stride`-th line start, so `seek(line)` positions a reader with
  *    one `FileChannel.position` plus at most `stride-1` skipped
  *    lines — driver memory is `lines/stride` longs (a billion-line
  *    backfill at stride 4096 is ~2 MB), executor work is O(its
  *    slice), and all counters are Long.
  *
  * A frame is a '\n'-TERMINATED line: bytes after the last newline
  * are a partial frame still being appended and are re-scanned on the
  * next refresh — a half-written line is never emitted (the round-1
  * `getLines` count could emit one).
  */
final class LineIndex(path: String, stride: Int = 4096) {
  private val ckpt = ArrayBuffer(0L) // ckpt(j) = byte offset of line j*stride
  private var nLines = 0L            // complete lines scanned so far
  private var scanPos = 0L           // byte offset just past the last '\n'
  private var cumBytes = 0L          // total bytes ever scanned (spec/metrics)

  def lines: Long = nLines
  /** bytes of the complete lines scanned so far. */
  def bytes: Long = scanPos
  /** cumulative bytes read by all refresh() calls — the tail-only
    * property is asserted on this in WsReplaySourceSpec. */
  def totalBytesScanned: Long = cumBytes

  /** scan the appended tail; returns the complete-line count. */
  def refresh(): Long = {
    val ch = java.nio.channels.FileChannel.open(
      java.nio.file.Paths.get(path), java.nio.file.StandardOpenOption.READ)
    try {
      val len = ch.size()
      if (len > scanPos) {
        ch.position(scanPos)
        val buf = java.nio.ByteBuffer.allocate(1 << 20)
        var pos = scanPos
        while (pos < len) {
          buf.clear()
          val n = ch.read(buf)
          if (n <= 0) pos = len
          else {
            var i = 0
            while (i < n) {
              if (buf.get(i) == '\n') {
                nLines += 1
                scanPos = pos + i + 1
                if (nLines % stride == 0) ckpt += scanPos
              }
              i += 1
            }
            pos += n
            cumBytes += n
          }
        }
      }
      nLines
    } finally ch.close()
  }

  /** (startByte, linesToSkip): nearest checkpoint at or before `line`. */
  def seek(line: Long): (Long, Long) = {
    val j = math.min(line / stride, (ckpt.size - 1).toLong).toInt
    (ckpt(j), line - j.toLong * stride)
  }
}

/** named in-JVM frame queues for socket-style feeds. */
object WsFeeds {
  private val feeds = new java.util.concurrent.ConcurrentHashMap[String, ConcurrentLinkedQueue[String]]()
  def queue(name: String): ConcurrentLinkedQueue[String] =
    feeds.computeIfAbsent(name, _ => new ConcurrentLinkedQueue[String]())
  def push(name: String, frames: String*): Unit = frames.foreach(queue(name).add)
}

class WsReplayTable(props: Map[String, String]) extends Table with SupportsRead {
  override def name(): String =
    props.get("path").map(p => s"ws-replay($p)")
      .orElse(props.get("feed").map(f => s"ws-feed($f)"))
      .getOrElse("ws-replay")
  override def schema(): StructType = WsReplaySource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = WsReplaySource.schema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new WsReplayMicroBatchStream(props)
      }
    }
}

/** frame-count offset; json round trip for checkpointing. */
case class FrameOffset(n: Long) extends Offset {
  override def json(): String = n.toString
}

class WsReplayMicroBatchStream(props: Map[String, String])
    extends MicroBatchStream with SupportsAdmissionControl {

  private val path = props.get("path")
  private val feedName = props.get("feed")
  require(path.isDefined != feedName.isDefined,
    "exactly one of 'path' (replay) or 'feed' (socket-style) is required")
  private val maxPerTrigger = props.get("maxframespertrigger").map(_.toLong)

  /** socket-mode driver-side buffer: frames [committedBase, ...). */
  private val buffered = new ArrayBuffer[String]()
  private var bufferedBase = 0L

  private def drainFeed(): Unit = feedName.foreach { f =>
    val q = WsFeeds.queue(f)
    var frame = q.poll()
    while (frame != null) { buffered += frame; frame = q.poll() }
  }

  /** replay-mode line index — incremental tail scans only (the
    * round-1 whole-file count per trigger was a scale killer). */
  private lazy val index = path.map(new LineIndex(_))

  private def availableFrames(): Long = path match {
    case Some(_) => index.get.refresh()
    case None => drainFeed(); bufferedBase + buffered.size
  }

  override def initialOffset(): Offset = FrameOffset(0L)

  /** rate limiting via admission control: the engine hands us the
    * batch's start offset, so the cap is exact per micro-batch. */
  override def getDefaultReadLimit: ReadLimit =
    maxPerTrigger.map(n => ReadLimit.maxRows(n)).getOrElse(ReadLimit.allAvailable())

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[FrameOffset].n
    val avail = availableFrames()
    val next = limit match {
      case r: ReadMaxRows => math.min(avail, s + r.maxRows())
      case _ => avail
    }
    FrameOffset(next)
  }

  override def reportLatestOffset(): Offset = FrameOffset(availableFrames())

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "admission-control latestOffset(start, limit) is used")

  override def deserializeOffset(json: String): Offset =
    FrameOffset(json.toLong)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val (s, e) = (start.asInstanceOf[FrameOffset].n, end.asInstanceOf[FrameOffset].n)
    if (e <= s) return Array.empty
    path match {
      case Some(p) =>
        // split the line range into byte-sized executor-side readers;
        // each partition carries a byte seek point + bounded line skip
        // so readers never re-scan from byte 0
        val idx = index.get
        if (idx.lines < e) idx.refresh() // restart: rebuild index once
        // fail fast if the file shrank below a committed offset — a
        // truncated/replaced replay file must not silently emit fewer
        // rows than the planned range (offsets past EOF are data loss,
        // not a quiet short read)
        require(idx.lines >= e,
          s"replay file $p has ${idx.lines} complete lines but the " +
            s"batch plans through offset $e — file truncated or " +
            "replaced since the offset was committed")
        val frames = e - s
        val bytes = (idx.bytes.toDouble / idx.lines * frames).toLong // mean line × frames
        val n = math.min(splits(bytes).toLong, frames).toInt
        (0 until n).map { i =>
          val (from, until) = (s + frames * i / n, s + frames * (i + 1) / n)
          val (startByte, skip) = idx.seek(from)
          WsReplayPartition(p, startByte, skip, until - from)
        }.toArray
      case None =>
        // ship the buffered slice (driver-side push source)
        val slice = buffered.slice((s - bufferedBase).toInt, (e - bufferedBase).toInt)
        Array(WsFeedPartition(slice.toArray))
    }
  }

  /** readers for a replay batch of `bytes`: Spark's file-source split
    * size over the active session's `spark.sql.files.*` conf, charging
    * the batch one `openCostInBytes` as a file scan charges each file. */
  private def splits(bytes: Long): Int = {
    val spark = SparkSession.active
    val split = FilePartition.maxSplitBytes(spark,
      bytes + spark.sessionState.conf.filesOpenCostInBytes)
    ((bytes + split - 1) / split).toInt
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] =
        p match {
          case WsReplayPartition(file, startByte, skipLines, takeLines) =>
            new WsReplayReader(file, startByte, skipLines, takeLines)
          case WsFeedPartition(frames) => new WsArrayReader(frames)
        }
    }

  /** truncate the socket buffer up to the committed offset — frames
    * at or beyond `end` stay replayable within this run. */
  override def commit(end: Offset): Unit = {
    val e = end.asInstanceOf[FrameOffset].n
    if (feedName.isDefined && e > bufferedBase) {
      buffered.remove(0, (e - bufferedBase).toInt)
      bufferedBase = e
    }
  }

  override def stop(): Unit = ()
}

/** replay slice: seek to `startByte` (a stride-checkpoint line start),
  * skip at most stride-1 lines, then read `takeLines` lines. All-Long
  * so >2³¹-line backfills don't truncate. */
case class WsReplayPartition(file: String, startByte: Long,
    skipLines: Long, takeLines: Long) extends InputPartition

case class WsFeedPartition(frames: Array[String]) extends InputPartition

/** executor-side line-range reader for replay mode: one positioned
  * open per partition, O(slice) bytes read — never from byte 0. */
class WsReplayReader(file: String, startByte: Long, skipLines: Long,
    takeLines: Long) extends PartitionReader[InternalRow] {
  private val fis = new java.io.FileInputStream(file)
  fis.getChannel.position(startByte)
  private val reader = new java.io.BufferedReader(
    new java.io.InputStreamReader(fis, java.nio.charset.StandardCharsets.UTF_8))
  locally { var i = 0L; while (i < skipLines) { reader.readLine(); i += 1 } }
  private var remaining = takeLines
  private var current: String = _
  override def next(): Boolean = {
    if (remaining <= 0) false
    else { current = reader.readLine(); remaining -= 1; current != null }
  }
  override def get(): InternalRow =
    InternalRow(UTF8String.fromString(current))
  override def close(): Unit = reader.close()
}

class WsArrayReader(frames: Array[String]) extends PartitionReader[InternalRow] {
  private var i = -1
  override def next(): Boolean = { i += 1; i < frames.length }
  override def get(): InternalRow = InternalRow(UTF8String.fromString(frames(i)))
  override def close(): Unit = ()
}
