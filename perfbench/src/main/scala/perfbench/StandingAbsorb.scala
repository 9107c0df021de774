package perfbench

import scala.collection.mutable

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.queries.PipelineOps
import graft.streaming.{PartitionedArtifact, StandingGraph}

/** `standing_absorb`: a standing graph kept by
  * `StandingGraph.maintainStream` over a `ws-replay` changelog.
  *
  * Open loop: one generator thread appends edge-add frames at a fixed
  * rate, each stamped with the time it was due. Commit latency runs
  * from a frame's due time to the end of the trigger that committed
  * its artifact version. Beside it, one reader thread runs
  * `readLatest` plus a top-10 component-size query in a closed loop.
  * The bootstrapped graph is one giant component and every add
  * attaches to it, the transaction-graph shape the standing artifact
  * documents. The changelog has no deletes: a batch with one runs the
  * retraction half too and took ~8 s against ~4-5 s, more than the
  * run's time budget holds. */
object StandingAbsorb {
  private val FrameSchema = StructType(Seq(StructField("kind", StringType),
    StructField("src", LongType), StructField("dst", LongType), StructField("due", LongType)))

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val tr = ctx.tracer
    val res = ctx.res
    val r = new java.util.Random(ctx.seed)
    val nodes0 = if (ctx.tiny) 300 else 2000
    val rate = if (ctx.tiny) 50.0 else 250.0
    val warmFrames = if (ctx.tiny) 50 else 200
    val root = ctx.path("graph")
    val file = ctx.path("changelog.jsonl")

    // set-up: bootstrap one giant component (a random tree plus extra edges)
    val expected = mutable.LinkedHashSet.empty[(Long, Long)]
    (1 until nodes0).foreach(i => expected += ((i.toLong, r.nextInt(i).toLong)))
    (0 until nodes0 / 4).foreach { _ =>
      val a = r.nextInt(nodes0).toLong
      val b = r.nextInt(nodes0).toLong
      if (a != b) expected += ((a, b))
    }
    val base = expected.toSeq.toDF("src", "dst")
    StandingGraph.bootstrap(base, PipelineOps.connectedComponents(base), root)
    ctx.mark("bootstrap")

    // the changelog generator: frame i is line i of the file
    var nextNode = nodes0 - 1L
    def pick(): Long = (r.nextDouble() * (nextNode + 1)).toLong
    // 70% attach a new node, 30% join two standing nodes
    def nextEdge(): (Long, Long) =
      if (r.nextDouble() < 0.7) { val b = pick(); nextNode += 1; (nextNode, b) }
      else { var e = (pick(), pick()); while (e._1 == e._2) e = (pick(), pick()); e }
    val due = mutable.ArrayBuffer.empty[Double]
    val writer = java.nio.file.Files.newBufferedWriter(java.nio.file.Paths.get(file))
    val dropAt = if (ctx.inject == "drop_frame") warmFrames + 5 else -1
    def emit(dueMs: Double): Unit = {
      val (a, b) = nextEdge()
      expected += ((a, b))
      val line = s"""{"kind":"add","src":$a,"dst":$b,"due":${dueMs.toLong}}"""
      if (due.size != dropAt) {
        writer.write(line)
        writer.write('\n')
      }
      due += dueMs
    }
    // a dropped frame leaves no line; keep line numbers aligned with `due`
    def lineDue(line: Long): Double = {
      val i = if (dropAt >= 0 && line >= dropAt) line + 1 else line
      due(i.toInt)
    }

    val events = spark.readStream.format("ws-replay").option("path", file).load()
      .select(from_json(col("value"), FrameSchema).as("e")).select("e.*")
    (0 until warmFrames).foreach(_ => emit(Tracer.epochMs))
    writer.flush()
    if (ctx.trace) tr.attach()
    val q = tr.span("streaming", "StandingGraph.maintainStream")(
      StandingGraph.maintainStream(events, root, ctx.path("ckpt")))
    def read(): (Double, Double) = {
      val t0 = Stats.nowMs
      val tables = tr.span("streaming", "readLatest")(StandingGraph.readLatest(spark, root))
      val t1 = Stats.nowMs
      tr.span("streaming", "top10") {
        tables("labels").groupBy(col("label")).count()
          .orderBy(col("count").desc, col("label")).limit(10).collect()
      }
      (t1 - t0, Stats.nowMs - t1)
    }
    // warm-up: absorb the first frames and run one read
    q.processAllAvailable()
    ctx.mark("warm_absorb")
    read()
    tr.detach()
    val warmLines = due.size

    ctx.startTimed()
    val start = Tracer.epochMs
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    var lateMax = 0.0
    val gen = new Thread(() => {
      var i = 0L
      while (!stop.get()) {
        val now = Tracer.epochMs
        while (start + i * 1000.0 / rate <= now) {
          val d = start + i * 1000.0 / rate
          emit(d)
          lateMax = math.max(lateMax, Tracer.epochMs - d)
          i += 1
        }
        writer.flush()
        Thread.sleep(5)
      }
    }, "changelog-generator")
    gen.setDaemon(true)
    gen.start()

    // closed-loop reader beside the absorbs, until every frame of the
    // window has committed; a traced run traces all of it, so every
    // timed batch has its jobs
    val reads = mutable.ArrayBuffer.empty[(Boolean, Double, Double)]
    def readOnce(traced: Boolean): Unit = {
      res.attempted += 1
      try { val (p, e) = read(); reads += ((traced, p, e)) }
      catch { case e: Throwable => res.check("read", ok = false, String.valueOf(e).take(300)) }
    }
    tr.attach()
    val tracedFrom = Stats.nowMs
    while (ctx.timedElapsedS < ctx.seconds) readOnce(ctx.trace)
    stop.set(true)
    gen.join()
    writer.close()
    val windowS = ctx.timedElapsedS
    ctx.mark("window_end")
    val lines = due.size - (if (dropAt >= 0 && dropAt < due.size) 1 else 0)
    def committedLines = Option(q.lastProgress).map(_.sources.head.endOffset.toLong).getOrElse(0L)
    while (q.isActive && committedLines < lines && ctx.timedElapsedS < ctx.seconds + 120)
      readOnce(ctx.trace)
    // every frame due in the window commits before the run ends
    q.processAllAvailable()
    val drainS = ctx.timedElapsedS - windowS
    ctx.mark("drained")
    tr.drainEvents()
    val progress = q.recentProgress.toSeq.filter(_.numInputRows > 0)
    q.stop()
    tr.addTriggers(0L, "streaming", progress.filter(p =>
      java.time.Instant.parse(p.timestamp).toEpochMilli >= start), {
      case "latestOffset" | "getBatch" => "sources"
      case _ => "streaming"
    })
    tr.detach()
    var tracedMs = Stats.nowMs - tracedFrom
    // a traced run then alternates traced and untraced reads of the
    // final artifact in ABBA order, all on one state: their difference
    // is the tracing overhead. The first read of that version, the
    // slowest, is not timed.
    val idleFrom = reads.size
    if (ctx.trace) {
      read()
      (0 until 12).foreach { i =>
        val traced = i % 4 == 0 || i % 4 == 3
        if (traced) tr.attach()
        val t0 = Stats.nowMs
        readOnce(traced)
        if (traced) { tracedMs += Stats.nowMs - t0; tr.detach() }
      }
    }
    val idle = reads.drop(idleFrom)
    ctx.endTimed()

    // commit latency per frame: due time to the end of its trigger
    val timedBatches = mutable.ArrayBuffer.empty[(Long, Double, Double, Long)]
    progress.foreach { p =>
      val src = p.sources.head
      val s = Option(src.startOffset).map(_.toLong).getOrElse(0L)
      val e = src.endOffset.toLong
      val t0 = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val end = t0 + p.durationMs.get("triggerExecution").toDouble
      var line = math.max(s, warmLines.toLong - (if (dropAt >= 0 && dropAt < warmLines) 1 else 0))
      if (line < e) timedBatches += ((p.batchId, t0, end, e - s))
      while (line < e) { res.latencyMs += end - lineDue(line); line += 1 }
    }
    val committed = res.latencyMs.size
    val timedFrames = due.size - warmLines
    res.check("every timed frame committed", committed == timedFrames - (if (dropAt >= warmLines) 1 else 0),
      s"committed $committed of $timedFrames")

    val readLat = reads.take(idleFrom).map { case (_, p, e) => p + e }
    res.throughputPerS = if (readLat.isEmpty) 0.0 else 1000.0 / Stats.median(readLat)
    val timedIds = timedBatches.map(_._1).toSet
    val tp = progress.filter(p => timedIds.contains(p.batchId))
    val framesIn = timedBatches.map(_._4).sum
    def total(stats: => Map[String, Long]): Double =
      try stats.values.sum.toDouble catch { case _: Throwable => 0.0 }
    val written = tp.map(p => total(PartitionedArtifact.writeStats(spark, root, p.batchId))).sum
    val readParts = tp.map(p => total(PartitionedArtifact.readStats(spark, root, p.batchId)))
    val (artBytes, _) = Stats.dirUsage(root)
    val liveVersions = Option(new java.io.File(root).listFiles()).toSeq.flatten
      .count(d => d.getName.startsWith("v=") && new java.io.File(d, "_COMMIT").exists() &&
        !new java.io.File(d, "_EXPIRE").exists())
    val backlog = tp.map(p => Option(p.sources.head.latestOffset).map(_.toLong).getOrElse(0L) -
      p.sources.head.endOffset.toLong).map(_.toDouble)
    res.layers ++= Seq(
      "sources.backlog_frames_p90" -> Stats.quantile(backlog, 0.9),
      "sources.generator_late_ms_max" -> lateMax,
      "streaming.absorb_ms_p50" -> Stats.median(tp.map(p => p.durationMs.get("addBatch").toDouble)),
      // a batch's frames are its offset range; numInputRows counts
      // each time the absorb reads the batch
      "sources.read_amplification" -> tp.map(_.numInputRows).sum.toDouble / math.max(1L, framesIn),
      "streaming.frames_per_batch_p50" -> Stats.median(timedBatches.map(_._4.toDouble)),
      "streaming.rows_written_per_event" -> written / math.max(1L, framesIn),
      "streaming.partitions_read_per_batch" -> Stats.median(readParts),
      "streaming.read_plan_ms" -> Stats.median(reads.take(idleFrom).map(_._2)),
      "streaming.read_exec_ms" -> Stats.median(reads.take(idleFrom).map(_._3)),
      "streaming.live_versions" -> liveVersions.toDouble,
      "streaming.artifact_bytes_per_event" -> artBytes.toDouble / expected.size)
    if (ctx.trace) {
      // jobs of the stream, per traced batch
      val jobs = tr.allJobs.filter(_.queryId.contains(q.id.toString))
      val per = timedBatches.map { case (_, s, e, _) => jobs.filter(j => j.startMs >= s && j.startMs <= e) }
      res.layers("streaming.jobs_per_batch") = Stats.median(per.map(_.size.toDouble))
      res.layers("streaming.tasks_per_batch") = Stats.median(per.map(_.map(_.tasks).sum.toDouble))
      val (t, u) = idle.partition(_._1)
      res.layers("trace.overhead_pct") = Tracer.overheadPct(
        t.map(x => x._2 + x._3).toSeq, u.map(x => x._2 + x._3).toSeq)
      res.tracedS = tracedMs / 1000.0
    }
    res.detail ++= Seq("rate_per_s" -> rate, "bootstrap_edges" -> nodes0,
      "timed_frames" -> timedFrames, "batches" -> timedBatches.size,
      "window_s" -> windowS, "drain_s" -> drainS, "reads" -> idleFrom,
      "commit_latency_p50_ms" -> Stats.median(res.latencyMs),
      "commit_latency_p90_ms" -> Stats.quantile(res.latencyMs, 0.9),
      "read_latency_p50_ms" -> Stats.median(readLat),
      "read_latency_p90_ms" -> Stats.quantile(readLat, 0.9),
      "generator_late_ms_max" -> lateMax)

    // untimed: the standing state holds exactly the generated edges,
    // and its labels equal a from-scratch solve over them
    val latest = StandingGraph.readLatest(spark, root)
    val edges = latest("edges").as[(Long, Long)].collect().toSet
    val labels = latest("labels").as[(Long, Long)].collect().toMap
    val want = expected.toSet
    val scratch = PipelineOps.connectedComponents(want.toSeq.toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap
    res.check("standing edges equal the generated edges", edges == want,
      s"${(want -- edges).size} missing, ${(edges -- want).size} extra")
    res.check("standing labels equal a from-scratch solve", labels == scratch,
      s"${labels.count { case (k, v) => !scratch.get(k).contains(v) }} labels differ")
  }
}
