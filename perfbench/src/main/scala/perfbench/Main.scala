package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Everything a workload needs: the session, the tracer, the run's
  * parameters and its private working directory. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val args: Map[String, String]) {
  val seed: Long = args("seed").toLong
  val seconds: Double = args("seconds").toDouble
  val trace: Boolean = args("trace") == "1"
  val work: String = args("work")
  /** "full" for measured runs, "tiny" for the smoke test. */
  val size: String = args.getOrElse("size", "full")
  val tiny: Boolean = size == "tiny"
  /** an injected defect, for the smoke test of the correctness gate. */
  val inject: String = args.getOrElse("inject", "none")
  val nproc: Int = args("nproc").toInt
  val dataDir: String = args.getOrElse("data", "")
  private val t0EpochMs = args("t0_ms").toDouble

  val res = new Result
  private var timedFrom = 0.0

  /** seconds since process start at named points of the run, recorded
    * in the run record to show where a run's time goes. */
  val marks: mutable.LinkedHashMap[String, Double] = Stats.metrics()
  def mark(name: String): Unit = marks(name) = (Tracer.epochMs - t0EpochMs) / 1000.0

  /** call right before the first timed operation: closes set-up. */
  def startTimed(): Unit = {
    res.setupS = (Tracer.epochMs - t0EpochMs) / 1000.0
    marks("timed_start") = res.setupS
    Stats.sampleLiveHeap()
    Stats.watchHeap(true)
    timedFrom = Stats.nowMs
  }

  /** call right after the last timed operation. */
  def endTimed(): Double = {
    val s = timedElapsedS
    mark("timed_end")
    Stats.sampleLiveHeap()
    Stats.watchHeap(false)
    s
  }
  def timedElapsedS: Double = (Stats.nowMs - timedFrom) / 1000.0

  def path(rel: String): String = s"$work/$rel"

  /** least number of timed repetitions: `untraced`, or `traced` in a
    * traced run, which alternates traced and untraced ones. A tiny
    * run makes the fewest that still give both kinds. */
  def minReps(untraced: Int, traced: Int): Int =
    if (tiny) (if (trace) 2 else 1) else if (trace) traced else untraced
}

/** What a run reports. `latency` and `throughput` are the workload's
  * end-to-end samples; `layers` its per-layer counters. */
final class Result {
  var setupS = 0.0
  val latencyMs = mutable.ArrayBuffer.empty[Double]
  var throughputPerS = 0.0
  /** timed seconds that ran with tracing on. */
  var tracedS = 0.0
  val layers: mutable.LinkedHashMap[String, Double] = Stats.metrics()
  val detail = mutable.LinkedHashMap.empty[String, Any]
  val checks = mutable.ArrayBuffer.empty[mutable.LinkedHashMap[String, Any]]
  var attempted = 0L
  var failed = 0L

  /** a correctness check; a failing one counts as a failed operation. */
  def check(name: String, ok: Boolean, what: => String = ""): Unit = {
    checks += mutable.LinkedHashMap("name" -> name, "ok" -> ok,
      "detail" -> (if (ok) "" else what))
    if (!ok) failed += 1
  }
}

object Main {
  /** the program's layers, named after its modules. */
  val Layers: Seq[String] = Seq("sources", "ingest", "sinks", "streaming", "queries")

  val Workloads: Map[String, Ctx => Unit] = Map(
    "wire_fanout" -> WireFanout.run,
    "standing_absorb" -> StandingAbsorb.run,
    "catalog_scan" -> (ctx => Catalog.run(ctx, Catalog.Scan)))

  /** runs each workload of a comma-separated list in turn and drops
    * the results: run.py does this once per build, at tiny size, so
    * that the JVM records the classes the workloads load in its
    * class-data archive. */
  private def train(spark: SparkSession, tracer: Tracer, args: Map[String, String]): Unit =
    args("workload").split(",").foreach { w =>
      val work = s"${args("work")}/$w"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(work))
      try Workloads(w)(new Ctx(spark, tracer, args ++ Map("workload" -> w, "work" -> work)))
      catch { case e: Throwable => e.printStackTrace() }
    }

  /** args: --key value pairs; see run.py for the list. */
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val nproc = args("nproc")
    val work = args("work")
    // private roots: side tables, spark scratch and every output of
    // this run live under the run's own directory
    System.setProperty("graft.side.dir", s"$work/side")
    Stats.installGcWatch()
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", nproc)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // wire frames carry case-significant keys
      .config("spark.sql.caseSensitive", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(spark, args("trace") == "1")
    if (workload.contains(",")) {
      train(spark, tracer, args)
      spark.stop()
      return
    }
    val ctx = new Ctx(spark, tracer, args)
    val res = ctx.res
    ctx.mark("session")
    try Workloads(workload)(ctx)
    catch {
      case e: Throwable =>
        e.printStackTrace()
        res.check("workload completed", ok = false, String.valueOf(e))
    }
    ctx.mark("checked")
    res.detail("marks_s") = ctx.marks
    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> workload,
      "setup_s" -> res.setupS,
      "latency_ms" -> res.latencyMs.toSeq,
      "throughput_per_s" -> res.throughputPerS,
      "peak_rss_mb" -> Stats.peakRssMb(),
      "peak_mem_mb" -> Stats.liveHeapPeakMb,
      "timed_gcs" -> Stats.gcCount,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "attempted" -> res.attempted,
      "failed" -> res.failed,
      "checks" -> res.checks,
      "layers" -> res.layers,
      "detail" -> res.detail)
    if (ctx.trace) {
      val spans = tracer.allSpans
      // busy share of each layer over the traced seconds
      val self = Tracer.selfTimeByLayer(spans)
      Layers.foreach(l => res.layers(s"$l.self_ms_per_s") =
        if (res.tracedS > 0) self.getOrElse(l, 0.0) / res.tracedS else 0.0)
      val f = ctx.path("spans.json")
      java.nio.file.Files.writeString(java.nio.file.Paths.get(f), Tracer.spansJson(spans))
      out("spans_file") = f
      out("span_count") = spans.size
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(args("out")), Stats.json(out))
    spark.stop()
  }
}
