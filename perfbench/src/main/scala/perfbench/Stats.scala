package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Small numeric and JSON helpers shared by the workloads. */
object Stats {

  /** linear-interpolated quantile, q in [0, 1]; 0 for no samples. */
  def quantile(xs: Iterable[Double], q: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) 0.0
    else {
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  def median(xs: Iterable[Double]): Double = quantile(xs, 0.5)

  def nowMs: Double = System.nanoTime() / 1e6

  @volatile private var liveHeapPeak = 0L
  @volatile private var watching = false
  @volatile private var gcSeen = 0L

  /** record the heap left after every collection that ends while
    * `watchHeap(true)` is on, so that memory held only while work runs
    * (persisted batches, broadcasts, shuffle buffers) shows. */
  def installGcWatch(): Unit = {
    import java.lang.management.{ManagementFactory, MemoryType}
    import com.sun.management.GarbageCollectionNotificationInfo
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    val listener: javax.management.NotificationListener = (n, _) =>
      if (watching && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val after = GarbageCollectionNotificationInfo
          .from(n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          .getGcInfo.getMemoryUsageAfterGc.asScala
        val used = after.collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        liveHeapPeak = math.max(liveHeapPeak, used)
        gcSeen += 1
      }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: javax.management.NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ =>
    }
  }

  def watchHeap(on: Boolean): Unit = watching = on

  /** collections seen while watching. */
  def gcCount: Long = gcSeen

  /** collect garbage and record the live heap: called at the end of
    * set-up and of the timed part, a floor under the per-collection
    * figures. */
  def sampleLiveHeap(): Unit = {
    // the second collection frees what Spark's context cleaner released
    // after the first (broadcasts, shuffle and RDD blocks)
    System.gc()
    Thread.sleep(300)
    System.gc()
    val used = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    liveHeapPeak = math.max(liveHeapPeak, used)
  }

  def liveHeapPeakMb: Double = liveHeapPeak / 1048576.0

  /** peak resident set size of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val lines = scala.io.Source.fromFile("/proc/self/status").getLines().toList
    lines.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }

  /** total bytes and regular-file count under `dir`, skipping
    * checksum and marker files. */
  def dirUsage(dir: String, fileFilter: String => Boolean = _ => true): (Long, Long) = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) (0L, 0L)
    else {
      val st = java.nio.file.Files.walk(p)
      try {
        var bytes = 0L
        var n = 0L
        st.iterator().forEachRemaining { f =>
          val name = f.getFileName.toString
          if (java.nio.file.Files.isRegularFile(f) && !name.startsWith(".") &&
              !name.startsWith("_") && fileFilter(name)) {
            bytes += java.nio.file.Files.size(f)
            n += 1
          }
        }
        (bytes, n)
      } finally st.close()
    }
  }

  def deleteTree(dir: String): Unit = {
    val p = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(p)) {
      val st = java.nio.file.Files.walk(p)
      try st.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => java.nio.file.Files.deleteIfExists(f))
      finally st.close()
    }
  }

  /** minimal JSON rendering for maps, sequences, strings and numbers. */
  def json(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => json(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case xs: Array[_] => json(xs.toSeq)
    case o: Option[_] => o.map(json).getOrElse("null")
    case other => json(other.toString)
  }

  /** insertion-ordered metric map. */
  def metrics(): mutable.LinkedHashMap[String, Double] =
    mutable.LinkedHashMap.empty[String, Double]
}
