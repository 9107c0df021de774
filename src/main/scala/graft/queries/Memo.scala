package graft.queries

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The one session memo behind every shared query intermediate (the
  * basket/co-purchase graph, the shingle/band/TF tables, the
  * transaction graphs, the quantized vectors, the resolved dataset
  * tables of [[Q.t]]): a value built once is reused by every later
  * query on the same session and dataset.
  *
  *  - KEY: (session, name, dir), checked against
  *    [[SideTables.fingerprint]] (file names + sizes + mtimes) of the
  *    `sources` tables the builder reads. A table rewritten at the same
  *    path changes the fingerprint, and the next lookup rebuilds: a
  *    reused result is sound only when keyed on what it depends on.
  *  - PER-KEY LATCH: each key owns a small cell whose lazy value is
  *    forced OUTSIDE the map's locking, under the cell's own monitor.
  *    A same-key caller waits for the one build; a different-key build
  *    never waits. Builds nest (`lpaLabels` → `coPurchaseEdges` →
  *    `basketItems`), which is why the build must not run inside
  *    `ConcurrentHashMap.compute`. A build that throws leaves its cell
  *    unforced, so the next call builds again and no failure is cached.
  *  - RELEASE ON STOP: every lookup drops the entries of sessions whose
  *    `SparkContext` is stopped. A weak map keyed by the session would
  *    never release: each cached DataFrame references its session.
  *  - ATTRIBUTION: each build is recorded as a [[Build]]; `Bench`
  *    reports the builds inside each query's timed attempts as
  *    `memo_built`. A lookup that finds its key's entry current is
  *    counted as a hit of its name ([[hits]]).
  */
object Memo {

  /** one completed build. `ms` is the builder body's wall time,
    * nested memo builds included; a lazy `localCheckpoint` inside it
    * materializes later, in the first action of the same query. */
  final case class Build(name: String, dir: String, ms: Long)

  private final case class Key(s: SparkSession, name: String, dir: String)

  private final class Cell(val fingerprint: String, build: () => AnyRef) {
    lazy val value: AnyRef = build()
  }

  private val cells = new ConcurrentHashMap[Key, Cell]()

  private val built = collection.mutable.ArrayBuffer.empty[Build]
  def builds: Seq[Build] = built.synchronized(built.toList)

  private val served = new ConcurrentHashMap[String, LongAdder]()

  def apply[T <: AnyRef](s: SparkSession, dir: String, name: String,
      sources: Seq[String])(build: => T): T = {
    cells.keySet.removeIf(_.s.sparkContext.isStopped)
    val fp = SideTables.fingerprint(s, dir, sources)
    val cell = cells.compute(Key(s, name, dir), (_: Key, old: Cell) =>
      if (old != null && old.fingerprint == fp) {
        served.computeIfAbsent(name, _ => new LongAdder).increment()
        old
      } else new Cell(fp, () => {
        val t0 = System.nanoTime()
        val v = build
        built.synchronized(
          built += Build(name, dir, (System.nanoTime() - t0) / 1000000L))
        v
      }))
    cell.value.asInstanceOf[T]
  }

  /** lookups of `name`, over every session and dir, that found a
    * current entry. */
  private[graft] def hits(name: String): Long =
    Option(served.get(name)).fold(0L)(_.sum)

  /** live entries held for `s` — for specs of the release rule. */
  private[graft] def entries(s: SparkSession): Int =
    cells.keySet.asScala.count(_.s eq s)
}
