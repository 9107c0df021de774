package graft.queries

import java.util.concurrent.{CompletableFuture, ExecutionException,
  Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.sql.classic.SparkSession
import org.apache.spark.sql.execution.SQLExecution
import org.slf4j.LoggerFactory

/** The one driver behind every distributed fixpoint loop (PageRank,
  * HashMin and pointer-doubling CC, k-core, LPA, residual push). A
  * loop supplies its round formula: `init` (the first round's state,
  * built inside the static scope), `stat` (the round's ONE job: round
  * states are cut lazily, so it both materializes the round and
  * yields the statistic), `done`, `regime` (the plan regime the next
  * round needs, from the current one and the statistic) and `step`
  * (the next round's state, planned from the current one).
  *
  * STATIC SCOPE: rounds run with AQE off, `spark.sql.shuffle.partitions`
  * pinned to the caller's data-derived partition count, and
  * constraint propagation off; all three are restored afterwards. A
  * round's plan is already pinned (edge list pre-partitioned and cut,
  * build sides hinted), so AQE adds nothing to its shape but turns
  * every Exchange into its own job plus a re-optimization: q260's 57
  * rounds ran 353 jobs under AQE at sf0.1 and one job per round
  * statically. Constraint propagation re-derives constraint sets over
  * every join at each planning pass (SPARK-19846), pure driver CPU on
  * plans whose shape is fixed.
  *
  * STAT OVERLAP: round k+1's plan depends only on round k's lazily cut
  * leaf and the regime, not on its numbers, so the stat job runs on a
  * background thread while the loop thread plans the next round under
  * the current regime. When the statistic changes the regime, that
  * speculative plan is dropped and the step replanned, so the executed
  * rounds are the serial loop's. The plan built past convergence never
  * runs (a lazy cut holds no resources). A loop whose step runs a job,
  * or must only see the exact statistic, passes `overlap = false`.
  *
  * The stat thread comes from a named daemon pool through
  * `SQLExecution.withThreadLocalCaptured`, so the stat job carries the
  * caller's local properties (job group, description, pool) and active
  * session. Stat jobs carry a per-loop job tag: if the loop thread
  * throws while a stat is in flight, the stat is cancelled by tag and
  * awaited before the rethrow. A failing stat rethrows its own
  * exception. After `maxRounds` stats without `done` the loop fails
  * loudly with its own message. Each round logs one DEBUG line on
  * `graft.queries.Fixpoint` (loop, round, plan ms, stat ms, statistic,
  * replanned).
  */
private[graft] object Fixpoint {

  private val log = LoggerFactory.getLogger("graft.queries.Fixpoint")
  private val ids = new AtomicLong

  private val statPool = Executors.newCachedThreadPool { (r: Runnable) =>
    val t = new Thread(r, s"graft-fixpoint-stat-${ids.incrementAndGet()}")
    t.setDaemon(true)
    t
  }

  /** run a loop; returns the state whose statistic was `done` and
    * the number of stats taken (`maxRounds` ≥ 1). A loop without a
    * plan regime passes `()`. */
  def run[S, T, R](loop: String, spark: SparkSession, partitions: Int,
      maxRounds: Int, overlap: Boolean)(regime0: R, init: => S)(
      stat: S => T)(done: T => Boolean, regime: (R, T) => R,
      step: (S, R) => S, unconverged: T => String): (S, Int) =
    staticLoopScope(spark, partitions) {
      val sc = spark.sparkContext
      val tag = s"graft-fixpoint-$loop-${ids.incrementAndGet()}"
      var (s, r, rounds, converged) = (init, regime0, 0, false)
      while (!converged) {
        val cur = s
        val t0 = System.nanoTime()
        val pending = Option.when(overlap)(
          SQLExecution.withThreadLocalCaptured(spark, statPool) {
            sc.addJobTag(tag)
            timed(stat(cur))
          })
        val spec = pending.map { f =>
          try step(cur, r)
          catch { case e: Throwable => cancel(sc, tag, f); throw e }
        }
        var planNs = System.nanoTime() - t0
        val (t, statNs) = pending.fold(timed(stat(cur)))(await(sc, tag, _))
        rounds += 1
        converged = done(t)
        var replanned = false
        if (!converged) {
          require(rounds < maxRounds, unconverged(t))
          val r1 = regime(r, t)
          s = spec.filter(_ => r1 == r).getOrElse {
            replanned = spec.isDefined
            val (next, ns) = timed(step(cur, r1))
            planNs += ns
            next
          }
          r = r1
        }
        log.debug(s"$loop round=$rounds planMs=${planNs / 1000000} " +
          s"statMs=${statNs / 1000000} stat=$t replanned=$replanned")
      }
      (s, rounds)
    }

  private def timed[T](body: => T): (T, Long) = {
    val t0 = System.nanoTime()
    (body, System.nanoTime() - t0)
  }

  /** the stat's result; its own exception when it failed. */
  private def await[T](sc: SparkContext, tag: String,
      f: CompletableFuture[T]): T =
    try f.get()
    catch {
      case e: ExecutionException if e.getCause != null => throw e.getCause
      case e: InterruptedException => cancel(sc, tag, f); throw e
    }

  /** cancel the in-flight stat's jobs and wait for the stat to end,
    * re-cancelling while waiting: a job the stat submits after a
    * cancel was processed is not covered by it. */
  private def cancel(sc: SparkContext, tag: String,
      f: CompletableFuture[_]): Unit =
    while (!f.isDone) {
      sc.cancelJobsWithTag(tag, "fixpoint loop failed")
      try f.get(100, TimeUnit.MILLISECONDS)
      catch { case _: Exception => () }
    }

  /** `body` under static planning (see the object doc). */
  private def staticLoopScope[T](spark: SparkSession, partitions: Int)(
      body: => T): T = {
    val conf = spark.conf
    val keys = Seq("spark.sql.adaptive.enabled",
      "spark.sql.shuffle.partitions",
      "spark.sql.constraintPropagation.enabled")
    val saved = keys.map(k => conf.get(k))
    keys.zip(Seq("false", math.max(1, partitions).toString, "false"))
      .foreach { case (k, v) => conf.set(k, v) }
    try body
    finally keys.zip(saved).foreach { case (k, v) => conf.set(k, v) }
  }
}
