package graft.queries

import org.apache.spark.sql.DataFrame

import graft.fs.LocalFs

/** Lineage cut for the iterative fixpoint loops (connected
  * components, PageRank, LPA, k-core peeling).
  *
  * Default is `localCheckpoint` — the right local-mode discipline
  * (plans stay constant-size across rounds, blocks live in the
  * session's block store, no filesystem to configure). Its cluster
  * weakness: local checkpoint blocks DIE WITH THEIR EXECUTOR, so a
  * multi-hour fixpoint loses all progress on one executor failure.
  *
  * Setting `GRAFT_CHECKPOINT_DIR` (env; sysprop
  * `graft.checkpoint.dir` for specs) switches every loop to RELIABLE
  * `checkpoint()` into that directory — which must be shared,
  * fault-tolerant storage (HDFS / object store) visible to driver and
  * executors. Each round then persists its |V|-row state table
  * durably; an executor loss recomputes at most the current round
  * from the last checkpoint instead of the whole trajectory. The cost
  * is one distributed write + read per round of a |V|-row table —
  * noise against the |E|-row round work the loops do anyway. Files
  * are NOT auto-deleted on context stop (that is the point); the
  * deployment owns retention of the checkpoint tree.
  *
  * The loops' static planning scope lives in [[Fixpoint]].
  */
object Ckpt {

  private def dirKnob: Option[String] =
    sys.env.get("GRAFT_CHECKPOINT_DIR")
      .orElse(sys.props.get("graft.checkpoint.dir"))

  /** cut lineage: reliable `checkpoint` when the knob is set,
    * `localCheckpoint` otherwise. `eager` semantics are identical in
    * both modes (lazy cuts materialize inside the first consuming
    * job). */
  def cut(df: DataFrame, eager: Boolean): DataFrame =
    dirKnob match {
      case Some(d) =>
        val sc = df.sparkSession.sparkContext
        // idempotent: first loop round sets it, later rounds (and
        // other loops in the session) reuse it. NOTE Spark stores a
        // scheme-qualified, UUID-suffixed path under the requested
        // dir, so equality against the raw knob would never match —
        // test containment of the configured prefix instead.
        if (!sc.getCheckpointDir.exists(_.contains(d))) {
          LocalFs.install(df.sparkSession)
          sc.setCheckpointDir(d)
        }
        df.checkpoint(eager)
      case None => df.localCheckpoint(eager)
    }

  /** cut lineage AND plan-size statistics. `localCheckpoint`
    * PRESERVES the logical plan's sizeInBytes estimate on the
    * resulting LogicalRDD, and a loop whose round joins the cut state
    * with itself k ≥ 2 times multiplies that BigInt estimate k-fold
    * per round — its DIGIT COUNT grows exponentially and Catalyst's
    * stats visitor (a BigInt product over join children) becomes the
    * bottleneck: measured on the push loop, round 15 planned in
    * 260 ms and round 22 in 26 s, all of it driver-side BigInteger
    * Toom-Cook multiplication. Round-tripping the materialized rows
    * through an RDD resets the estimate to the session default. The
    * price is one Row conversion of the cut table per call — use for
    * |V|-row STATE vectors in self-referencing loops, never for edge
    * lists (which [[cut]]/[[cutPartitioned]] serve fine: a round that
    * references the cut table once only ADDS digits per round). */
  def cutStats(df: DataFrame, eager: Boolean): DataFrame = {
    val cp = cut(df, eager)
    cp.sparkSession.createDataFrame(cp.rdd, cp.schema)
  }

  /** [[cutStats]] with a LAZY cut — the fused-round discipline
    * (round 14): the caller's next action (typically the convergence
    * statistic) materializes the checkpoint, so the round's state and
    * its stop-test share ONE job instead of paying an eager
    * materialization job plus a separate aggregation job. */
  def cutStatsLazy(df: DataFrame): DataFrame = cutStats(df, false)

  /** cut lineage AND keep the cut table's hash partitioning visible
    * to downstream planning — the contract the per-round joins of
    * every fixpoint loop depend on ("partition the edge list by the
    * join key ONCE; each round exchanges only the |V|-row state
    * vector").
    *
    * Why this exists: with AQE enabled (the bench/production
    * default), `Dataset.checkpoint` reads the partitioning to embed
    * in the checkpointed relation from the ADAPTIVE plan root, which
    * reports `UnknownPartitioning` — so the cut table silently loses
    * its layout and EVERY round's join re-exchanges the full edge
    * list (measured: the q259 fallback regime at sf10 spent 22 min
    * re-shuffling 240M rows × rounds that the layout should have
    * made free; one plan probe showed prRound re-exchanging the
    * transaction graph the same way). Disabling AQE around the
    * materialization makes the physical plan a plain shuffle whose
    * HashPartitioning survives into the checkpointed relation;
    * consuming queries (AQE back on) then see a leaf that already
    * satisfies the join's required distribution. AQE loses nothing
    * here: the materialized plan is one explicit repartition, which
    * AQE must not rewrite anyway for the layout to be the point.
    *
    * The conf flip is plan-time-scoped, and that is enough even for
    * a LAZY cut: `Dataset.checkpoint` builds and freezes the physical
    * plan (and records its partitioning) at CALL time — only the job
    * runs later, against the frozen plan, so restoring AQE before the
    * materialization cannot un-preserve anything (probed: lazy cut
    * planned under AQE-off keeps hashpartitioning after the deferred
    * run). Lazy is the right choice for one-shot shadow paths where
    * the materialization can ride the first consuming job; loops use
    * eager so the convergence count rides the same materialization. */
  def cutPartitioned(df: DataFrame, eager: Boolean = true): DataFrame =
    // the flip mutates the SESSION conf: serialized under a lock so
    // two concurrent cuts can't corrupt each other's restore value,
    // and held only across plan construction + (for eager) the one
    // materialization job. Anything ELSE planning on the same session
    // inside that window would also plan AQE-less — acceptable for
    // this engine's drivers (Bench/Verify/specs run queries
    // sequentially); a concurrent-streaming deployment should front
    // its loops with a dedicated session.
    lock.synchronized {
      val conf = df.sparkSession.conf
      val key = "spark.sql.adaptive.enabled"
      val was = conf.get(key)
      conf.set(key, "false")
      try cut(df, eager)
      finally conf.set(key, was)
    }

  private val lock = new Object
}
