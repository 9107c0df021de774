package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import Q._

/** Corpus-pipeline structure operators: transitive dedup clusters
  * (iterative connected components), mergeable-sketch rollups (the
  * incremental distinct-count pattern), and changelog compaction
  * (latest-wins with tombstones) — the jobs that run BETWEEN the
  * per-document operators in a production training-data pipeline.
  */
object PipelineOps {

  /** the (symmetric edges ⋈ out-degrees) plan of the supplier↔
    * customer transaction graph, optionally restricted to the
    * STANDING slice (orders with [[Q.hashBucket]] < 80 — the shared
    * arriving-shard law; the other 20% of orders are q270's delta).
    * ONE derivation on purpose: q270's warm start is only sound if
    * the base graph is exactly a slice of the merged graph, so the
    * two plans differ by nothing but the filter. UNCUT declarative
    * plan: consumed by the memoized builders below and, for the
    * standing slice, by q270's artifact key (it embeds the edge
    * derivation and the shard split). */
  private def txEdgePlan(s: SparkSession, dir: String,
      standingOnly: Boolean): DataFrame =
    txEdgePlanSlice(s, dir,
      if (standingOnly) Some(80) else None, None)

  /** the general slicing form: `bucketLt` keeps orders whose bucket
    * is below the ceiling (None = all — the merged graph), and
    * `dropNodesGe` RETRACTS nodes whose own id buckets at or above
    * the floor (q284's forget set — both endpoints must survive).
    * With `dropNodesGe = None` the plan tree is IDENTICAL to the
    * pre-refactor txEdgePlan, so the pr_ranks_base artifact key is
    * unchanged (SideKeyProbe-pinned). */
  private def txEdgePlanSlice(s: SparkSession, dir: String,
      bucketLt: Option[Int], dropNodesGe: Option[Int]): DataFrame = {
    val sc = txPairsSlice(s, dir, bucketLt, dropNodesGe)
    val edges = sc.unionByName(
      sc.select(col("dst").as("src"), col("src").as("dst")))
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    edges.join(deg, "src")
  }

  /** the DIRECTED distinct pair slice underlying [[txEdgePlanSlice]]
    * — extracted verbatim (identical plan tree, so every existing
    * artifact key is untouched) for the push family, whose fresh-edge
    * delta is defined on raw pairs before symmetrization. */
  private def txPairsSlice(s: SparkSession, dir: String,
      bucketLt: Option[Int], dropNodesGe: Option[Int]): DataFrame = {
    val joined = t(s, dir, "lineitem")
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
    val sliced = bucketLt match {
      case Some(b) => joined.filter(hashBucket(col("o_orderkey")) < b)
      case None => joined
    }
    val sc0 = sliced
      .select((col("l_suppkey") + 1000000000L).as("src"),
        col("o_custkey").as("dst"))
      .distinct()
    // node retraction on the DIRECTED pair table: the symmetric
    // mirror inherits it, so filtering here is filtering the graph
    dropNodesGe match {
      case Some(g) => sc0.filter(hashBucket(col("src")) < g &&
        hashBucket(col("dst")) < g)
      case None => sc0
    }
  }

  /** shared materialization of a transaction-graph variant.
    * Ckpt.cutPartitioned, not a plain checkpoint: under AQE the
    * checkpoint records UnknownPartitioning and every PageRank
    * round silently re-exchanges the |E|-row list (round-11 plan
    * probe) — the whole point of this layout is that rounds
    * exchange only the |V|-row rank vector.
    *
    * Partition count ∝ DATA, decided here: pinning the layout
    * forfeits AQE's coalescing, so a fixed `shuffle.partitions`
    * would run every one of PageRank's ~57 rounds at full task
    * width even when the graph is tiny (measured +27% on q260 at
    * sf0.1). lineitem's parquet row count is a free (metadata)
    * upper-bound proxy for |E|: one partition per ~200k fact
    * rows, clamped to [4, shuffle.partitions] — sf0.1 rounds run
    * 4-task stages (measured 17.1 s vs 23.7 fixed-width), sf1
    * lands at ~31 (13 measured 1.5x slower than 32 — the probe
    * that set this divisor), sf10 keeps full width. */
  private def buildTxGraph(s: SparkSession, dir: String,
      standingOnly: Boolean): (DataFrame, Long) =
    buildTxGraphSlice(s, dir,
      if (standingOnly) Some(80) else None, None)

  private def buildTxGraphSlice(s: SparkSession, dir: String,
      bucketLt: Option[Int], dropNodesGe: Option[Int])
      : (DataFrame, Long) = {
    // the (sym edges ⋈ out-degrees) list is PERSISTED via SideTables
    // (one parquet per dataset × slice), so the lineitem⋈orders +
    // distinct + degree build — the dominant first-touch cost every
    // graph consumer used to pay per session (49 s of q270's sf10
    // row) — is paid once per dataset and self-identifies in
    // `side_built`; a session then pays one read + repartition. The
    // logic key embeds the full edge derivation, so any change to the
    // slice laws re-keys the artifact.
    val name = "tx_edges_" + (bucketLt match {
      case None => "full"
      case Some(b) => s"b$b"
    }) + dropNodesGe.map(g => s"_r$g").getOrElse("")
    val persisted = SideTables.getOrBuild(s, dir, name, "lineitem") {
      txEdgePlanSlice(s, dir, bucketLt, dropNodesGe)
    }
    val nPart = {
      val liRows = t(s, dir, "lineitem").count()
      val conf = s.conf.get("spark.sql.shuffle.partitions").toInt
      math.max(4, math.min(conf, (liRows / 200000L + 1).toInt))
    }
    val ej = Ckpt.cutPartitioned(
      persisted.repartition(nPart, col("src")))
    (ej, ej.select(col("src")).distinct().count())
  }

  /** The symmetric supplier↔customer transaction graph with
    * out-degrees pre-attached, plus its node count — memoized per
    * (session, dataset) like [[GraphOps.coPurchaseEdges]]: the
    * lineitem⋈orders distinct build is the dominant cost of every
    * consumer and is the persisted graph a production pipeline
    * materializes anyway. PRE-PARTITIONED on the per-round join key
    * (localCheckpoint preserves physical partitioning), so each
    * PageRank iteration exchanges only the |V|-row rank vector,
    * never the |E|-row edge list. */
  private val txGraphCache = collection.mutable.Map
    .empty[(SparkSession, String), (DataFrame, Long)]
  private[graft] def transactionGraph(s: SparkSession, dir: String)
      : (DataFrame, Long) =
    txGraphCache.synchronized {
      txGraphCache.getOrElseUpdate((s, dir),
        buildTxGraph(s, dir, standingOnly = false))
    }

  /** one damped-PageRank round in ×10⁻¹² fixed point: spread each
    * node's rank over its out-edges (truncating DIV), damp by 85/100,
    * add the teleport base. Shared by q120's 3-round oracle shadow
    * and [[pagerankFixpoint]]. */
  private[graft] def prRound(ej: DataFrame, ranks: DataFrame,
      base: Long): DataFrame =
    // shuffle-hash, ranks as build side: ej is pre-partitioned on src
    // (transactionGraph layout), so the default SMJ would re-SORT the
    // |E|-row list every round even with the exchange elided — the
    // hash join builds from the |V|-row rank partition instead
    ej.join(ranks.hint("shuffle_hash"), col("src") === col("node"))
      .groupBy(col("dst"))
      .agg(sum(expr("r div outdeg")).as("m"))
      .select(col("dst").as("node"),
        (lit(base) + expr("(85 * m) div 100")).as("r"))

  /** Run-to-CONVERGENCE damped PageRank over a prepared (edges ⋈
    * out-degrees) list: iterate [[prRound]] until the max per-node
    * fixed-point delta ≤ epsFp (default 10⁶ fp units = 10⁻⁶ rank
    * mass). The damping factor contracts deltas by ~0.85/round, so
    * the integer trajectory reaches any fixed eps in O(log 1/eps)
    * rounds regardless of graph size — maxIters is a loud-failure
    * backstop, not a tuning knob. Loop discipline =
    * [[connectedComponents]]: eager localCheckpoint per round (plans
    * stay constant-size), and the delta aggregation rides the
    * materialized round. The 3-round q120 stays the oracle shadow;
    * this is the production operator behind the same (ej, n) inputs,
    * and ConvergenceSpec checks it bit-for-bit against an in-driver
    * integer reference on the same graph. */
  private[graft] def pagerankFixpoint(ej: DataFrame, n: Long,
      epsFp: Long = 1000000L, maxIters: Int = 100,
      init: Option[DataFrame] = None): (DataFrame, Int) = {
    val unit = 1000000000000L
    val base = 15L * unit / 100L / n
    // (A J-round block-unroll variant — chaining J prRounds into one
    // composite (node, r0..rJ) action — was measured in this round
    // and REJECTED: without a cut between inner rounds the composite
    // re-executes each prefix round per suffix reference, and J=4 ran
    // q260 3x SLOWER (35 s vs 12.8 single-shot, same window). The
    // fused single round below is the shape that won.)
    // UNION-CARRY fused round (optimization round 14, guide §2.4):
    // the old shape joined the cut state TWICE per round (prRound's
    // build side + a composite (r0, r1) self-join for the convergence
    // delta) and round-tripped the checkpoint through createDataFrame
    // to shed the self-join's multiplicative stats — ~5 stage
    // barriers and two driver passes per round. Here the previous
    // rank rides the round's ONE aggregation as a flagged union
    // branch (the connectedComponents trick): contribution rows
    // (r div outdeg per in-edge) union the state's own (node, r,
    // cur=true) rows, and a single groupBy(node) emits both the new
    // rank's mass sum and the previous rank — so the per-round plan
    // references the state once per branch (additive stats, no
    // BigInt blowup, no RDD round-trip) and the delta agg rides the
    // materialization. The state is cut with its HashPartitioning
    // VISIBLE (cutPartitioned) and laid out on the SAME key count as
    // the edge list, so the per-round join is co-partitioned — no
    // exchange of either side; the only per-round exchange is the
    // |V|-row partial-agg output, exactly the layout contract the
    // transactionGraph exists for. Arithmetic per round is unchanged
    // (same integer sums over the same rows, same stopping rule), so
    // the trajectory is bit-identical — ConvergenceSpec pins it
    // against the in-driver integer reference, and the q260/q270/
    // q283/q284 oracles replay it hash-exactly.
    val nPart = math.max(1, ej.rdd.getNumPartitions)
    var st = Ckpt.cutPartitioned(init.getOrElse(
      ej.select(col("src").as("node")).distinct()
        .withColumn("r", lit(unit / n)))
      .select(col("node"), col("r"))
      .repartition(nPart, col("node")))
    var delta = Long.MaxValue
    var rounds = 0
    val dbg = sys.props.contains("graft.pr.debug") ||
      sys.env.contains("GRAFT_PR_DEBUG")
    // one fused round's plan: state references cp once per union
    // branch, the previous rank rides the aggregation, and the lazy
    // partitioned cut freezes the next round's leaf
    def roundPlan(state: DataFrame): DataFrame = {
      val contrib = ej
        .join(state.hint("shuffle_hash"), col("src") === col("node"))
        .select(col("dst").as("node"), expr("r div outdeg").as("c"),
          lit(false).as("cur"))
      val next = contrib
        .unionAll(state.select(col("node"), col("r").as("c"),
          lit(true).as("cur")))
        .groupBy(col("node"))
        .agg(sum(when(!col("cur"), col("c"))).as("m"),
          max(when(col("cur"), col("c"))).as("old"))
        .select(col("node"),
          (lit(base) + expr("(85 * m) div 100")).as("r"), col("old"))
      Ckpt.cutPartitioned(next, eager = false)
    }
    // PIPELINED planning (optimization round 14, guide §1.2 step 2 /
    // §7.3 "planning time is driver-side, single-threaded"): a round
    // costs ~55 ms of driver plan construction + ~115 ms of job at
    // bench SF, strictly serialized in the naive loop. Round k+1's
    // plan depends only on round k's lazily-CUT LEAF — not on its
    // numbers — so the delta aggregation (the job that materializes
    // the checkpoint) runs in a background thread while the driver
    // constructs the next round's plan. The trajectory is untouched:
    // the same plans run in the same order against the same leaves;
    // the one speculatively-built plan past convergence is never
    // executed (a lazy cut holds no resources). The job thread only
    // runs `agg.head()`; all plan/conf mutation stays on the loop
    // thread, inside the static scope.
    Ckpt.staticLoopScope(ej, nPart) {
    var cp = roundPlan(st)
    while (delta > epsFp && rounds < maxIters) {
      val t0 = System.nanoTime()
      val cpNow = cp
      val deltaF = java.util.concurrent.CompletableFuture.supplyAsync(
        () => cpNow.agg(max(abs(col("r") - col("old")))).head().getLong(0))
      val stNext = cpNow.select(col("node"), col("r"))
      val cpNext = roundPlan(stNext) // overlapped with the agg job
      val t1 = System.nanoTime()
      delta = deltaF.get()
      if (dbg) println(s"[prfix] round=$rounds plan=${(t1 - t0) / 1000000}ms " +
        s"agg=${(System.nanoTime() - t1) / 1000000}ms delta=$delta")
      st = stNext
      cp = cpNext
      rounds += 1
    }
    }
    require(delta <= epsFp,
      s"PageRank did not converge in $maxIters rounds (max delta " +
        s"$delta fp > $epsFp)")
    (st, rounds)
  }

  /** q120's production form: same transaction graph, same output
    * schema (node, rank_fp), but iterated to convergence instead of
    * the 3-round oracle unroll. */
  def pagerankConverged(s: SparkSession, dir: String): DataFrame = {
    val (ej, n) = transactionGraph(s, dir)
    pagerankFixpoint(ej, n)._1
      .orderBy(col("r").desc, col("node")).limit(100)
      .select(col("node"), col("r").as("rank_fp"))
  }

  /** [[transactionGraph]]'s STANDING slice ([[txEdgePlan]] with the
    * shard filter on), separately memoized — q270's base fixpoint
    * input. */
  private val baseTxGraphCache = collection.mutable.Map
    .empty[(SparkSession, String), (DataFrame, Long)]
  private def baseTransactionGraph(s: SparkSession, dir: String)
      : (DataFrame, Long) =
    baseTxGraphCache.synchronized {
      baseTxGraphCache.getOrElseUpdate((s, dir),
        buildTxGraph(s, dir, standingOnly = true))
    }

  /** the standing rank vector: damped PageRank solved to the 10⁻⁶
    * fixpoint ON THE BASE GRAPH, persisted as a parquet side table —
    * the artifact a production ranking pipeline keeps between graph
    * growth events. An iterative result's own plan is an opaque
    * checkpoint, so the cache key comes from a REPRESENTATIVE plan
    * (one [[prRound]] over the uncut base edge derivation: any change
    * to the graph slice, the round formula, or the fixed-point
    * constants re-keys the artifact) plus a salt for the driver-loop
    * pieces (epsilon, init law). */
  private def standingBaseRanks(s: SparkSession, dir: String): DataFrame = {
    val (ejb, nb) = baseTransactionGraph(s, dir)
    val unit = 1000000000000L
    val raw = txEdgePlan(s, dir, standingOnly = true)
    val keyPlan = prRound(raw,
      raw.select(col("src").as("node")).withColumn("r", lit(unit / nb)),
      15L * unit / 100L / nb)
    SideTables.getOrBuildKeyed(s, dir, "pr_ranks_base", "lineitem",
      keyPlan, "pagerankFixpoint:epsFp=1000000:init=uniform") {
      pagerankFixpoint(ejb, nb)._1
    }
  }

  /** q270's operator: WARM-START PageRank — the merged graph (base +
    * arriving order shard) solved from the standing base-graph rank
    * vector instead of from uniform. The fixpoint is a contraction,
    * so the warm trajectory lands on the same 10⁻⁶-stable state while
    * paying only the rounds the DELTA needs (measured 4 vs 71 cold at
    * sf0.001 — the base solve's ~70 rounds are paid once, persisted,
    * then each graph-growth event costs a handful of rounds). New
    * nodes (absent from the standing vector) start at the uniform
    * teleport mass. `warm_rounds` rides along so the oracle hash
    * pins the TRAJECTORY LENGTH, not just the final ranks — the
    * incremental claim itself is what's being verified. */
  def pagerankWarmStart(s: SparkSession, dir: String): DataFrame = {
    val (ej, n) = transactionGraph(s, dir)
    val unit = 1000000000000L
    val init = ej.select(col("src").as("node")).distinct()
      .join(standingBaseRanks(s, dir).withColumnRenamed("r", "br"),
        Seq("node"), "left_outer")
      .select(col("node"), coalesce(col("br"), lit(unit / n)).as("r"))
    val (ranks, rounds) = pagerankFixpoint(ej, n, init = Some(init))
    ranks.orderBy(col("r").desc, col("node")).limit(100)
      .select(col("node"), col("r").as("rank_fp"),
        lit(rounds.toLong).as("warm_rounds"))
  }

  /** the MID graph of the chained warm start (orders bucket < 90 —
    * base plus the first arriving shard), memoized like
    * [[transactionGraph]]. */
  private val midTxGraphCache = collection.mutable.Map
    .empty[(SparkSession, String), (DataFrame, Long)]
  private def midTransactionGraph(s: SparkSession, dir: String)
      : (DataFrame, Long) =
    midTxGraphCache.synchronized {
      midTxGraphCache.getOrElseUpdate((s, dir),
        buildTxGraphSlice(s, dir, Some(90), None))
    }

  /** q283's operator: CHAINED warm-start PageRank — each growth event
    * PUBLISHES its merged rank vector back as the next standing
    * artifact, so successive absorbs never re-pay earlier deltas'
    * rounds (q270 warm-starts every event from the same base vector).
    * Event 1 absorbs the first shard (orders bucket 80-89) from the
    * base vector and publishes `pr_ranks_m90` — with its own
    * `warm_rounds` RIDING INSIDE the artifact, so the trajectory
    * length survives the publish/read cycle; event 2 absorbs the rest
    * from the MAINTAINED vector. The oracle replays all three
    * trajectories (base cold, m90 warm, full warm-from-m90) in exact
    * integer arithmetic, so the hash match proves both published
    * artifacts equal their from-scratch fixpoints AND both chained
    * round counts — the two-absorbs == cold-solve-over-the-union
    * equality, q279's shape for ranks. ConvergenceSpec additionally
    * pins the chain's win: the second event's rounds are at most
    * q270's unchained warm rounds, and far below cold. */
  def pagerankWarmChain(s: SparkSession, dir: String): DataFrame = {
    val unit = 1000000000000L
    val ranks0 = standingBaseRanks(s, dir)
    val (ej1, n1) = midTransactionGraph(s, dir)
    val raw1 = txEdgePlanSlice(s, dir, Some(90), None)
    val keyPlan1 = prRound(raw1,
      raw1.select(col("src").as("node")).withColumn("r", lit(unit / n1)),
      15L * unit / 100L / n1)
    val ranks1 = SideTables.getOrBuildKeyed(s, dir, "pr_ranks_m90",
      "lineitem", keyPlan1,
      "pagerankFixpoint:epsFp=1000000:init=pr_ranks_base:chained") {
      val init = ej1.select(col("src").as("node")).distinct()
        .join(ranks0.withColumnRenamed("r", "br"), Seq("node"),
          "left_outer")
        .select(col("node"), coalesce(col("br"), lit(unit / n1)).as("r"))
      val (rk, rd) = pagerankFixpoint(ej1, n1, init = Some(init))
      rk.withColumn("warm_rounds", lit(rd.toLong))
    }
    val (ej2, n2) = transactionGraph(s, dir)
    val init2 = ej2.select(col("src").as("node")).distinct()
      .join(ranks1.select(col("node"), col("r").as("br")), Seq("node"),
        "left_outer")
      .select(col("node"), coalesce(col("br"), lit(unit / n2)).as("r"))
    val (ranks2, rounds2) = pagerankFixpoint(ej2, n2, init = Some(init2))
    // one scalar off the published artifact (k-row driver step)
    val r1 = ranks1.agg(max(col("warm_rounds"))).head().getLong(0)
    ranks2.orderBy(col("r").desc, col("node")).limit(100)
      .select(col("node"), col("r").as("rank_fp"),
        lit(r1).as("rounds_m90"), lit(rounds2.toLong).as("rounds_full"))
  }

  /** the SURVIVING base graph after q284's node retraction (nodes
    * whose id buckets ≥ 97 leave; every incident edge goes with
    * them), memoized like the other graph variants. */
  private val retractTxGraphCache = collection.mutable.Map
    .empty[(SparkSession, String), (DataFrame, Long)]
  private[graft] def retractTransactionGraph(s: SparkSession, dir: String)
      : (DataFrame, Long) =
    retractTxGraphCache.synchronized {
      retractTxGraphCache.getOrElseUpdate((s, dir),
        buildTxGraphSlice(s, dir, Some(80), Some(97)))
    }

  /** q284's operator: PageRank RETRACTION — the forget half of q270's
    * absorb, completing the rank family's algebra (CC q274, triangles
    * q275, bands q276, HLL q277, IVF q278, PQ q282): a purge set
    * (nodes bucketing ≥ 97) leaves the standing BASE graph, and the
    * surviving graph re-solves WARM from the standing rank vector —
    * sound because the damped iteration is a contraction, so any
    * starting point reaches the surviving graph's unique 10⁻⁶-stable
    * state; starting from the standing vector pays only the rounds
    * the contraction needs to forget the purged mass (the teleport
    * base re-normalizes to the surviving node count). Isolated
    * survivors (all edges purged) drop out with the graph, exactly
    * like a from-scratch solve over the survivors — which is
    * precisely what the oracle computes, warm trajectory and all, so
    * the hash match is the retracted == resolved-from-scratch proof
    * with the round count pinned. */
  def pagerankRetract(s: SparkSession, dir: String): DataFrame = {
    val (ej, n) = retractTransactionGraph(s, dir)
    val unit = 1000000000000L
    // MASS-CORRECTED warm restart: a purge changes the teleport
    // normalization (0.15/n with a smaller n) and removes the purged
    // nodes' rank mass, so the raw standing vector starts with a
    // UNIFORM deficit the contraction would grind down one 0.85
    // factor per round (measured 45 rounds at sf0.001). Redistribute
    // the missing mass evenly — init = standing + (1 − Σ surviving)/n
    // — and the init has the right total mass and the right shape;
    // only the local redistribution near the purged nodes remains
    // (ConvergenceSpec pins the round win). The correction is one
    // integer scalar, mirrored exactly in the oracle's SQL.
    val surv = ej.select(col("src").as("node")).distinct()
      .join(standingBaseRanks(s, dir).withColumnRenamed("r", "br"),
        Seq("node"), "left_outer")
      .select(col("node"), coalesce(col("br"), lit(unit / n)).as("br"))
    val sSum = surv.agg(sum(col("br"))).head().getLong(0)
    val init = surv.select(col("node"),
      (col("br") + lit((unit - sSum) / n)).as("r"))
    val (ranks, rounds) = pagerankFixpoint(ej, n, init = Some(init))
    ranks.orderBy(col("r").desc, col("node")).limit(100)
      .select(col("node"), col("r").as("rank_fp"),
        lit(rounds.toLong).as("warm_rounds"))
  }

  /** q285's operator: residual-PUSH rank maintenance — the batch twin
    * of [[graft.streaming.StandingRanks]]' absorb, pinning the loop's
    * arithmetic as a hash-checked catalog fact. The standing BASE
    * slice (orders bucket < 80) is solved once in [[PushRanks]]'
    * unnormalized system and persisted (`push_state_base`, with the
    * exact incoming-mass sums `m` riding alongside `p` — the state
    * that makes the absorb structural, not a re-solve); the arriving
    * shard's fresh symmetric rows then update (m, deg) only at their
    * neighborhood ([[PushRanks.applyAdds]]) and
    * [[PushRanks.pushLoop]] settles the residuals. Both trajectories
    * are deterministic integer work, so the oracle replays them
    * bit-for-bit — the hash match proves the persisted base state,
    * the structural m-update algebra, the final ranks, AND both round
    * counts (base cold + absorb push, the q270 discipline). The push
    * round count is the delta's contraction distance, far below the
    * cold trajectory (ConvergenceSpec pins the win); per-round
    * compute in the LOOP form reads only the active frontier's
    * buckets — the property `_READS` machine-checks in
    * StandingRanksSpec. */
  def pushRanksAbsorb(s: SparkSession, dir: String): DataFrame = {
    val nb = PushRanks.numBuckets
    val (ejb, nbBase) = baseTransactionGraph(s, dir)
    val baseSym = ejb.select(col("src"), col("dst"))
    val keyPlan = PushRanks.coldState(
      txEdgePlanSlice(s, dir, Some(80), None)
        .select(col("src"), col("dst")))
    val baseState = SideTables.getOrBuildKeyed(s, dir,
      "push_state_base", "lineitem", keyPlan,
      "pushLoop:theta=1000n:tau=0.15e9") {
      val (st, rounds) = PushRanks.pushLoop(
        PushRanks.coldState(baseSym), _ => baseSym, nb,
        PushRanks.thetaFor(nbBase))
      st.withColumn("base_rounds", lit(rounds.toLong))
    }
    val (ej, n) = transactionGraph(s, dir)
    val fullSym = ej.select(col("src"), col("dst"))
    // fresh symmetric rows: base ⊆ full as pair sets, so the
    // symmetric set difference IS the symmetrization of the fresh
    // raw pairs
    val freshSym = fullSym.join(baseSym, Seq("src", "dst"), "left_anti")
    val state1 = PushRanks.applyAdds(
      baseState.select(col("node"), col("p"), col("m"), col("deg")),
      freshSym, _ => baseSym, nb)
    val (settled, pushRounds) = PushRanks.pushLoop(
      state1, _ => fullSym, nb, PushRanks.thetaFor(n))
    // one scalar off the persisted artifact (k-row driver step)
    val baseRounds = baseState.agg(max(col("base_rounds")))
      .head().getLong(0)
    settled.orderBy(col("p").desc, col("node")).limit(100)
      .select(col("node"), col("p").as("p_fp"),
        lit(baseRounds).as("base_rounds"),
        lit(pushRounds.toLong).as("push_rounds"))
  }

  /** HashMin connected components over an undirected edge list:
    * every node's label converges to the smallest doc_id reachable
    * from it. Each iteration is one join + one hash-agg (both keyed
    * shuffles on the same key, so the Exchange is reused), and the
    * iteration count is O(graph diameter) — the min label moves one
    * hop per round. Near-dup clusters are shallow (diameter ≤ a few
    * hops), so a handful of rounds closes 100 TB-scale dedup graphs
    * too; for genuinely deep graphs the upgrade is star-contraction /
    * pointer-doubling (O(log d) rounds, same per-round join shape).
    * `localCheckpoint` after
    * each round keeps the plan from growing linearly with rounds
    * (lineage blow-up is the classic iterative-Spark failure mode).
    * Convergence is detected by a changed-label count, which rides
    * the same job as the next round's input materialization. */
  /** data-derived width for a component solve's edge layout — the
    * transactionGraph nPart rule (~200k symmetric rows/partition,
    * capped at the session's shuffle.partitions): the contracted
    * graphs the delta/retract machinery solves are often a few dozen
    * rows, and laying THOSE out at the session width made every
    * doubling round pay full-width exchanges of near-empty partitions
    * (q280 measured 3062 tasks for three tiny solves). The count
    * scans the (memoized) edge input once — noise next to one round. */
  private def ccPartitions(edges: DataFrame): Int = {
    val n = edges.count()
    val conf = edges.sparkSession.conf
      .get("spark.sql.shuffle.partitions").toInt
    math.max(1, math.min(conf, (2 * n / 200000L + 1).toInt))
  }

  /** Edge-row ceiling under which a component solve COLLECTS the edge
    * list and runs a driver union-find instead of the distributed
    * round loop (env `GRAFT_CC_DRIVER_MAX_EDGES` / sysprop
    * `graft.cc.driver.max.edges`; 0 forces the distributed path).
    * Default 2M rows = 32 MB of (src, dst) longs — the same bounded-
    * driver-step class as the size-gated relabel broadcast
    * ([[relabelBroadcastMaxRows]]), and the classic endgame move for
    * iterative graph algorithms: once the (contracted / induced /
    * near-dup) graph fits comfortably in one process, a local solve
    * replaces O(rounds) scheduled jobs with one collect. At 100 TB the
    * gate is what keeps this honest — corpus-sized graphs exceed it
    * and take the unchanged distributed loops (both regimes spec'd). */
  private[graft] def ccDriverSolveMaxEdges: Long =
    sys.env.get("GRAFT_CC_DRIVER_MAX_EDGES")
      .orElse(sys.props.get("graft.cc.driver.max.edges"))
      .map(_.toLong).getOrElse(2000000L)

  /** Size-gated driver union-find over an undirected edge list:
    * labels = min reachable node id — bit-identical to the
    * [[connectedComponents]] / [[connectedComponentsDoubling]]
    * fixpoints (PipelineSpec pins equality on every merge shape).
    * Returns None past the gate or for non-long node ids. The single
    * `limit(gate+1).collect()` is both the gate probe and the data
    * fetch, so the common small case executes the (possibly
    * expensive) pair plan ONCE — the distributed path would execute
    * it twice (partition-count job + symmetrize). The solve is
    * [[MinUnionFind]]. Returns the labels with their row count, which
    * the driver knows for free. */
  private def ccDriverSolve(edges: DataFrame): Option[(DataFrame, Long)] = {
    val gate = ccDriverSolveMaxEdges
    val longTypes = edges.schema.fields.take(2).forall(
      _.dataType == org.apache.spark.sql.types.LongType)
    if (gate <= 0 || !longTypes) return None
    val lim = math.min(gate, (Int.MaxValue - 2).toLong).toInt
    val rows = edges.select(col("src"), col("dst")).limit(lim + 1).collect()
    if (rows.length > lim) return None
    val uf = new MinUnionFind(rows.length)
    rows.foreach(r => uf.union(r.getLong(0), r.getLong(1)))
    val seen = new java.util.HashSet[Long](rows.length * 2)
    val out = Vector.newBuilder[org.apache.spark.sql.Row]
    rows.foreach { r =>
      Seq(r.getLong(0), r.getLong(1)).foreach { n =>
        if (seen.add(n))
          out += org.apache.spark.sql.Row(n, uf.find(n))
      }
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("node",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("label",
        org.apache.spark.sql.types.LongType, nullable = false)))
    val rs = out.result()
    Some((driverFrame(edges.sparkSession, rs, schema), rs.length.toLong))
  }

  /** A frame of driver-built rows, spread over parallelize slices
    * that follow the transactionGraph data-proportional rule (~200k
    * rows per partition), so downstream consumers of a LARGE
    * driver-side result still parallelize — and the rows stay out of
    * the plan, where a local relation would carry them. */
  private[graft] def driverFrame(s: SparkSession,
      rows: Seq[org.apache.spark.sql.Row],
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val slices = math.max(1, (rows.length + 199999) / 200000)
    s.createDataFrame(s.sparkContext.parallelize(rows, slices), schema)
  }

  /** Union-by-min with path halving: the root of every set is its
    * minimum member, so `find(x)` IS the min id reachable from x — the
    * labeling contract of every component solver here. */
  private[graft] final class MinUnionFind(sizeHint: Int) {
    private val parent = new java.util.HashMap[Long, Long](sizeHint * 2)
    def find(x0: Long): Long = {
      var x = x0
      var p = parent.getOrDefault(x, x)
      while (p != x) { // path halving
        val gp = parent.getOrDefault(p, p)
        parent.put(x, gp); x = gp; p = parent.getOrDefault(x, x)
      }
      x
    }
    def union(a0: Long, b0: Long): Unit = {
      val (a, b) = (find(a0), find(b0))
      if (a != b) {
        if (a < b) parent.put(b, a) else parent.put(a, b)
      }
    }
  }

  def connectedComponents(edges: DataFrame, maxIters: Int = 50): DataFrame = {
    ccDriverSolve(edges) match {
      case Some((labels, _)) => return labels
      case None => ()
    }
    // undirected: propagate labels both ways. Materialized ONCE —
    // every iteration joins against this edge list, and without the
    // checkpoint each round would re-execute the (possibly very
    // expensive) upstream pair-mining subtree that produced it.
    // partitioned by the per-round join key and cut with the
    // layout VISIBLE (cutPartitioned): each round then exchanges
    // only the |V|-row label table, never the edge list
    val nPart = ccPartitions(edges)
    val sym = Ckpt.cutPartitioned(edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(nPart, col("src")))
    var labels = Ckpt.cut(sym.select(col("src").as("node")).distinct()
      .withColumn("label", col("node")), true)
    var changed = 1L
    var iter = 0
    // FUSED round (round 14, guide §1/§2.4): the previous label rides
    // the union's own-label branch (`cur`), so the min-agg emits
    // (label, old) together and the changed-count needs NO second
    // join — it aggregates over the round's lazily-cut output, and
    // that one job both materializes the checkpoint and decides
    // convergence. The old shape paid an eager-checkpoint job plus a
    // separate |V|⋈|V| join job per round. Arithmetic unchanged:
    // min over exactly the same rows, old = the unique cur row's
    // label, so the trajectory and result are bit-identical. Rounds
    // additionally run under static planning (see
    // Ckpt.staticLoopScope) with the edge list's own data-derived
    // partition count.
    Ckpt.staticLoopScope(sym, nPart) {
    while (changed > 0 && iter < maxIters) {
      // labels as shuffle-hash build side: no per-round sort of the
      // pre-partitioned edge list (see prRound)
      val next = Ckpt.cut(
        sym.join(labels.hint("shuffle_hash"),
            sym("src") === labels("node"))
        .select(col("dst").as("node"), col("label"),
          lit(false).as("cur"))
        .union(labels.withColumn("cur", lit(true)))
        .groupBy(col("node")).agg(min(col("label")).as("label"),
          max(when(col("cur"), col("label"))).as("old")), false)
      changed = next.filter(col("label") =!= col("old")).count()
      labels = next.select(col("node"), col("label"))
      iter += 1
    }
    }
    // fail LOUDLY on non-convergence: silently returning intermediate
    // labels would emit wrong canonical ids (the oracle computes the
    // exact fixpoint). HashMin needs one round per hop of min-label
    // eccentricity, so hitting this means the graph is far deeper
    // than a dedup graph should be — raise maxIters or switch to
    // pointer-doubling, don't ship partial labels.
    require(changed == 0,
      s"connectedComponents did not converge in $maxIters rounds " +
        s"($changed labels still changing)")
    labels
  }

  /** Pointer-doubling connected components — the O(log diameter)
    * upgrade path for graphs too deep for HashMin's one-hop-per-round
    * walk. Each round does (a) the same HashMin edge propagation,
    * then (b) a pointer JUMP: every node also adopts its label's own
    * label (labels are node ids, so `labels ⨝ labels` on
    * label = node resolves label∘label in one equi join). The jump
    * composes reach: after round k a node sees the min over distance
    * ≥ 2^k, so a 64-deep chain closes in ~6 rounds instead of 64.
    * Per-round cost is one extra self-join of the SMALL label table
    * (2 cols, one row per node) — cheap insurance against deep
    * graphs; for known-shallow dedup graphs plain HashMin does less
    * work per round, which is why q80 keeps it. Same checkpoint
    * discipline: every round's output is materialized and the
    * lineage cut, so plans stay constant-size across rounds. */
  def connectedComponentsDoubling(edges: DataFrame,
      maxIters: Int = 20): DataFrame =
    connectedComponentsDoublingStats(edges, maxIters)._1

  /** same, returning (labels, rounds) so specs can pin the O(log d)
    * round count. */
  private[graft] def connectedComponentsDoublingStats(edges: DataFrame,
      maxIters: Int): (DataFrame, Int) =
    ccDriverSolve(edges) match {
      case Some((labels, _)) => (labels, 0)
      case None => doublingLoop(edges, maxIters)
    }

  /** the distributed pointer-doubling rounds behind
    * [[connectedComponentsDoubling]] (no driver-solve gate). */
  private def doublingLoop(edges: DataFrame,
      maxIters: Int): (DataFrame, Int) = {
    val nPart = ccPartitions(edges)
    val sym = Ckpt.cutPartitioned(edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(nPart, col("src")))
    var labels = Ckpt.cut(sym.select(col("src").as("node")).distinct()
      .withColumn("label", col("node")), true)
    var changed = 1L
    var iter = 0
    // FUSED rounds (round 14): the pre-round label rides the union's
    // own-label branch into the propagation agg (`old`, the
    // connectedComponents trick), the jump carries it through, and
    // the changed-count aggregates over the lazily-cut jump output —
    // so one round = one propagation job + one jump-and-count job
    // instead of three (prop cut, jump cut, changed join). Arithmetic
    // identical: same min/least over the same rows, old = the unique
    // own-label row. Rounds run under static planning
    // (Ckpt.staticLoopScope) with the edge list's own partition count.
    Ckpt.staticLoopScope(sym, nPart) {
    while (changed > 0 && iter < maxIters) {
      // checkpointed before the self-join: a Union-bearing plan joined
      // against itself trips Catalyst's constraint rewrite (missing
      // attribute in UnionBase.rewriteConstraints), and the cut also
      // keeps the jump from recomputing the propagation twice
      val prop = Ckpt.cut(
        sym.join(labels.hint("shuffle_hash"),
            sym("src") === labels("node"))
        .select(col("dst").as("node"), col("label"),
          lit(false).as("cur"))
        .union(labels.withColumn("cur", lit(true)))
        .groupBy(col("node")).agg(min(col("label")).as("label"),
          max(when(col("cur"), col("label"))).as("old")), true)
      // jump: label ← label(label). Inner join is total: every label
      // value is a node id present in `prop` (labels start as node
      // ids and only ever move to a smaller REACHABLE node's id).
      val jumped = prop.as("x")
        .join(prop.select(col("node"), col("label")).as("y"),
          col("x.label") === col("y.node"))
        .select(col("x.node").as("node"),
          least(col("x.label"), col("y.label")).as("label"),
          col("x.old").as("old"))
      // rebuilt via createDataFrame, NOT checkpointed directly: a
      // localCheckpoint of a self-join output carries Catalyst
      // constraints referencing the join's non-output attributes,
      // and next round's Union over this table then dies in
      // UnionBase.rewriteConstraints ("key not found: node#…").
      // createDataFrame sheds the stale constraints; the RDD reuses
      // the checkpoint blocks, so nothing recomputes.
      val next = Ckpt.cut(
        edges.sparkSession.createDataFrame(jumped.rdd, jumped.schema),
        false)
      changed = next.filter(col("label") =!= col("old")).count()
      labels = next.select(col("node"), col("label"))
      iter += 1
    }
    }
    require(changed == 0,
      s"connectedComponentsDoubling did not converge in $maxIters rounds " +
        s"($changed labels still changing)")
    (labels, iter)
  }

  /** Incremental (delta) connected components — the graph-side twin
    * of incremental dedup (q106/q171): merge an arriving edge shard
    * into a STANDING component labeling without re-solving the full
    * graph. `standing` is the persisted (node, label) table a
    * continuously-ingesting dedup pipeline maintains (labels = min
    * reachable node id, [[connectedComponents]]' contract);
    * `deltaEdges` are the shard's new undirected edges (src, dst).
    *
    * The merge never touches untouched components: delta endpoints
    * map through the standing labels (unseen nodes label themselves),
    * the delta edges CONTRACT to a touched-component graph (distinct
    * (labelA, labelB) pairs, la ≠ lb — |touched| rows, not |V|), that
    * tiny graph is solved with pointer doubling (O(log merge-chain)
    * rounds), and the resulting relabel map — touched labels only —
    * broadcasts back over the standing table. Because standing labels
    * ARE min node ids, the contracted solve's min-over-labels equals
    * the min node id of each merged component, so the output is
    * bit-identical to a from-scratch [[connectedComponents]] over
    * base ∪ delta (PipelineSpec pins it; q263's oracle re-derives the
    * from-scratch fixpoint in SQL, so the hash check IS the
    * equality-vs-from-scratch proof).
    *
    * 100 TB shape: per-shard cost is one |delta| map-through-labels
    * join + a touched-components solve + one broadcast relabel —
    * |standing| is scanned once and never shuffled; nothing rescans
    * the base EDGES at all (the labels table is the whole standing
    * state, which is why it is what a production pipeline persists).
    */
  def mergeDeltaComponents(standing: DataFrame,
      deltaEdges: DataFrame, deltaRows: Option[Long] = None): DataFrame = {
    // a driver-known bound on |delta| (a micro-batch's row count)
    // decides the contraction joins' strategy without a job: within
    // the relabel ceiling the delta-sized endpoint map broadcasts,
    // above it it is the shuffle-hash build side. Unknown, the
    // planner decides from its own statistics.
    def deltaSide(df: DataFrame): DataFrame = deltaRows match {
      case Some(n) if 2 * n <= relabelBroadcastMaxRows => broadcast(df)
      case Some(_) => df.hint("shuffle_hash")
      case None => df
    }
    val deltaNodes = deltaEdges.select(col("src").as("node"))
      .union(deltaEdges.select(col("dst").as("node"))).distinct()
    // standing label per delta endpoint; a node the standing table
    // has never seen labels itself (= its own component of one) and
    // is flagged fresh — `seen` is non-null on every standing row, so
    // the flag replaces a second join against standing
    val mapped = Ckpt.cut(deltaNodes.join(standing.select(col("node"),
        col("label"), lit(true).as("seen")), Seq("node"), "left")
      .select(col("node"), coalesce(col("label"), col("node")).as("lbl"),
        col("seen").isNull.as("fresh")),
      true) // read three times below (both edge ends + fresh-node set)
    val compEdges = deltaEdges
      .join(deltaSide(mapped.select(col("node").as("src"),
        col("lbl").as("ls"))), "src")
      .join(deltaSide(mapped.select(col("node").as("dst"),
        col("lbl").as("ld"))), "dst")
      .select(col("ls").as("src"), col("ld").as("dst"))
      .filter(col("src") =!= col("dst")).distinct()
    // scale-regime gate (the lpaRound precedent): the relabel map is
    // |touched components| rows — tiny for a daily shard, but a delta
    // that bridges most of the standing graph (or a backfill shard)
    // can push it past broadcastable size, and an unconditional
    // broadcast would OOM the driver at exactly the moment the merge
    // matters most. A driver-solved map's size is known for free; the
    // distributed solve's output is checkpointed (its loop
    // discipline), so its gating count is one cheap job over
    // materialized blocks. Past the ceiling, the relabel joins fall
    // back to shuffle-hash with the relabel map as build side — the
    // |standing| table shuffles once on `label`, which is the
    // data-proportional price of a graph-sized relabel.
    val (solved, solvedRows) = ccDriverSolve(compEdges) match {
      case Some((labels, n)) => (labels, n)
      case None =>
        val labels = doublingLoop(compEdges, 20)._1
        (labels, labels.count())
    }
    val relabelT = solved
      .select(col("node").as("old"), col("label").as("merged"))
    val relabel =
      if (solvedRows <= relabelBroadcastMaxRows) broadcast(relabelT)
      else relabelT.hint("shuffle_hash")
    val baseOut = standing
      .join(relabel, col("label") === col("old"), "left")
      .select(col("node"),
        coalesce(col("merged"), col("label")).as("label"))
    val freshOut = mapped.filter(col("fresh"))
      .join(relabel, col("lbl") === col("old"), "left")
      .select(col("node"),
        coalesce(col("merged"), col("lbl")).as("label"))
    baseOut.union(freshOut)
  }

  /** Connected components under NODE RETRACTION — the forget half of
    * [[mergeDeltaComponents]]'s absorb, and the graph-side shape of a
    * GDPR purge: documents leave the corpus, every edge incident to
    * them disappears, and the standing (node, label) table must
    * become what a from-scratch solve over the surviving graph would
    * produce — components can SPLIT, so unlike the absorb this needs
    * the surviving edges of the affected components, but ONLY those.
    *
    * Touched = components that contain a deleted node (edges never
    * cross components, so every removed edge lives inside one).
    * Untouched standing rows pass through byte-identical — their
    * subgraphs did not change, and labels are min reachable ids, so
    * a from-scratch solve reproduces them. For touched components the
    * surviving induced edge set is re-solved with pointer doubling
    * (splits can be deep chains, so O(log d) rounds, not HashMin) and
    * survivors that lost ALL edges label themselves — exactly the
    * from-scratch contract for isolated nodes. The touched-label set
    * rides the [[relabelBroadcastMaxRows]] gate: broadcast below the
    * ceiling, shuffle-hash semi/anti joins above it (a purge that
    * touches most components degrades to one data-proportional
    * shuffle instead of a driver OOM).
    *
    * 100 TB shape: the only full-width scans are one pass over the
    * standing LABELS (split into pass-through vs re-solve) and one
    * pass over the edge table to carve the touched induced subgraph —
    * and a production deployment partitions the persisted edge table
    * BY standing label (the layout q263's scaladoc already calls
    * for), so that pass prunes to the touched partitions and the
    * retraction cost is |touched subgraph| + |forget set|, never
    * |graph|. q274's oracle re-solves the SURVIVING graph from
    * scratch in SQL, so the hash match is the retracted==rebuilt
    * proof; RetractionSpec pins the split/min-relabel/isolation edge
    * cases and both gate regimes. */
  def retractNodesComponents(standing: DataFrame, edges: DataFrame,
      deleted: DataFrame): DataFrame = {
    val touchedT = Ckpt.cut(
      standing.join(deleted.select(col("node")), Seq("node"), "left_semi")
        .select(col("label")).distinct(), true)
    val touched =
      if (touchedT.count() <= relabelBroadcastMaxRows) broadcast(touchedT)
      else touchedT.hint("shuffle_hash")
    val untouched = standing.join(touched, Seq("label"), "left_anti")
      .select(col("node"), col("label"))
    val survivors = standing.join(touched, Seq("label"), "left_semi")
      .join(deleted.select(col("node")), Seq("node"), "left_anti")
      .select(col("node"))
    // surviving induced edges of touched components: membership via
    // ONE endpoint's standing label (edges are intra-component), both
    // endpoints must survive the purge
    val inducedEdges = edges
      .join(standing.select(col("node").as("src"),
        col("label").as("slbl")), Seq("src"))
      .join(touched.select(col("label").as("slbl")), Seq("slbl"),
        "left_semi")
      .join(deleted.select(col("node").as("src")), Seq("src"), "left_anti")
      .join(deleted.select(col("node").as("dst")), Seq("dst"), "left_anti")
      .select(col("src"), col("dst"))
    val solved = Ckpt.cut(connectedComponentsDoubling(inducedEdges), true)
    val isolated = survivors
      .join(solved.select(col("node")), Seq("node"), "left_anti")
      .select(col("node"), col("node").as("label"))
    untouched.unionByName(solved).unionByName(isolated)
  }

  /** relabel-map row ceiling under which [[mergeDeltaComponents]]
    * broadcasts it — same default and knob pattern as
    * [[GraphOps.lpaBroadcastMaxRows]] (env
    * `GRAFT_RELABEL_BCAST_MAX_ROWS` / sysprop
    * `graft.relabel.bcast.max.rows`; 0 forces the fallback). */
  private[graft] def relabelBroadcastMaxRows: Long =
    sys.env.get("GRAFT_RELABEL_BCAST_MAX_ROWS")
      .orElse(sys.props.get("graft.relabel.bcast.max.rows"))
      .map(_.toLong).getOrElse(10000000L)

  val defs: Seq[QueryDef] = Seq(

    // ------------------------------------------------------------------
    // Column profiling — the schema-audit pass every ingestion runs
    // before training (null fractions, cardinalities, ranges feed
    // both data-quality gates and join-strategy decisions). ONE scan
    // of the table computes all per-column aggregates (Spark plans
    // the multi-count(DISTINCT) via a single Expand — no per-column
    // re-scan), then a stack() reshapes wide → long. Numeric ranges
    // surface as DOUBLE (timestamps as epoch-millis), string columns
    // as NULL ranges — exact values pass through untouched, so the
    // oracle hash-matches without float-format hazards.
    QueryDef("q127_column_profile",
      (s, dir) => {
        val o = t(s, dir, "orders")
        val numCols = Seq("o_orderkey", "o_custkey", "o_totalprice")
        val strCols = Seq("o_orderstatus", "o_orderpriority")
        val aggs = (numCols ++ strCols ++ Seq("o_orderdate")).flatMap { c =>
          val (mn, mx) =
            if (numCols.contains(c))
              (min(col(c)).cast("double"), max(col(c)).cast("double"))
            else if (c == "o_orderdate")
              // o_orderdate is TIMESTAMP_NTZ; session TZ is pinned
              // UTC, so the cast reads the wall clock as UTC epoch
              (min(unix_millis(col(c).cast("timestamp"))).cast("double"),
                max(unix_millis(col(c).cast("timestamp"))).cast("double"))
            else (lit(null).cast("double"), lit(null).cast("double"))
          Seq(count(col(c)).as(s"cnt_$c"),
            countDistinct(col(c)).as(s"nd_$c"),
            mn.as(s"mn_$c"), mx.as(s"mx_$c"))
        }
        val total = count(lit(1)).as("n_rows")
        val wide = o.agg(total, aggs: _*)
        val stackArgs = (numCols ++ strCols ++ Seq("o_orderdate"))
          .map(c => s"'$c', cnt_$c, nd_$c, mn_$c, mx_$c").mkString(", ")
        wide.selectExpr("n_rows",
            s"stack(6, $stackArgs) AS (col_name, n_present, n_distinct, min_val, max_val)")
          .select(col("col_name"), col("n_rows"),
            (col("n_rows") - col("n_present")).as("n_null"),
            col("n_distinct"), col("min_val"), col("max_val"))
          .orderBy(col("col_name"))
      },
      Some("""WITH base AS (SELECT * FROM orders)
        |SELECT col_name, n_rows, n_null, n_distinct, min_val, max_val
        |FROM (
        |  SELECT 'o_orderkey' AS col_name, count(*) AS n_rows,
        |    count(*) - count(o_orderkey) AS n_null,
        |    count(DISTINCT o_orderkey) AS n_distinct,
        |    CAST(min(o_orderkey) AS DOUBLE) AS min_val,
        |    CAST(max(o_orderkey) AS DOUBLE) AS max_val FROM base
        |  UNION ALL
        |  SELECT 'o_custkey', count(*), count(*) - count(o_custkey),
        |    count(DISTINCT o_custkey),
        |    CAST(min(o_custkey) AS DOUBLE), CAST(max(o_custkey) AS DOUBLE)
        |  FROM base
        |  UNION ALL
        |  SELECT 'o_totalprice', count(*), count(*) - count(o_totalprice),
        |    count(DISTINCT o_totalprice),
        |    min(o_totalprice), max(o_totalprice) FROM base
        |  UNION ALL
        |  SELECT 'o_orderstatus', count(*), count(*) - count(o_orderstatus),
        |    count(DISTINCT o_orderstatus), NULL, NULL FROM base
        |  UNION ALL
        |  SELECT 'o_orderpriority', count(*), count(*) - count(o_orderpriority),
        |    count(DISTINCT o_orderpriority), NULL, NULL FROM base
        |  UNION ALL
        |  SELECT 'o_orderdate', count(*), count(*) - count(o_orderdate),
        |    count(DISTINCT o_orderdate),
        |    CAST(epoch_ms(min(o_orderdate)) AS DOUBLE),
        |    CAST(epoch_ms(max(o_orderdate)) AS DOUBLE) FROM base)
        |ORDER BY col_name""".stripMargin)),

    // ------------------------------------------------------------------
    // Snapshot diff — reconcile two corpus versions by key + content
    // digest (the table-diff every incremental pipeline runs before
    // publishing: what was added, what was removed, what changed).
    // Versions are derived deterministically from the one corpus (v1
    // drops doc_id ≡ 0 mod 10, v2 rewrites text for doc_id ≡ 0
    // mod 7), which exercises all three outcomes. Shape: digests
    // (never text) through ONE full-outer equi-join on the key, then
    // a tiny class count — the scalable form of any diff at any
    // corpus size.
    QueryDef("q134_snapshot_diff",
      (s, dir) => {
        val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
        val v1 = docs.filter(col("doc_id") % 10 =!= 0)
          .select(col("doc_id"), md5(col("text")).as("h1"))
        val v2 = docs
          .select(col("doc_id"),
            md5(when(col("doc_id") % 7 === 0,
              concat(col("text"), lit(" v2"))).otherwise(col("text")))
              .as("h2"))
        v1.join(v2, Seq("doc_id"), "full_outer")
          .select(
            when(col("h1").isNull, "added")
              .when(col("h2").isNull, "removed")
              .when(col("h1") =!= col("h2"), "changed")
              .otherwise("unchanged").as("class"))
          .groupBy(col("class")).agg(count(lit(1)).as("n"))
          .orderBy(col("class"))
      },
      Some("""WITH v1 AS (
        |  SELECT doc_id, md5(text) AS h1 FROM documents
        |  WHERE doc_id % 10 <> 0),
        |v2 AS (
        |  SELECT doc_id,
        |    md5(CASE WHEN doc_id % 7 = 0 THEN text || ' v2'
        |             ELSE text END) AS h2
        |  FROM documents),
        |j AS (
        |  SELECT CASE WHEN h1 IS NULL THEN 'added'
        |              WHEN h2 IS NULL THEN 'removed'
        |              WHEN h1 <> h2 THEN 'changed'
        |              ELSE 'unchanged' END AS class
        |  FROM v1 FULL OUTER JOIN v2 USING (doc_id))
        |SELECT class, count(*) AS n FROM j
        |GROUP BY class ORDER BY class""".stripMargin)),

    // ------------------------------------------------------------------
    // Declarative constraint checking — the data-contract gate
    // (uniqueness, domain, range, non-null) run before a snapshot is
    // published, emitting violation counts per rule instead of
    // failing fast: ONE scan evaluates the row-local rules; the
    // uniqueness rule is its own count-distinct aggregate (the only
    // rule that needs a shuffle, keyed on the candidate key).
    QueryDef("q135_constraint_check",
      (s, dir) => {
        val o = t(s, dir, "orders")
        val rowRules = o.agg(
          count(when(col("o_orderkey").isNull, 1)).as("r1"),
          count(when(col("o_totalprice") <= 0, 1)).as("r2"),
          count(when(!col("o_orderstatus").isin("O", "F", "P"), 1)).as("r3"),
          count(when(col("o_orderdate").cast("timestamp")
            < lit("1992-01-01").cast("timestamp"), 1)).as("r4"))
        val dup = o.agg((count(col("o_orderkey"))
          - countDistinct(col("o_orderkey"))).as("r5"))
        rowRules.crossJoin(dup)
          .selectExpr("stack(5, " +
            "'orderkey_not_null', r1, 'totalprice_positive', r2, " +
            "'status_in_domain', r3, 'orderdate_min_range', r4, " +
            "'orderkey_unique', r5) AS (rule, n_violations)")
          .orderBy(col("rule"))
      },
      Some("""SELECT rule, n_violations FROM (
        |  SELECT 'orderkey_not_null' AS rule,
        |    count(CASE WHEN o_orderkey IS NULL THEN 1 END) AS n_violations
        |  FROM orders
        |  UNION ALL
        |  SELECT 'totalprice_positive',
        |    count(CASE WHEN o_totalprice <= 0 THEN 1 END) FROM orders
        |  UNION ALL
        |  SELECT 'status_in_domain',
        |    count(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P') THEN 1 END)
        |  FROM orders
        |  UNION ALL
        |  SELECT 'orderdate_min_range',
        |    count(CASE WHEN o_orderdate < TIMESTAMP '1992-01-01' THEN 1 END)
        |  FROM orders
        |  UNION ALL
        |  SELECT 'orderkey_unique',
        |    count(o_orderkey) - count(DISTINCT o_orderkey) FROM orders)
        |ORDER BY rule""".stripMargin)),

    // ------------------------------------------------------------------
    // Referential-integrity audit — orphan counts across every FK
    // edge of the star schema in one report. Each edge is a
    // left-anti equi-join counting children whose parent key is
    // missing; parents are dimension-sized (AQE broadcasts them at
    // bench SF, degrades to shuffled joins at scale — no hints).
    QueryDef("q136_ri_audit",
      (s, dir) => {
        def orphans(child: DataFrame, key: String, parent: DataFrame,
            pkey: String, label: String): DataFrame =
          child.select(col(key).as("k"))
            .join(parent.select(col(pkey).as("k")), Seq("k"), "left_anti")
            .agg(count(lit(1)).as("n_orphans"))
            .select(lit(label).as("fk_edge"), col("n_orphans"))
        orphans(t(s, dir, "lineitem"), "l_orderkey",
            t(s, dir, "orders"), "o_orderkey", "lineitem->orders")
          .unionAll(orphans(t(s, dir, "orders"), "o_custkey",
            t(s, dir, "customer"), "c_custkey", "orders->customer"))
          .unionAll(orphans(t(s, dir, "customer"), "c_nationkey",
            t(s, dir, "nation"), "n_nationkey", "customer->nation"))
          .unionAll(orphans(t(s, dir, "supplier"), "s_nationkey",
            t(s, dir, "nation"), "n_nationkey", "supplier->nation"))
          .unionAll(orphans(t(s, dir, "nation"), "n_regionkey",
            t(s, dir, "region"), "r_regionkey", "nation->region"))
          .orderBy(col("fk_edge"))
      },
      Some("""SELECT fk_edge, n_orphans FROM (
        |  SELECT 'lineitem->orders' AS fk_edge, count(*) AS n_orphans
        |  FROM lineitem
        |  WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
        |  UNION ALL
        |  SELECT 'orders->customer', count(*) FROM orders
        |  WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)
        |  UNION ALL
        |  SELECT 'customer->nation', count(*) FROM customer
        |  WHERE c_nationkey NOT IN (SELECT n_nationkey FROM nation)
        |  UNION ALL
        |  SELECT 'supplier->nation', count(*) FROM supplier
        |  WHERE s_nationkey NOT IN (SELECT n_nationkey FROM nation)
        |  UNION ALL
        |  SELECT 'nation->region', count(*) FROM nation
        |  WHERE n_regionkey NOT IN (SELECT r_regionkey FROM region))
        |ORDER BY fk_edge""".stripMargin)),

    // ------------------------------------------------------------------
    // Benford first-digit audit — the classic fabricated-data screen
    // (synthetic or truncated numeric columns flunk it; organically
    // grown magnitudes follow log10(1+1/d)). The first significant
    // digit comes from the INTEGER rendering of the ×10⁴ quantized
    // price (integer→string is engine-identical; a double→string
    // cast is NOT — Spark renders 1.5E7). Expected frequencies are
    // ×10⁴ fixed-point literals, deviations and χ² terms are integer
    // arithmetic (dev² stays under 2⁶³ through the bench scales), so
    // the verdict hashes identically. One scan, one 9-group hash-agg.
    QueryDef("q153_benford",
      (s, dir) => {
        val expFp = Seq(3010L, 1761L, 1249L, 969L, 792L, 669L, 580L,
          512L, 458L)
        val expCol = element_at(typedlit(expFp), col("digit").cast("int"))
        val o = t(s, dir, "orders")
          .select(substring(floor(col("o_totalprice") * 10000 + 0.5)
            .cast("long").cast("string"), 1, 1).cast("long").as("digit"))
        // n comes from a window sum over the ≤9-row digit table — no
        // driver action, so the orders scan runs once, not twice
        val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
          .rowsBetween(
            org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.unboundedFollowing)
        o.groupBy(col("digit")).agg(count(lit(1)).as("n_obs"))
          .withColumn("exp_n_fp4", sum(col("n_obs")).over(wAll) * expCol)
          .withColumn("dev_fp4", col("n_obs") * 10000L - col("exp_n_fp4"))
          .withColumn("chi2_term_fp",
            expr("(dev_fp4 * dev_fp4) div exp_n_fp4"))
          .orderBy(col("digit"))
      },
      Some("""WITH e AS (
        |  SELECT * FROM (VALUES (1, 3010), (2, 1761), (3, 1249),
        |    (4, 969), (5, 792), (6, 669), (7, 580), (8, 512),
        |    (9, 458)) AS t(digit, efp)),
        |d AS (
        |  SELECT CAST(substring(CAST(CAST(floor(o_totalprice * 10000 + 0.5)
        |    AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
        |  FROM orders),
        |nn AS (SELECT count(*) AS n FROM d),
        |obs AS (SELECT digit, count(*) AS n_obs FROM d GROUP BY digit)
        |SELECT obs.digit, obs.n_obs,
        |  (SELECT n FROM nn) * e.efp AS exp_n_fp4,
        |  obs.n_obs * 10000 - (SELECT n FROM nn) * e.efp AS dev_fp4,
        |  ((obs.n_obs * 10000 - (SELECT n FROM nn) * e.efp)
        |   * (obs.n_obs * 10000 - (SELECT n FROM nn) * e.efp))
        |    // ((SELECT n FROM nn) * e.efp) AS chi2_term_fp
        |FROM obs JOIN e ON obs.digit = e.digit
        |ORDER BY obs.digit""".stripMargin)),

    // ------------------------------------------------------------------
    // Temperature-scaled source mixture (the multilingual-corpus
    // balancing rule: sample source s proportional to n_s^α, α = 0.5
    // — upweights small sources relative to proportional sampling
    // without letting a giant source dominate). All arithmetic that
    // decides membership is INTEGER: weight = ⌊√n_s⌋ (sqrt is a
    // single correctly-rounded IEEE op on an exact integer, floor
    // pins it), quota = (budget·w_s) div Σw — so both engines select
    // the identical doc set, where a float softmax would drift on
    // sum order. Selection within a source is the md5-rank rule of
    // q79 (reproducible on any cluster/partitioning). The Σw scalar
    // is a 5-row aggregate collected once (plan literal, like q120's
    // node count); quotas broadcast back. */
    QueryDef("q129_temperature_mix",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val d = t(s, dir, "documents").select(col("doc_id"), col("source"))
        // 5-row table checkpointed so the Σw action and the quota
        // projection share one documents scan
        val cnts = d.groupBy(col("source")).agg(count(lit(1)).as("n"))
          .withColumn("wt", floor(sqrt(col("n").cast("double"))).cast("long"))
          .localCheckpoint(false)
        val tot = cnts.agg(sum(col("wt"))).head().getLong(0)
        val quota = cnts.select(col("source"),
          expr(s"(200 * wt) div ${tot}L").as("quota"))
        val w = Window.partitionBy(col("source"))
          .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
        d.withColumn("rk", row_number().over(w))
          .join(broadcast(quota), "source")
          .filter(col("rk") <= col("quota"))
          .select(col("source"), col("doc_id"))
          .orderBy(col("source"), col("doc_id"))
      },
      Some("""WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
        |w AS (SELECT source,
        |  CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT) AS wt FROM c),
        |tot AS (SELECT CAST(sum(wt) AS BIGINT) AS t FROM w),
        |q AS (SELECT source, (200 * wt) // (SELECT t FROM tot) AS quota FROM w),
        |r AS (
        |  SELECT source, doc_id, row_number() OVER (
        |    PARTITION BY source
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM documents)
        |SELECT r.source, r.doc_id
        |FROM r JOIN q USING (source) WHERE rk <= quota
        |ORDER BY source, doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // Per-source quantile normalization — map each doc's raw quality
    // signal (n_chars) to the GLOBAL distribution's value at the
    // same within-source quantile, removing per-source scale bias
    // before cross-source comparison (the batch-effect correction of
    // bioinformatics, applied to corpus quality scores). Positions
    // are integer rank interpolation (`div`), so the mapping is
    // engine-exact. The global value table is indexed with q95's
    // scalable two-phase bucket scheme — NOT a single-partition
    // global window; the within-source ranks partition naturally.
    QueryDef("q130_quantile_norm",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val docs = t(s, dir, "documents")
          .select(col("doc_id"), col("source"), col("n_chars"))
        // global (n_chars, doc_id) index, q95-style: range-bucket on
        // the value, rank in-bucket, add cumsum offsets
        val nBuckets = 256L
        val Array(minV, maxV, nTot) = docs
          .agg(min(col("n_chars")), max(col("n_chars")), count(lit(1)))
          .head().toSeq.map(_.asInstanceOf[Long]).toArray
        val width = math.max(1L, (maxV - minV + nBuckets) / nBuckets)
        val bucketed = docs.withColumn("bucket",
          expr(s"(n_chars - ${minV}L) DIV ${width}L"))
        val offsets = bucketed.groupBy(col("bucket"))
          .agg(count(lit(1)).as("n"))
          .withColumn("offset",
            coalesce(sum(col("n")).over(Window.orderBy(col("bucket"))
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .select(col("bucket"), col("offset"))
        val wInBucket = Window.partitionBy(col("bucket"))
          .orderBy(col("n_chars"), col("doc_id"))
        val indexed = bucketed.join(broadcast(offsets), "bucket")
          .withColumn("gidx",
            col("offset") + row_number().over(wInBucket) - 1)
          .select(col("gidx").as("p"), col("n_chars").as("norm_chars"))
        val wSrc = Window.partitionBy(col("source"))
          .orderBy(col("n_chars"), col("doc_id"))
        val wCnt = Window.partitionBy(col("source"))
        docs
          .withColumn("rs", row_number().over(wSrc))
          .withColumn("ns", count(lit(1)).over(wCnt))
          .withColumn("p", expr(
            s"((rs - 1) * ${nTot - 1}L) div (CASE WHEN ns = 1 THEN 1 ELSE ns - 1 END)"))
          .join(indexed, "p")
          .select(col("doc_id"), col("source"), col("n_chars"),
            col("norm_chars"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH g AS (
        |  SELECT n_chars AS norm_chars,
        |    row_number() OVER (ORDER BY n_chars, doc_id) - 1 AS p
        |  FROM documents),
        |nn AS (SELECT count(*) AS n FROM documents),
        |r AS (
        |  SELECT doc_id, source, n_chars,
        |    row_number() OVER (
        |      PARTITION BY source ORDER BY n_chars, doc_id) AS rs,
        |    count(*) OVER (PARTITION BY source) AS ns
        |  FROM documents)
        |SELECT r.doc_id, r.source, r.n_chars, g.norm_chars
        |FROM r JOIN g ON
        |  ((r.rs - 1) * ((SELECT n FROM nn) - 1))
        |    // (CASE WHEN r.ns = 1 THEN 1 ELSE r.ns - 1 END) = g.p
        |ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // Transitive dedup clusters. q63's greedy pair rule under-merges
    // chains (A~B, B~C but A≁C still form ONE content cluster); the
    // principled resolution is connected components over the near-dup
    // graph, keeping each component's smallest id as the canonical
    // doc. Output: every clustered doc with its canonical id — the
    // oracle reproduces the fixpoint with a recursive min-label walk.
    QueryDef("q80_dup_components",
      (s, dir) => {
        // shared mined-pair table (q35/q63/q64), filtered up to the
        // dedup threshold — no re-run of the inverted-index self-join
        val pairs = TextOps.minedPairs(s, dir)
          .filter(col("jaccard") >= 0.8)
          .select(col("da").as("src"), col("db").as("dst"))
        connectedComponents(pairs)
          .select(col("node").as("doc_id"), col("label").as("canonical_id"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH RECURSIVE ${TextOps.shingleSql},
        |ex0 AS (SELECT doc_id, len(shingles) AS sz, unnest(shingles) AS s FROM sh),
        |ex AS (SELECT doc_id, sz, s FROM (
        |  SELECT doc_id, sz, s, count(*) OVER (PARTITION BY s) AS df FROM ex0)
        |  WHERE df <= ${TextOps.JaccardMaxDf}),
        |cnt AS (
        |  SELECT a.doc_id AS da, b.doc_id AS db, a.sz AS sa, b.sz AS sb,
        |    count(*) AS c
        |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2, 3, 4),
        |pairs AS (
        |  SELECT da, db FROM cnt
        |  WHERE CAST(c AS DOUBLE) / (sa + sb - c) >= 0.8),
        |edges AS (
        |  SELECT da AS src, db AS dst FROM pairs
        |  UNION ALL SELECT db, da FROM pairs),
        |walk(node, reach) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT w.node, e.dst FROM walk w JOIN edges e ON w.reach = e.src)
        |SELECT node AS doc_id, min(reach) AS canonical_id
        |FROM walk GROUP BY node
        |ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // Incremental graph maintenance (see [[mergeDeltaComponents]]):
    // the dup graph split by the q171 shard rule (an edge is BASE iff
    // both endpoints hash below 80), standing components solved on the
    // base, the shard's edges merged in via the touched-component
    // contraction. Output = the merged labeling + was_merged (did the
    // delta change this node's component — fresh nodes compare
    // against their self-label). The ORACLE solves the merged graph
    // FROM SCRATCH (and the base graph, for was_merged) with the q80
    // closure recursion — so a hash match here IS the proof that the
    // incremental merge equals a full re-solve, at every verified SF.
    QueryDef("q263_delta_components",
      (s, dir) => {
        val pairs = TextOps.minedPairs(s, dir)
          .filter(col("jaccard") >= 0.8)
          .select(col("da").as("src"), col("db").as("dst"))
        val isBase =
          hashBucket(col("src")) < 80 && hashBucket(col("dst")) < 80
        val standing = connectedComponents(pairs.filter(isBase))
        val merged = mergeDeltaComponents(standing, pairs.filter(!isBase))
        merged
          .join(standing.select(col("node"),
            col("label").as("standing_label")), Seq("node"), "left")
          .select(col("node").as("doc_id"),
            col("label").as("canonical_id"),
            (col("label") =!=
              coalesce(col("standing_label"), col("node")))
              .as("was_merged"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH RECURSIVE ${TextOps.shingleSql},
        |ex0 AS (SELECT doc_id, len(shingles) AS sz, unnest(shingles) AS s FROM sh),
        |ex AS (SELECT doc_id, sz, s FROM (
        |  SELECT doc_id, sz, s, count(*) OVER (PARTITION BY s) AS df FROM ex0)
        |  WHERE df <= ${TextOps.JaccardMaxDf}),
        |cnt AS (
        |  SELECT a.doc_id AS da, b.doc_id AS db, a.sz AS sa, b.sz AS sb,
        |    count(*) AS c
        |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2, 3, 4),
        |pairs AS (
        |  SELECT da, db FROM cnt
        |  WHERE CAST(c AS DOUBLE) / (sa + sb - c) >= 0.8),
        |edges AS (
        |  SELECT da AS src, db AS dst FROM pairs
        |  UNION ALL SELECT db, da FROM pairs),
        |base_pairs AS (
        |  SELECT da, db FROM pairs
        |  WHERE CAST(('0x' || substring(md5(CAST(da AS VARCHAR)), 1, 15))
        |      AS BIGINT) % 100 < 80
        |    AND CAST(('0x' || substring(md5(CAST(db AS VARCHAR)), 1, 15))
        |      AS BIGINT) % 100 < 80),
        |base_edges AS (
        |  SELECT da AS src, db AS dst FROM base_pairs
        |  UNION ALL SELECT db, da FROM base_pairs),
        |walk(node, reach) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT w.node, e.dst FROM walk w JOIN edges e ON w.reach = e.src),
        |walk_base(node, reach) AS (
        |  SELECT src, src FROM base_edges
        |  UNION
        |  SELECT w.node, e.dst
        |  FROM walk_base w JOIN base_edges e ON w.reach = e.src),
        |full_cc AS (
        |  SELECT node, min(reach) AS label FROM walk GROUP BY node),
        |standing AS (
        |  SELECT node, min(reach) AS label FROM walk_base GROUP BY node)
        |SELECT f.node AS doc_id, f.label AS canonical_id,
        |  f.label <> coalesce(s.label, f.node) AS was_merged
        |FROM full_cc f LEFT JOIN standing s ON s.node = f.node
        |ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // Connected components under NODE RETRACTION (see
    // [[retractNodesComponents]]) — the GDPR half of q263's absorb:
    // documents are forgotten, their edges vanish, components can
    // SPLIT, and only the touched components are re-solved. The
    // oracle solves the SURVIVING graph from scratch (and the full
    // graph, for the was_relabeled provenance), so the hash match IS
    // the retracted==rebuilt proof per node.
    QueryDef("q274_cc_retract",
      (s, dir) => {
        val pairs = TextOps.minedPairs(s, dir)
          .filter(col("jaccard") >= 0.8)
          .select(col("da").as("src"), col("db").as("dst"))
        val standing = connectedComponents(pairs)
        val deleted = standing.filter(hashBucket(col("node")) >= 90)
          .select(col("node"))
        retractNodesComponents(standing, pairs, deleted)
          .join(standing.select(col("node"),
            col("label").as("standing_label")), Seq("node"))
          .select(col("node").as("doc_id"),
            col("label").as("canonical_id"),
            (col("label") =!= col("standing_label")).as("was_relabeled"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH RECURSIVE ${TextOps.shingleSql},
        |ex0 AS (SELECT doc_id, len(shingles) AS sz, unnest(shingles) AS s FROM sh),
        |ex AS (SELECT doc_id, sz, s FROM (
        |  SELECT doc_id, sz, s, count(*) OVER (PARTITION BY s) AS df FROM ex0)
        |  WHERE df <= ${TextOps.JaccardMaxDf}),
        |cnt AS (
        |  SELECT a.doc_id AS da, b.doc_id AS db, a.sz AS sa, b.sz AS sb,
        |    count(*) AS c
        |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2, 3, 4),
        |pairs AS (
        |  SELECT da, db FROM cnt
        |  WHERE CAST(c AS DOUBLE) / (sa + sb - c) >= 0.8),
        |edges AS (
        |  SELECT da AS src, db AS dst FROM pairs
        |  UNION ALL SELECT db, da FROM pairs),
        |kept AS (
        |  SELECT DISTINCT n AS node FROM (
        |    SELECT da AS n FROM pairs UNION ALL SELECT db FROM pairs)
        |  WHERE CAST(('0x' || substring(md5(CAST(n AS VARCHAR)), 1, 15))
        |    AS BIGINT) % 100 < 90),
        |ret_edges AS (
        |  SELECT src, dst FROM edges
        |  WHERE CAST(('0x' || substring(md5(CAST(src AS VARCHAR)), 1, 15))
        |      AS BIGINT) % 100 < 90
        |    AND CAST(('0x' || substring(md5(CAST(dst AS VARCHAR)), 1, 15))
        |      AS BIGINT) % 100 < 90),
        |walk(node, reach) AS (
        |  SELECT node, node FROM kept
        |  UNION
        |  SELECT w.node, e.dst
        |  FROM walk w JOIN ret_edges e ON w.reach = e.src),
        |walk_full(node, reach) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT w.node, e.dst
        |  FROM walk_full w JOIN edges e ON w.reach = e.src),
        |cc AS (SELECT node, min(reach) AS label FROM walk GROUP BY node),
        |standing AS (
        |  SELECT node, min(reach) AS label FROM walk_full GROUP BY node)
        |SELECT c.node AS doc_id, c.label AS canonical_id,
        |  c.label <> s.label AS was_relabeled
        |FROM cc c JOIN standing s ON s.node = c.node
        |ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // CHAINED shard absorption (see [[mergeDeltaComponents]]) — the
    // composition proof the single-shard row (q263) can't give: a
    // standing labeling absorbs TWO successive shards, each merge
    // reading only the previous labels + its own shard, and the
    // result must equal a from-scratch solve over the full union.
    // This is the property a standing pipeline actually relies on —
    // shards arrive forever, not once — and it holds because
    // mergeDeltaComponents preserves the min-reachable-id label
    // contract its own input assumes (the output is a valid
    // `standing` for the next merge). Shards partition the pair set
    // by the max endpoint bucket (< 80 base, < 90 first shard, rest
    // second), so the slices are disjoint and exhaustive. The oracle
    // solves the full graph from scratch; the hash match is the
    // absorb-law-composes proof.
    QueryDef("q279_cc_chained_absorb",
      (s, dir) => {
        val pairs = TextOps.minedPairs(s, dir)
          .filter(col("jaccard") >= 0.8)
          .select(col("da").as("src"), col("db").as("dst"))
        val mx = greatest(hashBucket(col("src")), hashBucket(col("dst")))
        val standing0 = connectedComponents(pairs.filter(mx < 80))
        val after1 = Ckpt.cut(
          mergeDeltaComponents(standing0,
            pairs.filter(mx >= 80 && mx < 90)), true)
        val after2 = mergeDeltaComponents(after1, pairs.filter(mx >= 90))
        after2.select(col("node").as("doc_id"),
            col("label").as("canonical_id"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH RECURSIVE ${TextOps.shingleSql},
        |ex0 AS (SELECT doc_id, len(shingles) AS sz, unnest(shingles) AS s FROM sh),
        |ex AS (SELECT doc_id, sz, s FROM (
        |  SELECT doc_id, sz, s, count(*) OVER (PARTITION BY s) AS df FROM ex0)
        |  WHERE df <= ${TextOps.JaccardMaxDf}),
        |cnt AS (
        |  SELECT a.doc_id AS da, b.doc_id AS db, a.sz AS sa, b.sz AS sb,
        |    count(*) AS c
        |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2, 3, 4),
        |pairs AS (
        |  SELECT da, db FROM cnt
        |  WHERE CAST(c AS DOUBLE) / (sa + sb - c) >= 0.8),
        |edges AS (
        |  SELECT da AS src, db AS dst FROM pairs
        |  UNION ALL SELECT db, da FROM pairs),
        |walk(node, reach) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT w.node, e.dst FROM walk w JOIN edges e ON w.reach = e.src)
        |SELECT node AS doc_id, min(reach) AS canonical_id
        |FROM walk GROUP BY node
        |ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // INTERLEAVED absorb → retract → absorb — the closure proof for
    // the standing-pipeline algebra. q279 proved absorbs compose and
    // q274 proved a retraction equals a from-scratch solve; a real
    // standing pipeline INTERLEAVES them (shards arrive, purges land,
    // more shards arrive), so this row drives one labeling through
    // the full cycle: absorb shard 1, purge a node band (tombstoning
    // it), absorb shard 2 with tombstone-incident edges dropped at
    // the door (q108's delete-propagation discipline — a purged doc
    // must not resurrect via a later shard), and the result must
    // equal a from-scratch solve over exactly the surviving corpus.
    // It holds because each step both ASSUMES and RE-ESTABLISHES the
    // min-reachable-id standing contract, so any absorb/retract word
    // is valid — the oracle solves the end state from scratch and the
    // hash match is the proof for this word; PipelineSpec pins the
    // adversarial shape (a purge that splits a component a later
    // shard re-bridges) synthetically.
    QueryDef("q280_cc_absorb_retract",
      (s, dir) => {
        val pairs = TextOps.minedPairs(s, dir)
          .filter(col("jaccard") >= 0.8)
          .select(col("da").as("src"), col("db").as("dst"))
        val mx = greatest(hashBucket(col("src")), hashBucket(col("dst")))
        def inDelBand(c: org.apache.spark.sql.Column)
            : org.apache.spark.sql.Column =
          hashBucket(c) >= 40 && hashBucket(c) < 50
        val standing0 = connectedComponents(pairs.filter(mx < 80))
        val after1 = Ckpt.cut(
          mergeDeltaComponents(standing0,
            pairs.filter(mx >= 80 && mx < 90)), true)
        val deleted = after1.filter(inDelBand(col("node")))
          .select(col("node"))
        val afterR = Ckpt.cut(
          retractNodesComponents(after1, pairs.filter(mx < 90), deleted),
          true)
        val shard2 = pairs.filter(mx >= 90)
          .filter(!inDelBand(col("src")) && !inDelBand(col("dst")))
        mergeDeltaComponents(afterR, shard2)
          .select(col("node").as("doc_id"), col("label").as("canonical_id"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH RECURSIVE ${TextOps.shingleSql},
        |ex0 AS (SELECT doc_id, len(shingles) AS sz, unnest(shingles) AS s FROM sh),
        |ex AS (SELECT doc_id, sz, s FROM (
        |  SELECT doc_id, sz, s, count(*) OVER (PARTITION BY s) AS df FROM ex0)
        |  WHERE df <= ${TextOps.JaccardMaxDf}),
        |cnt AS (
        |  SELECT a.doc_id AS da, b.doc_id AS db, a.sz AS sa, b.sz AS sb,
        |    count(*) AS c
        |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2, 3, 4),
        |pairs AS (
        |  SELECT da, db,
        |    CAST(('0x' || substring(md5(CAST(da AS VARCHAR)), 1, 15))
        |      AS BIGINT) % 100 AS ba,
        |    CAST(('0x' || substring(md5(CAST(db AS VARCHAR)), 1, 15))
        |      AS BIGINT) % 100 AS bb
        |  FROM cnt
        |  WHERE CAST(c AS DOUBLE) / (sa + sb - c) >= 0.8),
        |surviving AS (
        |  SELECT da, db, ba, bb, greatest(ba, bb) AS mx FROM pairs
        |  WHERE ba NOT BETWEEN 40 AND 49 AND bb NOT BETWEEN 40 AND 49),
        |kept AS (
        |  SELECT DISTINCT n AS node FROM (
        |    SELECT da AS n, ba AS b FROM pairs WHERE greatest(ba, bb) < 90
        |    UNION ALL
        |    SELECT db, bb FROM pairs WHERE greatest(ba, bb) < 90
        |    UNION ALL
        |    SELECT da, ba FROM surviving WHERE mx >= 90
        |    UNION ALL
        |    SELECT db, bb FROM surviving WHERE mx >= 90)
        |  WHERE b NOT BETWEEN 40 AND 49),
        |edges AS (
        |  SELECT da AS src, db AS dst FROM surviving
        |  UNION ALL SELECT db, da FROM surviving),
        |walk(node, reach) AS (
        |  SELECT node, node FROM kept
        |  UNION
        |  SELECT w.node, e.dst FROM walk w JOIN edges e ON w.reach = e.src)
        |SELECT node AS doc_id, min(reach) AS canonical_id
        |FROM walk GROUP BY node
        |ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // Keep-BEST dedup resolution — q80's duplicate clusters resolved
    // to the representative production pipelines actually keep: the
    // LONGEST document (n_chars, ties → smallest doc_id), not the
    // smallest id. Smallest-id-wins (q63) is the cheap contract for
    // incremental dedup; keep-longest preserves the most content per
    // cluster, which is what a training-corpus pass wants when a
    // truncated re-crawl collides with the full original. Output is
    // the per-doc verdict: cluster, elected keeper, kept flag.
    //
    // Scale shape: one |clusters|-keyed window over the component
    // table (|dup docs| rows, tiny vs corpus) + one join back — the
    // candidate mining and CC already ran once per session via the
    // shared tables.
    QueryDef("q200_dedup_keep_best",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val pairs = TextOps.minedPairs(s, dir)
          .filter(col("jaccard") >= 0.8)
          .select(col("da").as("src"), col("db").as("dst"))
        val comp = connectedComponents(pairs)
        val withLen = comp.join(
          t(s, dir, "documents")
            .select(col("doc_id").as("node"), col("n_chars")), "node")
        val w = Window.partitionBy(col("label"))
          .orderBy(col("n_chars").desc, col("node"))
        val reps = withLen.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("label"), col("node").as("keeper_id"))
        withLen.join(reps, "label")
          .select(col("node").as("doc_id"), col("label").as("cluster_id"),
            col("keeper_id"),
            when(col("node") === col("keeper_id"), 1L).otherwise(0L)
              .as("kept"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH RECURSIVE ${TextOps.shingleSql},
        |ex0 AS (SELECT doc_id, len(shingles) AS sz, unnest(shingles) AS s FROM sh),
        |ex AS (SELECT doc_id, sz, s FROM (
        |  SELECT doc_id, sz, s, count(*) OVER (PARTITION BY s) AS df FROM ex0)
        |  WHERE df <= ${TextOps.JaccardMaxDf}),
        |cnt AS (
        |  SELECT a.doc_id AS da, b.doc_id AS db, a.sz AS sa, b.sz AS sb,
        |    count(*) AS c
        |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2, 3, 4),
        |pairs AS (
        |  SELECT da, db FROM cnt
        |  WHERE CAST(c AS DOUBLE) / (sa + sb - c) >= 0.8),
        |edges AS (
        |  SELECT da AS src, db AS dst FROM pairs
        |  UNION ALL SELECT db, da FROM pairs),
        |walk(node, reach) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT w.node, e.dst FROM walk w JOIN edges e ON w.reach = e.src),
        |comp AS (
        |  SELECT node, min(reach) AS label FROM walk GROUP BY node),
        |wl AS (
        |  SELECT c.node, c.label, d.n_chars
        |  FROM comp c JOIN documents d ON d.doc_id = c.node),
        |reps AS (
        |  SELECT label, node AS keeper_id FROM (
        |    SELECT label, node, row_number() OVER (PARTITION BY label
        |      ORDER BY n_chars DESC, node) AS rn
        |    FROM wl)
        |  WHERE rn = 1)
        |SELECT wl.node AS doc_id, wl.label AS cluster_id, reps.keeper_id,
        |  CAST(CASE WHEN wl.node = reps.keeper_id THEN 1 ELSE 0 END
        |    AS BIGINT) AS kept
        |FROM wl JOIN reps USING (label)
        |ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // Mergeable-sketch rollup — the incremental analytics pattern for
    // 100 TB: per-(source, lang) HLL sketches are a few KB each and
    // UNION-merge, so per-source (or per-anything-coarser) distinct
    // counts come from re-aggregating stored sketches, never
    // re-scanning the corpus. The fine sketches are what a daily
    // pipeline persists; the union here is the read-side rollup.
    // Sketch internals are engine-specific ⇒ rows-only; SketchSpec
    // bounds the estimate against the exact per-source count.
    QueryDef("q81_hll_rollup",
      (s, dir) => {
        val fine = t(s, dir, "documents")
          .groupBy(col("source"), col("lang"))
          .agg(hll_sketch_agg(col("doc_id")).as("sk"),
            count(lit(1)).as("n"))
        fine.groupBy(col("source"))
          .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("n_docs_est"),
            sum(col("n")).as("n_rows"))
          .orderBy(col("source"))
      },
      None),

    // ------------------------------------------------------------------
    // Changelog compaction — latest-wins per key with tombstones, the
    // merge-on-read resolution every mutable-upstream ingest needs
    // (the reference appends raw frames forever; this is how a reader
    // sees current state). One window shuffle on the key; 'error' as
    // the tombstone type: a key whose LAST change is a tombstone
    // disappears from the compacted view entirely.
    QueryDef("q82_cdc_compact",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts").desc, col("event_id").desc)
        events(s, dir)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1 && col("event_type") =!= "error")
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_keys"),
            d(sum(dec(col("value")))).as("sum_last_value"))
          .orderBy(col("event_type"))
      },
      Some(s"""SELECT event_type, count(*) AS n_keys,
        |  ${sumDec("value")} AS sum_last_value
        |FROM (
        |  SELECT user_id, event_type, value,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events)
        |WHERE rn = 1 AND event_type <> 'error'
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin)),

    // ------------------------------------------------------------------
    // Train/test contamination check — the eval-integrity op every
    // training pipeline runs before trusting a benchmark number: how
    // much of each held-out doc's n-gram content also appears in the
    // training split? Composes the deterministic md5 split (q73's
    // rule) with the shingle index (q35's), as a LEFT SEMI join from
    // test shingles into the distinct train-shingle set — at scale
    // both sides shuffle once on the shingle hash, never on text,
    // and the train side is distinct-collapsed before the join.
    QueryDef("q92_contamination",
      (s, dir) => {
        val bucket = hashBucket(col("doc_id"))
        val sh = TextOps.shingleTable(s, dir).withColumn("bucket", bucket)
        val trainShingles = sh.filter(col("bucket") < 80)
          .select(col("s")).distinct()
        val test = sh.filter(col("bucket") >= 90)
        val hits = test.join(trainShingles, Seq("s"), "left_semi")
          .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hit"))
        test.groupBy(col("doc_id")).agg(max(col("sz")).as("n_shingles"))
          .join(hits, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_shingles"),
            coalesce(col("n_hit"), lit(0L)).as("n_contaminated"),
            (coalesce(col("n_hit"), lit(0L)).cast("double")
              / col("n_shingles")).as("contamination"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH ${TextOps.shingleSql},
        |ex AS (
        |  SELECT doc_id, len(shingles) AS sz, unnest(shingles) AS s,
        |    CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))
        |      AS BIGINT) % 100 AS bucket
        |  FROM sh),
        |train AS (SELECT DISTINCT s FROM ex WHERE bucket < 80),
        |test AS (SELECT doc_id, sz, s FROM ex WHERE bucket >= 90),
        |hits AS (
        |  SELECT doc_id, count(*) AS n_hit FROM test
        |  WHERE s IN (SELECT s FROM train) GROUP BY doc_id),
        |base AS (SELECT doc_id, max(sz) AS n_shingles FROM test GROUP BY doc_id)
        |SELECT base.doc_id, n_shingles,
        |  coalesce(n_hit, 0) AS n_contaminated,
        |  CAST(coalesce(n_hit, 0) AS DOUBLE) / n_shingles AS contamination
        |FROM base LEFT JOIN hits ON base.doc_id = hits.doc_id
        |ORDER BY base.doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // Rolling 7-day distinct users — the query that makes sketches
    // NECESSARY at scale: exact rolling distinct needs every (day,
    // user) pair replicated into each of 7 windows (a 7× shuffle of
    // the identity stream). Instead: one HLL sketch per day (a few KB
    // each), then a range self-join over the TINY per-day sketch
    // table and a union-merge per window — the fact table is scanned
    // once, ever. Sketch internals ⇒ rows-only; SketchWindowSpec
    // bounds the estimates against exact rolling counts.
    QueryDef("q93_rolling_distinct",
      (s, dir) => {
        val daily = events(s, dir)
          .groupBy(expr("ts_ms DIV 86400000").as("day"))
          .agg(hll_sketch_agg(col("user_id")).as("sk"),
            count(lit(1)).as("n_events"))
          // materialized once: the self-join feeds this tiny table
          // into a broadcast subtree AND a probe subtree — without
          // the checkpoint both would re-scan events and rebuild the
          // per-day sketches (exchange reuse doesn't cross a
          // broadcast boundary)
          .localCheckpoint(true)
        daily.as("a").join(daily.as("b"),
            col("b.day").between(col("a.day") - 6, col("a.day")))
          .groupBy(col("a.day").as("day"))
          .agg(hll_sketch_estimate(hll_union_agg(col("b.sk")))
            .as("n_users_7d_est"),
            sum(col("b.n_events")).as("n_events_7d"))
          .select((col("day") * 86400000).as("day_ms"),
            col("n_users_7d_est"), col("n_events_7d"))
          .orderBy(col("day_ms"))
      },
      None),

    // ------------------------------------------------------------------
    // Incremental (new-shard vs corpus) exact dedup — the daily-ingest
    // shape: a small arriving batch is checked against the standing
    // corpus WITHOUT rescanning corpus text. Both sides reduce to
    // md5 digests first (16 bytes/doc, never the text), the corpus
    // side collapses to DISTINCT digests before the join, and the
    // arriving batch is the small side — at 100 TB the corpus digest
    // set shuffles once on the digest while the batch rides the same
    // hash partitioning; AQE broadcasts the batch when it fits. The
    // within-batch tie (two new docs with the same digest) keeps the
    // lowest doc_id as `novel` and marks the rest `dup_batch`.
    QueryDef("q106_incremental_dedup",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val fp = md5(regexp_replace(trim(lower(col("text"))), "\\s+", " "))
        val docs = t(s, dir, "documents").select(col("doc_id"), fp.as("fp"))
        // deterministic 10% "arriving batch" (SF-independent rule)
        val batch = docs.filter(col("doc_id") % 10 === 7)
        val seen = docs.filter(col("doc_id") % 10 =!= 7)
          .select(col("fp")).distinct().withColumn("in_corpus", lit(1))
        val w = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
        batch.join(seen, Seq("fp"), "left")
          .withColumn("rn", row_number().over(w))
          .withColumn("status",
            when(col("in_corpus") === 1, lit("dup_corpus"))
              .when(col("rn") > 1, lit("dup_batch"))
              .otherwise(lit("novel")))
          .select(col("doc_id"), col("status"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH d AS (
        |  SELECT doc_id,
        |    md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, fp,
        |    row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        |  FROM d WHERE doc_id % 10 = 7)
        |SELECT b.doc_id,
        |  CASE WHEN EXISTS (SELECT 1 FROM d c
        |                    WHERE c.doc_id % 10 <> 7 AND c.fp = b.fp)
        |         THEN 'dup_corpus'
        |       WHEN b.rn > 1 THEN 'dup_batch'
        |       ELSE 'novel' END AS status
        |FROM b ORDER BY b.doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // Distribution-drift report — compare the value distribution of
    // each event type between the first and second half of the time
    // range (the data-freshness monitor a training pipeline runs
    // before mixing a new crawl in). Fixed-width value bins (width
    // 50, SF-independent) and an integer midpoint split keep every
    // count exact; the proportions are single divisions of exact
    // integers so both engines produce bit-identical doubles. One
    // scan, one hash-agg on (type, bin), one 10-row-per-type window —
    // no shuffle grows with the data beyond the agg itself.
    QueryDef("q107_drift_report",
      (s, dir) => {
        // Per-type totals via a second tiny hash-agg + broadcast join,
        // NOT an unpartitioned-frame window over the binned table: the
        // window form shuffles every (type, bin) row into one task per
        // type and holds the whole frame; the agg+join form is two
        // map-side-combinable aggs and a broadcast of ~|types| rows —
        // no per-type serialization anywhere, at any bin-domain size.
        val ev = events(s, dir)
          .select(col("event_type"), col("value"), col("ts_ms"))
        val Array(mn, mx) = ev.agg(min(col("ts_ms")), max(col("ts_ms")))
          .head().toSeq.map(_.asInstanceOf[Long]).toArray
        val mid = (mn + mx) / 2
        val binned = ev
          .withColumn("bin", floor(col("value") / 50.0).cast("long"))
          .groupBy(col("event_type"), col("bin"))
          .agg(count(when(col("ts_ms") <= mid, 1)).as("n_ref"),
            count(when(col("ts_ms") > mid, 1)).as("n_cur"))
        val totals = binned.groupBy(col("event_type"))
          .agg(sum(col("n_ref")).as("t_ref"), sum(col("n_cur")).as("t_cur"))
        binned.join(broadcast(totals), "event_type")
          .withColumn("p_ref", col("n_ref").cast("double") / col("t_ref"))
          .withColumn("p_cur", col("n_cur").cast("double") / col("t_cur"))
          .withColumn("shift", col("p_cur") - col("p_ref"))
          .select(col("event_type"), col("bin"), col("n_ref"),
            col("n_cur"), col("p_ref"), col("p_cur"), col("shift"))
          .orderBy(col("event_type"), col("bin"))
      },
      Some(s"""WITH ev AS (
        |  SELECT event_type, value, $tsMs AS ts_ms FROM events),
        |mid AS (
        |  SELECT (min(ts_ms) + max(ts_ms)) // 2 AS mid FROM ev),
        |binned AS (
        |  SELECT event_type,
        |    CAST(floor(value / 50.0) AS BIGINT) AS bin,
        |    count(*) FILTER (WHERE ts_ms <= mid) AS n_ref,
        |    count(*) FILTER (WHERE ts_ms > mid) AS n_cur
        |  FROM ev CROSS JOIN mid GROUP BY 1, 2)
        |SELECT event_type, bin, n_ref, n_cur,
        |  CAST(n_ref AS DOUBLE)
        |    / CAST(sum(n_ref) OVER (PARTITION BY event_type) AS BIGINT)
        |    AS p_ref,
        |  CAST(n_cur AS DOUBLE)
        |    / CAST(sum(n_cur) OVER (PARTITION BY event_type) AS BIGINT)
        |    AS p_cur,
        |  CAST(n_cur AS DOUBLE)
        |    / CAST(sum(n_cur) OVER (PARTITION BY event_type) AS BIGINT)
        |  - CAST(n_ref AS DOUBLE)
        |    / CAST(sum(n_ref) OVER (PARTITION BY event_type) AS BIGINT)
        |    AS shift
        |FROM binned ORDER BY event_type, bin""".stripMargin)),

    // ------------------------------------------------------------------
    // Right-to-be-forgotten propagation — given a delete list (here:
    // customers with deeply negative balances, an SF-independent
    // predicate), report what cascades: per nation, how many
    // customers, orders, line items and how much revenue leave the
    // dataset. The delete list is 1% of customers, so it GROWS with
    // the data — no broadcast hint; each fact join shuffles on its
    // own key and AQE picks broadcast at small SF. The order-key
    // spine is materialized once (localCheckpoint) because both the
    // order count and the lineitem join consume it.
    QueryDef("q108_delete_propagation",
      (s, dir) => {
        val del = t(s, dir, "customer")
          .filter(col("c_acctbal") < -900)
          .select(col("c_custkey"), col("c_nationkey"))
        val nat = t(s, dir, "nation")
          .select(col("n_nationkey"), col("n_name"))
        val custAgg = del.groupBy(col("c_nationkey"))
          .agg(count(lit(1)).as("n_customers"))
        val ord = t(s, dir, "orders")
          .join(del, col("o_custkey") === col("c_custkey"))
          .select(col("o_orderkey"), col("c_nationkey"))
          .localCheckpoint(true)
        val ordAgg = ord.groupBy(col("c_nationkey"))
          .agg(count(lit(1)).as("n_orders"))
        val liAgg = t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_extendedprice"))
          .join(ord, col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("c_nationkey"))
          .agg(count(lit(1)).as("n_lineitems"),
            d(sum(dec(col("l_extendedprice")))).as("revenue_removed"))
        custAgg
          .join(ordAgg, Seq("c_nationkey"), "left")
          .join(liAgg, Seq("c_nationkey"), "left")
          .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
          .select(col("n_name"), col("n_customers"),
            coalesce(col("n_orders"), lit(0L)).as("n_orders"),
            coalesce(col("n_lineitems"), lit(0L)).as("n_lineitems"),
            coalesce(col("revenue_removed"), lit(0.0)).as("revenue_removed"))
          .orderBy(col("n_name"))
      },
      Some(s"""WITH del AS (
        |  SELECT c_custkey, c_nationkey FROM customer
        |  WHERE c_acctbal < -900),
        |c AS (
        |  SELECT c_nationkey, count(*) AS n_customers FROM del GROUP BY 1),
        |o AS (
        |  SELECT o_orderkey, c_nationkey
        |  FROM orders JOIN del ON o_custkey = c_custkey),
        |oa AS (
        |  SELECT c_nationkey, count(*) AS n_orders FROM o GROUP BY 1),
        |la AS (
        |  SELECT c_nationkey, count(*) AS n_lineitems,
        |    ${sumDec("l_extendedprice")} AS revenue_removed
        |  FROM lineitem JOIN o ON l_orderkey = o_orderkey GROUP BY 1)
        |SELECT n_name, n_customers,
        |  COALESCE(n_orders, 0) AS n_orders,
        |  COALESCE(n_lineitems, 0) AS n_lineitems,
        |  COALESCE(revenue_removed, 0.0) AS revenue_removed
        |FROM c
        |LEFT JOIN oa USING (c_nationkey)
        |LEFT JOIN la USING (c_nationkey)
        |JOIN nation ON c_nationkey = n_nationkey
        |ORDER BY n_name""".stripMargin)),

    // ------------------------------------------------------------------
    // Eval-set decontamination with a bloom prefilter — q92 MEASURES
    // contamination; this one REMOVES it, in the shape a production
    // run takes at 100 TB: the eval split's distinct-shingle set is
    // bounded by the benchmark (not the corpus), so its bloom filter
    // — a few hundred KB of bounded model state, like q111's
    // centroids — rides into the plan as a literal and prefilters
    // the corpus-sized train side MAP-SIDE (graft_might_contain is
    // the codegen'd bit test the runtime bloom join uses). Only the
    // might_contain survivors (true hits + the fpp tail) reach the
    // exact semi-join shuffle. Blooms have no false negatives and
    // the exact verify kills the false positives, so the result
    // equals the unfiltered semi join — which is what the oracle
    // runs: the prefilter is invisible to correctness and pure
    // shuffle savings at scale.
    QueryDef("q118_bloom_decontam",
      (s, dir) => {
        graft.functions.MightContain.register(s)
        val bucket = hashBucket(col("doc_id"))
        val sh = TextOps.shingleTable(s, dir).withColumn("bucket", bucket)
        val evalSh = sh.filter(col("bucket") >= 90)
          .select(col("s")).distinct()
          // read twice (bloom build + exact verify side): once
          .localCheckpoint(true)
        val bloom = evalSh
          .select(call_function("graft_bloom_agg", xxhash64(col("s")),
            lit(50000L)).as("bf"))
          .head().getAs[Array[Byte]]("bf")
        val contaminated = sh.filter(col("bucket") < 80)
          .filter(call_function("graft_might_contain", lit(bloom),
            xxhash64(col("s"))))
          .join(evalSh, Seq("s"), "left_semi")
          .select(col("doc_id")).distinct()
        t(s, dir, "documents")
          .filter(bucket < 80)
          .join(contaminated.withColumn("hit", lit(1)), Seq("doc_id"), "left")
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_train_docs"),
            count(col("hit")).as("n_dropped"),
            count(when(col("hit").isNull, 1)).as("n_kept"))
          .orderBy(col("source"))
      },
      Some(s"""WITH ${TextOps.shingleSql},
        |ex AS (
        |  SELECT doc_id, unnest(shingles) AS s,
        |    CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))
        |      AS BIGINT) % 100 AS bucket
        |  FROM sh),
        |ev AS (SELECT DISTINCT s FROM ex WHERE bucket >= 90),
        |bad AS (
        |  SELECT DISTINCT doc_id FROM ex
        |  WHERE bucket < 80 AND s IN (SELECT s FROM ev)),
        |train AS (
        |  SELECT doc_id, source FROM documents
        |  WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))
        |      AS BIGINT) % 100 < 80)
        |SELECT source, count(*) AS n_train_docs,
        |  count(CASE WHEN bad.doc_id IS NOT NULL THEN 1 END) AS n_dropped,
        |  count(CASE WHEN bad.doc_id IS NULL THEN 1 END) AS n_kept
        |FROM train LEFT JOIN bad ON train.doc_id = bad.doc_id
        |GROUP BY source ORDER BY source""".stripMargin)),

    // ------------------------------------------------------------------
    // PageRank (3 damped iterations, d=0.85) over the supplier↔
    // customer transaction graph — the graph-centrality family next
    // to q80's connected components, and the algorithm web-corpus
    // curation uses for domain quality ranking. All arithmetic is
    // FIXED-POINT integer (ranks in 1e-12 units, truncating `div`),
    // so every engine computes the identical trajectory — the float
    // formulation would hash-diverge on accumulation order. Scale
    // shape: the edge list (with out-degrees pre-attached) builds
    // once and localCheckpoints; each iteration is one equi-join of
    // the rank vector against edges plus one hash-agg on dst — the
    // canonical message-passing round, O(|E|) per iteration with no
    // driver state beyond the two plan-literal scalars (node count,
    // teleport base). Suppliers offset by 10^9 to disjoin the key
    // spaces. The symmetric edge set means no dangling nodes: every
    // node re-appears as a dst each round.
    QueryDef("q120_pagerank",
      (s, dir) => {
        val unit = 1000000000000L
        val (ej, n) = transactionGraph(s, dir)
        val base = 15L * unit / 100L / n
        var ranks = ej.select(col("src").as("node")).distinct()
          .withColumn("r", lit(unit / n))
        for (_ <- 1 to 3) ranks = prRound(ej, ranks, base)
        ranks.orderBy(col("r").desc, col("node")).limit(100)
          .select(col("node"), col("r").as("rank_fp"))
      },
      Some("""WITH sc AS (
        |  SELECT DISTINCT l_suppkey + 1000000000 AS src, o_custkey AS dst
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |e AS (
        |  SELECT src, dst FROM sc
        |  UNION ALL SELECT dst AS src, src AS dst FROM sc),
        |deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY 1),
        |ej AS (SELECT e.src, e.dst, deg.outdeg FROM e JOIN deg USING (src)),
        |nn AS (SELECT count(DISTINCT src) AS n FROM ej),
        |r0 AS (
        |  SELECT DISTINCT src AS node,
        |    1000000000000 // (SELECT n FROM nn) AS r FROM ej),
        |r1 AS (
        |  SELECT dst AS node,
        |    (15 * 1000000000000 // 100) // (SELECT n FROM nn)
        |      + (85 * sum(r // outdeg)) // 100 AS r
        |  FROM ej JOIN r0 ON ej.src = r0.node GROUP BY dst),
        |r2 AS (
        |  SELECT dst AS node,
        |    (15 * 1000000000000 // 100) // (SELECT n FROM nn)
        |      + (85 * sum(r // outdeg)) // 100 AS r
        |  FROM ej JOIN r1 ON ej.src = r1.node GROUP BY dst),
        |r3 AS (
        |  SELECT dst AS node,
        |    (15 * 1000000000000 // 100) // (SELECT n FROM nn)
        |      + (85 * sum(r // outdeg)) // 100 AS r
        |  FROM ej JOIN r2 ON ej.src = r2.node GROUP BY dst)
        |SELECT node, CAST(r AS BIGINT) AS rank_fp FROM r3
        |ORDER BY r DESC, node LIMIT 100""".stripMargin)),

    // ------------------------------------------------------------------
    // Incremental aggregate refresh — the materialized-rollup
    // maintenance operator: an arriving shard (the md5-bucket 'f'
    // sixteenth of events, the q106/q171 arrival model) refreshes a
    // standing per-(event_type, day) rollup by MERGING shard partials
    // into it, instead of recomputing the cube from the full corpus.
    // The merge is a full-outer join of the standing rollup with the
    // shard partials on the group key: at 100 TB the partials are
    // shard-sized (broadcastable), untouched standing rows stream
    // through, and only affected groups change — per-batch cost is
    // O(shard), not O(corpus). Like q138/q146, the query carries its
    // own proof: matches_scratch compares every merged row against an
    // independent from-scratch aggregation (count + exact ×10⁴
    // fixed-point sum), so a merge bug flips flags both engines see.
    QueryDef("q187_incremental_agg_refresh",
      (s, dir) => {
        val ev = events(s, dir)
          .select(col("event_type"), expr("ts_ms DIV 86400000").as("day"),
            floor(col("value") * 10000 + 0.5).cast("long").as("v"),
            (substring(md5(col("event_id").cast("string")), 1, 1) === "f")
              .as("in_shard"))
        val standing = ev.filter(!col("in_shard"))
          .groupBy(col("event_type"), col("day"))
          .agg(count(lit(1)).as("n0"), sum(col("v")).as("s0"))
        val shard = ev.filter(col("in_shard"))
          .groupBy(col("event_type"), col("day"))
          .agg(count(lit(1)).as("dn"), sum(col("v")).as("ds"))
        val merged = standing
          .join(shard, Seq("event_type", "day"), "full_outer")
          .select(col("event_type"), col("day"),
            (coalesce(col("n0"), lit(0L)) + coalesce(col("dn"), lit(0L)))
              .as("n"),
            (coalesce(col("s0"), lit(0L)) + coalesce(col("ds"), lit(0L)))
              .as("sum_fp"),
            col("dn").isNotNull.cast("long").as("touched"))
        val scratch = ev.groupBy(col("event_type"), col("day"))
          .agg(count(lit(1)).as("n2"), sum(col("v")).as("s2"))
        merged.join(scratch, Seq("event_type", "day"))
          .select(col("event_type"), col("day"), col("n"), col("sum_fp"),
            col("touched"),
            (col("n") === col("n2") && col("sum_fp") === col("s2"))
              .cast("long").as("matches_scratch"))
          .orderBy(col("event_type"), col("day"))
      },
      Some(s"""WITH ev AS (
        |  SELECT event_type, $tsMs // 86400000 AS day,
        |    CAST(floor(value * 10000 + 0.5) AS BIGINT) AS v,
        |    substring(md5(CAST(event_id AS VARCHAR)), 1, 1) = 'f'
        |      AS in_shard
        |  FROM events),
        |standing AS (
        |  SELECT event_type, day, count(*) AS n0,
        |    CAST(sum(v) AS BIGINT) AS s0
        |  FROM ev WHERE NOT in_shard GROUP BY event_type, day),
        |shard AS (
        |  SELECT event_type, day, count(*) AS dn,
        |    CAST(sum(v) AS BIGINT) AS ds
        |  FROM ev WHERE in_shard GROUP BY event_type, day),
        |merged AS (
        |  SELECT coalesce(standing.event_type, shard.event_type)
        |      AS event_type,
        |    coalesce(standing.day, shard.day) AS day,
        |    coalesce(n0, 0) + coalesce(dn, 0) AS n,
        |    coalesce(s0, 0) + coalesce(ds, 0) AS sum_fp,
        |    CAST(dn IS NOT NULL AS BIGINT) AS touched
        |  FROM standing FULL OUTER JOIN shard
        |    ON standing.event_type = shard.event_type
        |      AND standing.day = shard.day),
        |scratch AS (
        |  SELECT event_type, day, count(*) AS n2,
        |    CAST(sum(v) AS BIGINT) AS s2
        |  FROM ev GROUP BY event_type, day)
        |SELECT event_type, day, CAST(n AS BIGINT) AS n,
        |  CAST(sum_fp AS BIGINT) AS sum_fp, touched,
        |  CAST(n = n2 AND sum_fp = s2 AS BIGINT) AS matches_scratch
        |FROM merged JOIN scratch USING (event_type, day)
        |ORDER BY event_type, day""".stripMargin)),

    // ------------------------------------------------------------------
    // k-anonymity audit — the privacy gate a corpus passes before
    // release: group documents by their quasi-identifier tuple
    // (lang, source, length bucket) and measure how many sit in
    // equivalence classes smaller than k=5, i.e. are re-identifiable
    // by the QI alone. Per lang: class count, smallest class, classes
    // below k, documents at risk, and the risk fraction (ONE division
    // of exact counts). Complements q103's PII scrub: scrubbing
    // removes direct identifiers, this measures the indirect ones.
    // Scale shape: two chained hash-aggs (QI classes, then per-lang
    // rollup) — both map-side-combinable, only 3 narrow columns read.
    QueryDef("q220_kanon_risk",
      (s, dir) => {
        val classes = t(s, dir, "documents")
          .select(col("lang"), col("source"),
            expr("n_chars DIV 100").as("len_bucket"))
          .groupBy(col("lang"), col("source"), col("len_bucket"))
          .agg(count(lit(1)).as("sz"))
        classes.groupBy(col("lang"))
          .agg(count(lit(1)).as("n_classes"),
            min(col("sz")).as("min_class"),
            count(when(col("sz") < 5, 1)).as("n_small_classes"),
            coalesce(sum(when(col("sz") < 5, col("sz"))), lit(0L))
              .as("n_docs_at_risk"),
            sum(col("sz")).as("n_docs"))
          .withColumn("risk_frac",
            col("n_docs_at_risk").cast("double") /
              col("n_docs").cast("double"))
          .orderBy(col("lang"))
      },
      Some("""WITH cls AS (
        |  SELECT lang, source, n_chars // 100 AS len_bucket,
        |    count(*) AS sz
        |  FROM documents GROUP BY 1, 2, 3)
        |SELECT lang,
        |  CAST(count(*) AS BIGINT) AS n_classes,
        |  CAST(min(sz) AS BIGINT) AS min_class,
        |  CAST(count(CASE WHEN sz < 5 THEN 1 END) AS BIGINT)
        |    AS n_small_classes,
        |  CAST(coalesce(sum(CASE WHEN sz < 5 THEN sz END), 0) AS BIGINT)
        |    AS n_docs_at_risk,
        |  CAST(sum(sz) AS BIGINT) AS n_docs,
        |  CAST(coalesce(sum(CASE WHEN sz < 5 THEN sz END), 0) AS DOUBLE) /
        |    CAST(sum(sz) AS DOUBLE) AS risk_frac
        |FROM cls GROUP BY lang
        |ORDER BY lang""".stripMargin)),

    // ------------------------------------------------------------------
    // l-diversity audit — q220's k-anonymity catches classes that are
    // SMALL; this catches classes that are UNIFORM: an equivalence
    // class of the quasi-identifier (source, length bucket) whose
    // members all share one sensitive-attribute value (here `lang`
    // stands in for the sensitive column) discloses that attribute
    // for every member even when the class is large (Machanavajjhala
    // et al.'s homogeneity attack). Per source: class count, the
    // minimum distinct-sensitive-values l across classes, classes at
    // l = 1, documents inside them, and the per-mille at risk.
    //
    // Scale shape: distinct-per-class is spelled as the two-level
    // pre-agg (group by (QI, lang) first, then count rows per QI —
    // the q232 no-Expand pattern), so the plan is two chained
    // map-side-combinable hash-aggs plus a per-source rollup; only
    // 3 narrow columns are read.
    QueryDef("q245_l_diversity",
      (s, dir) => {
        val cells = t(s, dir, "documents")
          .select(col("source"), expr("n_chars DIV 100").as("len_bucket"),
            col("lang"))
          .groupBy(col("source"), col("len_bucket"), col("lang"))
          .agg(count(lit(1)).as("cnt"))
        val byClass = cells.groupBy(col("source"), col("len_bucket"))
          .agg(count(lit(1)).as("l"), sum(col("cnt")).as("sz"))
        byClass.groupBy(col("source"))
          .agg(count(lit(1)).as("n_classes"),
            min(col("l")).as("min_l"),
            sum(when(col("l") === 1, 1L).otherwise(0L)).as("n_l1_classes"),
            coalesce(sum(when(col("l") === 1, col("sz"))), lit(0L))
              .as("docs_at_risk"),
            sum(col("sz")).as("n_docs"))
          .withColumn("risk_pm", expr("docs_at_risk * 1000 DIV n_docs"))
          .orderBy(col("source"))
      },
      Some("""WITH cells AS (
        |  SELECT source, n_chars // 100 AS len_bucket, lang,
        |    count(*) AS cnt
        |  FROM documents GROUP BY 1, 2, 3),
        |cls AS (
        |  SELECT source, len_bucket, count(*) AS l,
        |    CAST(sum(cnt) AS BIGINT) AS sz
        |  FROM cells GROUP BY 1, 2)
        |SELECT source,
        |  CAST(count(*) AS BIGINT) AS n_classes,
        |  CAST(min(l) AS BIGINT) AS min_l,
        |  CAST(coalesce(sum(CASE WHEN l = 1 THEN 1 END), 0) AS BIGINT)
        |    AS n_l1_classes,
        |  CAST(coalesce(sum(CASE WHEN l = 1 THEN sz END), 0) AS BIGINT)
        |    AS docs_at_risk,
        |  CAST(sum(sz) AS BIGINT) AS n_docs,
        |  CAST(coalesce(sum(CASE WHEN l = 1 THEN sz END), 0) * 1000
        |    // sum(sz) AS BIGINT) AS risk_pm
        |FROM cls GROUP BY 1 ORDER BY source""".stripMargin)),

    // ------------------------------------------------------------------
    // Bitmap-chunk exact distinct — the roaring-bitmap-index pattern
    // spelled in pure relational algebra: user ids map to (chunk =
    // id DIV 63, bit = 1 << id%63 — 63-bit chunks because a signed
    // BIGINT 1<<63 overflows on the oracle side) and per-(key, chunk)
    // masks merge
    // with the ASSOCIATIVE bit_or — mergeable partial state exactly
    // like a sketch (HLL q176, KMV q177) but EXACT: the distinct
    // count is Σ popcount(mask). Why it matters at 100 TB: a shuffle
    // carries one 8-byte mask per (key, chunk) instead of every id,
    // masks union across days/partitions/engines without re-reading
    // raw data (the materialized-bitmap form of q178's register
    // maxes), and unlike count(DISTINCT) the partial state is
    // re-aggregable after any regrouping. The query emits BOTH the
    // bitmap count and the built-in exact count — the cross-engine
    // hash match pins bitmap == exact on every row on both engines.
    QueryDef("q251_bitmap_distinct",
      (s, dir) => {
        val ev = events(s, dir).select(col("event_type"), col("user_id"))
        val masks = ev
          .select(col("event_type"), expr("user_id DIV 63").as("chunk"),
            expr("shiftleft(CAST(1 AS BIGINT), " +
              "CAST(user_id % 63 AS INT))").as("bit"))
          .groupBy(col("event_type"), col("chunk"))
          .agg(expr("bit_or(bit)").as("mask"))
        val viaBitmap = masks.groupBy(col("event_type"))
          .agg(sum(expr("bit_count(mask)")).as("distinct_bitmap"),
            count(lit(1)).as("n_chunks"))
        val exact = ev.groupBy(col("event_type"))
          .agg(countDistinct(col("user_id")).as("distinct_exact"))
        viaBitmap.join(exact, "event_type")
          .select(col("event_type"), col("distinct_bitmap"),
            col("distinct_exact"), col("n_chunks"),
            (col("distinct_bitmap") === col("distinct_exact"))
              .cast("long").as("agree"))
          .orderBy(col("event_type"))
      },
      Some("""WITH ev AS (SELECT event_type, user_id FROM events),
        |masks AS (
        |  SELECT event_type, user_id // 63 AS chunk,
        |    bit_or(1::BIGINT << CAST(user_id % 63 AS INT)) AS mask
        |  FROM ev GROUP BY 1, 2),
        |bm AS (
        |  SELECT event_type,
        |    CAST(sum(bit_count(mask)) AS BIGINT) AS distinct_bitmap,
        |    CAST(count(*) AS BIGINT) AS n_chunks
        |  FROM masks GROUP BY 1),
        |ex AS (
        |  SELECT event_type,
        |    CAST(count(DISTINCT user_id) AS BIGINT) AS distinct_exact
        |  FROM ev GROUP BY 1)
        |SELECT bm.event_type, bm.distinct_bitmap, ex.distinct_exact,
        |  bm.n_chunks,
        |  CAST(bm.distinct_bitmap = ex.distinct_exact AS BIGINT) AS agree
        |FROM bm JOIN ex ON ex.event_type = bm.event_type
        |ORDER BY bm.event_type""".stripMargin)),

    // ------------------------------------------------------------------
    // Gini concentration of user activity — the inequality readout
    // ("does 1% of users generate 90% of the traffic?") that sizes
    // per-user quotas, bot screens and skew mitigation; the Lorenz-
    // curve sibling of q221's Gini IMPURITY (which measures value
    // concentration of one column, not contribution inequality
    // across actors). EXACT integer form on the COUNT-OF-COUNTS
    // grid: users with equal activity v collapse to one cell (v, c);
    // a cell occupying ascending ranks [R+1, R+c] contributes
    // v·(c·R + c(c+1)/2) to S = Σ i·x_i, and
    // G = (2S − (n+1)W) / (nW) with n users, W total events — one
    // ppm DIV at the end, products in DECIMAL(38,0)/HUGEINT (S
    // reaches n·W ≈ 10³⁰ at planetary scale — the q137 contract).
    //
    // Scale shape: one map-side-combinable count to the per-user
    // grid, a second count to the (type, v) count-of-counts grid
    // (bounded by DISTINCT activity levels — Zipf-small), and the
    // rank arithmetic runs entirely on that grid via one cumulative
    // window. The corpus is scanned once.
    QueryDef("q257_user_gini",
      (s, dir) => {
        val perUser = events(s, dir)
          .groupBy(col("event_type"), col("user_id"))
          .agg(count(lit(1)).as("v"))
        val grid = perUser.groupBy(col("event_type"), col("v"))
          .agg(count(lit(1)).as("c"))
        val wv = org.apache.spark.sql.expressions.Window
          .partitionBy(col("event_type")).orderBy(col("v"))
          .rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, -1)
        grid
          .withColumn("r_before", coalesce(sum(col("c")).over(wv), lit(0L)))
          .groupBy(col("event_type"))
          .agg(sum(col("c")).as("n_users"),
            expr("sum(CAST(v AS DECIMAL(38,0)) * c)").as("w_total"),
            expr("sum(CAST(v AS DECIMAL(38,0)) * (CAST(c AS DECIMAL(38,0)) " +
              "* r_before + CAST(c AS DECIMAL(38,0)) * (c + 1) DIV 2))")
              .as("s_rank"))
          .select(col("event_type"),
            col("n_users"), col("w_total").cast("long").as("total_events"),
            expr("CAST((2 * s_rank - CAST(n_users + 1 AS DECIMAL(38,0)) " +
              "* w_total) * 1000000 DIV (CAST(n_users AS DECIMAL(38,0)) " +
              "* w_total) AS BIGINT)").as("gini_ppm"))
          .orderBy(col("event_type"))
      },
      Some("""WITH pu AS (
        |  SELECT event_type, user_id, count(*) AS v
        |  FROM events GROUP BY 1, 2),
        |grid AS (
        |  SELECT event_type, v, count(*) AS c FROM pu GROUP BY 1, 2),
        |ranked AS (
        |  SELECT event_type, v, c,
        |    CAST(coalesce(sum(c) OVER (PARTITION BY event_type ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS r_before
        |  FROM grid)
        |SELECT event_type,
        |  CAST(sum(c) AS BIGINT) AS n_users,
        |  CAST(sum(CAST(v AS HUGEINT) * c) AS BIGINT) AS total_events,
        |  CAST((2 * sum(CAST(v AS HUGEINT) * (CAST(c AS HUGEINT) * r_before
        |      + CAST(c AS HUGEINT) * (c + 1) // 2))
        |    - (sum(c) + 1) * sum(CAST(v AS HUGEINT) * c)) * 1000000
        |    // (sum(c) * sum(CAST(v AS HUGEINT) * c)) AS BIGINT)
        |    AS gini_ppm
        |FROM ranked GROUP BY 1
        |ORDER BY event_type""".stripMargin)),

    // ------------------------------------------------------------------
    // Damped PageRank run to CONVERGENCE (max per-node delta ≤ 10⁶
    // fp = 10⁻⁶ rank mass) — q120's production form, hash-matched:
    // the recursive state carries (rank, previous rank), so the
    // epsilon test is a scan of the working table, and the oracle
    // stops on EXACTLY pagerankFixpoint's rule — the first state
    // whose max |r − prev| ≤ eps is the last one emitted. Damping
    // contracts deltas ~0.85/round, so rounds-to-eps is O(log 1/eps)
    // (57 at the gate SF), independent of graph size — the property
    // that makes run-to-convergence viable at 100 TB, where each
    // round exchanges only the |V|-row rank vector against the
    // pre-partitioned edge list.
    QueryDef("q260_pagerank_fixpoint",
      (s, dir) => pagerankConverged(s, dir),
      Some("""WITH RECURSIVE sc AS (
        |  SELECT DISTINCT l_suppkey + 1000000000 AS src, o_custkey AS dst
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |e AS (SELECT src, dst FROM sc UNION ALL SELECT dst, src FROM sc),
        |deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY 1),
        |ej AS (SELECT e.src, e.dst, deg.outdeg FROM e JOIN deg USING (src)),
        |nn AS (SELECT count(DISTINCT src) AS n FROM ej),
        |pr AS (
        |  SELECT DISTINCT src AS node,
        |    1000000000000 // (SELECT n FROM nn) AS r,
        |    CAST(NULL AS BIGINT) AS prev, 0 AS it
        |  FROM ej
        |  UNION ALL
        |  SELECT nx.node, nx.r, o.r AS prev, o.it + 1
        |  FROM (
        |    SELECT ej.dst AS node,
        |      (15 * 1000000000000 // 100) // (SELECT n FROM nn)
        |        + (85 * sum(p.r // ej.outdeg)) // 100 AS r
        |    FROM ej JOIN pr p ON p.node = ej.src GROUP BY ej.dst) nx
        |  JOIN pr o ON o.node = nx.node
        |  WHERE coalesce((SELECT max(abs(r - prev)) FROM pr),
        |    9223372036854775807) > 1000000)
        |SELECT node, CAST(r AS BIGINT) AS rank_fp FROM pr
        |WHERE it = (SELECT max(it) FROM pr)
        |ORDER BY r DESC, node LIMIT 100""".stripMargin)),

    // ------------------------------------------------------------------
    // Warm-start PageRank over the grown graph (q260's incremental
    // form): the standing base-graph rank vector (a persisted side
    // table — solved once, ~70 rounds) seeds the merged-graph solve,
    // which then converges in the handful of rounds the DELTA needs.
    // The oracle replays BOTH trajectories from scratch — base solve
    // to its fixpoint, then the warm merged solve seeded from it — in
    // exact integer arithmetic, so the hash match proves (a) the
    // standing artifact equals the from-scratch base fixpoint, (b)
    // the warm solve's final ranks AND round count match bit-for-bit.
    QueryDef("q270_pagerank_warm",
      (s, dir) => pagerankWarmStart(s, dir),
      Some("""WITH RECURSIVE
        |scb AS (
        |  SELECT DISTINCT l_suppkey + 1000000000 AS src, o_custkey AS dst
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE CAST(('0x' || substring(md5(CAST(o_orderkey AS VARCHAR)),
        |    1, 15)) AS BIGINT) % 100 < 80),
        |eb AS (SELECT src, dst FROM scb UNION ALL SELECT dst, src FROM scb),
        |degb AS (SELECT src, count(*) AS outdeg FROM eb GROUP BY 1),
        |ejb AS (SELECT eb.src, eb.dst, degb.outdeg
        |        FROM eb JOIN degb USING (src)),
        |nb AS (SELECT count(DISTINCT src) AS n FROM ejb),
        |prb AS (
        |  SELECT DISTINCT src AS node,
        |    1000000000000 // (SELECT n FROM nb) AS r,
        |    CAST(NULL AS BIGINT) AS prev, 0 AS it
        |  FROM ejb
        |  UNION ALL
        |  SELECT nx.node, nx.r, o.r AS prev, o.it + 1
        |  FROM (
        |    SELECT ejb.dst AS node,
        |      (15 * 1000000000000 // 100) // (SELECT n FROM nb)
        |        + (85 * sum(p.r // ejb.outdeg)) // 100 AS r
        |    FROM ejb JOIN prb p ON p.node = ejb.src GROUP BY ejb.dst) nx
        |  JOIN prb o ON o.node = nx.node
        |  WHERE coalesce((SELECT max(abs(r - prev)) FROM prb),
        |    9223372036854775807) > 1000000),
        |base_final AS (
        |  SELECT node, r FROM prb WHERE it = (SELECT max(it) FROM prb)),
        |sc AS (
        |  SELECT DISTINCT l_suppkey + 1000000000 AS src, o_custkey AS dst
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |e AS (SELECT src, dst FROM sc UNION ALL SELECT dst, src FROM sc),
        |deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY 1),
        |ej AS (SELECT e.src, e.dst, deg.outdeg FROM e JOIN deg USING (src)),
        |nn AS (SELECT count(DISTINCT src) AS n FROM ej),
        |pr AS (
        |  SELECT n0.node,
        |    coalesce(b.r, 1000000000000 // (SELECT n FROM nn)) AS r,
        |    CAST(NULL AS BIGINT) AS prev, 0 AS it
        |  FROM (SELECT DISTINCT src AS node FROM ej) n0
        |  LEFT JOIN base_final b ON b.node = n0.node
        |  UNION ALL
        |  SELECT nx.node, nx.r, o.r AS prev, o.it + 1
        |  FROM (
        |    SELECT ej.dst AS node,
        |      (15 * 1000000000000 // 100) // (SELECT n FROM nn)
        |        + (85 * sum(p.r // ej.outdeg)) // 100 AS r
        |    FROM ej JOIN pr p ON p.node = ej.src GROUP BY ej.dst) nx
        |  JOIN pr o ON o.node = nx.node
        |  WHERE coalesce((SELECT max(abs(r - prev)) FROM pr),
        |    9223372036854775807) > 1000000)
        |SELECT node, CAST(r AS BIGINT) AS rank_fp,
        |  CAST((SELECT max(it) FROM pr) AS BIGINT) AS warm_rounds
        |FROM pr WHERE it = (SELECT max(it) FROM pr)
        |ORDER BY r DESC, node LIMIT 100""".stripMargin)),

    // Chained warm-start PageRank: event 1 (orders bucket 80-89)
    // warm-starts from the standing base vector and PUBLISHES the
    // merged ranks (with its round count riding inside the artifact);
    // event 2 (the rest) warm-starts from the MAINTAINED vector. The
    // oracle replays all three trajectories from scratch — base cold,
    // m90 seeded from base, full seeded from m90 — so the hash match
    // proves both published artifacts equal their fixpoints and pins
    // BOTH chained round counts (two successive absorbs == the cold
    // solve over the full union, q279's shape for ranks).
    QueryDef("q283_pagerank_warm_chain",
      (s, dir) => pagerankWarmChain(s, dir),
      Some("""WITH RECURSIVE
        |scb AS (
        |  SELECT DISTINCT l_suppkey + 1000000000 AS src, o_custkey AS dst
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE CAST(('0x' || substring(md5(CAST(o_orderkey AS VARCHAR)),
        |    1, 15)) AS BIGINT) % 100 < 80),
        |eb AS (SELECT src, dst FROM scb UNION ALL SELECT dst, src FROM scb),
        |degb AS (SELECT src, count(*) AS outdeg FROM eb GROUP BY 1),
        |ejb AS (SELECT eb.src, eb.dst, degb.outdeg
        |        FROM eb JOIN degb USING (src)),
        |nb AS (SELECT count(DISTINCT src) AS n FROM ejb),
        |prb AS (
        |  SELECT DISTINCT src AS node,
        |    1000000000000 // (SELECT n FROM nb) AS r,
        |    CAST(NULL AS BIGINT) AS prev, 0 AS it
        |  FROM ejb
        |  UNION ALL
        |  SELECT nx.node, nx.r, o.r AS prev, o.it + 1
        |  FROM (
        |    SELECT ejb.dst AS node,
        |      (15 * 1000000000000 // 100) // (SELECT n FROM nb)
        |        + (85 * sum(p.r // ejb.outdeg)) // 100 AS r
        |    FROM ejb JOIN prb p ON p.node = ejb.src GROUP BY ejb.dst) nx
        |  JOIN prb o ON o.node = nx.node
        |  WHERE coalesce((SELECT max(abs(r - prev)) FROM prb),
        |    9223372036854775807) > 1000000),
        |base_final AS (
        |  SELECT node, r FROM prb WHERE it = (SELECT max(it) FROM prb)),
        |sc9 AS (
        |  SELECT DISTINCT l_suppkey + 1000000000 AS src, o_custkey AS dst
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE CAST(('0x' || substring(md5(CAST(o_orderkey AS VARCHAR)),
        |    1, 15)) AS BIGINT) % 100 < 90),
        |e9 AS (SELECT src, dst FROM sc9 UNION ALL SELECT dst, src FROM sc9),
        |deg9 AS (SELECT src, count(*) AS outdeg FROM e9 GROUP BY 1),
        |ej9 AS (SELECT e9.src, e9.dst, deg9.outdeg
        |        FROM e9 JOIN deg9 USING (src)),
        |n9 AS (SELECT count(DISTINCT src) AS n FROM ej9),
        |pr9 AS (
        |  SELECT n0.node,
        |    coalesce(b.r, 1000000000000 // (SELECT n FROM n9)) AS r,
        |    CAST(NULL AS BIGINT) AS prev, 0 AS it
        |  FROM (SELECT DISTINCT src AS node FROM ej9) n0
        |  LEFT JOIN base_final b ON b.node = n0.node
        |  UNION ALL
        |  SELECT nx.node, nx.r, o.r AS prev, o.it + 1
        |  FROM (
        |    SELECT ej9.dst AS node,
        |      (15 * 1000000000000 // 100) // (SELECT n FROM n9)
        |        + (85 * sum(p.r // ej9.outdeg)) // 100 AS r
        |    FROM ej9 JOIN pr9 p ON p.node = ej9.src GROUP BY ej9.dst) nx
        |  JOIN pr9 o ON o.node = nx.node
        |  WHERE coalesce((SELECT max(abs(r - prev)) FROM pr9),
        |    9223372036854775807) > 1000000),
        |m90_final AS (
        |  SELECT node, r FROM pr9 WHERE it = (SELECT max(it) FROM pr9)),
        |sc AS (
        |  SELECT DISTINCT l_suppkey + 1000000000 AS src, o_custkey AS dst
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |e AS (SELECT src, dst FROM sc UNION ALL SELECT dst, src FROM sc),
        |deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY 1),
        |ej AS (SELECT e.src, e.dst, deg.outdeg FROM e JOIN deg USING (src)),
        |nn AS (SELECT count(DISTINCT src) AS n FROM ej),
        |pr AS (
        |  SELECT n0.node,
        |    coalesce(m.r, 1000000000000 // (SELECT n FROM nn)) AS r,
        |    CAST(NULL AS BIGINT) AS prev, 0 AS it
        |  FROM (SELECT DISTINCT src AS node FROM ej) n0
        |  LEFT JOIN m90_final m ON m.node = n0.node
        |  UNION ALL
        |  SELECT nx.node, nx.r, o.r AS prev, o.it + 1
        |  FROM (
        |    SELECT ej.dst AS node,
        |      (15 * 1000000000000 // 100) // (SELECT n FROM nn)
        |        + (85 * sum(p.r // ej.outdeg)) // 100 AS r
        |    FROM ej JOIN pr p ON p.node = ej.src GROUP BY ej.dst) nx
        |  JOIN pr o ON o.node = nx.node
        |  WHERE coalesce((SELECT max(abs(r - prev)) FROM pr),
        |    9223372036854775807) > 1000000)
        |SELECT node, CAST(r AS BIGINT) AS rank_fp,
        |  CAST((SELECT max(it) FROM pr9) AS BIGINT) AS rounds_m90,
        |  CAST((SELECT max(it) FROM pr) AS BIGINT) AS rounds_full
        |FROM pr WHERE it = (SELECT max(it) FROM pr)
        |ORDER BY r DESC, node LIMIT 100""".stripMargin)),

    // PageRank RETRACTION — the forget half of q270's absorb (the one
    // standing-artifact family that lacked it): a purge set leaves
    // the base graph, the survivors re-solve WARM from the standing
    // rank vector. The oracle replays the base trajectory, applies
    // the same purge, and re-solves the surviving graph from scratch
    // seeded identically — so the hash match is the retracted ==
    // resolved-from-scratch proof with the warm round count pinned.
    QueryDef("q284_pagerank_retract",
      (s, dir) => pagerankRetract(s, dir),
      Some("""WITH RECURSIVE
        |scb AS (
        |  SELECT DISTINCT l_suppkey + 1000000000 AS src, o_custkey AS dst
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE CAST(('0x' || substring(md5(CAST(o_orderkey AS VARCHAR)),
        |    1, 15)) AS BIGINT) % 100 < 80),
        |eb AS (SELECT src, dst FROM scb UNION ALL SELECT dst, src FROM scb),
        |degb AS (SELECT src, count(*) AS outdeg FROM eb GROUP BY 1),
        |ejb AS (SELECT eb.src, eb.dst, degb.outdeg
        |        FROM eb JOIN degb USING (src)),
        |nb AS (SELECT count(DISTINCT src) AS n FROM ejb),
        |prb AS (
        |  SELECT DISTINCT src AS node,
        |    1000000000000 // (SELECT n FROM nb) AS r,
        |    CAST(NULL AS BIGINT) AS prev, 0 AS it
        |  FROM ejb
        |  UNION ALL
        |  SELECT nx.node, nx.r, o.r AS prev, o.it + 1
        |  FROM (
        |    SELECT ejb.dst AS node,
        |      (15 * 1000000000000 // 100) // (SELECT n FROM nb)
        |        + (85 * sum(p.r // ejb.outdeg)) // 100 AS r
        |    FROM ejb JOIN prb p ON p.node = ejb.src GROUP BY ejb.dst) nx
        |  JOIN prb o ON o.node = nx.node
        |  WHERE coalesce((SELECT max(abs(r - prev)) FROM prb),
        |    9223372036854775807) > 1000000),
        |base_final AS (
        |  SELECT node, r FROM prb WHERE it = (SELECT max(it) FROM prb)),
        |scr AS (
        |  SELECT src, dst FROM scb
        |  WHERE CAST(('0x' || substring(md5(CAST(src AS VARCHAR)),
        |    1, 15)) AS BIGINT) % 100 < 97
        |    AND CAST(('0x' || substring(md5(CAST(dst AS VARCHAR)),
        |    1, 15)) AS BIGINT) % 100 < 97),
        |er AS (SELECT src, dst FROM scr UNION ALL SELECT dst, src FROM scr),
        |degr AS (SELECT src, count(*) AS outdeg FROM er GROUP BY 1),
        |ejr AS (SELECT er.src, er.dst, degr.outdeg
        |        FROM er JOIN degr USING (src)),
        |nr AS (SELECT count(DISTINCT src) AS n FROM ejr),
        |survb AS (
        |  SELECT n0.node,
        |    coalesce(b.r, 1000000000000 // (SELECT n FROM nr)) AS br
        |  FROM (SELECT DISTINCT src AS node FROM ejr) n0
        |  LEFT JOIN base_final b ON b.node = n0.node),
        |corr AS (
        |  SELECT (1000000000000 - sum(br)) // (SELECT n FROM nr) AS d
        |  FROM survb),
        |prr AS (
        |  SELECT node, br + (SELECT d FROM corr) AS r,
        |    CAST(NULL AS BIGINT) AS prev, 0 AS it
        |  FROM survb
        |  UNION ALL
        |  SELECT nx.node, nx.r, o.r AS prev, o.it + 1
        |  FROM (
        |    SELECT ejr.dst AS node,
        |      (15 * 1000000000000 // 100) // (SELECT n FROM nr)
        |        + (85 * sum(p.r // ejr.outdeg)) // 100 AS r
        |    FROM ejr JOIN prr p ON p.node = ejr.src GROUP BY ejr.dst) nx
        |  JOIN prr o ON o.node = nx.node
        |  WHERE coalesce((SELECT max(abs(r - prev)) FROM prr),
        |    9223372036854775807) > 1000000)
        |SELECT node, CAST(r AS BIGINT) AS rank_fp,
        |  CAST((SELECT max(it) FROM prr) AS BIGINT) AS warm_rounds
        |FROM prr WHERE it = (SELECT max(it) FROM prr)
        |ORDER BY r DESC, node LIMIT 100""".stripMargin)),

    // ------------------------------------------------------------------
    // Residual-PUSH rank maintenance (see [[pushRanksAbsorb]]) — the
    // delta-localized absorb behind the StandingRanks loop: an
    // unnormalized (n-independent teleport) base solve is persisted
    // WITH its incoming-mass sums, the shard perturbs (m, deg) only
    // at its neighborhood, and lazy-Jacobi push rounds settle the
    // residuals. The oracle replays the ENTIRE thing — cold base
    // push, structural m-update, warm push — in exact integer
    // arithmetic, so the hash match pins the algorithm and both
    // trajectory lengths. All `//` operands are non-negative (the
    // q239 portability rule).
    QueryDef("q285_pushrank_absorb",
      (s, dir) => pushRanksAbsorb(s, dir),
      Some("""WITH RECURSIVE
        |scb AS (
        |  SELECT DISTINCT l_suppkey + 1000000000 AS src, o_custkey AS dst
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE CAST(('0x' || substring(md5(CAST(o_orderkey AS VARCHAR)),
        |    1, 15)) AS BIGINT) % 100 < 80),
        |eb AS (SELECT src, dst FROM scb UNION ALL SELECT dst, src FROM scb),
        |degb AS (SELECT src, count(*) AS deg FROM eb GROUP BY 1),
        |nbb AS (SELECT count(*) AS n FROM degb),
        |m0b AS (
        |  SELECT eb.dst AS node, sum(150000000 // degb.deg) AS m
        |  FROM eb JOIN degb USING (src) GROUP BY eb.dst),
        |pb AS (
        |  SELECT degb.src AS node, CAST(150000000 AS BIGINT) AS p,
        |    coalesce(m0b.m, 0) AS m, degb.deg AS deg, 0 AS it
        |  FROM degb LEFT JOIN m0b ON m0b.node = degb.src
        |  UNION ALL
        |  SELECT st.node,
        |    CASE WHEN abs(150000000 + (85 * st.m) // 100 - st.p)
        |           > 1000 * (SELECT n FROM nbb)
        |         THEN 150000000 + (85 * st.m) // 100 ELSE st.p END,
        |    st.m + coalesce(dm.dm, 0), st.deg, st.it + 1
        |  FROM pb st
        |  LEFT JOIN (
        |    SELECT e.dst AS node,
        |      sum((150000000 + (85 * a.m) // 100) // a.deg
        |          - a.p // a.deg) AS dm
        |    FROM pb a JOIN eb e ON e.src = a.node
        |    WHERE abs(150000000 + (85 * a.m) // 100 - a.p)
        |          > 1000 * (SELECT n FROM nbb)
        |    GROUP BY e.dst) dm ON dm.node = st.node
        |  WHERE (SELECT count(*) FROM pb x
        |         WHERE abs(150000000 + (85 * x.m) // 100 - x.p)
        |               > 1000 * (SELECT n FROM nbb)) > 0),
        |base_final AS (
        |  SELECT node, p, m FROM pb WHERE it = (SELECT max(it) FROM pb)),
        |sc AS (
        |  SELECT DISTINCT l_suppkey + 1000000000 AS src, o_custkey AS dst
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |e AS (SELECT src, dst FROM sc UNION ALL SELECT dst, src FROM sc),
        |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
        |nn AS (SELECT count(*) AS n FROM deg),
        |ef AS (
        |  SELECT e.src, e.dst FROM e
        |  WHERE NOT EXISTS (SELECT 1 FROM eb
        |                    WHERE eb.src = e.src AND eb.dst = e.dst)),
        |dmo AS (
        |  SELECT e0.dst AS node,
        |    sum(b.p // d1.deg - b.p // d0.deg) AS dm
        |  FROM eb e0
        |  JOIN base_final b ON b.node = e0.src
        |  JOIN degb d0 ON d0.src = e0.src
        |  JOIN deg d1 ON d1.src = e0.src
        |  WHERE d1.deg <> d0.deg
        |  GROUP BY e0.dst),
        |dmn AS (
        |  SELECT ef.dst AS node,
        |    sum(coalesce(b.p, 150000000) // d1.deg) AS dm
        |  FROM ef
        |  LEFT JOIN base_final b ON b.node = ef.src
        |  JOIN deg d1 ON d1.src = ef.src
        |  GROUP BY ef.dst),
        |p2 AS (
        |  SELECT deg.src AS node,
        |    coalesce(b.p, CAST(150000000 AS BIGINT)) AS p,
        |    coalesce(b.m, 0) + coalesce(da.dm, 0) + coalesce(dn.dm, 0)
        |      AS m,
        |    deg.deg AS deg, 0 AS it
        |  FROM deg
        |  LEFT JOIN base_final b ON b.node = deg.src
        |  LEFT JOIN dmo da ON da.node = deg.src
        |  LEFT JOIN dmn dn ON dn.node = deg.src
        |  UNION ALL
        |  SELECT st.node,
        |    CASE WHEN abs(150000000 + (85 * st.m) // 100 - st.p)
        |           > 1000 * (SELECT n FROM nn)
        |         THEN 150000000 + (85 * st.m) // 100 ELSE st.p END,
        |    st.m + coalesce(dm.dm, 0), st.deg, st.it + 1
        |  FROM p2 st
        |  LEFT JOIN (
        |    SELECT e.dst AS node,
        |      sum((150000000 + (85 * a.m) // 100) // a.deg
        |          - a.p // a.deg) AS dm
        |    FROM p2 a JOIN e ON e.src = a.node
        |    WHERE abs(150000000 + (85 * a.m) // 100 - a.p)
        |          > 1000 * (SELECT n FROM nn)
        |    GROUP BY e.dst) dm ON dm.node = st.node
        |  WHERE (SELECT count(*) FROM p2 x
        |         WHERE abs(150000000 + (85 * x.m) // 100 - x.p)
        |               > 1000 * (SELECT n FROM nn)) > 0)
        |SELECT node, CAST(p AS BIGINT) AS p_fp,
        |  CAST((SELECT max(it) FROM pb) AS BIGINT) AS base_rounds,
        |  CAST((SELECT max(it) FROM p2) AS BIGINT) AS push_rounds
        |FROM p2 WHERE it = (SELECT max(it) FROM p2)
        |ORDER BY p_fp DESC, node LIMIT 100""".stripMargin))
  )
}
