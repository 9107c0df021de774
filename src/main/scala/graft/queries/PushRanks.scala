package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.functions._

/** Residual-push PageRank — the DELTA-LOCALIZED maintenance form of
  * [[PipelineOps.pagerankFixpoint]] (Gauss-Southwell / lazy-Jacobi on
  * the active set), built so a standing rank artifact can absorb an
  * edge delta with compute proportional to the delta's NEIGHBORHOOD
  * instead of one whole-graph spread per round.
  *
  * Formulation — UNNORMALIZED teleport, deliberately: the classic
  * equation `r = 0.15·unit/n + 0.85·M·r` couples EVERY node's
  * teleport base to the global node count, so any batch that adds or
  * removes a node shifts every rank and no absorb can be local. The
  * push system drops the 1/n:
  * {{{ x_v = tau + (85 * m_v) div 100,   m_v = Σ_{u→v} x_u div deg_u }}}
  * with `tau = 0.15·unit` per node (`unit` = 10⁹ fixed point). By
  * linearity the solution is exactly `n` times the normalized vector
  * (in exact arithmetic), so `r = x·1000 div n` recovers the familiar
  * 10⁻¹²-unit ranks; a graph change perturbs the system only where
  * the structure changed, which is what makes residual locality
  * possible at all.
  *
  * State per node: `(node, p, m, deg)` where `p` approximates `x`,
  * `deg` is the symmetric out-degree, and `m` is maintained EXACTLY
  * equal to `Σ_{u→v} p_u div deg_u` (the incremental invariant — a
  * structural change updates `m` only at the delta's neighborhood;
  * a push round updates it only at the active frontier's neighbors).
  * The residual `rho_v = tau + (85·m_v) div 100 − p_v` is then the
  * fixpoint defect, and the loop pushes until `max|rho| ≤ theta`.
  *
  * Each round is SYNCHRONIZED lazy Jacobi: every node with
  * `|rho| > theta` takes its exact Jacobi value simultaneously, and
  * the resulting contribution deltas propagate to out-neighbors'
  * `m`. Deterministic (integer arithmetic, commutative long sums, no
  * ordering dependence), so the whole trajectory — including the
  * round count — is replayable bit-for-bit by an oracle, the q270
  * discipline. All division operands are non-negative (`p ≥ 0`
  * because every assigned value is `tau + nonneg`; `m ≥ 0` because it
  * equals a sum of `p div deg` terms), so Spark's truncating `div`
  * and DuckDB's flooring `//` agree — the q239 portability rule.
  *
  * Tolerance: `theta = 1000·n` unnormalized units — the SAME
  * 10⁻⁶-of-total-mass criterion as the normalized loop's
  * `epsFp = 10⁶` (total mass here is `n·unit`), so push trajectories
  * terminate in the warm-round counts the q270/q283 family measures.
  * Error vs the exact fixpoint, stated honestly: at rest the
  * RESIDUAL is ≤ θ per node, and the distance to the true solution
  * is `(I−dM)⁻¹ρ`. Because `dM`'s column sums are ≤ d, the ℓ1 bound
  * is `‖ρ‖₁/(1−d) ≤ n·θ/0.15`; pointwise closeness can concentrate
  * under in-degree amplification (a hub collects its neighbors'
  * residuals), so the ℓ∞ guarantee is the ℓ1 bound — in normalized
  * 10⁻¹² units, `gap ≤ n·θ·(1000/n)/0.15 + fixpoint radius
  * = 6.67·10⁶·n + 5.67·10⁶` against an epsFp-stable Jacobi solve
  * (StandingRanksSpec pins exactly this; measured gaps sit ~3× under
  * it on the adversarial star fixture). The trade is deliberate:
  * per-node-exact tracking would force whole-graph rounds — the cost
  * the residual form exists to avoid; consumers needing bit-pinned
  * trajectories have q270/q283/q285's hash-matched forms.
  *
  * Scale headroom: `p ≤ ~0.85·n·unit`, so 64-bit arithmetic holds to
  * ~10¹⁰ nodes — past any 100 TB corpus; ANSI mode throws loudly at
  * the boundary rather than wrapping.
  *
  * Reference behavior target: anfergainst/binance-data-ingestor has
  * no graph layer; this operator exists for the standing-artifact
  * maintenance family (VERDICT round-13 task 1).
  */
object PushRanks {

  /** unnormalized fixed-point unit (10⁹; ranks convert to the
    * 10⁻¹²-unit normalized scale via `·1000 div n`). */
  val unit: Long = 1000000000L

  /** per-node teleport mass — n-independent, the locality enabler. */
  val tau: Long = 15L * unit / 100L

  /** `10⁻⁶ of total mass` push tolerance for an `n`-node graph. */
  def thetaFor(n: Long): Long = math.max(1L, 1000L * n)

  /** storage bucket of a node id — the partition key of the standing
    * symmetric edge table ([[graft.streaming.StandingRanks]]) and the
    * pruning grain of every push-round read. */
  def bucketOf(c: Column, nb: Int): Column = pmod(c, lit(nb.toLong))

  /** number of edge-storage buckets (fixed per artifact root). Env
    * `GRAFT_RANKS_BUCKETS` / sysprop `graft.ranks.buckets`. */
  def numBuckets: Int =
    math.max(1, sys.props.get("graft.ranks.buckets")
      .orElse(sys.env.get("GRAFT_RANKS_BUCKETS"))
      .map(_.toInt).getOrElse(64))

  private def rhoCol: Column =
    lit(tau) + expr("(85 * m) div 100") - col("p")

  /** a CONSISTENT cold seed over a symmetric edge list: `p = tau`
    * everywhere and `m` computed to match it (`m` must always equal
    * the true incoming-contribution sum of the current `p`, or the
    * residual is not the defect). One O(|E|) pass — the bootstrap
    * cost, paid once; absorbs maintain `m` incrementally. */
  def coldState(sym: DataFrame): DataFrame = {
    val deg = sym.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val m = sym.join(deg, "src")
      .groupBy(col("dst").as("node"))
      .agg(sum(expr(s"$tau div deg")).as("m"))
    deg.withColumnRenamed("src", "node")
      .join(m, Seq("node"), "left_outer")
      .select(col("node"), lit(tau).as("p"),
        coalesce(col("m"), lit(0L)).as("m"), col("deg"))
  }

  /** Run synchronized lazy-Jacobi push rounds until `max|rho| ≤
    * theta`. `edgesFor(buckets)` must return the CURRENT symmetric
    * out-edge rows `(src, dst)` whose source falls in the given
    * buckets — the standing loop passes a partition-pruned artifact
    * read (each round then opens only the active frontier's buckets,
    * the read-side delta bound `_READS` machine-checks), the batch
    * operator a plain filter. Rounds run on [[Fixpoint]], serially:
    * a round reads only the buckets its stat returned, so `_READS`
    * never sees a speculative read. */
  def pushLoop(state0: DataFrame,
      edgesFor: Seq[Long] => DataFrame, nb: Int, theta: Long,
      maxRounds: Int = 300): (DataFrame, Int) = {
    // FUSED rounds (round 14): the state is cut LAZILY — the next
    // round's frontier probe (the one driver job the loop already
    // pays for the stop test and the bucket list) materializes the
    // checkpoint, so a push round costs one job instead of an eager
    // materialization job plus the probe. Arithmetic unchanged.
    val st0 = Ckpt.cutStatsLazy(
      state0.select(col("node"), col("p"), col("m"), col("deg")))
    def active(st: DataFrame): DataFrame = st.filter(abs(rhoCol) > theta)
      .select(col("node"), col("p"), col("deg"),
        (lit(tau) + expr("(85 * m) div 100")).as("pn"))
    // ONE driver job per round yields both the stop test and the
    // active frontier's storage buckets (≤ nb rows — the bounded
    // driver step that buys the partition-pruned read)
    val (st, probes) = Fixpoint.run("push", castToImpl(st0.sparkSession),
        math.max(1, st0.rdd.getNumPartitions), maxRounds,
        overlap = false)(Seq.empty[Long], st0)(
        active(_).groupBy(bucketOf(col("node"), nb).as("b"))
          .agg(count(lit(1)).as("c")).collect().toSeq)(
      done = _.isEmpty,
      regime = (_, bcounts) => bcounts.map(_.getLong(0)).sorted,
      step = (st, bs) => {
        val act = active(st)
        val dm = edgesFor(bs)
          .join(act.withColumnRenamed("node", "src")
            .hint("shuffle_hash"), "src")
          .groupBy(col("dst").as("node"))
          .agg(sum(expr("(pn div deg) - (p div deg)")).as("dm"))
        Ckpt.cutStatsLazy(st
          .join(act.select(col("node"), col("pn")),
            Seq("node"), "left_outer")
          .join(dm, Seq("node"), "left_outer")
          .select(col("node"),
            coalesce(col("pn"), col("p")).as("p"),
            (col("m") + coalesce(col("dm"), lit(0L))).as("m"),
            col("deg")))
      },
      unconverged = bcounts => s"residual push did not settle in " +
        s"$maxRounds rounds (${bcounts.map(_.getLong(1)).sum} nodes " +
        s"above theta=$theta)")
    // the first probe tests the seed state: rounds counts pushes
    (st, probes - 1)
  }

  /** Structural absorb of FRESH symmetric edge rows (both directions
    * present, disjoint from standing): returns the post-delta state
    * with `m` and `deg` exactly consistent with (standing ∪ fresh)
    * and `p` carried forward (new nodes seed at `tau`). Reads only
    * the delta endpoints' buckets via `edgesFor`; the caller then
    * runs [[pushLoop]] to settle the residuals this creates. */
  def applyAdds(state0: DataFrame, freshSym: DataFrame,
      edgesFor: Seq[Long] => DataFrame, nb: Int): DataFrame = {
    val dDeg = freshSym.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("ddeg"))
    // delta endpoints with old+new degree and current p (tau for new)
    val touched = dDeg
      .join(state0, Seq("node"), "left_outer")
      .select(col("node"), coalesce(col("p"), lit(tau)).as("p"),
        coalesce(col("m"), lit(0L)).as("m"),
        coalesce(col("deg"), lit(0L)).as("deg0"),
        (coalesce(col("deg"), lit(0L)) + col("ddeg")).as("deg1"))
    val tCut = Ckpt.cut(touched, true)
    // the touched endpoints' buckets: one bounded driver step shared
    // by the standing-out-edge read below
    val bs = tCut.select(bucketOf(col("node"), nb).as("b"))
      .distinct().collect().map(_.getLong(0)).toSeq.sorted
    // (a) existing out-edges of re-degreed nodes: their contribution
    //     per edge moves from p div deg0 to p div deg1
    val dmOld = edgesFor(bs)
      .join(tCut.filter(col("deg0") > 0)
          .withColumnRenamed("node", "src").hint("shuffle_hash"), "src")
      .groupBy(col("dst").as("node"))
      .agg(sum(expr("(p div deg1) - (p div deg0)")).as("dm"))
    // (b) the fresh edges deliver their source's contribution at the
    //     NEW degree
    val dmNew = freshSym
      .join(tCut.withColumnRenamed("node", "src").hint("shuffle_hash"),
        "src")
      .groupBy(col("dst").as("node"))
      .agg(sum(expr("p div deg1")).as("dm"))
    val dm = dmOld.unionByName(dmNew)
      .groupBy(col("node")).agg(sum(col("dm")).as("dm"))
    state0
      .join(tCut.select(col("node"), col("deg1")), Seq("node"), "full_outer")
      .join(dm, Seq("node"), "left_outer")
      .select(col("node"),
        coalesce(col("p"), lit(tau)).as("p"),
        (coalesce(col("m"), lit(0L)) + coalesce(col("dm"), lit(0L)))
          .as("m"),
        coalesce(col("deg1"), col("deg")).as("deg"))
  }

  /** Structural retraction of a node set: every incident edge leaves
    * with the nodes. Returns the post-delta state (deleted nodes and
    * newly isolated survivors dropped; survivors' `m`/`deg` exactly
    * consistent with the surviving graph) — reads only the deleted
    * nodes' buckets plus their neighbors'. The caller rewrites those
    * buckets' storage and runs [[pushLoop]]. */
  def applyDels(state0: DataFrame, dels: DataFrame,
      edgesFor: Seq[Long] => DataFrame, nb: Int): DataFrame = {
    val x = Ckpt.cut(dels.select(col("node")).distinct(), true)
    val bsX = x.select(bucketOf(col("node"), nb).as("b"))
      .distinct().collect().map(_.getLong(0)).toSeq.sorted
    // out-rows of deleted nodes: (x → w) — every in/out edge of x has
    // a row here (symmetric storage), so this IS x's full incidence
    val rowsX = Ckpt.cut(edgesFor(bsX)
      .join(x.withColumnRenamed("node", "src"), Seq("src"), "left_semi"),
      true)
    // surviving neighbors' m loses the deleted sources' contributions
    val mDec = rowsX
      .join(x.withColumnRenamed("node", "dst"), Seq("dst"), "left_anti")
      .join(state0.select(col("node").as("src"), col("p"), col("deg"))
        .hint("shuffle_hash"), "src")
      .groupBy(col("dst").as("node"))
      .agg(sum(expr("p div deg")).as("mdec"))
    // surviving neighbors' degree loses one per removed mirror row
    // (w → x); their OTHER out-edges' contributions then re-truncate
    // at the new degree
    val w = rowsX.select(col("dst").as("node"))
      .join(x, Seq("node"), "left_anti")
      .groupBy(col("node")).agg(count(lit(1)).as("ddec"))
    val touched = Ckpt.cut(w
      .join(state0, Seq("node"))
      .select(col("node"), col("p"), (col("deg") - col("ddec"))
        .as("deg1"), col("deg").as("deg0")), true)
    val bsW = touched.select(bucketOf(col("node"), nb).as("b"))
      .distinct().collect().map(_.getLong(0)).toSeq.sorted
    val dmW = edgesFor(bsW)
      .join(touched.filter(col("deg1") > 0)
        .withColumnRenamed("node", "src").hint("shuffle_hash"), "src")
      .join(x.withColumnRenamed("node", "dst"), Seq("dst"), "left_anti")
      .groupBy(col("dst").as("node"))
      .agg(sum(expr("(p div deg1) - (p div deg0)")).as("dm"))
    state0
      .join(x, Seq("node"), "left_anti")
      .join(touched.select(col("node"), col("deg1")), Seq("node"),
        "left_outer")
      .join(mDec, Seq("node"), "left_outer")
      .join(dmW, Seq("node"), "left_outer")
      .select(col("node"), col("p"),
        (col("m") - coalesce(col("mdec"), lit(0L)) +
          coalesce(col("dm"), lit(0L))).as("m"),
        coalesce(col("deg1"), col("deg")).as("deg"))
      .filter(col("deg") > 0)
  }

  /** normalized 10⁻¹²-unit view of a push state: `r = p·1000 div n`,
    * computed overflow-safe as `(p div n)·1000 + ((p mod n)·1000)
    * div n` (exact for non-negative operands). */
  def normalized(state: DataFrame, n: Long): DataFrame =
    state.select(col("node"),
      (expr(s"(p div $n) * 1000") +
        expr(s"((p % $n) * 1000) div $n")).as("r"))
}
