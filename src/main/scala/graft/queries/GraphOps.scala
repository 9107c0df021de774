package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.functions._
import Q._

/** Graph-structure analytics over the part co-purchase graph (parts
  * appearing in the same order), joining q80's connected components
  * and q120's PageRank in the graph family: triangle counting /
  * clustering coefficients (community density, spam-farm detection in
  * web-corpus curation) and k-core decomposition (the standard dense-
  * subgraph peel used to find boilerplate/link-farm cores).
  *
  * Scale shape: the basket self-join is bounded by order size (≤7
  * items in TPC-H-shaped data — the analogue of q35's df cap for
  * unbounded baskets), the triangle join is DEGREE-ORDERED (each
  * edge directed from its lower-(degree, id) endpoint, the classic
  * MapReduce trick that bounds wedge cost by Σ min-degree instead of
  * Σ degree² — a hub of degree 10⁶ generates zero wedges instead of
  * 10¹²), and k-core peels with one degree hash-agg + one semi join
  * per round over a once-checkpointed edge list. All counts are
  * integers; the one float (clustering coefficient) is a single
  * division on identical operands in both engines.
  */
object GraphOps {

  /** distinct (order, part) basket items — the root table of the
    * whole family: feeds the co-purchase edge build AND q155's
    * basket-lift support counts, so the lineitem scan + distinct
    * runs once per session. */
  private[queries] def basketItems(s: SparkSession, dir: String): DataFrame =
    Memo(s, dir, "basket_items", Seq("lineitem")) {
      t(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
        .localCheckpoint(false)
    }

  /** canonical undirected co-purchase edges (u < v), distinct,
    * checkpointed once — reused by degrees, orientation, closure
    * check, and every peel round. */
  private[queries] def coPurchaseEdges(s: SparkSession, dir: String): DataFrame =
    Memo(s, dir, "co_purchase_edges", Seq("lineitem")) {
      val li = basketItems(s, dir)
      li.as("a").join(li.as("b"),
          col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
        .select(col("a.pk").as("u"), col("b.pk").as("v"))
        .distinct()
        .localCheckpoint(false)
    }

  private val edgeSql =
    """li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |e AS (
      |  SELECT DISTINCT a.pk AS u, b.pk AS v
      |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk)""".stripMargin

  /** symmetric (both-direction) edge view + per-node degrees. */
  private def degrees(edges: DataFrame): DataFrame =
    edges.select(col("u").as("node"))
      .unionAll(edges.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))

  /** per-node degrees of the canonical co-purchase graph, memoized —
    * triangles reads them twice (orientation + the final clustering
    * join), and the table is |V|-sized. */
  private[queries] def coPurchaseDegrees(s: SparkSession, dir: String): DataFrame =
    Memo(s, dir, "co_purchase_degrees", Seq("lineitem")) {
      degrees(coPurchaseEdges(s, dir)).localCheckpoint(false)
    }

  /** degree-oriented edge list (src = lower-(deg, id) endpoint) and
    * its sorted out-neighbor adjacency arrays, memoized: the
    * orientation join + sort/collect is the expensive build of the
    * triangle family, and at 100 TB it is the persisted adjacency a
    * production graph pipeline materializes anyway. */
  private[queries] def orientedAdjacency(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) =
    Memo(s, dir, "oriented_adjacency", Seq("lineitem")) {
      val deg = coPurchaseDegrees(s, dir)
      // Compact-id regime: once the adjacency outgrows AQE's
      // broadcast threshold, the triangle join's cost IS the bytes
      // of neighbor arrays it shuffles (measured at sf1: the
      // broadcast→shuffle-hash regime switch, ~6 GB of array rows,
      // dominates the query). When every node id fits in 32 bits —
      // decided HERE, from a 1-row max over the |V|-sized memoized
      // degree table, so the choice is per-dataset and loud, not a
      // silent truncation — src/dst/neighbor ids are stored as int,
      // halving both the shuffled bytes and the merge-scan traffic
      // (sorted_common has a matching int fast path). Beyond 2^31
      // ids the long layout is kept unchanged.
      val fitsInt = deg.agg(max(col("node"))).head().getLong(0) <
        Int.MaxValue.toLong
      val narrow = (c: Column) => if (fitsInt) c.cast("int") else c
      val withDeg = coPurchaseEdges(s, dir)
        .join(deg.select(col("node").as("u"), col("deg").as("du")), "u")
        .join(deg.select(col("node").as("v"), col("deg").as("dv")), "v")
      // NOT checkpointed: the oriented edge list's only consumer is
      // the adjacency groupBy one line down (every catalog query
      // reads the ADJACENCY), so materializing it would be a dead
      // |E|-sized write on the cold path.
      val oriented = withDeg.select(
        when(col("du") < col("dv") ||
            (col("du") === col("dv") && col("u") < col("v")),
          struct(narrow(col("u")).as("src"), narrow(col("v")).as("dst")))
          .otherwise(
            struct(narrow(col("v")).as("src"), narrow(col("u")).as("dst")))
          .as("e"))
        .select(col("e.src"), col("e.dst"))
      val adj = oriented.groupBy(col("src"))
        .agg(sort_array(collect_list(col("dst"))).as("nb"))
        .localCheckpoint(false)
      (oriented, adj)
    }

  /** Top-100 nodes by triangle participation, with degree and local
    * clustering coefficient. Each triangle {a,b,c} is found exactly
    * once: edges are oriented low→high by (degree, id), and a
    * triangle appears only at its lowest-ranked EDGE (u→v), as a
    * common out-neighbor w of u and v.
    *
    * Strategy: per-node oriented ADJACENCY ARRAYS + per-edge sorted
    * intersection, not the wedge self-join — the wedge form
    * materializes Σ C(outdeg, 2) rows (≈36M here: the graph is dense,
    * avg degree ~120) through a shuffle before the closure check,
    * while this form explodes the adjacency table into (edge, nbu)
    * rows map-side and attaches nb(dst) with a single hash equi-join
    * (see the body comment), intersecting in place. Degree
    * orientation still does the heavy lifting: arrays hold
    * OUT-neighbors only, so a hub's array is bounded by ~√(2|E|),
    * not its full degree — the same skew cap that makes the wedge
    * form viable, here bounding row width instead of row count. */
  def triangles(s: SparkSession, dir: String): DataFrame = {
    val (_, adj) = orientedAdjacency(s, dir)
    triangleRollup(s, dir, adj)
  }

  /** q123's 100-TB-practical sibling: triangle counting on the
    * DEGREE-CAPPED oriented adjacency — each node keeps only its
    * `dMax` smallest-id oriented neighbors, so per-node wedge work
    * is bounded by dMax² regardless of hub size (exact counting is
    * data-proportional: the round-9 sf10 probe measured q123 at
    * 148× for 100× data, all adjacency bytes). The capped count is
    * a DETERMINISTIC UNDER-count with a monotone contract — capped
    * counts never exceed exact, never decrease as dMax grows, and
    * EQUAL exact once dMax ≥ the max oriented out-degree (the
    * orientation already bounds out-degrees near √(2|E|), so modest
    * caps are exact on all but hub-dense graphs) — pinned by
    * CappedTriangleSpec on the real co-purchase graph. */
  def trianglesCapped(s: SparkSession, dir: String, dMax: Int): DataFrame = {
    val (_, adj0) = orientedAdjacency(s, dir)
    // nb is sorted ascending, so slice(1, dMax) = the dMax smallest
    // neighbor ids — the same deterministic rule the oracle applies
    triangleRollup(s, dir,
      adj0.select(col("src"), slice(col("nb"), 1, dMax).as("nb")))
  }

  /** Doulion-style edge-sampled triangle TOTAL estimate — the third
    * rung of the exact (q123) / degree-capped (q261) / SAMPLED
    * ladder: keep each edge with probability p, count triangles in
    * the sampled subgraph, scale by 1/p³ (each surviving triangle
    * needed all three edges kept). Unlike q261's deterministic
    * under-count, the estimator is UNBIASED — E[est] = T exactly —
    * with variance that vanishes as p³·T grows, so on any graph big
    * enough to need sampling the estimate is tight
    * (SampledTriangleSpec pins the error envelope on real data and
    * exactness at p = 100%).
    *
    * The coin is md5(u:v) — deterministic, reproducible, and
    * re-derivable in SQL, so the whole estimator hash-matches the
    * oracle instead of settling for a rows-only check. Work shrinks
    * by p on edges and ~p³ on the triangle join's output; the
    * sampled subgraph is re-oriented by its OWN degrees (the
    * estimator is self-contained — at 100 TB it runs where exact
    * counting can't, so it cannot assume the full graph's adjacency
    * exists). est = tri · 100³ DIV p³ in integers: both engines
    * truncate identically, and for p ∈ {25, 50} the factor is exact. */
  def trianglesSampled(s: SparkSession, dir: String, pPct: Int): DataFrame = {
    val e = coPurchaseEdges(s, dir)
    val keep = edgeCoin < pPct
    val sampled = e.filter(keep).localCheckpoint(false)
    val deg = sampled.select(col("u").as("node"))
      .unionAll(sampled.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val withDeg = sampled
      .join(deg.select(col("node").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), "v")
    val o = withDeg.select(
        when(col("du") < col("dv") ||
            (col("du") === col("dv") && col("u") < col("v")),
          struct(col("u").as("src"), col("v").as("dst")))
          .otherwise(struct(col("v").as("src"), col("u").as("dst")))
          .as("e"))
      .select(col("e.src"), col("e.dst"))
    // same adjacency-intersect shape as exact q123, NOT the wedge
    // 3-way edge join: the wedge form materializes Σ C(outdeg, 2)
    // rows through a shuffle and measured 691 s at sf10 — 2.6×
    // SLOWER than exact counting, inverting the estimator's whole
    // point. Here each oriented edge's triangle closure is one
    // merge-scan |nb(src) ∩ nb(dst)| (codegen'd sorted_overlap), so
    // the only movement is the adjacency explode + one equi-join —
    // p on edges, and the per-edge intersect cost bounded by the
    // sampled graph's oriented out-degrees.
    graft.functions.SortedOverlapCount.register(s)
    val adj = o.groupBy(col("src"))
      .agg(sort_array(collect_list(col("dst"))).as("nb"))
      .localCheckpoint(false)
    val tri = adj
      .select(col("src").as("a"), col("nb").as("na"),
        explode(col("nb")).as("b"))
      .join(adj.hint("shuffle_hash")
          .select(col("src").as("b"), col("nb").as("nbv")),
        Seq("b"))
      .select(expr("sorted_overlap(na, nbv)").cast("long").as("c"))
      .agg(coalesce(sum(col("c")), lit(0L)).as("tri_sampled"))
    sampled.agg(count(lit(1)).as("n_edges_sampled"))
      .crossJoin(tri)  // 1-row × 1-row
      .select(lit(pPct.toLong).as("p_pct"), col("n_edges_sampled"),
        col("tri_sampled"),
        expr(s"tri_sampled * 1000000 DIV ${pPct.toLong * pPct * pPct}")
          .as("est_triangles"))
  }

  private def triangleRollup(s: SparkSession, dir: String,
      adj: DataFrame): DataFrame = {
    graft.functions.SortedIntersect.register(s)
    val deg = coPurchaseDegrees(s, dir)
    // The oriented edge list IS the adjacency table exploded —
    // deriving (a, b, nbu) by map-side explode makes the first
    // array-attach join disappear (src co-location is free), so the
    // only data movement left is ONE equi-join attaching nb(b) by
    // dst. That join is hinted SHUFFLE_HASH: its streamed side
    // carries nbu (Σ outdeg² ≈ wedge-count longs — the row width the
    // degree orientation exists to bound), and sort-merge would SORT
    // those wide rows; hashing the |V|-sized adjacency build side
    // skips the sort. The round-6 sf1 probe measured the difference:
    // the double-SMJ form went 16× warm time for 10× data once the
    // adjacency outgrew AQE's broadcast threshold; this form is ~1 s
    // at sf0.1 and linear to sf1. AQE still broadcasts the build
    // side when it fits.
    val tri = adj
      .select(col("src").as("a"), col("nb").as("nbu"),
        explode(col("nb")).as("b"))
      .join(adj.hint("shuffle_hash")
          .select(col("src").as("b"), col("nb").as("nbv")),
        Seq("b"))
      .select(col("a"), col("b"),
        // native merge-scan intersection (sorted_common): Spark's
        // array_intersect builds a boxed hash set per row — it was
        // the dominant cost of the whole query (12.5 s vs 2 s).
        // Computed in its OWN projection, then exploded by column
        // reference: inlining it into the explode would place the
        // expression inside GenerateExec, which evaluates its
        // generator interpreted (outside whole-stage codegen) —
        // PlanAuditSpec pins the codegen placement.
        expr("sorted_common(nbu, nbv)").as("common"))
      .select(col("a"), col("b"), explode(col("common")).as("c"))
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("triangles"))
      // widen back out of the compact-int regime BEFORE the degree
      // join — the agg output is |V|-bounded, so the cast is free
      .withColumn("node", col("node").cast("long"))
      .join(deg, "node")
      .select(col("node"), col("deg").as("degree"), col("triangles"),
        ((col("triangles") * 2).cast("double") /
          (col("deg") * (col("deg") - 1))).as("clustering"))
      .orderBy(col("triangles").desc, col("node")).limit(100)
  }

  // ------------------------------------------------------------------
  // Incremental triangle maintenance (q272) — the triangle-family
  // member of the standing-pipeline story (CC: q263, PageRank: q270).

  /** per-node triangle counts over an arbitrary canonical (u < v)
    * undirected edge list — the from-scratch counterpart the
    * incremental path maintains. Self-contained (orients by the edge
    * set's OWN degrees, like [[trianglesSampled]]) and deliberately
    * checkpoint-free: the plan stays a pure tree so it can serve as
    * a SideTables BUILDER (the mechanical cache key reads the
    * derivation off the plan). Callers register sorted_common. */
  private[graft] def triCorners(edges: DataFrame): DataFrame = {
    val deg = degrees(edges)
    val withDeg = edges
      .join(deg.select(col("node").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), "v")
    val o = withDeg.select(
      when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")),
        struct(col("u").as("src"), col("v").as("dst")))
        .otherwise(struct(col("v").as("src"), col("u").as("dst")))
        .as("e"))
      .select(col("e.src"), col("e.dst"))
    val adj = o.groupBy(col("src"))
      .agg(sort_array(collect_list(col("dst"))).as("nb"))
    adj
      .select(col("src").as("a"), col("nb").as("nbu"),
        explode(col("nb")).as("b"))
      .join(adj.hint("shuffle_hash")
          .select(col("src").as("b"), col("nb").as("nbv")),
        Seq("b"))
      .select(col("a"), col("b"),
        expr("sorted_common(nbu, nbv)").as("common"))
      .select(col("a"), col("b"), explode(col("common")).as("c"))
      .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("tri"))
  }

  /** builder-transparent basket plan (no memoized-checkpoint leaves,
    * unlike [[basketItems]]) — SideTables keys the standing triangle
    * artifacts off this derivation. */
  private def basketItemsPlan(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()

  /** canonical (u < v) distinct co-purchase edges of a basket slice. */
  private def coEdgesOf(items: DataFrame): DataFrame =
    items.as("a").join(items.as("b"),
        col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .select(col("a.pk").as("u"), col("b.pk").as("v"))
      .distinct()

  /** Incremental triangle-count maintenance — merge an arriving
    * ORDER shard into standing per-node triangle counts without
    * recounting the base graph. The arrival unit of a transactional
    * co-purchase graph is a basket ([[Q.hashBucket]] on the order
    * key: < 80 standing, ≥ 80 arriving); the standing artifacts a
    * production pipeline persists are the symmetric base adjacency
    * (`tri_adj_base`) and the per-node base triangle counts
    * (`tri_counts_base`), both published via SideTables.
    *
    * The merge decomposes every NEW triangle by how many of its
    * three edges the shard contributed — disjoint and exhaustive, so
    * each is counted exactly once:
    *  - 1 delta edge (u,v): its base-common neighborhood
    *    |Nb(u) ∩ Nb(v)| (one probe of the standing adjacency per
    *    delta edge, merge-scanned by sorted_common);
    *  - 2 delta edges: they necessarily share an apex, so the pair
    *    is a wedge of the shard's own adjacency, closed by a base
    *    edge (one array-membership probe of the standing adjacency
    *    per shard wedge);
    *  - 3 delta edges: a from-scratch count of the shard-only graph
    *    ([[triCorners]] on the delta edge set).
    * Delta edges themselves are the shard's co-purchase edges minus
    * edges the standing graph already has (membership-checked
    * against the adjacency artifact, then materialized as
    * `tri_delta_edges` — the per-shard table the two count legs and
    * the within-shard count read). Per-shard cost is |shard| scans
    * and |delta|-bounded probes of standing artifacts — base
    * lineitem is NEVER re-read by the merge (the merged builder's
    * only leaves are the three artifact parquets).
    *
    * The published `tri_counts_merged` equals a from-scratch count
    * over base ∪ delta per node — q272's oracle recounts exactly
    * that in SQL, so the hash match IS the merged==rebuilt proof
    * (IncrementalIndexSpec additionally pins equality against the
    * engine's own [[triCorners]] on the full edge set). */
  /** symmetric sorted-array adjacency of a canonical (u < v) edge
    * list — the standing artifact shape both incremental triangle
    * paths (absorb q272, retract q275) probe. Plan-pure so it can
    * serve inside SideTables builders. */
  private[graft] def symAdjOf(edges: DataFrame): DataFrame =
    edges.select(col("u").as("node"), col("v").as("nb0"))
      .unionAll(edges.select(col("v").as("node"), col("u").as("nb0")))
      .groupBy(col("node"))
      .agg(sort_array(collect_list(col("nb0"))).as("nb"))

  /** THE 1/2/3-delta-edge triangle decomposition, shared by absorb
    * (q272: base = standing graph, delta = arriving shard, counts
    * triangles GAINED) and retract (q275: base = retained graph,
    * delta = forgotten edges, counts triangles LOST). `adj` is the
    * symmetric sorted adjacency of the base side, `delta` the
    * canonical (u < v) delta edge set, disjoint from base. Triangles
    * of base ∪ delta touching ≥ 1 delta edge, per corner node:
    *  - 1 delta edge (u,v): base-common neighborhood
    *    |Nb(u) ∩ Nb(v)| (one sorted_common probe per delta edge);
    *  - 2 delta edges: a shard wedge closed by a base edge (one
    *    array-membership probe per wedge);
    *  - 3 delta edges: [[triCorners]] on the delta set alone.
    * Disjoint and exhaustive, so each triangle is counted exactly
    * once — which is why the same function proves both
    * merged == rebuilt (q272) and retracted == rebuilt (q275). */
  private[graft] def deltaTriCorners(adj: DataFrame, delta: DataFrame,
      alias: String): DataFrame = {
    val leg1 = delta
      .join(adj.select(col("node").as("u"), col("nb").as("nbu")),
        Seq("u"), "left")
      .join(adj.select(col("node").as("v"), col("nb").as("nbv")),
        Seq("v"), "left")
      .select(col("u"), col("v"),
        expr("""sorted_common(
          coalesce(nbu, CAST(array() AS ARRAY<BIGINT>)),
          coalesce(nbv, CAST(array() AS ARRAY<BIGINT>)))""")
          .as("common"))
      .select(col("u"), col("v"), explode(col("common")).as("w"))
      .select(explode(array(col("u"), col("v"), col("w"))).as("node"))
    val dSym = delta.select(col("u").as("node"), col("v").as("x"))
      .unionAll(delta.select(col("v").as("node"), col("u").as("x")))
    val leg2 = dSym.as("p").join(dSym.as("q"),
        col("p.node") === col("q.node") && col("p.x") < col("q.x"))
      .select(col("p.node").as("apex"), col("p.x").as("wv"),
        col("q.x").as("ww"))
      .join(adj.select(col("node").as("wv"), col("nb")), "wv")
      .filter(array_contains(col("nb"), col("ww")))
      .select(explode(array(col("apex"), col("wv"), col("ww")))
        .as("node"))
    leg1.unionAll(leg2)
      .groupBy(col("node")).agg(count(lit(1)).as("tri"))
      .unionByName(triCorners(delta))
      .groupBy(col("node")).agg(sum(col("tri")).as(alias))
  }

  private[queries] def trianglesIncremental(s: SparkSession,
      dir: String): DataFrame = {
    graft.functions.SortedIntersect.register(s)
    val baseAdj = SideTables.getOrBuild(s, dir, "tri_adj_base",
      Seq("lineitem")) {
      symAdjOf(coEdgesOf(
        basketItemsPlan(s, dir).filter(hashBucket(col("ok")) < 80)))
    }
    val baseTri = SideTables.getOrBuild(s, dir, "tri_counts_base",
      Seq("lineitem")) {
      triCorners(coEdgesOf(
        basketItemsPlan(s, dir).filter(hashBucket(col("ok")) < 80)))
    }
    val delta = SideTables.getOrBuild(s, dir, "tri_delta_edges",
      Seq("lineitem")) {
      // shard co-purchase edges the standing graph doesn't have:
      // membership via one left join + array probe of the adjacency
      // artifact (no |2E| edge-list explode)
      coEdgesOf(basketItemsPlan(s, dir)
          .filter(hashBucket(col("ok")) >= 80))
        .join(baseAdj.select(col("node").as("u"), col("nb")),
          Seq("u"), "left")
        .filter(col("nb").isNull || !array_contains(col("nb"), col("v")))
        .select(col("u"), col("v"))
    }
    val merged = SideTables.getOrBuild(s, dir, "tri_counts_merged",
      Seq("lineitem")) {
      val incr = deltaTriCorners(baseAdj, delta, "tri_added")
      baseTri.withColumnRenamed("tri", "tri_base")
        .join(incr, Seq("node"), "full_outer")
        .select(col("node"),
          coalesce(col("tri_base"), lit(0L)).as("tri_base"),
          coalesce(col("tri_added"), lit(0L)).as("tri_added"),
          (coalesce(col("tri_base"), lit(0L)) +
            coalesce(col("tri_added"), lit(0L))).as("tri_merged"))
    }
    merged.orderBy(col("tri_merged").desc, col("node")).limit(100)
  }

  /** deterministic per-EDGE retraction coin — [[Q.hashBucket]] over
    * the canonical "u:v" pair (the ONE bucketing law; hashBucket's
    * string cast is a no-op on the concat), the same formula
    * [[trianglesSampled]] samples with (and its oracle repeats in
    * SQL), so both engines forget the identical edge set. ≥ `pct` is
    * the forgotten slice. */
  private def edgeCoin: Column =
    hashBucket(concat_ws(":", col("u"), col("v")))

  /** Triangle-count maintenance under EDGE RETRACTION — the forget
    * half of q272's absorb: standing per-node counts over the full
    * graph minus the triangles lost when an edge set is deleted
    * (a GDPR purge, an upstream retraction feed, an expiring epoch),
    * WITHOUT recounting the surviving graph. Runs [[deltaTriCorners]]
    * in reverse: full = retained ∪ deleted, so the triangles touching
    * ≥ 1 deleted edge — counted against the RETAINED adjacency — are
    * exactly the per-node decrement, and
    * retained = standing − decrement is bit-equal to a from-scratch
    * count over the surviving edges (q275's oracle recounts exactly
    * that in SQL; RetractionSpec pins it against the engine's own
    * [[triCorners]]).
    *
    * The retained adjacency is itself maintained, not rebuilt: only
    * nodes incident to a deleted edge have their (sorted) neighbor
    * arrays trimmed — an array_except over |touched nodes| rows; all
    * other adjacency rows pass through untouched. Per-retraction cost
    * is |deleted|-bounded probes + the touched-row trim; full
    * lineitem is never re-read once the standing artifacts exist.
    * At 100 TB the deleted set is a shard-sized feed and the standing
    * artifacts are the same parquet the absorb path maintains. */
  private[queries] def trianglesRetract(s: SparkSession,
      dir: String): DataFrame = {
    graft.functions.SortedIntersect.register(s)
    val fullAdj = SideTables.getOrBuild(s, dir, "tri_adj_full",
      Seq("lineitem")) {
      symAdjOf(coEdgesOf(basketItemsPlan(s, dir)))
    }
    val fullTri = SideTables.getOrBuild(s, dir, "tri_counts_full",
      Seq("lineitem")) {
      triCorners(coEdgesOf(basketItemsPlan(s, dir)))
    }
    val retracted = SideTables.getOrBuild(s, dir,
      "tri_counts_retracted", Seq("lineitem")) {
      // the deleted slice is enumerated from the STANDING adjacency,
      // not a fresh co-edge self-join: exploding nb with node < nb
      // reproduces coEdgesOf's canonical distinct (u < v) edge set
      // exactly (symAdjOf built nb from it), so this builder's only
      // leaves are the two standing artifacts — the "full lineitem is
      // never re-read" contract the scaladoc states, now true of the
      // plan (and enforced by the logic key, which embeds the
      // artifact paths instead of the corpus derivation)
      val del = fullAdj
        .select(col("node").as("u"), explode(col("nb")).as("v"))
        .filter(col("u") < col("v"))
        .filter(edgeCoin >= 90)
      // trim deleted neighbors out of the touched adjacency rows only
      // (array_except keeps first-array order, so sortedness — which
      // sorted_common relies on — survives the trim)
      val delNb = del.select(col("u").as("node"), col("v").as("x"))
        .unionAll(del.select(col("v").as("node"), col("u").as("x")))
        .groupBy(col("node"))
        .agg(sort_array(collect_list(col("x"))).as("dnb"))
      val retAdj = fullAdj.join(delNb, Seq("node"), "left")
        .select(col("node"),
          when(col("dnb").isNull, col("nb"))
            .otherwise(array_except(col("nb"), col("dnb"))).as("nb"))
      val lost = deltaTriCorners(retAdj, del, "tri_removed")
      fullTri.withColumnRenamed("tri", "tri_full")
        .join(lost, Seq("node"), "left")
        .select(col("node"), col("tri_full"),
          coalesce(col("tri_removed"), lit(0L)).as("tri_removed"),
          (col("tri_full") - coalesce(col("tri_removed"), lit(0L)))
            .as("tri_retained"))
    }
    retracted.orderBy(col("tri_retained").desc, col("node")).limit(100)
  }

  /** one k-core peel round: recompute degrees on the surviving
    * subgraph, drop nodes below k, keep edges with both endpoints
    * alive. The semi joins are ordered v-then-u so the round's OUTPUT
    * is u-partitioned under either physical choice: broadcast joins
    * pass the partitioning through, and if the alive set ever
    * outgrows broadcast, the last (u-keyed) shuffle semi join
    * re-establishes it. */
  private def kcorePeelRound(sym: DataFrame, k: Int): DataFrame = {
    val alive = sym.groupBy(col("u").as("node"))
      .agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= k)
      .select(col("node"))
    sym
      .join(alive.select(col("node").as("v")), Seq("v"), "left_semi")
      .join(alive.select(col("node").as("u")), Seq("u"), "left_semi")
      .select(col("u"), col("v"))
  }

  /** hash-partition the symmetric edge list by u once and cut. NOT
    * [[Ckpt.cutPartitioned]], deliberately: the peel rounds consume
    * sym through a partial-aggregable groupBy(u) (map-side combine
    * shrinks the exchange to |V|-ish rows) and broadcast semi joins,
    * so pinning the layout saves almost nothing while fixing every
    * round at `shuffle.partitions` tasks — measured 1.7× slower at
    * sf0.1 AND sf1 when pinned (round 11). Layout pinning pays only
    * where a per-round JOIN would otherwise exchange the full edge
    * list (prRound / connectedComponents / LPA fallback). */
  private def symByU(sym0: DataFrame): DataFrame =
    sym0.repartition(col("u")).localCheckpoint(false)

  /** `rounds` unrolled k-core peel passes over a symmetric edge
    * list — the shared core of q124's 3-round oracle shadow and the
    * fixpoint specs. Each round's survivor subgraph feeds the next
    * round twice (degree agg + both semi joins): cut per round,
    * like q80. */
  private[graft] def kcorePeelEdges(sym0: DataFrame, k: Int,
      rounds: Int): DataFrame = {
    var sym = symByU(sym0)
    for (_ <- 1 to rounds)
      sym = kcorePeelRound(sym, k).localCheckpoint(false)
    sym
  }

  /** Run-to-FIXPOINT k-core over a symmetric edge list: peel until a
    * whole round drops no node (the true k-core, which the 3-round
    * q124 shadow only approximates on deep peel sequences), with
    * [[PipelineOps.connectedComponents]]'s loop discipline — eager
    * localCheckpoint per round so plans stay constant-size, and the
    * convergence test (surviving-edge count unchanged) rides the same
    * materialization the next round needs anyway. Returns (surviving
    * symmetric edges, rounds run). Fails LOUDLY on non-convergence:
    * each non-final round strictly shrinks the node set, so maxIters
    * bounds the peel DEPTH, not wall-clock guesswork. */
  private[graft] def kcoreFixpointEdges(sym0: DataFrame, k: Int,
      maxIters: Int = 50): (DataFrame, Int) = {
    // plain cut, NOT cutPartitioned: the peel rounds consume sym
    // through a partial-aggregable groupBy(u) + broadcast semi joins
    // (see symByU — pinning this shape measured 1.7x slower)
    var sym = Ckpt.cut(sym0.repartition(col("u")), true)
    var nEdges = sym.count()
    var rounds = 0
    var converged = nEdges == 0L
    // fused round (round 14): the surviving-edge count IS the
    // materializing action of the lazily-cut round output — one job
    // per round instead of an eager cut plus a count.
    while (!converged && rounds < maxIters) {
      val next = Ckpt.cut(kcorePeelRound(sym, k), false)
      val m = next.count()
      converged = m == nEdges || m == 0L
      sym = next; nEdges = m; rounds += 1
    }
    require(converged,
      s"k-core did not converge in $maxIters peel rounds")
    (sym, rounds)
  }

  /** 3 unrolled k-core peel rounds at threshold `k`: output =
    * surviving nodes with their residual degree. Unrolled (not
    * while-converged) so the oracle SQL is plain CTEs; the TRUE
    * fixpoint form behind the same signature is [[kcoreConverged]]. */
  def kcore(s: SparkSession, dir: String, k: Int): DataFrame =
    residualDegrees(kcorePeelEdges(symCoPurchase(s, dir), k, 3))

  /** DELTA-based k-core fixpoint — the 100 TB form of
    * [[kcoreFixpointEdges]], found the hard way: at the sf10 probe,
    * edge-peeling re-materialized the 240M-row symmetric edge list
    * EVERY round (three live block-store copies, 1046 s / heap
    * pressure on one 32 GB JVM). Peeling only ever REMOVES nodes, so
    * the state that needs to iterate is the |V|-row degree table:
    * each round drops the nodes below k and subtracts, from the
    * survivors, their edge count INTO the newly-dropped set — one
    * scan of the (never-rewritten) edge view with the newly-dropped
    * set on the build side (AQE broadcasts it when small, which is
    * every round past the first on real graphs), then a |V|-row
    * checkpoint. Per-round cost: one |E| scan + O(|V|) state — no
    * |E|-sized write, ever. The trajectory is identical to edge
    * peeling (same synchronous node removals), so the surviving
    * (node, deg) table IS the residual-degree answer — pinned
    * against [[kcoreFixpointEdges]] in ConvergenceSpec. */
  private[graft] def kcoreFixpointDegrees(sym: DataFrame, k: Int,
      maxIters: Int = 50): (DataFrame, Int) = {
    // FUSED rounds (round 14): the below-k count rides the one
    // aggregation job that materializes each round's lazily-cut
    // degree table, and `newly` is a plain filter over that
    // materialized leaf (re-reading checkpoint blocks is cheaper than
    // the eager cut + count jobs it replaces) — one job per round
    // instead of three. The exact |newly| from the stat also gates
    // the build-side broadcast DETERMINISTICALLY (the old shape left
    // it to AQE's runtime estimate); past the gate the join falls
    // back to the shuffled path.
    def belowK(d: DataFrame): Long = d
      .agg(coalesce(sum(when(col("deg") < k, 1L).otherwise(0L)),
        lit(0L))).head().getLong(0)
    val deg = Ckpt.cutStatsLazy(sym.groupBy(col("u").as("node"))
      .agg(count(lit(1)).as("deg")))
    val below = belowK(deg)
    // the regime is the build-side broadcast gate on the exact count
    val bcast = (n: Long) => n <= lpaBroadcastMaxRows
    def roundPlan(d: DataFrame, bc: Boolean): DataFrame = {
      val newly0 = d.filter(col("deg") < k).select(col("node"))
      val newly = if (bc) broadcast(newly0) else newly0
      val delta = sym
        .join(newly.withColumnRenamed("node", "v"), "v")
        .groupBy(col("u").as("node")).agg(count(lit(1)).as("d"))
      Ckpt.cutStatsLazy(d
        .join(newly.withColumnRenamed("node", "dead"),
          col("node") === col("dead"), "left_anti")
        .join(delta, Seq("node"), "left")
        .select(col("node"),
          (col("deg") - coalesce(col("d"), lit(0L))).as("deg")))
    }
    if (below == 0L) (deg, 0)
    else Fixpoint.run("kcore", castToImpl(sym.sparkSession),
        sym.rdd.getNumPartitions, maxIters, overlap = true)(
        bcast(below), roundPlan(deg, bcast(below)))(belowK)(
      done = _ == 0L,
      regime = (_, n) => bcast(n),
      step = roundPlan,
      unconverged = _ => s"k-core did not converge in $maxIters peel rounds")
  }

  /** [[kcore]]'s production form: identical signature and output
    * schema, but peeled to the true fixpoint — the operator a real
    * 100 TB graph job needs, where a fixed unroll under-peels deep
    * degeneracy sequences. Spec'd against the unrolled shadow on
    * graphs where 3 rounds already converge, and against the
    * edge-peeling reference (ConvergenceSpec). */
  def kcoreConverged(s: SparkSession, dir: String, k: Int): DataFrame =
    kcoreFixpointDegrees(symCoPurchase(s, dir), k)._1
      .select(col("node"), col("deg").as("residual_deg"))
      .orderBy(col("node"))

  /** k-core with k DERIVED from the data: k = max(2, ⌈E/V⌉) over the
    * co-purchase graph. The choice closes q258's only blind spot —
    * a k whose core dissolves at some unprobed dataset makes the
    * recursive-CTE oracle unsound (an empty fixpoint is
    * unrepresentable in UNION ALL recursion) — by CONSTRUCTION:
    * peeling a vertex of degree ≤ k−1 removes ≤ k−1 edges, so
    * exhausting all V vertices removes ≤ V(k−1) < E edges when
    * k−1 < E/V — a contradiction, hence the ⌈E/V⌉-core is non-empty
    * for every graph with E ≥ V. The only unguaranteed case is the
    * floor at k = 2 on a forest (E < V), where the Spark side fails
    * LOUDLY instead of comparing against an unsound oracle. k rides
    * the output (`k_derived`), so the oracle must re-derive the SAME
    * integer from the same counts for the hash to match. Cost of the
    * derivation: one hash-agg over the memoized symmetric edge view. */
  def kcoreAuto(s: SparkSession, dir: String): DataFrame = {
    val sym = symCoPurchase(s, dir)
    val st = sym.agg(count(lit(1)).as("m2"),
      countDistinct(col("u")).as("nv")).head()
    val e = st.getLong(0) / 2
    val nv = st.getLong(1)
    // loud, not ArithmeticException: an edgeless graph has no core at
    // ANY k, the same oracle-unrepresentable case as the forest floor
    require(nv > 0, "derived-k k-core: the co-purchase graph has no " +
      "edges — every core is empty and the recursive-CTE oracle " +
      "cannot represent an empty fixpoint")
    val k = math.max(2L, (e + nv - 1) / nv)
    val core = kcoreFixpointDegrees(sym, k.toInt)._1
    require(e >= nv || core.count() > 0,
      s"derived k=$k core is empty on a forest-shaped graph (E=$e < " +
        s"V=$nv) — the recursive-CTE oracle cannot represent an empty " +
        "fixpoint; this dataset needs a different k rule")
    core.select(col("node"), col("deg").as("residual_deg"),
        lit(k).as("k_derived"))
      .orderBy(col("node"))
  }

  private def symCoPurchase(s: SparkSession, dir: String): DataFrame = {
    val canon = coPurchaseEdges(s, dir)
    canon.select(col("u"), col("v"))
      .unionAll(canon.select(col("v").as("u"), col("u").as("v")))
  }

  private def residualDegrees(sym: DataFrame): DataFrame =
    sym.groupBy(col("u").as("node")).agg(count(lit(1)).as("residual_deg"))
      .orderBy(col("node"))

  /** brand → dense integer code dict (~25 rows, broadcast): codes are
    * the lexicographic rank of the distinct brands, so min-code ≡
    * min-lexicographic and the LPA tie contract survives the
    * string→int swap that keeps labels cheap to shuffle. */
  private[queries] def brandDict(s: SparkSession, dir: String): DataFrame =
    Memo(s, dir, "brand_dict", Seq("part")) {
      import org.apache.spark.sql.expressions.Window
      t(s, dir, "part").select(col("p_brand").as("lbl"))
        .distinct()
        .withColumn("code",
          row_number().over(Window.orderBy(col("lbl"))).cast("long"))
        .localCheckpoint(false)
    }

  /** Two synchronous label-propagation rounds over the co-purchase
    * graph, seeded with part-brand codes: each round every node
    * adopts the most frequent neighbor label, ties → smallest code
    * (= lexicographically smallest brand). Memoized + checkpointed:
    * q192 reads the final labels once, but q201's modularity audit
    * reads them three times (intra-edge count + degree mass + node
    * count), and each read would re-run both O(|E|) rounds without
    * the cut. */
  private[queries] def lpaLabels(s: SparkSession, dir: String): DataFrame =
    Memo(s, dir, "lpa_labels", Seq("lineitem", "part")) {
      val e = coPurchaseEdges(s, dir)
      val sym = e.select(col("u").as("src"), col("v").as("dst"))
        .unionAll(e.select(col("v").as("src"), col("u").as("dst")))
      val seeds = sym.select(col("src").as("node")).distinct()
        .join(t(s, dir, "part")
          .select(col("p_partkey").as("node"), col("p_brand").as("lbl")),
          "node")
        .join(broadcast(brandDict(s, dir)), "lbl")
        .select(col("node"), col("code"))
      lpaTwoRounds(sym, seeds).localCheckpoint(false)
    }

  /** The 2-round unrolled LPA with the scale-regime gate RE-CHECKED
    * between rounds: partial seeding grows the label set (round 1
    * emits a row for every node with a labeled neighbor), so the
    * seed count alone can admit a round-2 broadcast far above the
    * ceiling — the driver-OOM case the gate exists to prevent.
    * Round 1's output is eagerly cut, so the re-check count rides
    * blocks round 2 needs anyway — one cheap job, exactly the
    * fixpoint loop's per-round discipline. The fallback regime
    * pre-partitions the edge view once and round 2 reuses the
    * round-1 layout when both rounds fall back. */
  private[graft] def lpaTwoRounds(sym: DataFrame,
      seeds: DataFrame): DataFrame = {
    val bcast1 = seeds.count() <= lpaBroadcastMaxRows
    val symL1 =
      if (bcast1) sym
      else Ckpt.cutPartitioned(sym.repartition(col("dst")))
    val r1 = Ckpt.cut(lpaRound(symL1, seeds, bcast1), true)
    val bcast2 = r1.count() <= lpaBroadcastMaxRows
    val symL2 =
      if (bcast2) sym
      else if (!bcast1) symL1 // reuse the round-1 layout
      else Ckpt.cutPartitioned(sym.repartition(col("dst")))
    lpaRound(symL2, r1, bcast2)
  }

  /** labels-row-count ceiling under which [[lpaRound]] broadcasts the
    * label vector. 10M rows ≈ 160 MB serialized — generous for a
    * local[32] JVM, the right order for real executors. Past it the
    * round falls back to the co-partitioned label exchange (see
    * [[lpaRound]]); overridable for probes/specs via env
    * `GRAFT_LPA_BCAST_MAX_ROWS` or sysprop
    * `graft.lpa.bcast.max.rows` (= 0 forces the fallback). */
  private[graft] def lpaBroadcastMaxRows: Long =
    sys.env.get("GRAFT_LPA_BCAST_MAX_ROWS")
      .orElse(sys.props.get("graft.lpa.bcast.max.rows"))
      .map(_.toLong).getOrElse(10000000L)

  /** one synchronous LPA round: every node adopts the most frequent
    * label among its neighbors' PREVIOUS labels, ties → smallest
    * code. Shared by the 2-round unrolled [[lpaLabels]] (oracle
    * shadow) and the fixpoint [[lpaFixpointEdges]].
    *
    * `broadcastLabels` is the scale regime, decided ONCE by the
    * caller (a per-round count would cost a job per round):
    *  - true — labels are |V| compact rows (2M × 16B ≈ 32 MB at the
    *    sf10 probe): far cheaper to ship than re-shuffling the
    *    |E|-row edge list every round (240M rows × rounds at sf10;
    *    the label attach is the round's only join). Each round is one
    *    map-side edge scan + a partial-agg shuffle.
    *  - false — past broadcastable |V| (≈10⁹ nodes a forced broadcast
    *    would OOM the driver): the q120 transactionGraph layout. The
    *    caller pre-partitions `sym` by dst once; each round then
    *    shuffle-hash-joins with labels as the BUILD side, so the only
    *    per-round exchange is the |V|-row label vector — the edge
    *    list never moves again. The hint matters: without it the SMJ
    *    default would re-sort the edge side every round. */
  private[graft] def lpaRound(sym: DataFrame, labels: DataFrame,
      broadcastLabels: Boolean = true): DataFrame = {
    val lbl = labels.withColumnRenamed("node", "dst")
    val attached =
      if (broadcastLabels) sym.join(broadcast(lbl), "dst")
      else sym.join(lbl.hint("shuffle_hash"), "dst")
    // "most frequent label, ties -> smallest code" as a hash
    // aggregation (round 14, guide: prefer agg over window where the
    // window only picks one row): max_by over the total order
    // (cnt asc-major, -code) selects exactly the row the old
    // `row_number() OVER (ORDER BY cnt DESC, code) = 1` picked —
    // (cnt, -code) pairs are unique per src, so the choice is
    // deterministic and identical — without the window's per-round
    // partition sort, and with partial aggregation on both hops.
    attached
      .groupBy(col("src"), col("code"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("src"))
      .agg(max_by(col("code"),
        struct(col("cnt"), (-col("code")).as("nc"))).as("code"))
      .select(col("src").as("node"), col("code"))
  }

  /** Run-to-FIXPOINT synchronous label propagation: rounds of
    * [[lpaRound]] until no node changes label, on [[Fixpoint]] (the
    * changed-label count is the round's one job). Returns (labels,
    * rounds run). Synchronous LPA can 2-CYCLE on bipartite-ish
    * structure (a star flips center↔leaves forever), so
    * non-convergence inside maxIters raises — silently
    * returning mid-oscillation labels would be a wrong answer, and
    * the caller's recourse (asynchronous/stabilized update order) is
    * a semantic choice they must make explicitly. The unrolled
    * 2-round [[lpaLabels]] stays the oracle shadow; this is the
    * production operator behind the same (sym, seeds) inputs. */
  private[graft] def lpaFixpointEdges(sym0: DataFrame, seeds: DataFrame,
      maxIters: Int = 20, materialize: Boolean = true): (DataFrame, Int) = {
    // materialize = false when the caller's edge view is a cheap
    // projection over an ALREADY-checkpointed canonical list (the
    // memoized coPurchaseEdges): re-checkpointing the symmetric
    // union duplicated 240M rows in the block store per CALL at the
    // sf10 probe — per-round recomputation of a map-side union over
    // checkpoint blocks is strictly cheaper than a second copy.
    // scale-regime gate: small label vectors broadcast; past the
    // ceiling, pre-partition the edge list by dst ONCE and let every
    // round exchange only the label vector (shuffle-hash build
    // side). The gate is seeded from seeds.count() but RE-CHECKED on
    // every round's label count (a cheap count over the
    // just-checkpointed |labels| rows): with PARTIAL seeding the
    // label set grows as labels propagate — one row per edge-source
    // with a labeled neighbor — so a one-shot seed-count decision
    // could lock in a broadcast far above the ceiling (the driver
    // OOM the fallback exists to prevent). On growth past the
    // ceiling the loop demotes to the co-partitioned regime by
    // materializing the dst layout once, mid-flight. The fallback
    // materializes its edge copy even when `materialize = false`,
    // because the layout IS the point — one |E| shuffle buys
    // exchange-free edge sides for every later round.
    val bcast = seeds.count() <= lpaBroadcastMaxRows
    val sym =
      if (!bcast) Ckpt.cutPartitioned(sym0.repartition(col("dst")))
      else if (materialize) Ckpt.cut(sym0, true)
      else sym0
    val seeded = Ckpt.cut(seeds, true)
    // FUSED round (round 14): the round's output is cut LAZILY and a
    // single aggregation job — left join to the previous labels —
    // materializes the checkpoint while computing BOTH the
    // changed-label count (over the joined rows, exactly the old
    // inner-join count: unmatched rows contribute null ≠ comparisons
    // = 0) and the label-vector size the broadcast gate re-checks.
    // The old shape paid three jobs per round (eager cut, changed
    // join, gate count).
    final case class Round(sym: DataFrame, bcast: Boolean,
        prev: DataFrame, labels: DataFrame)
    def round(sym: DataFrame, bc: Boolean, prev: DataFrame): Round =
      Round(sym, bc, prev, Ckpt.cut(lpaRound(sym, prev, bc), false))
    val (last, rounds) = Fixpoint.run("lpa", castToImpl(sym.sparkSession),
        sym.rdd.getNumPartitions, maxIters, overlap = true)(
        bcast, round(sym, bcast, seeded))(
        (r: Round) => r.labels
          .join(r.prev.withColumnRenamed("code", "old"), Seq("node"),
            "left_outer")
          .agg(coalesce(sum(when(col("code") =!= col("old"), 1L)
              .otherwise(0L)), lit(0L)),
            count(lit(1))).head())(
      done = _.getLong(0) == 0L,
      regime = (bc, row) => bc && row.getLong(1) <= lpaBroadcastMaxRows,
      // a demotion materializes the dst layout once, mid-flight
      step = (r, bc) => round(
        if (r.bcast && !bc)
          Ckpt.cutPartitioned(r.sym.repartition(col("dst")))
        else r.sym, bc, r.labels),
      unconverged = row => s"LPA did not converge in $maxIters rounds " +
        s"(${row.getLong(0)} labels still changing — synchronous LPA " +
        "oscillates on bipartite structure; raise maxIters only if the " +
        "trajectory is shrinking)")
    (last.labels, rounds)
  }

  /** [[lpaLabels]]'s production form: the same co-purchase graph and
    * brand seeds, propagated to the true fixpoint instead of the
    * 2-round oracle unroll. Same output schema (node, code). */
  def lpaConverged(s: SparkSession, dir: String,
      maxIters: Int = 20): DataFrame = {
    val e = coPurchaseEdges(s, dir)
    val sym = e.select(col("u").as("src"), col("v").as("dst"))
      .unionAll(e.select(col("v").as("src"), col("u").as("dst")))
    val seeds = sym.select(col("src").as("node")).distinct()
      .join(t(s, dir, "part")
        .select(col("p_partkey").as("node"), col("p_brand").as("lbl")),
        "node")
      .join(broadcast(brandDict(s, dir)), "lbl")
      .select(col("node"), col("code"))
    // sym is a map-side union over the memoized checkpointed edge
    // list — do NOT duplicate it in the block store (see
    // lpaFixpointEdges' materialize flag)
    lpaFixpointEdges(sym, seeds, maxIters, materialize = false)._1
  }

  /** the q192 LPA pipeline as DuckDB CTEs (needs $edgeSql in scope
    * upstream): yields `dict(lbl, code)` and final labels
    * `r2(node, code)`. Shared by the q192 and q201 oracles. */
  private val lpaSql =
    """sym AS (
      |  SELECT u AS src, v AS dst FROM e
      |  UNION ALL SELECT v AS src, u AS dst FROM e),
      |dict AS (
      |  SELECT lbl, CAST(row_number() OVER (ORDER BY lbl) AS BIGINT)
      |    AS code
      |  FROM (SELECT DISTINCT p_brand AS lbl FROM part)),
      |l0 AS (
      |  SELECT n.node, d.code
      |  FROM (SELECT DISTINCT src AS node FROM sym) n
      |  JOIN part p ON p.p_partkey = n.node
      |  JOIN dict d ON d.lbl = p.p_brand),
      |r1 AS (
      |  SELECT src AS node, code FROM (
      |    SELECT n.src, l.code,
      |      row_number() OVER (PARTITION BY n.src
      |        ORDER BY count(*) DESC, l.code) AS rn
      |    FROM sym n JOIN l0 l ON l.node = n.dst
      |    GROUP BY n.src, l.code)
      |  WHERE rn = 1),
      |r2 AS (
      |  SELECT src AS node, code FROM (
      |    SELECT n.src, l.code,
      |      row_number() OVER (PARTITION BY n.src
      |        ORDER BY count(*) DESC, l.code) AS rn
      |    FROM sym n JOIN r1 l ON l.node = n.dst
      |    GROUP BY n.src, l.code)
      |  WHERE rn = 1)""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // ------------------------------------------------------------------
    // Degree-ordered triangle counting + local clustering coefficient.
    QueryDef("q123_triangles",
      (s, dir) => triangles(s, dir),
      Some(s"""WITH $edgeSql,
        |tri AS (
        |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
        |  FROM e e1
        |  JOIN e e2 ON e2.u = e1.v
        |  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
        |tn AS (
        |  SELECT node, count(*) AS triangles FROM (
        |    SELECT a AS node FROM tri
        |    UNION ALL SELECT b FROM tri
        |    UNION ALL SELECT c FROM tri)
        |  GROUP BY node),
        |deg AS (
        |  SELECT node, count(*) AS degree FROM (
        |    SELECT u AS node FROM e UNION ALL SELECT v FROM e)
        |  GROUP BY node)
        |SELECT tn.node, deg.degree, tn.triangles,
        |  CAST(tn.triangles * 2 AS DOUBLE) / (deg.degree * (deg.degree - 1))
        |    AS clustering
        |FROM tn JOIN deg ON tn.node = deg.node
        |ORDER BY tn.triangles DESC, tn.node LIMIT 100""".stripMargin)),

    // ------------------------------------------------------------------
    // k-core peel (k = 90, 3 rounds) — dense-subgraph extraction.
    QueryDef("q124_kcore",
      (s, dir) => kcore(s, dir, k = 90),
      Some(s"""WITH $edgeSql,
        |sym AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
        |d0 AS (SELECT u AS node, count(*) AS deg FROM sym GROUP BY u),
        |a1 AS (SELECT node FROM d0 WHERE deg >= 90),
        |e1 AS (
        |  SELECT u, v FROM sym
        |  WHERE u IN (SELECT node FROM a1) AND v IN (SELECT node FROM a1)),
        |d1 AS (SELECT u AS node, count(*) AS deg FROM e1 GROUP BY u),
        |a2 AS (SELECT node FROM d1 WHERE deg >= 90),
        |e2 AS (
        |  SELECT u, v FROM e1
        |  WHERE u IN (SELECT node FROM a2) AND v IN (SELECT node FROM a2)),
        |d2 AS (SELECT u AS node, count(*) AS deg FROM e2 GROUP BY u),
        |a3 AS (SELECT node FROM d2 WHERE deg >= 90),
        |e3 AS (
        |  SELECT u, v FROM e2
        |  WHERE u IN (SELECT node FROM a3) AND v IN (SELECT node FROM a3))
        |SELECT u AS node, count(*) AS residual_deg FROM e3
        |GROUP BY u ORDER BY node""".stripMargin)),

    // ------------------------------------------------------------------
    // Association mining: top-50 co-purchase pairs by LIFT —
    // support(a,b) / (support(a)·support(b)) in ×10⁶ fixed point
    // against the basket count (lift > 1e6 ⇒ positively associated).
    // The market-basket sibling of q122's text PMI, on the same
    // bounded-basket self-join as the triangle graph (the co-occur
    // count IS the edge weight the unweighted ops discard). Support
    // floor 3 is the standard noise gate. All integer until nothing:
    // the ranking key is the exact (n_ab·N·10⁶) div (n_a·n_b).
    QueryDef("q155_basket_lift",
      (s, dir) => {
        val li = basketItems(s, dir)
        val nBaskets = li.select(col("ok")).distinct().count()
        val pairCnt = li.as("a").join(li.as("b"),
            col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
          .groupBy(col("a.pk").as("pa"), col("b.pk").as("pb"))
          .agg(count(lit(1)).as("n_ab"))
          .filter(col("n_ab") >= 3)
        val itemCnt = li.groupBy(col("pk")).agg(count(lit(1)).as("n_i"))
        pairCnt
          .join(itemCnt.select(col("pk").as("pa"), col("n_i").as("n_a")), "pa")
          .join(itemCnt.select(col("pk").as("pb"), col("n_i").as("n_b")), "pb")
          .select(col("pa"), col("pb"), col("n_ab"),
            // n_ab·N·10⁶ ≤ N²·10⁶ exceeds Long past ~3·10⁶ baskets
            // (Spark wraps, DuckDB raises): DECIMAL(38,0)/HUGEINT on
            // both engines — the q137 overflow contract
            expr(s"CAST((CAST(n_ab AS DECIMAL(38,0)) * ${nBaskets}L" +
              " * 1000000L) div (CAST(n_a AS DECIMAL(38,0)) * n_b)" +
              " AS BIGINT)").as("lift_fp"))
          .orderBy(col("lift_fp").desc, col("pa"), col("pb"))
          .limit(50)
      },
      Some("""WITH li AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |nb AS (SELECT count(DISTINCT ok) AS n FROM li),
        |pc AS (
        |  SELECT a.pk AS pa, b.pk AS pb, count(*) AS n_ab
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY 1, 2 HAVING count(*) >= 3),
        |ic AS (SELECT pk, count(*) AS n_i FROM li GROUP BY pk)
        |SELECT pc.pa, pc.pb, pc.n_ab,
        |  CAST((CAST(pc.n_ab AS HUGEINT) * (SELECT n FROM nb) * 1000000)
        |    // (CAST(ia.n_i AS HUGEINT) * ib.n_i) AS BIGINT)
        |    AS lift_fp
        |FROM pc
        |JOIN ic ia ON pc.pa = ia.pk
        |JOIN ic ib ON pc.pb = ib.pk
        |ORDER BY lift_fp DESC, pa, pb LIMIT 50""".stripMargin)),

    // ------------------------------------------------------------------
    // Market concentration (HHI) — Σ share² per nation over supplier
    // account balances, the antitrust-style concentration index data
    // marketplaces track per segment. Shares in ×10⁴ basis points
    // via exact DECIMAL ratios truncated to integers (one div per
    // supplier), so Σ share² is exact; max HHI = 10⁸ (monopoly).
    QueryDef("q156_hhi",
      (s, dir) => {
        val su = t(s, dir, "supplier")
          .select(col("s_nationkey"),
            floor(col("s_acctbal") * 100 + 0.5).cast("long").as("bal"))
          .filter(col("bal") > 0)
        val tot = su.groupBy(col("s_nationkey"))
          .agg(sum(col("bal")).as("tot"), count(lit(1)).as("n_suppliers"))
        su.join(tot, "s_nationkey")
          .withColumn("share_bp", expr("(bal * 10000L) div tot"))
          .groupBy(col("s_nationkey"))
          .agg(first(col("n_suppliers")).as("n_suppliers"),
            sum(col("share_bp") * col("share_bp")).as("hhi_fp"))
          .orderBy(col("s_nationkey"))
      },
      Some("""WITH su AS (
        |  SELECT s_nationkey,
        |    CAST(floor(s_acctbal * 100 + 0.5) AS BIGINT) AS bal
        |  FROM supplier
        |  WHERE CAST(floor(s_acctbal * 100 + 0.5) AS BIGINT) > 0),
        |tot AS (
        |  SELECT s_nationkey, CAST(sum(bal) AS BIGINT) AS tot,
        |    count(*) AS n_suppliers
        |  FROM su GROUP BY s_nationkey)
        |SELECT su.s_nationkey, tot.n_suppliers,
        |  CAST(sum(((bal * 10000) // tot) * ((bal * 10000) // tot))
        |    AS BIGINT) AS hhi_fp
        |FROM su JOIN tot USING (s_nationkey)
        |GROUP BY su.s_nationkey, tot.n_suppliers
        |ORDER BY s_nationkey""".stripMargin)),

    // ------------------------------------------------------------------
    // Gini coefficient — the inequality measure next to q156's HHI
    // (HHI asks "how concentrated"; Gini asks "how unequal"), per
    // nation over supplier balances. The rank form
    // G = (2·Σ i·x₍ᵢ₎ − (n+1)·Σx) / (n·Σx) needs only a per-nation
    // row_number (total (bal, suppkey) order) and exact integer
    // sums; ×10⁶ fixed point with one truncating div. All shuffles
    // keyed by nation.
    QueryDef("q157_gini",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("s_nationkey"))
          .orderBy(col("bal"), col("s_suppkey"))
        t(s, dir, "supplier")
          .select(col("s_nationkey"), col("s_suppkey"),
            floor(col("s_acctbal") * 100 + 0.5).cast("long").as("bal"))
          .filter(col("bal") > 0)
          .withColumn("i", row_number().over(w).cast("long"))
          .groupBy(col("s_nationkey"))
          .agg(count(lit(1)).as("n"), sum(col("bal")).as("sx"),
            sum(col("i") * col("bal")).as("six"))
          .select(col("s_nationkey"), col("n"),
            // the Gini numerator is ≤ n·sx, which times 10⁶ exceeds
            // Long past ~10⁵ members per group at cents scale (Spark
            // wraps, DuckDB raises): DECIMAL(38,0)/HUGEINT on both
            // engines — the q137 overflow contract
            expr("CAST(((2 * CAST(six AS DECIMAL(38,0))" +
              " - (n + 1) * CAST(sx AS DECIMAL(38,0))) * 1000000L)" +
              " div (CAST(n AS DECIMAL(38,0)) * sx) AS BIGINT)")
              .as("gini_fp"))
          .orderBy(col("s_nationkey"))
      },
      Some("""WITH su AS (
        |  SELECT s_nationkey, s_suppkey,
        |    CAST(floor(s_acctbal * 100 + 0.5) AS BIGINT) AS bal
        |  FROM supplier
        |  WHERE CAST(floor(s_acctbal * 100 + 0.5) AS BIGINT) > 0),
        |r AS (
        |  SELECT s_nationkey, bal,
        |    row_number() OVER (PARTITION BY s_nationkey
        |      ORDER BY bal, s_suppkey) AS i
        |  FROM su),
        |agg AS (
        |  SELECT s_nationkey, count(*) AS n,
        |    CAST(sum(bal) AS BIGINT) AS sx,
        |    CAST(sum(i * bal) AS BIGINT) AS six
        |  FROM r GROUP BY s_nationkey)
        |SELECT s_nationkey, n,
        |  CAST(((2 * CAST(six AS HUGEINT) - (n + 1) * CAST(sx AS HUGEINT))
        |    * 1000000) // (CAST(n AS HUGEINT) * sx) AS BIGINT) AS gini_fp
        |FROM agg ORDER BY s_nationkey""".stripMargin)),

    // ------------------------------------------------------------------
    // Label propagation (two synchronous rounds) — the cheap
    // community detector corpus curation uses to find content farms
    // and template families: seed every co-purchase node with its
    // part brand, then each round every node adopts the MOST FREQUENT
    // label among its neighbors (ties → lexicographically smallest
    // label — the deterministic contract that makes synchronous LPA
    // reproducible; classic LPA breaks ties randomly). Distinct from
    // q80's connected components: LPA segments WITHIN a connected
    // blob by local label density rather than mere reachability.
    //
    // Scale shape: one equi-join (symmetric edges ⋈ labels on the
    // neighbor key) + one (node, label) hash-agg + one per-node
    // window per round over the once-checkpointed edge list — the
    // same O(|E|)-per-round message-passing shape as q120's PageRank,
    // with the label table re-keyed by node between rounds.
    QueryDef("q192_label_propagation",
      (s, dir) =>
        lpaLabels(s, dir)
          .groupBy(col("code"))
          .agg(count(lit(1)).as("n_nodes"))
          .join(broadcast(brandDict(s, dir)), "code")
          .select(col("lbl").as("label"), col("n_nodes"))
          .orderBy(col("label")),
      Some(s"""WITH $edgeSql,
        |$lpaSql
        |SELECT d.lbl AS label, CAST(count(*) AS BIGINT) AS n_nodes
        |FROM r2 JOIN dict d USING (code)
        |GROUP BY 1 ORDER BY label""".stripMargin)),

    // ------------------------------------------------------------------
    // Modularity audit of the q192 communities — the quality score
    // that tells a curation pipeline whether its cheap LPA partition
    // is MEANINGFUL before acting on it: per community c,
    // term_c = e_c/m − (d_c/2m)², where e_c = intra-community edges,
    // d_c = total degree mass, m = |E|; Σ term_c is Newman
    // modularity. All ×10⁶ fixed point with the products in
    // DECIMAL(38,0)/HUGEINT (d_c² ~ 4m² overflows Long past
    // m ≈ 1.5×10⁹ edges — the q137 overflow contract).
    //
    // Scale shape: labels come from the memoized LPA table; intra
    // edges are one join of the checkpointed edge list against the
    // label table on EACH endpoint (two |E| equi-joins) + a hash-agg;
    // degree mass is a |V|-row join; m is a 1-row count of the
    // checkpointed list.
    QueryDef("q201_graph_modularity",
      (s, dir) => {
        val e = coPurchaseEdges(s, dir)
        val labels = lpaLabels(s, dir)
        val m = e.count()
        // label attach = two |E|-row equi-joins against the |V|-row
        // label table: hinted SHUFFLE_HASH like the triangle family —
        // sort-merge would sort the 10×|E| edge rows per join, and
        // hashing the |V|-sized build side is always the cheaper
        // shape (AQE still upgrades to broadcast when labels fit).
        val intra = e
          .join(labels.hint("shuffle_hash")
            .select(col("node").as("u"), col("code").as("cu")), "u")
          .join(labels.hint("shuffle_hash")
            .select(col("node").as("v"), col("code").as("cv")), "v")
          .filter(col("cu") === col("cv"))
          .groupBy(col("cu").as("code"))
          .agg(count(lit(1)).as("e_c"))
        val mass = coPurchaseDegrees(s, dir)
          .join(labels.hint("shuffle_hash"), "node")
          .groupBy(col("code"))
          .agg(sum(col("deg")).as("d_c"), count(lit(1)).as("n_nodes"))
        // intra is one row per community ≤ one per BRAND (a bounded
        // dimension, not data-scaled) — broadcast is safe at any SF
        mass.join(broadcast(intra), Seq("code"), "left_outer")
          .withColumn("e_c", coalesce(col("e_c"), lit(0L)))
          .withColumn("term_fp", expr(
            s"CAST((CAST(e_c AS DECIMAL(38,0)) * 1000000) div ${m}L" +
              s" AS BIGINT) - CAST((CAST(d_c AS DECIMAL(38,0)) * d_c" +
              s" * 1000000) div (4 * CAST(${m}L AS DECIMAL(38,0))" +
              s" * ${m}L) AS BIGINT)"))
          .join(broadcast(brandDict(s, dir)), "code")
          .select(col("lbl").as("label"), col("n_nodes"), col("e_c"),
            col("d_c"), col("term_fp"))
          .orderBy(col("label"))
      },
      Some(s"""WITH $edgeSql,
        |$lpaSql,
        |m AS (SELECT count(*) AS m FROM e),
        |intra AS (
        |  SELECT lu.code, count(*) AS e_c
        |  FROM e
        |  JOIN r2 lu ON lu.node = e.u
        |  JOIN r2 lv ON lv.node = e.v AND lv.code = lu.code
        |  GROUP BY 1),
        |deg AS (
        |  SELECT node, count(*) AS deg FROM (
        |    SELECT u AS node FROM e UNION ALL SELECT v FROM e)
        |  GROUP BY 1),
        |mass AS (
        |  SELECT l.code, sum(d.deg) AS d_c, count(*) AS n_nodes
        |  FROM deg d JOIN r2 l USING (node)
        |  GROUP BY 1)
        |SELECT dt.lbl AS label,
        |  CAST(mass.n_nodes AS BIGINT) AS n_nodes,
        |  CAST(coalesce(intra.e_c, 0) AS BIGINT) AS e_c,
        |  CAST(mass.d_c AS BIGINT) AS d_c,
        |  CAST((CAST(coalesce(intra.e_c, 0) AS HUGEINT) * 1000000)
        |      // (SELECT m FROM m) AS BIGINT)
        |    - CAST((CAST(mass.d_c AS HUGEINT) * mass.d_c * 1000000)
        |      // (4 * CAST((SELECT m FROM m) AS HUGEINT)
        |        * (SELECT m FROM m)) AS BIGINT) AS term_fp
        |FROM mass LEFT JOIN intra ON intra.code = mass.code
        |JOIN dict dt ON dt.code = mass.code
        |ORDER BY label""".stripMargin)),

    // ------------------------------------------------------------------
    // Personalized PageRank — q120's damped fixpoint with the
    // teleport restricted to a SEED SET (one brand's parts): the
    // "related items" / seed-expansion primitive recommendation and
    // data-curation pipelines use to grow a small trusted set along
    // graph structure. Three unrolled rounds over the co-purchase
    // graph, exact integer fixed-point arithmetic (r/outdeg and the
    // 85/100 damping both truncating DIV — bit-identical to the
    // oracle's unrolled CTEs), mass injected each round only at the
    // seeds via a full-outer merge of spread and teleport.
    //
    // Scale shape: identical to q120 — one equi-join + one hash-agg
    // per round over the checkpointed edge list, O(|E|) per round;
    // the teleport side is |seeds| rows.
    QueryDef("q212_ppr",
      (s, dir) => {
        val unit = 1000000000000L
        val e = coPurchaseEdges(s, dir)
        val sym = e.select(col("u").as("src"), col("v").as("dst"))
          .unionAll(e.select(col("v").as("src"), col("u").as("dst")))
        val deg = coPurchaseDegrees(s, dir)
        val ej = sym.join(deg.select(col("node").as("src"),
          col("deg").as("outdeg")).hint("shuffle_hash"), "src")
        val seeds = t(s, dir, "part")
          .filter(col("p_brand") === "Brand#11")
          .select(col("p_partkey").as("node"))
          .join(deg.select(col("node")), Seq("node"), "left_semi")
        val ns = seeds.count()
        require(ns > 0, "q212_ppr: empty seed set (no Brand#11 parts " +
          "in the co-purchase graph at this SF)")
        val teleport = seeds
          .withColumn("b", lit(15L * unit / 100L / ns))
        var ranks = seeds.withColumn("r", lit(unit / ns))
        for (_ <- 1 to 3) {
          val spread = ej.join(ranks, col("src") === col("node"))
            .groupBy(col("dst"))
            .agg(sum(expr("r div outdeg")).as("m"))
            .select(col("dst").as("node"),
              expr("(85 * m) div 100").as("d"))
          ranks = spread.join(teleport, Seq("node"), "full_outer")
            .select(col("node"),
              (coalesce(col("d"), lit(0L)) + coalesce(col("b"), lit(0L)))
                .as("r"))
        }
        ranks
          .join(teleport.select(col("node"), lit(1L).as("is_seed")),
            Seq("node"), "left_outer")
          .select(col("node"), col("r").as("rank_fp"),
            coalesce(col("is_seed"), lit(0L)).as("is_seed"))
          .orderBy(col("rank_fp").desc, col("node")).limit(50)
      },
      Some(s"""WITH $edgeSql,
        |sym AS (
        |  SELECT u AS src, v AS dst FROM e
        |  UNION ALL SELECT v AS src, u AS dst FROM e),
        |deg AS (SELECT src AS node, count(*) AS outdeg FROM sym GROUP BY 1),
        |ej AS (
        |  SELECT sym.src, sym.dst, deg.outdeg
        |  FROM sym JOIN deg ON deg.node = sym.src),
        |seeds AS (
        |  SELECT p_partkey AS node FROM part
        |  WHERE p_brand = 'Brand#11'
        |    AND p_partkey IN (SELECT node FROM deg)),
        |ns AS (SELECT count(*) AS ns FROM seeds),
        |tp AS (
        |  SELECT node,
        |    (15 * 1000000000000 // 100) // (SELECT ns FROM ns) AS b
        |  FROM seeds),
        |r0 AS (
        |  SELECT node, 1000000000000 // (SELECT ns FROM ns) AS r
        |  FROM seeds),
        |s1 AS (
        |  SELECT dst AS node, (85 * sum(r // outdeg)) // 100 AS d
        |  FROM ej JOIN r0 ON ej.src = r0.node GROUP BY 1),
        |r1 AS (
        |  SELECT coalesce(s1.node, tp.node) AS node,
        |    coalesce(s1.d, 0) + coalesce(tp.b, 0) AS r
        |  FROM s1 FULL JOIN tp ON s1.node = tp.node),
        |s2 AS (
        |  SELECT dst AS node, (85 * sum(r // outdeg)) // 100 AS d
        |  FROM ej JOIN r1 ON ej.src = r1.node GROUP BY 1),
        |r2 AS (
        |  SELECT coalesce(s2.node, tp.node) AS node,
        |    coalesce(s2.d, 0) + coalesce(tp.b, 0) AS r
        |  FROM s2 FULL JOIN tp ON s2.node = tp.node),
        |s3 AS (
        |  SELECT dst AS node, (85 * sum(r // outdeg)) // 100 AS d
        |  FROM ej JOIN r2 ON ej.src = r2.node GROUP BY 1),
        |r3 AS (
        |  SELECT coalesce(s3.node, tp.node) AS node,
        |    coalesce(s3.d, 0) + coalesce(tp.b, 0) AS r
        |  FROM s3 FULL JOIN tp ON s3.node = tp.node)
        |SELECT r3.node, CAST(r3.r AS BIGINT) AS rank_fp,
        |  CAST(CASE WHEN r3.node IN (SELECT node FROM seeds)
        |    THEN 1 ELSE 0 END AS BIGINT) AS is_seed
        |FROM r3
        |ORDER BY r3.r DESC, r3.node LIMIT 50""".stripMargin)),

    // ------------------------------------------------------------------
    // Degree assortativity — does the co-purchase graph wire hubs to
    // hubs (r > 0) or hubs to leaves (r < 0)? Newman's r is the
    // Pearson correlation of endpoint degrees over the SYMMETRIC edge
    // list; symmetrization makes both endpoint marginals identical,
    // so r = (m·Σxy − (Σx)²) / (m·Σx² − (Σx)²) — no sqrt, and every
    // sum/product is computed in DECIMAL(38,0) (Spark) / HUGEINT
    // (DuckDB) per the q137 overflow contract (Σxy sums deg² terms
    // over edges: past 2^63 at ~10⁹ edges of degree 10³). r is
    // emitted as ×10⁶ FIXED-POINT via integer DIV (both engines
    // truncate toward zero), the q157/q201 convention — a
    // decimal→double cast of the >2^53 numerator could differ by an
    // ulp between engines. Scale shape: the |V|-row degree table
    // joins the edge list twice on its shuffle key (AQE broadcasts
    // it at small SF), then a 1-row total agg — the edge list itself
    // is the session-memoized checkpoint every graph query shares;
    // no per-node window, no driver loop.
    QueryDef("q223_assortativity",
      (s, dir) => {
        val e = coPurchaseEdges(s, dir)
        val sym = e.select(col("u").as("src"), col("v").as("dst"))
          .unionAll(e.select(col("v").as("src"), col("u").as("dst")))
        val deg = coPurchaseDegrees(s, dir)
        val joined = sym
          .join(deg.select(col("node").as("src"),
            col("deg").as("x")), "src")
          .join(deg.select(col("node").as("dst"),
            col("deg").as("y")), "dst")
        joined.agg(
            count(lit(1)).cast(org.apache.spark.sql.types.DecimalType(38, 0))
              .as("m"),
            sum(expr("CAST(x AS DECIMAL(38,0))")).as("sx"),
            sum(expr("CAST(x AS DECIMAL(38,0)) * y")).as("sxy"),
            sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"))
          .filter(col("m") * col("sxx") - col("sx") * col("sx") =!= 0)
          .select(col("m").cast("long").as("m_edges"),
            expr("""CAST((m * sxy - sx * sx) * 1000000
              DIV (m * sxx - sx * sx) AS BIGINT)""").as("assortativity_fp"))
      },
      Some(s"""WITH $edgeSql,
        |sym AS (
        |  SELECT u AS src, v AS dst FROM e
        |  UNION ALL SELECT v, u FROM e),
        |deg AS (
        |  SELECT node, count(*) AS deg FROM (
        |    SELECT u AS node FROM e UNION ALL SELECT v FROM e)
        |  GROUP BY node),
        |j AS (
        |  SELECT dx.deg AS x, dy.deg AS y
        |  FROM sym JOIN deg dx ON sym.src = dx.node
        |  JOIN deg dy ON sym.dst = dy.node),
        |sums AS (
        |  SELECT CAST(count(*) AS HUGEINT) AS m,
        |    CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
        |    CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
        |    CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx
        |  FROM j)
        |SELECT CAST(m AS BIGINT) AS m_edges,
        |  CAST((m * sxy - sx * sx) * 1000000
        |    // (m * sxx - sx * sx) AS BIGINT) AS assortativity_fp
        |FROM sums
        |WHERE m * sxx - sx * sx <> 0""".stripMargin)),

    // ------------------------------------------------------------------
    // k-core run to the TRUE fixpoint (k = 60) — q124's production
    // form, now with a full hash-matched oracle: DuckDB's recursive
    // CTE carries the surviving symmetric edge set per round, peels
    // with window-function degrees, and STOPS when a round drops
    // nothing (the survivor count, computed in the same window pass,
    // equals the working count) — exactly kcoreFixpointEdges'
    // unchanged-edge-count test. k = 60 keeps the fixpoint core
    // NON-empty at every test SF (probed sf0.001/0.01/0.1: 1 genuine
    // peel round each) — an empty core is unrepresentable in the
    // UNION ALL recursion, whose last state would silently be the
    // pre-collapse graph. Scale shape: each Spark round is one
    // degree hash-agg + two semi joins on the u-partitioned edge
    // list (exchange reused round-over-round), rounds bound the peel
    // DEPTH, and convergence detection rides the materialization the
    // next round needs anyway.
    QueryDef("q258_kcore_fixpoint",
      (s, dir) => kcoreConverged(s, dir, k = 60),
      Some(s"""WITH RECURSIVE $edgeSql,
        |peel AS (
        |  SELECT u, v, 0 AS r
        |  FROM (SELECT u, v FROM e UNION ALL SELECT v, u FROM e)
        |  UNION ALL
        |  SELECT u, v, r + 1 FROM (
        |    SELECT u, v, r, du, dv,
        |      count(*) OVER () AS n_all,
        |      sum(CASE WHEN du >= 60 AND dv >= 60 THEN 1 ELSE 0 END)
        |        OVER () AS n_surv
        |    FROM (
        |      SELECT u, v, r,
        |        count(*) OVER (PARTITION BY u) AS du,
        |        count(*) OVER (PARTITION BY v) AS dv
        |      FROM peel))
        |  WHERE du >= 60 AND dv >= 60 AND n_surv < n_all)
        |SELECT u AS node, count(*) AS residual_deg
        |FROM peel WHERE r = (SELECT max(r) FROM peel)
        |GROUP BY u ORDER BY node""".stripMargin)),

    // ------------------------------------------------------------------
    // k-core with k DERIVED from the data (see [[kcoreAuto]]):
    // k = max(2, ceil(E/V)), non-empty by construction whenever
    // E ≥ V, so the recursive-CTE oracle's empty-fixpoint blind spot
    // (q258's k=60 is guarded only at probed SFs) cannot be hit at
    // an unprobed dataset. k_derived rides the output: the oracle
    // re-derives the same integer from the same counts, so the hash
    // match pins the derivation rule, not just the peel.
    QueryDef("q268_kcore_auto",
      (s, dir) => kcoreAuto(s, dir),
      Some(s"""WITH RECURSIVE $edgeSql,
        |kv AS (
        |  SELECT greatest(2, (count(*) + nv - 1) // nv) AS k
        |  FROM e, (SELECT count(DISTINCT node) AS nv FROM
        |           (SELECT u AS node FROM e UNION ALL SELECT v FROM e))
        |  GROUP BY nv),
        |peel AS (
        |  SELECT u, v, 0 AS r
        |  FROM (SELECT u, v FROM e UNION ALL SELECT v, u FROM e)
        |  UNION ALL
        |  SELECT u, v, r + 1 FROM (
        |    SELECT u, v, r, du, dv,
        |      count(*) OVER () AS n_all,
        |      sum(CASE WHEN du >= (SELECT k FROM kv)
        |            AND dv >= (SELECT k FROM kv) THEN 1 ELSE 0 END)
        |        OVER () AS n_surv
        |    FROM (
        |      SELECT u, v, r,
        |        count(*) OVER (PARTITION BY u) AS du,
        |        count(*) OVER (PARTITION BY v) AS dv
        |      FROM peel))
        |  WHERE du >= (SELECT k FROM kv) AND dv >= (SELECT k FROM kv)
        |    AND n_surv < n_all)
        |SELECT u AS node, count(*) AS residual_deg,
        |  (SELECT k FROM kv) AS k_derived
        |FROM peel WHERE r = (SELECT max(r) FROM peel)
        |GROUP BY u ORDER BY node""".stripMargin)),

    // ------------------------------------------------------------------
    // Label propagation run to the TRUE fixpoint — q192's production
    // form, hash-matched: the recursive state carries each node's
    // label AND its predecessor label, so the stopping rule ("no
    // label changed this round") is a scan of the working table —
    // no second state copy needed. The emitted round joins the
    // working table twice (new-label argmax + previous-label
    // lookup), which DuckDB's recursion permits; Spark's
    // lpaFixpointEdges computes the identical synchronous update
    // (most frequent neighbor label, ties to the smallest code) and
    // stops on the same changed-count-zero test, so the final label
    // sets agree row-for-row. Converges in 7 rounds at the gate SF;
    // the 20-round cap is a loud-failure backstop for synchronous
    // LPA's bipartite 2-cycles, not a tuning knob.
    QueryDef("q259_lpa_fixpoint",
      (s, dir) => lpaConverged(s, dir).orderBy(col("node")),
      Some(s"""WITH RECURSIVE $edgeSql,
        |sym AS (
        |  SELECT u AS src, v AS dst FROM e
        |  UNION ALL SELECT v, u FROM e),
        |dict AS (
        |  SELECT lbl, CAST(row_number() OVER (ORDER BY lbl) AS BIGINT)
        |    AS code
        |  FROM (SELECT DISTINCT p_brand AS lbl FROM part)),
        |l0 AS (
        |  SELECT n.node, d.code
        |  FROM (SELECT DISTINCT src AS node FROM sym) n
        |  JOIN part p ON p.p_partkey = n.node
        |  JOIN dict d ON d.lbl = p.p_brand),
        |lp AS (
        |  SELECT node, code, CAST(NULL AS BIGINT) AS prev, 0 AS it
        |  FROM l0
        |  UNION ALL
        |  SELECT nl.node, nl.code, o.code AS prev, o.it + 1
        |  FROM (
        |    SELECT src AS node, code FROM (
        |      SELECT n.src, l.code,
        |        row_number() OVER (PARTITION BY n.src
        |          ORDER BY count(*) DESC, l.code) AS rn
        |      FROM sym n JOIN lp l ON l.node = n.dst
        |      GROUP BY n.src, l.code) WHERE rn = 1) nl
        |  JOIN lp o ON o.node = nl.node
        |  WHERE (SELECT count(*) FROM lp
        |         WHERE prev IS NULL OR code <> prev) > 0)
        |SELECT node, code FROM lp WHERE it = (SELECT max(it) FROM lp)
        |ORDER BY node""".stripMargin)),

    // ------------------------------------------------------------------
    // Degree-capped triangle counting (dMax = 16) — the bounded-work
    // sibling of exact q123 for the 100 TB regime, as a first-class
    // hash-matched row: both engines apply the IDENTICAL
    // deterministic cap (degree-oriented edges, each source keeps
    // its 16 smallest-id neighbors), so the under-count is exactly
    // reproducible, and CappedTriangleSpec pins the bias contract
    // (≤ exact, monotone in dMax, = exact when dMax ≥ max oriented
    // out-degree). dMax = 16 because the cap must BITE to bound
    // anything: the co-purchase graph's oriented out-degrees run
    // min/median/max = 1/68/97 at the bench SF (measured), so a
    // 64-cap would keep ~all neighbors and inherit exact q123's
    // data-proportional cost; at 16 the exploded wedge rows and
    // their array payloads are ≤ 16·|V| and 16 ints wide
    // respectively, independent of density. `degree` stays the FULL
    // degree — the readout is "capped triangle mass per real node",
    // not a subgraph metric.
    QueryDef("q261_triangles_capped",
      (s, dir) => trianglesCapped(s, dir, dMax = 16),
      Some(s"""WITH $edgeSql,
        |deg AS (
        |  SELECT node, count(*) AS deg FROM (
        |    SELECT u AS node FROM e UNION ALL SELECT v FROM e)
        |  GROUP BY node),
        |orient AS (
        |  SELECT
        |    CASE WHEN a.deg < b.deg OR (a.deg = b.deg AND e.u < e.v)
        |      THEN e.u ELSE e.v END AS src,
        |    CASE WHEN a.deg < b.deg OR (a.deg = b.deg AND e.u < e.v)
        |      THEN e.v ELSE e.u END AS dst
        |  FROM e JOIN deg a ON a.node = e.u JOIN deg b ON b.node = e.v),
        |capped AS (
        |  SELECT src, unnest(l[1:16]) AS dst FROM (
        |    SELECT src, list_sort(list(dst)) AS l
        |    FROM orient GROUP BY src)),
        |tri AS (
        |  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
        |  FROM capped e1
        |  JOIN capped e2 ON e2.src = e1.dst
        |  JOIN capped e3 ON e3.src = e1.src AND e3.dst = e2.dst),
        |tn AS (
        |  SELECT node, count(*) AS triangles FROM (
        |    SELECT a AS node FROM tri
        |    UNION ALL SELECT b FROM tri
        |    UNION ALL SELECT c FROM tri)
        |  GROUP BY node)
        |SELECT tn.node, deg.deg AS degree, tn.triangles,
        |  CAST(tn.triangles * 2 AS DOUBLE) / (deg.deg * (deg.deg - 1))
        |    AS clustering
        |FROM tn JOIN deg ON tn.node = deg.node
        |ORDER BY tn.triangles DESC, tn.node LIMIT 100""".stripMargin)),

    // ------------------------------------------------------------------
    // Edge-sampled triangle estimate at p = 25% (see
    // [[trianglesSampled]]) — completes the exact/capped/ESTIMATED
    // ladder, and because the sampling coin is md5-derived the whole
    // estimator hash-matches (both engines sample the same subgraph,
    // orient it by the same sampled degrees, and scale by the same
    // integer factor: at p = 25, est = 64·tri exactly).
    QueryDef("q264_triangles_sampled",
      (s, dir) => trianglesSampled(s, dir, pPct = 25),
      Some(s"""WITH $edgeSql,
        |se AS (
        |  SELECT u, v FROM e
        |  WHERE CAST(('0x' || substring(md5(u::VARCHAR || ':' ||
        |    v::VARCHAR), 1, 15)) AS BIGINT) % 100 < 25),
        |deg AS (
        |  SELECT node, count(*) AS deg FROM (
        |    SELECT u AS node FROM se UNION ALL SELECT v FROM se)
        |  GROUP BY node),
        |orient AS (
        |  SELECT
        |    CASE WHEN a.deg < b.deg OR (a.deg = b.deg AND se.u < se.v)
        |      THEN se.u ELSE se.v END AS src,
        |    CASE WHEN a.deg < b.deg OR (a.deg = b.deg AND se.u < se.v)
        |      THEN se.v ELSE se.u END AS dst
        |  FROM se JOIN deg a ON a.node = se.u JOIN deg b ON b.node = se.v),
        |tri AS (
        |  SELECT count(*) AS tri_sampled
        |  FROM orient e1
        |  JOIN orient e2 ON e2.src = e1.dst
        |  JOIN orient e3 ON e3.src = e1.src AND e3.dst = e2.dst)
        |SELECT CAST(25 AS BIGINT) AS p_pct,
        |  (SELECT count(*) FROM se) AS n_edges_sampled,
        |  tri_sampled,
        |  tri_sampled * 1000000 // 15625 AS est_triangles
        |FROM tri""".stripMargin)),

    // ------------------------------------------------------------------
    // Incremental triangle maintenance (see [[trianglesIncremental]])
    // — standing per-node counts + an arriving order shard, merged by
    // the 1/2/3-delta-edge decomposition without recounting the base
    // graph. The ORACLE recounts base and merged graphs from scratch,
    // so the hash match is the merged==rebuilt proof per node.
    QueryDef("q272_triangles_incremental",
      (s, dir) => trianglesIncremental(s, dir),
      Some(s"""WITH $edgeSql,
        |bli AS (
        |  SELECT ok, pk FROM li
        |  WHERE CAST(('0x' || substring(md5(CAST(ok AS VARCHAR)), 1, 15))
        |    AS BIGINT) % 100 < 80),
        |be AS (
        |  SELECT DISTINCT a.pk AS u, b.pk AS v
        |  FROM bli a JOIN bli b ON a.ok = b.ok AND a.pk < b.pk),
        |tri AS (
        |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
        |  FROM e e1
        |  JOIN e e2 ON e2.u = e1.v
        |  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
        |tn AS (
        |  SELECT node, count(*) AS tri FROM (
        |    SELECT a AS node FROM tri
        |    UNION ALL SELECT b FROM tri
        |    UNION ALL SELECT c FROM tri)
        |  GROUP BY node),
        |btri AS (
        |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
        |  FROM be e1
        |  JOIN be e2 ON e2.u = e1.v
        |  JOIN be e3 ON e3.u = e1.u AND e3.v = e2.v),
        |btn AS (
        |  SELECT node, count(*) AS tri FROM (
        |    SELECT a AS node FROM btri
        |    UNION ALL SELECT b FROM btri
        |    UNION ALL SELECT c FROM btri)
        |  GROUP BY node)
        |SELECT tn.node,
        |  CAST(coalesce(btn.tri, 0) AS BIGINT) AS tri_base,
        |  CAST(tn.tri - coalesce(btn.tri, 0) AS BIGINT) AS tri_added,
        |  CAST(tn.tri AS BIGINT) AS tri_merged
        |FROM tn LEFT JOIN btn ON btn.node = tn.node
        |ORDER BY tri_merged DESC, tn.node LIMIT 100""".stripMargin)),

    // ------------------------------------------------------------------
    // Triangle maintenance under EDGE RETRACTION (see
    // [[trianglesRetract]]) — the forget half of q272's absorb: the
    // standing counts are DECREMENTED by the delta decomposition run
    // against the retained adjacency, never recounted. The oracle
    // recounts full and retained graphs from scratch, so the hash
    // match is the retracted==rebuilt proof per node.
    QueryDef("q275_triangles_retract",
      (s, dir) => trianglesRetract(s, dir),
      Some(s"""WITH $edgeSql,
        |ret AS (
        |  SELECT u, v FROM e
        |  WHERE CAST(('0x' || substring(md5(u::VARCHAR || ':' ||
        |    v::VARCHAR), 1, 15)) AS BIGINT) % 100 < 90),
        |tri AS (
        |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
        |  FROM e e1
        |  JOIN e e2 ON e2.u = e1.v
        |  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
        |tn AS (
        |  SELECT node, count(*) AS tri FROM (
        |    SELECT a AS node FROM tri
        |    UNION ALL SELECT b FROM tri
        |    UNION ALL SELECT c FROM tri)
        |  GROUP BY node),
        |rtri AS (
        |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
        |  FROM ret e1
        |  JOIN ret e2 ON e2.u = e1.v
        |  JOIN ret e3 ON e3.u = e1.u AND e3.v = e2.v),
        |rtn AS (
        |  SELECT node, count(*) AS tri FROM (
        |    SELECT a AS node FROM rtri
        |    UNION ALL SELECT b FROM rtri
        |    UNION ALL SELECT c FROM rtri)
        |  GROUP BY node)
        |SELECT tn.node,
        |  CAST(tn.tri AS BIGINT) AS tri_full,
        |  CAST(tn.tri - coalesce(rtn.tri, 0) AS BIGINT) AS tri_removed,
        |  CAST(coalesce(rtn.tri, 0) AS BIGINT) AS tri_retained
        |FROM tn LEFT JOIN rtn ON rtn.node = tn.node
        |ORDER BY tri_retained DESC, tn.node LIMIT 100""".stripMargin))
  )
}
