package graft

/** Catalog-wide physical-plan guard: no unpartitioned cartesian
  * products anywhere, and BroadcastNestedLoopJoin only where a
  * broadcast cross/theta against a tiny side is the intended design
  * (the three KNN queries broadcasting a 10-vector query set, and the
  * pure theta join broadcasting 5 price tiers). Catches accidental
  * join-condition regressions (a dropped equi key silently turns a
  * hash join into a cross product that only explodes at scale).
  */
class PlanAuditSpec extends SparkSpec {

  private val intendedBroadcastCross =
    Set("q40_knn_bruteforce", "q43_knn_native", "q44_knn_ivf",
      "q67_knn_ivf_probe", "q55_theta_join", "q126_hard_negatives",
      // 1-row × 1-row cross of two aggregate summaries (rule counts)
      "q135_constraint_check",
      // 20-row TakeOrdered × broadcast 1-row corpus total — the skew
      // screen's share-of-total readout; the fact scan never crosses
      "q233_join_skew_screen",
      // composes q40/q41 verbatim, so it inherits q40's intended
      // broadcast of the 10-vector query set
      "q234_ann_eval",
      // per key pair, a 1-row sketch summary × 1-row exact audit —
      // the q135 two-scalar-summaries shape
      "q237_kmv_join_overlap",
      // range self-join over the per-DAY sketch table: ~1 row per day
      // ever (the fact table is never in the join), so a broadcast
      // nested loop over the range condition is the intended plan
      "q93_rolling_distinct",
      // same shape, portable-HLL twin: the rolling merge range-joins
      // the tiny days list against per-day registers (days × ≤16
      // rows) and distinct (day, user) pairs — never the event scan
      "q178_rolling_hll_portable",
      // KS evaluation grid: distinct length values × the ~5-row
      // per-source count table (broadcast) — the corpus scan itself
      // never crosses, only its value-domain summary
      "q227_ks_source_drift",
      // per-type totals (~5 rows) × the 9-row Benford literal table —
      // the digit grid that re-inserts zero-count digits; the event
      // scan feeds only hash-aggs
      "q246_benford",
      // greedy MMR: the corpus crosses a BROADCAST ≤5-row side twice
      // (the single query vector for relevance, the picked set per
      // step) — the q40 intended-broadcast shape, k-bounded
      "q247_mmr_coreset",
      // 1-row sampled-edge count × 1-row triangle total — the q135
      // two-scalar-summaries shape
      "q264_triangles_sampled",
      // evaluates q67's IVF ranking verbatim, so it inherits q67's
      // intended broadcast cross of the 10 query vectors with the
      // centroid table — the bounded query×centroid shape of
      // q44/q67/q234; the embedding corpus never crosses
      "q266_ann_eval_families")

  test("no CartesianProduct; BNLJ only where a broadcast cross is intended") {
    // every query is audited before failing, so one offender cannot
    // hide the ones planned after it
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val plan = fn(spark, sf()).queryExecution.executedPlan.toString
      (if (plan.contains("CartesianProduct"))
        Seq(s"$name plans a CartesianProduct") else Seq.empty) ++
      (if (!intendedBroadcastCross(name) &&
          plan.contains("BroadcastNestedLoopJoin"))
        Seq(s"$name plans an unintended BroadcastNestedLoopJoin")
      else Seq.empty)
    }
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
  }

  /** The TPC-H-shaped join graphs carry NO broadcast hints on sides
    * that grow with scale factor (customer, supplier, the q75 HAVING
    * output) — a forced hint bypasses Spark's size checks and OOMs
    * the driver at 100 TB, where the correct degradation is a
    * shuffled SMJ/SHJ. This asserts the other half of the contract at
    * the BENCH scale factor (sf0.1, the driver's bench dataset): AQE
    * still chooses broadcast for EVERY join from measured runtime
    * sizes — no SortMergeJoin/ShuffledHashJoin anywhere in the final
    * adaptive plan — so dropping the hints cost nothing. (A bare
    * contains("BroadcastHashJoin") would be vacuous: the bounded
    * nation/region dims keep explicit hints, so one broadcast always
    * exists; the no-shuffled-join form fails the moment a de-hinted
    * side degrades.) */
  test("q68/q69/q75: AQE broadcasts every join at bench SF without hints") {
    Seq("q68_shipping_priority", "q69_local_volume", "q75_large_orders")
      .foreach { name =>
        val df = SparkEntry.queries(name)(spark, sf("sf0.1"))
        df.collect() // materialize so AQE finalizes the adaptive plan
        val plan = df.queryExecution.executedPlan.toString
        assert(plan.contains("BroadcastHashJoin"),
          s"$name: no broadcast join at bench SF:\n$plan")
        assert(!plan.contains("SortMergeJoin") &&
          !plan.contains("ShuffledHashJoin"),
          s"$name: a de-hinted join degraded to a shuffled join at " +
            s"bench SF — AQE no longer picks broadcast:\n$plan")
        assert(!plan.contains("CartesianProduct"), s"$name cartesian")
      }
  }

  /** The hot custom expressions must stay INSIDE whole-stage codegen
    * — their entire reason to exist over the built-in/HOF forms is
    * the fused primitive loop (SortedIntersect replaced an
    * array_intersect that was the dominant cost of q123). A future
    * Spark upgrade or an accidental CodegenFallback mix-in would
    * silently de-optimize them; this pins both the class contract
    * and the actual plan placement: every plan line mentioning the
    * function must carry the `*(n)` whole-stage-codegen marker. */
  test("hot custom expressions codegen: no fallback in q123/q84/q60 plans") {
    import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
    Seq(classOf[graft.functions.SortedIntersect],
      classOf[graft.functions.SquaredL2],
      classOf[graft.functions.CosineSimilarity]).foreach { c =>
      assert(!classOf[CodegenFallback].isAssignableFrom(c),
        s"${c.getSimpleName} is CodegenFallback — doGenCode is dead code")
    }
    Seq("q123_triangles" -> "sorted_common(",
      "q84_knn_pq" -> "sq_l2_dist(",
      "q60_embed_neardup" -> "cosine_sim(").foreach { case (name, fn) =>
      val df = SparkEntry.queries(name)(spark, sf())
      df.collect() // finalize AQE so codegen stages appear in the plan
      // drop AQE's "Initial Plan" echo — only the FINAL plan's
      // placement matters (the initial section never carries `*(n)`)
      val plan = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      val lines = plan.linesIterator.filter(_.contains(fn)).toSeq
      assert(lines.nonEmpty, s"$name: $fn not found in physical plan")
      lines.foreach { l =>
        assert(l.contains("*("),
          s"$name: $fn evaluated outside WholeStageCodegen:\n$l")
      }
    }
  }

  /** q124's peel loop hash-partitions the symmetric edge list by u
    * ONCE and relies on checkpoint-recorded partitioning + broadcast
    * semi joins to keep every later degree groupBy(u) exchange-free
    * (round-8 change: isolated 5.5 → 2.6 s at sf0.1). The reuse is
    * invisible in correctness and easy to lose silently — a Spark
    * upgrade dropping LogicalRDD partitioning, or a join reorder
    * breaking the pass-through, would re-shuffle |E| rows per round.
    * Pin it: the FINAL stage (residual-degree agg over the last
    * checkpointed round) must contain NO hash-partitioning exchange —
    * the only exchange allowed after the last checkpoint is the
    * presentation sort's range partitioning. */
  test("q124 final degree agg reuses the checkpointed u-partitioning") {
    val df = SparkEntry.queries("q124_kcore")(spark, sf())
    df.collect() // finalize the adaptive plan
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("HashAggregate"), s"q124: no final agg?\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      "q124: the final degree agg re-shuffles the checkpointed edge " +
        s"list — partitioning reuse lost:\n$plan")
  }

  test("fixpoint rounds never re-exchange the pre-partitioned edge list") {
    // round-11 find: under AQE, an EAGER checkpoint records
    // UnknownPartitioning (Dataset.checkpoint reads the adaptive plan
    // root), so every fixpoint round silently re-exchanged its edge
    // list — Ckpt.cutPartitioned pins the layout again. These pins
    // hold the contract: per round, the ONLY exchanges carry |V|-row
    // state (or the round's own aggregation), never the edge list.
    import org.apache.spark.sql.functions._
    val dir = sf()
    // PageRank round over the src-partitioned transaction graph:
    // exchanges = ranks (build side) + the dst groupBy. The ej scan
    // must be a bare ExistingRDD scan with no Exchange above it.
    val (ej, _) = queries.PipelineOps.transactionGraph(spark, dir)
    val ranks = ej.select(col("src").as("node")).distinct()
      .withColumn("r", lit(1L)).localCheckpoint(true)
    val pr = queries.PipelineOps.prRound(ej, ranks, 1L)
    pr.collect()
    val prPlan = pr.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(prPlan.contains("ShuffledHashJoin"), prPlan)
    assert(!prPlan.contains("SortMergeJoin"),
      s"prRound re-sorts the edge list every round:\n$prPlan")
    val prEx = prPlan.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(prEx <= 2, s"prRound plans $prEx exchanges (edge list moved?):\n$prPlan")
    // LPA fallback round over the dst-partitioned symmetric edges:
    // exchanges = labels + (src, code) agg + src window. The plan
    // shape is data-independent — a generated ring graph suffices.
    val e = spark.range(1000).select(col("id").as("u"),
      ((col("id") + 1) % 1000).as("v"))
    val sym0 = e.select(col("u").as("src"), col("v").as("dst"))
      .unionAll(e.select(col("v").as("src"), col("u").as("dst")))
    val sym = queries.Ckpt.cutPartitioned(sym0.repartition(col("dst")))
    val seeds = sym.select(col("src").as("node")).distinct()
      .withColumn("code", col("node")).localCheckpoint(true)
    val lpa = queries.GraphOps.lpaRound(sym, seeds, broadcastLabels = false)
    lpa.collect()
    val lpaPlan = lpa.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val lpaEx = lpaPlan.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(lpaEx <= 3, s"LPA fallback round plans $lpaEx exchanges:\n$lpaPlan")
    assert(!lpaPlan.contains("SortMergeJoin"), lpaPlan)
  }

  /** Portable-sketch plans: q175's estimate probe must BROADCAST the
    * 20-row candidate side against the 4096-cell counter table (a
    * shuffled join here would re-shuffle the counters for nothing),
    * and q177's bottom-k must run TopKMin with a PARTIAL phase (the
    * map-side ≤k-per-partition reduce is the entire scale story of a
    * KMV sketch — losing it shuffles every distinct hash). */
  test("q175 probes counters via broadcast; q177 TopKMin aggregates partially") {
    val cms = SparkEntry.queries("q175_cms_portable")(spark, sf())
    cms.collect()
    val cmsPlan = cms.queryExecution.executedPlan.toString
    assert(cmsPlan.contains("BroadcastHashJoin"),
      s"q175: counter probe not broadcast:\n$cmsPlan")
    assert(!cmsPlan.contains("SortMergeJoin"),
      s"q175: counter probe degraded to a shuffled join:\n$cmsPlan")
    val kmv = SparkEntry.queries("q177_kmv_distinct")(spark, sf())
    val kmvPlan = kmv.queryExecution.executedPlan.toString
    assert(kmvPlan.contains("partial_topkmin"),
      s"q177: TopKMin lost its partial (map-side) phase:\n$kmvPlan")
  }

  test("scans prune columns: no query reads full lineitem width") {
    val full = spark.read.parquet(s"${sf()}/lineitem.parquet").columns.length
    Seq("q04_topk_per_key", "q06_join_revenue", "q18_distinct_agg",
      "q145_topk_agg", "q149_vwap")
      .foreach { name =>
        val plan = SparkEntry.queries(name)(spark, sf())
          .queryExecution.executedPlan.toString
        val readSchemas = "ReadSchema: struct<([^>]*)>".r
          .findAllMatchIn(plan).map(_.group(1)).toSeq
        assert(readSchemas.nonEmpty, s"$name: no parquet scan found")
        readSchemas.foreach { cols =>
          assert(cols.split(",").length < full,
            s"$name scan reads full width: $cols")
        }
      }
  }

  /** The two plan shapes the round-8 sf1 probe fixed, pinned so they
    * can't silently regress: q197 must not plan an Expand (the
    * count_distinct-beside-sum trap doubles every input row before
    * the shuffle), and q201's |E|-row label-attach joins must not
    * sort-merge (the SHUFFLE_HASH hints keep the edge rows unsorted;
    * AQE may upgrade the build side to broadcast, which is fine). */
  test("q197 plans no Expand; q201 label joins don't sort-merge") {
    val q197 = SparkEntry.queries("q197_ngram_diversity")(spark, sf())
      .queryExecution.executedPlan.toString
    assert(!q197.contains("Expand"),
      s"q197 re-grew a count_distinct Expand:\n$q197")
    val q201 = SparkEntry.queries("q201_graph_modularity")(spark, sf())
      .queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!q201.contains("SortMergeJoin"),
      s"q201 label-attach joins degraded to sort-merge:\n$q201")
  }

  /** The round-9 scale fixes, pinned: q165/q166 were correct but
    * parallelism-capped — their sweeps ran in windows partitioned by
    * `day` (~30 values) / `event_type` (~4 values) ALONE, serializing
    * the whole event table through a constant number of tasks
    * (sf1/sf0.1 was 15-18× for 10× data). The two-phase rewrite makes
    * every window either sub-bucketed or a ≤257-row-per-key summary
    * cumsum whose spec carries the bucket column; so every Window
    * node in both plans must mention `bucket`. q167's countDistinct
    * Expand was replaced by the q197 two-level pre-agg — pin no
    * Expand, same style. */
  test("q165/q166 windows are bucketed; q167 plans no Expand") {
    // q239 joined the family in round 9: its fact-scan windows must
    // carry (event_type, bucket); its summary windows run over the
    // ≤256-row per-bucket table and name `bucket` as their sort key
    // round 10 closed the rest of the class: q114/q154 carry the
    // trailing-K context via Bucketed.withTrailingCarry, q119 ranks
    // in value-range buckets (q95 shape), q150/q151/q152 stitch
    // boundary lag/sign/peak at summary level. q107 left the family
    // by losing its window entirely (totals agg + broadcast join).
    Seq("q165_peak_concurrency", "q166_interarrival",
        "q239_roll_autocov", "q241_amihud",
        "q114_rolling_outliers", "q119_equidepth_bins",
        "q150_tick_flow", "q151_realized_vol",
        "q152_max_drawdown", "q154_ewma").foreach { name =>
      val plan = SparkEntry.queries(name)(spark, sf())
        .queryExecution.executedPlan.toString
      val winLines = plan.linesIterator
        .filter(_.contains("windowspecdefinition(")).toSeq
      assert(winLines.nonEmpty, s"$name: no Window node found\n$plan")
      winLines.foreach { l =>
        assert(l.contains("bucket"),
          s"$name: a window lost its bucket key (low-cardinality " +
            s"partition — serializes at scale):\n$l")
      }
    }
    val q107 = SparkEntry.queries("q107_drift_report")(spark, sf())
      .queryExecution.executedPlan.toString
    assert(!q107.contains("windowspecdefinition("),
      s"q107 re-grew a per-type window (totals ride a broadcast " +
        s"join now):\n$q107")
    val q167 = SparkEntry.queries("q167_cohort_ltv")(spark, sf())
      .queryExecution.executedPlan.toString
    assert(!q167.contains("Expand"),
      s"q167 re-grew a count_distinct Expand:\n$q167")
  }
}
