package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{BooleanType, LongType, StructField, StructType}

import graft.queries.{Ckpt, PushRanks}
import PartitionedArtifact.{ByPart, PartsDelta, TableSpec, Whole, WholeDelta}

/** Streaming maintenance of a standing PageRank vector by RESIDUAL
  * PUSH — the delta-localized successor of the round-13 warm-fixpoint
  * loop, which paid an O(|E|) re-preparation plus whole-graph spreads
  * every micro-batch. Both costs are gone structurally:
  *
  *  - '''prepare is memoized in the artifact''': the SYMMETRIZED edge
  *    list is standing state, partitioned by a fixed hash bucket of
  *    the source node ([[PushRanks.bucketOf]]), and the out-degrees
  *    live in the |V|-row state table — no batch ever re-symmetrizes,
  *    re-degrees, or re-partitions the graph;
  *  - '''compute is residual-local''': the state table carries the
  *    exact incoming-mass sums `m`, so a structural delta perturbs
  *    residuals only at its neighborhood and [[PushRanks.pushLoop]]
  *    settles them reading ONLY the active frontier's buckets
  *    (partition-pruned `readParts`, machine-checked per batch by the
  *    `_READS` counter alongside `_STATS`' write bound).
  *
  * Event stream: `(kind, src, dst)` — `kind = "add"` is a directed
  * edge arrival (set semantics per (src,dst) pair, first write wins:
  * a duplicate would inflate degrees and shift every rank),
  * `kind = "del"` retracts the node `src` (dst ignored) and every
  * incident edge — [[StandingGraph]]'s CDC contract, deletes before
  * adds within a batch, completing the delete channel the round-13
  * verdict flagged as missing here. A plain `(src, dst)` stream
  * (no `kind` column) is an add-only stream.
  *
  * Per-batch I/O: fresh edges APPEND their two symmetric rows into
  * their buckets (the fragmentation ceiling
  * [[PartitionedArtifact.maxPartRefs]] bounds reader fan-in); deletes
  * REPLACE only the buckets of the deleted nodes and their neighbors.
  * The state table is Whole-per-version |V|-row small state, exactly
  * like every label/rank vector in the family. Exactly-once, replay,
  * bootstrap, and the first-batch guard are [[PartitionedArtifact]]'s
  * contract; the push arithmetic is deterministic integer work, so a
  * crash-debris recompute reproduces the committed bytes bit-for-bit.
  *
  * The published rank view converts to the familiar normalized
  * 10⁻¹² scale (`r = p·1000 div n`); `push_rounds` rides in the state
  * table like `warm_rounds` did, so the trajectory length of the last
  * absorb stays readable between batches (the q283 discipline).
  */
object StandingRanks {

  private val SymSchema = StructType(Seq(
    StructField("src", LongType), StructField("dst", LongType),
    StructField("orig", BooleanType), StructField("bucket", LongType)))
  private val StateSchema = StructType(Seq(
    StructField("node", LongType), StructField("p", LongType),
    StructField("m", LongType), StructField("deg", LongType),
    StructField("push_rounds", LongType)))
  private[graft] val Specs: Map[String, TableSpec] = Map(
    "sym" -> TableSpec(SymSchema, ByPart("bucket")),
    "state" -> TableSpec(StateSchema, Whole))

  private def nb: Int = PushRanks.numBuckets

  /** both directions of a fresh raw edge set, bucket-keyed; `orig`
    * marks the as-delivered direction so the first-write gate can
    * probe raw pairs without seeing mirrors. */
  private def symmetrize(fresh: DataFrame): DataFrame =
    fresh.select(col("src"), col("dst"), lit(true).as("orig"))
      .unionByName(fresh.select(col("dst").as("src"),
        col("src").as("dst"), lit(false).as("orig")))
      .withColumn("bucket", PushRanks.bucketOf(col("src"), nb))

  private val absorb: (PartitionedArtifact.Standing, DataFrame, Long)
      => Map[String, PartitionedArtifact.Delta] =
    (standing, batch, _) => {
      val hasKind = batch.schema.fieldNames.contains("kind")
      val adds = (if (hasKind) batch.filter(col("kind") === "add")
        else batch)
        .select(col("src").cast("long"), col("dst").cast("long"))
        .distinct()
      val dels = (if (hasKind) batch.filter(col("kind") === "del")
        else batch.limit(0))
        .select(col("src").cast("long").as("node")).distinct()
      val state0 = standing.table("state")
        .select(col("node"), col("p"), col("m"), col("deg"))
      val hasAdds = !adds.isEmpty
      val hasDels = !dels.isEmpty
      if (!hasAdds && !hasDels)
        Map("sym" -> PartsDelta(
            standing.readParts("sym", Seq.empty), Seq.empty),
          "state" -> WholeDelta(standing.table("state")))
      else {
        val x = Ckpt.cut(dels, true)
        // ---- deletes first (CDC order): drop the nodes, their
        // incident rows, and fix the neighborhood's (m, deg)
        val standingFor: Seq[Long] => DataFrame =
          bs => standing.readParts("sym", bs)
        val state1 =
          if (!hasDels) state0
          else PushRanks.applyDels(state0, x, standingFor, nb)
        // post-delete storage view: standing rows minus anything
        // incident to a deleted node
        val survFor: Seq[Long] => DataFrame =
          if (!hasDels) standingFor
          else bs => standingFor(bs)
            .join(x.withColumnRenamed("node", "src"), Seq("src"),
              "left_anti")
            .join(x.withColumnRenamed("node", "dst"), Seq("dst"),
              "left_anti")
        // ---- adds on top: first-write-wins per raw (src,dst) pair,
        // probed against the post-delete ORIG rows of the adds'
        // buckets only (a same-batch re-add of a deleted edge is a
        // legal CDC re-introduction)
        val fresh =
          if (!hasAdds) None
          else {
            val bsA = adds
              .select(PushRanks.bucketOf(col("src"), nb).as("b"))
              .distinct().collect().map(_.getLong(0)).toSeq.sorted
            Some(Ckpt.cut(symmetrize(Gate.antiAgainstStanding(
              survFor(bsA).filter(col("orig")).select(col("src"),
                col("dst")),
              adds, Seq("src", "dst"))), true))
          }
        val state2 = fresh match {
          case Some(f) =>
            PushRanks.applyAdds(state1, f.select(col("src"), col("dst")),
              bs => survFor(bs).select(col("src"), col("dst")), nb)
          case None => state1
        }
        // ---- settle the residuals the structural delta created,
        // reading only the active frontier's buckets each round
        val pushFor: Seq[Long] => DataFrame = bs => {
          val base = survFor(bs).select(col("src"), col("dst"))
          fresh match {
            case Some(f) => base.unionByName(
              f.filter(col("bucket").isin(bs: _*))
                .select(col("src"), col("dst")))
            case None => base
          }
        }
        val st2 = Ckpt.cut(state2, true)
        val (settled, rounds) = PushRanks.pushLoop(
          st2, pushFor, nb,
          PushRanks.thetaFor(math.max(1L, st2.count())))
        // ---- writes: deletes replace the touched buckets (their
        // surviving rows rewritten), fresh rows append to untouched
        // buckets; a pure-insert batch writes exactly 2·|fresh| rows
        val (replaceBuckets, replaceRows) =
          if (!hasDels) (Seq.empty[Long], None)
          else {
            val bsX = x.select(PushRanks.bucketOf(col("node"), nb)
                .as("b")).distinct().collect().map(_.getLong(0)).toSeq
            val nbrs = standingFor(bsX)
              .join(x.withColumnRenamed("node", "src"), Seq("src"),
                "left_semi")
              .select(col("dst").as("node"))
              .join(x, Seq("node"), "left_anti")
            val bsW = nbrs.select(PushRanks.bucketOf(col("node"), nb)
                .as("b")).distinct().collect().map(_.getLong(0)).toSeq
            val bs = (bsX ++ bsW).distinct.sorted
            (bs, Some(survFor(bs)))
          }
        val (freshInReplaced, freshAppend) =
          if (replaceBuckets.isEmpty) (None, fresh)
          else (
            fresh.map(_.filter(col("bucket").isin(replaceBuckets: _*))),
            fresh.map(_.filter(!col("bucket").isin(replaceBuckets: _*))))
        val replaced = replaceRows
          .map(r => freshInReplaced.map(r.unionByName(_)).getOrElse(r))
          .getOrElse(standing.readParts("sym", Seq.empty))
        Map(
          "sym" -> PartsDelta(replaced, replaceBuckets, freshAppend),
          "state" -> WholeDelta(settled
            .withColumn("push_rounds", lit(rounds.toLong))))
      }
    }

  /** the current (edges, ranks) views — bucket partitioning and the
    * push state are internal; `edges` is the as-delivered directed
    * pair set, `ranks` the normalized (node, r, push_rounds) vector
    * with the LAST absorb's round count on every row. */
  def readLatest(s: SparkSession, root: String): Map[String, DataFrame] =
    PartitionedArtifact.readLatestViews(s, root, Specs)(
      "edges" -> (_.table("sym").filter(col("orig"))
        .select(col("src"), col("dst"))),
      "ranks" -> { st =>
        val state = st.table("state")
        val n = math.max(1L, state.count())
        PushRanks.normalized(
            state.select(col("node"), col("p"), col("m"), col("deg")), n)
          .join(state.select(col("node"), col("push_rounds")), Seq("node"))
          .select(col("node"), col("r"), col("push_rounds"))
      })

  /** seed from a batch-built directed edge set: symmetrizes, buckets,
    * and runs the one-off O(|E|) consistent-state construction plus a
    * cold push to the family tolerance (version -1). */
  def bootstrap(edges: DataFrame, root: String): Unit = {
    val raw = edges.select(col("src").cast("long"),
      col("dst").cast("long")).distinct()
    val sym = Ckpt.cut(symmetrize(raw), true)
    val plain = sym.select(col("src"), col("dst"))
    val n = math.max(1L,
      plain.select(col("src")).distinct().count())
    val (settled, rounds) = PushRanks.pushLoop(
      PushRanks.coldState(plain), _ => plain, nb,
      PushRanks.thetaFor(n))
    PartitionedArtifact.bootstrap(Map(
      "sym" -> sym,
      "state" -> settled
        .withColumn("push_rounds", lit(rounds.toLong))), root, Specs)
  }

  /** one absorb step — the foreachBatch body, callable directly for
    * deterministic-replay tests. */
  def absorbBatch(events: DataFrame, batchId: Long, root: String): Unit =
    PartitionedArtifact.absorbBatch(events, batchId, root, Specs)(absorb)

  /** start the loop over a (src, dst) add stream or a
    * (kind, src, dst) changelog stream. */
  def maintainStream(events: DataFrame, root: String,
      checkpoint: String): StreamingQuery = {
    require(Set("src", "dst").subsetOf(events.schema.fieldNames.toSet),
      s"edge stream must have columns (src, dst) [+ optional kind], " +
        s"got ${events.schema.fieldNames.mkString(",")}")
    PartitionedArtifact.maintain(events, root, checkpoint, Specs)(absorb)
  }
}
