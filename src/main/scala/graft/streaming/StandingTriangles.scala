package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{ArrayType, LongType, StructField, StructType}

import graft.queries.{Ckpt, GraphOps}
import PartitionedArtifact.{ByPart, PartsDelta, TableSpec}

/** Streaming maintenance of per-node triangle counts — the loop form
  * of q272's 1/2/3-delta-edge absorb and q275's decrement retraction,
  * closing the batch-only gap the round-13 verdict flagged. Each
  * micro-batch of canonical edge events `(kind, u, v)` absorbs into a
  * standing (adj, counts) artifact by the SAME decomposition both
  * batch laws share ([[GraphOps.deltaTriCorners]]): triangles
  * touching ≥ 1 delta edge, counted per corner against the
  * appropriate base adjacency — GAINED for adds (base = post-delete
  * standing graph), LOST for deletes (base = retained graph) —
  * so loop-maintained counts equal a from-scratch
  * [[GraphOps.triCorners]] over the surviving edges at every step
  * (StandingTrianglesSpec's law). Deletes apply before adds within a
  * batch; a same-batch re-add re-introduces the edge
  * ([[StandingGraph]]'s CDC contract). A `kind`-less `(u, v)` stream
  * is add-only.
  *
  * State shape is the scale story:
  *  - `adj` (node, nb, bucket) — the sorted-array symmetric adjacency
  *    (q272's `tri_adj_base` artifact shape), partitioned by a FIXED
  *    hash bucket of the node: every probe the decomposition needs
  *    (common-neighborhood, wedge closure, existence gate) touches
  *    only DELTA-ENDPOINT nodes, so each absorb opens only their
  *    buckets (partition-pruned, `_READS`-checked); touched buckets
  *    REPLACE (their rows' arrays trim/extend), brand-new nodes in
  *    untouched buckets APPEND, and the
  *    [[PartitionedArtifact.maxPartRefs]] ceiling bounds fragmentation;
  *  - `counts` (node, tri, epoch) — SIGNED per-epoch contributions,
  *    epoch-append like the band index's collision table: an absorb
  *    writes only its own delta rows (+gained / −lost), the read view
  *    sums per node, and the [[PartitionedArtifact.epochFoldSet]]
  *    horizon (knob [[PartitionedArtifact.maxLiveEpochs]])
  *    folds aged epochs into the base so the partition count stays
  *    bounded on an unbounded stream.
  *
  * Exactly-once, replay, bootstrap (from q272's `tri_adj_base` +
  * `tri_counts_base` artifacts) are [[PartitionedArtifact]]'s
  * contract; the decomposition is deterministic integer counting, so
  * crash-debris recompute reproduces committed bytes bit-for-bit.
  */
object StandingTriangles {

  private val AdjSchema = StructType(Seq(
    StructField("node", LongType),
    StructField("nb", ArrayType(LongType)),
    StructField("bucket", LongType)))
  private val CntSchema = StructType(Seq(
    StructField("node", LongType), StructField("tri", LongType),
    StructField("epoch", LongType)))
  private[graft] val Specs: Map[String, TableSpec] = Map(
    "adj" -> TableSpec(AdjSchema, ByPart("bucket")),
    "counts" -> TableSpec(CntSchema, ByPart("epoch")))

  private def nb: Int = graft.queries.PushRanks.numBuckets
  private def bucketOf(c: org.apache.spark.sql.Column) =
    graft.queries.PushRanks.bucketOf(c, nb)

  /** canonical distinct (u < v) edge set of an event slice. */
  private def canon(df: DataFrame): DataFrame = df
    .select(least(col("u"), col("v")).as("u"),
      greatest(col("u"), col("v")).as("v"))
    .filter(col("u") < col("v")).distinct()

  private val absorb: (PartitionedArtifact.Standing, DataFrame, Long)
      => Map[String, PartitionedArtifact.Delta] =
    (standing, batch, epoch) => {
      graft.functions.SortedIntersect.register(batch.sparkSession)
      val hasKind = batch.schema.fieldNames.contains("kind")
      val addsRaw = canon((if (hasKind)
          batch.filter(col("kind") === "add") else batch)
        .select(col("u").cast("long"), col("v").cast("long")))
      val delsRaw = canon((if (hasKind)
          batch.filter(col("kind") === "del") else batch.limit(0))
        .select(col("u").cast("long"), col("v").cast("long")))
      val adds = Ckpt.cut(addsRaw, true)
      val dels = Ckpt.cut(delsRaw, true)
      val hasAdds = !adds.isEmpty
      val hasDels = !dels.isEmpty
      if (!hasAdds && !hasDels)
        Map("adj" -> PartsDelta(
            standing.readParts("adj", Seq.empty), Seq.empty),
          "counts" -> PartsDelta(
            standing.readParts("counts", Seq.empty), Seq(epoch)))
      else {
        // every adjacency row the batch can touch lives in the
        // endpoints' buckets — ≤ nb values, one bounded driver step
        val endpoints = adds.select(col("u").as("node"))
          .unionByName(adds.select(col("v").as("node")))
          .unionByName(dels.select(col("u").as("node")))
          .unionByName(dels.select(col("v").as("node")))
          .distinct()
        val bs = endpoints.select(bucketOf(col("node")).as("b"))
          .distinct().collect().map(_.getLong(0)).toSeq.sorted
        val slice0 = Ckpt.cut(standing.readParts("adj", bs)
          .select(col("node"), col("nb")), true)
        // ---- deletes first, against the standing adjacency: only
        // edges that EXIST delete (v must appear in nb(u))
        val delsEff = Ckpt.cut(
          if (!hasDels) dels.limit(0)
          else dels
            .join(slice0.withColumnRenamed("node", "u"), Seq("u"))
            .filter(array_contains(col("nb"), col("v")))
            .select(col("u"), col("v")), true)
        // trim deleted neighbors out of touched rows (array_except
        // keeps first-array order, so sortedness survives)
        val delNb = delsEff.select(col("u").as("node"), col("v").as("x"))
          .unionByName(delsEff.select(col("v").as("node"),
            col("u").as("x")))
          .groupBy(col("node"))
          .agg(sort_array(collect_list(col("x"))).as("dnb"))
        val slice1 = Ckpt.cut(slice0
          .join(delNb, Seq("node"), "left_outer")
          .select(col("node"),
            when(col("dnb").isNull, col("nb"))
              .otherwise(array_except(col("nb"), col("dnb"))).as("nb")),
          true)
        val lost =
          if (delsEff.isEmpty) None
          else Some(GraphOps.deltaTriCorners(slice1, delsEff, "t")
            .select(col("node"), (-col("t")).as("tri")))
        // ---- adds against the post-delete adjacency: existence gate
        // per canonical pair (a same-batch re-add re-introduces)
        val fresh = Ckpt.cut(
          if (!hasAdds) adds.limit(0)
          else adds
            .join(slice1.withColumnRenamed("node", "u"),
              Seq("u"), "left_outer")
            .filter(col("nb").isNull ||
              !array_contains(col("nb"), col("v")))
            .select(col("u"), col("v")), true)
        val gained =
          if (fresh.isEmpty) None
          else Some(GraphOps.deltaTriCorners(slice1, fresh, "t")
            .select(col("node"), col("t").as("tri")))
        // ---- new adjacency of the touched buckets: trimmed rows
        // extended with fresh neighbors; brand-new nodes join in
        val addNb = fresh.select(col("u").as("node"), col("v").as("x"))
          .unionByName(fresh.select(col("v").as("node"),
            col("u").as("x")))
          .groupBy(col("node"))
          .agg(sort_array(collect_list(col("x"))).as("anb"))
        val adj1 = slice1
          .join(addNb, Seq("node"), "full_outer")
          .select(col("node"),
            sort_array(concat(
              coalesce(col("nb"), array().cast("array<long>")),
              coalesce(col("anb"), array().cast("array<long>"))))
              .as("nb"))
          .filter(size(col("nb")) > 0)
          .withColumn("bucket", bucketOf(col("node")))
        // ---- counts: this epoch's signed contributions + horizon fold
        val contrib = Seq(lost, gained).flatten
          .reduceOption(_ unionByName _)
          .map(_.groupBy(col("node")).agg(sum(col("tri")).as("tri"))
            .filter(col("tri") =!= 0))
          .getOrElse(standing.readParts("counts", Seq.empty)
            .select(col("node"), col("tri")))
        val fold = PartitionedArtifact.epochFoldSet(standing.parts("counts"))
        val foldTo = if (fold.isEmpty) Seq.empty
          else (fold :+ -1L).distinct
        val folded =
          if (fold.isEmpty) None
          else Some(standing.readParts("counts", foldTo)
            .groupBy(col("node")).agg(sum(col("tri")).as("tri"))
            .filter(col("tri") =!= 0)
            .withColumn("epoch", lit(-1L)))
        val cntReplaced =
          ((foldTo.filterNot(_ == epoch)) :+ epoch).distinct.sorted
        val cntRows = Seq(folded,
            Some(contrib.withColumn("epoch", lit(epoch))))
          .flatten.reduce(_ unionByName _)
        Map(
          "adj" -> PartsDelta(adj1, bs),
          "counts" -> PartsDelta(cntRows, cntReplaced))
      }
    }

  /** the current views: `adj` (node, nb) and the summed per-node
    * `counts` (node, tri) — q272's artifact shapes. */
  def readLatest(s: SparkSession, root: String): Map[String, DataFrame] =
    PartitionedArtifact.readLatestViews(s, root, Specs)(
      "adj" -> (_.table("adj").select(col("node"), col("nb"))),
      "counts" -> (_.table("counts")
        .groupBy(col("node")).agg(sum(col("tri")).as("tri"))
        .filter(col("tri") =!= 0)))

  /** seed from the batch-built artifacts (q272's `tri_adj_base` /
    * `tri_counts_base` shapes). */
  def bootstrap(adj: DataFrame, counts: DataFrame, root: String): Unit =
    PartitionedArtifact.bootstrap(Map(
      "adj" -> adj.select(col("node").cast("long"),
        col("nb").cast("array<long>"))
        .withColumn("bucket", bucketOf(col("node"))),
      "counts" -> counts.select(col("node").cast("long"),
        col("tri").cast("long"), lit(-1L).as("epoch"))), root, Specs)

  /** one absorb step — the foreachBatch body, callable directly for
    * deterministic-replay tests. */
  def absorbBatch(events: DataFrame, batchId: Long, root: String): Unit =
    PartitionedArtifact.absorbBatch(events, batchId, root, Specs)(absorb)

  /** start the loop over a (u, v) add stream or a (kind, u, v)
    * changelog stream. */
  def maintainStream(events: DataFrame, root: String,
      checkpoint: String): StreamingQuery = {
    require(Set("u", "v").subsetOf(events.schema.fieldNames.toSet),
      s"edge stream must have columns (u, v) [+ optional kind], " +
        s"got ${events.schema.fieldNames.mkString(",")}")
    PartitionedArtifact.maintain(events, root, checkpoint, Specs)(absorb)
  }
}
