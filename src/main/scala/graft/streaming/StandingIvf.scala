package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{ArrayType, LongType, StructField, StructType}

import graft.queries.Ckpt
import PartitionedArtifact.{ByPart, PartsDelta, TableSpec, Whole, WholeDelta}

/** Streaming maintenance of the IVF coarse index — the loop form of
  * q267's mergeable-sum absorb and q278's exact-subtraction
  * retraction, closing the batch-only gap the round-13 verdict
  * flagged: each micro-batch of assigned, quantized vectors
  * `(kind, vec_id, label, v)` absorbs into the standing per-cell
  * statistics by LONG-SUM addition (`kind = "add"`) or subtraction
  * (`kind = "del"` — the CDC payload carries the vector, exactly
  * q278's shape, because subtraction needs the bytes being
  * forgotten). Long sums are exact and associative, so the maintained
  * cells are bit-identical to a from-scratch rebuild over the
  * surviving vectors — the law StandingIvfSpec pins, including the
  * drop-at-`n = 0` branch (an emptied cell must VANISH, not linger as
  * a zero vector).
  *
  * State:
  *  - `cells` (label, sv, n) — [[PartitionedArtifact.Whole]] small
  *    state: one row per coarse cell, the |cells|-row table every
  *    IVF probe broadcasts; rewriting it per version is cheaper than
  *    manifest indirection, the same call as every label/rank vector
  *    in the family;
  *  - `vecs` (vec_id, bucket) — membership, ByPart on a fixed hash
  *    bucket of vec_id: the FIRST-WRITE-WINS gate (a re-delivered add
  *    must not double-add into the sums; a del for an absent id must
  *    no-op) probes only the batch ids' buckets (partition-pruned,
  *    `_READS`-checked), inserts append O(|batch|), deletes replace
  *    only touched buckets.
  *
  * 100 TB shape: vectors themselves never become standing state —
  * only their |cells|-row sums and id-membership do; the arriving
  * shard is scanned once. Exactly-once, replay, bootstrap (from the
  * q278-shaped `ivf_stats_full` artifact) are [[PartitionedArtifact]]
  * contract.
  */
object StandingIvf {

  private val CellSchema = StructType(Seq(
    StructField("label", LongType),
    StructField("sv", ArrayType(LongType)),
    StructField("n", LongType)))
  private val VecSchema = StructType(Seq(
    StructField("vec_id", LongType), StructField("bucket", LongType)))
  private[graft] val Specs: Map[String, TableSpec] = Map(
    "cells" -> TableSpec(CellSchema, Whole),
    "vecs" -> TableSpec(VecSchema, ByPart("bucket")))

  private def nb: Int = graft.queries.PushRanks.numBuckets
  private def bucketOf(c: org.apache.spark.sql.Column) =
    graft.queries.PushRanks.bucketOf(c, nb)

  private lazy val vecSum = udaf(new graft.functions.VecSum)

  /** merge per-cell (sv, n) contributions into standing cells with
    * `sign` (+1 add / −1 subtract), dropping cells at n = 0. */
  private def mergeCells(cells: DataFrame, contrib: DataFrame,
      sign: Int): DataFrame =
    cells.as("c").join(contrib.as("d"), Seq("label"), "full_outer")
      .select(col("label"),
        when(col("d.sv").isNull, col("c.sv"))
          .when(col("c.sv").isNull, col("d.sv"))
          .otherwise(zip_with(col("c.sv"), col("d.sv"),
            (x, y) => x + lit(sign) * y)).as("sv"),
        (coalesce(col("c.n"), lit(0L)) +
          lit(sign) * coalesce(col("d.n"), lit(0L))).as("n"))
      .filter(col("n") > 0)

  private val absorb: (PartitionedArtifact.Standing, DataFrame, Long)
      => Map[String, PartitionedArtifact.Delta] =
    (standing, batch, _) => {
      val hasKind = batch.schema.fieldNames.contains("kind")
      def side(k: String) =
        if (hasKind) batch.filter(col("kind") === k) else
          (if (k == "add") batch else batch.limit(0))
      // within-batch dedupe per vec_id must be DETERMINISTIC (a
      // replay re-executes it): min over the (label, v) struct, not
      // dropDuplicates' arbitrary row
      def perId(df: DataFrame): DataFrame = Ckpt.cut(df
        .select(col("vec_id").cast("long"),
          struct(col("label").cast("long").as("label"),
            col("v").cast("array<long>").as("v")).as("lv"))
        .groupBy(col("vec_id")).agg(min(col("lv")).as("lv"))
        .select(col("vec_id"), col("lv.label").as("label"),
          col("lv.v").as("v")), true)
      val adds = perId(side("add"))
      val dels = perId(side("del"))
      val cells0 = standing.table("cells")
      if (adds.isEmpty && dels.isEmpty)
        Map("cells" -> WholeDelta(cells0),
          "vecs" -> PartsDelta(
            standing.readParts("vecs", Seq.empty), Seq.empty))
      else {
        // membership probes open only the batch ids' buckets
        def bucketsOf(ids: DataFrame): Seq[Long] =
          ids.select(bucketOf(col("vec_id")).as("b")).distinct()
            .collect().map(_.getLong(0)).toSeq.sorted
        // deletes first: only ids actually standing subtract (a del
        // for an absent id must no-op, or the sums corrupt)
        val delBuckets = if (dels.isEmpty) Seq.empty[Long]
          else bucketsOf(dels)
        val standingDelIds = standing.readParts("vecs", delBuckets)
        val delsEff = Ckpt.cut(dels.join(standingDelIds,
          Seq("vec_id"), "left_semi"), true)
        val cells1 =
          if (delsEff.isEmpty) cells0
          else mergeCells(cells0,
            delsEff.groupBy(col("label"))
              .agg(vecSum(col("v")).as("sv"), count(lit(1)).as("n")),
            -1)
        // adds on top: first-write-wins per vec_id against the
        // POST-delete membership (same-batch re-add re-introduces)
        val addBuckets = if (adds.isEmpty) Seq.empty[Long]
          else bucketsOf(adds)
        val standingAddIds = standing.readParts("vecs", addBuckets)
          .join(delsEff, Seq("vec_id"), "left_anti")
        val fresh = Ckpt.cut(adds.join(standingAddIds,
          Seq("vec_id"), "left_anti"), true)
        val cells2 =
          if (fresh.isEmpty) cells1
          else mergeCells(cells1,
            fresh.groupBy(col("label"))
              .agg(vecSum(col("v")).as("sv"), count(lit(1)).as("n")),
            1)
        // membership writes: touched buckets (deletes) replace with
        // survivors + same-bucket fresh; untouched-bucket fresh appends
        val replBuckets =
          if (delsEff.isEmpty) Seq.empty[Long] else bucketsOf(delsEff)
        val freshIds = fresh
          .select(col("vec_id"), bucketOf(col("vec_id")).as("bucket"))
        val (freshRepl, freshApp) =
          if (replBuckets.isEmpty) (None, Some(freshIds))
          else (Some(freshIds.filter(col("bucket").isin(replBuckets: _*))),
            Some(freshIds.filter(!col("bucket").isin(replBuckets: _*))))
        val replRows = (if (replBuckets.isEmpty)
            standing.readParts("vecs", Seq.empty)
          else standing.readParts("vecs", replBuckets)
            .join(delsEff, Seq("vec_id"), "left_anti"))
          .unionByName(freshRepl.getOrElse(
            standing.readParts("vecs", Seq.empty)))
        Map("cells" -> WholeDelta(cells2),
          "vecs" -> PartsDelta(replRows, replBuckets, freshApp))
      }
    }

  /** the current views: `cells` (label, sv, n) — q278's artifact
    * shape — and `vec_ids` membership. */
  def readLatest(s: SparkSession, root: String): Map[String, DataFrame] =
    PartitionedArtifact.readLatestViews(s, root, Specs)(
      "cells" -> (_.table("cells")),
      "vec_ids" -> (_.table("vecs").select(col("vec_id"))))

  /** seed from the batch-built per-cell statistics (q278's
    * `ivf_stats_full` shape) plus the ids they were built from. */
  def bootstrap(cells: DataFrame, vecIds: DataFrame,
      root: String): Unit =
    PartitionedArtifact.bootstrap(Map(
      "cells" -> cells.select(col("label").cast("long"),
        col("sv").cast("array<long>"), col("n").cast("long")),
      "vecs" -> vecIds.select(col("vec_id").cast("long"))
        .distinct()
        .withColumn("bucket", bucketOf(col("vec_id")))), root, Specs)

  /** one absorb step — the foreachBatch body, callable directly for
    * deterministic-replay tests. */
  def absorbBatch(events: DataFrame, batchId: Long, root: String): Unit =
    PartitionedArtifact.absorbBatch(events, batchId, root, Specs)(absorb)

  /** start the loop over a (vec_id, label, v) add stream or a
    * (kind, vec_id, label, v) changelog stream. */
  def maintainStream(events: DataFrame, root: String,
      checkpoint: String): StreamingQuery = {
    require(Set("vec_id", "label", "v")
        .subsetOf(events.schema.fieldNames.toSet),
      s"vector stream must have columns (vec_id, label, v) " +
        s"[+ optional kind], got ${events.schema.fieldNames.mkString(",")}")
    PartitionedArtifact.maintain(events, root, checkpoint, Specs)(absorb)
  }
}
