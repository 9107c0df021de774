package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, StructField, StructType}

import graft.queries.{Ckpt, SimilarityOps}
import PartitionedArtifact.{ByPart, PartsDelta, TableSpec, Whole, WholeDelta}

/** Streaming maintenance of the PQ code table — the loop form of
  * q269's frozen-codebook delta encode and q282's row-filter
  * retraction, closing the batch-only gap the round-13 verdict
  * flagged. Each micro-batch of subvector rows
  * `(kind, vec_id, sp, x)` absorbs into a standing (codebook, codes)
  * artifact: adds encode ONLY the |shard| subvectors against the
  * broadcast FROZEN codebook ([[SimilarityOps.pqEncode]] — min_by
  * nearest centroid, a partial-aggregable hash-agg) and APPEND as
  * their own epoch, the [[StandingBandIndex]] layout verbatim;
  * deletes (`kind = "del"`, by vec_id) REPLACE only the epochs whose
  * rows they remove (one streamed probe finds them — q282's
  * row-filter law as a live channel). The codebook rides as
  * Whole-per-version small state and is NEVER retrained by the loop —
  * q269's freeze contract (drift is the q271 audit's job; a retrain
  * is a new bootstrap).
  *
  * Per-batch I/O: an add-only batch writes exactly its m·|shard| code
  * rows (`_STATS`-checked); the live epoch count is bounded by the
  * same horizon fold as the band index
  * ([[PartitionedArtifact.epochFoldSet]], knob
  * [[PartitionedArtifact.maxLiveEpochs]]) — folded codes stay
  * deletable because deletes probe by CONTENT, not epoch id.
  * Exactly-once, replay, bootstrap (from the q269 artifacts
  * `pq_codebook_base_m4` + `pq_codes_base_m4`) are
  * [[PartitionedArtifact]]'s contract; the encode is deterministic
  * (min_by over a (dist, label) struct), so crash-debris recompute
  * reproduces committed bytes bit-for-bit.
  */
object StandingPq {

  private val CbSchema = StructType(Seq(
    StructField("label", LongType), StructField("sp", LongType),
    StructField("cv", ArrayType(DoubleType))))
  private val CodeSchema = StructType(Seq(
    StructField("vec_id", LongType), StructField("sp", LongType),
    StructField("code", LongType), StructField("epoch", LongType)))
  private[graft] val Specs: Map[String, TableSpec] = Map(
    "codebook" -> TableSpec(CbSchema, Whole),
    "codes" -> TableSpec(CodeSchema, ByPart("epoch")))

  private val absorb: (PartitionedArtifact.Standing, DataFrame, Long)
      => Map[String, PartitionedArtifact.Delta] =
    (standing, batch, epoch) => {
      val s = batch.sparkSession
      val hasKind = batch.schema.fieldNames.contains("kind")
      val addsRaw = (if (hasKind) batch.filter(col("kind") === "add")
        else batch)
        .select(col("vec_id").cast("long"), col("sp").cast("long"),
          col("x").cast("array<long>"))
      val dels = Ckpt.cut(
        (if (hasKind) batch.filter(col("kind") === "del")
        else batch.limit(0))
          .select(col("vec_id").cast("long")).distinct(), true)
      val hasDels = !dels.isEmpty
      val cb = standing.table("codebook")
      // deletes first: the epochs holding the deleted ids' rows (one
      // streamed probe; list bounded by the horizon fold)
      val delEpochs: Seq[Long] =
        if (!hasDels) Seq.empty
        else standing.table("codes")
          .join(dels, Seq("vec_id"), "left_semi")
          .select(col("epoch")).distinct()
          .collect().map(_.getLong(0)).toSeq.sorted
      val fold = PartitionedArtifact.epochFoldSet(standing.parts("codes"))
      def surv(ps: Seq[Long]): DataFrame =
        (if (hasDels)
          standing.readParts("codes", ps).join(dels, Seq("vec_id"),
            "left_anti")
        else standing.readParts("codes", ps))
      // adds: first-write-wins per (vec_id, sp) against the
      // post-delete code table (a same-batch re-add of a deleted
      // vector is a legal CDC re-introduction)
      val standingCodes = (if (hasDels)
          standing.table("codes").join(dels, Seq("vec_id"), "left_anti")
        else standing.table("codes")).select(col("vec_id"), col("sp"))
      val freshRows = Gate.antiAgainstStanding(
        standingCodes, addsRaw, Seq("vec_id", "sp"))
      val encoded = SimilarityOps.pqEncode(s, freshRows, cb)
        .select(col("vec_id"), col("sp"), col("code"))
      val foldTo = if (fold.isEmpty) Seq.empty else (fold :+ -1L).distinct
      val replacedEpochs =
        ((delEpochs ++ foldTo).distinct.filterNot(_ == epoch) :+ epoch)
          .distinct.sorted
      val folded =
        if (fold.isEmpty) None
        else Some(surv(foldTo).withColumn("epoch", lit(-1L)))
      val kept = surv(delEpochs.filterNot(e =>
        fold.contains(e) || (e == -1L && fold.nonEmpty)))
      val rows = Seq(Some(kept), folded,
          Some(encoded.withColumn("epoch", lit(epoch))))
        .flatten.reduce(_ unionByName _)
      Map(
        "codebook" -> WholeDelta(cb),
        "codes" -> PartsDelta(rows, replacedEpochs))
    }

  /** the current views: the frozen `codebook` and the `codes` table
    * (vec_id, sp, code) — q269's merged-artifact shape. */
  def readLatest(s: SparkSession, root: String): Map[String, DataFrame] =
    PartitionedArtifact.readLatestViews(s, root, Specs)(
      "codebook" -> (_.table("codebook")),
      "codes" -> (_.table("codes").drop("epoch")))

  /** seed from the batch-built artifacts: the frozen base codebook
    * and the base code table (epoch -1) — q269's
    * `pq_codebook_base_m4` / `pq_codes_base_m4` pair. */
  def bootstrap(codebook: DataFrame, codes: DataFrame,
      root: String): Unit =
    PartitionedArtifact.bootstrap(Map(
      "codebook" -> codebook.select(col("label").cast("long"),
        col("sp").cast("long"), col("cv").cast("array<double>")),
      "codes" -> codes.select(col("vec_id").cast("long"),
        col("sp").cast("long"), col("code").cast("long"),
        lit(-1L).as("epoch"))), root, Specs)

  /** one absorb step — the foreachBatch body, callable directly for
    * deterministic-replay tests. */
  def absorbBatch(events: DataFrame, batchId: Long, root: String): Unit =
    PartitionedArtifact.absorbBatch(events, batchId, root, Specs)(absorb)

  /** start the loop over a (vec_id, sp, x) subvector stream or a
    * (kind, vec_id, sp, x) changelog stream. */
  def maintainStream(events: DataFrame, root: String,
      checkpoint: String): StreamingQuery = {
    require(Set("vec_id", "sp", "x")
        .subsetOf(events.schema.fieldNames.toSet),
      s"subvector stream must have columns (vec_id, sp, x) " +
        s"[+ optional kind], got ${events.schema.fieldNames.mkString(",")}")
    PartitionedArtifact.maintain(events, root, checkpoint, Specs)(absorb)
  }
}
