package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.queries.{Ckpt, TextOps}
import PartitionedArtifact.{ByPart, PartsDelta, TableSpec}

/** The dedup-index instance of the maintenance loop — completing the
  * family symmetry (sketches [[StandingHllRegisters]], CDC graph and
  * components [[StandingGraph]], ranks [[StandingRanks]]): each
  * micro-batch of arriving documents' BAND ROWS (doc_id, band_id,
  * bh — the per-doc MinHash band digests, which are
  * slice-independent, so any upstream signature stage can
  * feed the stream) absorbs into a standing (bands, collisions)
  * artifact by q265's proven delta legs ([[TextOps.bandDeltaLegs]]):
  * the shard probes the standing band index asymmetrically (|shard
  * bands| × bucket occupancy, never |corpus|²) and self-joins within
  * itself. Multi-table state because the collision table alone cannot
  * absorb the NEXT shard — the probe needs the band index, exactly
  * the reason [[StandingGraph]] carries its edge list.
  *
  * CHANGELOG stream: `(kind, doc_id, band_id, bh)` — `kind = "add"`
  * inserts band rows (first-write-wins per (doc_id, band_id));
  * `kind = "del"` retracts the DOCUMENT `doc_id` (band_id/bh ignored)
  * — q276's pair-filter law as a live channel: the doc's band rows
  * leave the index and every collision pair touching it leaves the
  * pair table, by REPLACING only the epochs that held them (found by
  * one streamed probe of the standing tables; the epoch list is
  * bounded by the horizon fold below). Deletes apply before adds
  * within a batch, so a same-batch re-add re-introduces the doc —
  * [[StandingGraph]]'s CDC contract. A `kind`-less stream is
  * add-only.
  *
  * EPOCH-PARTITIONED versions ([[PartitionedArtifact]]): both tables
  * are partitioned by the shard epoch (= batch id; -1 is the
  * bootstrap corpus), and an add-only batch writes ONLY its own epoch
  * — the standing corpus's bytes are never rewritten, so per-batch
  * I/O is |shard bands| + |delta pairs|, not O(standing) (`_STATS`
  * machine-checks this in StandingBandIndexSpec). Collisions are
  * stored as PER-EPOCH CONTRIBUTIONS; [[readLatest]] presents the
  * summed (da, db, n_bands) view, exact because the legs partition
  * pair contributions disjointly across epochs.
  *
  * EPOCH-HORIZON COMPACTION bounds the partition count (the round-13
  * ADVICE finding — one live partition per batch forever would grow
  * the manifest and reader fan-in without bound over a long-running
  * stream): when the live epoch count would exceed
  * [[PartitionedArtifact.maxLiveEpochs]], every epoch older than the
  * newest `maxLiveEpochs/2` folds into the `epoch = -1` base inside the
  * absorb — deterministic from (predecessor manifest, batch), so
  * replays compact identically, exactly
  * [[StandingHllRegisters]]' discipline. Amortized fold cost is
  * O(standing / (maxLiveEpochs/2)) rows per batch — the LSM trade,
  * chosen by the knob; the retention trade is q281's: a doc whose
  * rows folded into the base is still deletable (deletes probe by
  * CONTENT, not epoch id), so no capability is lost here, only
  * per-epoch provenance.
  *
  * Versus [[graft.streaming.Streams.bandIndexStream]] (keyed
  * `transformWithState`, per-bucket occupancy caps, per-row emission):
  * that is the LOW-LATENCY form. This loop is the ARTIFACT-FIRST
  * form: the standing parquet IS the state, readable by the whole
  * cluster between batches, exactly-once by batch-id versioning,
  * bootstrap-able from the batch-built SideTables index.
  */
object StandingBandIndex {

  private val BandSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("band_id", LongType),
    StructField("bh", StringType), StructField("epoch", LongType)))
  private val CollSchema = StructType(Seq(
    StructField("da", LongType), StructField("db", LongType),
    StructField("n_bands", LongType), StructField("epoch", LongType)))
  private[graft] val Specs: Map[String, TableSpec] = Map(
    "bands" -> TableSpec(BandSchema, ByPart("epoch")),
    "collisions" -> TableSpec(CollSchema, ByPart("epoch")))

  private val absorb: (PartitionedArtifact.Standing, DataFrame, Long)
      => Map[String, PartitionedArtifact.Delta] =
    (standing, batch, epoch) => {
      val hasKind = batch.schema.fieldNames.contains("kind")
      val addsRaw = (if (hasKind) batch.filter(col("kind") === "add")
        else batch)
        .select(col("doc_id").cast("long"), col("band_id").cast("long"),
          col("bh").cast("string"))
      val dels = Ckpt.cut(
        (if (hasKind) batch.filter(col("kind") === "del")
        else batch.limit(0))
          .select(col("doc_id").cast("long")).distinct(), true)
      val hasDels = !dels.isEmpty
      // ---- deletes first: one streamed probe per table finds the
      // epochs holding the deleted docs' rows/pairs; only those are
      // replaced with their survivors. The epoch lists are bounded by
      // the horizon fold, so the collects are k-row driver steps.
      val bandDelEpochs: Seq[Long] =
        if (!hasDels) Seq.empty
        else standing.table("bands")
          .join(dels, Seq("doc_id"), "left_semi")
          .select(col("epoch")).distinct()
          .collect().map(_.getLong(0)).toSeq.sorted
      val collDelEpochs: Seq[Long] =
        if (!hasDels) Seq.empty
        else standing.table("collisions")
          .join(dels.withColumnRenamed("doc_id", "da"), Seq("da"),
            "left_semi")
          .select(col("epoch"))
          .unionByName(standing.table("collisions")
            .join(dels.withColumnRenamed("doc_id", "db"), Seq("db"),
              "left_semi")
            .select(col("epoch")))
          .distinct().collect().map(_.getLong(0)).toSeq.sorted
      // ---- horizon fold, decided on the PREDECESSOR partition list
      val bandFold = PartitionedArtifact.epochFoldSet(standing.parts("bands"))
      val collFold =
        PartitionedArtifact.epochFoldSet(standing.parts("collisions"))
      // post-delete corpus view (all live epochs minus deleted docs)
      def survBands(ps: Seq[Long]): DataFrame =
        (if (hasDels)
          standing.readParts("bands", ps).join(dels, Seq("doc_id"),
            "left_anti")
        else standing.readParts("bands", ps))
      // the post-delete corpus the gate and the delta legs probe —
      // deliberately NOT materialized: the standing table is SCANNED
      // (streamed through the join probes), never shuffled or cached
      val standingBands = (if (hasDels)
          standing.table("bands").join(dels, Seq("doc_id"), "left_anti")
        else standing.table("bands")).drop("epoch")
      // ---- adds: FIRST-WRITE-WINS per (doc_id, band_id) against the
      // post-delete corpus (a same-batch re-add of a deleted doc is a
      // legal CDC re-introduction; the grain is the ROW, so a doc
      // straddling a batch boundary completes). The shard side rides
      // [[Gate]]'s broadcast ceiling.
      val shardBands = Gate.antiAgainstStanding(
        standingBands, addsRaw, Seq("doc_id", "band_id"))
      // this epoch's pair contributions — cross-epoch contributions
      // to one (da, db) are summed at READ time, exact because the
      // legs partition the band-pair contributions disjointly
      val delta = TextOps.bandDeltaLegs(standingBands, shardBands)
        .groupBy(col("da"), col("db"))
        .agg(sum(col("n_bands")).as("n_bands"))
      // ---- writes: survivors of delete-touched epochs + folded
      // epochs re-keyed to the base + this epoch's own rows
      def channel(surv: Seq[Long] => DataFrame, delEpochs: Seq[Long],
          fold: Seq[Long], fresh: DataFrame,
          foldAgg: DataFrame => DataFrame): PartsDelta = {
        val foldTo = if (fold.isEmpty) Seq.empty
          else (fold :+ -1L).distinct
        val replacedEpochs =
          ((delEpochs ++ foldTo).distinct.filterNot(_ == epoch) :+ epoch)
            .distinct.sorted
        val folded =
          if (fold.isEmpty) None
          else Some(foldAgg(surv(foldTo).drop("epoch"))
            .withColumn("epoch", lit(-1L)))
        val kept = surv(delEpochs.filterNot(e =>
          fold.contains(e) || (e == -1L && fold.nonEmpty)))
        val rows = Seq(Some(kept), folded,
            Some(fresh.withColumn("epoch", lit(epoch))))
          .flatten.reduce(_ unionByName _)
        PartsDelta(rows, replacedEpochs)
      }
      Map(
        "bands" -> channel(survBands, bandDelEpochs, bandFold,
          shardBands, identity),
        "collisions" -> channel(
          ps => (if (hasDels)
            standing.readParts("collisions", ps)
              .join(dels.withColumnRenamed("doc_id", "da"), Seq("da"),
                "left_anti")
              .join(dels.withColumnRenamed("doc_id", "db"), Seq("db"),
                "left_anti")
          else standing.readParts("collisions", ps)),
          collDelEpochs, collFold, delta,
          // contributions folding into one base partition compact to
          // one row per pair (read-time summing makes this exact)
          f => f.groupBy(col("da"), col("db"))
            .agg(sum(col("n_bands")).as("n_bands"))))
    }

  /** the current (bands, collisions) views — the epoch partitioning
    * is internal; `collisions` is the summed pair table downstream
    * dedup consumes, bit-compatible with the batch artifact. */
  def readLatest(s: SparkSession, root: String): Map[String, DataFrame] =
    PartitionedArtifact.readLatestViews(s, root, Specs)(
      "bands" -> (_.table("bands").drop("epoch")),
      "collisions" -> (_.table("collisions")
        .groupBy(col("da"), col("db"))
        .agg(sum(col("n_bands")).as("n_bands"))))

  /** seed from the batch-built standing index (epoch -1) — e.g. the
    * SideTables `band_index_base` / `band_collisions_base` pair. */
  def bootstrap(bands: DataFrame, collisions: DataFrame,
      root: String): Unit =
    PartitionedArtifact.bootstrap(Map(
      "bands" -> bands.select(col("doc_id").cast("long"),
        col("band_id").cast("long"), col("bh").cast("string"),
        lit(-1L).as("epoch")),
      "collisions" -> collisions.select(col("da").cast("long"),
        col("db").cast("long"), col("n_bands").cast("long"),
        lit(-1L).as("epoch"))), root, Specs)

  /** one absorb step — the foreachBatch body, callable directly for
    * deterministic-replay tests. */
  def absorbBatch(bands: DataFrame, batchId: Long, root: String): Unit =
    PartitionedArtifact.absorbBatch(bands, batchId, root, Specs)(absorb)

  /** start the loop over a (doc_id, band_id, bh) add stream or a
    * (kind, doc_id, band_id, bh) changelog stream. */
  def maintainStream(bands: DataFrame, root: String,
      checkpoint: String): StreamingQuery = {
    require(Set("doc_id", "band_id", "bh")
        .subsetOf(bands.schema.fieldNames.toSet),
      s"band stream must have columns (doc_id, band_id, bh) " +
        s"[+ optional kind], got ${bands.schema.fieldNames.mkString(",")}")
    PartitionedArtifact.maintain(bands, root, checkpoint, Specs)(absorb)
  }
}
