package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.queries.SketchOps
import PartitionedArtifact.{ByPart, TableSpec}

/** Streaming-maintained EPOCH-PARTITIONED HLL registers — the sketch
  * instance of the [[PartitionedArtifact]] loop, and the streaming form
  * of the whole q273/q277/q281 family in one standing table: each
  * micro-batch of (grp, h) observations becomes ONE EPOCH (part =
  * batch id) max-merged into the registers (q273's absorb law, exact
  * because register max is associative and idempotent), retraction is
  * dropping an epoch at read time (q277's partition-drop law, exact
  * for max-merge), and epochs that age past the retention horizon are
  * compacted into the `part = -1` base inside the absorb itself
  * (q281's sweep), so the standing artifact is BOUNDED at
  * (2 + horizonEpochs) × |groups| × 16 rows — the base partition plus
  * the horizonEpochs + 1 live epochs — no matter how many batches
  * ever arrived — the property that lets a 100 TB deployment keep
  * per-group distinct counts fresh for the price of one scan of each
  * arriving shard.
  *
  * The registers are one table partitioned by `part`: an absorb
  * writes only its own epoch, and when epochs age past the horizon it
  * reads only the base and those epochs, replaces the base with their
  * max-fold and drops them — so per-batch I/O is the shard's
  * registers plus, on folding batches, the base.
  *
  * Exactly-once on top of foreachBatch's at-least-once is
  * [[PartitionedArtifact]]'s versioned-by-batch-id contract. Note the
  * interplay with compaction: a replayed batch re-reads its
  * PREDECESSOR version, so the epoch it appends and the epochs it
  * compacts are recomputed identically — compaction inside the absorb
  * stays deterministic.
  *
  * The retention trade is q281's, stated by construction: epochs
  * already folded into the base can no longer be individually
  * retracted. Size `horizonEpochs` to the deployment's purge window.
  */
object StandingHllRegisters {

  private[graft] val RegSchema = StructType(Seq(
    StructField("grp", StringType), StructField("part", LongType),
    StructField("bucket", LongType), StructField("m", LongType)))
  private val Specs: Map[String, TableSpec] =
    Map("registers" -> TableSpec(RegSchema, ByPart("part")))

  /** epochs kept individually retractable behind the newest; older
    * ones fold into the `part = -1` base during absorb. */
  val DefaultHorizon = 8

  private def absorb(horizonEpochs: Int)
      : (PartitionedArtifact.Standing, DataFrame, Long)
        => Map[String, PartitionedArtifact.Delta] =
    (standing, batch, batchId) => {
      val shard = SketchOps.hllRho(batch.select(col("grp"), col("h")))
        .groupBy(col("grp"), col("bucket"))
        .agg(max(col("rho")).as("m"))
        .select(col("grp"), lit(batchId).as("part"),
          col("bucket").cast("long").as("bucket"), col("m").cast("long").as("m"))
      val horizon = batchId - horizonEpochs
      // epochs below the horizon, decided on the PREDECESSOR partition
      // list (plus this batch's own epoch under a negative horizon)
      val aged = (standing.parts("registers") :+ batchId)
        .filter(p => p >= 0L && p < horizon)
      val rows =
        if (aged.isEmpty) shard
        else standing.readParts("registers", -1L +: aged)
          .unionByName(shard)
          .withColumn("part",
            when(col("part") < horizon, lit(-1L)).otherwise(col("part")))
          .groupBy(col("grp"), col("part"), col("bucket"))
          .agg(max(col("m")).as("m"))
      // the aged epochs are replaced by zero rows, i.e. dropped
      val replaced =
        if (aged.isEmpty) Seq(batchId) else (-1L +: aged :+ batchId).distinct
      Map("registers" -> PartitionedArtifact.PartsDelta(rows, replaced))
    }

  /** the current registers (grp, part, bucket, m). */
  def readLatest(s: SparkSession, root: String): DataFrame =
    PartitionedArtifact.readLatestStanding(s, root, Specs).table("registers")

  /** one absorb step — the foreachBatch body, callable directly for
    * deterministic-replay tests. */
  def absorbBatch(obs: DataFrame, batchId: Long, root: String,
      horizonEpochs: Int = DefaultHorizon): Unit =
    PartitionedArtifact.absorbBatch(obs, batchId, root, Specs)(
      absorb(horizonEpochs))

  /** start the loop over a stream of (grp, h) observations — `h` the
    * md5 hex of the counted member, exactly the batch family's
    * convention. */
  def maintainStream(obs: DataFrame, root: String, checkpoint: String,
      horizonEpochs: Int = DefaultHorizon): StreamingQuery = {
    require(Set("grp", "h").subsetOf(obs.schema.fieldNames.toSet),
      s"observation stream must have columns (grp, h), got " +
        obs.schema.fieldNames.mkString(","))
    PartitionedArtifact.maintain(obs, root, checkpoint, Specs)(
      absorb(horizonEpochs))
  }

  /** per-group estimates from the standing registers, optionally
    * RETRACTING epochs first (q277's partition-drop — exact for any
    * epoch still individually present; epochs already compacted into
    * the base cannot be dropped, which is the retention contract).
    * A retraction that can no longer be honored FAILS LOUDLY instead
    * of appearing to succeed: dropping the `part = -1` base would be
    * a drastic undercount (it is the max-fold of every aged-out
    * epoch, not one epoch), and an epoch id already folded past the
    * horizon — or never absorbed — is silently absent from the
    * standing parts, so filtering it would be a no-op the caller
    * mistakes for a completed purge. The presence probe reads the
    * version's manifest, so planning the estimate runs no job, and
    * only the kept epochs' partitions are opened. */
  def estimates(s: SparkSession, root: String,
      dropEpochs: Seq[Long] = Seq.empty): DataFrame = {
    require(!dropEpochs.contains(-1L),
      "epoch -1 is the compacted base: epochs folded past the " +
        "retention horizon cannot be individually retracted (size " +
        "horizonEpochs to the deployment's purge window)")
    val latest = PartitionedArtifact.readLatestStanding(s, root, Specs)
    val present = latest.parts("registers")
    val missing = dropEpochs.filterNot(present.contains)
    require(missing.isEmpty,
      s"epochs ${missing.mkString(",")} are not individually " +
        "present in the standing registers (already compacted into " +
        "the base, or never absorbed) — refusing a retraction that " +
        "cannot be honored")
    val regs = latest
      .readParts("registers", present.filterNot(dropEpochs.contains))
      .groupBy(col("grp"), col("bucket")).agg(max(col("m")).as("m"))
    SketchOps.hllEstimate(regs, Seq("grp"))
      .select(col("grp"), col("s_fp"), col("est_fp"))
  }
}
