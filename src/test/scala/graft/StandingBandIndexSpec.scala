package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.StandingBandIndex

/** The dedup-index maintenance loop: a band-row stream absorbed
  * batch-by-batch must converge to exactly the from-scratch band
  * self-join over every row that ever arrived (q265's law driven by
  * micro-batches), including CROSS-batch collisions only the standing
  * probe can see; replays must be idempotent; the batch-built index
  * must hand off via bootstrap.
  */
class StandingBandIndexSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def collisions(root: String): Set[(Long, Long, Long)] =
    StandingBandIndex.readLatest(spark, root)("collisions")
      .as[(Long, Long, Long)].collect().toSet

  /** from-scratch ground truth: the band self-join over `bands`. */
  private def scratch(bands: DataFrame): Set[(Long, Long, Long)] =
    bands.as("a").join(bands.as("b"),
        col("a.band_id") === col("b.band_id") &&
          col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .agg(count(lit(1)).as("n_bands"))
      .as[(Long, Long, Long)].collect().toSet

  // (doc_id, band_id, bh) fixtures: h1 is shared across all three
  // batches in band 0, so cross-batch collisions need the standing
  // probe; h9 collides only within batch 2
  private val b0 = Seq((1L, 0L, "h1"), (1L, 1L, "h2"), (2L, 0L, "h1"))
  private val b1 = Seq((3L, 0L, "h1"), (3L, 1L, "h2"))
  private val b2 = Seq((4L, 0L, "h1"), (4L, 2L, "h9"), (5L, 2L, "h9"))

  test("stream-maintained collisions equal the from-scratch self-join") {
    implicit val sqlCtx = spark.sqlContext
    val root = tmp("sbi-state")
    val in = MemoryStream[(Long, Long, String)]
    val q = StandingBandIndex.maintainStream(
      in.toDF().toDF("doc_id", "band_id", "bh"), root, tmp("sbi-ckpt"))
    try {
      in.addData(b0); q.processAllAvailable()
      assert(collisions(root) == Set((1L, 2L, 1L)))
      in.addData(b1); q.processAllAvailable()
      // doc 3 collides with BOTH standing docs on two legs (band 0 via
      // h1, band 1 via h2 with doc 1)
      assert(collisions(root) ==
        Set((1L, 2L, 1L), (1L, 3L, 2L), (2L, 3L, 1L)))
      in.addData(b2); q.processAllAvailable()
    } finally q.stop()
    val all = (b0 ++ b1 ++ b2).toDF("doc_id", "band_id", "bh")
    assert(collisions(root) == scratch(all))
    assert(StandingBandIndex.readLatest(spark, root)("bands")
      .count() == (b0 ++ b1 ++ b2).size)
  }

  test("planning a read of a committed version runs no Spark job") {
    val root = tmp("sbi-plan")
    StandingBandIndex.absorbBatch(b0.toDF("doc_id", "band_id", "bh"),
      0L, root)
    StandingBandIndex.absorbBatch(b1.toDF("doc_id", "band_id", "bh"),
      1L, root)
    // the epoch partitions resolve under the declared schema: no
    // footer is opened to infer one
    val (tables, jobs) = JobLog.during(spark)(
      StandingBandIndex.readLatest(spark, root))
    assert(jobs.isEmpty, jobs.toString)
    assert(tables("collisions").as[(Long, Long, Long)].collect().toSet ==
      Set((1L, 2L, 1L), (1L, 3L, 2L), (2L, 3L, 1L)))
  }

  test("replay: committed version no-ops, crash debris recomputes") {
    val root = tmp("sbi-replay")
    StandingBandIndex.absorbBatch(b0.toDF("doc_id", "band_id", "bh"),
      0L, root)
    StandingBandIndex.absorbBatch(b1.toDF("doc_id", "band_id", "bh"),
      1L, root)
    val committed = collisions(root)
    // committed version → reader-safe no-op even with new content
    val b1r = Seq((6L, 0L, "h1"))
    StandingBandIndex.absorbBatch(b1r.toDF("doc_id", "band_id", "bh"),
      1L, root)
    assert(collisions(root) == committed)
    // crash mid-write (no _COMMIT): doc 3's rows from the failed
    // attempt must vanish from bands AND collisions
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(root, "v=1", "_COMMIT"))
    StandingBandIndex.absorbBatch(b1r.toDF("doc_id", "band_id", "bh"),
      1L, root)
    assert(collisions(root) ==
      scratch((b0 ++ b1r).toDF("doc_id", "band_id", "bh")))
    assert(StandingBandIndex.readLatest(spark, root)("bands")
      .as[(Long, Long, String)].collect().toSet == (b0 ++ b1r).toSet)
  }

  test("a doc whose band rows straddle a batch boundary still indexes completely") {
    // FIRST delivery of doc 1 split across two batches (a row-granular
    // source chops wherever its trigger cap lands): the remainder must
    // insert — the re-delivery gate is per (doc_id, band_id), not per
    // doc — and the pair contributions that arrive in different
    // batches must SUM into one (da, db) row
    val root = tmp("sbi-straddle")
    StandingBandIndex.absorbBatch(
      Seq((1L, 0L, "h1"), (2L, 0L, "h1"), (2L, 1L, "h2"))
        .toDF("doc_id", "band_id", "bh"), 0L, root)
    // doc 1's second band row arrives one batch later and collides
    // with doc 2 on band 1 — (1,2) must become n_bands = 2, one row
    StandingBandIndex.absorbBatch(
      Seq((1L, 1L, "h2")).toDF("doc_id", "band_id", "bh"), 1L, root)
    val all = Seq((1L, 0L, "h1"), (2L, 0L, "h1"), (2L, 1L, "h2"),
      (1L, 1L, "h2")).toDF("doc_id", "band_id", "bh")
    assert(collisions(root) == scratch(all))
    assert(collisions(root) == Set((1L, 2L, 2L)))
  }

  test("re-delivered doc rows in a later batch are dropped: first write wins") {
    // an at-least-once UPSTREAM re-sends doc 1's band rows under a
    // NEW batch id (the versioned-replay guard can't see it) — the
    // membership gate must drop them: no (1,1) self-pairs, no
    // duplicated (1,2) pair, no inflated n_bands, bands stored once
    val root = tmp("sbi-redeliver")
    StandingBandIndex.absorbBatch(b0.toDF("doc_id", "band_id", "bh"),
      0L, root)
    val redelivered = b0.filter(_._1 == 1L) ++ Seq((7L, 0L, "h1"))
    StandingBandIndex.absorbBatch(
      redelivered.toDF("doc_id", "band_id", "bh"), 1L, root)
    val expected = (b0 ++ Seq((7L, 0L, "h1")))
      .toDF("doc_id", "band_id", "bh")
    assert(collisions(root) == scratch(expected))
    assert(StandingBandIndex.readLatest(spark, root)("bands")
      .as[(Long, Long, String)].collect().toSet ==
      (b0 ++ Seq((7L, 0L, "h1"))).toSet)
  }

  test("on the real corpus: bootstrap + shard absorb equals the full self-join") {
    // the q265 arrival law driven through the LOOP on real sf0.001
    // band rows: seed with the base slice's index, absorb the shard
    // slice as one batch, compare against the full-corpus self-join
    import graft.queries.TextOps
    val root = tmp("sbi-real")
    val bands = TextOps.minhashBands(spark, sf())
      .select(col("doc_id").cast("long"), col("band_id").cast("long"),
        col("bh"))
    val baseBands = bands.filter(TextOps.docBucket(col("doc_id")) < 80)
    StandingBandIndex.bootstrap(baseBands, scratch(baseBands).toSeq
      .toDF("da", "db", "n_bands"), root)
    StandingBandIndex.absorbBatch(
      bands.filter(TextOps.docBucket(col("doc_id")) >= 80), 0L, root)
    assert(collisions(root) == scratch(bands))
  }

  test("shuffle-fallback regime (gate=0): backfill-sized shards produce identical state") {
    // a Trigger.AvailableNow backfill makes "the shard" the whole
    // source — past the broadcast ceiling the first-write-wins probe
    // must degrade to a shuffle-hash join, not a driver OOM, and the
    // maintained state must be bit-identical to the broadcast regime
    val root = tmp("sbi-gate")
    System.setProperty("graft.relabel.bcast.max.rows", "0")
    try {
      StandingBandIndex.absorbBatch(b0.toDF("doc_id", "band_id", "bh"),
        0L, root)
      // with a re-delivered row: the gate must still drop it
      StandingBandIndex.absorbBatch(
        (b1 ++ b0.filter(_._1 == 1L)).toDF("doc_id", "band_id", "bh"),
        1L, root)
    } finally System.clearProperty("graft.relabel.bcast.max.rows")
    assert(collisions(root) ==
      scratch((b0 ++ b1).toDF("doc_id", "band_id", "bh")))
    assert(StandingBandIndex.readLatest(spark, root)("bands")
      .as[(Long, Long, String)].collect().toSet == (b0 ++ b1).toSet)
  }

  /** every regular file under `dir` → (size, mtime) — the
    * bytes-untouched probe for standing partitions. */
  private def snap(dir: String): Map[String, (Long, Long)] = {
    import scala.jdk.CollectionConverters._
    val p = java.nio.file.Paths.get(dir)
    java.nio.file.Files.walk(p).iterator().asScala
      .filter(java.nio.file.Files.isRegularFile(_))
      .map(f => f.toString -> (java.nio.file.Files.size(f),
        java.nio.file.Files.getLastModifiedTime(f).toMillis))
      .toMap
  }

  test("per-batch writes are delta-bounded; standing epochs' bytes are never rewritten") {
    val root = tmp("sbi-delta")
    StandingBandIndex.bootstrap(b0.toDF("doc_id", "band_id", "bh"),
      scratch(b0.toDF("doc_id", "band_id", "bh")).toSeq
        .toDF("da", "db", "n_bands"), root)
    val bootFiles = snap(s"$root/v=-1")
    StandingBandIndex.absorbBatch(b1.toDF("doc_id", "band_id", "bh"),
      0L, root)
    // the version's own writes (the _STATS counter) are exactly the
    // shard's band rows + this epoch's delta pairs — never the
    // standing corpus: doc 3 pairs with docs 1 and 2 → 2 delta pairs
    val st0 = graft.streaming.PartitionedArtifact.writeStats(
      spark, root, 0L)
    assert(st0 == Map("bands" -> b1.size.toLong, "collisions" -> 2L),
      st0.toString)
    // ...and the bootstrap epoch's files are bit-untouched
    assert(snap(s"$root/v=-1") == bootFiles)
    StandingBandIndex.absorbBatch(b2.toDF("doc_id", "band_id", "bh"),
      1L, root)
    // doc 4 × {1,2,3} on h1 + (4,5) within-shard on h9 → 4 pairs
    val st1 = graft.streaming.PartitionedArtifact.writeStats(
      spark, root, 1L)
    assert(st1 == Map("bands" -> b2.size.toLong, "collisions" -> 4L),
      st1.toString)
    // both prior epochs stay untouched; a fully re-delivered batch
    // writes ZERO band rows
    val v0Files = snap(s"$root/v=0")
    StandingBandIndex.absorbBatch(b1.toDF("doc_id", "band_id", "bh"),
      2L, root)
    val st2 = graft.streaming.PartitionedArtifact.writeStats(
      spark, root, 2L)
    assert(st2 == Map("bands" -> 0L, "collisions" -> 0L), st2.toString)
    assert(snap(s"$root/v=-1") == bootFiles)
    assert(snap(s"$root/v=0") == v0Files)
    // and the maintained state still equals the from-scratch law
    assert(collisions(root) ==
      scratch((b0 ++ b1 ++ b2).toDF("doc_id", "band_id", "bh")))
  }

  test("delete channel: live doc retraction tracks the q276 pair filter") {
    implicit val sqlCtx = spark.sqlContext
    val root = tmp("sbi-del")
    val in = MemoryStream[(String, Long, Long, String)]
    val q = StandingBandIndex.maintainStream(
      in.toDF().toDF("kind", "doc_id", "band_id", "bh"), root,
      tmp("sbi-del-ckpt"))
    def adds(rows: Seq[(Long, Long, String)]) =
      rows.map { case (d, b, h) => ("add", d, b, h) }
    try {
      in.addData(adds(b0): _*); q.processAllAvailable()
      in.addData(adds(b1): _*); q.processAllAvailable()
      // delete doc 1 (rows in the BOOTSTRAP-LESS epoch 0) and insert
      // doc 6 in the same batch: deletes first, then the add probes
      // the post-delete corpus
      in.addData(Seq(("del", 1L, -1L, "")) ++
        adds(Seq((6L, 0L, "h1"), (6L, 1L, "h2"))): _*)
      q.processAllAvailable()
      val surv1 = (b0 ++ b1).filterNot(_._1 == 1L) ++
        Seq((6L, 0L, "h1"), (6L, 1L, "h2"))
      assert(collisions(root) ==
        scratch(surv1.toDF("doc_id", "band_id", "bh")))
      assert(StandingBandIndex.readLatest(spark, root)("bands")
        .as[(Long, Long, String)].collect().toSet == surv1.toSet)
      // re-adding the deleted doc in a LATER batch re-introduces it
      in.addData(adds(b0.filter(_._1 == 1L)): _*)
      q.processAllAvailable()
      val surv2 = surv1 ++ b0.filter(_._1 == 1L)
      assert(collisions(root) ==
        scratch(surv2.toDF("doc_id", "band_id", "bh")))
    } finally q.stop()
  }

  test("epoch horizon fold bounds live partitions; folded docs stay deletable") {
    System.setProperty("graft.band.max.epochs", "3")
    try {
      val root = tmp("sbi-fold")
      StandingBandIndex.bootstrap(b0.toDF("doc_id", "band_id", "bh"),
        scratch(b0.toDF("doc_id", "band_id", "bh")).toSeq
          .toDF("da", "db", "n_bands"), root)
      // six single-doc batches: each new epoch past the ceiling folds
      // the oldest into the base, so the live partition list stays
      // bounded no matter how many batches arrive
      val docs = (10L to 15L).map(d => Seq((d, 0L, "h1")))
      docs.zipWithIndex.foreach { case (rows, i) =>
        StandingBandIndex.absorbBatch(
          rows.toDF("doc_id", "band_id", "bh"), i.toLong, root)
      }
      val live = graft.streaming.PartitionedArtifact
        .readLatestStanding(spark, root, StandingBandIndex.Specs)
        .parts("bands")
      assert(live.size <= 3, s"live epochs $live")
      val all = b0 ++ docs.flatten
      assert(collisions(root) == scratch(all.toDF("doc_id", "band_id", "bh")))
      // doc 10's rows are folded into the base by now — a delete
      // probes by CONTENT, not epoch id, so it still lands
      StandingBandIndex.absorbBatch(
        Seq(("del", 10L, -1L, "")).toDF("kind", "doc_id", "band_id", "bh"),
        docs.size.toLong, root)
      val surv = all.filterNot(_._1 == 10L)
      assert(collisions(root) ==
        scratch(surv.toDF("doc_id", "band_id", "bh")))
      assert(StandingBandIndex.readLatest(spark, root)("bands")
        .as[(Long, Long, String)].collect().toSet == surv.toSet)
    } finally System.clearProperty("graft.band.max.epochs")
  }

  test("bootstrap hands the batch-built index into the loop") {
    implicit val sqlCtx = spark.sqlContext
    val root = tmp("sbi-boot")
    val baseBands = b0.toDF("doc_id", "band_id", "bh")
    StandingBandIndex.bootstrap(baseBands,
      scratch(baseBands).toSeq.toDF("da", "db", "n_bands"), root)
    val in = MemoryStream[(Long, Long, String)]
    val q = StandingBandIndex.maintainStream(
      in.toDF().toDF("doc_id", "band_id", "bh"), root,
      tmp("sbi-boot-ckpt"))
    try {
      in.addData(b1); q.processAllAvailable()
    } finally q.stop()
    assert(collisions(root) ==
      scratch((b0 ++ b1).toDF("doc_id", "band_id", "bh")))
  }
}
