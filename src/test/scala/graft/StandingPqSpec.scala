package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.queries.SimilarityOps
import graft.streaming.StandingPq

/** The PQ code-table maintenance loop: stream-encoded codes under the
  * FROZEN base codebook must be bit-identical to a from-scratch
  * encode of every surviving subvector (q269's merge law + q282's
  * row-filter retraction, live); first write wins per (vec_id, sp);
  * replays no-op; the epoch horizon bounds live partitions.
  */
class StandingPqSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def codes(root: String): Set[(Long, Long, Long)] =
    StandingPq.readLatest(spark, root)("codes")
      .as[(Long, Long, Long)].collect().toSet

  // a 2-subspace, 2-dim codebook: subspace 0 separates low/high on
  // dim 1, subspace 1 on dim 2
  private val cb = Seq(
    (0L, 0L, Seq(0.0, 0.0)), (1L, 0L, Seq(10.0, 10.0)),
    (0L, 1L, Seq(0.0, 0.0)), (1L, 1L, Seq(10.0, 10.0)))
  private def cbDf: DataFrame = cb.toDF("label", "sp", "cv")

  /** from-scratch encode of (vec_id, sp, x) rows under the frozen
    * codebook — the loop's ground truth. */
  private def scratch(rows: Seq[(Long, Long, Seq[Long])])
      : Set[(Long, Long, Long)] =
    SimilarityOps.pqEncode(spark,
        rows.toDF("vec_id", "sp", "x"), cbDf)
      .as[(Long, Long, Long)].collect().toSet

  private val b0 = Seq(
    (1L, 0L, Seq(1L, 1L)), (1L, 1L, Seq(9L, 9L)),
    (2L, 0L, Seq(8L, 8L)), (2L, 1L, Seq(1L, 0L)))
  private val b1 = Seq(
    (3L, 0L, Seq(0L, 2L)), (3L, 1L, Seq(7L, 9L)))

  private def ev(kind: String, rows: Seq[(Long, Long, Seq[Long])])
      : Seq[(String, Long, Long, Seq[Long])] =
    rows.map { case (i, sp, x) => (kind, i, sp, x) }

  test("stream-encoded codes equal the from-scratch encode; deletes filter rows") {
    implicit val sqlCtx = spark.sqlContext
    val root = tmp("spq-state")
    StandingPq.bootstrap(cbDf,
      scratch(b0).toSeq.toDF("vec_id", "sp", "code"), root)
    val in = MemoryStream[(String, Long, Long, Seq[Long])]
    val q = StandingPq.maintainStream(
      in.toDF().toDF("kind", "vec_id", "sp", "x"), root,
      tmp("spq-ckpt"))
    try {
      // fresh vector 3, plus a RE-DELIVERED copy of vector 1's rows:
      // first write wins, no duplicate code rows
      in.addData(ev("add", b1 ++ b0.filter(_._1 == 1L)): _*)
      q.processAllAvailable()
      assert(codes(root) == scratch(b0 ++ b1))
      // delete vector 2 (bootstrap rows) and re-add vector 2 with
      // DIFFERENT subvectors in the same batch: deletes first, the
      // re-encode reflects the new bytes
      val re2 = Seq((2L, 0L, Seq(9L, 9L)), (2L, 1L, Seq(9L, 9L)))
      in.addData(Seq(("del", 2L, -1L, Seq.empty[Long])) ++
        ev("add", re2): _*)
      q.processAllAvailable()
      assert(codes(root) ==
        scratch(b0.filterNot(_._1 == 2L) ++ b1 ++ re2))
    } finally q.stop()
    // the codebook rode through untouched (frozen contract)
    assert(StandingPq.readLatest(spark, root)("codebook")
      .as[(Long, Long, Seq[Double])].collect().toSet == cb.toSet)
  }

  test("replay no-ops; add-only batches write exactly their code rows") {
    val root = tmp("spq-replay")
    StandingPq.bootstrap(cbDf,
      scratch(b0).toSeq.toDF("vec_id", "sp", "code"), root)
    StandingPq.absorbBatch(b1.toDF("vec_id", "sp", "x"), 0L, root)
    assert(graft.streaming.PartitionedArtifact
      .writeStats(spark, root, 0L)("codes") == b1.size.toLong)
    val committed = codes(root)
    StandingPq.absorbBatch(
      Seq((9L, 0L, Seq(5L, 5L))).toDF("vec_id", "sp", "x"), 0L, root)
    assert(codes(root) == committed)
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(root, "v=0", "_COMMIT"))
    StandingPq.absorbBatch(b1.toDF("vec_id", "sp", "x"), 0L, root)
    assert(codes(root) == committed)
  }

  test("epoch horizon fold bounds live partitions; folded codes stay deletable") {
    System.setProperty("graft.artifact.max.epochs", "3")
    try {
      val root = tmp("spq-fold")
      StandingPq.bootstrap(cbDf,
        scratch(b0).toSeq.toDF("vec_id", "sp", "code"), root)
      val batches = (10L to 15L).map(i => Seq((i, 0L, Seq(i % 3, 1L))))
      batches.zipWithIndex.foreach { case (rows, i) =>
        StandingPq.absorbBatch(rows.toDF("vec_id", "sp", "x"),
          i.toLong, root)
      }
      val live = graft.streaming.PartitionedArtifact
        .readLatestStanding(spark, root, StandingPq.Specs).parts("codes")
      assert(live.size <= 3, s"live epochs $live")
      assert(codes(root) == scratch(b0 ++ batches.flatten))
      // vec 10's rows folded into the base — delete still lands
      StandingPq.absorbBatch(
        Seq(("del", 10L, -1L, Seq.empty[Long]))
          .toDF("kind", "vec_id", "sp", "x"), batches.size.toLong, root)
      assert(codes(root) ==
        scratch(b0 ++ batches.flatten.filterNot(_._1 == 10L)))
    } finally System.clearProperty("graft.artifact.max.epochs")
  }
}
