package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.queries.GraphOps
import graft.streaming.StandingTriangles

/** The triangle maintenance loop: stream-maintained per-node counts
  * must equal a from-scratch count over the surviving edges at every
  * step (q272's absorb + q275's decrement, live, arbitrarily
  * interleaved), the adjacency must track the surviving graph,
  * replays must no-op, absorbs must be read-bounded, and the counts
  * epoch horizon must stay bounded.
  */
class StandingTrianglesSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def counts(root: String): Map[Long, Long] =
    StandingTriangles.readLatest(spark, root)("counts")
      .as[(Long, Long)].collect().toMap

  private def adj(root: String): Map[Long, Seq[Long]] =
    StandingTriangles.readLatest(spark, root)("adj")
      .as[(Long, Seq[Long])].collect().toMap

  /** from-scratch ground truth over a canonical (u < v) edge set. */
  private def scratch(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    graft.functions.SortedIntersect.register(spark)
    if (edges.isEmpty) Map.empty
    else GraphOps.triCorners(edges.toDF("u", "v"))
      .as[(Long, Long)].collect().toMap
  }

  private def adjScratch(edges: Seq[(Long, Long)]): Map[Long, Seq[Long]] =
    edges.flatMap { case (u, v) => Seq((u, v), (v, u)) }
      .groupBy(_._1).map { case (n, xs) => n -> xs.map(_._2).sorted.toSeq }

  // K4 on {1,2,3,4} arrives in two batches; a 5-cycle {10..14}
  // (triangle-free) rides along
  private val b0 = Seq((1L, 2L), (1L, 3L), (2L, 3L), (10L, 11L),
    (11L, 12L), (12L, 13L), (13L, 14L), (10L, 14L))
  private val b1 = Seq((1L, 4L), (2L, 4L), (3L, 4L), (10L, 12L))

  test("interleaved adds and deletes track the from-scratch count at every step") {
    implicit val sqlCtx = spark.sqlContext
    val root = tmp("str-state")
    val in = MemoryStream[(String, Long, Long)]
    val q = StandingTriangles.maintainStream(
      in.toDF().toDF("kind", "u", "v"), root, tmp("str-ckpt"))
    def add(es: Seq[(Long, Long)]) = es.map { case (u, v) => ("add", u, v) }
    try {
      in.addData(add(b0): _*); q.processAllAvailable()
      assert(counts(root) == scratch(b0))
      assert(adj(root) == adjScratch(b0))
      in.addData(add(b1): _*); q.processAllAvailable()
      assert(counts(root) == scratch(b0 ++ b1))
      // delete the K4 edge (1,2) — three triangles die — and close a
      // cycle chord in the SAME batch (deletes before adds)
      in.addData(("del", 1L, 2L), ("add", 11L, 13L))
      q.processAllAvailable()
    } finally q.stop()
    val surv = (b0 ++ b1).filterNot(_ == (1L, 2L)) :+ (11L, 13L)
    assert(counts(root) == scratch(surv))
    assert(adj(root) == adjScratch(surv))
  }

  test("re-adds, unknown deletes, replays: all no-op; reads stay bucket-pruned") {
    val root = tmp("str-replay")
    StandingTriangles.bootstrap(
      adjScratch(b0).toSeq.toDF("node", "nb"),
      scratch(b0).toSeq.toDF("node", "tri"), root)
    // a re-delivered standing edge, an unknown deletion, and fresh
    // edges in one batch: only the fresh edges land
    StandingTriangles.absorbBatch(
      (Seq(("add", 1L, 2L), ("del", 50L, 51L)) ++
        b1.map { case (u, v) => ("add", u, v) }).toDF("kind", "u", "v"),
      0L, root)
    assert(counts(root) == scratch(b0 ++ b1))
    assert(adj(root) == adjScratch(b0 ++ b1))
    // counts writes are the delta's contribution rows only — one row
    // per node whose triangle count changed, never a recount
    val changed = (scratch(b0 ++ b1).toSet -- scratch(b0).toSet).size
    assert(graft.streaming.PartitionedArtifact
      .writeStats(spark, root, 0L)("counts") == changed.toLong)
    // the absorb opened only the delta endpoints' buckets, never the
    // whole adjacency (machine-checked read bound)
    val rd = graft.streaming.PartitionedArtifact.readStats(
      spark, root, 0L)
    val totalParts = graft.streaming.PartitionedArtifact
      .readLatestStanding(spark, root, StandingTriangles.Specs)
      .parts("adj").size
    assert(rd("adj") < totalParts.toLong,
      s"absorb opened ${rd("adj")} of $totalParts buckets")
    val committed = counts(root)
    StandingTriangles.absorbBatch(
      Seq(("add", 20L, 21L)).toDF("kind", "u", "v"), 0L, root)
    assert(counts(root) == committed)
    // crash debris recomputes deterministically
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(root, "v=0", "_COMMIT"))
    StandingTriangles.absorbBatch(
      (Seq(("add", 1L, 2L), ("del", 50L, 51L)) ++
        b1.map { case (u, v) => ("add", u, v) }).toDF("kind", "u", "v"),
      0L, root)
    assert(counts(root) == committed)
  }

  test("counts epoch horizon folds; totals intact through the fold") {
    System.setProperty("graft.artifact.max.epochs", "3")
    try {
      val root = tmp("str-fold")
      StandingTriangles.bootstrap(
        adjScratch(b0).toSeq.toDF("node", "nb"),
        scratch(b0).toSeq.toDF("node", "tri"), root)
      // six batches, each closing one new triangle onto node pair
      // (1,2) via a fresh apex
      val apexes = (30L to 35L)
      apexes.zipWithIndex.foreach { case (a, i) =>
        StandingTriangles.absorbBatch(
          Seq((1L, a), (2L, a)).toDF("u", "v"), i.toLong, root)
      }
      val live = graft.streaming.PartitionedArtifact
        .readLatestStanding(spark, root, StandingTriangles.Specs)
        .parts("counts")
      assert(live.size <= 3, s"live epochs $live")
      val all = b0 ++ apexes.flatMap(a => Seq((1L, a), (2L, a)))
      assert(counts(root) == scratch(all))
    } finally System.clearProperty("graft.artifact.max.epochs")
  }

  test("on the real corpus: bootstrap + shard absorb equals the full recount") {
    // q272's arrival law driven through the LOOP on real sf0.001
    // co-purchase edges: seed with the base graph's artifacts, absorb
    // the shard's delta edges as one batch, compare from scratch
    val root = tmp("str-real")
    val basketsAll = graft.queries.Q.t(spark, sf(), "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    def coEdges(df: DataFrame): DataFrame = df.as("a")
      .join(df.as("b"), col("a.ok") === col("b.ok") &&
        col("a.pk") < col("b.pk"))
      .select(col("a.pk").as("u"), col("b.pk").as("v")).distinct()
    val bucket = graft.queries.Q.hashBucket(col("ok"))
    val baseEdges = coEdges(basketsAll.filter(bucket < 80))
      .as[(Long, Long)].collect().toSeq
    val allEdges = coEdges(basketsAll).as[(Long, Long)].collect().toSeq
    StandingTriangles.bootstrap(
      adjScratch(baseEdges).toSeq.toDF("node", "nb"),
      scratch(baseEdges).toSeq.toDF("node", "tri"), root)
    StandingTriangles.absorbBatch(allEdges.toDF("u", "v"), 0L, root)
    assert(counts(root) == scratch(allEdges))
  }
}
