package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.queries.PipelineOps
import graft.streaming.{PartitionedArtifact, StandingGraph}

/** The component labels a standing graph keeps under add-only input:
  * batch re-runs must be idempotent (the at-least-once contract of
  * foreachBatch) with crash debris recomputed from the predecessor,
  * and a batch-built labeling must hand off into the loop.
  */
class StandingLabelsSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def labels(root: String): Map[Long, Long] =
    StandingGraph.readLatest(spark, root)("labels")
      .as[(Long, Long)].collect().toMap

  private def adds(es: (Long, Long)*): DataFrame =
    es.map { case (a, b) => ("add", a, b) }.toDF("kind", "src", "dst")

  test("replay: committed version is a reader-safe no-op; crash debris recomputes from the predecessor") {
    val root = tmp("sl-replay")
    StandingGraph.absorbBatch(adds((1L, 2L), (10L, 11L)), 0L, root)
    StandingGraph.absorbBatch(adds((2L, 10L)), 1L, root)
    val after = labels(root)
    assert(after == Map(1L -> 1L, 2L -> 1L, 10L -> 1L, 11L -> 1L))
    // replay of a COMMITTED batch must not touch the version — even
    // with (impossible in Structured Streaming) different content:
    // a concurrent reader may be mid-scan over v=1's files
    StandingGraph.absorbBatch(adds((2L, 10L), (20L, 21L)), 1L, root)
    assert(labels(root) == after)
    // crash mid-write: v=1 exists but its _COMMIT never landed —
    // nothing can have read it, so the replay must recompute from
    // v=0 (never consult the debris) and overwrite whole
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(root, "v=1", "_COMMIT"))
    StandingGraph.absorbBatch(adds((2L, 10L), (20L, 21L)), 1L, root)
    assert(labels(root) == after ++ Map(20L -> 20L, 21L -> 20L))
    assert(PartitionedArtifact.committedVersions(spark, root) == Seq(0L, 1L))
  }

  test("bootstrap hands a batch-built labeling into the loop; refuses a live root") {
    implicit val sqlCtx = spark.sqlContext
    val root = tmp("sl-boot")
    val base = Seq((1L, 2L), (10L, 11L)).toDF("src", "dst")
    StandingGraph.bootstrap(base,
      PipelineOps.connectedComponents(base), root)
    val in = MemoryStream[(String, Long, Long)]
    val q = StandingGraph.maintainStream(
      in.toDF().toDF("kind", "src", "dst"), root, tmp("sl-boot-ckpt"))
    try {
      in.addData(("add", 2L, 10L)); q.processAllAvailable()
    } finally q.stop()
    val scratch = PipelineOps.connectedComponents(
        base.union(Seq((2L, 10L)).toDF("src", "dst")))
      .as[(Long, Long)].collect().toMap
    assert(labels(root) == scratch)
    intercept[IllegalArgumentException] {
      StandingGraph.bootstrap(base,
        PipelineOps.connectedComponents(base), root)
    }
    assert(labels(root) == scratch)
  }
}
