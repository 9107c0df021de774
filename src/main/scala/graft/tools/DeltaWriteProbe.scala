package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.queries.{PipelineOps, TextOps}
import graft.streaming.{PartitionedArtifact, StandingBandIndex, StandingGraph}

/** Measures the artifact-write cost of one maintenance batch under
  * the partition-scoped layout (round 13) against the whole-rewrite
  * equivalent (the round-12 layout re-serialized every table per
  * version): bootstrap the standing artifact, absorb one shard batch,
  * report bytes on disk per version plus the `_STATS` written-row
  * counters. "Whole-rewrite equivalent" = standing bytes + delta
  * bytes — exactly what a whole-rewrite version (the round-12
  * layout, one full copy of every table per version) writes per
  * batch. Run at sf10 for PERF.md:
  * {{{ sbt "runMain graft.tools.DeltaWriteProbe /root/repo/testdata_sf10 /tmp/dwp" }}}
  */
object DeltaWriteProbe {

  private def dirBytes(p: String): Long = {
    val path = Paths.get(p)
    if (!Files.exists(path)) return 0L
    import scala.jdk.CollectionConverters._
    Files.walk(path).iterator().asScala
      .filter(Files.isRegularFile(_))
      .map(Files.size(_)).sum
  }

  private def report(name: String, root: String, v: Long,
      s: SparkSession): Unit = {
    val standing = dirBytes(s"$root/v=-1")
    val delta = dirBytes(s"$root/v=$v")
    val stats = PartitionedArtifact.writeStats(s, root, v)
    println(f"[$name] standing_bytes=$standing%d delta_bytes=$delta%d " +
      f"whole_rewrite_equiv=${standing + delta}%d " +
      f"write_fraction=${delta.toDouble / (standing + delta)}%.4f " +
      s"rows_written=$stats")
  }

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val root = args(1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val s = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.driver.memory", "16g")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")

    // ---- dedup band index: bootstrap the base epoch, absorb the
    // arriving shard (the q265 arrival law) as one batch
    val bandsRoot = s"$root/bands"
    val bands = TextOps.minhashBands(s, dir)
      .select(col("doc_id").cast("long"), col("band_id").cast("long"),
        col("bh"))
    val base = bands.filter(TextOps.docBucket(col("doc_id")) < 80)
    val baseColl = base.as("a").join(base.as("b"),
        col("a.band_id") === col("b.band_id") &&
          col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .agg(count(lit(1)).as("n_bands"))
    StandingBandIndex.bootstrap(base, baseColl, bandsRoot)
    val t0 = System.nanoTime()
    StandingBandIndex.absorbBatch(
      bands.filter(TextOps.docBucket(col("doc_id")) >= 80), 0L, bandsRoot)
    println(f"[bands] absorb_sec=${(System.nanoTime() - t0) / 1e9}%.2f")
    report("bands", bandsRoot, 0L, s)

    // ---- CDC graph: bootstrap the standing transaction graph
    // (orders bucket < 80), absorb a 1%-of-orders shard of adds plus
    // a small purge as one batch
    val graphRoot = s"$root/graph"
    val pairs = s.read.parquet(s"$dir/lineitem.parquet")
      .join(s.read.parquet(s"$dir/orders.parquet"),
        col("l_orderkey") === col("o_orderkey"))
      .select((col("l_suppkey") + 1000000000L).as("src"),
        col("o_custkey").as("dst"),
        graft.queries.Q.hashBucket(col("o_orderkey")).as("bkt"))
    val baseEdges = pairs.filter(col("bkt") < 80)
      .select(col("src"), col("dst")).distinct()
    StandingGraph.bootstrap(baseEdges,
      PipelineOps.connectedComponents(baseEdges), graphRoot)
    // batch 0: PURE INSERTS (1% of orders) — the common CDC case;
    // must APPEND O(delta) even though the graph is one giant
    // component
    val addBatch = pairs.filter(col("bkt") === 80)
      .select(lit("add").as("kind"), col("src"), col("dst")).distinct()
    val t1 = System.nanoTime()
    StandingGraph.absorbBatch(addBatch, 0L, graphRoot)
    println(f"[graph-add] absorb_sec=${(System.nanoTime() - t1) / 1e9}%.2f")
    report("graph-add", graphRoot, 0L, s)
    // batch 1: a small purge — replaces the touched (giant)
    // component's partition, the honest cost of deletion support
    val delBatch = baseEdges.select(col("src")).distinct().limit(5)
      .select(lit("del").as("kind"), col("src"), lit(-1L).as("dst"))
    val t2 = System.nanoTime()
    StandingGraph.absorbBatch(delBatch, 1L, graphRoot)
    println(f"[graph-del] absorb_sec=${(System.nanoTime() - t2) / 1e9}%.2f")
    report("graph-del", graphRoot, 1L, s)

    // ---- residual-push ranks: bootstrap the standing slice's push
    // state (the one-off cold solve), then absorb a 1%-of-orders
    // delta and a single-order micro-delta — absorb cost must track
    // DELTA size (rounds × frontier buckets), not |E|, and the
    // `_READS` counter shows the partition-pruned fan-in per batch
    val ranksRoot = s"$root/ranks"
    val t3 = System.nanoTime()
    graft.streaming.StandingRanks.bootstrap(
      baseEdges.select(col("src"), col("dst")), ranksRoot)
    println(f"[ranks] bootstrap_sec=${(System.nanoTime() - t3) / 1e9}%.2f")
    val rankAdd = pairs.filter(col("bkt") === 80)
      .select(col("src"), col("dst")).distinct()
    val nDelta = rankAdd.count()
    val t4 = System.nanoTime()
    graft.streaming.StandingRanks.absorbBatch(rankAdd, 0L, ranksRoot)
    println(f"[ranks-add] absorb_sec=${(System.nanoTime() - t4) / 1e9}%.2f " +
      s"delta_edges=$nDelta " +
      s"reads=${PartitionedArtifact.readStats(s, ranksRoot, 0L)}")
    report("ranks-add", ranksRoot, 0L, s)
    // micro-delta: a handful of edges — the steady micro-batch shape
    val microAdd = pairs.filter(col("bkt") === 81)
      .select(col("src"), col("dst")).distinct().limit(8)
    val nMicro = microAdd.count()
    val t5 = System.nanoTime()
    graft.streaming.StandingRanks.absorbBatch(microAdd, 1L, ranksRoot)
    println(f"[ranks-micro] absorb_sec=${(System.nanoTime() - t5) / 1e9}%.2f " +
      s"delta_edges=$nMicro " +
      s"reads=${PartitionedArtifact.readStats(s, ranksRoot, 1L)}")
    report("ranks-micro", ranksRoot, 1L, s)
    s.stop()
  }
}
