package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.queries.PipelineOps
import graft.streaming.{PartitionedArtifact, StandingGraph}

/** The CDC graph loop: a changelog of edge adds and node deletes,
  * absorbed batch-by-batch into a standing (edges, labels) artifact,
  * must track what a from-scratch solve over the surviving graph
  * would say at every step — deletes before adds within a batch,
  * same-batch re-introduction legal, replays idempotent against the
  * multi-table commit marker.
  */
class StandingGraphSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def labels(root: String): Map[Long, Long] =
    StandingGraph.readLatest(spark, root)("labels")
      .as[(Long, Long)].collect().toMap

  private def edges(root: String): Set[(Long, Long)] =
    StandingGraph.readLatest(spark, root)("edges")
      .as[(Long, Long)].collect().toSet

  test("CDC stream: deletes split, adds re-bridge and resurrect, state tracks truth") {
    implicit val sqlCtx = spark.sqlContext
    val root = tmp("sg-state")
    val in = MemoryStream[(String, Long, Long)]
    val q = StandingGraph.maintainStream(
      in.toDF().toDF("kind", "src", "dst"), root, tmp("sg-ckpt"))
    try {
      in.addData(("add", 1L, 2L), ("add", 2L, 3L), ("add", 10L, 11L))
      q.processAllAvailable()
      assert(labels(root) ==
        Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
      // delete the cut vertex 2 (splits {1,2,3}; 1 and 3 survive
      // isolated) and add (3,4) in the SAME batch — the delete
      // applies first, so 4 chains onto the isolated 3
      in.addData(("del", 2L, -1L), ("add", 3L, 4L))
      q.processAllAvailable()
      assert(labels(root) ==
        Map(1L -> 1L, 3L -> 3L, 4L -> 3L, 10L -> 10L, 11L -> 10L))
      assert(edges(root) == Set((3L, 4L), (10L, 11L)))
      // resurrection: a later add re-introduces node 2; another add
      // bridges the split half into the other standing component
      in.addData(("add", 1L, 2L), ("add", 4L, 10L))
      q.processAllAvailable()
      assert(labels(root) ==
        Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L, 10L -> 3L,
          11L -> 3L))
      // a DELETE-ONLY batch (the adds fast path must not skip it)
      in.addData(("del", 11L, -1L))
      q.processAllAvailable()
    } finally q.stop()
    assert(labels(root) ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L, 10L -> 3L))
    // the final labels equal a from-scratch solve over the final edges
    val scratch = PipelineOps.connectedComponents(
        edges(root).toSeq.toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap
    assert(labels(root) == scratch)
  }

  test("multi-table replay: committed version no-ops, crash debris recomputes") {
    val root = tmp("sg-replay")
    StandingGraph.absorbBatch(
      Seq(("add", 1L, 2L), ("add", 10L, 11L)).toDF("kind", "src", "dst"),
      0L, root)
    StandingGraph.absorbBatch(
      Seq(("del", 2L, -1L)).toDF("kind", "src", "dst"), 1L, root)
    assert(labels(root) == Map(1L -> 1L, 10L -> 10L, 11L -> 10L))
    // committed version → reader-safe no-op even with new content
    StandingGraph.absorbBatch(
      Seq(("del", 11L, -1L)).toDF("kind", "src", "dst"), 1L, root)
    assert(labels(root) == Map(1L -> 1L, 10L -> 10L, 11L -> 10L))
    // crash mid-write (tables landed, _COMMIT didn't): the replay
    // must read v=0 — where node 2 and edge (1,2) still exist — and
    // overwrite the debris whole
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(root, "v=1", "_COMMIT"))
    StandingGraph.absorbBatch(
      Seq(("del", 11L, -1L)).toDF("kind", "src", "dst"), 1L, root)
    assert(labels(root) == Map(1L -> 1L, 2L -> 1L, 10L -> 10L))
    assert(edges(root) == Set((1L, 2L)))
    assert(StandingGraph.committedVersions(spark, root) == Seq(0L, 1L))
  }

  test("re-adding standing edges never accretes duplicates, in both gate regimes") {
    // the edge-set invariant is maintained by a shard-side anti probe
    // (standing is never shuffled); a re-add of an edge that is
    // ALREADY standing must vanish, and the shuffle-fallback regime
    // (gate=0, the AvailableNow-backfill path) must produce identical
    // state
    for (gate <- Seq(None, Some("0"))) {
      gate.foreach(System.setProperty("graft.relabel.bcast.max.rows", _))
      try {
        val root = tmp("sg-readd")
        StandingGraph.absorbBatch(
          Seq(("add", 1L, 2L), ("add", 2L, 3L)).toDF("kind", "src", "dst"),
          0L, root)
        // re-add (1,2) — already standing — alongside a fresh edge,
        // with an in-batch duplicate of the fresh edge too
        StandingGraph.absorbBatch(
          Seq(("add", 1L, 2L), ("add", 3L, 4L), ("add", 3L, 4L))
            .toDF("kind", "src", "dst"), 1L, root)
        assert(edges(root) == Set((1L, 2L), (2L, 3L), (3L, 4L)))
        assert(StandingGraph.readLatest(spark, root)("edges").count() == 3L)
        assert(labels(root) ==
          Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
      } finally gate.foreach(_ =>
        System.clearProperty("graft.relabel.bcast.max.rows"))
    }
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

  test("a batch touching one component writes only that component's partitions") {
    implicit val sqlCtx = spark.sqlContext
    val root = tmp("sg-delta")
    // comp A: chain 1-2-3 (2 edges); comp B: a 100-edge star that no
    // batch below touches — its label-partition bytes must never move
    val big = (0 until 100).map(i => (1000L, 1001L + i))
    val base = (Seq((1L, 2L), (2L, 3L)) ++ big).toDF("src", "dst")
    StandingGraph.bootstrap(base,
      PipelineOps.connectedComponents(base), root)
    val bigDir = s"$root/v=-1/edges/label=1000"
    val compADir = s"$root/v=-1/edges/label=1"
    val bigFiles = snap(bigDir)
    val compAFiles = snap(compADir)
    // an extending add on comp A changes no existing row's label, so
    // it APPENDS exactly the fresh edge — 1 row, and even comp A's
    // own standing bytes stay untouched (not 3 rows, never 103)
    StandingGraph.absorbBatch(
      Seq(("add", 3L, 4L)).toDF("kind", "src", "dst"), 0L, root)
    val st0 = graft.streaming.PartitionedArtifact.writeStats(
      spark, root, 0L)
    assert(st0("edges") == 1L, st0.toString)
    assert(snap(bigDir) == bigFiles)
    assert(snap(compADir) == compAFiles)
    // a delete that SPLITS comp A: partition 1 is replaced (its
    // survivors moved out), the surviving edge appends into the new
    // split partition — 1 row written, comp B still untouched
    StandingGraph.absorbBatch(
      Seq(("del", 2L, -1L)).toDF("kind", "src", "dst"), 1L, root)
    val st1 = graft.streaming.PartitionedArtifact.writeStats(
      spark, root, 1L)
    assert(st1("edges") == 1L, st1.toString)
    assert(snap(bigDir) == bigFiles)
    // READ-boundedness, machine-checked like the write counter: both
    // absorbs touched only component A, so each opened exactly ONE
    // edge partition (the gate/survivor probes) — never comp B's
    val rd0 = graft.streaming.PartitionedArtifact.readStats(
      spark, root, 0L)
    val rd1 = graft.streaming.PartitionedArtifact.readStats(
      spark, root, 1L)
    assert(rd0("edges") == 1L, rd0.toString)
    assert(rd1("edges") == 1L, rd1.toString)
    // equality with a from-scratch solve over the surviving graph
    val scratch = PipelineOps.connectedComponents(
        edges(root).toSeq.toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap
    // isolated node 1 lost all edges; the loop keeps it labeled
    assert(labels(root) == scratch ++ Map(1L -> 1L))
    assert(edges(root) == Set((3L, 4L)) ++ big.toSet)
  }

  test("append fragmentation compacts at the ref ceiling, state intact") {
    // each pure-insert batch appends one file set to the target
    // partition; at GRAFT_ARTIFACT_MAX_PART_REFS the partition must
    // fold back to a single reference (inline, replay-safe), and the
    // graph must still equal the from-scratch truth
    System.setProperty("graft.artifact.max.part.refs", "3")
    try {
      val root = tmp("sg-compact")
      StandingGraph.bootstrap(Seq((1L, 2L)).toDF("src", "dst"),
        PipelineOps.connectedComponents(Seq((1L, 2L)).toDF("src", "dst")),
        root)
      // 6 single-edge extending adds onto component 1
      (0L to 5L).foreach { i =>
        StandingGraph.absorbBatch(
          Seq(("add", 2L + i, 3L + i)).toDF("kind", "src", "dst"),
          i, root)
      }
      val refs = graft.streaming.PartitionedArtifact
        .partRefCounts(spark, root, "edges")
      assert(refs.nonEmpty && refs.values.max <= 3, refs.toString)
      assert(edges(root) ==
        (0L to 6L).map(i => (1L + i, 2L + i)).toSet)
      val scratch = PipelineOps.connectedComponents(
          edges(root).toSeq.toDF("src", "dst"))
        .as[(Long, Long)].collect().toMap
      assert(labels(root) == scratch)
    } finally System.clearProperty("graft.artifact.max.part.refs")
  }

  test("a reader planned before a prune still scans: dereferenced dirs honor the lease") {
    implicit val sqlCtx = spark.sqlContext
    val root = tmp("sg-lease")
    StandingGraph.bootstrap(Seq((1L, 2L)).toDF("src", "dst"),
      PipelineOps.connectedComponents(Seq((1L, 2L)).toDF("src", "dst")),
      root)
    // each batch deletes node 2 and re-adds (1,2): the component's
    // partition is REPLACED every version, so old version dirs become
    // fully dereferenced as the keep window advances
    def churn(id: Long): Unit = StandingGraph.absorbBatch(
      Seq(("del", 2L, -1L), ("add", 1L, 2L)).toDF("kind", "src", "dst"),
      id, root)
    churn(0L); churn(1L)
    // a reader plans against the CURRENT manifest (references v=1)...
    val preHandle = StandingGraph.readLatest(spark, root)("edges")
    // ...then three more absorbs push v=1 out of the keep window
    // (keepBehind=2 keeps {2,3,4}); under the default 6h read-lease
    // the dereferenced dirs are only MARKED, so the old plan's files
    // are still on disk
    churn(2L); churn(3L); churn(4L)
    assert(preHandle.as[(Long, Long)].collect().toSet == Set((1L, 2L)))
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(root, "v=1", "_EXPIRE")))
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(root, "v=1", "_COMMIT")))
    // with the lease floor lowered to 0 (the spec knob), the next
    // prune physically deletes the dereferenced dirs — retention
    // still works, it is just two-phase under a real lease
    System.setProperty("graft.artifact.prune.lease.ms", "0")
    try churn(5L)
    finally System.clearProperty("graft.artifact.prune.lease.ms")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(root, "v=1")))
    assert(edges(root) == Set((1L, 2L)))
  }

  /** Spark jobs one pure-insert absorb may start on a giant-component
    * graph: the batch-size aggregate, three delta-sized collects (the
    * distinct adds, the endpoints' standing labels, the dedupe probe)
    * and the two channel writes — the same 11 the `standing_absorb`
    * benchmark traces per batch on a 2000-node graph. */
  private val PureInsertJobBudget = 11

  test("a pure-insert absorb runs within the job budget; a delete batch retracts exactly") {
    val root = tmp("sg-budget")
    // one giant component, the standing shape of a transaction graph:
    // a random tree plus chords
    val r = new scala.util.Random(11)
    val n0 = 400
    def pair(): (Long, Long) = {
      val a = r.nextInt(n0).toLong
      val b = (a + 1 + r.nextInt(n0 - 1)) % n0
      (a, b)
    }
    val baseEdges = (1 until n0).map(i => (i.toLong, r.nextInt(i).toLong)) ++
      (0 until n0 / 4).map(_ => pair())
    val base = baseEdges.toDF("src", "dst")
    StandingGraph.bootstrap(base, PipelineOps.connectedComponents(base), root)
    // the micro-batch counts every row it yields, per evaluation
    val rowsRead = spark.sparkContext.longAccumulator("batch-rows-read")
    def batch(rows: Seq[(String, Long, Long)]): DataFrame =
      spark.sparkContext.parallelize(rows, 2)
        .map { row => rowsRead.add(1); row }
        .toDF("kind", "src", "dst")
    // two in three adds attach a new node, the rest join two standing
    // nodes — every one lands in the giant component
    val adds = (0 until 90).map { i =>
      if (i % 3 == 0) { val (a, b) = pair(); ("add", a, b) }
      else ("add", 1000L + i, r.nextInt(n0).toLong)
    }
    val conf0 = spark.conf.getAll
    val (_, jobs) = JobLog.during(spark)(
      StandingGraph.absorbBatch(batch(adds), 0L, root))
    // the absorb shares its session with readers: it leaves the
    // session conf as it found it
    assert(spark.conf.getAll == conf0)
    assert(jobs.size <= PureInsertJobBudget, jobs.mkString("\n"))
    assert(jobs.forall(_.inSqlExecution),
      s"jobs outside a SQL execution (schema inference): ${jobs.filterNot(_.inSqlExecution)}")
    assert(rowsRead.value == adds.size.toLong,
      s"the micro-batch was read ${rowsRead.value} rows for ${adds.size}")
    val afterAdds = (baseEdges ++ adds.map { case (_, a, b) => (a, b) }).toSet
    assert(edges(root) == afterAdds)
    def scratchLabels(es: Set[(Long, Long)]): Map[Long, Long] =
      PipelineOps.connectedComponents(es.toSeq.toDF("src", "dst"))
        .as[(Long, Long)].collect().toMap
    assert(labels(root) == scratchLabels(afterAdds))

    // the retraction path: deleting tree nodes near the root splits
    // the giant component; neighbours left with no edge stay labeled
    // as themselves
    val gone = Set(1L, 2L, 5L)
    StandingGraph.absorbBatch(
      batch(gone.toSeq.map(n => ("del", n, -1L))), 1L, root)
    assert(spark.conf.getAll == conf0)
    val survivingEdges = afterAdds.filterNot { case (a, b) =>
      gone(a) || gone(b) }
    assert(edges(root) == survivingEdges)
    val scratch = scratchLabels(survivingEdges)
    val nodes = afterAdds.flatMap { case (a, b) => Seq(a, b) } -- gone
    assert(labels(root) == nodes.map(v => v -> scratch.getOrElse(v, v)).toMap)

    // `_STATS` is counted on the write itself; a re-read of each
    // version's written bytes must agree, table by table
    def reread(v: Long, table: String): Long =
      Seq(s"$root/v=$v/$table", s"$root/v=$v/$table.app")
        .filter(d => new java.io.File(d).exists())
        .map(d => spark.read.schema(StandingGraph.Specs(table).schema)
          .parquet(d).count()).sum
    Seq(-1L, 0L, 1L).foreach { v =>
      val stats = PartitionedArtifact.writeStats(spark, root, v)
      assert(stats.keySet == StandingGraph.Specs.keySet)
      stats.foreach { case (t, n) =>
        assert(reread(v, t) == n, s"v=$v $t: _STATS $n") }
    }

    // planning a read of the committed version runs no job
    val (_, readJobs) = JobLog.during(spark)(
      StandingGraph.readLatest(spark, root))
    assert(readJobs.isEmpty, readJobs.toString)
  }

  test("driver insert path, fetch-bound and past-ceiling gates all reach the same state") {
    // two standing components (random trees plus chords); a pure-insert
    // batch that bridges them and attaches new nodes, then a batch that
    // deletes in both components and adds on top
    val r = new scala.util.Random(5)
    def tree(off: Long, n: Int): Seq[(Long, Long)] =
      (1 until n).map(i => (off + i, off + r.nextInt(i))) ++
        (0 until n / 4).map(_ => (off + r.nextInt(n), off + r.nextInt(n)))
          .filter { case (a, b) => a != b }
    val base = (tree(0L, 30) ++ tree(100L, 30)).toDF("src", "dst")
    val baseLabels = PipelineOps.connectedComponents(base).cache()
    val inserts = Seq(("add", 3L, 104L)) ++ (0 until 20).map { i =>
      if (i % 2 == 0) ("add", 500L + i, r.nextInt(30).toLong)
      else ("add", 100L + r.nextInt(30), 600L + i)
    }
    val mixed = Seq(("del", 1L, -1L), ("del", 101L, -1L),
      ("add", 700L, 2L), ("add", 700L, 102L), ("add", 500L, 501L))
    def run(props: (String, String)*)
        : (Map[Long, Long], Set[(Long, Long)], Seq[JobLog.Job]) = {
      props.foreach { case (k, v) => System.setProperty(k, v) }
      try {
        val root = tmp("sg-regime")
        StandingGraph.bootstrap(base, baseLabels, root)
        val (_, jobs) = JobLog.during(spark)(StandingGraph.absorbBatch(
          inserts.toDF("kind", "src", "dst"), 0L, root))
        StandingGraph.absorbBatch(mixed.toDF("kind", "src", "dst"), 1L, root)
        (labels(root), edges(root), jobs)
      } finally props.foreach { case (k, _) => System.clearProperty(k) }
    }
    val driverGate = "graft.standing.driver.max.adds"
    def cuts(jobs: Seq[JobLog.Job]) = jobs.filter(_.callSite.contains("Ckpt.scala"))
    // a batch AT the insert gate stays on the driver (no lineage cut);
    // one add past it takes the distributed merge
    val atGate = run(driverGate -> inserts.size.toString)
    assert(cuts(atGate._3).isEmpty, atGate._3.mkString("\n"))
    val pastGate = run(driverGate -> (inserts.size - 1).toString)
    assert(cuts(pastGate._3).nonEmpty, pastGate._3.mkString("\n"))
    // distributed, with every gated label list past the driver fetch
    // bound (sized by a count, then collected) and the contracted
    // solve on its distributed loop ...
    val pastFetch = run(driverGate -> "0", "graft.cc.driver.max.edges" -> "1")
    // ... and past the broadcast ceiling (whole-table rewrites,
    // shuffle-hash joins)
    val pastCeiling = run("graft.relabel.bcast.max.rows" -> "1")
    val survivingEdges = (base.as[(Long, Long)].collect().toSet ++
      inserts.map { case (_, a, b) => (a, b) })
      .filterNot { case (a, b) => Set(1L, 101L)(a) || Set(1L, 101L)(b) } ++
      mixed.collect { case ("add", a, b) => (a, b) }
    val scratch = PipelineOps.connectedComponents(
        survivingEdges.toSeq.toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap
    for ((l, e, _) <- Seq(atGate, pastGate, pastFetch, pastCeiling)) {
      assert(e == survivingEdges)
      assert(l.filter { case (n, _) => scratch.contains(n) } == scratch)
      // survivors left with no edge label themselves
      assert(l.forall { case (n, lbl) => scratch.getOrElse(n, n) == lbl })
    }
    baseLabels.unpersist()
  }

  test("bootstrap seeds the loop from a batch-built graph") {
    implicit val sqlCtx = spark.sqlContext
    val root = tmp("sg-boot")
    val base = Seq((1L, 2L), (10L, 11L)).toDF("src", "dst")
    StandingGraph.bootstrap(base,
      PipelineOps.connectedComponents(base), root)
    val in = MemoryStream[(String, Long, Long)]
    val q = StandingGraph.maintainStream(
      in.toDF().toDF("kind", "src", "dst"), root, tmp("sg-boot-ckpt"))
    try {
      // the delete needs the BOOTSTRAPPED edges to know 11 survives
      in.addData(("del", 10L, -1L), ("add", 2L, 11L))
      q.processAllAvailable()
    } finally q.stop()
    assert(labels(root) == Map(1L -> 1L, 2L -> 1L, 11L -> 1L))
    assert(edges(root) == Set((1L, 2L), (2L, 11L)))
  }
}
