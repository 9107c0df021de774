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

  private def adds(es: (Long, Long)*): DataFrame =
    es.map { case (a, b) => ("add", a, b) }.toDF("kind", "src", "dst")

  test("add-only stream: labels equal from-scratch CC over all arrived edges") {
    implicit val sqlCtx = spark.sqlContext
    val root = tmp("sg-addonly")
    val in = MemoryStream[(String, Long, Long)]
    val q = StandingGraph.maintainStream(
      in.toDF().toDF("kind", "src", "dst"), root, tmp("sg-addonly-ckpt"))
    try {
      // batch 1: two components; batch 2 BRIDGES them and plants a
      // fresh one; batch 3 chains the fresh one in — the cross-batch
      // interactions a single-batch test can't see
      in.addData(("add", 1L, 2L), ("add", 10L, 11L)); q.processAllAvailable()
      in.addData(("add", 2L, 10L), ("add", 100L, 101L))
      q.processAllAvailable()
      assert(labels(root) ==
        Map(1L -> 1L, 2L -> 1L, 10L -> 1L, 11L -> 1L,
          100L -> 100L, 101L -> 100L))
      in.addData(("add", 101L, 11L)); q.processAllAvailable()
    } finally q.stop()
    val all = Seq((1L, 2L), (10L, 11L), (2L, 10L), (100L, 101L),
      (101L, 11L)).toDF("src", "dst")
    val scratch = PipelineOps.connectedComponents(all)
      .as[(Long, Long)].collect().toMap
    assert(labels(root) == scratch)
  }

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
    assert(PartitionedArtifact.committedVersions(spark, root) == Seq(0L, 1L))
  }

  test("an empty labels table is still written: a graph emptied by deletes, or bootstrapped empty, stays readable") {
    val none = Seq.empty[(String, Long, Long)].toDF("kind", "src", "dst")
    // every node deleted, then an empty batch: the driver path writes
    // an empty labels table, which the next absorb and reads resolve
    val emptied = tmp("sg-emptied")
    StandingGraph.absorbBatch(adds((1L, 2L)), 0L, emptied)
    StandingGraph.absorbBatch(
      Seq(("del", 1L, -1L), ("del", 2L, -1L)).toDF("kind", "src", "dst"),
      1L, emptied)
    StandingGraph.absorbBatch(none, 2L, emptied)
    assert(labels(emptied).isEmpty && edges(emptied).isEmpty)
    StandingGraph.absorbBatch(adds((3L, 4L)), 3L, emptied)
    assert(labels(emptied) == Map(3L -> 3L, 4L -> 3L))
    assert(edges(emptied) == Set((3L, 4L)))
    // a bootstrap from an empty edge list, then an empty batch
    val fresh = tmp("sg-empty-boot")
    val base = Seq.empty[(Long, Long)].toDF("src", "dst")
    StandingGraph.bootstrap(base, PipelineOps.connectedComponents(base), fresh)
    assert(labels(fresh).isEmpty && edges(fresh).isEmpty)
    StandingGraph.absorbBatch(none, 0L, fresh)
    assert(labels(fresh).isEmpty && edges(fresh).isEmpty)
    StandingGraph.absorbBatch(adds((5L, 6L)), 1L, fresh)
    assert(labels(fresh) == Map(5L -> 5L, 6L -> 5L))
    assert(edges(fresh) == Set((5L, 6L)))
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

  test("resident partitions compact on the driver at the ref ceiling: one file each, within the warm budget") {
    // at a ceiling of 2, a partition one version appends to compacts in
    // the next, so warm insert batches compact every other batch. Every
    // partition here is resident, so each compaction is written from
    // the driver's rows, with no job and in one file
    System.setProperty("graft.artifact.max.part.refs", "2")
    try {
      val root = tmp("sg-compact-resident")
      val base = Seq((1L, 2L), (2L, 3L), (10L, 11L), (11L, 12L))
      val df = base.toDF("src", "dst")
      StandingGraph.bootstrap(df, PipelineOps.connectedComponents(df), root)
      def batch(es: Seq[(Long, Long)]): DataFrame = spark.sparkContext
        .parallelize(es.map { case (a, b) => ("add", a, b) }, 2)
        .toDF("kind", "src", "dst")
      // batch 0 (cold) loads both standing components; batches 2 and 6
      // merge a fresh component into component 1, and batch 4 bridges
      // the two standing ones, so partition 10 moves into partition 1
      val batches = Seq(
        Seq((3L, 20L), (12L, 30L)),
        Seq((20L, 21L), (30L, 31L), (40L, 41L)),
        Seq((21L, 22L), (31L, 32L), (41L, 1L)),
        Seq((22L, 23L), (32L, 33L)),
        Seq((23L, 33L), (50L, 51L)),
        Seq((33L, 34L), (51L, 52L)),
        Seq((34L, 35L), (52L, 2L)),
        Seq((35L, 36L)))
      var all = base.toSet
      var compacted = 0
      batches.zipWithIndex.foreach { case (es, i) =>
        val (_, jobs) = JobLog.during(spark)(
          StandingGraph.absorbBatch(batch(es), i.toLong, root))
        if (i > 0) assert(jobs.size <= PureInsertWarmJobBudget,
          s"batch $i:\n${jobs.mkString("\n")}")
        all ++= es
        assert(edges(root) == all, s"batch $i")
        val uf = new PipelineOps.MinUnionFind(all.size)
        all.foreach { case (a, b) => uf.union(a, b) }
        assert(labels(root) == all.flatMap { case (a, b) => Seq(a, b) }
          .map(n => n -> uf.find(n)).toMap, s"batch $i")
        // no partition is left past the ceiling
        val refs = PartitionedArtifact.partRefCounts(spark, root, "edges")
        assert(refs.values.max <= 2, s"batch $i: $refs")
        // an insert batch replaces only the partitions it compacts (a
        // moved one is dropped with no rows): each is one parquet file
        Option(new java.io.File(s"$root/v=$i/edges").listFiles())
          .toSeq.flatten.foreach { dir =>
            val files = dir.list().filter(_.endsWith(".parquet"))
            assert(files.length == 1, s"batch $i ${dir.getName}: ${files.toSeq}")
            compacted += 1
          }
      }
      assert(compacted >= 4, s"$compacted compactions")
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

  /** Spark jobs the first pure-insert absorb after a bootstrap may
    * start on a giant-component graph, when the root's handle is cold:
    * the micro-batch probe (two jobs over this spec's two-partition
    * batch) and the labels and edge-partition collects that load the
    * resident graph. Its channels are written on the driver. */
  private val PureInsertColdJobBudget = 4

  /** ... and every later one, on the resident graph: the micro-batch
    * probe alone (two jobs over this spec's two-partition batch, as a
    * limit scans one partition first); every channel, compactions
    * included, is written on the driver. */
  private val PureInsertWarmJobBudget = 2

  /** jobs of the delete batch below as measured before the resident
    * graph: the retraction path is unchanged, and its size aggregate
    * became the micro-batch probe. */
  private val DeleteJobBudget = 72

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
    def insertBatch(off: Long): Seq[(String, Long, Long)] = (0 until 90).map { i =>
      if (i % 3 == 0) { val (a, b) = pair(); ("add", a, b) }
      else ("add", off + i, r.nextInt(n0).toLong)
    }
    val conf0 = spark.conf.getAll
    // an absorb's jobs, checked for what every absorb must hold
    def absorbed(rows: Seq[(String, Long, Long)], id: Long): Seq[JobLog.Job] = {
      rowsRead.reset()
      var jobs = Seq.empty[JobLog.Job]
      val started = ProcessStarts.during {
        jobs = JobLog.during(spark)(
          StandingGraph.absorbBatch(batch(rows), id, root))._2
      }
      info(s"batch $id: ${jobs.size} jobs")
      // the version's files are created without starting an OS
      // process (no `chmod` per file, `.crc` and directory)
      assert(started.isEmpty,
        s"${started.size} processes: ${started.distinct.take(5)}")
      // the absorb shares its session with readers: it leaves the
      // session conf as it found it
      assert(spark.conf.getAll == conf0)
      assert(jobs.forall(_.inSqlExecution),
        s"jobs outside a SQL execution (schema inference): ${jobs.filterNot(_.inSqlExecution)}")
      assert(rowsRead.value == rows.size.toLong,
        s"the micro-batch was read ${rowsRead.value} rows for ${rows.size}")
      jobs
    }
    val cold = insertBatch(1000L)
    val coldJobs = absorbed(cold, 0L)
    assert(coldJobs.size <= PureInsertColdJobBudget, coldJobs.mkString("\n"))
    val warm = insertBatch(2000L)
    val warmJobs = absorbed(warm, 1L)
    assert(warmJobs.size <= PureInsertWarmJobBudget, warmJobs.mkString("\n"))
    val adds = cold ++ warm
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
    val delJobs = absorbed(gone.toSeq.map(n => ("del", n, -1L)), 2L)
    assert(delJobs.size <= DeleteJobBudget, delJobs.mkString("\n"))
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
    Seq(-1L, 0L, 1L, 2L).foreach { v =>
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
    // a live root refuses a second bootstrap and keeps its state
    intercept[IllegalArgumentException] {
      StandingGraph.bootstrap(base,
        PipelineOps.connectedComponents(base), root)
    }
    assert(labels(root) == Map(1L -> 1L, 2L -> 1L, 11L -> 1L))
  }

  test("a reset checkpoint over a retained root fails loudly at batch 0") {
    // the committed-version no-op rule would otherwise SILENTLY skip
    // every batch up to the old high-water mark — the operator must
    // get an error, not discarded data
    val root = tmp("sg-reset")
    StandingGraph.absorbBatch(adds((1L, 2L)), 0L, root)
    StandingGraph.absorbBatch(adds((2L, 3L)), 1L, root)
    val e = intercept[IllegalStateException] {
      StandingGraph.absorbBatch(adds((9L, 10L)), 0L, root)
    }
    assert(e.getMessage.contains("checkpoint"))
    // a legitimate batch-0 replay (only v=0, or v=0 + bootstrap) is
    // NOT a reset and must stay a quiet no-op
    val root2 = tmp("sg-replay0")
    StandingGraph.absorbBatch(adds((1L, 2L)), 0L, root2)
    StandingGraph.absorbBatch(adds((5L, 6L)), 0L, root2)
    assert(labels(root2) == Map(1L -> 1L, 2L -> 1L))
  }

  test("a swapped root or foreign checkpoint fails loudly at a run's FIRST batch") {
    implicit val sqlCtx = spark.sqlContext
    // loop 1 advances the checkpoint past batch 1 against root1
    val ckpt = tmp("sg-swap-ckpt")
    val root1 = tmp("sg-swap-root1")
    val in = MemoryStream[(String, Long, Long)]
    val q1 = StandingGraph.maintainStream(
      in.toDF().toDF("kind", "src", "dst"), root1, ckpt)
    try {
      in.addData(("add", 1L, 2L)); q1.processAllAvailable()
      in.addData(("add", 2L, 3L)); q1.processAllAvailable()
    } finally q1.stop()
    // swap a FRESH root under the live checkpoint: the restart's
    // first batch id (2) is past the fresh root's high-water mark
    // (none), so batches 0-1's state is missing — the batch-0 guard
    // can't see this, the first-batch guard must
    val root2 = tmp("sg-swap-root2")
    in.addData(("add", 3L, 4L))
    val q2 = StandingGraph.maintainStream(
      in.toDF().toDF("kind", "src", "dst"), root2, ckpt)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q2.processAllAvailable()
    }
    q2.stop()
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("high-water mark")))
    // a wrong-but-nonzero STALE checkpoint (first batch at or below
    // the mark, but not a legal replay of it) fails too — under the
    // committed-version no-op rule its rows would silently vanish
    val root3 = tmp("sg-stale-root")
    (0L to 4L).foreach { i =>
      StandingGraph.absorbBatch(adds((i * 10, i * 10 + 1)), i, root3)
    }
    val noAbsorb: (PartitionedArtifact.Standing, DataFrame, Long)
        => Map[String, PartitionedArtifact.Delta] =
      (_, _, _) => fail("the batch must not reach its absorb")
    def firstBatch(id: Long)(absorb: (PartitionedArtifact.Standing,
        DataFrame, Long) => Map[String, PartitionedArtifact.Delta]): Unit =
      PartitionedArtifact.absorbBatch(adds((9L, 9L)), id, root3,
        StandingGraph.Specs, firstOfRun = true)(absorb)
    val e2 = intercept[IllegalStateException](firstBatch(2L)(noAbsorb))
    assert(e2.getMessage.contains("high-water mark"))
    // the two LEGAL first batches: a replay of the mark itself (4)
    // no-ops without reaching the absorb; the next id (5) absorbs
    firstBatch(4L)(noAbsorb)
    firstBatch(5L)((standing, _, _) => Map(
      "edges" -> PartitionedArtifact.PartsDelta(
        standing.readParts("edges", Seq.empty), Seq.empty),
      "labels" -> PartitionedArtifact.WholeDelta(standing.table("labels"))))
    assert(PartitionedArtifact.committedVersions(spark, root3).last == 5L)
    StandingGraph.absorbBatch(adds((50L, 51L)), 6L, root3)
    assert(labels(root3).contains(50L))
  }

  test("old versions are pruned to the keep window, newest state intact") {
    // lease 0: a dereferenced directory is deleted by the first prune
    // that finds it outside the keep window
    System.setProperty("graft.artifact.prune.lease.ms", "0")
    try {
      val root = tmp("sg-prune")
      // component {10, 11} is bootstrapped and never touched again
      val base = Seq((1L, 2L), (10L, 11L)).toDF("src", "dst")
      StandingGraph.bootstrap(base,
        PipelineOps.connectedComponents(base), root)
      // each batch REPLACES component {1, 2}'s partition, so every
      // older version directory is dereferenced once it leaves the
      // keep window
      (0L until 6L).foreach { i =>
        StandingGraph.absorbBatch(
          Seq(("del", 2L, -1L), ("add", 1L, 2L))
            .toDF("kind", "src", "dst"), i, root)
      }
      // keepBehind=2 keeps {3, 4, 5}; the bootstrap directory lives
      // on because component {10, 11}'s partition still points into it
      val vs = PartitionedArtifact.committedVersions(spark, root)
      assert(vs == Seq(-1L, 3L, 4L, 5L), vs.toString)
      assert(edges(root) == Set((1L, 2L), (10L, 11L)))
      assert(labels(root) == Map(1L -> 1L, 2L -> 1L, 10L -> 10L, 11L -> 10L))
    } finally System.clearProperty("graft.artifact.prune.lease.ms")
  }

  test("file-system calls per absorb stay flat over 100 batches under the read lease") {
    // the default 6 h lease keeps every dereferenced version directory
    // (marked _EXPIRE) for the whole run: an absorb whose cost follows
    // the marked versions grows batch by batch
    CountingFs.bind(spark.sparkContext.hadoopConfiguration)
    val root = CountingFs.root(tmp("sg-fscalls"))
    val base = ((1 until 300).map(i => (i.toLong, (i / 2).toLong)))
      .toDF("src", "dst")
    StandingGraph.bootstrap(base, PipelineOps.connectedComponents(base), root)
    // three adds per batch into the one component: its partition
    // gains an append reference per batch and compacts at the 8th
    val ids = 0L until 124L
    val calls = ids.map { i =>
      val n = 1000L + 3 * i
      CountingFs.counting(StandingGraph.absorbBatch(
        adds((n, i % 300), (n + 1, n), (n + 2, 7L)), i, root))._2
    }
    info(s"file-system calls per absorb: ${calls.mkString(",")}")
    // 100 absorbs measured after a 24-batch warm-up: batch 0 is the
    // cold absorb that lists the root and loads the resident graph,
    // and the first three compactions each read more files than the
    // next. Both windows hold one compaction (batch 7 + 8k) and one
    // round of _EXPIRE marks (batch 9 + 8k)
    val (first, last) = (calls.slice(24, 34), calls.takeRight(10))
    assert(last.sum <= first.sum, s"first ${first.sum}, last ${last.sum}")
    // absolute ceilings after the cold batch: the head's _COMMIT probe,
    // the debris probe, one file per driver-written channel (the append,
    // or at a compaction the partition's one file; the labels),
    // _MANIFEST, _STATS, _READS, _COMMIT and its stamp — 9 calls; the
    // batch that marks the versions a compaction dereferenced
    // (batch 9 + 8k) adds one `_EXPIRE` create per mark — 17
    ids.drop(1).foreach { i =>
      val ceiling = if (i % 8 == 1) 17 else 9
      assert(calls(i.toInt) <= ceiling, s"batch $i: ${calls(i.toInt)} calls")
    }
    val want = (base.as[(Long, Long)].collect() ++ ids.flatMap { i =>
      val n = 1000L + 3 * i
      Seq((n, i % 300), (n + 1, n), (n + 2, 7L))
    }).toSet
    assert(edges(root) == want)
  }

  test("property: random batches, replays, crash debris and restarts track a from-scratch solve") {
    // 10 generated runs of at most 5 batches each over a 16-node id
    // space, and 4 more at a compaction ceiling of 2 references, where
    // insert batches compact resident partitions on the driver. Each
    // batch is adds only (the resident path) or mixes in deletes (the
    // distributed path); after it, one action:
    //   0 nothing; 1 replay the committed id with other rows (no-op);
    //   2 the head loses its _COMMIT and the id is absorbed again with
    //     other rows; 3 the head loses its _COMMIT and the run moves on
    //     to the next id (its rows are gone); 4 debris of the NEXT id —
    //     a table written, or a table and the manifest, no _COMMIT;
    //   5 the handle is dropped (a restart); 6 the root is deleted and
    //     bootstrapped afresh at the same path, ids restarting at 0;
    //   7 debris of the NEXT id from a driver write cut short: a
    //     partial parquet file under its `edges.app`, no _COMMIT.
    // After every step the standing edges must equal the surviving
    // edge set and the labels a union-find solve over it (isolated
    // survivors label themselves).
    import org.scalacheck.Gen
    val node = Gen.choose(0L, 15L)
    val edge = for (a <- node; b <- node if a != b) yield (a, b)
    val add = edge.map { case (a, b) => ("add", a, b) }
    val event = Gen.frequency(3 -> add, 1 -> node.map(n => ("del", n, -1L)))
    val batch = Gen.oneOf(Gen.choose(0, 5).flatMap(Gen.listOfN(_, add)),
      Gen.choose(1, 4).flatMap(Gen.listOfN(_, event)))
    val step = for (rows <- batch; act <- Gen.frequency(3 -> 0, 1 -> 1,
      1 -> 2, 2 -> 3, 1 -> 4, 1 -> 5, 1 -> 6, 1 -> 7); other <- batch)
      yield (rows, act, other)
    val base = Gen.choose(1, 10).flatMap(Gen.listOfN(_, edge))
    val run = for (b <- base; n <- Gen.choose(1, 5);
      steps <- Gen.listOfN(n, step)) yield (b, steps)
    val runs = Gen.listOfN(10, run)
      .pureApply(Gen.Parameters.default, org.scalacheck.rng.Seed(17L))
      .map(_ -> None) ++
      Gen.listOfN(4, run)
        .pureApply(Gen.Parameters.default, org.scalacheck.rng.Seed(29L))
        .map(_ -> Some("2"))

    final case class Graph(edges: Set[(Long, Long)], nodes: Set[Long]) {
      def absorb(rows: Seq[(String, Long, Long)]): Graph = {
        val gone = rows.collect { case ("del", n, _) => n }.toSet
        val added = rows.collect { case ("add", a, b) => (a, b) }
        Graph(edges.filterNot { case (a, b) => gone(a) || gone(b) } ++ added,
          nodes -- gone ++ added.flatMap { case (a, b) => Seq(a, b) })
      }
      def labels: Map[Long, Long] = {
        val uf = new PipelineOps.MinUnionFind(edges.size)
        edges.foreach { case (a, b) => uf.union(a, b) }
        nodes.map(n => n -> uf.find(n)).toMap
      }
    }
    def seed(es: Seq[(Long, Long)]): Graph =
      Graph(Set.empty, Set.empty).absorb(es.map { case (a, b) => ("add", a, b) })
    def copy(from: java.nio.file.Path, to: java.nio.file.Path): Unit = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(from).iterator().asScala.toList.foreach { f =>
        val t = to.resolve(from.relativize(f).toString)
        if (java.nio.file.Files.isDirectory(f)) java.nio.file.Files.createDirectories(t)
        else java.nio.file.Files.copy(f, t)
      }
    }

    def property(baseEdges: Seq[(Long, Long)],
        steps: Seq[(Seq[(String, Long, Long)], Int, Seq[(String, Long, Long)])],
        r: Int): Unit = {
      val root = tmp(s"sg-prop$r")
      def bootstrap(es: Seq[(Long, Long)]): Unit = {
        val df = es.toDF("src", "dst")
        StandingGraph.bootstrap(df, PipelineOps.connectedComponents(df), root)
      }
      bootstrap(baseEdges)
      // the committed versions' expected graphs
      val committed = collection.mutable.TreeMap(-1L -> seed(baseEdges))
      var nextId = 0L
      def absorb(id: Long, rows: Seq[(String, Long, Long)]): Unit = {
        StandingGraph.absorbBatch(rows.toDF("kind", "src", "dst"), id, root)
        if (!committed.contains(id))
          committed(id) = committed.maxBefore(id).get._2.absorb(rows)
      }
      def uncommit(id: Long): Unit = {
        java.nio.file.Files.delete(
          java.nio.file.Paths.get(root, s"v=$id", "_COMMIT"))
        committed -= id
      }
      def check(what: String): Unit = {
        val want = committed.last._2
        val ctx = s"run $r after $what"
        assert(edges(root) == want.edges, ctx)
        assert(labels(root) == want.labels, ctx)
      }
      steps.foreach { case (rows, act, other) =>
        val id = nextId
        nextId += 1
        absorb(id, rows)
        check(s"batch $id $rows")
        act match {
          case 1 =>
            absorb(id, other)
            check(s"replay of $id")
          case 2 =>
            uncommit(id)
            absorb(id, other)
            check(s"crash debris of $id re-absorbed with $other")
          case 3 =>
            uncommit(id)
            check(s"uncommitted head $id")
          case 4 =>
            val v = java.nio.file.Paths.get(root, s"v=$id")
            val next = java.nio.file.Paths.get(root, s"v=${id + 1}")
            copy(v.resolve("labels"), next.resolve("labels"))
            if (other.size % 2 == 0)
              java.nio.file.Files.copy(v.resolve("_MANIFEST"),
                next.resolve("_MANIFEST"))
            check(s"debris of ${id + 1}")
          case 5 =>
            PartitionedArtifact.dropHandle(spark, root)
          case 6 =>
            val es = other.collect { case ("add", a, b) => (a, b) }
            org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
            bootstrap(es)
            committed.clear()
            committed(-1L) = seed(es)
            nextId = 0L
            check("a fresh bootstrap at the same path")
          case 7 =>
            import scala.jdk.CollectionConverters._
            val bytes = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
              .iterator().asScala.find(_.toString.endsWith(".parquet"))
              .map(java.nio.file.Files.readAllBytes)
              .getOrElse("PAR1".getBytes)
            val part = java.nio.file.Paths.get(root, s"v=${id + 1}", "edges.app",
              "label=0", "part-00000-debris.c000.snappy.parquet")
            java.nio.file.Files.createDirectories(part.getParent)
            java.nio.file.Files.write(part, bytes.take(bytes.length / 2))
            check(s"partial parquet debris of ${id + 1}")
          case _ => ()
        }
      }
    }

    runs.zipWithIndex.foreach { case (((baseEdges, steps), refs), r) =>
      refs.foreach(System.setProperty("graft.artifact.max.part.refs", _))
      try property(baseEdges, steps, r)
      finally System.clearProperty("graft.artifact.max.part.refs")
    }
  }
}
