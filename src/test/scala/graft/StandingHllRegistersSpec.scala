package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalacheck.Gen

import graft.functions.PortableHll
import graft.queries.SketchOps
import graft.streaming.StandingHllRegisters

/** The streaming HLL maintenance loop: stream-maintained registers
  * must BIT-equal the batch epoch-register derivation (q273's absorb
  * law with epoch = batch id), replay must be idempotent against a
  * poisoned failed write, compaction must bound the artifact while
  * preserving the full merge exactly (q281's law), and dropping a
  * live epoch at read time must equal registers built without that
  * epoch's rows (q277's law).
  */
class StandingHllRegistersSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def obsOf(rows: Seq[(String, String)]): DataFrame =
    rows.toDF("grp", "member")
      .withColumn("h", md5(col("member"))).drop("member")

  private def obs(grp: String, members: Seq[String]): DataFrame =
    obsOf(members.map((grp, _)))

  /** batch-side expected registers for one epoch's observations. */
  private def epochRegs(shard: DataFrame, part: Long): DataFrame =
    SketchOps.hllRho(shard)
      .groupBy(col("grp"), col("bucket")).agg(max(col("rho")).as("m"))
      .select(col("grp"), lit(part).as("part"),
        col("bucket").cast("long").as("bucket"),
        col("m").cast("long").as("m"))

  private def regSet(df: DataFrame): Set[(String, Long, Long, Long)] =
    df.select(col("grp"), col("part"), col("bucket"), col("m"))
      .as[(String, Long, Long, Long)].collect().toSet

  test("stream-maintained registers equal the batch epoch derivation") {
    implicit val sqlCtx = spark.sqlContext
    val root = tmp("hll-state")
    val in = MemoryStream[(String, String)]
    val q = StandingHllRegisters.maintainStream(
      in.toDF().toDF("grp", "member")
        .withColumn("h", md5(col("member"))).drop("member"),
      root, tmp("hll-ckpt"))
    val b0 = (1 to 40).map(i => s"m$i")
    val b1 = (30 to 70).map(i => s"m$i") // overlaps b0 — max absorbs dups
    val b2 = (60 to 90).map(i => s"m$i")
    try {
      in.addData(b0.map(("a", _)) ++ b0.take(10).map(("b", _)))
      q.processAllAvailable()
      in.addData(b1.map(("a", _))); q.processAllAvailable()
      in.addData(b2.map(("b", _))); q.processAllAvailable()
    } finally q.stop()
    val expected = epochRegs(obs("a", b0).union(obs("b", b0.take(10))), 0L)
      .union(epochRegs(obs("a", b1), 1L))
      .union(epochRegs(obs("b", b2), 2L))
    assert(regSet(StandingHllRegisters.readLatest(spark, root)) ==
      regSet(expected))
  }

  test("replay: committed epoch no-ops; crash debris recomputes from the predecessor") {
    val root = tmp("hll-replay")
    StandingHllRegisters.absorbBatch(obs("a", Seq("x1", "x2")), 0L, root)
    StandingHllRegisters.absorbBatch(obs("a", Seq("y1")), 1L, root)
    val committed = regSet(StandingHllRegisters.readLatest(spark, root))
    // committed version → no-op, even with different content
    StandingHllRegisters.absorbBatch(obs("a", Seq("w1")), 1L, root)
    assert(regSet(StandingHllRegisters.readLatest(spark, root)) ==
      committed)
    // crash mid-write (no _COMMIT): the replay must read v=0 — were
    // the debris consulted, y1's register contribution would survive;
    // the law demands exactly merge(v0, replayed batch)
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(root, "v=1", "_COMMIT"))
    StandingHllRegisters.absorbBatch(obs("a", Seq("z1", "z2")), 1L, root)
    val expected = epochRegs(obs("a", Seq("x1", "x2")), 0L)
      .union(epochRegs(obs("a", Seq("z1", "z2")), 1L))
    assert(regSet(StandingHllRegisters.readLatest(spark, root)) ==
      regSet(expected))
  }

  test("compaction bounds the epochs but preserves the full merge exactly") {
    val root = tmp("hll-compact")
    val shards = (0 to 5).map(i =>
      (10 * i until 10 * i + 20).map(j => s"m$j"))
    shards.zipWithIndex.foreach { case (ms, i) =>
      StandingHllRegisters.absorbBatch(obs("a", ms), i.toLong, root,
        horizonEpochs = 2)
    }
    val regs = StandingHllRegisters.readLatest(spark, root)
    val parts = regs.select("part").distinct().as[Long].collect().toSet
    assert(parts == Set(-1L, 3L, 4L, 5L), parts.toString) // bounded
    // the full merge over the compacted artifact must equal registers
    // built from EVERY observation ever absorbed — bit-for-bit
    val full = regs.groupBy(col("grp"), col("bucket"))
      .agg(max(col("m")).as("m"))
    val scratch = epochRegs(obs("a", shards.flatten.distinct), 0L)
      .drop("part")
    assert(regSet(full.withColumn("part", lit(0L))) ==
      regSet(scratch.withColumn("part", lit(0L))))
  }

  test("a retraction that cannot be honored fails loudly, not silently") {
    val root = tmp("hll-guard")
    (0 to 5).foreach { i =>
      StandingHllRegisters.absorbBatch(
        obs("a", Seq(s"x$i", s"y$i")), i.toLong, root, horizonEpochs = 2)
    } // live parts: {-1, 3, 4, 5}; epochs 0-2 folded into the base
    // the compacted base is the max-fold of every aged-out epoch,
    // not an epoch — dropping it would drastically undercount
    intercept[IllegalArgumentException] {
      StandingHllRegisters.estimates(spark, root, dropEpochs = Seq(-1L))
    }
    // an epoch already folded past the horizon is silently absent —
    // filtering it would be a no-op the caller mistakes for a purge
    val e = intercept[IllegalArgumentException] {
      StandingHllRegisters.estimates(spark, root, dropEpochs = Seq(0L))
    }
    assert(e.getMessage.contains("compacted"))
    // same for an epoch that never arrived at all
    intercept[IllegalArgumentException] {
      StandingHllRegisters.estimates(spark, root, dropEpochs = Seq(99L))
    }
    // a live epoch still retracts fine
    assert(StandingHllRegisters.estimates(spark, root,
      dropEpochs = Seq(4L)).count() > 0)
  }

  test("dropping a live epoch at read time equals never having absorbed it") {
    val root = tmp("hll-drop")
    StandingHllRegisters.absorbBatch(obs("a", Seq("p1", "p2")), 0L, root)
    StandingHllRegisters.absorbBatch(obs("a", Seq("q1", "q2")), 1L, root)
    StandingHllRegisters.absorbBatch(obs("a", Seq("r1", "r2")), 2L, root)
    val got = StandingHllRegisters.estimates(spark, root,
      dropEpochs = Seq(1L)).as[(String, Long, Long)].collect().toSet
    val without = epochRegs(obs("a", Seq("p1", "p2")), 0L)
      .union(epochRegs(obs("a", Seq("r1", "r2")), 2L))
      .groupBy(col("grp"), col("bucket")).agg(max(col("m")).as("m"))
    val expected = SketchOps.hllEstimate(without, Seq("grp"))
      .select(col("grp"), col("s_fp"), col("est_fp"))
      .as[(String, Long, Long)].collect().toSet
    assert(got == expected)
  }

  test("planning an estimate with dropped epochs runs no job") {
    val root = tmp("hll-jobs")
    (0 to 2).foreach { i =>
      StandingHllRegisters.absorbBatch(obs("a", Seq(s"x$i", s"y$i")),
        i.toLong, root)
    }
    // the presence probe reads the manifest and every read carries the
    // declared schema: the estimate itself is the first job
    val (est, jobs) = JobLog.during(spark)(
      StandingHllRegisters.estimates(spark, root, dropEpochs = Seq(1L)))
    assert(jobs.isEmpty, jobs.mkString("\n"))
    assert(est.count() == 1L)
  }

  test("property: random batches, replays and crash debris keep the horizon law") {
    // 20 generated runs of at most 6 batches each. After every step
    // the standing registers must equal the epoch derivation of what
    // each committed batch absorbed, folded under the horizon law
    // (epochs below newest - horizonEpochs live in part -1), and the
    // estimates must equal hllEstimate over those registers; each
    // run's final state also retracts one live epoch at read time.
    val member = for (g <- Gen.oneOf("a", "b", "c"); m <- Gen.choose(0, 60))
      yield (g, s"m$m")
    val batch = Gen.choose(0, 8).flatMap(Gen.listOfN(_, member))
    // after an absorb: 0 = nothing; 1 = replay the committed id with
    // other rows (a no-op); 2 = crash debris — the newest version
    // loses its _COMMIT and the id is absorbed again with other rows
    val step = for (rows <- batch; act <- Gen.frequency(2 -> 0, 1 -> 1,
      1 -> 2); other <- batch) yield (rows, act, other)
    val run = for (h <- Gen.choose(-1, 3); n <- Gen.choose(1, 6);
      steps <- Gen.listOfN(n, step)) yield (h, steps)
    val runs = Gen.listOfN(20, run)
      .pureApply(Gen.Parameters.default, org.scalacheck.rng.Seed(7L))
    val pick = new scala.util.Random(7L)

    // the batch epoch derivation on the driver (PortableHll is the
    // JVM twin of hllRho, pinned by SketchSpec)
    def model(absorbed: collection.Map[Long, Seq[(String, String)]],
        newest: Long, horizon: Int): Set[(String, Long, Long, Long)] =
      absorbed.toSeq.flatMap { case (id, rows) =>
        val part = if (id < newest - horizon) -1L else id
        rows.map { case (g, m) =>
          val (b, rho) = PortableHll.bucketRho(m)
          ((g, part, b.toLong), rho.toLong)
        }
      }.groupBy(_._1).map { case ((g, p, b), ms) =>
        (g, p, b, ms.map(_._2).max) }.toSet
    // hllEstimate over several expected register sets in one job,
    // keyed by the set's index
    def estimatesOf(regs: Seq[Set[(String, Long, Long, Long)]])
        : Map[Int, Set[(String, Long, Long)]] = {
      val byK = SketchOps.hllEstimate(
          regs.zipWithIndex.flatMap { case (rs, k) =>
            rs.toSeq.map { case (g, _, b, m) => (k, g, b, m) } }
            .toDF("k", "grp", "bucket", "m")
            .groupBy(col("k"), col("grp"), col("bucket"))
            .agg(max(col("m")).as("m")),
          Seq("k", "grp"))
        .select(col("k"), col("grp"), col("s_fp"), col("est_fp"))
        .as[(Int, String, Long, Long)].collect().toSeq
        .groupBy(_._1)
      regs.indices.map(k => k -> byK.getOrElse(k, Seq.empty)
        .map { case (_, g, sfp, est) => (g, sfp, est) }.toSet).toMap
    }
    def estimated(root: String, drop: Seq[Long]): Set[(String, Long, Long)] =
      StandingHllRegisters.estimates(spark, root, drop)
        .as[(String, Long, Long)].collect().toSet

    runs.zipWithIndex.foreach { case ((horizon, steps), r) =>
      val root = tmp(s"hll-prop$r")
      val absorbed = collection.mutable.Map.empty[Long, Seq[(String, String)]]
      // (context, expected registers, estimates read) per check
      val checks = collection.mutable.ArrayBuffer.empty[
        (String, Set[(String, Long, Long, Long)], Set[(String, Long, Long)])]
      def absorb(id: Long, rows: Seq[(String, String)]): Unit =
        StandingHllRegisters.absorbBatch(obsOf(rows), id, root, horizon)
      def check(newest: Long, what: String): Unit = {
        val ctx = s"run $r (horizon $horizon) after $what"
        val expected = model(absorbed, newest, horizon)
        assert(regSet(StandingHllRegisters.readLatest(spark, root)) ==
          expected, ctx)
        checks += ((ctx, expected, estimated(root, Seq.empty)))
      }
      steps.zipWithIndex.foreach { case ((rows, act, other), i) =>
        val id = i.toLong
        absorb(id, rows); absorbed(id) = rows
        check(id, s"batch $id")
        if (act == 1) {
          absorb(id, other)
          check(id, s"replay of $id")
        } else if (act == 2) {
          java.nio.file.Files.delete(
            java.nio.file.Paths.get(root, s"v=$id", "_COMMIT"))
          absorb(id, other); absorbed(id) = other
          check(id, s"crash debris of $id")
        }
      }
      // the final state retracts one live epoch at read time
      val (lastCtx, last, _) = checks.last
      val live = last.map(_._2).filter(_ >= 0L).toSeq.sorted
      if (live.nonEmpty) {
        val drop = live(pick.nextInt(live.size))
        checks += ((s"$lastCtx, epoch $drop dropped",
          last.filterNot(_._2 == drop), estimated(root, Seq(drop))))
      }
      val want = estimatesOf(checks.map(_._2).toSeq)
      checks.zipWithIndex.foreach { case ((ctx, _, got), k) =>
        assert(got == want(k), ctx) }
    }
  }
}
