package graft

import org.apache.spark.{ListenerBusDrain, SparkException}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.functions._
import graft.queries.{Fixpoint, GraphOps, PipelineOps, PushRanks}

/** The fixpoint driver's failure handling and thread hand-off: a stat
  * job's failure surfaces as itself and leaves no running job, a loop
  * failure cancels the in-flight stat, and every job a loop starts
  * carries the caller's job group — with the same job count per loop
  * as the hand-rolled loops the driver replaced.
  */
class FixpointSpec extends SparkSpec {
  import spark.implicits._

  private def symOf(pairs: Seq[(Long, Long)]): DataFrame = {
    val e = pairs.toDF("u", "v")
    e.unionAll(e.select(col("v").as("u"), col("u").as("v")))
  }

  private def activeJobs: Seq[Int] = {
    ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.statusTracker.getActiveJobIds().toSeq
  }

  test("a failing stat job rethrows its own exception and leaves no job running") {
    val boom = udf((x: Long) =>
      if (x == 3L) throw new IllegalStateException("stat boom") else x)
    val ex = intercept[SparkException] {
      Fixpoint.run("failing-stat", castToImpl(spark), 1, 5,
          overlap = true)((), 0)(
          (_: Int) => spark.range(0, 4, 1, 2)
            .select(boom(col("id")).as("id"))
            .agg(sum(col("id"))).head().getLong(0))(
        done = _ => false, regime = (_, _) => (), step = (i, _) => i + 1,
        unconverged = _ => "unreachable")
    }
    assert(ex.getMessage.contains("stat boom"), ex.getMessage)
    assert(activeJobs.isEmpty)
  }

  test("a failing step cancels the in-flight stat job before rethrowing") {
    val sc = spark.sparkContext
    val slow = udf { (x: Long) => Thread.sleep(60000L); x }
    // interrupt-on-cancel is a caller-thread local property: the stat
    // thread only sees it if the driver hands the properties over
    sc.setJobGroup("fixpoint-cancel", "slow stat", interruptOnCancel = true)
    val t0 = System.nanoTime()
    val ex = try intercept[IllegalStateException] {
      Fixpoint.run("failing-step", castToImpl(spark), 1, 5,
          overlap = true)((), 0)(
          (_: Int) => spark.range(0, 2, 1, 2)
            .select(slow(col("id")).as("id"))
            .agg(sum(col("id"))).head().getLong(0))(
        done = _ => false,
        regime = (_, _) => (),
        step = (_, _) => {
          val deadline = System.nanoTime() + 30000000000L
          while (activeJobs.isEmpty && System.nanoTime() < deadline)
            Thread.sleep(20L)
          assert(activeJobs.nonEmpty, "the stat job never started")
          throw new IllegalStateException("step boom")
        },
        unconverged = _ => "unreachable")
    } finally sc.clearJobGroup()
    val secs = (System.nanoTime() - t0) / 1e9
    assert(ex.getMessage == "step boom")
    assert(activeJobs.isEmpty)
    // cancelled, not waited out: each stat task sleeps 60 s
    assert(secs < 45, s"the loop returned after $secs s")
  }

  test("loop jobs carry the caller's job group; job counts match the hand-rolled loops") {
    // Parent counts, measured at commit 23da177 (the last commit with
    // a hand-rolled loop per operator) on these exact fixtures. The
    // one difference: LPA's mid-flight demotion ran its |E| layout
    // job even when the demoting round had already converged (9 jobs
    // there); the driver takes no regime decision after convergence.
    val (ej, n) = PipelineOps.transactionGraph(spark, sf())
    val chain = symOf((0L until 9L).map(i => (i, i + 1)))
    val broom = symOf(Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L),
      (3L, 5L), (3L, 6L)))
    val triangles = symOf(Seq((1L, 2L), (2L, 3L), (1L, 3L),
        (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L)))
      .select(col("u").as("src"), col("v").as("dst"))
    val seeds = Seq((1L, 1L), (2L, 1L), (3L, 1L),
      (4L, 9L), (5L, 9L), (6L, 9L)).toDF("node", "code")
    val path = symOf(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)))
      .select(col("u").as("src"), col("v").as("dst"))
    val star = symOf((2L to 31L).map(i => (1L, i)) ++
        Seq((100L, 101L), (101L, 102L)))
      .select(col("u").as("src"), col("v").as("dst"))
    def withGate[T](rows: Int)(body: => T): T = {
      System.setProperty("graft.lpa.bcast.max.rows", rows.toString)
      try body finally System.clearProperty("graft.lpa.bcast.max.rows")
    }
    val cases: Seq[(String, Int, Int, () => Int)] = Seq(
      ("pagerank", 72, 71, () => PipelineOps.pagerankFixpoint(ej, n)._2),
      ("hashmin", 8, -1, () => PipelineSpec.distributedCC {
        PipelineOps.connectedComponents(Seq((2L, 1L), (2L, 3L),
          (10L, 11L), (21L, 20L), (22L, 21L), (23L, 22L))
          .toDF("src", "dst"))
        -1
      }),
      ("doubling", 19, 7, () => PipelineSpec.distributedCC {
        PipelineOps.connectedComponentsDoublingStats(
          (0L until 64L).map(i => (i, i + 1)).toDF("src", "dst"), 8)._2
      }),
      ("kcore", 14, 5, () => GraphOps.kcoreFixpointDegrees(chain, 2)._2),
      // below-k counts 4, 2, 1, 0 against a ceiling of 2: the second
      // round's stat flips the regime and the step is replanned
      ("kcore-regime-flip", 11, 3, () => withGate(2) {
        GraphOps.kcoreFixpointDegrees(broom, 2)._2
      }),
      ("lpa", 8, 1, () => GraphOps.lpaFixpointEdges(triangles, seeds)._2),
      ("lpa-demote-after-convergence", 8, 1, () => withGate(1) {
        GraphOps.lpaFixpointEdges(path,
          Seq((3L, 7L)).toDF("node", "code"))._2
      }),
      ("push", 60, 55, () => PushRanks.pushLoop(PushRanks.coldState(star),
        _ => star, 4, PushRanks.thetaFor(33L))._2))
    val sc = spark.sparkContext
    cases.foreach { case (name, wantJobs, wantRounds, body) =>
      sc.setJobGroup("fixpoint-spec", name)
      val (rounds, jobs) =
        try JobLog.during(spark)(body()) finally sc.clearJobGroup()
      assert(rounds == wantRounds, s"$name rounds")
      assert(jobs.size == wantJobs, s"$name jobs: $jobs")
      val foreign = jobs.filterNot(_.group.contains("fixpoint-spec"))
      assert(foreign.isEmpty, s"$name: jobs outside the caller's group")
    }
  }
}
