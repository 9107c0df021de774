package graft

import java.io.File
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, Executors}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.queries.PipelineOps
import graft.streaming.{PartitionedArtifact, StandingGraph}

/** The read view of a standing artifact root: a warm read of an
  * unchanged head costs one listing and one `_COMMIT` probe, and
  * every change to what is committed — a newer version, a rewritten
  * or lost head, another session — rebuilds it instead of serving a
  * stale state. The release case stops the shared session, so it runs
  * last; later suites start a fresh one. */
class ReadViewSpec extends SparkSpec {
  import spark.implicits._

  private implicit val ec: ExecutionContext =
    ExecutionContext.fromExecutorService(Executors.newCachedThreadPool {
      (r: Runnable) =>
        val t = new Thread(r, "read-view-spec")
        t.setDaemon(true)
        t
    })

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def seed(root: String, es: Seq[(Long, Long)]): Unit = {
    val df = es.toDF("src", "dst")
    StandingGraph.bootstrap(df, PipelineOps.connectedComponents(df), root)
  }

  private def adds(es: (Long, Long)*): DataFrame =
    es.map { case (a, b) => ("add", a, b) }.toDF("kind", "src", "dst")

  private def latest(s: SparkSession, root: String) =
    PartitionedArtifact.readLatestStanding(s, root, StandingGraph.Specs)

  private def labelsOf(df: DataFrame): Map[Long, Long] =
    df.as[(Long, Long)].collect().toMap

  private def labels(root: String): Map[Long, Long] =
    labelsOf(StandingGraph.readLatest(spark, root)("labels"))

  /** the labels version `v` wrote, read straight from its directory. */
  private def serial(root: String, v: Long): Map[Long, Long] =
    labelsOf(spark.read.parquet(s"$root/v=$v/labels"))

  /** `body`'s result and the read-view outcomes it added. */
  private def viewed[T](body: => T): (T, Map[String, Long]) = {
    val before = PartitionedArtifact.readViewCounts
    val out = body
    (out, PartitionedArtifact.readViewCounts.collect {
      case (k, n) if n > before.getOrElse(k, 0L) =>
        k -> (n - before.getOrElse(k, 0L))
    })
  }

  test("a warm read of an unchanged head makes flat, few file-system calls over 32 batches") {
    // the default 6 h lease keeps every version directory committed:
    // a read whose cost follows the versions grows batch by batch
    CountingFs.bind(spark.sparkContext.hadoopConfiguration)
    val root = CountingFs.root(tmp("rv-fscalls"))
    val base = (1 until 200).map(i => (i.toLong, (i / 2).toLong))
    seed(root, base)
    var want = base.toSet
    val warm = (0L until 32L).map { i =>
      val n = 1000L + 2 * i
      val batch = Seq((n, i % 200), (n + 1, n))
      StandingGraph.absorbBatch(adds(batch: _*), i, root)
      want ++= batch
      // the first read after a commit serves that version
      val got = StandingGraph.readLatest(spark, root)("edges")
        .as[(Long, Long)].collect().toSet
      assert(got == want, s"after batch $i")
      CountingFs.counting(StandingGraph.readLatest(spark, root))._2
    }
    info(s"file-system calls per warm read: ${warm.mkString(",")}")
    assert(warm.forall(_ <= 3), warm)
    assert(warm.distinct.size == 1, warm)
  }

  test("reading only labels after a new head resolves no edges relation; a view read later serves its own version") {
    CountingFs.bind(spark.sparkContext.hadoopConfiguration)
    val root = CountingFs.root(tmp("rv-lazy"))
    val base = (1 until 50).map(i => (i.toLong, (i / 2).toLong))
    seed(root, base)
    assert(labels(root).size == 50)
    StandingGraph.absorbBatch(adds((100L, 3L)), 0L, root)
    val (got, touched) = CountingFs.paths(labels(root))
    assert(got(100L) == got(3L))
    assert(touched.exists(_.contains("/labels")), touched)
    assert(!touched.exists(_.contains("/edges")), touched)
    // a map read before the next commit resolves its edges against
    // the version it was read at
    val held = StandingGraph.readLatest(spark, root)
    StandingGraph.absorbBatch(adds((101L, 4L)), 1L, root)
    assert(held("edges").as[(Long, Long)].collect().toSet ==
      base.toSet + ((100L, 3L)))
    assert(StandingGraph.readLatest(spark, root)("edges")
      .as[(Long, Long)].collect().toSet == base.toSet ++ Set((100L, 3L), (101L, 4L)))
  }

  test("a root rewritten or re-bootstrapped at the same path is read afresh") {
    val root = tmp("rv-reboot")
    seed(root, Seq((1L, 2L)))
    StandingGraph.absorbBatch(adds((2L, 3L)), 0L, root)
    assert(labels(root) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    // another writer swaps in a root whose head has the same id: only
    // the head's _COMMIT stamp tells them apart
    val other = tmp("rv-reboot-other")
    seed(other, Seq((5L, 6L)))
    StandingGraph.absorbBatch(adds((6L, 7L)), 0L, other)
    FileUtils.deleteDirectory(new File(root))
    FileUtils.copyDirectory(new File(other), new File(root), false)
    val (swapped, c1) = viewed(labels(root))
    assert(swapped == Map(5L -> 5L, 6L -> 5L, 7L -> 5L))
    assert(c1 == Map("miss.stamp" -> 1L))
    // re-bootstrapped in this JVM
    FileUtils.deleteDirectory(new File(root))
    seed(root, Seq((8L, 9L)))
    val (fresh, c2) = viewed(labels(root))
    assert(fresh == Map(8L -> 8L, 9L -> 8L))
    assert(c2 == Map("miss.first_read" -> 1L))
    assert(viewed(labels(root))._2 == Map("hit" -> 1L))
  }

  test("crash debris above the head is not committed state: the head is served") {
    val root = tmp("rv-debris")
    seed(root, Seq((1L, 2L)))
    StandingGraph.absorbBatch(adds((2L, 3L)), 0L, root)
    StandingGraph.absorbBatch(adds((10L, 11L)), 1L, root)
    val head = labels(root)
    // v=2 written up to its manifest, no _COMMIT
    val v1 = Paths.get(root, "v=1")
    val v2 = Paths.get(root, "v=2")
    FileUtils.copyDirectory(v1.resolve("labels").toFile,
      v2.resolve("labels").toFile)
    Files.copy(v1.resolve("_MANIFEST"), v2.resolve("_MANIFEST"))
    val (warm, c1) = viewed(latest(spark, root))
    assert(warm.version.contains(1L))
    assert(c1 == Map("hit" -> 1L))
    // a cold read finds the head below the debris
    PartitionedArtifact.dropHandle(spark, root)
    val (cold, c2) = viewed(latest(spark, root))
    assert(cold.version.contains(1L))
    assert(c2 == Map("miss.first_read" -> 1L))
    assert(labelsOf(cold.table("labels")) == head)
    // the absorb of id 2 replaces the debris, commits, and publishes
    // the view read above to its version
    StandingGraph.absorbBatch(adds((3L, 10L)), 2L, root)
    val (next, c3) = viewed(latest(spark, root))
    assert(next.version.contains(2L))
    assert(c3 == Map("hit" -> 1L))
    assert(labelsOf(next.table("labels")).values.toSet == Set(1L))
  }

  test("a head that loses its _COMMIT is not served: the version below is") {
    val root = tmp("rv-uncommit")
    seed(root, Seq((1L, 2L)))
    StandingGraph.absorbBatch(adds((2L, 3L)), 0L, root)
    val v0 = labels(root)
    StandingGraph.absorbBatch(adds((10L, 3L)), 1L, root)
    assert(labels(root).contains(10L))
    Files.delete(Paths.get(root, "v=1", "_COMMIT"))
    val (st, c) = viewed(latest(spark, root))
    assert(st.version.contains(0L))
    assert(c == Map("miss.stamp" -> 1L))
    assert(labelsOf(st.table("labels")) == v0)
  }

  test("a view read since the previous commit is published to the next head; an idle one is not") {
    val root = tmp("rv-idle")
    seed(root, Seq((1L, 2L)))
    assert(labels(root) == Map(1L -> 1L, 2L -> 1L))
    // the view was read: the commit moves it to v=0, labels resolved
    StandingGraph.absorbBatch(adds((2L, 3L)), 0L, root)
    // no read since: the commit of v=1 leaves the view at v=0, so
    // the writer does no work for an idle reader
    StandingGraph.absorbBatch(adds((3L, 4L)), 1L, root)
    val (got, c1) = viewed(labels(root))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
    assert(c1 == Map("miss.new_head" -> 1L))
    StandingGraph.absorbBatch(adds((4L, 5L)), 2L, root)
    val (next, c2) = viewed(latest(spark, root))
    assert(next.version.contains(2L))
    assert(c2 == Map("hit" -> 1L))
    assert(labelsOf(next.table("labels")).keySet == (1L to 5L).toSet)
  }

  test("a publish that fails after _COMMIT leaves readers on a view that the next read rebuilds") {
    CountingFs.bind(spark.sparkContext.hadoopConfiguration)
    val root = CountingFs.root(tmp("rv-publish"))
    seed(root, Seq((1L, 2L)))
    StandingGraph.absorbBatch(adds((2L, 3L)), 0L, root)
    assert(labels(root) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    // the publish of v=1 resolves its labels table, whose first listing
    // is made after the _COMMIT. Failing it fails the publish alone:
    // the publish logs it, and the absorb returns normally, committed
    val absorbed = scala.util.Try(CountingFs.failingListings(
      _.contains("/v=1/labels"))(
      StandingGraph.absorbBatch(adds((3L, 4L)), 1L, root)))
    assert(absorbed.isSuccess, absorbed)
    assert(PartitionedArtifact.committedVersions(spark, root).last == 1L)
    val (got, c1) = viewed(latest(spark, root))
    assert(got.version.contains(1L))
    assert(c1 == Map("miss.new_head" -> 1L))
    assert(labelsOf(got.table("labels")) ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
    // the rebuilt view is published again by the next commit
    StandingGraph.absorbBatch(adds((4L, 5L)), 2L, root)
    assert(viewed(latest(spark, root))._2 == Map("hit" -> 1L))
  }

  test("a second session reads the same root through its own view") {
    val root = tmp("rv-session")
    seed(root, Seq((1L, 2L), (2L, 3L)))
    val want = labels(root)
    val other = spark.newSession()
    val (tables, c1) = viewed(StandingGraph.readLatest(other, root))
    assert(c1 == Map("miss.session" -> 1L))
    assert(tables("labels").sparkSession eq other)
    assert(labelsOf(tables("labels")) == want)
    assert(viewed(StandingGraph.readLatest(other, root))._2 ==
      Map("hit" -> 1L))
    assert(viewed(StandingGraph.readLatest(spark, root))._2 ==
      Map("hit" -> 1L))
  }

  test("bootstrap and dropHandle drop the root's views") {
    import PartitionedArtifact.readViews
    val root = tmp("rv-drop")
    seed(root, Seq((1L, 2L)))
    val other = spark.newSession()
    latest(other, root)
    val held = readViews(spark)
    latest(spark, root)
    assert(readViews(spark) == held + 1 && readViews(other) == 1)
    PartitionedArtifact.dropHandle(spark, root)
    assert(readViews(spark) == held && readViews(other) == 0)
    assert(viewed(labels(root))._2 == Map("miss.first_read" -> 1L))
    FileUtils.deleteDirectory(new File(root))
    seed(root, Seq((4L, 5L)))
    assert(readViews(spark) == held)
    val (fresh, c) = viewed(labels(root))
    assert(fresh == Map(4L -> 4L, 5L -> 4L))
    assert(c == Map("miss.first_read" -> 1L))
  }

  test("two readers beside maintainStream each serve a committed version exactly") {
    implicit val sqlCtx = spark.sqlContext
    val root = tmp("rv-readers")
    seed(root, (1 until 50).map(i => (i.toLong, (i / 2).toLong)))
    val in = MemoryStream[(String, Long, Long)]
    val q = StandingGraph.maintainStream(
      in.toDF().toDF("kind", "src", "dst"), root, tmp("rv-readers-ckpt"))
    val served = new ConcurrentLinkedQueue[(Long, Map[Long, Long])]()
    // each reader reads until it has served the last batch's version
    @volatile var last = Long.MaxValue
    @volatile var stop = false
    def reader(): Int = {
      var seen = Set.empty[Long]
      var v = -2L
      while (!stop && v < last) {
        val st = latest(spark, root)
        v = st.version.get
        seen += v
        served.add(v -> labelsOf(st.table("labels")))
      }
      seen.size
    }
    try Await.result(Future {
      val readers = Seq.fill(2)(Future(reader()))
      (0 until 6).foreach { i =>
        val n = 100L + 3 * i
        in.addData(("add", n, i.toLong), ("add", n + 1, n),
          ("add", n + 2, 60L + i))
        q.processAllAvailable()
      }
      last = q.lastProgress.batchId
      readers.foreach(r => assert(Await.result(r, 120.seconds) >= 2))
    }, 300.seconds)
    finally { stop = true; q.stop() }
    val byVersion = served.asScala.toSeq.groupBy(_._1)
    info(s"${served.size} reads over versions ${byVersion.keys.toSeq.sorted.mkString(",")}")
    byVersion.foreach { case (v, reads) =>
      val want = serial(root, v)
      reads.foreach { case (_, got) => assert(got == want, s"v=$v") }
    }
  }

  // last: stops the shared session
  test("stopping a session releases its read views") {
    val old = spark
    val root = tmp("rv-stop")
    seed(root, Seq((1L, 2L)))
    latest(old, root)
    assert(PartitionedArtifact.readViews(old) > 0)
    old.stop()
    val fresh = SparkSession.builder().master("local[1]")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      assert(latest(fresh, root).version.contains(-1L))
      assert(PartitionedArtifact.readViews(old) == 0)
      assert(PartitionedArtifact.readViews(fresh) == 1)
    } finally fresh.stop()
  }
}
