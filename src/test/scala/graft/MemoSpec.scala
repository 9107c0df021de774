package graft

import java.io.File
import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.commons.io.FileUtils
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, StringType}

import graft.queries.{Memo, PipelineOps, Q, TextOps}

/** The session memo's policy: entries follow their source tables'
  * fingerprint, builds latch per key, a failed build is not cached,
  * and a stopped session's entries are released. The dataset table
  * read `Q.t` is one of its entries: one resolution per session and
  * file fingerprint, a fresh attribute-id instance per call, and a
  * new resolution when the files or the session's parquet read
  * settings change. Every case runs
  * under a timeout, so a deadlock fails the case instead of hanging
  * the suite. The release case stops the shared session, so it runs
  * last; later suites start a fresh one. */
class MemoSpec extends SparkSpec {

  private implicit val ec: ExecutionContext =
    ExecutionContext.fromExecutorService(Executors.newCachedThreadPool {
      (r: Runnable) =>
        val t = new Thread(r, "memo-spec")
        t.setDaemon(true)
        t
    })

  /** `body` on another thread, failing the case after `sec` seconds. */
  private def within[T](sec: Int)(body: => T): T =
    Await.result(Future(body), sec.seconds)

  private def awaitState(t: Thread, st: Thread.State): Unit = {
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (t.getState != st && System.nanoTime() < deadline)
      Thread.sleep(10)
    assert(t.getState === st)
  }

  /** a private, writable copy of a test dataset. */
  private def copyOf(src: String): String = {
    val d = Files.createTempDirectory("graft-memo-spec")
    Files.list(Paths.get(src)).forEach(f =>
      Files.copy(f, d.resolve(f.getFileName)))
    d.toString
  }

  /** rewrites `table` under `dir` at the same path, keeping the rows
    * `keep` retains. */
  private def rewrite(dir: String, table: String)
      (keep: DataFrame => DataFrame): Unit = {
    val p = new File(dir, s"$table.parquet")
    val tmp = new File(dir, s".$table.rewrite")
    keep(spark.read.parquet(p.toString)).write.parquet(tmp.toString)
    FileUtils.forceDelete(p)
    FileUtils.moveDirectory(tmp, p)
  }

  test("a source table rewritten at the same path changes a memoized answer") {
    val dir = copyOf(sf())
    try within(300) {
      val before = TextOps.termFreq(spark, dir).count()
      rewrite(dir, "documents")(_.filter(col("doc_id") % 2 === 0))
      val after = TextOps.termFreq(spark, dir).count()
      assert(after < before)
    } finally FileUtils.deleteDirectory(new File(dir))
  }

  test("transaction graph follows an orders.parquet rewrite (memo and side table)") {
    val dir = copyOf(sf())
    val side = Files.createTempDirectory("graft-memo-side")
    sys.props("graft.side.dir") = side.toString
    try within(300) {
      val (_, n0) = PipelineOps.transactionGraph(spark, dir)
      // lineitem is untouched: only a key on orders can see this
      rewrite(dir, "orders")(_.filter(col("o_custkey") % 2 === 0))
      val (_, n1) = PipelineOps.transactionGraph(spark, dir)
      assert(n1 < n0)
    } finally {
      sys.props.remove("graft.side.dir")
      FileUtils.deleteDirectory(side.toFile)
      FileUtils.deleteDirectory(new File(dir))
    }
  }

  test("a build blocked on its latch does not stop a different-key build") {
    val entered = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val blocked = Future(Memo(spark, "memo-spec", "blocked", Nil) {
      entered.countDown()
      release.await()
      "blocked"
    })
    try {
      assert(entered.await(60, TimeUnit.SECONDS))
      assert(within(60)(Memo(spark, "memo-spec", "free", Nil)("free")) ===
        "free")
    } finally release.countDown()
    assert(Await.result(blocked, 60.seconds) === "blocked")
  }

  test("two threads on one key run exactly one build") {
    val builds = new AtomicInteger
    val entered = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    def get(): AnyRef = Memo(spark, "memo-spec", "one", Nil) {
      builds.incrementAndGet()
      entered.countDown()
      release.await()
      new Object
    }
    val first = Future(get())
    assert(entered.await(60, TimeUnit.SECONDS))
    @volatile var second: AnyRef = null
    val t = new Thread(() => second = get())
    t.setDaemon(true)
    t.start()
    // the second caller waits on the first build's cell
    try awaitState(t, Thread.State.BLOCKED) finally release.countDown()
    val a = Await.result(first, 60.seconds)
    t.join(60000)
    assert(builds.get === 1)
    assert(second eq a)
  }

  test("a build that throws is retried on the next call") {
    val calls = new AtomicInteger
    def get(): String = Memo(spark, "memo-spec", "retry", Nil) {
      if (calls.incrementAndGet() == 1)
        throw new IllegalStateException("first build fails")
      "built"
    }
    within(60) {
      intercept[IllegalStateException](get())
      assert(get() === "built")
      assert(get() === "built")
    }
    assert(calls.get === 2)
  }

  test("the nested lpaLabels -> coPurchaseEdges -> basketItems chain resolves") {
    val dir = copyOf(sf())
    try within(300) {
      assert(SparkEntry.queries("q192_label_propagation")(spark, dir)
        .count() > 0)
      val built = Memo.builds.filter(_.dir == dir).map(_.name).toSet
      assert(Set("lpa_labels", "co_purchase_edges", "basket_items",
        "brand_dict").subsetOf(built))
    } finally FileUtils.deleteDirectory(new File(dir))
  }

  test("a cold table read runs its one inference job, a warm read none") {
    val dir = copyOf(sf())
    try within(300) {
      val (_, cold) = JobLog.during(spark)(Q.t(spark, dir, "lineitem"))
      assert(cold.size == 1, cold)
      assert(!cold.head.inSqlExecution, cold)
      val keys = Memo.builds.filter(_.dir == dir).map(_.name)
      assert(keys.size == 1 && keys.head.startsWith("table:lineitem"), keys)
      val key = keys.head
      val hits = Memo.hits(key)
      val (warm, jobs) = JobLog.during(spark)(Q.t(spark, dir, "lineitem"))
      assert(jobs.isEmpty, jobs)
      assert(Memo.hits(key) == hits + 1)
      assert(Memo.builds.count(_.dir == dir) == 1)
      assert(warm.count() == spark.read.parquet(s"$dir/lineitem.parquet")
        .count())
    } finally FileUtils.deleteDirectory(new File(dir))
  }

  test("a self-join through two table reads resolves with distinct attributes") {
    def ids(df: DataFrame) = df.queryExecution.analyzed.output.map(_.exprId)
    def pairs(a: DataFrame, b: DataFrame): Long =
      a.join(b, a("l_orderkey") === b("l_orderkey") &&
        a("l_linenumber") < b("l_linenumber")).count()
    def plain = spark.read.parquet(s"${sf()}/lineitem.parquet")
    within(300) {
      val a = Q.t(spark, sf(), "lineitem")
      val b = Q.t(spark, sf(), "lineitem")
      assert(ids(a).intersect(ids(b)).isEmpty)
      val n = pairs(a, b)
      assert(n > 0)
      assert(n == pairs(plain, plain))
    }
  }

  test("a table rewritten at the same path shows its new column on the next read") {
    val dir = copyOf(sf())
    try within(300) {
      val before = Q.t(spark, dir, "region").columns.toSeq
      rewrite(dir, "region")(_.withColumn("r_extra", lit(7L)))
      val after = Q.t(spark, dir, "region")
      assert(after.columns.toSeq == before :+ "r_extra")
      assert(after.filter(col("r_extra") === 7L).count() == after.count())
    } finally FileUtils.deleteDirectory(new File(dir))
  }

  test("flipping binaryAsString between two table reads changes the column's type") {
    // written without Spark's schema metadata, which would take
    // precedence over the setting
    val dir = Files.createTempDirectory("graft-memo-blobs").toString
    val schema = MessageTypeParser.parseMessageType(
      "message blobs { required int64 id; required binary payload; }")
    val w = ExampleParquetWriter
      .builder(new Path(s"$dir/blobs.parquet/part-0.parquet"))
      .withConf(new Configuration()).withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("id", 1L).append("payload", "hi"))
    finally w.close()
    val setting = "spark.sql.parquet.binaryAsString"
    val prior = spark.conf.getOption(setting)
    try within(300) {
      spark.conf.set(setting, "false")
      assert(Q.t(spark, dir, "blobs").schema("payload").dataType ==
        BinaryType)
      spark.conf.set(setting, "true")
      val text = Q.t(spark, dir, "blobs")
      assert(text.schema("payload").dataType == StringType)
      assert(text.head().getString(1) == "hi")
    } finally {
      prior.fold(spark.conf.unset(setting))(spark.conf.set(setting, _))
      FileUtils.deleteDirectory(new File(dir))
    }
  }

  // last: stops the shared session
  test("stopping a session releases its entries") {
    val old = spark
    within(60)(Memo(old, "memo-spec", "release", Nil)("held"))
    assert(Memo.entries(old) > 0)
    old.stop()
    val fresh = SparkSession.builder().master("local[1]")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      within(60)(Memo(fresh, "memo-spec", "release", Nil)("fresh"))
      assert(Memo.entries(old) === 0)
      assert(Memo.entries(fresh) === 1)
    } finally fresh.stop()
  }
}
