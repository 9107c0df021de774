package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.types.DecimalType

/** One named query of the engine's operator surface: the Spark plan
  * builder plus (when SQL-expressible) the equivalent ANSI SQL the
  * DuckDB oracle runs over the same parquet tables.
  *
  * Oracle-determinism rules used throughout the catalog (see
  * SURVEY.md §7.4):
  *  - aggregations over money/quantity doubles go through DECIMAL
  *    casts (exact, associative — immune to partition/accumulation
  *    order on both engines); final outputs are cast back to DOUBLE;
  *  - every query ends in an explicit total ORDER BY with a unique
  *    deterministic tiebreak;
  *  - timestamps are emitted as epoch-millis BIGINT (sidesteps
  *    ns-vs-µs precision and timezone rendering);
  *  - min/max/first/last over raw doubles are fine (order-independent
  *    or uniquely selected); sums/avgs of raw doubles are not.
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Q {

  /** Read one testdata table. Plain parquet scan — filters/projection
    * placed on top are pushed into the vectorized reader by Catalyst,
    * which is the whole 100 TB story: scan only the needed columns
    * and row groups.
    *
    * The table is resolved once per session and file fingerprint:
    * the analyzed relation of `s.read.parquet` (file index + schema,
    * whose inference is one Spark job) is held in [[Memo]] under
    * `table:<name>` plus the session's parquet read settings, checked
    * against the table's [[SideTables.fingerprint]]. A table rewritten
    * at the same path, or a flipped setting such as
    * `spark.sql.parquet.binaryAsString`, resolves again. Each call
    * returns a fresh instance of the relation with new attribute ids,
    * so a query that reads one table twice (a self-join) stays
    * unambiguous — the rebinding Spark's own catalog relation cache
    * does for named tables. */
  def t(s: SparkSession, dir: String, name: String): DataFrame = {
    val settings = s.conf.getAll.toSeq.collect {
      case (k, v) if k.startsWith("spark.sql.parquet.") ||
          k.startsWith("spark.sql.legacy.parquet.") => s"$k=$v"
    }.sorted
    val key = s"table:$name" +
      (if (settings.isEmpty) "" else settings.mkString("[", ",", "]"))
    val rel = Memo(s, dir, key, Seq(name)) {
      Shim.analyzed(s.read.parquet(s"$dir/$name.parquet")) match {
        case r: MultiInstanceRelation => r
      }
    }
    Shim.ofRows(s, rel.newInstance())
  }

  /** `events.ts` is normalized to an epoch-nanos LONG regardless of
    * how the parquet writer typed it: TIMESTAMP(NANOS) arrives as a
    * nanos long via `spark.sql.legacy.parquet.nanosAsLong`;
    * TIMESTAMP(MICROS) (tz-less → TIMESTAMP_NTZ) is converted with
    * `unix_micros` under the pinned UTC session zone — the same
    * naive-as-UTC reading DuckDB's `epoch_*` functions use, so both
    * engines agree on the integer timeline. Downstream derives ms/µs
    * with integer `DIV` (not `/`) — ns magnitudes exceed double's
    * 2^53 exact range. */
  def events(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = t(s, dir, "events")
    val tsNanos = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => col("ts")
      case _ => unix_micros(col("ts").cast("timestamp")) * lit(1000L)
    }
    raw.withColumn("ts", tsNanos.cast("long"))
      .withColumn("ts_ms", expr("ts DIV 1000000"))
  }

  /** exact decimal view of a ≤4-decimal double (quantities, prices,
    * balances, event values in the testdata are all 4-decimal). */
  def dec(c: Column): Column = c.cast(DecimalType(18, 4))

  /** THE arrival-model hash bucket shared by every incremental-
    * maintenance row (q106/q171/q263/q265/q267/q269/q270): md5-hash
    * an id into 0..99; `< 80` is the standing base slice, `>= 80`
    * the arriving shard. One definition on purpose — the
    * merged==rebuilt equality proofs depend on the base/shard slices
    * agreeing EXACTLY across modules (documents, vectors, orders),
    * so the law lives here and call sites only choose the threshold.
    * (Each query's DuckDB oracle necessarily repeats the formula as
    * SQL text — those stay inline by the oracle contract.) */
  def hashBucket(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 15), 16, 10)
      .cast("long") % 100

  /** money column sized so products with two `frac` factors stay
    * within Spark's 38-digit cap without rounding:
    * (14,4)*(6,4) -> (21,8); *(6,4) -> (28,12); sum -> (38,12). */
  def money(c: Column): Column = c.cast(DecimalType(14, 4))

  /** (1 ± x) discount/tax factor, pinned to DECIMAL(6,4). */
  def oneMinus(c: Column): Column =
    (lit(1) - c.cast(DecimalType(8, 4))).cast(DecimalType(6, 4))
  def onePlus(c: Column): Column =
    (lit(1) + c.cast(DecimalType(8, 4))).cast(DecimalType(6, 4))

  def d(c: Column): Column = c.cast("double")

  /** engine-identical DECIMAL→DOUBLE for HIGH-SCALE decimals (the
    * scale-8/12 money products). A direct cast can differ by 1 ulp
    * between engines once the decimal's unscaled value exceeds 2^53:
    * Java's BigDecimal.doubleValue is correctly rounded, while
    * DuckDB divides the int128 by 10^scale in double arithmetic,
    * which double-rounds (observed: q01.sum_charge at sf0.001,
    * 31390089.181046996 vs …047). Splitting at the integer boundary
    * keeps every step exactly rounded on BOTH engines: the integer
    * part is < 2^53 (exact in double), the fraction's unscaled value
    * is < 10^scale ≤ 10^12 < 2^53 (one correctly-rounded divide),
    * and the final IEEE add is exactly rounded — so the two engines
    * produce the identical double, bit for bit. */
  def dSplit(c: Column): Column =
    floor(c).cast("double") + (c - floor(c)).cast("double")

  /** DuckDB spelling of [[dSplit]] (floor on DECIMAL is exact
    * DECIMAL(p,0) there too). */
  def dSplitSql(x: String): String =
    s"(CAST(floor($x) AS DOUBLE) + CAST(($x) - floor($x) AS DOUBLE))"

  /** Scalable 0-based dense index over a distinct LONG key column —
    * the q95 two-phase shape, shared: range-bucket the key (256 fixed
    * buckets from a 1-row min/max agg), rank WITHIN buckets in
    * parallel, add per-bucket count offsets from a 256-row cumsum
    * broadcast back. Same answer as the naive single-partition
    * `row_number() OVER (ORDER BY key) - 1`, which is what oracles
    * should mirror — but no task ever sees more than one bucket.
    * Keys must be distinct (ties would make the rank nondeterministic). */
  def denseIndex(df: DataFrame, key: String, out: String = "idx"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nBuckets = 256L
    val Array(minK, maxK) = df.agg(min(col(key)), max(col(key)))
      .head().toSeq.map(_.asInstanceOf[Long]).toArray
    val width = math.max(1L, (maxK - minK + nBuckets) / nBuckets)
    val bucketed = df.withColumn("__bucket",
      expr(s"($key - ${minK}L) DIV ${width}L"))
    val offsets = bucketed.groupBy(col("__bucket"))
      .agg(count(lit(1)).as("__n"))
      .withColumn("__offset",
        coalesce(sum(col("__n")).over(Window.orderBy(col("__bucket"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__bucket"), col("__offset"))
    bucketed.join(broadcast(offsets), "__bucket")
      .withColumn(out, col("__offset") +
        row_number().over(Window.partitionBy(col("__bucket"))
          .orderBy(col(key))).cast("long") - 1L)
      .drop("__bucket", "__offset")
  }

  /** DuckDB-side spellings of the same casts. */
  val sqlDec = "DECIMAL(18,4)"
  def sumDec(col: String): String =
    s"CAST(sum(CAST($col AS DECIMAL(18,4))) AS DOUBLE)"
  /** DuckDB: epoch-millis of the naive ns timestamp, truncating like
    * Spark's `ts DIV 1000000`. */
  val tsMs = "epoch_ms(CAST(ts AS TIMESTAMP))"
}
