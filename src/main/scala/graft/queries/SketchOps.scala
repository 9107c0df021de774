package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Encoders
import Q._

/** PORTABLE sketches — the deterministic, cross-engine twins of the
  * catalog's native approximate family (q19 `approx_count_distinct`,
  * q56 `approx_percentile`, q76 `countMinSketch`, q81 `hll_sketch_agg`,
  * q93 rolling HLL). Those five are rows-only at the oracle gate by
  * design: Spark's sketch internals (seeds, register layouts, KLL
  * compaction schedules) are engine-specific, so DuckDB can never
  * reproduce their bits. This module closes that gap from the other
  * side: each sketch here is pinned to a SPECIFIED hash — md5 of the
  * key's decimal string, which both engines compute byte-identically —
  * and every estimator step is either integer arithmetic or a single
  * correctly-rounded double op on bit-identical operands, so the
  * full sketch state AND the estimates hash-match the DuckDB oracle
  * exactly. (The reference has no sketches at all — its per-key
  * "counting" is the consumer's exact dict at
  * /root/reference/binance-di.py:borrowed test harness scale — so a
  * specified-hash portable family is how that capability has to look
  * when the corpus no longer fits one process.)
  *
  * Scale shape (the reason sketches exist at 100 TB):
  *  - CMS: the counter build is one hash-agg over (row, bucket) pairs
  *    with map-side partial sums — d×w = 4096 cells shuffle per
  *    partition, never the keys. Estimation probes join a 20-row
  *    candidate set against the 4096-row counter table (broadcast).
  *  - HLL: registers build as groupBy(grp, bucket).max(rho) — partial
  *    max absorbs duplicates map-side, so the shuffle carries at most
  *    m=16 rows per group per partition regardless of corpus size.
  *  - KMV: bottom-k via the partial-aggregable [[graft.functions.TopKMin]]
  *    Aggregator — each partition reduces to ≤ k doubles before the
  *    shuffle (the same shape a production bottom-k sketch uses).
  * Production tunings (p=14 HLL, w=2^20 CMS, k=1024 KMV) change only
  * the constants; the plans are identical.
  *
  * Determinism contract (per SURVEY.md §7.4, extended for sketches):
  *  - hash = hex digits of md5(decimal string) — parsed with `conv`
  *    on the Spark side and an unrolled base-16 polynomial in DuckDB;
  *  - register sums carried in fixed point (Σ 2^(50-M) as BIGINT);
  *  - float constants are embedded as ONE pre-computed literal on
  *    both sides (e.g. α₁₆·m²·2⁵⁰ = 1.93979043150102e17), so each
  *    engine performs the same single correctly-rounded division;
  *  - the HLL small-range (linear-counting) branch needs ln(), which
  *    libm does NOT guarantee bit-identical across engines — so its
  *    m=16 possible outputs are pre-computed as integer fixed-point
  *    literals (a CASE lookup), making even the LC branch exact;
  *  - final float estimates are floor-quantized at 1e6 (1e3 for KMV)
  *    AFTER both engines hold the identical double, so quantization
  *    cannot disagree.
  */
object SketchOps {

  private val HEXD = "0123456789abcdef"

  /** DuckDB: numeric value of 1-based hex digit `i` of expression `h`. */
  private def hexDigitSql(h: String, i: Int): String =
    s"(strpos('$HEXD', substr($h,$i,1))-1)"

  /** DuckDB: integer value of hex digits [from, from+n) of `h` —
    * the unrolled twin of Spark's `conv(substr(h,from,n),16,10)`. */
  private def hexValSql(h: String, from: Int, n: Int): String =
    (0 until n)
      .map(i => s"${hexDigitSql(h, from + i)}*${BigInt(16).pow(n - 1 - i)}")
      .mkString("(", " + ", ")")

  /** Spark: integer value of hex digits [from, from+n) of `h`. */
  private def hexVal(h: Column, from: Int, n: Int): Column =
    conv(substring(h, from, n), 16, 10).cast("long")

  // ------------------------------------------------------------------
  // q175 — portable count-min sketch, heavy hitters over events.user_id.
  // d=4 rows × w=1024 buckets; row j's hash = first 16 bits of
  // md5('j:key') mod w. Counters are plain event counts (additive ⇒
  // partition-order-independent); estimate = min over the 4 rows.
  // Every value is an integer, so the oracle match is exact — including
  // the one-sided CMS error (estimate ≥ true count, always).
  // ------------------------------------------------------------------
  private val D = 4
  private val W = 1024L

  private def cmsBucket(j: Column, key: Column): Column =
    hexVal(md5(concat(j.cast("string"), lit(":"), key)), 1, 4) % lit(W)

  private val jsExplode: Column =
    explode(array((0 until D).map(lit): _*))

  /** the q175 counter build, exposed so SketchSpec can assert the
    * streaming cell state converges to exactly this table. */
  private[graft] def cmsCounters(s: SparkSession, dir: String): DataFrame =
    events(s, dir).select(col("user_id").cast("string").as("key"))
      .select(col("key"), jsExplode.as("j"))
      .select(col("j"), cmsBucket(col("j"), col("key")).as("b"))
      .groupBy(col("j"), col("b")).agg(count(lit(1)).as("c"))

  private val cmsDef = QueryDef("q175_cms_portable",
    (s, dir) => {
      val ev = events(s, dir).select(col("user_id").cast("string").as("key"))
      val counters = cmsCounters(s, dir)
      val top = ev.groupBy(col("key")).agg(count(lit(1)).as("n_exact"))
        .orderBy(col("n_exact").desc, col("key")).limit(20)
      top
        .select(col("key"), col("n_exact"), jsExplode.as("j"))
        .withColumn("b", cmsBucket(col("j"), col("key")))
        .join(counters, Seq("j", "b"))
        .groupBy(col("key"), col("n_exact"))
        .agg(min(col("c")).as("n_est"))
        .orderBy(col("n_exact").desc, col("key"))
    },
    Some(s"""WITH ev AS (SELECT CAST(user_id AS VARCHAR) AS key FROM events),
      |js AS (SELECT * FROM (VALUES (0),(1),(2),(3)) t(j)),
      |bk AS (SELECT key, j, md5(CAST(j AS VARCHAR) || ':' || key) AS h
      |       FROM ev CROSS JOIN js),
      |ct AS (SELECT j, ${hexValSql("h", 1, 4)} % $W AS b, count(*) AS c
      |       FROM bk GROUP BY 1, 2),
      |ex AS (SELECT key, count(*) AS n_exact FROM ev GROUP BY 1),
      |top AS (SELECT key, n_exact FROM ex ORDER BY n_exact DESC, key LIMIT 20),
      |pb AS (SELECT key, n_exact, j, md5(CAST(j AS VARCHAR) || ':' || key) AS h
      |       FROM top CROSS JOIN js),
      |pe AS (SELECT key, n_exact, j, ${hexValSql("h", 1, 4)} % $W AS b FROM pb)
      |SELECT pe.key, pe.n_exact, min(ct.c) AS n_est
      |FROM pe JOIN ct ON pe.j = ct.j AND pe.b = ct.b
      |GROUP BY pe.key, pe.n_exact
      |ORDER BY pe.n_exact DESC, pe.key""".stripMargin))

  // ------------------------------------------------------------------
  // q176 — portable HyperLogLog, distinct l_partkey per l_returnflag.
  // p=4 ⇒ m=16 registers (production uses p=14; same plan). Bucket =
  // first hex digit of md5(partkey); rho = 1 + leading zero bits of
  // the next 48 bits (capped at 49). Register sums are carried in
  // fixed point (Σ 2^(50-M) as BIGINT, empty registers contributing
  // 2^50), the raw-estimator constant α₁₆·m²·2⁵⁰ is one shared
  // literal, and the linear-counting branch is a 16-entry integer
  // lookup — so bucket counts, fixed-point sums AND both estimator
  // branches hash-match exactly.
  // ------------------------------------------------------------------
  // constants shared with the JVM-side twin (streaming state uses the
  // same object, so batch, stream and oracle can never drift apart)
  private val HLL_RAW_NUM = graft.functions.PortableHll.RawNumerator
  private val TWO_50 = graft.functions.PortableHll.Two50
  private val LC_FP = graft.functions.PortableHll.LcFp.toSeq

  /** Spark: per-row HLL (bucket, rho) from a column `h` holding the
    * md5 hex of the key. Shared by q176 (per-group distinct) and
    * q178 (per-day registers merged over a rolling window); exposed
    * package-private so SketchSpec's mergeability cross-check reuses
    * the SAME rho derivation instead of a drift-prone copy. */
  private[graft] def hllRho(df: DataFrame): DataFrame = df
    .withColumn("bucket", hexVal(col("h"), 1, 1))
    .withColumn("tail", substring(col("h"), 2, 12))
    .withColumn("z", length(regexp_extract(col("tail"), "^(0*)", 1)))
    .withColumn("dv",
      when(col("z") === 12, lit(0))
        .otherwise(expr("instr('0123456789abcdef', substr(tail, z + 1, 1)) - 1")))
    .withColumn("rho",
      when(col("z") === 12, lit(49))
        .otherwise(col("z") * 4 +
          when(col("dv") >= 8, 0).when(col("dv") >= 4, 1)
            .when(col("dv") >= 2, 2).otherwise(3) + 1))

  /** Spark: estimator columns from registers `regs(keys..., bucket, m)`
    * — fixed-point sum, zero-register count, and the branch-exact
    * estimate (raw divide on one shared literal, or the LC lookup). */
  private[graft] def hllEstimate(regs: DataFrame, keys: Seq[String]): DataFrame = {
    val lcCase = LC_FP.zipWithIndex.foldLeft(lit(0L)) {
      case (acc, (fp, i)) => when(col("v_zero") === (i + 1), lit(fp)).otherwise(acc)
    }
    regs.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_filled"),
        sum(expr("CAST(power(2, 50 - m) AS BIGINT)")).as("s_filled"))
      .withColumn("v_zero", lit(16L) - col("n_filled"))
      .withColumn("s_fp", col("s_filled") + col("v_zero") * lit(TWO_50))
      .withColumn("e_raw", lit(HLL_RAW_NUM) / col("s_fp").cast("double"))
      .withColumn("est_fp",
        when(col("e_raw") <= lit(40.0) && col("v_zero") > 0, lcCase)
          .otherwise(floor(least(col("e_raw"), lit(1.0e9)) * lit(1000000.0)).cast("long")))
  }

  /** DuckDB CTE chain `rr/rz/rv/rh` computing per-key (bucket, rho)
    * from a CTE `src(<keys>, h)` — the SQL twin of [[hllRho]]. */
  private def hllRhoSql(keys: String): String =
    s"""rr AS (SELECT $keys, ${hexDigitSql("h", 1)} AS bucket,
      |         substr(h, 2, 12) AS tail FROM src),
      |rz AS (SELECT $keys, bucket, tail,
      |         length(regexp_extract(tail, '^(0*)', 1)) AS z FROM rr),
      |rv AS (SELECT $keys, bucket, z,
      |         CASE WHEN z = 12 THEN 0
      |              ELSE strpos('$HEXD', substr(tail, z + 1, 1)) - 1 END AS dv
      |       FROM rz),
      |rh AS (SELECT $keys, bucket,
      |         CASE WHEN z = 12 THEN 49
      |              ELSE z * 4 + (CASE WHEN dv >= 8 THEN 0 WHEN dv >= 4 THEN 1
      |                                 WHEN dv >= 2 THEN 2 ELSE 3 END) + 1 END AS rho
      |       FROM rv)""".stripMargin

  /** DuckDB CTE chain `ag/sfp/er/est` — the SQL twin of [[hllEstimate]],
    * reading registers from a CTE `regs(<keys>, bucket, m)`. */
  private def hllEstimateSql(keys: String): String =
    s"""ag AS (SELECT $keys, count(*) AS n_filled,
      |         CAST(sum(CAST(power(2, 50 - m) AS BIGINT)) AS BIGINT) AS s_filled
      |       FROM regs GROUP BY ALL),
      |sfp AS (SELECT $keys, n_filled, 16 - n_filled AS v_zero,
      |          s_filled + (16 - n_filled) * $TWO_50 AS s_fp FROM ag),
      |er AS (SELECT $keys, n_filled, v_zero, s_fp,
      |         CAST($HLL_RAW_NUM AS DOUBLE) / CAST(s_fp AS DOUBLE) AS e_raw
      |       FROM sfp),
      |est AS (SELECT $keys, n_filled, v_zero, s_fp,
      |          CASE WHEN e_raw <= 40.0 AND v_zero > 0 THEN
      |            (CASE ${LC_FP.zipWithIndex.map { case (fp, i) => s"WHEN v_zero = ${i + 1} THEN $fp" }.mkString(" ")} ELSE 0 END)
      |          ELSE CAST(floor(least(e_raw, 1.0e9) * 1000000.0) AS BIGINT) END AS est_fp
      |        FROM er)""".stripMargin

  private val hllDef = QueryDef("q176_hll_portable",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_returnflag").as("grp"),
          md5(col("l_partkey").cast("string")).as("h"))
      val regs = hllRho(li).groupBy(col("grp"), col("bucket"))
        .agg(max(col("rho")).as("m"))
      val est = hllEstimate(regs, Seq("grp"))
      val exact = t(s, dir, "lineitem")
        .groupBy(col("l_returnflag").as("grp"))
        .agg(countDistinct(col("l_partkey")).as("n_exact"))
      est.join(exact, Seq("grp"))
        .select(col("grp"), col("n_filled"), col("v_zero"), col("s_fp"),
          col("est_fp"), col("n_exact"))
        .orderBy(col("grp"))
    },
    Some(s"""WITH src AS (SELECT l_returnflag AS grp,
      |            md5(CAST(l_partkey AS VARCHAR)) AS h FROM lineitem),
      |${hllRhoSql("grp")},
      |regs AS (SELECT grp, bucket, max(rho) AS m FROM rh GROUP BY ALL),
      |${hllEstimateSql("grp")},
      |ex AS (SELECT l_returnflag AS grp, count(DISTINCT l_partkey) AS n_exact
      |       FROM lineitem GROUP BY 1)
      |SELECT est.grp, CAST(n_filled AS BIGINT) AS n_filled,
      |  CAST(v_zero AS BIGINT) AS v_zero, CAST(s_fp AS BIGINT) AS s_fp,
      |  CAST(est_fp AS BIGINT) AS est_fp, n_exact
      |FROM est JOIN ex ON est.grp = ex.grp
      |ORDER BY est.grp""".stripMargin))

  // ------------------------------------------------------------------
  // q178 — rolling 7-day distinct users via MERGED portable-HLL
  // registers: the mergeability property that makes sketches the only
  // viable windowed-distinct at 100 TB (q93's shape, but hash-checked).
  // Per-day registers aggregate once (groupBy(day, bucket).max —
  // partial max map-side); the rolling merge is a range join over the
  // REGISTER TABLE only (days × ≤16 rows — never the event stream),
  // merge = max per bucket (associative, order-free), then the q176
  // estimator. Exact rolling distinct rides along for the oracle and
  // the error spec; at production scale you'd drop it — that's the
  // point of the sketch.
  // ------------------------------------------------------------------
  private val rollDef = QueryDef("q178_rolling_hll_portable",
    (s, dir) => {
      val ev = events(s, dir)
        .select(expr("ts_ms DIV 86400000").as("day"), col("user_id"),
          md5(col("user_id").cast("string")).as("h"))
      val dayRegs = hllRho(ev).groupBy(col("day"), col("bucket"))
        .agg(max(col("rho")).as("m"))
      val days = dayRegs.select(col("day")).distinct()
      val merged = days.as("d").join(dayRegs.as("r"),
          col("r.day").between(col("d.day") - 6, col("d.day")))
        .select(col("d.day").as("day"), col("r.bucket").as("bucket"),
          col("r.m").as("m"))
        .groupBy(col("day"), col("bucket")).agg(max(col("m")).as("m"))
      val est = hllEstimate(merged, Seq("day"))
      val du = ev.select(col("day"), col("user_id")).distinct()
      val exact = days.as("d").join(du.as("u"),
          col("u.day").between(col("d.day") - 6, col("d.day")))
        .groupBy(col("d.day").as("day"))
        .agg(countDistinct(col("u.user_id")).as("n_exact"))
      est.join(exact, Seq("day"))
        .select(col("day"), col("n_filled"), col("v_zero"), col("s_fp"),
          col("est_fp"), col("n_exact"))
        .orderBy(col("day"))
    },
    Some(s"""WITH ev AS (SELECT $tsMs // 86400000 AS day, user_id,
      |         md5(CAST(user_id AS VARCHAR)) AS h FROM events),
      |src AS (SELECT day, h FROM ev),
      |${hllRhoSql("day")},
      |dregs AS (SELECT day, bucket, max(rho) AS m FROM rh GROUP BY ALL),
      |days AS (SELECT DISTINCT day FROM dregs),
      |regs AS (SELECT d.day AS day, r.bucket AS bucket, max(r.m) AS m
      |         FROM days d JOIN dregs r ON r.day BETWEEN d.day - 6 AND d.day
      |         GROUP BY ALL),
      |${hllEstimateSql("day")},
      |du AS (SELECT DISTINCT day, user_id FROM ev),
      |ex AS (SELECT d.day AS day, count(DISTINCT u.user_id) AS n_exact
      |       FROM days d JOIN du u ON u.day BETWEEN d.day - 6 AND d.day
      |       GROUP BY 1)
      |SELECT est.day, CAST(n_filled AS BIGINT) AS n_filled,
      |  CAST(v_zero AS BIGINT) AS v_zero, CAST(s_fp AS BIGINT) AS s_fp,
      |  CAST(est_fp AS BIGINT) AS est_fp, n_exact
      |FROM est JOIN ex ON est.day = ex.day
      |ORDER BY est.day""".stripMargin))

  // ------------------------------------------------------------------
  // q177 — portable KMV (bottom-k) distinct sketch, distinct o_custkey
  // per o_orderpriority. Hash = first 52 bits of md5 (so the value is
  // exact in a double, letting the partial-aggregable TopKMin carry
  // it); estimate = (k-1)·2^52 / h_(k) with k=32 — one shared literal
  // numerator, one correctly-rounded divide, floor-quantized at 1e3.
  // The sketch state itself (h_(32) as BIGINT) is part of the output,
  // so the oracle pins the sketch, not just the estimate.
  // ------------------------------------------------------------------
  private val KMV_K = 32
  private val KMV_NUM = 1.3961158844848538e17 // 31.0 * 2^52, IEEE-exact

  private val kmvDef = QueryDef("q177_kmv_distinct",
    (s, dir) => {
      val dh = t(s, dir, "orders")
        .select(col("o_orderpriority").as("grp"),
          hexVal(md5(col("o_custkey").cast("string")), 1, 13).as("h"))
        .distinct()
      val bottomK = udaf(new graft.functions.TopKMin(KMV_K), Encoders.scalaDouble)
      val sk = dh.groupBy(col("grp"))
        .agg(count(lit(1)).as("n_seen"),
          bottomK(col("h").cast("double")).as("bk"))
        .filter(size(col("bk")) >= KMV_K)
        .withColumn("h_k", element_at(col("bk"), KMV_K))
        .withColumn("est_fp",
          floor(lit(KMV_NUM) / col("h_k") * lit(1000.0)).cast("long"))
      val exact = t(s, dir, "orders")
        .groupBy(col("o_orderpriority").as("grp"))
        .agg(countDistinct(col("o_custkey")).as("n_exact"))
      sk.join(exact, Seq("grp"))
        .select(col("grp"), col("n_seen"), col("h_k").cast("long").as("h_k"),
          col("est_fp"), col("n_exact"))
        .orderBy(col("grp"))
    },
    Some(s"""WITH dh AS (SELECT DISTINCT o_orderpriority AS grp,
      |         ${hexValSql("md5(CAST(o_custkey AS VARCHAR))", 1, 13)} AS h
      |       FROM orders),
      |rk AS (SELECT grp, h,
      |         row_number() OVER (PARTITION BY grp ORDER BY h) AS r FROM dh),
      |kk AS (SELECT grp, h AS h_k FROM rk WHERE r = $KMV_K),
      |ns AS (SELECT grp, count(*) AS n_seen FROM dh GROUP BY 1),
      |ex AS (SELECT o_orderpriority AS grp, count(DISTINCT o_custkey) AS n_exact
      |       FROM orders GROUP BY 1)
      |SELECT kk.grp, ns.n_seen, kk.h_k,
      |  CAST(floor(CAST($KMV_NUM AS DOUBLE) / CAST(h_k AS DOUBLE) * 1000.0) AS BIGINT) AS est_fp,
      |  ex.n_exact
      |FROM kk JOIN ns ON kk.grp = ns.grp JOIN ex ON kk.grp = ex.grp
      |ORDER BY kk.grp""".stripMargin))

  // ------------------------------------------------------------------
  // q179 — portable approximate percentiles by DETERMINISTIC sampling:
  // the cross-engine answer to q56's engine-internal KLL sketch. The
  // sample is hash-gated (first 16 bits of md5(event_id) mod 10 = 0 —
  // a reproducible 10% that is identical across engines, runs and
  // partitionings, unlike TABLESAMPLE/rand()), and the quantile is the
  // exact interpolated percentile OVER THE SAMPLE — q49 already pins
  // that Spark `percentile` ≡ DuckDB `quantile_cont` on these
  // 2-decimal values. At 100 TB only the sample shuffles: the
  // full-data percentile sort this replaces is the non-scalable op.
  // ------------------------------------------------------------------
  private val pctDef = QueryDef("q179_sample_percentile",
    (s, dir) => {
      val ev = events(s, dir)
        .select(col("event_type"), col("value"), col("event_id"))
      val sampled = ev
        .filter(hexVal(md5(col("event_id").cast("string")), 1, 4) % 10 === 0)
      sampled.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_sample"),
          expr("percentile(value, 0.5)").as("p50_sample"),
          expr("percentile(value, 0.9)").as("p90_sample"))
        .join(ev.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_total")), Seq("event_type"))
        .select(col("event_type"), col("n_sample"), col("n_total"),
          col("p50_sample"), col("p90_sample"))
        .orderBy(col("event_type"))
    },
    Some(s"""WITH ev AS (SELECT event_type, value, event_id FROM events),
      |sm AS (SELECT event_type, value FROM ev
      |       WHERE ${hexValSql("md5(CAST(event_id AS VARCHAR))", 1, 4)} % 10 = 0),
      |sq AS (SELECT event_type, count(*) AS n_sample,
      |         quantile_cont(value, 0.5) AS p50_sample,
      |         quantile_cont(value, 0.9) AS p90_sample
      |       FROM sm GROUP BY 1),
      |tt AS (SELECT event_type, count(*) AS n_total FROM ev GROUP BY 1)
      |SELECT sq.event_type, sq.n_sample, tt.n_total, sq.p50_sample, sq.p90_sample
      |FROM sq JOIN tt ON sq.event_type = tt.event_type
      |ORDER BY sq.event_type""".stripMargin))

  // ------------------------------------------------------------------
  // q237 — KMV cross-TABLE overlap estimation: the "estimate before
  // you shuffle" join-planning readout that complements q233's exact
  // skew screen. For three join-key pairs, each side's distinct keys
  // are sketched with the q177 bottom-k contract (13 hex digits of
  // md5, k=32); the UNION sketch is the bottom-k of the merged hash
  // sets (KMV sketches merge by concatenate-and-rebottom — the
  // mergeability that lets every table keep a 32-value sketch in its
  // catalog stats), the kth value estimates |A ∪ B|, and the fraction
  // of union-sketch members present in BOTH sides estimates Jaccard,
  // giving |A ∩ B| ≈ J · |A ∪ B| without ever joining the tables.
  // Exact audit columns (true intersection + error ppm) ride along,
  // q174/q144-style. All fixed-point integers except the one
  // IEEE-deterministic division q177 already pins cross-engine.
  // Scale shape: per side one distinct-shuffle builds the hash set
  // (in production the per-table sketch is maintained, not rebuilt);
  // the sketch agg partial-combines with k-bounded state; membership
  // joins broadcast the 32-row sketch; the only 1×1 crossJoin glues
  // two scalar summaries (the q135 shape).
  private val kmvJoinDef = QueryDef("q237_kmv_join_overlap",
    (s, dir) => {
      def hashes(df: org.apache.spark.sql.DataFrame, key: String) =
        df.select(hexVal(md5(col(key).cast("string")), 1, 13).as("h"))
          .distinct()
      val bottomK =
        udaf(new graft.functions.TopKMin(KMV_K), Encoders.scalaDouble)
      val o = t(s, dir, "orders"); val c = t(s, dir, "customer")
      val l = t(s, dir, "lineitem"); val p = t(s, dir, "part")
      // each side's distinct hash set is read three times (sketch,
      // membership probe, exact audit) — cut once, lazily, so the
      // first consumer materializes it and the others reuse blocks
      // (plain AQE exchange reuse was measured and does NOT dedupe
      // these consumers: 44 jobs / 10.8 s vs 41 / 6.1 with cuts)
      val cutPairs = Seq(
        ("custkey", hashes(o, "o_custkey"), hashes(c, "c_custkey")),
        ("orderkey", hashes(l, "l_orderkey"), hashes(o, "o_orderkey")),
        ("partkey", hashes(l, "l_partkey"), hashes(p, "p_partkey")))
        .map { case (n, a, b) =>
          (n, Ckpt.cut(a, eager = false), Ckpt.cut(b, eager = false))
        }
      // KMV mergeability (the catalog-stats property the scaladoc
      // sells): bottom-k(A ∪ B) = bottom-k(dedup(bottom-k(A) ∪
      // bottom-k(B))) exactly — the k smallest distinct values of
      // the union all live in one of the per-side bottom-k's. The
      // six per-side bottom-k's ride ONE collect job (so the six cut
      // materializations parallelize instead of serializing across
      // three driver steps), then a ≤2k-value driver merge per pair
      // (the bounded driver-step class, cf. the TextOps 20-row
      // top-k) replaces the old full |A|+|B| union-DISTINCT shuffle;
      // the sketch values then probe each side as an `isin` LITERAL
      // filter — no broadcast builds, no SortMergeJoins of the full
      // hash sets against 32 rows.
      val skRows = cutPairs
        .flatMap { case (n, aC, bC) => Seq(
          aC.agg(bottomK(col("h").cast("double")).as("bk"))
            .select(lit(n).as("pair"), col("bk")),
          bC.agg(bottomK(col("h").cast("double")).as("bk"))
            .select(lit(n).as("pair"), col("bk"))) }
        .reduce(_.unionAll(_))
        .select(col("pair"), explode(col("bk")).as("hd"))
        .collect()
      val skOf: Map[String, Array[Long]] = skRows
        .groupBy(_.getString(0))
        .map { case (n, rs) =>
          n -> rs.map(_.getDouble(1).toLong).distinct.sorted.take(KMV_K)
        }
      cutPairs.map { case (name, aC, bC) =>
        val skVals = skOf(name)
        val hK = skVals.max // the kth smallest union hash
        // membership of the sketch values in both sides: flag-sum
        // over the ≤2k surviving rows of both cut sets
        val kInt = aC.filter(col("h").isin(skVals: _*))
          .select(col("h"), lit(1L).as("f"))
          .unionAll(bC.filter(col("h").isin(skVals: _*))
            .select(col("h"), lit(2L).as("f")))
          .groupBy(col("h")).agg(sum(col("f")).as("fs"))
          .agg(coalesce(sum(when(col("fs") === 3L, 1L)), lit(0L))
            .as("k_int"))
        val flags = kInt.withColumn("h_k", lit(hK))
        val exact = aC.join(bC, Seq("h"), "left_semi")
          .agg(count(lit(1)).as("inter_exact"))
        flags.crossJoin(exact).select(
          lit(name).as("pair"), col("h_k"), col("k_int"),
          floor(lit(KMV_NUM) / col("h_k") * lit(1000.0)).cast("long")
            .as("union_est_fp"),
          expr(s"k_int * 1000000 DIV $KMV_K").as("jaccard_ppm"),
          col("inter_exact"))
          .withColumn("inter_est",
            expr(s"(k_int * union_est_fp) DIV ${KMV_K * 1000}"))
          .withColumn("err_ppm",
            expr("abs(inter_est - inter_exact) * 1000000 DIV inter_exact"))
      }.reduce(_.unionAll(_))
        .orderBy(col("pair"))
    },
    Some {
      val est = s"CAST(floor($KMV_NUM / h_k * 1000.0) AS BIGINT)"
      def block(i: Int, name: String, ta: String, ka: String, tb: String,
          kb: String) =
        s"""ha$i AS (SELECT DISTINCT ${hexValSql(s"md5(CAST($ka AS VARCHAR))", 1, 13)} AS h FROM $ta),
           |hb$i AS (SELECT DISTINCT ${hexValSql(s"md5(CAST($kb AS VARCHAR))", 1, 13)} AS h FROM $tb),
           |u$i AS (SELECT h FROM ha$i UNION SELECT h FROM hb$i),
           |s$i AS (SELECT h FROM (SELECT h, row_number() OVER (ORDER BY h) AS r FROM u$i) WHERE r <= $KMV_K),
           |f$i AS (SELECT max(h) AS h_k,
           |  CAST(count(*) FILTER (WHERE h IN (SELECT h FROM ha$i)
           |    AND h IN (SELECT h FROM hb$i)) AS BIGINT) AS k_int FROM s$i),
           |x$i AS (SELECT CAST(count(*) AS BIGINT) AS inter_exact
           |  FROM ha$i WHERE h IN (SELECT h FROM hb$i)),
           |r$i AS (SELECT '$name' AS pair, CAST(f$i.h_k AS BIGINT) AS h_k,
           |  f$i.k_int, x$i.inter_exact FROM f$i, x$i)""".stripMargin
      s"""WITH ${block(1, "custkey", "orders", "o_custkey", "customer", "c_custkey")},
         |${block(2, "orderkey", "lineitem", "l_orderkey", "orders", "o_orderkey")},
         |${block(3, "partkey", "lineitem", "l_partkey", "part", "p_partkey")},
         |allr AS (SELECT * FROM r1 UNION ALL SELECT * FROM r2
         |         UNION ALL SELECT * FROM r3)
         |SELECT pair, h_k, k_int, $est AS union_est_fp,
         |  k_int * 1000000 // $KMV_K AS jaccard_ppm, inter_exact,
         |  (k_int * $est) // ${KMV_K * 1000} AS inter_est,
         |  abs((k_int * $est) // ${KMV_K * 1000} - inter_exact)
         |    * 1000000 // inter_exact AS err_ppm
         |FROM allr ORDER BY pair""".stripMargin
    })

  // ------------------------------------------------------------------
  // q273 — STANDING HLL registers absorbing an arriving order shard:
  // the sketch-side member of the incremental-maintenance family
  // (bands q265, IVF q267, PQ q269, CC q263, PageRank q270, triangles
  // q272). Register max is associative and order-free, so the merge —
  // standing registers ⊕ shard registers, max per (grp, bucket) — is
  // BIT-identical to rebuilding the registers over base ∪ shard from
  // scratch, which is exactly what the oracle does: the hash match is
  // the merged==rebuilt proof, estimator branches included. Standing
  // and merged registers persist via SideTables (`hll_regs_base`,
  // `hll_regs_merged`); per-shard cost is one |shard| scan + a
  // ≤(groups × 16)-row register union — the base corpus is never
  // re-read (the merged builder's leaves are the base-register
  // parquet + the shard slice). The exact merged distinct rides along
  // for the oracle; at production scale you'd drop it — that's the
  // point of the sketch.
  // ------------------------------------------------------------------
  private val hllAbsorbDef = QueryDef("q273_hll_absorb",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_returnflag").as("grp"), col("l_orderkey").as("ok"),
          md5(col("l_partkey").cast("string")).as("h"))
      val baseRegs = SideTables.getOrBuild(s, dir, "hll_regs_base",
        Seq("lineitem")) {
        hllRho(li.filter(hashBucket(col("ok")) < 80))
          .groupBy(col("grp"), col("bucket")).agg(max(col("rho")).as("m"))
      }
      val mergedRegs = SideTables.getOrBuild(s, dir, "hll_regs_merged",
        Seq("lineitem")) {
        val shardRegs = hllRho(li.filter(hashBucket(col("ok")) >= 80))
          .groupBy(col("grp"), col("bucket")).agg(max(col("rho")).as("m"))
        baseRegs.unionByName(shardRegs)
          .groupBy(col("grp"), col("bucket")).agg(max(col("m")).as("m"))
      }
      val estB = hllEstimate(baseRegs, Seq("grp"))
        .select(col("grp"), col("s_fp").as("s_fp_base"),
          col("est_fp").as("est_fp_base"))
      val estM = hllEstimate(mergedRegs, Seq("grp"))
        .select(col("grp"), col("s_fp").as("s_fp_merged"),
          col("est_fp").as("est_fp_merged"))
      val exact = t(s, dir, "lineitem")
        .groupBy(col("l_returnflag").as("grp"))
        .agg(countDistinct(col("l_partkey")).as("n_exact_merged"))
      estB.join(estM, Seq("grp")).join(exact, Seq("grp"))
        .orderBy(col("grp"))
    },
    Some(s"""WITH src AS (SELECT l_returnflag AS grp,
      |    (CAST(('0x' || substring(md5(CAST(l_orderkey AS VARCHAR)), 1, 15))
      |      AS BIGINT) % 100 < 80) AS is_base,
      |    md5(CAST(l_partkey AS VARCHAR)) AS h FROM lineitem),
      |${hllRhoSql("grp, is_base")},
      |base_regs AS (SELECT grp, bucket, max(rho) AS m FROM rh
      |  WHERE is_base GROUP BY grp, bucket),
      |merged_regs AS (SELECT grp, bucket, max(rho) AS m FROM rh
      |  GROUP BY grp, bucket),
      |regs AS (SELECT grp, 'base' AS kind, bucket, m FROM base_regs
      |  UNION ALL SELECT grp, 'merged', bucket, m FROM merged_regs),
      |${hllEstimateSql("grp, kind")},
      |ex AS (SELECT l_returnflag AS grp,
      |    count(DISTINCT l_partkey) AS n_exact_merged
      |  FROM lineitem GROUP BY 1)
      |SELECT b.grp,
      |  CAST(b.s_fp AS BIGINT) AS s_fp_base,
      |  CAST(b.est_fp AS BIGINT) AS est_fp_base,
      |  CAST(m.s_fp AS BIGINT) AS s_fp_merged,
      |  CAST(m.est_fp AS BIGINT) AS est_fp_merged,
      |  ex.n_exact_merged
      |FROM est b JOIN est m ON m.grp = b.grp
      |  AND b.kind = 'base' AND m.kind = 'merged'
      |JOIN ex ON ex.grp = b.grp
      |ORDER BY b.grp""".stripMargin))

  /** HLL under RETRACTION — the sketch-side forget story, stated
    * honestly: an HLL register CANNOT delete an element (max() has no
    * inverse), so the production answer is EPOCH-PARTITIONED
    * registers — keep one register set per arrival epoch (here: the
    * order-hash decile, the same shard law as everywhere else), merge
    * at query time, and retraction = DROPPING an epoch's partition
    * from the standing artifact. Partition-drop is exact for
    * max-merge: max over the surviving epochs' registers equals
    * registers built from the surviving rows, bit-for-bit — which is
    * why the whole row (registers AND estimates) hash-matches the
    * oracle's from-scratch derivation, with the exact retained
    * distinct count alongside as the honesty column. The standing
    * `hll_regs_epochs` artifact is 10 epochs × 16 registers per
    * group — a few KB that makes a 100 TB corpus's distinct counts
    * maintainable under both absorb (append an epoch) and forget
    * (drop one), without ever re-reading surviving data. */
  private val hllRetractDef = QueryDef("q277_hll_partitioned_retract",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_returnflag").as("grp"), col("l_orderkey").as("ok"),
          md5(col("l_partkey").cast("string")).as("h"))
      val epochRegs = SideTables.getOrBuild(s, dir, "hll_regs_epochs",
        Seq("lineitem")) {
        hllRho(li.withColumn("part",
            floor(hashBucket(col("ok")) / 10).cast("long")))
          .groupBy(col("grp"), col("part"), col("bucket"))
          .agg(max(col("rho")).as("m"))
      }
      val fullRegs = epochRegs
        .groupBy(col("grp"), col("bucket")).agg(max(col("m")).as("m"))
      val retRegs = epochRegs.filter(col("part") < 9)
        .groupBy(col("grp"), col("bucket")).agg(max(col("m")).as("m"))
      val estF = hllEstimate(fullRegs, Seq("grp"))
        .select(col("grp"), col("s_fp").as("s_fp_full"),
          col("est_fp").as("est_fp_full"))
      val estR = hllEstimate(retRegs, Seq("grp"))
        .select(col("grp"), col("s_fp").as("s_fp_retained"),
          col("est_fp").as("est_fp_retained"))
      val exact = t(s, dir, "lineitem")
        .filter(hashBucket(col("l_orderkey")) < 90)
        .groupBy(col("l_returnflag").as("grp"))
        .agg(countDistinct(col("l_partkey")).as("n_exact_retained"))
      estF.join(estR, Seq("grp")).join(exact, Seq("grp"))
        .orderBy(col("grp"))
    },
    Some(s"""WITH src AS (SELECT l_returnflag AS grp,
      |    (CAST(('0x' || substring(md5(CAST(l_orderkey AS VARCHAR)), 1, 15))
      |      AS BIGINT) % 100) // 10 AS part,
      |    md5(CAST(l_partkey AS VARCHAR)) AS h FROM lineitem),
      |${hllRhoSql("grp, part")},
      |epoch_regs AS (SELECT grp, part, bucket, max(rho) AS m FROM rh
      |  GROUP BY grp, part, bucket),
      |full_regs AS (SELECT grp, bucket, max(m) AS m FROM epoch_regs
      |  GROUP BY grp, bucket),
      |ret_regs AS (SELECT grp, bucket, max(m) AS m FROM epoch_regs
      |  WHERE part < 9 GROUP BY grp, bucket),
      |regs AS (SELECT grp, 'full' AS kind, bucket, m FROM full_regs
      |  UNION ALL SELECT grp, 'retained', bucket, m FROM ret_regs),
      |${hllEstimateSql("grp, kind")},
      |ex AS (SELECT l_returnflag AS grp,
      |    count(DISTINCT l_partkey) AS n_exact_retained
      |  FROM lineitem
      |  WHERE CAST(('0x' || substring(md5(CAST(l_orderkey AS VARCHAR)),
      |    1, 15)) AS BIGINT) % 100 < 90
      |  GROUP BY 1)
      |SELECT f.grp,
      |  CAST(f.s_fp AS BIGINT) AS s_fp_full,
      |  CAST(f.est_fp AS BIGINT) AS est_fp_full,
      |  CAST(r.s_fp AS BIGINT) AS s_fp_retained,
      |  CAST(r.est_fp AS BIGINT) AS est_fp_retained,
      |  ex.n_exact_retained
      |FROM est f JOIN est r ON r.grp = f.grp
      |  AND f.kind = 'full' AND r.kind = 'retained'
      |JOIN ex ON ex.grp = f.grp
      |ORDER BY f.grp""".stripMargin))

  /** EPOCH COMPACTION for the partitioned HLL registers — the
    * operational complement of q277's epoch-partitioned retraction.
    * Epoch partitioning buys the ability to forget, but a standing
    * pipeline that appends an epoch per arriving shard grows its
    * artifact forever; once epochs age past the retention horizon
    * (no purge can target them anymore), a compaction sweep max-folds
    * them into one BASE partition and the artifact stops growing:
    * |registers| = (1 + live epochs) × groups × 16 rows, bounded
    * regardless of how many shards ever arrived. Compaction is EXACT
    * for max-merge registers — max is associative and idempotent, so
    * (base ⊕ e₀ ⊕ … ⊕ eₖ) ⊕ live == full — and this row proves it
    * end-to-end: register-content fingerprints and estimates from the
    * compacted artifact must hash-match the oracle's from-scratch
    * derivation over ALL rows, with the row-count shrink
    * (rows_before → rows_after) alongside as the bound the sweep
    * exists to enforce. The grain trade is stated by construction:
    * compacted epochs can no longer be individually retracted —
    * that's what "past the retention horizon" means. */
  private val hllCompactDef = QueryDef("q281_hll_compact",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_returnflag").as("grp"), col("l_orderkey").as("ok"),
          md5(col("l_partkey").cast("string")).as("h"))
      val epochRegs = SideTables.getOrBuild(s, dir, "hll_regs_epochs",
        Seq("lineitem")) {
        hllRho(li.withColumn("part",
            floor(hashBucket(col("ok")) / 10).cast("long")))
          .groupBy(col("grp"), col("part"), col("bucket"))
          .agg(max(col("rho")).as("m"))
      }
      // the sweep: epochs 0..4 are past the horizon → one base
      // partition (part = -1); epochs 5..9 stay individually
      // retractable. Published as its own standing artifact.
      val compacted = SideTables.getOrBuild(s, dir, "hll_regs_compacted",
        Seq("lineitem")) {
        epochRegs.withColumn("part",
            when(col("part") < 5, lit(-1L)).otherwise(col("part")))
          .groupBy(col("grp"), col("part"), col("bucket"))
          .agg(max(col("m")).as("m"))
      }
      val fullFromCompact = compacted
        .groupBy(col("grp"), col("bucket")).agg(max(col("m")).as("m"))
      val est = hllEstimate(fullFromCompact, Seq("grp"))
        .select(col("grp"), col("s_fp"), col("est_fp"))
      val shrink = epochRegs.groupBy(col("grp"))
        .agg(count(lit(1)).as("rows_before"))
        .join(compacted.groupBy(col("grp"))
          .agg(count(lit(1)).as("rows_after")), Seq("grp"))
      est.join(shrink, Seq("grp")).orderBy(col("grp"))
    },
    Some(s"""WITH src AS (SELECT l_returnflag AS grp,
      |    (CAST(('0x' || substring(md5(CAST(l_orderkey AS VARCHAR)), 1, 15))
      |      AS BIGINT) % 100) // 10 AS part,
      |    md5(CAST(l_partkey AS VARCHAR)) AS h FROM lineitem),
      |${hllRhoSql("grp, part")},
      |epoch_regs AS (SELECT grp, part, bucket, max(rho) AS m FROM rh
      |  GROUP BY grp, part, bucket),
      |compacted AS (SELECT grp,
      |    CASE WHEN part < 5 THEN -1 ELSE part END AS part,
      |    bucket, max(m) AS m
      |  FROM epoch_regs GROUP BY 1, 2, 3),
      |regs AS (SELECT grp, bucket, max(m) AS m FROM compacted
      |  GROUP BY grp, bucket),
      |${hllEstimateSql("grp")},
      |shrink AS (
      |  SELECT b.grp, b.rows_before, a.rows_after FROM
      |    (SELECT grp, count(*) AS rows_before FROM epoch_regs
      |      GROUP BY grp) b
      |    JOIN (SELECT grp, count(*) AS rows_after FROM compacted
      |      GROUP BY grp) a ON a.grp = b.grp)
      |SELECT e.grp,
      |  CAST(e.s_fp AS BIGINT) AS s_fp,
      |  CAST(e.est_fp AS BIGINT) AS est_fp,
      |  s.rows_before, s.rows_after
      |FROM est e JOIN shrink s ON s.grp = e.grp
      |ORDER BY e.grp""".stripMargin))

  val defs: Seq[QueryDef] =
    Seq(cmsDef, hllDef, kmvDef, rollDef, pctDef, kmvJoinDef, hllAbsorbDef,
      hllRetractDef, hllCompactDef)
}
