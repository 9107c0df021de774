package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import Q._

/** Embedding similarity search over `embeddings` (64-dim float
  * vectors): brute-force cosine top-k as the exactness baseline and a
  * sign-random-projection LSH bucket path as the approximate
  * 100 TB-scale variant (bucket join replaces the full cross product).
  *
  * Oracle determinism: vectors are quantized to integers
  * (`floor(x*10000 + 0.5)` — pure IEEE ops, identical in DuckDB), so
  * dot products and norms are exact integer sums, order-independent;
  * the only float ops (sqrt, one division) are single correctly-
  * rounded IEEE operations on identical operands.
  *
  * Full-precision float kernels (for production use where an oracle
  * isn't hashing results) are the same expressions minus the
  * quantization step.
  */
object SimilarityOps {

  /** quantized integer view of the float vector. */
  private def quant(c: Column): Column =
    transform(c, x => floor(x.cast("double") * 10000 + 0.5).cast("long"))

  private val quantSql =
    "list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*10000 + 0.5) AS BIGINT))"

  /** map-side element-wise array sum (see [[graft.functions.VecSum]]):
    * the centroid/IVF build aggregate. Long sums are exact, so this is
    * bit-identical to the oracle's per-dimension `sum()` while
    * shuffling one array per (key, partition) instead of |rows|×dim
    * exploded records. */
  private lazy val vecSum = udaf(new graft.functions.VecSum)

  /** exact integer dot product of two quantized vectors. */
  private def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, x) => acc + x)

  /** exact integer squared norm. */
  private def nrm2(a: Column): Column =
    aggregate(transform(a, x => x * x), lit(0L), (acc, x) => acc + x)

  private def cosine(dotC: Column, na: Column, nb: Column): Column =
    dotC.cast("double") / sqrt(na.cast("double") * nb.cast("double"))

  /** codegen'd exact cosine over two QUANTIZED (long) vectors via the
    * native [[graft.functions.CosineSimilarity]] Expression — bit-
    * identical to the integer-sum `cosine(dot(...))` formulation
    * (partial sums < 2^53 are exact in double; the final
    * `dot/sqrt(na*nb)` is the same IEEE op sequence the oracle runs)
    * but ~10× faster per pair: a fused primitive loop in whole-stage
    * codegen instead of interpreted higher-order functions. Norms are
    * recomputed per pair (O(dim), same as the dot), which drops the
    * n2 columns from every verify-stage shuffle. */
  private def qcos(s: SparkSession, a: String, b: String): Column = {
    graft.functions.CosineSimilarity.register(s)
    expr(s"cosine_sim($a, $b)")
  }

  /** quantized + norm²-annotated view of the corpus (public: specs
    * build exact ground truth from the same integer vectors).
    *
    * Memoized behind a lazy `localCheckpoint`: the quantization (64
    * floor-mults per row) and the interpreted norm aggregate feed
    * every similarity query, and q60's pair pipeline alone reads the
    * table three times (bucket build + both verify sides) — without
    * the cut each read re-runs the scan + quantize subtree. The quantized corpus is exactly what a
    * production vector pipeline materializes as its index input; at
    * 100 TB this is a parquet intermediate, here it lives in the
    * block store for the session. */
  def vecs(s: SparkSession, dir: String): DataFrame =
    Memo(s, dir, "vecs", Seq("embeddings")) {
      t(s, dir, "embeddings")
        .select(col("vec_id"), quant(col("embedding")).as("v"))
        .withColumn("n2", nrm2(col("v")))
        .localCheckpoint(false)
    }

  private val dotSql =
    "CAST(list_sum(list_transform(range(len(qv)), i -> qv[i+1] * ev[i+1])) AS BIGINT)"

  /** sign of hyperplane (tbl, p) component i: low bit of the first
    * byte of md5("tbl_p_i") — the EXACT formula the oracle SQL
    * derives in-database (`('0x' || substring(md5(...), 1, 2))::BIGINT
    * & 1`), evaluated here at plan-build time because the planes are
    * constants, not data: tables × planes × 64 signs ≈ a few KB that
    * belong in the instruction stream, not in a joined table. */
  private def sgn(tbl: Int, p: Int, i: Int): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"${tbl}_${p}_${i}".getBytes("UTF-8"))
    if ((d(0) & 1) == 1) 1L else -1L
  }

  /** (vec_id, tbl, b): per-table LSH bucket of every vector.
    *
    * The ±1 hyperplanes are md5-derived CONSTANTS (see [[sgn]]), so
    * each table's bucket is a pure codegen'd projection — planes ×
    * 64 literal multiply-adds fused into whole-stage codegen, then a
    * posexplode to long form. No explode-per-element, no plane join,
    * no aggregation: the previous formulation materialized
    * |vectors| × 64 × tables × planes intermediate rows through a
    * hash-agg (~100M rows at sf0.1), this one touches each vector
    * exactly once. `tables`/`planes` are THE scale knobs: bucket
    * count per table is 2^planes (collision rate halves per plane),
    * recall lost to finer buckets is bought back with more tables —
    * at a 100× corpus you raise both, not redesign (AnnRecallSpec
    * demonstrates recall at (8,4) vs a finer (128,8)). */
  private[queries] def lshBuckets(all: DataFrame, tables: Int, planes: Int): DataFrame = {
    val bucketCols: Seq[Column] = (0 until tables).map { tbl =>
      (0 until planes).map { p =>
        val sg = (0 until 64).map(i => sgn(tbl, p, i))
        val pr = aggregate(
          zip_with(col("v"), typedlit(sg), (x, s) => x * s),
          lit(0L), (acc, x) => acc + x)
        when(pr > 0, lit(1L << p)).otherwise(0L)
      }.reduce(_ + _)
    }
    all.select(col("vec_id"),
      posexplode(array(bucketCols: _*)).as(Seq("tbl", "b")))
  }

  /** Parameterized ANN top-k: multi-table sign-LSH candidates + exact
    * cosine re-rank on candidates only. q41 pins (8, 4); the recall
    * spec runs a finer setting against brute-force ground truth. */
  def knnLsh(s: SparkSession, dir: String, tables: Int, planes: Int): DataFrame = {
    val all = vecs(s, dir)
    val buckets = lshBuckets(all, tables, planes)
    val qBuckets = buckets.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("tbl").as("qtbl"),
        col("b").as("qb"))
    val cand = buckets
      .join(broadcast(qBuckets),
        col("tbl") === col("qtbl") && col("b") === col("qb")
          && col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id")).distinct()
    val queries = all.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val scored = cand
      .join(all.select(col("vec_id"), col("v").as("ev")), "vec_id")
      .join(broadcast(queries), "qid")
      .select(col("qid"), col("vec_id"), qcos(s, "qv", "ev").as("cosine"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cosine").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("qid"), col("rank").cast("long").as("rank"),
        col("vec_id"), col("cosine"))
      .orderBy(col("qid"), col("rank"))
  }

  /** Embedding-cosine near-duplicate PAIRS (the dedup mode over
    * embeddings): LSH bucket SELF-join for candidates — any pair
    * sharing a (table, bucket) — then exact cosine verification at
    * `minCosine`. The all-pairs step never exists; candidate cost is
    * Σ_bucket size² per table.
    *
    * The plane count is ADAPTIVE: at fixed planes p the bucket
    * self-join costs n²/2^p per table — still quadratic in the
    * corpus, just divided by a constant (the round-6 sf1 probe
    * measured exactly that: 4 buckets/table → ~400M candidate pairs
    * at 20k vectors). [[adaptivePlanes]] grows p with log₂(n) so
    * occupancy stays ≤ `targetOcc` and candidate cost is ≤
    * n·targetOcc·tables — linear. The oracle derives the same p
    * in-SQL from the same integer rule, so both engines stay in
    * lockstep at every SF. Output is (da, db, cosine), da < db —
    * the keep/drop decision is a trivial downstream `min(da)`
    * group. */
  def embedNearDupPairs(s: SparkSession, dir: String, tables: Int,
      minCosine: Double, targetOcc: Int = 256): DataFrame = {
    val all = vecs(s, dir)
    val planes = adaptivePlanes(all.count(), targetOcc)
    val buckets = lshBuckets(all, tables, planes)
    val cand = buckets.as("x")
      .join(buckets.as("y"),
        col("x.tbl") === col("y.tbl") && col("x.b") === col("y.b")
          && col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("da"), col("y.vec_id").as("db"))
      .distinct()
    cand
      .join(all.select(col("vec_id").as("da"), col("v").as("av")), "da")
      .join(all.select(col("vec_id").as("db"), col("v").as("bv")), "db")
      .select(col("da"), col("db"), qcos(s, "av", "bv").as("cosine"))
      .filter(col("cosine") >= minCosine)
      .orderBy(col("da"), col("db"))
  }

  /** Smallest p with targetOcc·2^p ≥ n, floored at 2: keeps expected
    * LSH bucket occupancy ≤ targetOcc as the corpus grows. Pure
    * integer arithmetic (no float log2) so the oracle's in-SQL
    * derivation — `min(pp) WHERE (targetOcc << pp) >= count(*)` —
    * is bit-identical on both engines. The count() feeding this is a
    * driver-side scalar over the localCheckpoint'ed vector table,
    * not a data-scaled collect. */
  private[queries] def adaptivePlanes(n: Long, targetOcc: Int): Int = {
    var p = 0
    while ((targetOcc.toLong << p) < n && p < 30) p += 1
    math.max(2, p)
  }

  /** IVF search with multi-probe: score query↔cell-centroid cosines
    * (centroid = per-label vector SUM — same direction as the mean,
    * exact integers), probe the top-`nprobe` cells, exact-rank inside
    * the probed cells only. Cells are disjoint (one label per
    * vector), so the multi-probe candidate union needs no dedupe, and
    * recall is MONOTONE in `nprobe` by construction — each probe adds
    * candidates without disturbing existing ones (IvfRecallSpec pins
    * this against brute-force ground truth). `nprobe` is the
    * recall/cost dial every IVF index exposes; at scale the probed
    * cells are partition-pruned scans. */
  def knnIvf(s: SparkSession, dir: String, nprobe: Int): DataFrame = {
    val all = t(s, dir, "embeddings")
      .select(col("vec_id"), col("label").cast("long").as("label"),
        quant(col("embedding")).as("v"))
      .withColumn("n2", nrm2(col("v")))
    // the coarse index (per-cell sum vectors) is a standing artifact:
    // persisted once per dataset via SideTables (like the MinHash
    // band index), so every later session reads the k-row parquet
    // instead of re-scanning the corpus — the steady state a
    // production IVF deployment operates in. sn2 is derived after
    // the read (k rows, plan literal).
    val sums = SideTables.getOrBuild(s, dir, "ivf_sums",
        Seq("embeddings")) {
        all.groupBy(col("label")).agg(vecSum(col("v")).as("sv"))
      }
      .withColumn("sn2", nrm2(col("sv")))
    val queries = all.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("n2").as("qn2"))
    val wAssign = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cc").desc, col("label"))
    val assigned = queries.crossJoin(broadcast(sums))
      .select(col("qid"), col("qv"), col("label"),
        cosine(dot(col("qv"), col("sv")), col("qn2"), col("sn2")).as("cc"))
      .withColumn("rn", row_number().over(wAssign))
      .filter(col("rn") <= nprobe)
      .select(col("qid"), col("qv"), col("label").as("probed_label"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cosine").desc, col("vec_id"))
    all.join(broadcast(assigned),
      col("label") === col("probed_label") && col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), qcos(s, "qv", "v").as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("qid"), col("rank").cast("long").as("rank"),
        col("vec_id"), col("cosine"))
      .orderBy(col("qid"), col("rank"))
  }

  val defs: Seq[QueryDef] = Seq(

    // ------------------------------------------------------------------
    // Brute-force cosine top-k: the correctness baseline. The small
    // query set is broadcast against the corpus — a map-side cross
    // product with no shuffle of the big side; ranking shuffles only
    // (qid, cosine) pairs.
    QueryDef("q40_knn_bruteforce",
      (s, dir) => {
        val all = vecs(s, dir)
        val queries = all.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("v").as("qv"))
        val corpus = all.select(col("vec_id"), col("v").as("ev"))
        val scored = corpus.crossJoin(broadcast(queries))
          .filter(col("vec_id") =!= col("qid"))
          .select(col("qid"), col("vec_id"), qcos(s, "qv", "ev").as("cosine"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("qid")).orderBy(col("cosine").desc, col("vec_id"))
        scored.withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 5)
          .select(col("qid"), col("rank").cast("long").as("rank"),
            col("vec_id"), col("cosine"))
          .orderBy(col("qid"), col("rank"))
      },
      Some(s"""WITH qv AS (
        |  SELECT vec_id, $quantSql AS v FROM embeddings),
        |normed AS (
        |  SELECT vec_id, v,
        |    CAST(list_sum(list_transform(v, x -> x*x)) AS BIGINT) AS n2
        |  FROM qv),
        |scored AS (
        |  SELECT q.vec_id AS qid, e.vec_id,
        |    CAST($dotSql AS DOUBLE)
        |      / sqrt(CAST(q.n2 AS DOUBLE) * CAST(e.n2 AS DOUBLE)) AS cosine
        |  FROM (SELECT vec_id, v AS qv, n2 FROM normed WHERE vec_id < 10) q
        |  CROSS JOIN (SELECT vec_id, v AS ev, n2 FROM normed) e
        |  WHERE e.vec_id <> q.vec_id),
        |ranked AS (
        |  SELECT qid, vec_id, cosine,
        |    row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rank
        |  FROM scored)
        |SELECT qid, CAST(rank AS BIGINT) AS rank, vec_id, cosine
        |FROM ranked WHERE rank <= 5
        |ORDER BY qid, rank""".stripMargin)),

    // ------------------------------------------------------------------
    // ANN via multi-table sign-random-projection LSH: 8 hash tables ×
    // 4 md5-seeded ±1 hyperplanes each → per-table 4-bit buckets;
    // candidates = union of same-(table,bucket) matches; exact cosine
    // re-rank on the candidate set only. Multiple tables trade
    // candidate volume for recall (single-table sign-LSH recall
    // collapses when true neighbors sit near 70°, as here). At scale
    // every stage is an equi join/agg keyed on (table, bucket).
    QueryDef("q41_knn_lsh",
      (s, dir) => knnLsh(s, dir, tables = 8, planes = 4),
      Some(s"""WITH qv AS (
        |  SELECT vec_id, $quantSql AS v FROM embeddings),
        |normed AS (
        |  SELECT vec_id, v,
        |    CAST(list_sum(list_transform(v, x -> x*x)) AS BIGINT) AS n2
        |  FROM qv),
        |signs AS (
        |  SELECT tbl, p, i,
        |    CASE WHEN (CAST(('0x' || substring(md5(tbl::VARCHAR || '_' || p::VARCHAR || '_' || i::VARCHAR), 1, 2)) AS BIGINT) & 1) = 1
        |      THEN 1 ELSE -1 END AS sg
        |  FROM (SELECT unnest(range(8)) AS tbl),
        |       (SELECT unnest(range(4)) AS p),
        |       (SELECT unnest(range(64)) AS i)),
        |proj AS (
        |  SELECT n.vec_id, s.tbl, s.p, sum(s.sg * n.v[s.i + 1]) AS pr
        |  FROM normed n CROSS JOIN signs s
        |  GROUP BY n.vec_id, s.tbl, s.p),
        |buckets AS (
        |  SELECT vec_id, tbl,
        |    sum(CASE WHEN pr > 0 THEN CAST(1 AS BIGINT) << p ELSE 0 END) AS b
        |  FROM proj GROUP BY vec_id, tbl),
        |cand AS (
        |  SELECT DISTINCT q.vec_id AS qid, e.vec_id
        |  FROM (SELECT * FROM buckets WHERE vec_id < 10) q
        |  JOIN buckets e ON q.tbl = e.tbl AND q.b = e.b
        |    AND e.vec_id <> q.vec_id),
        |scored AS (
        |  SELECT c.qid, c.vec_id,
        |    CAST($dotSql AS DOUBLE)
        |      / sqrt(CAST(q.n2 AS DOUBLE) * CAST(e.n2 AS DOUBLE)) AS cosine
        |  FROM cand c
        |  JOIN (SELECT vec_id, v AS qv, n2 FROM normed) q ON q.vec_id = c.qid
        |  JOIN (SELECT vec_id, v AS ev, n2 FROM normed) e ON e.vec_id = c.vec_id),
        |ranked AS (
        |  SELECT qid, vec_id, cosine,
        |    row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rank
        |  FROM scored)
        |SELECT qid, CAST(rank AS BIGINT) AS rank, vec_id, cosine
        |FROM ranked WHERE rank <= 5
        |ORDER BY qid, rank""".stripMargin)),

    // ------------------------------------------------------------------
    // IVF-style ANN: labels are the coarse cells. Assign each query
    // to its nearest cell by cosine against the cell's SUM vector
    // (same direction as the centroid, but exact integers — no
    // division before the comparison), then search exactly within
    // that one cell. The scan cost drops from |corpus| to |cell|; at
    // scale cells are kmeans partitions and this is a partition-
    // pruned scan.
    QueryDef("q44_knn_ivf",
      (s, dir) => {
        val all = t(s, dir, "embeddings")
          .select(col("vec_id"), col("label").cast("long").as("label"),
            quant(col("embedding")).as("v"))
          .withColumn("n2", nrm2(col("v")))
        val sums = all
          .groupBy(col("label"))
          .agg(vecSum(col("v")).as("sv"))
          .withColumn("sn2", nrm2(col("sv")))
        val queries = all.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("v").as("qv"), col("n2").as("qn2"))
        val wAssign = org.apache.spark.sql.expressions.Window
          .partitionBy(col("qid")).orderBy(col("cc").desc, col("label"))
        val assigned = queries.crossJoin(broadcast(sums))
          .select(col("qid"), col("qv"), col("qn2"), col("label"),
            cosine(dot(col("qv"), col("sv")), col("qn2"), col("sn2")).as("cc"))
          .withColumn("rn", row_number().over(wAssign))
          .filter(col("rn") === 1)
          .select(col("qid"), col("qv"), col("label").as("probed_label"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("qid")).orderBy(col("cosine").desc, col("vec_id"))
        all.join(broadcast(assigned),
          col("label") === col("probed_label") && col("vec_id") =!= col("qid"))
          .select(col("qid"), col("probed_label"), col("vec_id"),
            qcos(s, "qv", "v").as("cosine"))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 5)
          .select(col("qid"), col("probed_label"),
            col("rank").cast("long").as("rank"), col("vec_id"), col("cosine"))
          .orderBy(col("qid"), col("rank"))
      },
      Some(s"""WITH qv AS (
        |  SELECT vec_id, CAST(label AS BIGINT) AS label, $quantSql AS v
        |  FROM embeddings),
        |normed AS (
        |  SELECT vec_id, label, v,
        |    CAST(list_sum(list_transform(v, x -> x*x)) AS BIGINT) AS n2
        |  FROM qv),
        |sums AS (
        |  SELECT label, i AS dim, sum(v[i + 1]) AS sx
        |  FROM qv CROSS JOIN (SELECT unnest(range(64)) AS i)
        |  GROUP BY label, i),
        |sv AS (
        |  SELECT label, list(sx ORDER BY dim) AS sv FROM sums GROUP BY label),
        |svn AS (
        |  SELECT label, sv,
        |    CAST(list_sum(list_transform(sv, x -> x*x)) AS BIGINT) AS sn2
        |  FROM sv),
        |assigned AS (
        |  SELECT qid, qv, qn2, label AS probed_label FROM (
        |    SELECT q.vec_id AS qid, q.v AS qv, q.n2 AS qn2, c.label,
        |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |        CAST(CAST(list_sum(list_transform(range(len(q.v)), i -> q.v[i+1] * c.sv[i+1])) AS BIGINT) AS DOUBLE)
        |          / sqrt(CAST(q.n2 AS DOUBLE) * CAST(c.sn2 AS DOUBLE)) DESC,
        |        c.label) AS rn
        |    FROM (SELECT * FROM normed WHERE vec_id < 10) q
        |    CROSS JOIN svn c)
        |  WHERE rn = 1),
        |scored AS (
        |  SELECT a.qid, a.probed_label, e.vec_id,
        |    CAST($dotSql AS BIGINT) AS dotv, a.qn2, e.n2
        |  FROM assigned a
        |  JOIN (SELECT vec_id, label, v AS ev, n2 FROM normed) e
        |    ON e.label = a.probed_label AND e.vec_id <> a.qid),
        |ranked AS (
        |  SELECT qid, probed_label, vec_id,
        |    CAST(dotv AS DOUBLE) / sqrt(CAST(qn2 AS DOUBLE) * CAST(n2 AS DOUBLE)) AS cosine,
        |    row_number() OVER (PARTITION BY qid ORDER BY
        |      CAST(dotv AS DOUBLE) / sqrt(CAST(qn2 AS DOUBLE) * CAST(n2 AS DOUBLE)) DESC,
        |      vec_id) AS rank
        |  FROM scored)
        |SELECT qid, probed_label, CAST(rank AS BIGINT) AS rank, vec_id, cosine
        |FROM ranked WHERE rank <= 5
        |ORDER BY qid, rank""".stripMargin)),

    // ------------------------------------------------------------------
    // IVF with MULTI-PROBE (the recall dial q44's single probe
    // lacks): search the top-3 cells per query instead of 1. See
    // [[knnIvf]] — recall is monotone in nprobe by construction,
    // IvfRecallSpec pins it against brute force.
    QueryDef("q67_knn_ivf_probe",
      (s, dir) => knnIvf(s, dir, nprobe = 3),
      Some(s"""WITH qv AS (
        |  SELECT vec_id, CAST(label AS BIGINT) AS label, $quantSql AS v
        |  FROM embeddings),
        |normed AS (
        |  SELECT vec_id, label, v,
        |    CAST(list_sum(list_transform(v, x -> x*x)) AS BIGINT) AS n2
        |  FROM qv),
        |sums AS (
        |  SELECT label, i AS dim, sum(v[i + 1]) AS sx
        |  FROM qv CROSS JOIN (SELECT unnest(range(64)) AS i)
        |  GROUP BY label, i),
        |sv AS (
        |  SELECT label, list(sx ORDER BY dim) AS sv FROM sums GROUP BY label),
        |svn AS (
        |  SELECT label, sv,
        |    CAST(list_sum(list_transform(sv, x -> x*x)) AS BIGINT) AS sn2
        |  FROM sv),
        |assigned AS (
        |  SELECT qid, qv, qn2, label AS probed_label FROM (
        |    SELECT q.vec_id AS qid, q.v AS qv, q.n2 AS qn2, c.label,
        |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |        CAST(CAST(list_sum(list_transform(range(len(q.v)), i -> q.v[i+1] * c.sv[i+1])) AS BIGINT) AS DOUBLE)
        |          / sqrt(CAST(q.n2 AS DOUBLE) * CAST(c.sn2 AS DOUBLE)) DESC,
        |        c.label) AS rn
        |    FROM (SELECT * FROM normed WHERE vec_id < 10) q
        |    CROSS JOIN svn c)
        |  WHERE rn <= 3),
        |scored AS (
        |  SELECT a.qid, e.vec_id,
        |    CAST($dotSql AS BIGINT) AS dotv, a.qn2, e.n2
        |  FROM assigned a
        |  JOIN (SELECT vec_id, label, v AS ev, n2 FROM normed) e
        |    ON e.label = a.probed_label AND e.vec_id <> a.qid),
        |ranked AS (
        |  SELECT qid, vec_id,
        |    CAST(dotv AS DOUBLE) / sqrt(CAST(qn2 AS DOUBLE) * CAST(n2 AS DOUBLE)) AS cosine,
        |    row_number() OVER (PARTITION BY qid ORDER BY
        |      CAST(dotv AS DOUBLE) / sqrt(CAST(qn2 AS DOUBLE) * CAST(n2 AS DOUBLE)) DESC,
        |      vec_id) AS rank
        |  FROM scored)
        |SELECT qid, CAST(rank AS BIGINT) AS rank, vec_id, cosine
        |FROM ranked WHERE rank <= 5
        |ORDER BY qid, rank""".stripMargin)),

    // ------------------------------------------------------------------
    // Embedding-cosine near-dup pairs — the dedup mode over the
    // embedding column: LSH-bucket self-join candidates, exact
    // verification at cosine ≥ 0.4 (this corpus is near-isotropic —
    // max pair ≈ 0.51 — so 0.4 marks the "suspiciously close" tail).
    // Planes are ADAPTIVE (occupancy-bounded, see adaptivePlanes):
    // the round-6 sf1 probe showed fixed planes=2 degenerates to
    // n²/4-per-table candidates as the corpus grows. The oracle
    // derives the identical plane count in-SQL from the identical
    // integer rule, then replicates the deterministic pipeline (md5
    // planes → buckets → verify), so this checks the algorithm
    // end-to-end, not just the final filter. NOTE on output shape:
    // on an isotropic corpus ANY fixed threshold in the chance tail
    // admits Θ(n²·P(cos≥τ)) pairs — that is a property of thresholded
    // similarity on random data, not of the plan; production near-dup
    // corpora have true-duplicate structure at τ≈0.9 where output is
    // Θ(#dups). The candidate stage here is what must stay linear,
    // and does.
    QueryDef("q60_embed_neardup",
      (s, dir) => embedNearDupPairs(s, dir, tables = 8,
        minCosine = 0.4),
      Some(s"""WITH params AS (
        |  SELECT GREATEST(2, (SELECT min(pp)
        |    FROM (SELECT unnest(range(31)) AS pp)
        |    WHERE (CAST(256 AS BIGINT) << pp) >=
        |      (SELECT count(*) FROM embeddings))) AS pl),
        |qv AS (
        |  SELECT vec_id, $quantSql AS v FROM embeddings),
        |normed AS (
        |  SELECT vec_id, v,
        |    CAST(list_sum(list_transform(v, x -> x*x)) AS BIGINT) AS n2
        |  FROM qv),
        |signs AS (
        |  SELECT tbl, p, i,
        |    CASE WHEN (CAST(('0x' || substring(md5(tbl::VARCHAR || '_' || p::VARCHAR || '_' || i::VARCHAR), 1, 2)) AS BIGINT) & 1) = 1
        |      THEN 1 ELSE -1 END AS sg
        |  FROM (SELECT unnest(range(8)) AS tbl),
        |       (SELECT unnest(range(31)) AS p),
        |       (SELECT unnest(range(64)) AS i)
        |  WHERE p < (SELECT pl FROM params)),
        |proj AS (
        |  SELECT n.vec_id, s.tbl, s.p, sum(s.sg * n.v[s.i + 1]) AS pr
        |  FROM normed n CROSS JOIN signs s
        |  GROUP BY n.vec_id, s.tbl, s.p),
        |buckets AS (
        |  SELECT vec_id, tbl,
        |    sum(CASE WHEN pr > 0 THEN CAST(1 AS BIGINT) << p ELSE 0 END) AS b
        |  FROM proj GROUP BY vec_id, tbl),
        |cand AS (
        |  SELECT DISTINCT x.vec_id AS da, y.vec_id AS db
        |  FROM buckets x JOIN buckets y
        |    ON x.tbl = y.tbl AND x.b = y.b AND x.vec_id < y.vec_id),
        |scored AS (
        |  SELECT da, db,
        |    CAST(CAST(list_sum(list_transform(range(len(a.v)), i -> a.v[i+1] * b.v[i+1])) AS BIGINT) AS DOUBLE)
        |      / sqrt(CAST(a.n2 AS DOUBLE) * CAST(b.n2 AS DOUBLE)) AS cosine
        |  FROM cand JOIN normed a ON a.vec_id = da
        |            JOIN normed b ON b.vec_id = db)
        |SELECT da, db, cosine FROM scored WHERE cosine >= 0.4
        |ORDER BY da, db""".stripMargin)),

    // ------------------------------------------------------------------
    // Embedding-space DECONTAMINATION — the semantic complement of
    // q92's n-gram overlap and q118's bloom probe: flag EVAL-split
    // documents whose embedding is suspiciously close to any
    // TRAIN-split document (paraphrased benchmark leakage that exact
    // n-gram matching misses). The split is q73's deterministic md5
    // rule (train < 80, eval ≥ 90 — derived from vec_id alone, so
    // bucket rows filter WITHOUT a join), and the probe is ASYMMETRIC
    // like q171's shard-vs-corpus minhash: the ~10% eval bucket side
    // broadcasts against the standing train bucket index, so per-run
    // cost is eval×occupancy, never train². Same adaptive plane
    // count, bucket build and exact-integer cosine verify as q60;
    // best-hit tie-break is (cosine desc, tid) under the
    // bit-deterministic quantized divide.
    QueryDef("q182_embed_decontam",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val all = vecs(s, dir)
        val planes = adaptivePlanes(all.count(), 256)
        val buckets = lshBuckets(all, 8, planes)
          .withColumn("hv", hashBucket(col("vec_id")))
        val tb = buckets.filter(col("hv") < 80)
          .select(col("vec_id").as("tid"), col("tbl"), col("b"))
        val eb = buckets.filter(col("hv") >= 90)
          .select(col("vec_id").as("eid"), col("tbl"), col("b"))
        val cand = tb.join(broadcast(eb), Seq("tbl", "b"))
          .select(col("eid"), col("tid")).distinct()
        val withHv = all.withColumn("hv", hashBucket(col("vec_id")))
        val scored = cand
          .join(withHv.filter(col("hv") >= 90)
            .select(col("vec_id").as("eid"), col("v").as("av")), "eid")
          .join(withHv.filter(col("hv") < 80)
            .select(col("vec_id").as("tid"), col("v").as("bv")), "tid")
          .select(col("eid"), col("tid"), qcos(s, "av", "bv").as("cosine"))
          .filter(col("cosine") >= 0.4)
        val w = Window.partitionBy(col("eid"))
          .orderBy(col("cosine").desc, col("tid"))
        scored
          .withColumn("rn", row_number().over(w))
          .withColumn("n_hits", count(lit(1)).over(
            Window.partitionBy(col("eid"))))
          .filter(col("rn") === 1)
          .select(col("eid"), col("n_hits"),
            col("tid").as("best_tid"), col("cosine").as("best_cosine"))
          .orderBy(col("eid"))
      },
      Some(s"""WITH params AS (
        |  SELECT GREATEST(2, (SELECT min(pp)
        |    FROM (SELECT unnest(range(31)) AS pp)
        |    WHERE (CAST(256 AS BIGINT) << pp) >=
        |      (SELECT count(*) FROM embeddings))) AS pl),
        |qv AS (
        |  SELECT vec_id, $quantSql AS v FROM embeddings),
        |normed AS (
        |  SELECT vec_id, v,
        |    CAST(list_sum(list_transform(v, x -> x*x)) AS BIGINT) AS n2,
        |    CAST(('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS hv
        |  FROM qv),
        |signs AS (
        |  SELECT tbl, p, i,
        |    CASE WHEN (CAST(('0x' || substring(md5(tbl::VARCHAR || '_' || p::VARCHAR || '_' || i::VARCHAR), 1, 2)) AS BIGINT) & 1) = 1
        |      THEN 1 ELSE -1 END AS sg
        |  FROM (SELECT unnest(range(8)) AS tbl),
        |       (SELECT unnest(range(31)) AS p),
        |       (SELECT unnest(range(64)) AS i)
        |  WHERE p < (SELECT pl FROM params)),
        |proj AS (
        |  SELECT n.vec_id, n.hv, s.tbl, s.p, sum(s.sg * n.v[s.i + 1]) AS pr
        |  FROM normed n CROSS JOIN signs s
        |  GROUP BY n.vec_id, n.hv, s.tbl, s.p),
        |buckets AS (
        |  SELECT vec_id, hv, tbl,
        |    sum(CASE WHEN pr > 0 THEN CAST(1 AS BIGINT) << p ELSE 0 END) AS b
        |  FROM proj GROUP BY vec_id, hv, tbl),
        |cand AS (
        |  SELECT DISTINCT e.vec_id AS eid, t.vec_id AS tid
        |  FROM (SELECT * FROM buckets WHERE hv >= 90) e
        |  JOIN (SELECT * FROM buckets WHERE hv < 80) t
        |    ON e.tbl = t.tbl AND e.b = t.b),
        |scored AS (
        |  SELECT eid, tid,
        |    CAST(CAST(list_sum(list_transform(range(len(a.v)), i -> a.v[i+1] * b.v[i+1])) AS BIGINT) AS DOUBLE)
        |      / sqrt(CAST(a.n2 AS DOUBLE) * CAST(b.n2 AS DOUBLE)) AS cosine
        |  FROM cand JOIN normed a ON a.vec_id = eid
        |            JOIN normed b ON b.vec_id = tid
        |  WHERE CAST(CAST(list_sum(list_transform(range(len(a.v)), i -> a.v[i+1] * b.v[i+1])) AS BIGINT) AS DOUBLE)
        |      / sqrt(CAST(a.n2 AS DOUBLE) * CAST(b.n2 AS DOUBLE)) >= 0.4),
        |ranked AS (
        |  SELECT eid, tid, cosine,
        |    row_number() OVER (PARTITION BY eid ORDER BY cosine DESC, tid) AS rn,
        |    count(*) OVER (PARTITION BY eid) AS n_hits
        |  FROM scored)
        |SELECT eid, n_hits, tid AS best_tid, cosine AS best_cosine
        |FROM ranked WHERE rn = 1
        |ORDER BY eid""".stripMargin)),

    // ------------------------------------------------------------------
    // Brute-force KNN on the native codegen'd cosine Expression over
    // the RAW float embeddings (full float precision — the production
    // scoring path). Oracle-checkable by quantizing the score in the
    // final projection (the q40 pattern applied post-hoc): both
    // engines promote each float32 to the identical double and run
    // the same left-to-right 64-term accumulation, so the scores
    // agree to ~1e-13 relative; rounding to 1e-6 fixed point gives
    // ~7 orders of magnitude of slack, and the RANK is computed on
    // the quantized score (ties → vec_id), so the ordering contract
    // is engine-independent even where the raw floats differ in the
    // last bits.
    QueryDef("q43_knn_native",
      (s, dir) => {
        graft.functions.CosineSimilarity.register(s)
        val all = t(s, dir, "embeddings")
        val queries = all.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("embedding").as("qv"))
        val scored = all.select(col("vec_id"), col("embedding"))
          .crossJoin(broadcast(queries))
          .filter(col("vec_id") =!= col("qid"))
          .select(col("qid"), col("vec_id"),
            floor(graft.functions.CosineSimilarity
              .cosine_sim("qv", "embedding") * 1000000 + 0.5)
              .cast("long").as("cos_fp"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("qid")).orderBy(col("cos_fp").desc, col("vec_id"))
        scored.withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 5)
          .select(col("qid"), col("rank").cast("long").as("rank"),
            col("vec_id"), col("cos_fp"))
          .orderBy(col("qid"), col("rank"))
      },
      Some("""WITH fv AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |scored AS (
        |  SELECT q.vec_id AS qid, e.vec_id,
        |    CAST(floor(
        |      list_sum(list_transform(range(64), i -> q.qv[i+1] * e.v[i+1]))
        |      / sqrt(list_sum(list_transform(q.qv, x -> x*x))
        |           * list_sum(list_transform(e.v, x -> x*x)))
        |      * 1000000 + 0.5) AS BIGINT) AS cos_fp
        |  FROM (SELECT vec_id, v AS qv FROM fv WHERE vec_id < 10) q
        |  CROSS JOIN fv e
        |  WHERE e.vec_id <> q.vec_id),
        |ranked AS (
        |  SELECT qid, vec_id, cos_fp,
        |    row_number() OVER (PARTITION BY qid
        |      ORDER BY cos_fp DESC, vec_id) AS rank
        |  FROM scored)
        |SELECT qid, CAST(rank AS BIGINT) AS rank, vec_id, cos_fp
        |FROM ranked WHERE rank <= 5
        |ORDER BY qid, rank""".stripMargin)),

    // ------------------------------------------------------------------
    // Per-label centroids (the IVF coarse-quantizer build step):
    // map-side VecSum per label, THEN a 64-row posexplode per label
    // for the long-form output — the explode happens after the
    // aggregation, so the shuffle carries |labels| arrays instead of
    // |rows|×64 exploded records. Exact integer sums, one
    // deterministic division at the end.
    QueryDef("q42_label_centroids",
      (s, dir) => t(s, dir, "embeddings")
        .select(col("label").cast("long").as("label"),
          quant(col("embedding")).as("v"))
        .groupBy(col("label"))
        .agg(vecSum(col("v")).as("sv"), count(lit(1)).as("n"))
        .select(col("label"), posexplode(col("sv")).as(Seq("dim", "sx")),
          col("n"))
        .select(col("label"), col("dim").cast("long").as("dim"),
          (col("sx").cast("double") / col("n") / 10000).as("centroid"),
          col("n"))
        .orderBy(col("label"), col("dim")),
      Some(s"""WITH qv AS (
        |  SELECT CAST(label AS BIGINT) AS label, $quantSql AS v FROM embeddings),
        |exploded AS (
        |  SELECT label, i AS dim, v[i + 1] AS x
        |  FROM qv CROSS JOIN (SELECT unnest(range(64)) AS i))
        |SELECT label, CAST(dim AS BIGINT) AS dim,
        |  CAST(sum(x) AS DOUBLE) / count(*) / 10000 AS centroid,
        |  count(*) AS n
        |FROM exploded GROUP BY label, dim
        |ORDER BY label, dim""".stripMargin)),

    // ------------------------------------------------------------------
    // Product quantization + asymmetric distance (the third ANN scale
    // path next to sign-LSH q41 and IVF q44/q67): vectors compress to
    // m=4 subspace codes (4 bytes vs 256 float bytes — the reason PQ
    // is how billion-vector indexes fit in RAM), and query-to-corpus
    // distance becomes m table lookups + adds instead of a 64-dim
    // dot. Codebook = per-(label, subspace) mean subvector (k=10
    // deterministic centroids — the same training shortcut q42/q44
    // use); scoring joins the corpus CODES against a broadcast
    // per-query ADC lookup table and hash-aggregates — the corpus
    // vectors themselves are touched only for the exact top-`rerank`
    // re-rank. FULLY oracle-checked since round 8: every squared-L2
    // is quantized to 1e-6 fixed point before any comparison (the
    // q40/q43 contract), which makes encode, ADC shortlist, and the
    // re-rank all integer-deterministic on both engines — the oracle
    // replays the identical pipeline in SQL. PqRecallSpec separately
    // measures recall@5 against exact brute force.
    QueryDef("q84_knn_pq",
      (s, dir) => knnPq(s, dir, shortlist = 50), Some(pqOracleSql)),

    // ------------------------------------------------------------------
    // Lloyd k-means over the quantized corpus — the semantic-
    // clustering step curation pipelines run for diversity sampling
    // and cluster-balanced mixtures. The only state that crosses
    // iterations is the k×64 centroid table (bounded model state,
    // like the PQ codebook); each iteration is one corpus scan into
    // one (cluster, dim) hash-agg, with WCSS riding the same shuffle
    // as a dim-0 conditional sum. Centroids stay INTEGER (truncated
    // means in quantized units), so every distance is an exact-
    // integer-valued double (≤ 64·(2·10⁴)² ≪ 2^53) and assignment,
    // WCSS, and the whole trajectory are bit-deterministic — no
    // accumulation-order dependence anywhere. That determinism makes
    // the model FULLY oracle-able: the 5 Lloyd rounds unroll into
    // assign/update CTE pairs exactly like q120/q124's unrolled
    // fixpoints (md5-ordered init, first-index tie-break via
    // (dist, cluster) row_number, truncating integer division — both
    // engines truncate toward zero — and emptied clusters keeping
    // the previous centroid via LEFT JOIN + COALESCE). KMeansSpec
    // additionally pins determinism, cluster count, and objective
    // descent.
    QueryDef("q111_kmeans",
      (s, dir) => kmeans(s, dir)._1, Some(kmeansOracleSql)),

    // ------------------------------------------------------------------
    // SemDeDup — semantic dedup via cluster-then-prune (see
    // [[semanticDedup]]): the embedding-space analog of q63's lexical
    // dedup resolution. The k-means assignment bounds the candidate
    // set to within-cluster pairs (Σ cluster², never corpus²; k is
    // the scale knob), and the pair verify reuses q60's codegen'd
    // exact integer cosine. FULLY oracle-checked since round 8: the
    // clustering inherits q111's bit-deterministic Lloyd contract
    // (integer centroids, md5 init, first-index tie-break), the
    // adaptive k re-derives in-SQL from the same integer rule, and
    // the prune threshold is q60's exact-operand cosine — so the
    // whole cluster-then-prune pipeline hash-matches, not just row
    // counts. SemDedupSpec additionally brute-force-verifies the
    // kept-set invariant and determinism.
    QueryDef("q116_semantic_dedup",
      (s, dir) => semanticDedup(s, dir), Some(semdedupOracleSql)),

    // ------------------------------------------------------------------
    // JL ±1 random projection (see [[randomProjection]]): exact
    // integer map-side projection with md5-derived plan-literal
    // signs; the oracle re-derives the same signs in-database and
    // replays the same integer sums.
    QueryDef("q117_random_projection",
      (s, dir) => randomProjection(s, dir),
      Some(s"""WITH qv AS (
        |  SELECT vec_id, $quantSql AS v FROM embeddings),
        |signs AS (
        |  SELECT o, j,
        |    CASE WHEN (CAST(('0x' || substring(md5('rp_' || o::VARCHAR || '_' || j::VARCHAR), 1, 2)) AS BIGINT) & 1) = 1
        |      THEN 1 ELSE -1 END AS sg
        |  FROM (SELECT unnest(range(16)) AS o),
        |       (SELECT unnest(range(64)) AS j))
        |SELECT q.vec_id, CAST(s.o AS BIGINT) AS out_dim,
        |  CAST(sum(s.sg * q.v[s.j + 1]) AS BIGINT) AS y
        |FROM qv q CROSS JOIN signs s
        |GROUP BY q.vec_id, s.o
        |ORDER BY vec_id, out_dim""".stripMargin)),

    // ------------------------------------------------------------------
    // Hard-negative mining for contrastive training: for each query
    // vector, the top-3 most-similar vectors with a DIFFERENT label —
    // the pairs a triplet/InfoNCE loss learns most from. Exact
    // broadcast scoring (the corpus never shuffles; the label filter
    // rides the map-side cross product); at retrieval scale the
    // candidate generation swaps to the ANN paths (q41/q67/q84)
    // unchanged, since the label predicate composes with any of them.
    QueryDef("q126_hard_negatives",
      (s, dir) => {
        val all = t(s, dir, "embeddings")
          .select(col("vec_id"), col("label").cast("long").as("label"),
            quant(col("embedding")).as("v"))
        val queries = all.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("label").as("qlabel"),
            col("v").as("qv"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("qid")).orderBy(col("cosine").desc, col("vec_id"))
        all.crossJoin(broadcast(queries))
          .filter(col("label") =!= col("qlabel"))
          .select(col("qid"), col("vec_id"), col("label"),
            qcos(s, "qv", "v").as("cosine"))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 3)
          .select(col("qid"), col("rank").cast("long").as("rank"),
            col("vec_id"), col("label").as("neg_label"), col("cosine"))
          .orderBy(col("qid"), col("rank"))
      },
      Some(s"""WITH qv AS (
        |  SELECT vec_id, CAST(label AS BIGINT) AS label, $quantSql AS v
        |  FROM embeddings),
        |normed AS (
        |  SELECT vec_id, label, v,
        |    CAST(list_sum(list_transform(v, x -> x*x)) AS BIGINT) AS n2
        |  FROM qv),
        |scored AS (
        |  SELECT q.vec_id AS qid, e.vec_id, e.label,
        |    CAST($dotSql AS DOUBLE)
        |      / sqrt(CAST(q.n2 AS DOUBLE) * CAST(e.n2 AS DOUBLE)) AS cosine
        |  FROM (SELECT vec_id, label, v AS qv, n2 FROM normed WHERE vec_id < 10) q
        |  CROSS JOIN (SELECT vec_id, label, v AS ev, n2 FROM normed) e
        |  WHERE e.label <> q.label),
        |ranked AS (
        |  SELECT qid, vec_id, label, cosine,
        |    row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rank
        |  FROM scored)
        |SELECT qid, CAST(rank AS BIGINT) AS rank, vec_id,
        |  label AS neg_label, cosine
        |FROM ranked WHERE rank <= 3
        |ORDER BY qid, rank""".stripMargin)),

    // ------------------------------------------------------------------
    // Mutual-kNN pairs — the co-retrieval filter hard-positive mining
    // and consistency-based dedup use: keep (a, b) only when b ranks
    // in a's top-k AND a ranks in b's top-k. Ranks are computed over
    // the SAME LSH candidate graph q41 builds (8 tables × 4-plane
    // sign projections), so the whole query is bucketed — the
    // all-pairs matrix never exists. Each unordered candidate pair
    // (u < v) is scored ONCE with the codegen'd exact quantized
    // cosine and then viewed in both directions for the per-node
    // ranking: half the scoring cost of ranking each direction
    // independently, and the mutual check is a self-equi-join of the
    // rank≤k slice on the reversed (src, dst) key. Scale: planes are
    // ADAPTIVE (occupancy ≤64 per bucket, see adaptivePlanes), so the
    // candidate cost Σ_bucket size² per table stays ~n·64·tables —
    // linear in the corpus; ranking is one hash-partitioned window,
    // and the mutual join's inputs are already k-bounded per node.
    // The oracle derives the same plane count in-SQL from the same
    // integer rule (the q60/q182 params pattern).
    QueryDef("q189_mutual_knn",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val all = vecs(s, dir)
        // the bucket table feeds BOTH sides of the candidate
        // self-join, the scored pairs feed both union directions, and
        // the rank≤k slice feeds both sides of the mutual check — cut
        // each once (round 14, guide §2.4) so the plane projections
        // and the codegen cosine run once per pair instead of once
        // per REFERENCE (the before-plan duplicated the LSH subtree
        // into 42 Exchanges). Same rows, same values.
        val buckets = Ckpt.cut(
          lshBuckets(all, 8, adaptivePlanes(all.count(), 64)), true)
        val cand = buckets.as("a").join(buckets.as("b"),
            col("a.tbl") === col("b.tbl") && col("a.b") === col("b.b")
              && col("a.vec_id") < col("b.vec_id"))
          .select(col("a.vec_id").as("cu"), col("b.vec_id").as("cv"))
          .distinct()
        val scored = Ckpt.cut(cand
          .join(all.select(col("vec_id").as("cu"), col("v").as("uv")), "cu")
          .join(all.select(col("vec_id").as("cv"), col("v").as("vv")), "cv")
          .select(col("cu"), col("cv"), qcos(s, "uv", "vv").as("cosine")),
          true)
        val sym = scored
          .select(col("cu").as("src"), col("cv").as("dst"), col("cosine"))
          .unionAll(scored
            .select(col("cv").as("src"), col("cu").as("dst"), col("cosine")))
        val w = Window.partitionBy(col("src"))
          .orderBy(col("cosine").desc, col("dst"))
        val kept = Ckpt.cut(sym.withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3), true)
        kept.as("f").join(kept.as("r"),
            col("f.src") === col("r.dst") && col("f.dst") === col("r.src")
              && col("f.src") < col("f.dst"))
          .select(col("f.src").as("va"), col("f.dst").as("vb"),
            col("f.rn").cast("long").as("rank_ab"),
            col("r.rn").cast("long").as("rank_ba"),
            col("f.cosine").as("cosine"))
          .orderBy(col("va"), col("vb"))
      },
      Some(s"""WITH params AS (
        |  SELECT GREATEST(2, (SELECT min(pp)
        |    FROM (SELECT unnest(range(31)) AS pp)
        |    WHERE (CAST(64 AS BIGINT) << pp) >=
        |      (SELECT count(*) FROM embeddings))) AS pl),
        |qv AS (
        |  SELECT vec_id, $quantSql AS v FROM embeddings),
        |normed AS (
        |  SELECT vec_id, v,
        |    CAST(list_sum(list_transform(v, x -> x*x)) AS BIGINT) AS n2
        |  FROM qv),
        |signs AS (
        |  SELECT tbl, p, i,
        |    CASE WHEN (CAST(('0x' || substring(md5(tbl::VARCHAR || '_' || p::VARCHAR || '_' || i::VARCHAR), 1, 2)) AS BIGINT) & 1) = 1
        |      THEN 1 ELSE -1 END AS sg
        |  FROM (SELECT unnest(range(8)) AS tbl),
        |       (SELECT unnest(range(31)) AS p),
        |       (SELECT unnest(range(64)) AS i)
        |  WHERE p < (SELECT pl FROM params)),
        |proj AS (
        |  SELECT n.vec_id, s.tbl, s.p, sum(s.sg * n.v[s.i + 1]) AS pr
        |  FROM normed n CROSS JOIN signs s
        |  GROUP BY n.vec_id, s.tbl, s.p),
        |buckets AS (
        |  SELECT vec_id, tbl,
        |    sum(CASE WHEN pr > 0 THEN CAST(1 AS BIGINT) << p ELSE 0 END) AS b
        |  FROM proj GROUP BY vec_id, tbl),
        |cand AS (
        |  SELECT DISTINCT a.vec_id AS cu, b.vec_id AS cv
        |  FROM buckets a JOIN buckets b
        |    ON a.tbl = b.tbl AND a.b = b.b AND a.vec_id < b.vec_id),
        |scored AS (
        |  SELECT c.cu, c.cv,
        |    CAST(CAST(list_sum(list_transform(range(len(x.v)), i -> x.v[i+1] * y.v[i+1])) AS BIGINT) AS DOUBLE)
        |      / sqrt(CAST(x.n2 AS DOUBLE) * CAST(y.n2 AS DOUBLE)) AS cosine
        |  FROM cand c
        |  JOIN normed x ON x.vec_id = c.cu
        |  JOIN normed y ON y.vec_id = c.cv),
        |sym AS (
        |  SELECT cu AS src, cv AS dst, cosine FROM scored
        |  UNION ALL
        |  SELECT cv AS src, cu AS dst, cosine FROM scored),
        |kept AS (
        |  SELECT * FROM (
        |    SELECT src, dst, cosine,
        |      row_number() OVER (PARTITION BY src
        |        ORDER BY cosine DESC, dst) AS rn
        |    FROM sym)
        |  WHERE rn <= 3)
        |SELECT f.src AS va, f.dst AS vb, CAST(f.rn AS BIGINT) AS rank_ab,
        |  CAST(r.rn AS BIGINT) AS rank_ba, f.cosine AS cosine
        |FROM kept f JOIN kept r
        |  ON f.src = r.dst AND f.dst = r.src AND f.src < f.dst
        |ORDER BY va, vb""".stripMargin)),

    // ------------------------------------------------------------------
    // Embedding-space drift monitor — the vector-QC readout: split
    // each label's vectors into two md5 halves, compare the halves'
    // centroids by cosine. A stable, well-populated label scores
    // ≈1.0; a label whose two random halves point in different
    // directions is heterogeneous or mislabeled and will poison any
    // centroid/IVF/SemDeDup structure built on it. Same estimator a
    // production pipeline runs BETWEEN ingest batches (yesterday's
    // centroid vs today's) — the hash split stands in for the batch
    // boundary. Centroid coordinates are sums/n in DOUBLE before the
    // cosine so magnitudes stay bounded at any corpus size (raw
    // sum-vector dots overflow Long past ~500k vectors/label); the
    // double op sequence is pinned left-to-right on both engines and
    // the score quantized to 1e-6 (the q43 contract).
    //
    // Scale shape: one VecSum hash-agg keyed (label, split) — the
    // map-side-combinable centroid build every similarity query here
    // uses — then arithmetic on a 2×|labels|-row table.
    QueryDef("q210_embedding_drift",
      (s, dir) => {
        val all = t(s, dir, "embeddings")
          .select(col("vec_id"), col("label").cast("long").as("label"),
            quant(col("embedding")).as("v"))
          .withColumn("split",
            conv(substring(md5(col("vec_id").cast("string")), 1, 15),
              16, 10).cast("long") % 2)
        val sums = all.groupBy(col("label"), col("split"))
          .agg(vecSum(col("v")).as("sv"), count(lit(1)).as("n"))
        val a = sums.filter(col("split") === 0)
          .select(col("label"), col("sv").as("sa"), col("n").as("na"))
        val b = sums.filter(col("split") === 1)
          .select(col("label"), col("sv").as("sb"), col("n").as("nb"))
        val prod = aggregate(
          zip_with(col("sa"), col("sb"),
            (x, y) => (x.cast("double") / col("na")) *
              (y.cast("double") / col("nb"))),
          lit(0.0), (acc, x) => acc + x)
        def n2(v: Column, n: Column) = aggregate(
          transform(v, x => (x.cast("double") / n) *
            (x.cast("double") / n)),
          lit(0.0), (acc, x) => acc + x)
        a.join(b, "label")
          .select(col("label"), col("na"), col("nb"),
            floor(prod / sqrt(n2(col("sa"), col("na")) *
              n2(col("sb"), col("nb"))) * 1000000 + 0.5)
              .cast("long").as("cos_fp"))
          .orderBy(col("label"))
      },
      Some(s"""WITH qv AS (
        |  SELECT vec_id, CAST(label AS BIGINT) AS label, $quantSql AS v,
        |    CAST(('0x' || substring(md5(vec_id::VARCHAR), 1, 15))
        |      AS BIGINT) % 2 AS split
        |  FROM embeddings),
        |ex AS (
        |  SELECT label, split, i AS dim, v[i + 1] AS x
        |  FROM qv CROSS JOIN (SELECT unnest(range(64)) AS i)),
        |sums AS (
        |  SELECT label, split, dim, CAST(sum(x) AS BIGINT) AS sx,
        |    count(*) AS n
        |  FROM ex GROUP BY 1, 2, 3),
        |sv AS (
        |  SELECT label, split, list(sx ORDER BY dim) AS v, max(n) AS n
        |  FROM sums GROUP BY 1, 2)
        |SELECT a.label, CAST(a.n AS BIGINT) AS na, CAST(b.n AS BIGINT) AS nb,
        |  CAST(floor(
        |    list_sum(list_transform(range(64), i ->
        |      (CAST(a.v[i+1] AS DOUBLE) / a.n)
        |        * (CAST(b.v[i+1] AS DOUBLE) / b.n)))
        |    / sqrt(
        |      list_sum(list_transform(range(64), i ->
        |        (CAST(a.v[i+1] AS DOUBLE) / a.n)
        |          * (CAST(a.v[i+1] AS DOUBLE) / a.n)))
        |      * list_sum(list_transform(range(64), i ->
        |        (CAST(b.v[i+1] AS DOUBLE) / b.n)
        |          * (CAST(b.v[i+1] AS DOUBLE) / b.n))))
        |    * 1000000 + 0.5) AS BIGINT) AS cos_fp
        |FROM (SELECT * FROM sv WHERE split = 0) a
        |JOIN (SELECT * FROM sv WHERE split = 1) b USING (label)
        |ORDER BY a.label""".stripMargin)),

    // ------------------------------------------------------------------
    // Embedding-norm outlier screen — the cheapest vector-QC gate: a
    // vector whose squared norm sits outside [mean/4, 4·mean] for its
    // label is a broken-encoder row (zeroed buffer, double-scaled
    // batch, wrong dtype round-trip) and poisons cosine rankings
    // silently because cosine normalizes it away. Exact integer
    // squared norms and per-label integer means (sum DIV n), so the
    // band membership is bit-deterministic; reported per label with
    // the worst offender id for triage.
    //
    // Scale shape: norms already ride the memoized quantized-corpus
    // table; one (label) hash-agg for means, one broadcast-joined
    // band filter, one rollup. Nothing sorts, nothing is quadratic.
    QueryDef("q218_norm_outliers",
      (s, dir) => {
        val all = t(s, dir, "embeddings")
          .select(col("vec_id"), col("label").cast("long").as("label"),
            quant(col("embedding")).as("v"))
          .withColumn("n2", nrm2(col("v")))
        val means = all.groupBy(col("label"))
          .agg(count(lit(1)).as("n"), sum(col("n2")).as("s2"))
          .withColumn("mean_n2", expr("s2 DIV n"))
          .select(col("label"), col("n"), col("mean_n2"))
        all.join(broadcast(means), "label")
          .withColumn("low", col("n2") * 4 < col("mean_n2"))
          .withColumn("high", col("n2") > col("mean_n2") * 4)
          .groupBy(col("label"), col("n"), col("mean_n2"))
          .agg(sum(when(col("low"), 1L).otherwise(0L)).as("n_low"),
            sum(when(col("high"), 1L).otherwise(0L)).as("n_high"),
            min(when(col("low") || col("high"), col("vec_id")))
              .as("first_outlier"))
          .select(col("label"), col("n"), col("mean_n2"),
            col("n_low"), col("n_high"),
            coalesce(col("first_outlier"), lit(-1L)).as("first_outlier"))
          .orderBy(col("label"))
      },
      Some(s"""WITH qv AS (
        |  SELECT vec_id, CAST(label AS BIGINT) AS label,
        |    CAST(list_sum(list_transform($quantSql, x -> x*x))
        |      AS BIGINT) AS n2
        |  FROM embeddings),
        |m AS (
        |  SELECT label, count(*) AS n,
        |    CAST(sum(n2) // count(*) AS BIGINT) AS mean_n2
        |  FROM qv GROUP BY 1)
        |SELECT qv.label, CAST(m.n AS BIGINT) AS n, m.mean_n2,
        |  CAST(count(*) FILTER (WHERE qv.n2 * 4 < m.mean_n2) AS BIGINT)
        |    AS n_low,
        |  CAST(count(*) FILTER (WHERE qv.n2 > m.mean_n2 * 4) AS BIGINT)
        |    AS n_high,
        |  CAST(coalesce(min(qv.vec_id) FILTER (WHERE
        |    qv.n2 * 4 < m.mean_n2 OR qv.n2 > m.mean_n2 * 4), -1)
        |    AS BIGINT) AS first_outlier
        |FROM qv JOIN m USING (label)
        |GROUP BY qv.label, m.n, m.mean_n2
        |ORDER BY qv.label""".stripMargin)),

    // ------------------------------------------------------------------
    // ANN retrieval quality eval — MRR@5 and hits@5 of the LSH index
    // (q41) against the brute-force ground truth (q40), per query
    // vector. q144 audits the DEDUP LSH's pair recall; this scores
    // the RETRIEVAL index the way a search/RAG pipeline is actually
    // graded: rr = 1/rank of the true nearest neighbor inside the
    // approximate top-5 (0 when missed), hits@5 = |approx top-5 ∩
    // exact top-5|. Both are exact integer fractions (10⁶ DIV rank;
    // a 0-5 count) — no float metric. The two rankings are the
    // catalog queries THEMSELVES (looked up from SparkEntry at run
    // time), so the eval can never drift from what q40/q41 compute.
    // Scale shape: both inputs end as ≤(10×5)-row tables; the eval
    // joins are driver-trivial and the cost is the two underlying
    // plans, each already scale-shaped (broadcast queries, bucketed
    // candidates).
    QueryDef("q234_ann_eval",
      (s, dir) => {
        val bf = graft.SparkEntry.queries("q40_knn_bruteforce")(s, dir)
          .select(col("qid"), col("rank"), col("vec_id"))
        val ann = graft.SparkEntry.queries("q41_knn_lsh")(s, dir)
          .select(col("qid"), col("rank").as("arank"), col("vec_id"))
        val truth = bf.filter(col("rank") === 1)
          .select(col("qid"), col("vec_id"))
        val rr = truth.join(ann, Seq("qid", "vec_id"), "left_outer")
          .select(col("qid"),
            coalesce(expr("1000000 DIV arank"), lit(0L)).as("rr_fp"))
        val hits = bf.join(ann, Seq("qid", "vec_id"), "left_semi")
          .groupBy(col("qid")).agg(count(lit(1)).as("hits5"))
        rr.join(hits, Seq("qid"), "left_outer")
          .select(col("qid"), col("rr_fp"),
            coalesce(col("hits5"), lit(0L)).as("hits5"))
          .orderBy(col("qid"))
      },
      Some(s"""WITH qv AS (
        |  SELECT vec_id, $quantSql AS v FROM embeddings),
        |normed AS (
        |  SELECT vec_id, v,
        |    CAST(list_sum(list_transform(v, x -> x*x)) AS BIGINT) AS n2
        |  FROM qv),
        |bfscored AS (
        |  SELECT q.vec_id AS qid, e.vec_id,
        |    CAST($dotSql AS DOUBLE)
        |      / sqrt(CAST(q.n2 AS DOUBLE) * CAST(e.n2 AS DOUBLE)) AS cosine
        |  FROM (SELECT vec_id, v AS qv, n2 FROM normed WHERE vec_id < 10) q
        |  CROSS JOIN (SELECT vec_id, v AS ev, n2 FROM normed) e
        |  WHERE e.vec_id <> q.vec_id),
        |bf AS (
        |  SELECT qid, vec_id,
        |    row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rank
        |  FROM bfscored QUALIFY rank <= 5),
        |signs AS (
        |  SELECT tbl, p, i,
        |    CASE WHEN (CAST(('0x' || substring(md5(tbl::VARCHAR || '_' || p::VARCHAR || '_' || i::VARCHAR), 1, 2)) AS BIGINT) & 1) = 1
        |      THEN 1 ELSE -1 END AS sg
        |  FROM (SELECT unnest(range(8)) AS tbl),
        |       (SELECT unnest(range(4)) AS p),
        |       (SELECT unnest(range(64)) AS i)),
        |proj AS (
        |  SELECT n.vec_id, s.tbl, s.p, sum(s.sg * n.v[s.i + 1]) AS pr
        |  FROM normed n CROSS JOIN signs s
        |  GROUP BY n.vec_id, s.tbl, s.p),
        |buckets AS (
        |  SELECT vec_id, tbl,
        |    sum(CASE WHEN pr > 0 THEN CAST(1 AS BIGINT) << p ELSE 0 END) AS b
        |  FROM proj GROUP BY vec_id, tbl),
        |cand AS (
        |  SELECT DISTINCT q.vec_id AS qid, e.vec_id
        |  FROM (SELECT * FROM buckets WHERE vec_id < 10) q
        |  JOIN buckets e ON q.tbl = e.tbl AND q.b = e.b
        |    AND e.vec_id <> q.vec_id),
        |annscored AS (
        |  SELECT c.qid, c.vec_id,
        |    CAST($dotSql AS DOUBLE)
        |      / sqrt(CAST(q.n2 AS DOUBLE) * CAST(e.n2 AS DOUBLE)) AS cosine
        |  FROM cand c
        |  JOIN (SELECT vec_id, v AS qv, n2 FROM normed) q ON q.vec_id = c.qid
        |  JOIN (SELECT vec_id, v AS ev, n2 FROM normed) e ON e.vec_id = c.vec_id),
        |ann AS (
        |  SELECT qid, vec_id,
        |    row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS arank
        |  FROM annscored QUALIFY arank <= 5),
        |truth AS (SELECT qid, vec_id FROM bf WHERE rank = 1),
        |rr AS (
        |  SELECT t.qid,
        |    CAST(coalesce(1000000 // a.arank, 0) AS BIGINT) AS rr_fp
        |  FROM truth t LEFT JOIN ann a
        |    ON a.qid = t.qid AND a.vec_id = t.vec_id),
        |hits AS (
        |  SELECT bf.qid, count(*) AS hits5
        |  FROM bf JOIN ann ON ann.qid = bf.qid AND ann.vec_id = bf.vec_id
        |  GROUP BY bf.qid)
        |SELECT rr.qid, rr.rr_fp,
        |  CAST(coalesce(hits.hits5, 0) AS BIGINT) AS hits5
        |FROM rr LEFT JOIN hits ON hits.qid = rr.qid
        |ORDER BY rr.qid""".stripMargin)),

    // ------------------------------------------------------------------
    // Greedy MMR coreset — maximal-marginal-relevance selection
    // (Carbonell & Goldstein), the diverse-exemplar primitive behind
    // few-shot pools, eval-set dedup and k-center-style coreset
    // seeding: pick k=5 vectors maximizing rel(c) − ½·max sim to the
    // already-picked set, where rel is cosine to query vector 0.
    // Pure relevance top-k (q40) returns 5 mutual near-clones; the
    // diversity penalty is what forces spread.
    //
    // Determinism: rel and sim use the exact integer-quantized
    // cosine every similarity query here shares (integer dot/norms,
    // one double divide — bit-identical cross-engine, proven by
    // q40's hash match); the greedy argmax orders by (score desc,
    // vec_id), so ties are exact and the selection is unique.
    //
    // Scale shape: greedy selection is INHERENTLY sequential in k —
    // the textbook trade is k full-corpus passes, each embarrassingly
    // parallel: score-vs-≤k-broadcast-rows + a TakeOrdered(1). The
    // relevance table is computed once (one broadcast pass over the
    // corpus) and localCheckpoint-ed so the k argmax passes re-read
    // the materialized 3-column table, not the quantize subtree. The
    // k winners live on the driver (k-bounded, the q111 centroid
    // class). The oracle unrolls the same 5 steps as chained CTEs.
    QueryDef("q247_mmr_coreset",
      (s, dir) => {
        import s.implicits._
        val k = 5
        val all = vecs(s, dir)
        val q0 = all.filter(col("vec_id") === 0)
          .select(col("v").as("qv"))
        val rel = all.filter(col("vec_id") =!= 0)
          .crossJoin(broadcast(q0))
          .select(col("vec_id"), col("v"), qcos(s, "qv", "v").as("rel"))
          .localCheckpoint(false)
        val picked = scala.collection.mutable.ArrayBuffer
          .empty[(Long, Double, Double)] // (vec_id, rel, maxsim at pick)
        for (_ <- 1 to k) {
          val ids = picked.map(_._1).toSeq
          val cand =
            if (ids.isEmpty) rel.withColumn("maxsim", lit(0.0d))
            else rel.filter(!col("vec_id").isin(ids: _*))
              .crossJoin(broadcast(rel.filter(col("vec_id").isin(ids: _*))
                .select(col("v").as("sv"))))
              .groupBy(col("vec_id"), col("rel"))
              .agg(max(qcos(s, "sv", "v")).as("maxsim"))
          val w = cand
            .orderBy((col("rel") - lit(0.5d) * col("maxsim")).desc,
              col("vec_id"))
            .select(col("vec_id"), col("rel"), col("maxsim"))
            .head()
          picked += ((w.getLong(0), w.getDouble(1), w.getDouble(2)))
        }
        picked.zipWithIndex
          .map { case ((id, r, m), i) => (i + 1L, id, r, m) }.toSeq
          .toDF("rank", "vec_id", "rel", "maxsim")
          .orderBy(col("rank"))
      },
      Some {
        val simRS = "CAST(list_sum(list_transform(range(len(r.v)), " +
          "i -> r.v[i+1] * s.v[i+1])) AS DOUBLE) / " +
          "sqrt(CAST(r.n2 AS DOUBLE) * CAST(s.n2 AS DOUBLE))"
        val steps = (2 to 5).map { i =>
          val prev = (1 until i).map(j => s"SELECT * FROM s$j")
            .mkString(" UNION ALL ")
          s"""c$i AS (
             |  SELECT r.vec_id, r.v, r.n2, r.rel, max($simRS) AS maxsim
             |  FROM rel r, ($prev) s
             |  WHERE r.vec_id NOT IN (SELECT vec_id FROM ($prev))
             |  GROUP BY r.vec_id, r.v, r.n2, r.rel),
             |s$i AS (SELECT * FROM c$i
             |  ORDER BY rel - 0.5 * maxsim DESC, vec_id LIMIT 1)"""
            .stripMargin
        }.mkString(",\n")
        val out = (1 to 5).map(i =>
          s"SELECT $i AS rank, vec_id, rel, maxsim FROM s$i")
          .mkString("\n UNION ALL ")
        s"""WITH qv AS (SELECT vec_id, $quantSql AS v FROM embeddings),
           |normed AS (
           |  SELECT vec_id, v,
           |    CAST(list_sum(list_transform(v, x -> x*x)) AS BIGINT) AS n2
           |  FROM qv),
           |q AS (SELECT v AS qv, n2 AS qn2 FROM normed WHERE vec_id = 0),
           |rel AS (
           |  SELECT e.vec_id, e.v, e.n2,
           |    CAST(list_sum(list_transform(range(len(q.qv)),
           |      i -> q.qv[i+1] * e.v[i+1])) AS DOUBLE)
           |      / sqrt(CAST(q.qn2 AS DOUBLE) * CAST(e.n2 AS DOUBLE))
           |      AS rel
           |  FROM normed e, q WHERE e.vec_id <> 0),
           |s1 AS (
           |  SELECT vec_id, v, n2, rel, CAST(0.0 AS DOUBLE) AS maxsim
           |  FROM rel ORDER BY rel DESC, vec_id LIMIT 1),
           |$steps
           |SELECT CAST(rank AS BIGINT) AS rank, vec_id, rel, maxsim
           |FROM ($out)
           |ORDER BY rank""".stripMargin
      }),

    // ------------------------------------------------------------------
    // Incremental IVF-index maintenance — the vector-side twin of
    // q265: the standing coarse index (per-cell vector SUMS, q67's
    // persisted ivf_sums artifact) absorbs an arriving vector shard
    // by MERGEABLE-AGGREGATE addition instead of a corpus re-scan.
    // Long sums are exact and associative, so base ⊕ shard is
    // bit-identical to rebuilding from all vectors — the oracle
    // re-derives the full-corpus per-cell sums from scratch, making
    // the hash match the merged==rebuilt proof. The merged artifact
    // is published via SideTables (ivf_sums_merged); its builder's
    // leaves are the BASE artifact's parquet + the shard slice of
    // embeddings, so per-shard cost is one |shard| scan + a
    // |cells|-row outer join — the base vectors are never re-read.
    QueryDef("q267_ivf_delta_refresh",
      (s, dir) => {
        val merged = SideTables.getOrBuild(s, dir, "ivf_sums_merged",
            Seq("embeddings")) {
          val bucket = hashBucket(col("vec_id"))
          def cellSums(keep: Column) = t(s, dir, "embeddings")
            .filter(keep)
            .select(col("label").cast("long").as("label"),
              quant(col("embedding")).as("v"))
            .groupBy(col("label")).agg(vecSum(col("v")).as("sv"))
          val base = SideTables.getOrBuild(s, dir, "ivf_sums_base",
            Seq("embeddings"))(cellSums(bucket < 80))
          val shard = cellSums(bucket >= 80)
          base.as("b").join(shard.as("sh"), Seq("label"), "full_outer")
            .select(col("label"),
              when(col("b.sv").isNull, col("sh.sv"))
                .when(col("sh.sv").isNull, col("b.sv"))
                .otherwise(zip_with(col("b.sv"), col("sh.sv"),
                  (x, y) => x + y)).as("sv"))
        }
        merged.select(col("label"),
            posexplode(col("sv")).as(Seq("dim", "sx")))
          .select(col("label"), col("dim").cast("long").as("dim"),
            col("sx"))
          .orderBy(col("label"), col("dim"))
      },
      Some(s"""WITH qv AS (
        |  SELECT vec_id, CAST(label AS BIGINT) AS label, $quantSql AS v
        |  FROM embeddings)
        |SELECT label, CAST(i AS BIGINT) AS dim,
        |  CAST(sum(v[i + 1]) AS BIGINT) AS sx
        |FROM qv CROSS JOIN (SELECT unnest(range(64)) AS i)
        |GROUP BY label, i
        |ORDER BY label, dim""".stripMargin))
  ) :+ annEvalFamiliesQueryDef :+ pqDeltaQueryDef :+ pqDriftQueryDef :+
    ivfRetractQueryDef :+ pqRetractQueryDef

  /** IVF coarse index under VECTOR RETRACTION — the ANN-side forget
    * story, completing the family (graph q274/q275, dedup index
    * q276, sketches q277): deleted vectors are SUBTRACTED from the
    * standing per-cell sums. The sums are quantized-integer longs
    * (exact, associative — the same property q267's absorb leans
    * on), so full − deleted is bit-identical to rebuilding from the
    * surviving vectors, with one subtlety the absorb path never
    * meets: a cell whose every vector was deleted must DROP from the
    * index, not linger as a zero vector — which is why the standing
    * artifact carries per-cell counts (`ivf_stats_full`) and the
    * retraction drops cells at n_retained = 0. The oracle re-derives
    * the per-cell sums from scratch over the retained vectors only,
    * so the hash match is the retracted==rebuilt proof. Per-purge
    * cost: one |deleted| scan + a |cells|-row join; surviving
    * vectors are never re-read. */
  /** full − deleted per-cell (sv, n), dropping cells whose every
    * vector was deleted (n_retained = 0) — they must vanish from the
    * index exactly as a from-scratch rebuild would omit them, never
    * linger as zero vectors. Exposed for RetractionSpec, which pins
    * the drop branch the SF-swept oracle can't reach (the testdata's
    * cells never fully empty). */
  private[graft] def subtractCellStats(full: DataFrame,
      del: DataFrame): DataFrame =
    full.as("f").join(del.as("d"), Seq("label"), "left_outer")
      .filter(col("d.n").isNull || col("f.n") > col("d.n"))
      .select(col("label"),
        when(col("d.sv").isNull, col("f.sv"))
          .otherwise(zip_with(col("f.sv"), col("d.sv"),
            (x, y) => x - y)).as("sv"),
        (col("f.n") - coalesce(col("d.n"), lit(0L))).as("n"))

  private lazy val ivfRetractQueryDef = QueryDef(
    "q278_ivf_retract",
    (s, dir) => {
      val retracted = SideTables.getOrBuild(s, dir, "ivf_sums_retracted",
          Seq("embeddings")) {
        val bucket = hashBucket(col("vec_id"))
        def cellStats(keep: Column) = t(s, dir, "embeddings")
          .filter(keep)
          .select(col("label").cast("long").as("label"),
            quant(col("embedding")).as("v"))
          .groupBy(col("label"))
          .agg(vecSum(col("v")).as("sv"), count(lit(1)).as("n"))
        val full = SideTables.getOrBuild(s, dir, "ivf_stats_full",
          Seq("embeddings"))(cellStats(lit(true)))
        subtractCellStats(full, cellStats(bucket >= 90))
      }
      retracted.select(col("label"), col("n"),
          posexplode(col("sv")).as(Seq("dim", "sx")))
        .select(col("label"), col("dim").cast("long").as("dim"),
          col("sx"), col("n").as("n_retained"))
        .orderBy(col("label"), col("dim"))
    },
    Some(s"""WITH qv AS (
      |  SELECT vec_id, CAST(label AS BIGINT) AS label, $quantSql AS v
      |  FROM embeddings
      |  WHERE CAST(('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 15))
      |    AS BIGINT) % 100 < 90)
      |SELECT label, CAST(i AS BIGINT) AS dim,
      |  CAST(sum(v[i + 1]) AS BIGINT) AS sx,
      |  count(*) AS n_retained
      |FROM qv CROSS JOIN (SELECT unnest(range(64)) AS i)
      |GROUP BY label, i
      |ORDER BY label, dim""".stripMargin))

  /** q234 extended to EVERY index family (the r11 judge's ask): MRR@5
    * and hits@5 for the LSH (q41), IVF multi-probe (q67) and PQ-ADC
    * (q84) indexes against the brute-force ground truth (q40), one
    * row per (family, query). The three families now all read
    * STANDING PERSISTED artifacts (band/LSH buckets, ivf_sums, PQ
    * codes — r11's new failure surface), so a recall regression in a
    * stale or corrupted artifact is caught by the hash-matched
    * catalog, not only by specs. Rankings are the catalog queries
    * THEMSELVES (looked up from SparkEntry at run time) — the eval
    * can never drift from what the families compute. Scale shape:
    * each family's plan is already scale-shaped; the eval legs join
    * ≤(10×5)-row tables. */
  private lazy val annEvalFamiliesQueryDef: QueryDef = {
    def evalRowSql(family: String, ranked: String) =
      s"""SELECT '$family' AS family, t.qid,
         |    CAST(coalesce(1000000 // a.arank, 0) AS BIGINT) AS rr_fp,
         |    CAST(coalesce(h.hits5, 0) AS BIGINT) AS hits5
         |  FROM truth t
         |  LEFT JOIN $ranked a ON a.qid = t.qid AND a.vec_id = t.vec_id
         |  LEFT JOIN (SELECT bf.qid, count(*) AS hits5
         |             FROM bf JOIN $ranked r
         |               ON r.qid = bf.qid AND r.vec_id = bf.vec_id
         |             GROUP BY bf.qid) h ON h.qid = t.qid""".stripMargin
    val m = 4; val sub = 16; val shortlist = 50
    def l2fpSql(x: String, cv: String) =
      s"""CAST(floor(list_sum(list_transform(range($sub),
         |      j -> ($x[j+1] - $cv[j+1]) * ($x[j+1] - $cv[j+1])))
         |      * 1000000 + 0.5) AS BIGINT)""".stripMargin
    QueryDef("q266_ann_eval_families",
      (s, dir) => {
        val bf = graft.SparkEntry.queries("q40_knn_bruteforce")(s, dir)
          .select(col("qid"), col("rank"), col("vec_id"))
          .localCheckpoint(false) // read once per family (3 evals)
        // ONE left-outer join + ONE aggregation per family (round 14,
        // guide §2.4): rr and hits previously each joined the family's
        // ranking separately (truth ⋈ ann, bf ⋈semi ann) and were glued
        // by a third join — but both are per-qid facts of the SAME
        // bf ⋈ ann match set: the truth row is bf's rank-1 row, hits5
        // counts matched bf rows, and the family rankings are unique
        // per (qid, vec_id) by their row_number slice, so the outer
        // join neither drops nor multiplies. 3 joins + a cut → 1 join.
        def evalOf(family: String, ann0: DataFrame): DataFrame = {
          val ann = ann0
            .select(col("qid"), col("rank").as("arank"), col("vec_id"))
          bf.join(ann, Seq("qid", "vec_id"), "left_outer")
            .groupBy(col("qid"))
            .agg(max(when(col("rank") === 1,
                coalesce(expr("1000000 DIV arank"), lit(0L)))).as("rr_fp"),
              sum(when(col("arank").isNotNull, 1L).otherwise(0L))
                .as("hits5"))
            .select(lit(family).as("family"), col("qid"),
              col("rr_fp"), col("hits5"))
        }
        evalOf("ivf", graft.SparkEntry.queries("q67_knn_ivf_probe")(s, dir))
          .unionByName(evalOf("lsh",
            graft.SparkEntry.queries("q41_knn_lsh")(s, dir)))
          .unionByName(evalOf("pq",
            graft.SparkEntry.queries("q84_knn_pq")(s, dir)))
          .orderBy(col("family"), col("qid"))
      },
      Some(s"""WITH qv AS (
        |  SELECT vec_id, CAST(label AS BIGINT) AS label, $quantSql AS v
        |  FROM embeddings),
        |normed AS (
        |  SELECT vec_id, label, v,
        |    CAST(list_sum(list_transform(v, x -> x*x)) AS BIGINT) AS n2
        |  FROM qv),
        |bfscored AS (
        |  SELECT q.vec_id AS qid, e.vec_id,
        |    CAST($dotSql AS DOUBLE)
        |      / sqrt(CAST(q.n2 AS DOUBLE) * CAST(e.n2 AS DOUBLE)) AS cosine
        |  FROM (SELECT vec_id, v AS qv, n2 FROM normed WHERE vec_id < 10) q
        |  CROSS JOIN (SELECT vec_id, v AS ev, n2 FROM normed) e
        |  WHERE e.vec_id <> q.vec_id),
        |bf AS (
        |  SELECT qid, vec_id,
        |    row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rank
        |  FROM bfscored QUALIFY rank <= 5),
        |truth AS (SELECT qid, vec_id FROM bf WHERE rank = 1),
        |signs AS (
        |  SELECT tbl, p, i,
        |    CASE WHEN (CAST(('0x' || substring(md5(tbl::VARCHAR || '_' || p::VARCHAR || '_' || i::VARCHAR), 1, 2)) AS BIGINT) & 1) = 1
        |      THEN 1 ELSE -1 END AS sg
        |  FROM (SELECT unnest(range(8)) AS tbl),
        |       (SELECT unnest(range(4)) AS p),
        |       (SELECT unnest(range(64)) AS i)),
        |proj AS (
        |  SELECT n.vec_id, s.tbl, s.p, sum(s.sg * n.v[s.i + 1]) AS pr
        |  FROM normed n CROSS JOIN signs s
        |  GROUP BY n.vec_id, s.tbl, s.p),
        |buckets AS (
        |  SELECT vec_id, tbl,
        |    sum(CASE WHEN pr > 0 THEN CAST(1 AS BIGINT) << p ELSE 0 END) AS b
        |  FROM proj GROUP BY vec_id, tbl),
        |lcand AS (
        |  SELECT DISTINCT q.vec_id AS qid, e.vec_id
        |  FROM (SELECT * FROM buckets WHERE vec_id < 10) q
        |  JOIN buckets e ON q.tbl = e.tbl AND q.b = e.b
        |    AND e.vec_id <> q.vec_id),
        |lsh_rank AS (
        |  SELECT qid, vec_id, arank FROM (
        |    SELECT c.qid, c.vec_id,
        |      row_number() OVER (PARTITION BY c.qid ORDER BY
        |        CAST($dotSql AS DOUBLE)
        |          / sqrt(CAST(q.n2 AS DOUBLE) * CAST(e.n2 AS DOUBLE)) DESC,
        |        c.vec_id) AS arank
        |    FROM lcand c
        |    JOIN (SELECT vec_id, v AS qv, n2 FROM normed) q ON q.vec_id = c.qid
        |    JOIN (SELECT vec_id, v AS ev, n2 FROM normed) e ON e.vec_id = c.vec_id)
        |  WHERE arank <= 5),
        |isums AS (
        |  SELECT label, i AS dim, sum(v[i + 1]) AS sx
        |  FROM qv CROSS JOIN (SELECT unnest(range(64)) AS i)
        |  GROUP BY label, i),
        |isv AS (
        |  SELECT label, list(sx ORDER BY dim) AS sv FROM isums GROUP BY label),
        |isvn AS (
        |  SELECT label, sv,
        |    CAST(list_sum(list_transform(sv, x -> x*x)) AS BIGINT) AS sn2
        |  FROM isv),
        |iassign AS (
        |  SELECT qid, qv, qn2, label AS probed_label FROM (
        |    SELECT q.vec_id AS qid, q.v AS qv, q.n2 AS qn2, c.label,
        |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |        CAST(CAST(list_sum(list_transform(range(len(q.v)), i -> q.v[i+1] * c.sv[i+1])) AS BIGINT) AS DOUBLE)
        |          / sqrt(CAST(q.n2 AS DOUBLE) * CAST(c.sn2 AS DOUBLE)) DESC,
        |        c.label) AS rn
        |    FROM (SELECT * FROM normed WHERE vec_id < 10) q
        |    CROSS JOIN isvn c)
        |  WHERE rn <= 3),
        |ivf_rank AS (
        |  SELECT qid, vec_id, arank FROM (
        |    SELECT a.qid, e.vec_id,
        |      row_number() OVER (PARTITION BY a.qid ORDER BY
        |        CAST(CAST(list_sum(list_transform(range(len(qv)), i -> qv[i+1] * ev[i+1])) AS BIGINT) AS DOUBLE)
        |          / sqrt(CAST(a.qn2 AS DOUBLE) * CAST(e.n2 AS DOUBLE)) DESC,
        |        e.vec_id) AS arank
        |    FROM iassign a
        |    JOIN (SELECT vec_id, label, v AS ev, n2 FROM normed) e
        |      ON e.label = a.probed_label AND e.vec_id <> a.qid)
        |  WHERE arank <= 5),
        |psv AS (
        |  SELECT vec_id, label, sp,
        |    list_slice(v, sp * $sub + 1, (sp + 1) * $sub) AS x
        |  FROM qv CROSS JOIN (SELECT unnest(range($m)) AS sp)),
        |pcbx AS (
        |  SELECT label, sp, dim, CAST(sum(e) AS BIGINT) AS sx,
        |    count(*) AS n
        |  FROM (SELECT label, sp, unnest(x) AS e,
        |          generate_subscripts(x, 1) AS dim FROM psv)
        |  GROUP BY label, sp, dim),
        |pcb AS (
        |  SELECT label, sp, list(sx / n ORDER BY dim) AS cv
        |  FROM pcbx GROUP BY label, sp),
        |penc AS (
        |  SELECT vec_id, sp, label AS code FROM (
        |    SELECT s.vec_id, s.sp, c.label,
        |      row_number() OVER (PARTITION BY s.vec_id, s.sp
        |        ORDER BY ${l2fpSql("s.x", "c.cv")}, c.label) AS rn
        |    FROM psv s JOIN pcb c ON c.sp = s.sp)
        |  WHERE rn = 1),
        |padc AS (
        |  SELECT s.vec_id AS qid, s.sp, c.label AS code,
        |    ${l2fpSql("s.x", "c.cv")} AS qdist
        |  FROM psv s JOIN pcb c ON c.sp = s.sp
        |  WHERE s.vec_id < 10),
        |padist AS (
        |  SELECT a.qid, e.vec_id, CAST(sum(a.qdist) AS BIGINT) AS d
        |  FROM penc e JOIN padc a ON a.sp = e.sp AND a.code = e.code
        |  WHERE e.vec_id <> a.qid
        |  GROUP BY a.qid, e.vec_id),
        |pcand AS (
        |  SELECT qid, vec_id FROM (
        |    SELECT qid, vec_id,
        |      row_number() OVER (PARTITION BY qid
        |        ORDER BY d, vec_id) AS rn
        |    FROM padist)
        |  WHERE rn <= $shortlist),
        |pq_rank AS (
        |  SELECT qid, vec_id, arank FROM (
        |    SELECT c.qid, c.vec_id,
        |      row_number() OVER (PARTITION BY c.qid ORDER BY
        |        CAST(floor(
        |          CAST(CAST(list_sum(list_transform(range(64),
        |            i -> q.v[i+1] * e.v[i+1])) AS BIGINT) AS DOUBLE)
        |          / sqrt(CAST(q.n2 AS DOUBLE) * CAST(e.n2 AS DOUBLE))
        |          * 1000000 + 0.5) AS BIGINT) DESC, c.vec_id) AS arank
        |    FROM pcand c
        |    JOIN normed q ON q.vec_id = c.qid
        |    JOIN normed e ON e.vec_id = c.vec_id)
        |  WHERE arank <= 5)
        |SELECT family, qid, rr_fp, hits5 FROM (
        |  ${evalRowSql("ivf", "ivf_rank")}
        |  UNION ALL
        |  ${evalRowSql("lsh", "lsh_rank")}
        |  UNION ALL
        |  ${evalRowSql("pq", "pq_rank")})
        |ORDER BY family, qid""".stripMargin))
  }

  /** DuckDB oracle for q111: the 5 Lloyd rounds unrolled into
    * assign/update CTE pairs (generated here — same shape as
    * q120/q124's hand-unrolled fixpoints). Exact-integer distances,
    * toward-zero integer division (`//` matches Scala `/`), and the
    * first-index tie-break as a (dist, cluster) row_number make each
    * CTE bit-identical to the corresponding [[kmeansFit]] round. */
  /** One Lloyd ASSIGN round as a DuckDB CTE: nearest centroid from
    * c`i` per vector, first-index tie-break via (dist, cluster) —
    * the SQL mirror of [[kmeansFit]]'s argmin (both its plan-literal
    * and broadcast-join forms). Shared by the q111 and q116 oracles. */
  private def kmAssignCte(i: Int) =
    s"""a$i AS (
       |  SELECT vec_id, v, cluster, dist FROM (
       |    SELECT vec_id, v, cluster, dist,
       |      row_number() OVER (PARTITION BY vec_id
       |        ORDER BY dist, cluster) AS rn
       |    FROM (
       |      SELECT q.vec_id, q.v, c.cluster,
       |        CAST(list_sum(list_transform(range(64),
       |          j -> (q.v[j+1] - c.cv[j+1]) * (q.v[j+1] - c.cv[j+1])))
       |          AS BIGINT) AS dist
       |      FROM qv q CROSS JOIN c$i c))
       |  WHERE rn = 1)"""

  /** One Lloyd UPDATE round as a DuckDB CTE pair: truncated-integer
    * centroid means from a`i`, emptied clusters keeping the previous
    * centroid (LEFT JOIN + COALESCE) — [[kmeansFit]]'s update step. */
  private def kmUpdateCte(i: Int) =
    s"""u$i AS (
       |  SELECT cluster, list(sx // n ORDER BY dim) AS cv FROM (
       |    SELECT cluster, dim, CAST(sum(x) AS BIGINT) AS sx,
       |      count(*) AS n
       |    FROM (SELECT cluster, unnest(v) AS x,
       |            generate_subscripts(v, 1) AS dim FROM a$i)
       |    GROUP BY cluster, dim)
       |  GROUP BY cluster),
       |c${i + 1} AS (
       |  SELECT p.cluster, COALESCE(u.cv, p.cv) AS cv
       |  FROM c$i p LEFT JOIN u$i u USING (cluster))"""

  private def kmRoundsSql(iters: Int): String = (0 until iters)
    .map(i => kmAssignCte(i) + ",\n" + kmUpdateCte(i)).mkString(",\n")

  private lazy val kmeansOracleSql: String = {
    val k = 8; val iters = 5
    s"""WITH qv AS (
       |  SELECT vec_id, $quantSql AS v FROM embeddings),
       |c0 AS (
       |  SELECT cluster, cv FROM (
       |    SELECT row_number() OVER (
       |        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cluster,
       |      v AS cv
       |    FROM qv) WHERE cluster < $k),
       |${kmRoundsSql(iters)},
       |${kmAssignCte(iters)}
       |SELECT cluster, count(*) AS n_points,
       |  CAST(sum(dist) AS BIGINT) AS wcss
       |FROM a$iters GROUP BY cluster ORDER BY cluster""".stripMargin
  }

  /** q116's oracle: the full SemDeDup pipeline in SQL — the same
    * unrolled Lloyd rounds as [[kmeansOracleSql]] but with the
    * ADAPTIVE k derived in-database from the identical integer rule
    * as [[semanticDedupParts]] (expected cluster size ≈ 256, floor 8,
    * cap 4096 — the q60 adaptive-planes pattern), then the
    * within-cluster farther-from-centroid-survives prune. Everything
    * before the final cosine threshold is exact integer arithmetic;
    * the threshold itself is the one division + sqrt both engines
    * compute identically on exact-integer operands (the q60
    * contract). */
  private lazy val semdedupOracleSql: String = {
    val iters = 5
    s"""WITH qv AS (
       |  SELECT vec_id, $quantSql AS v FROM embeddings),
       |params AS (
       |  SELECT GREATEST(8, LEAST(4096, (count(*) + 255) // 256)) AS kk
       |  FROM qv),
       |c0 AS (
       |  SELECT cluster, cv FROM (
       |    SELECT row_number() OVER (
       |        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cluster,
       |      v AS cv
       |    FROM qv) WHERE cluster < (SELECT kk FROM params)),
       |${kmRoundsSql(iters)},
       |${kmAssignCte(iters)},
       |pn AS (
       |  SELECT vec_id, v, cluster, dist,
       |    CAST(list_sum(list_transform(v, x -> x*x)) AS BIGINT) AS n2
       |  FROM a$iters),
       |dropped AS (
       |  SELECT DISTINCT a.vec_id
       |  FROM pn a JOIN pn b ON b.cluster = a.cluster
       |    AND b.vec_id <> a.vec_id
       |  WHERE (b.dist > a.dist
       |      OR (b.dist = a.dist AND b.vec_id < a.vec_id))
       |    AND CAST(CAST(list_sum(list_transform(range(64),
       |          i -> a.v[i+1] * b.v[i+1])) AS BIGINT) AS DOUBLE)
       |      / sqrt(CAST(a.n2 AS DOUBLE) * CAST(b.n2 AS DOUBLE)) >= 0.4)
       |SELECT a.cluster, count(*) AS n_points,
       |  count(CASE WHEN d.vec_id IS NULL THEN 1 END) AS n_kept,
       |  count(d.vec_id) AS n_dropped
       |FROM a$iters a LEFT JOIN dropped d ON d.vec_id = a.vec_id
       |GROUP BY a.cluster ORDER BY a.cluster""".stripMargin
  }

  /** Lloyd k-means over [[vecs]]: returns the per-cluster summary
    * (cluster, n_points, wcss) under the FINAL centroids plus the
    * per-iteration WCSS trajectory (entry i = objective under the
    * centroids entering iteration i). Deterministic by construction:
    * md5-ordered init, integer centroids (truncating division),
    * first-index tie-break on equal distances; an emptied cluster
    * keeps its previous centroid. */
  def kmeans(s: SparkSession, dir: String, k: Int = 8, iters: Int = 5)
      : (DataFrame, Seq[Long]) = {
    val (assigned, hist) = kmeansFit(s, dir, k, iters)
    val out = assigned.groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_points"), sum(col("dist")).as("wcss"))
      .orderBy(col("cluster"))
    (out, hist)
  }

  /** Above this k the assignment step switches from plan-literal
    * centroid expressions to the broadcast-join path: k×64 literals
    * bloat the plan (codegen blows past method limits near k ≈ 100,
    * and analysis cost is O(k) per round), while a broadcast join
    * against a k-row centroid table scales to the k ≈ 10⁴ a SemDeDup
    * production run uses. Both paths are bit-identical (KMeansSpec
    * pins parity at a k above the cutoff). */
  private val KmeansLiteralMaxK = 16

  /** Lloyd fit returning the FINAL assignment frame
    * (vec_id, v, cluster, dist) plus the WCSS trajectory; q111
    * summarizes it, q116's SemDeDup reads the assignment as its
    * cluster structure. Same determinism contract as [[kmeans]].
    *
    * `assignViaJoin`: None = pick by k (literal expressions up to
    * [[KmeansLiteralMaxK]], broadcast join above); Some forces a path
    * (spec-only — the parity test runs both at one k). The join path
    * broadcasts the k-row centroid table, computes one codegen'd
    * sq_l2_dist per (vector, centroid), and takes the argmin as a
    * partial-aggregable `min(struct(dist, cluster))` hash-agg — the
    * same first-index tie-break as `array_position`, with identical
    * exact-integer distances. */
  def kmeansFit(s: SparkSession, dir: String, k: Int = 8, iters: Int = 5,
      assignViaJoin: Option[Boolean] = None): (DataFrame, Seq[Long]) = {
    graft.functions.SquaredL2.register(s)
    val all = vecs(s, dir).select(col("vec_id"), col("v"))
    var cents: IndexedSeq[Seq[Long]] = all
      .withColumn("h", md5(col("vec_id").cast("string")))
      .orderBy(col("h"), col("vec_id")).limit(k)
      .collect().map(_.getSeq[Long](1)).toIndexedSeq
    val viaJoin = assignViaJoin.getOrElse(k > KmeansLiteralMaxK)
    def assigned = if (viaJoin) {
      import s.implicits._
      val centsDf = cents.zipWithIndex
        .map { case (c, i) => (i.toLong, c) }.toSeq.toDF("cluster", "cv")
      all.crossJoin(broadcast(centsDf))
        .withColumn("d", expr("sq_l2_dist(v, cv)"))
        .groupBy(col("vec_id"))
        // v is functionally dependent on vec_id — first() keeps the
        // argmin a plain hash-agg (an array GROUPING key would force
        // a sort-based aggregate)
        .agg(first(col("v")).as("v"),
          min(struct(col("d"), col("cluster"))).as("m"))
        .select(col("vec_id"), col("v"),
          col("m.d").cast("long").as("dist"), col("m.cluster").as("cluster"))
    } else {
      val dcols = cents.map { c =>
        expr(s"sq_l2_dist(v, array(${c.mkString("L,")}L))") }
      val dArr = array(dcols: _*)
      all.withColumn("dist", array_min(dArr).cast("long"))
        .withColumn("cluster",
          (array_position(dArr, array_min(dArr)) - 1).cast("long"))
    }
    val hist = collection.mutable.ArrayBuffer.empty[Long]
    for (_ <- 1 to iters) {
      // one map-side VecSum per cluster: the update shuffle carries k
      // arrays (not |corpus|×64 exploded rows), and the WCSS rides it
      val upd = assigned
        .groupBy(col("cluster"))
        .agg(vecSum(col("v")).as("sv"), count(lit(1)).as("n"),
          sum(col("dist")).as("w"))
        .collect()
      hist += upd.map(_.getAs[Long]("w")).sum
      val byCluster =
        upd.map(r => r.getAs[Long]("cluster") -> r).toMap
      cents = (0 until k).map { c =>
        byCluster.get(c.toLong) match {
          case Some(r) =>
            val n = r.getAs[Long]("n")
            r.getSeq[Long](r.fieldIndex("sv")).map(_ / n)
          case None => cents(c) // emptied cluster: keep previous
        }
      }
    }
    (assigned, hist.toSeq)
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): k-means the
    * embedding space, then prune near-duplicate pairs WITHIN each
    * cluster — clustering turns the corpus² similarity problem into
    * Σ cluster², with k the scale knob that keeps cluster sizes
    * bounded (the paper's k ~ √N). Keep rule: of any within-cluster
    * pair with cosine ≥ τ, the member FARTHER from its centroid
    * survives (the paper keeps low centroid-similarity examples to
    * preserve diversity); distance ties break to the lower vec_id —
    * a local deterministic rule like q63's smallest-id-wins, so no
    * two KEPT members of one cluster are ≥ τ similar
    * (SemDedupSpec brute-force-verifies the invariant). τ defaults
    * to the corpus-calibrated 0.4 that q60 uses for "near" — the
    * synthetic embeddings top out at cosine ≈ 0.51 (the paper's
    * 0.95+ applies to real encoder outputs, where near-dups
    * cluster tightly).
    *
    * `k = 0` (the catalog default) means ADAPTIVE: k grows with the
    * corpus so expected cluster size stays ≈ 256 — the same
    * occupancy discipline as q60's adaptivePlanes. At fixed k the
    * within-cluster pair stage is Σ(n/k)² = n²/k, quadratic with a
    * constant divided out; occupancy-bounded k makes it ≤ n·256.
    * Floor 8 (sf0.01 output and the spec's brute-force scale are
    * unchanged), cap 4096 (centroid state stays a few MB — the
    * broadcast-join assignment path from round 6 handles k beyond
    * the plan-literal limit; production SemDeDup at larger n raises
    * the target cluster size instead of k alone, per the paper). */
  def semanticDedup(s: SparkSession, dir: String, k: Int = 0,
      iters: Int = 5, tau: Double = 0.4): DataFrame = {
    val (assigned, dropped) = semanticDedupParts(s, dir, k, iters, tau)
    assigned.join(dropped.withColumn("dup", lit(1)), Seq("vec_id"), "left")
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_points"),
        count(when(col("dup").isNull, 1)).as("n_kept"),
        count(col("dup")).as("n_dropped"))
      .orderBy(col("cluster"))
  }

  /** (final assignment, dropped vec_ids) — the spec re-derives the
    * kept-set invariant from these two frames. */
  private[graft] def semanticDedupParts(s: SparkSession, dir: String,
      k: Int, iters: Int, tau: Double): (DataFrame, DataFrame) = {
    val kEff =
      if (k > 0) k
      else { // occupancy-bounded: expected cluster size ≈ 256
        val n = vecs(s, dir).count()
        math.max(8, math.min(4096, ((n + 255) / 256).toInt))
      }
    val assigned = kmeansFit(s, dir, kEff, iters)._1
      .select(col("vec_id"), col("v"), col("cluster"), col("dist"))
      // read three times (both pair sides + the accounting join):
      // cut the 5-iteration assignment lineage once
      .localCheckpoint(false)
    val r = assigned.select(col("cluster"), col("vec_id").as("vec_id2"),
      col("v").as("v2"), col("dist").as("dist2"))
    val dropped = assigned.join(r, Seq("cluster"))
      .filter(col("vec_id2") =!= col("vec_id"))
      .filter(col("dist2") > col("dist") ||
        (col("dist2") === col("dist") && col("vec_id2") < col("vec_id")))
      .filter(qcos(s, "v", "v2") >= tau)
      .select(col("vec_id")).distinct()
    (assigned, dropped)
  }

  /** q84's oracle: the full PQ-ADC pipeline in SQL. Every stage
    * mirrors [[knnPq]] under the q40/q43 fixed-point contract —
    * codebook means are exact-integer-over-integer doubles, every
    * squared-L2 is quantized to 1e-6 fixed point before any
    * comparison (~7 orders of magnitude of slack over the ~1e-13
    * cross-engine accumulation error), ADC distances are integer
    * sums of those, and the exact re-rank ranks on the quantized
    * cosine — so encode, shortlist, and re-rank are all
    * integer-deterministic on both engines. m=4 subspaces of 16
    * dims, shortlist=50, the catalog defaults. */
  private lazy val pqOracleSql: String = {
    val m = 4; val sub = 16; val shortlist = 50
    // quantized squared-L2 between int subvector x and double
    // centroid cv, 1e-6 fixed point
    def l2fpSql(x: String, cv: String) =
      s"""CAST(floor(list_sum(list_transform(range($sub),
         |      j -> ($x[j+1] - $cv[j+1]) * ($x[j+1] - $cv[j+1])))
         |      * 1000000 + 0.5) AS BIGINT)""".stripMargin
    s"""WITH qv AS (
       |  SELECT vec_id, CAST(label AS BIGINT) AS label, $quantSql AS v
       |  FROM embeddings),
       |sv AS (
       |  SELECT vec_id, label, sp,
       |    list_slice(v, sp * $sub + 1, (sp + 1) * $sub) AS x
       |  FROM qv CROSS JOIN (SELECT unnest(range($m)) AS sp)),
       |cbx AS (
       |  SELECT label, sp, dim, CAST(sum(e) AS BIGINT) AS sx,
       |    count(*) AS n
       |  FROM (SELECT label, sp, unnest(x) AS e,
       |          generate_subscripts(x, 1) AS dim FROM sv)
       |  GROUP BY label, sp, dim),
       |cb AS (
       |  SELECT label, sp, list(sx / n ORDER BY dim) AS cv
       |  FROM cbx GROUP BY label, sp),
       |enc AS (
       |  SELECT vec_id, sp, label AS code FROM (
       |    SELECT s.vec_id, s.sp, c.label,
       |      row_number() OVER (PARTITION BY s.vec_id, s.sp
       |        ORDER BY ${l2fpSql("s.x", "c.cv")}, c.label) AS rn
       |    FROM sv s JOIN cb c ON c.sp = s.sp)
       |  WHERE rn = 1),
       |adc AS (
       |  SELECT s.vec_id AS qid, s.sp, c.label AS code,
       |    ${l2fpSql("s.x", "c.cv")} AS qdist
       |  FROM sv s JOIN cb c ON c.sp = s.sp
       |  WHERE s.vec_id < 10),
       |adist AS (
       |  SELECT a.qid, e.vec_id, CAST(sum(a.qdist) AS BIGINT) AS d
       |  FROM enc e JOIN adc a ON a.sp = e.sp AND a.code = e.code
       |  WHERE e.vec_id <> a.qid
       |  GROUP BY a.qid, e.vec_id),
       |cand AS (
       |  SELECT qid, vec_id FROM (
       |    SELECT qid, vec_id,
       |      row_number() OVER (PARTITION BY qid
       |        ORDER BY d, vec_id) AS rn
       |    FROM adist)
       |  WHERE rn <= $shortlist),
       |pn AS (
       |  SELECT vec_id, v,
       |    CAST(list_sum(list_transform(v, x -> x*x)) AS BIGINT) AS n2
       |  FROM qv),
       |scored AS (
       |  SELECT c.qid, c.vec_id,
       |    CAST(floor(
       |      CAST(CAST(list_sum(list_transform(range(64),
       |        i -> q.v[i+1] * e.v[i+1])) AS BIGINT) AS DOUBLE)
       |      / sqrt(CAST(q.n2 AS DOUBLE) * CAST(e.n2 AS DOUBLE))
       |      * 1000000 + 0.5) AS BIGINT) AS cos_fp
       |  FROM cand c
       |  JOIN pn q ON q.vec_id = c.qid
       |  JOIN pn e ON e.vec_id = c.vec_id),
       |ranked AS (
       |  SELECT qid, vec_id, cos_fp,
       |    row_number() OVER (PARTITION BY qid
       |      ORDER BY cos_fp DESC, vec_id) AS rank
       |  FROM scored)
       |SELECT qid, CAST(rank AS BIGINT) AS rank, vec_id, cos_fp
       |FROM ranked WHERE rank <= 5
       |ORDER BY qid, rank""".stripMargin
  }

  /** sign of JL hyperplane component (o, j): low bit of the first
    * byte of md5("rp_o_j") — same constant-derivation scheme as
    * [[sgn]], re-derivable in the oracle SQL. */
  private def rpSgn(o: Int, j: Int): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"rp_${o}_${j}".getBytes("UTF-8"))
    if ((d(0) & 1) == 1) 1L else -1L
  }

  /** Johnson–Lindenstrauss ±1 random projection 64 → [[outDims]]
    * dims: y_o = Σ_j sgn(o,j)·v_j over the quantized corpus — the
    * dimensionality-reduction pass run in front of clustering/ANN
    * when even the raw index width is too expensive at corpus scale.
    * The signs are plan-time literals exactly like [[lshBuckets]]'s
    * hyperplanes, so the whole projection is a map-side codegen'd
    * expression: no sign-table join, no shuffle before the final
    * presentation sort, corpus touched once. Exact integer
    * arithmetic end-to-end (|y| ≤ 64·max|v| ≪ 2^53); long-form
    * output keeps the oracle hash layout-independent. */
  def randomProjection(s: SparkSession, dir: String, outDims: Int = 16)
      : DataFrame = {
    val yCols: Seq[Column] = (0 until outDims).map { o =>
      val sg = (0 until 64).map(j => rpSgn(o, j))
      aggregate(zip_with(col("v"), typedlit(sg), (x, sgc) => x * sgc),
        lit(0L), (acc, x) => acc + x)
    }
    vecs(s, dir).select(col("vec_id"),
        posexplode(array(yCols: _*)).as(Seq("out_dim", "y")))
      .select(col("vec_id"), col("out_dim").cast("long").as("out_dim"),
        col("y"))
      .orderBy(col("vec_id"), col("out_dim"))
  }

  /** PQ-ADC KNN: encode, look up, shortlist, exact re-rank. */
  def knnPq(s: SparkSession, dir: String, m: Int = 4,
      shortlist: Int = 50): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dim = 64
    val sub = dim / m
    val all = t(s, dir, "embeddings")
      .select(col("vec_id"), col("label").cast("long").as("label"),
        quant(col("embedding")).as("v"))
    // codebook: mean subvector per (label, subspace), in quantized
    // units — slice per subspace, VecSum map-side, one division at
    // the end (integer sums < 2^53 make the double mean exact, same
    // value as the per-dimension avg formulation). A STANDING
    // artifact (labels × subspaces rows): persisted once per dataset
    // via SideTables like the IVF coarse index — the codebook is
    // exactly what a PQ deployment trains once and ships with the
    // index. Doubles roundtrip parquet exactly, so the persisted
    // means are bit-identical to the freshly-built ones.
    val cb = SideTables.getOrBuild(s, dir, s"pq_codebook_m$m",
      Seq("embeddings")) {
      all
        .select(col("label"), col("v"),
          explode(sequence(lit(0), lit(m - 1))).as("sp"))
        .withColumn("x", slice(col("v"), col("sp") * sub + 1, lit(sub)))
        .groupBy(col("label"), col("sp"))
        .agg(vecSum(col("x")).as("sx"), count(lit(1)).as("n"))
        .withColumn("cv",
          transform(col("sx"), e => e.cast("double") / col("n")))
        .select(col("label"), col("sp"), col("cv"))
    }
    // native codegen'd squared L2 (same left-to-right double
    // accumulation as the HOF formulation — FunctionsSpec pins exact
    // parity; HOFs evaluate interpreted, this fuses into codegen),
    // QUANTIZED to 1e-6 fixed point: the q40/q43 contract that makes
    // every downstream comparison integer-deterministic across
    // engines (subspace distances are ≤ 16·(2·10⁴)² = 6.4·10⁹, so
    // ×10⁶ stays under 2^53 and the floor is exact)
    graft.functions.SquaredL2.register(s)
    def l2fp(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      floor(expr(s"sq_l2_dist(${a.toString}, ${b.toString})") * 1000000
        + 0.5).cast("long")
    // subvector slicer (vec, subspace) — shared by the corpus encode
    // (inside the side-table build) and the tiny per-query slice
    def subvecs(rows: DataFrame): DataFrame = rows
      .select(col("vec_id"), col("v"),
        explode(sequence(lit(0), lit(m - 1))).as("sp"))
      .withColumn("x", slice(col("v"), col("sp") * sub + 1, lit(sub)))
      .drop("v")
    // encode: nearest centroid per (vec, subspace); ties break on
    // label. min_by over a (dist, label) struct, NOT a row_number
    // window: the argmin becomes a partial-aggregable hash-agg
    // (combines map-side) instead of a sort within every group.
    // The encoded corpus IS the PQ index (|corpus|×m compact rows,
    // the 16×-compressed representation ADC scans instead of raw
    // vectors) — a standing artifact, persisted via SideTables: after
    // the first build every session's q84 reads the parquet codes and
    // never re-encodes the corpus.
    val codes = SideTables.getOrBuild(s, dir, s"pq_codes_m$m",
      Seq("embeddings")) {
      subvecs(all).join(broadcast(cb), "sp")
        .withColumn("dist", l2fp(col("x"), col("cv")))
        .groupBy(col("vec_id"), col("sp"))
        .agg(min_by(col("label"), struct(col("dist"), col("label")))
          .as("code"))
    }
    // per-query ADC lookup table: distance to EVERY centroid per
    // subspace. Built from the query slice only (vec_id < 10 pushes
    // into the parquet scan), so the full-corpus subvector table is
    // never materialized outside the one-off index build above.
    val adc = subvecs(all.filter(col("vec_id") < 10))
      .select(col("vec_id").as("qid"), col("sp"), col("x"))
      .join(broadcast(cb), "sp")
      .select(col("qid"), col("sp"), col("label").as("code"),
        l2fp(col("x"), col("cv")).as("qdist"))
    // approximate distance = sum of m lookups; shortlist per query
    val wShort = Window.partitionBy(col("qid"))
      .orderBy(col("adist"), col("vec_id"))
    val cands = codes.join(broadcast(adc), Seq("sp", "code"))
      .filter(col("vec_id") =!= col("qid"))
      .groupBy(col("qid"), col("vec_id"))
      .agg(sum(col("qdist")).as("adist"))
      .withColumn("rn", row_number().over(wShort))
      .filter(col("rn") <= shortlist)
      .select(col("qid"), col("vec_id"))
    // exact re-rank of the shortlist only
    val queries = all.select(col("vec_id").as("qid"), col("v").as("qv"))
      .filter(col("qid") < 10)
    val wRank = Window.partitionBy(col("qid"))
      .orderBy(col("cos_fp").desc, col("vec_id"))
    cands.join(broadcast(queries), "qid")
      .join(all.select(col("vec_id"), col("v")), "vec_id")
      .select(col("qid"), col("vec_id"),
        floor(qcos(s, "qv", "v") * 1000000 + 0.5).cast("long")
          .as("cos_fp"))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= 5)
      .select(col("qid"), col("rank").cast("long").as("rank"),
        col("vec_id"), col("cos_fp"))
      .orderBy(col("qid"), col("rank"))
  }

  // --------------------------------------------------------------------
  // Incremental PQ-index maintenance (q269/q271) — the codes-side twin
  // of q267's coarse-index merge, under the contract a real PQ
  // deployment runs: the codebook is TRAINED ONCE on the standing
  // corpus and FROZEN; an arriving vector shard is encoded under that
  // frozen codebook and its codes are APPENDED to the standing code
  // table. Merged == rebuilt therefore means "rebuilt under the same
  // frozen codebook", which the oracle re-derives from scratch — and
  // the honest cost of freezing is measured by q271's drift audit
  // (mean quantization error of shard vs standing codes), the signal
  // that tells the pipeline when a retrain is actually warranted.

  /** arriving-shard split of the vector corpus: md5-derived bucket of
    * vec_id, ≥ 80 = the 20% "new" shard (same split law as q267's
    * coarse-index delta and q265's document shard). */
  private def vecShard(c: Column): Column = hashBucket(c) >= 80

  private def vecShardSql: String =
    "CAST(('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 15)) " +
      "AS BIGINT) % 100 >= 80"

  /** (vec_id, is_shard, sp, x): the m=4 16-dim subvector slices of the
    * quantized corpus, shard-flagged. */
  private def pqSubvecs(s: SparkSession, dir: String, m: Int, sub: Int)
      : DataFrame =
    t(s, dir, "embeddings")
      .select(col("vec_id"), col("label").cast("long").as("label"),
        quant(col("embedding")).as("v"),
        vecShard(col("vec_id")).as("is_shard"))
      .select(col("vec_id"), col("label"), col("is_shard"), col("v"),
        explode(sequence(lit(0), lit(m - 1))).as("sp"))
      .withColumn("x", slice(col("v"), col("sp") * sub + 1, lit(sub)))
      .drop("v")

  /** the FROZEN codebook: per-(label, subspace) mean subvector over
    * the STANDING (non-shard) corpus only — persisted once via
    * SideTables exactly like q84's full-corpus codebook, but trained
    * on the base slice so the shard's arrival cannot silently move
    * the centroids the standing codes were encoded against. */
  private def pqBaseCodebook(s: SparkSession, dir: String, m: Int,
      sub: Int): DataFrame =
    SideTables.getOrBuild(s, dir, s"pq_codebook_base_m$m",
      Seq("embeddings")) {
      pqSubvecs(s, dir, m, sub).filter(!col("is_shard"))
        .groupBy(col("label"), col("sp"))
        .agg(vecSum(col("x")).as("sx"), count(lit(1)).as("n"))
        .withColumn("cv",
          transform(col("sx"), e => e.cast("double") / col("n")))
        .select(col("label"), col("sp"), col("cv"))
    }

  /** nearest-centroid encode of `rows` under codebook `cb` — min_by
    * over a (dist, label) struct: a partial-aggregable hash-agg, no
    * per-group sort (same shape as q84's encoder). */
  private[graft] def pqEncode(s: SparkSession, rows: DataFrame, cb: DataFrame)
      : DataFrame = {
    graft.functions.SquaredL2.register(s)
    rows.select(col("vec_id"), col("sp"), col("x"))
      .join(broadcast(cb), "sp")
      .withColumn("dist",
        floor(expr("sq_l2_dist(x, cv)") * 1000000 + 0.5).cast("long"))
      .groupBy(col("vec_id"), col("sp"))
      .agg(min_by(col("label"), struct(col("dist"), col("label")))
        .as("code"))
  }

  /** q269: standing PQ code table absorbs the arriving shard. The
    * base codes are a standing artifact (built once from the base
    * slice under the frozen base codebook); the merge encodes ONLY
    * the |shard| subvectors against the broadcast codebook and
    * appends — the base vectors are never re-read, so per-shard cost
    * is |shard| × (m encodes) + the standing table append, the same
    * sub-linear shape as q265/q267. The oracle rebuilds the full code
    * table from scratch under the base-trained codebook, so the hash
    * match IS the merged==rebuilt proof (per vector, per subspace,
    * per provenance kind). */
  private lazy val pqDeltaQueryDef: QueryDef = {
    val m = 4; val sub = 16
    QueryDef("q269_pq_delta_encode",
      (s, dir) => {
        val cb = pqBaseCodebook(s, dir, m, sub)
        val sv = pqSubvecs(s, dir, m, sub)
        val baseCodes = SideTables.getOrBuild(s, dir,
          s"pq_codes_base_m$m", Seq("embeddings")) {
          pqEncode(s, sv.filter(!col("is_shard")), cb)
        }
        val merged = SideTables.getOrBuild(s, dir,
          s"pq_codes_merged_m$m", Seq("embeddings")) {
          baseCodes.unionByName(pqEncode(s, sv.filter(col("is_shard")), cb))
        }
        merged
          .withColumn("kind", when(vecShard(col("vec_id")), lit("shard"))
            .otherwise(lit("standing")))
          .select(col("vec_id"), col("sp").cast("long").as("sp"),
            col("code"), col("kind"))
          .orderBy(col("vec_id"), col("sp"))
      },
      Some(s"""WITH qv AS (
        |  SELECT vec_id, CAST(label AS BIGINT) AS label, $quantSql AS v,
        |    $vecShardSql AS is_shard
        |  FROM embeddings),
        |sv AS (
        |  SELECT vec_id, label, is_shard, sp,
        |    list_slice(v, sp * $sub + 1, (sp + 1) * $sub) AS x
        |  FROM qv CROSS JOIN (SELECT unnest(range($m)) AS sp)),
        |cbx AS (
        |  SELECT label, sp, dim, CAST(sum(e) AS BIGINT) AS sx,
        |    count(*) AS n
        |  FROM (SELECT label, sp, unnest(x) AS e,
        |          generate_subscripts(x, 1) AS dim
        |        FROM sv WHERE NOT is_shard)
        |  GROUP BY label, sp, dim),
        |cb AS (
        |  SELECT label, sp, list(sx / n ORDER BY dim) AS cv
        |  FROM cbx GROUP BY label, sp),
        |enc AS (
        |  SELECT vec_id, is_shard, sp, label AS code FROM (
        |    SELECT s.vec_id, s.is_shard, s.sp, c.label,
        |      row_number() OVER (PARTITION BY s.vec_id, s.sp
        |        ORDER BY ${pqL2fpSql("s.x", "c.cv", sub)}, c.label) AS rn
        |    FROM sv s JOIN cb c ON c.sp = s.sp)
        |  WHERE rn = 1)
        |SELECT vec_id, CAST(sp AS BIGINT) AS sp, code,
        |  CASE WHEN is_shard THEN 'shard' ELSE 'standing' END AS kind
        |FROM enc ORDER BY vec_id, sp""".stripMargin))
  }

  /** quantized squared-L2 between int subvector and double centroid in
    * 1e-6 fixed point — q84's oracle formula, shared by q269/q271. */
  private def pqL2fpSql(x: String, cv: String, sub: Int): String =
    s"""CAST(floor(list_sum(list_transform(range($sub),
       |      j -> ($x[j+1] - $cv[j+1]) * ($x[j+1] - $cv[j+1])))
       |      * 1000000 + 0.5) AS BIGINT)""".stripMargin

  /** q271: codebook-drift audit — mean quantization error (nearest-
    * centroid squared-L2, fp) per (subspace, provenance kind) under
    * the FROZEN base codebook. shard-vs-standing divergence here is
    * the operational retrain trigger for the q269 contract: a
    * distribution-shifted shard encodes badly against centroids it
    * never trained, and this row surfaces it as a hash-checked
    * catalog fact rather than a buried spec. Sums go through
    * DECIMAL(38,0) (exact, associative — the dist sum would overflow
    * a long at ~5M vectors); the mean is an integer DIV, so both
    * engines agree bit-for-bit. */
  private lazy val pqDriftQueryDef: QueryDef = {
    val m = 4; val sub = 16
    QueryDef("q271_pq_codebook_drift",
      (s, dir) => {
        graft.functions.SquaredL2.register(s)
        val cb = pqBaseCodebook(s, dir, m, sub)
        pqSubvecs(s, dir, m, sub)
          .select(col("vec_id"), col("is_shard"), col("sp"), col("x"))
          .join(broadcast(cb), "sp")
          .withColumn("dist",
            floor(expr("sq_l2_dist(x, cv)") * 1000000 + 0.5).cast("long"))
          .groupBy(col("vec_id"), col("is_shard"), col("sp"))
          .agg(min(col("dist")).as("dist"))
          .groupBy(col("sp"), col("is_shard"))
          .agg(count(lit(1)).as("n_vecs"),
            sum(col("dist").cast(DecimalType(38, 0))).as("sd"))
          .select(col("sp").cast("long").as("sp"),
            when(col("is_shard"), lit("shard")).otherwise(lit("standing"))
              .as("kind"),
            col("n_vecs"),
            expr("CAST(sd DIV n_vecs AS BIGINT)").as("mean_err_fp"))
          .orderBy(col("sp"), col("kind"))
      },
      Some(s"""WITH qv AS (
        |  SELECT vec_id, CAST(label AS BIGINT) AS label, $quantSql AS v,
        |    $vecShardSql AS is_shard
        |  FROM embeddings),
        |sv AS (
        |  SELECT vec_id, label, is_shard, sp,
        |    list_slice(v, sp * $sub + 1, (sp + 1) * $sub) AS x
        |  FROM qv CROSS JOIN (SELECT unnest(range($m)) AS sp)),
        |cbx AS (
        |  SELECT label, sp, dim, CAST(sum(e) AS BIGINT) AS sx,
        |    count(*) AS n
        |  FROM (SELECT label, sp, unnest(x) AS e,
        |          generate_subscripts(x, 1) AS dim
        |        FROM sv WHERE NOT is_shard)
        |  GROUP BY label, sp, dim),
        |cb AS (
        |  SELECT label, sp, list(sx / n ORDER BY dim) AS cv
        |  FROM cbx GROUP BY label, sp),
        |best AS (
        |  SELECT s.vec_id, s.is_shard, s.sp,
        |    min(${pqL2fpSql("s.x", "c.cv", sub)}) AS dist
        |  FROM sv s JOIN cb c ON c.sp = s.sp
        |  GROUP BY 1, 2, 3)
        |SELECT CAST(sp AS BIGINT) AS sp,
        |  CASE WHEN is_shard THEN 'shard' ELSE 'standing' END AS kind,
        |  count(*) AS n_vecs,
        |  CAST(sum(dist) // count(*) AS BIGINT) AS mean_err_fp
        |FROM best GROUP BY 1, 2
        |ORDER BY sp, kind""".stripMargin))
  }

  /** q282: PQ codes under RETRACTION — the last artifact family's
    * forget half (CC q274, triangles q275, bands q276, HLL q277,
    * IVF q278). Codes are per-vector rows encoded under the FROZEN
    * base codebook, so deleting vectors is a PURE ROW FILTER of the
    * standing code table — no re-encoding, no neighbor effects — and
    * that is precisely what needs proving: the codebook stays frozen
    * even though deleted BASE vectors helped train it (the deletion
    * band [40,50) cuts through base and shard alike), because
    * retraining on the survivors would silently re-code the ENTIRE
    * corpus — a retrain is q271's drift-triggered DECISION, never a
    * retraction side effect. The oracle trains the codebook on the
    * full base slice (deleted vectors included — the frozen
    * contract) and encodes ONLY survivors from scratch, so the hash
    * match proves filter == rebuilt-for-survivors-under-frozen-
    * codebook, per vector, per subspace. The retained table publishes
    * via SideTables (`pq_codes_retained_m4`, keyed through the merged
    * artifact's path); per-purge cost is one |codes| filter scan —
    * vectors are never re-read. */
  private lazy val pqRetractQueryDef: QueryDef = {
    val m = 4; val sub = 16
    QueryDef("q282_pq_retract",
      (s, dir) => {
        val cb = pqBaseCodebook(s, dir, m, sub)
        val sv = pqSubvecs(s, dir, m, sub)
        val baseCodes = SideTables.getOrBuild(s, dir,
          s"pq_codes_base_m$m", Seq("embeddings")) {
          pqEncode(s, sv.filter(!col("is_shard")), cb)
        }
        val merged = SideTables.getOrBuild(s, dir,
          s"pq_codes_merged_m$m", Seq("embeddings")) {
          baseCodes.unionByName(pqEncode(s, sv.filter(col("is_shard")), cb))
        }
        val retained = SideTables.getOrBuild(s, dir,
          s"pq_codes_retained_m$m", Seq("embeddings")) {
          val b = hashBucket(col("vec_id"))
          merged.filter(!(b >= 40 && b < 50))
        }
        retained
          .withColumn("kind", when(vecShard(col("vec_id")), lit("shard"))
            .otherwise(lit("standing")))
          .select(col("vec_id"), col("sp").cast("long").as("sp"),
            col("code"), col("kind"))
          .orderBy(col("vec_id"), col("sp"))
      },
      Some(s"""WITH qv AS (
        |  SELECT vec_id, CAST(label AS BIGINT) AS label, $quantSql AS v,
        |    $vecShardSql AS is_shard
        |  FROM embeddings),
        |sv AS (
        |  SELECT vec_id, label, is_shard, sp,
        |    list_slice(v, sp * $sub + 1, (sp + 1) * $sub) AS x
        |  FROM qv CROSS JOIN (SELECT unnest(range($m)) AS sp)),
        |cbx AS (
        |  SELECT label, sp, dim, CAST(sum(e) AS BIGINT) AS sx,
        |    count(*) AS n
        |  FROM (SELECT label, sp, unnest(x) AS e,
        |          generate_subscripts(x, 1) AS dim
        |        FROM sv WHERE NOT is_shard)
        |  GROUP BY label, sp, dim),
        |cb AS (
        |  SELECT label, sp, list(sx / n ORDER BY dim) AS cv
        |  FROM cbx GROUP BY label, sp),
        |enc AS (
        |  SELECT vec_id, is_shard, sp, label AS code FROM (
        |    SELECT s.vec_id, s.is_shard, s.sp, c.label,
        |      row_number() OVER (PARTITION BY s.vec_id, s.sp
        |        ORDER BY ${pqL2fpSql("s.x", "c.cv", sub)}, c.label) AS rn
        |    FROM sv s JOIN cb c ON c.sp = s.sp
        |    WHERE CAST(('0x' || substring(md5(CAST(s.vec_id AS VARCHAR)),
        |      1, 15)) AS BIGINT) % 100 NOT BETWEEN 40 AND 49)
        |  WHERE rn = 1)
        |SELECT vec_id, CAST(sp AS BIGINT) AS sp, code,
        |  CASE WHEN is_shard THEN 'shard' ELSE 'standing' END AS kind
        |FROM enc ORDER BY vec_id, sp""".stripMargin))
  }
}
