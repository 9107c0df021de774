package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Skew mitigation for hot join keys (SURVEY.md "salting for skew";
  * complements AQE's runtime skew-join splitting, which only fires on
  * sort-merge joins past its thresholds).
  *
  * `saltedJoin` spreads a hot fact-side key over `saltFactor` shuffle
  * partitions by appending a deterministic salt derived from stable
  * fact columns, and replicates the (small) build side once per salt
  * value. Row-identical to the plain join, but the hot key's rows land
  * on `saltFactor` reducers instead of one — the difference between a
  * straggler task and an even stage at 100 TB.
  */
object Skew {

  /** equi-join `fact ⋈ dim` on `key`, salted. `saltCols` must be
    * stable fact columns (they only spread rows, never change the
    * join result). `dim` is replicated ×saltFactor — keep it the
    * small side. */
  def saltedJoin(fact: DataFrame, dim: DataFrame, key: String,
      saltFactor: Int, saltCols: Seq[String]): DataFrame = {
    val salted = fact.withColumn("__salt",
      pmod(hash(saltCols.map(col): _*), lit(saltFactor)))
    val replicated = dim.withColumn("__salt",
      explode(sequence(lit(0), lit(saltFactor - 1))))
    salted.join(replicated, Seq(key, "__salt")).drop("__salt")
  }

  /** register every testdata table as a temp view so the full catalog
    * surface is also reachable via `spark.sql(...)` — the engine's
    * answer to the reference's documented jq query surface. */
  def registerTables(s: SparkSession, dir: String): Unit =
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings").foreach { name =>
      Q.t(s, dir, name).createOrReplaceTempView(name)
    }
}
