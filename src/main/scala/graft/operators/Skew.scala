package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Skew mitigation for joins with hot keys (100 TB survival kit): salt the
  * fact side with a deterministic shard and explode the dim side across
  * all shards — the hot key's rows spread over `salts` reducers instead of
  * one straggler. AQE's skew-join handles sort-merge cases adaptively;
  * explicit salting also covers hash-partitioned aggregations and is
  * deterministic for the oracle.
  */
object Skew {

  /** Inner-join `fact` with (small-ish) `dim` on fact(factKey) ==
    * dim(dimKey), salted across `salts` shards.
    */
  def saltedJoin(fact: DataFrame, dim: DataFrame, factKey: String,
                 dimKey: String, salts: Int = 16): DataFrame = {
    val saltedFact = fact.withColumn("_salt",
      pmod(hash(col(factKey), monotonically_increasing_id()), lit(salts)))
    val saltedDim = dim.withColumn("_salt",
      explode(array((0 until salts).map(lit): _*)))
    saltedFact.join(saltedDim,
      saltedFact(factKey) === saltedDim(dimKey) && saltedFact("_salt") === saltedDim("_salt"))
      .drop("_salt")
  }

  // q38 — the salted join under the DuckDB oracle: events ⋈ customer on
  // the hot fact key, salted across 8 shards, rolled up per market
  // segment. The oracle is the UNSALTED join + aggregate, so the gate
  // hash-matches only if salting is a pure physical transform — every
  // (fact row, dim row) pair produced exactly once, no pair lost to a
  // salt mismatch, none duplicated by the dim-side explode. The salt
  // assignment itself is allowed to be nondeterministic across runs
  // (hash of key + row id); correctness cannot depend on WHICH shard a
  // row lands in, and this gate is what pins that. At 100 TB this is
  // the survival shape for a hot-key join that AQE cannot rescue (hash
  // aggregations after the join, or a broadcast-ineligible dim): the
  // hot key's rows spread over `salts` reducers instead of one
  // straggler, at the bounded cost of `salts`× dim replication.
  def q38SaltedJoin(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.types.DecimalType
    val ev = graft.core.Tables.events(s, d).toDF().select($"user_id", $"value")
    val cust = graft.core.Tables.customer(s, d).toDF()
      .select($"c_custkey", $"c_mktsegment")
    saltedJoin(ev, cust, "user_id", "c_custkey", salts = 8)
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n_events"),
        round(sum($"value".cast(DecimalType(38, 10))), 2).cast("double")
          .as("sum_value"))
      .orderBy($"c_mktsegment")
  }

  val q38Sql: String =
    """SELECT c_mktsegment, COUNT(*) AS n_events,
      |  CAST(ROUND(SUM(CAST(value AS DECIMAL(38,10))), 2) AS DOUBLE) AS sum_value
      |FROM events JOIN customer ON user_id = c_custkey
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q38_salted_join" -> q38SaltedJoin _)

  def oracles: Map[String, String] = Map(
    "q38_salted_join" -> q38Sql)
}
