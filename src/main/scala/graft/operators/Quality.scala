package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Data-quality validation (SURVEY §2.18) — the constraint-checking pass a
  * training-data pipeline runs before anything downstream trusts a table
  * (the pattern popularized by declarative data-unit-test libraries).
  *
  * Design for 100 TB: every row-local constraint compiles to ONE
  * conditional aggregate, and the whole declared suite evaluates in a
  * SINGLE scan + aggregate job — adding a constraint adds a column to the
  * agg, never a pass over the table. Only referential integrity needs a
  * second input; it runs as a LEFT ANTI join against the parent's
  * (pre-aggregated, usually broadcastable) key set — the orphan count, not
  * an orphan materialization. Results are exact integer counts: a quality
  * gate that reports "approximately clean" is not a gate.
  */
object Quality {

  /** One declarative row-local constraint: `name` labels the report row,
    * `violation` is a boolean column that is true where the row BREAKS
    * the constraint.
    */
  final case class Check(name: String, violation: Column)

  def notNull(name: String, c: Column): Check =
    Check(name, c.isNull)
  def inRange(name: String, c: Column, lo: Double, hi: Double): Check =
    Check(name, !(c >= lo && c <= hi) || c.isNull)
  def inSet(name: String, c: Column, allowed: Seq[String]): Check =
    Check(name, !c.isin(allowed: _*) || c.isNull)
  def matches(name: String, c: Column, regex: String): Check =
    Check(name, !c.rlike(regex) || c.isNull)

  /** Evaluate all row-local checks in one aggregate over one scan:
    * rows = (check, n_violations), plus a `rows_total` row so rates are
    * computable downstream without a second count job.
    */
  def report(df: DataFrame, checks: Seq[Check]): DataFrame = {
    val aggs = count(lit(1)).as("rows_total") +:
      checks.map(c => sum(when(c.violation, 1L).otherwise(0L)).as(c.name))
    val row = df.agg(aggs.head, aggs.tail: _*)
    // one wide row -> (check, metric) rows via stack (still one job; the
    // unpivot is over the single aggregated row)
    val pairs = ("rows_total" +: checks.map(_.name))
      .map(n => s"'$n', `$n`").mkString(", ")
    row.selectExpr(
      s"stack(${checks.size + 1}, $pairs) as (chk, n_violations)")
  }

  /** Orphan count for a referential-integrity constraint: children whose
    * `childKey` has no match in `parent`'s `parentKey`. Anti-join against
    * the parent's DISTINCT key set — at scale the key set is the
    * broadcastable side (or AQE picks a shuffle join; either way the
    * child table is scanned once and never collected).
    */
  def orphanCount(child: DataFrame, childKey: String,
                  parent: DataFrame, parentKey: String,
                  name: String): DataFrame = {
    child.select(col(childKey))
      .join(parent.select(col(parentKey).as(childKey)).distinct(),
        Seq(childKey), "left_anti")
      .agg(count(lit(1)).as("n_violations"))
      .select(lit(name).as("chk"), col("n_violations"))
  }

  // q37 — the quality report as a gate: a realistic constraint suite over
  // orders (+ one FK into lineitem), every metric an exact integer the
  // oracle recomputes as plain SQL aggregates. One scan of orders for all
  // row-local checks (plan: single aggregate), one anti-join for the FK.
  // The duplicate-heavy synthetic data makes this a REAL report — the
  // uniqueness check counts actual duplicate keys, not zero.
  def q37QualityReport(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val orders = graft.core.Tables.orders(s, d).toDF()
    val li = graft.core.Tables.lineitem(s, d).toDF()
    val rowChecks = report(orders, Seq(
      notNull("custkey_null", $"o_custkey"),
      inRange("totalprice_range", $"o_totalprice", 0.0, 1e9),
      inSet("status_domain", $"o_orderstatus", Seq("O", "F", "P")),
      notNull("orderdate_null", $"o_orderdate")))
    // uniqueness is a distinct-count, not a row-local predicate: report
    // the number of EXCESS rows over distinct o_orderkey values
    val uniq = orders.agg(
      (count(lit(1)) - countDistinct($"o_orderkey")).as("n_violations"))
      .select(lit("orderkey_dup_rows").as("chk"), $"n_violations")
    val fk = orphanCount(li, "l_orderkey", orders, "o_orderkey",
      "lineitem_orphans")
    rowChecks.unionByName(uniq).unionByName(fk)
      .orderBy($"chk")
  }

  val q37Sql: String =
    """SELECT chk, CAST(n_violations AS BIGINT) AS n_violations FROM (
      |  SELECT 'rows_total' AS chk, COUNT(*) AS n_violations FROM orders
      |  UNION ALL
      |  SELECT 'custkey_null', COUNT(*) FILTER (WHERE o_custkey IS NULL) FROM orders
      |  UNION ALL
      |  SELECT 'totalprice_range', COUNT(*) FILTER (
      |    WHERE NOT (o_totalprice >= 0.0 AND o_totalprice <= 1000000000.0)
      |       OR o_totalprice IS NULL) FROM orders
      |  UNION ALL
      |  SELECT 'status_domain', COUNT(*) FILTER (
      |    WHERE o_orderstatus NOT IN ('O', 'F', 'P') OR o_orderstatus IS NULL)
      |  FROM orders
      |  UNION ALL
      |  SELECT 'orderdate_null', COUNT(*) FILTER (WHERE o_orderdate IS NULL) FROM orders
      |  UNION ALL
      |  SELECT 'orderkey_dup_rows', COUNT(*) - COUNT(DISTINCT o_orderkey) FROM orders
      |  UNION ALL
      |  SELECT 'lineitem_orphans', COUNT(*) FROM lineitem l
      |  WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
      |ORDER BY chk""".stripMargin

  // q45 — EXACT grouped quantiles: per-language p50/p90/p99 of document
  // length, the distribution profile a curation run reports before
  // thresholds are chosen (a mean hides the head/tail shape that
  // quality cuts act on). EXACT percentile is deliberate, with its
  // scale contract stated: Spark's percentile aggregate keeps
  // counts-per-distinct-VALUE state with map-side partial merge, so
  // memory is O(|distinct lengths|) — bounded here (and for most
  // integer quality metrics: lengths, token counts, scores on a fixed
  // grid) regardless of row count. For genuinely unbounded domains the
  // same query swaps in approx_percentile (t-digest sketch) — same
  // shape, bounded state, no longer oracle-exact. Both engines use the
  // standard linear interpolation at rank q*(n-1); results round to 4
  // digits so representation noise can't flip the hash.
  def q45LengthQuantiles(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    graft.core.Tables.documents(s, d).toDF()
      .groupBy($"lang")
      .agg(
        count(lit(1)).as("n_docs"),
        round(expr("percentile(n_chars, 0.5D)"), 4).as("p50"),
        round(expr("percentile(n_chars, 0.9D)"), 4).as("p90"),
        round(expr("percentile(n_chars, 0.99D)"), 4).as("p99"))
      .orderBy($"lang")
  }

  val q45Sql: String =
    """SELECT lang, COUNT(*) AS n_docs,
      |  ROUND(quantile_cont(n_chars, 0.5), 4) AS p50,
      |  ROUND(quantile_cont(n_chars, 0.9), 4) AS p90,
      |  ROUND(quantile_cont(n_chars, 0.99), 4) AS p99
      |FROM documents
      |GROUP BY lang
      |ORDER BY lang""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q37_quality_report" -> q37QualityReport _,
    "q45_length_quantiles" -> q45LengthQuantiles _)

  def oracles: Map[String, String] = Map(
    "q37_quality_report" -> q37Sql,
    "q45_length_quantiles" -> q45Sql)
}
