package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.Tables._

/** AS-OF join — for each left row, the most recent right row with the same
  * key and time <= the left row's time. The canonical CDC-enrichment
  * operator (join a change stream against a slowly-changing dimension
  * "as of" the change time; SURVEY §2.4 names it as the join Spark lacks).
  *
  * Built by composition (preference (a) of the custom-operator ladder):
  * tag both sides, union, and run one `last(..., ignoreNulls)` window per
  * carried column, partitioned by key and ordered by (time, tag). One
  * shuffle on the key + a per-partition sort — the same cost profile as a
  * sort-merge join, no custom physical operator needed, and it inherits
  * AQE/skew handling. Right-side times must be unique per key (pre-
  * aggregate duplicates) for deterministic results.
  */
object AsOf {

  /** @param left     rows to enrich
    * @param right    timeline to look up into; (key, time) must be unique
    * @param key      join key column name (same name both sides)
    * @param time     ordering column name (same name both sides; any
    *                 orderable type)
    * @param carry    right-side columns to carry onto left rows
    * @return left rows + carried columns (null when no right row precedes)
    */
  def join(left: DataFrame, right: DataFrame, key: String, time: String,
           carry: Seq[String]): DataFrame =
    joinImpl(left, right, key, time, carry, forward = false)

  /** Forward AS-OF: for each left row, the EARLIEST right row with the
    * same key and time >= the left row's time (next-event attribution —
    * "the purchase that followed this click"). Same one-shuffle window
    * composition as the backward join, mirrored.
    */
  def joinForward(left: DataFrame, right: DataFrame, key: String, time: String,
                  carry: Seq[String]): DataFrame =
    joinImpl(left, right, key, time, carry, forward = true)

  private def joinImpl(left: DataFrame, right: DataFrame, key: String, time: String,
                       carry: Seq[String], forward: Boolean): DataFrame = {
    val leftCols = left.columns
    // schema-align: left gets null carries, right gets null left-only cols
    val taggedLeft = carry.foldLeft(left.withColumn("_asof_tag", lit(1))) {
      (df, c) => df.withColumn(s"_carry_$c", lit(null).cast(right.schema(c).dataType))
    }
    val rightSlim = right.select((Seq(col(key), col(time)) ++
      carry.map(c => col(c).as(s"_carry_$c"))): _*)
    val taggedRight = leftCols.filterNot(Seq(key, time).contains)
      .foldLeft(rightSlim.withColumn("_asof_tag", lit(0))) {
        (df, c) => df.withColumn(c, lit(null).cast(left.schema(c).dataType))
      }
    val unioned = taggedRight.select(taggedLeft.columns.map(col): _*)
      .unionByName(taggedLeft)
    // Equal-time tiebreak puts the right row on the INCLUSIVE side of the
    // frame: backward (<=) sorts right (tag 0) first so the trailing frame
    // sees it; forward (>=) sorts right last so the leading frame does.
    val w =
      if (forward)
        Window.partitionBy(col(key))
          .orderBy(col(time).asc, col("_asof_tag").desc)
          .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      else
        Window.partitionBy(col(key))
          .orderBy(col(time).asc, col("_asof_tag").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = carry.foldLeft(unioned) { (df, c) =>
      val fill = if (forward) first(col(s"_carry_$c"), ignoreNulls = true)
                 else last(col(s"_carry_$c"), ignoreNulls = true)
      df.withColumn(s"_filled_$c", fill.over(w))
    }
    filled.filter(col("_asof_tag") === 1)
      .select((leftCols.map(col) ++ carry.map(c => col(s"_filled_$c").as(c))): _*)
  }

  // asof01 — enrich purchases with the user's most recent prior click
  // value (inner as-of: purchases with no prior click drop out).
  def asof01Enrich(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = events(s, d).withColumn("ts_us", unix_micros($"ts"))
    // unique (user_id, ts_us) on the right for determinism
    val clicks = ev.filter($"event_type" === "click")
      .groupBy($"user_id", $"ts_us")
      .agg(max($"value").as("click_value"))
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"event_id", $"user_id", $"ts_us", $"value")
    join(purchases, clicks, "user_id", "ts_us", Seq("click_value"))
      .filter($"click_value".isNotNull)
      .select($"event_id", $"user_id", $"value", $"click_value")
      .orderBy($"event_id")
  }

  val asof01Sql: String =
    """WITH clicks AS (
      |  SELECT user_id, epoch_us(ts) AS ts_us, MAX(value) AS click_value
      |  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
      |p AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, value
      |      FROM events WHERE event_type = 'purchase')
      |SELECT p.event_id, p.user_id, p.value, c.click_value
      |FROM p ASOF JOIN clicks c
      |  ON p.user_id = c.user_id AND p.ts_us >= c.ts_us
      |ORDER BY p.event_id""".stripMargin

  // asof02 — forward as-of: attribute each click to the user's NEXT
  // purchase (inner: clicks with no later purchase drop out). DuckDB's
  // native ASOF with `<=` is the independent oracle.
  def asof02NextPurchase(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = events(s, d).withColumn("ts_us", unix_micros($"ts"))
    val purchases = ev.filter($"event_type" === "purchase")
      .groupBy($"user_id", $"ts_us")
      .agg(max($"value").as("purchase_value"))
    val clicks = ev.filter($"event_type" === "click")
      .select($"event_id", $"user_id", $"ts_us", $"value")
    joinForward(clicks, purchases, "user_id", "ts_us", Seq("purchase_value"))
      .filter($"purchase_value".isNotNull)
      .select($"event_id", $"user_id", $"value", $"purchase_value")
      .orderBy($"event_id")
  }

  val asof02Sql: String =
    """WITH purchases AS (
      |  SELECT user_id, epoch_us(ts) AS ts_us, MAX(value) AS purchase_value
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
      |c AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, value
      |      FROM events WHERE event_type = 'click')
      |SELECT c.event_id, c.user_id, c.value, p.purchase_value
      |FROM c ASOF JOIN purchases p
      |  ON c.user_id = p.user_id AND c.ts_us <= p.ts_us
      |ORDER BY c.event_id""".stripMargin

  // asof03 — as-of with TOLERANCE (pandas merge_asof's `tolerance`, kdb
  // wj's window bound): the most recent prior click only counts if it is
  // at most 1 hour stale — the "don't enrich from ancient state" rule
  // every real-time feature store applies. Pure composition over the
  // same one-shuffle window join: the right TIME rides along as a carry
  // column and a residual staleness filter nulls matches outside the
  // bound — correct because the as-of match is the CLOSEST prior row, so
  // if it exceeds the tolerance no earlier row can be inside it. Output
  // includes the measured staleness (exact integer micros).
  def asof03ToleranceEnrich(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val tolUs = 3600L * 1000000L
    val ev = events(s, d).withColumn("ts_us", unix_micros($"ts"))
    val clicks = ev.filter($"event_type" === "click")
      .groupBy($"user_id", $"ts_us")
      .agg(max($"value").as("click_value"))
      .withColumn("click_ts", $"ts_us")
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"event_id", $"user_id", $"ts_us", $"value")
    join(purchases, clicks, "user_id", "ts_us", Seq("click_value", "click_ts"))
      .filter($"click_ts".isNotNull && $"ts_us" - $"click_ts" <= tolUs)
      .select($"event_id", $"user_id", $"value", $"click_value",
        ($"ts_us" - $"click_ts").as("staleness_us"))
      .orderBy($"event_id")
  }

  val asof03Sql: String =
    """WITH clicks AS (
      |  SELECT user_id, epoch_us(ts) AS ts_us, MAX(value) AS click_value
      |  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
      |p AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, value
      |      FROM events WHERE event_type = 'purchase')
      |SELECT p.event_id, p.user_id, p.value, c.click_value,
      |  p.ts_us - c.ts_us AS staleness_us
      |FROM p ASOF JOIN clicks c
      |  ON p.user_id = c.user_id AND p.ts_us >= c.ts_us
      |WHERE p.ts_us - c.ts_us <= 3600000000
      |ORDER BY p.event_id""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "asof03_tolerance" -> asof03ToleranceEnrich _,
    "asof01_enrich" -> asof01Enrich _,
    "asof02_next_purchase" -> asof02NextPurchase _)

  def oracles: Map[String, String] = Map(
    "asof03_tolerance" -> asof03Sql,
    "asof01_enrich" -> asof01Sql,
    "asof02_next_purchase" -> asof02Sql)
}
