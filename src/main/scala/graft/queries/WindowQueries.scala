package graft.queries

import graft.{QueryDef, QueryGroup, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Window surface (SURVEY.md §2.2 "window: ranking" / "window: analytic + frames").
  *
  * Not present in the reference (it re-reads MySQL AUTO_INCREMENT for keys,
  * mysql_process.py:13-25); windows are the deterministic distributed
  * replacement for that pattern plus the analytic battery the engine exposes.
  *
  * Scale notes: every window here is `partitionBy(user_id | custkey | type)` —
  * work distributes by partition key and none of them is a global
  * single-partition window (a bare `Window.orderBy` would serialize 100 TB
  * through one task). Frame sums run over DECIMAL so results are exact and order-independent.
  */
object WindowQueries extends QueryGroup {

  private def dec6(c: org.apache.spark.sql.Column) = c.cast(DecimalType(18, 6))

  val defs: Seq[QueryDef] = Seq(

    // row_number ranking + per-group top-k (top-3 orders per customer).
    QueryDef(
      "w_ranking_topk",
      (s, d) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        Tables.orders(s, d)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
          .orderBy("o_custkey", "rn")
      },
      Some("""SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
             |  SELECT o_custkey, o_orderkey, o_totalprice,
             |         row_number() OVER (PARTITION BY o_custkey
             |                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
             |  FROM orders)
             |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin)),

    // rank / dense_rank with genuine ties (priority strings repeat per status).
    QueryDef(
      "w_rank_dense",
      (s, d) => {
        val w = Window.partitionBy(col("o_orderstatus")).orderBy(col("o_orderpriority"))
        Tables.orders(s, d)
          .select(
            col("o_orderkey"), col("o_orderstatus"), col("o_orderpriority"),
            rank().over(w).as("rnk"),
            dense_rank().over(w).as("drnk"))
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_orderstatus, o_orderpriority,
             |  rank() OVER (PARTITION BY o_orderstatus ORDER BY o_orderpriority) AS rnk,
             |  dense_rank() OVER (PARTITION BY o_orderstatus ORDER BY o_orderpriority) AS drnk
             |FROM orders ORDER BY o_orderkey""".stripMargin)),

    // lag/lead analytics per user (event deltas along the timeline).
    QueryDef(
      "w_lag_lead",
      (s, d) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        Tables.events(s, d)
          .select(
            col("user_id"), col("event_id"), col("value"),
            lag("value", 1).over(w).as("prev_value"),
            lead("value", 1).over(w).as("next_value"),
            (col("value") - lag("value", 1).over(w)).as("delta"))
          .orderBy("user_id", "event_id")
      },
      Some("""SELECT user_id, event_id, value,
             |  lag(value, 1) OVER w AS prev_value,
             |  lead(value, 1) OVER w AS next_value,
             |  value - lag(value, 1) OVER w AS delta
             |FROM events
             |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
             |ORDER BY user_id, event_id""".stripMargin)),

    // ROWS frame: 4-row moving sum/count per user; DECIMAL accumulate = exact.
    QueryDef(
      "w_rows_frame",
      (s, d) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
          .rowsBetween(-3, Window.currentRow)
        Tables.events(s, d)
          .select(
            col("user_id"), col("event_id"),
            sum(dec6(col("value"))).over(w).cast("double").as("mov_sum"),
            count(lit(1)).over(w).as("mov_n"))
          .orderBy("user_id", "event_id")
      },
      Some("""SELECT user_id, event_id,
             |  CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS mov_sum,
             |  COUNT(*) OVER w AS mov_n
             |FROM events
             |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             |             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
             |ORDER BY user_id, event_id""".stripMargin)),

    // RANGE frame over a numeric ordering column (value-10 .. value peers).
    QueryDef(
      "w_range_frame",
      (s, d) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("value"))
          .rangeBetween(-10, Window.currentRow)
        Tables.events(s, d)
          .select(
            col("user_id"), col("event_id"), col("value"),
            count(lit(1)).over(w).as("n_within_10"),
            sum(dec6(col("value"))).over(w).cast("double").as("sum_within_10"))
          .orderBy("user_id", "event_id")
      },
      Some("""SELECT user_id, event_id, value,
             |  COUNT(*) OVER w AS n_within_10,
             |  CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS sum_within_10
             |FROM events
             |WINDOW w AS (PARTITION BY user_id ORDER BY value
             |             RANGE BETWEEN 10 PRECEDING AND CURRENT ROW)
             |ORDER BY user_id, event_id""".stripMargin)),

    // ntile / percent_rank / cume_dist per event_type (integer-ratio doubles —
    // bit-identical across engines, no rounding needed).
    QueryDef(
      "w_ntile_percentiles",
      (s, d) => {
        val w = Window.partitionBy(col("event_type")).orderBy(col("value"), col("event_id"))
        Tables.events(s, d)
          .select(
            col("event_type"), col("event_id"),
            ntile(4).over(w).as("quartile"),
            percent_rank().over(w).as("pr"),
            cume_dist().over(w).as("cd"))
          .orderBy("event_type", "event_id")
      },
      Some("""SELECT event_type, event_id,
             |  ntile(4) OVER w AS quartile,
             |  percent_rank() OVER w AS pr,
             |  cume_dist() OVER w AS cd
             |FROM events
             |WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
             |ORDER BY event_type, event_id""".stripMargin)),

    // first/last over an unbounded frame: first + latest event type per user.
    QueryDef(
      "w_first_last",
      (s, d) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        Tables.events(s, d)
          .select(
            col("user_id"), col("event_id"),
            first("event_type").over(w).as("first_type"),
            last("event_type").over(w).as("last_type"))
          .orderBy("user_id", "event_id")
      },
      Some("""SELECT user_id, event_id,
             |  first_value(event_type) OVER w AS first_type,
             |  last_value(event_type) OVER w AS last_type
             |FROM events
             |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             |ORDER BY user_id, event_id""".stripMargin))
  )
}
