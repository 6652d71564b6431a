package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Window-function queries: ranking, lag/lead, running aggregates with
  * ROWS and RANGE frames. All window order specs carry a unique tie-break
  * key so results are deterministic under any partitioning.
  */
object WindowQueries {

  val queries: Seq[Query] = Seq(
    Query("q_window_rank",
      """SELECT o_custkey, o_orderkey,
                row_number() OVER (PARTITION BY o_custkey
                                   ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn,
                rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) AS rnk,
                dense_rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) AS drnk
         FROM orders ORDER BY o_custkey, o_orderkey""",
      (s, d) => {
        val byPrice = Window.partitionBy("o_custkey")
          .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        val rankW = Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc)
        Tables.orders(s, d)
          .select(col("o_custkey"), col("o_orderkey"),
            // int64, matching every SQL engine's window-rank output — the
            // corpus-wide rule keeping hashed integer columns width-skew-free
            row_number().over(byPrice).cast("long").as("rn"),
            rank().over(rankW).cast("long").as("rnk"),
            dense_rank().over(rankW).cast("long").as("drnk"))
          .orderBy("o_custkey", "o_orderkey")
      }),

    Query("q_window_lag",
      """SELECT o_custkey, o_orderkey,
                lag(o_orderkey, 1) OVER (PARTITION BY o_custkey
                                         ORDER BY o_orderdate, o_orderkey) AS prev_ok,
                lead(o_orderkey, 1) OVER (PARTITION BY o_custkey
                                          ORDER BY o_orderdate, o_orderkey) AS next_ok
         FROM orders ORDER BY o_custkey, o_orderkey""",
      (s, d) => {
        val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
        Tables.orders(s, d)
          .select(col("o_custkey"), col("o_orderkey"),
            lag(col("o_orderkey"), 1).over(w).as("prev_ok"),
            lead(col("o_orderkey"), 1).over(w).as("next_ok"))
          .orderBy("o_custkey", "o_orderkey")
      }),

    // Time-series resample + forward-fill: per-customer daily revenue on
    // a dense date spine (min..max order date), gaps filled with the
    // last observed value — the standard gap-fill before any
    // rolling-window feature computation. The spine explodes from ONE
    // row per customer (no cross join with a calendar table) and the
    // fill is a running last() — one shuffle on the customer key total.
    // Customer subset keeps the sf0.01 output bounded (~30 spines of
    // ~2.4k days); at scale the same plan fans out per key.
    Query("q_gap_fill",
      """WITH daily AS (
           SELECT o_custkey, CAST(o_orderdate AS DATE) AS day,
                  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                    AS rev
           FROM orders WHERE o_custkey % 500 = 0 GROUP BY 1, 2),
         span AS (SELECT o_custkey, min(day) AS d0, max(day) AS d1
                  FROM daily GROUP BY 1),
         spine AS (SELECT o_custkey,
                          CAST(unnest(generate_series(d0, d1,
                            INTERVAL 1 DAY)) AS DATE) AS day
                   FROM span)
         SELECT s.o_custkey, s.day,
                last_value(d.rev IGNORE NULLS)
                  OVER (PARTITION BY s.o_custkey ORDER BY s.day
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS filled_rev
         FROM spine s LEFT JOIN daily d USING (o_custkey, day)
         ORDER BY o_custkey, day""",
      (s, d) => {
        val daily = Tables.orders(s, d)
          .filter(col("o_custkey") % 500 === 0)
          .groupBy(col("o_custkey"), to_date(col("o_orderdate")).as("day"))
          .agg(graft.functions.Num.sumMoney(col("o_totalprice")).as("rev"))
        val spine = daily.groupBy("o_custkey")
          .agg(min("day").as("d0"), max("day").as("d1"))
          .select(col("o_custkey"),
            explode(sequence(col("d0"), col("d1"), expr("interval 1 day")))
              .as("day"))
        val w = Window.partitionBy("o_custkey").orderBy("day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        spine.join(daily, Seq("o_custkey", "day"), "left")
          .select(col("o_custkey"), col("day"),
            last(col("rev"), ignoreNulls = true).over(w).as("filled_rev"))
          .orderBy("o_custkey", "day")
      }),

    Query("q_window_running",
      """SELECT o_custkey, o_orderkey,
                CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                     OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running
         FROM orders ORDER BY o_custkey, o_orderkey""",
      (s, d) => {
        // running sum through exact long CENTS so the prefix sums are
        // exact (a running double sum would drift differently from the
        // oracle's DECIMAL text); each prefix sum S is an integer < 2^53
        // (cents < 1e8/row — breaking it needs >9e7 max-price rows in ONE
        // customer's partition), so double(S)/100.0 is the same nearest
        // double the former DECIMAL(18,2) cast emitted
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("o_orderdate"), col("o_orderkey"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.orders(s, d)
          .select(col("o_custkey"), col("o_orderkey"),
            (sum(graft.functions.Num.cents(col("o_totalprice"))).over(w)
              .cast(DoubleType) / lit(100.0)).as("running"))
          .orderBy("o_custkey", "o_orderkey")
      }),

    // Distribution-rank family: ntile buckets + percent_rank + cume_dist.
    // Partitioned (never global) and ordered with a unique tie-break, so
    // every rank is deterministic and each partition windows in parallel.
    Query("q_window_ntile",
      """SELECT o_orderkey,
                ntile(4) OVER (PARTITION BY o_orderpriority
                               ORDER BY o_totalprice, o_orderkey) AS quartile,
                percent_rank() OVER (PARTITION BY o_orderpriority
                                     ORDER BY o_totalprice, o_orderkey) AS pr,
                cume_dist() OVER (PARTITION BY o_orderpriority
                                  ORDER BY o_totalprice, o_orderkey) AS cd
         FROM orders ORDER BY o_orderkey""",
      (s, d) => {
        val w = Window.partitionBy("o_orderpriority")
          .orderBy(col("o_totalprice"), col("o_orderkey"))
        Tables.orders(s, d)
          .select(col("o_orderkey"),
            ntile(4).over(w).cast("long").as("quartile"),
            percent_rank().over(w).as("pr"),
            cume_dist().over(w).as("cd"))
          .orderBy("o_orderkey")
      }),

    // RANGE frame over a numeric ordering — expressed in SQL (the Scala
    // rangeBetween API takes long boundaries; SQL form keeps the double
    // ordering column natural and matches the oracle text exactly).
    // Partitioned by priority: an unpartitioned RANGE window would pull the
    // whole table into one task — a non-starter at scale.
    Query("q_window_range",
      """SELECT o_orderkey,
                count(*) OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice
                               RANGE BETWEEN 1000.0 PRECEDING AND CURRENT ROW) AS n_near
         FROM orders ORDER BY o_orderkey""",
      (s, d) => {
        Tables.orders(s, d).createOrReplaceTempView("orders")
        s.sql(
          """SELECT o_orderkey,
                  count(*) OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice
                                 RANGE BETWEEN 1000.0 PRECEDING AND CURRENT ROW) AS n_near
           FROM orders ORDER BY o_orderkey""")
      }),

    // IGNORE NULLS variants: last non-null carried forward (the
    // gap-filling idiom for sparse columns) + first non-null per frame.
    // Same partition/order discipline — unique tie-break, never global.
    Query("q_window_ignull",
      """SELECT o_custkey, o_orderkey,
                nullif(o_orderpriority, '3-MEDIUM') AS prio,
                last_value(nullif(o_orderpriority, '3-MEDIUM') IGNORE NULLS)
                  OVER w AS last_prio,
                first_value(nullif(o_orderpriority, '3-MEDIUM') IGNORE NULLS)
                  OVER w AS first_prio
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         ORDER BY o_custkey, o_orderkey""",
      (s, d) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("o_orderdate"), col("o_orderkey"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val prio = nullif(col("o_orderpriority"), lit("3-MEDIUM"))
        Tables.orders(s, d)
          .select(col("o_custkey"), col("o_orderkey"), prio.as("prio"),
            last(prio, ignoreNulls = true).over(w).as("last_prio"),
            first(prio, ignoreNulls = true).over(w).as("first_prio"))
          .orderBy("o_custkey", "o_orderkey")
      }),
  )
}
