package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Statistical / ordered-set aggregates, histogram binning, by-name
  * union, calendar-interval window frames, and the 6-table TPC-H
  * Q5-shape flagship join.
  *
  * Scale notes baked into each query:
  *  - every aggregate here is algebraic (mergeable partial state), so
  *    the shuffle carries O(groups) fixed-width rows, never data rows;
  *  - the moments query pins Spark's *population* skewness/kurtosis
  *    definitions in a hand-derived oracle (DuckDB's builtins use the
  *    sample-corrected estimators — silently different);
  *  - monetary sums route through DECIMAL(18,2) so shuffle order can
  *    never move a bit (same rule as q1_agg / q_tpch_q3).
  */
object StatsQueries {

  val queries: Seq[Query] = Seq(
    // arg-min/arg-max aggregates: the value of one column at the extreme
    // of another. Tie-safe by construction: the ordering column
    // (o_orderkey) is unique, so min_by/max_by are deterministic — the
    // same discipline the sampling operators use (never order by a
    // non-unique key when the result must replay).
    Query("q_minmax_by",
      """SELECT o_orderpriority,
                arg_min(o_totalprice, o_orderkey) AS first_price,
                arg_max(o_totalprice, o_orderkey) AS last_price,
                min(o_orderkey) AS first_key,
                max(o_orderkey) AS last_key
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",
      (s, d) =>
        Tables.orders(s, d)
          .groupBy("o_orderpriority")
          .agg(
            min_by(col("o_totalprice"), col("o_orderkey")).as("first_price"),
            max_by(col("o_totalprice"), col("o_orderkey")).as("last_price"),
            min(col("o_orderkey")).as("first_key"),
            max(col("o_orderkey")).as("last_key"))
          .orderBy("o_orderpriority")),

    // Ordered-set aggregates: mode with the DETERMINISTIC tie-break
    // (lowest value wins — Spark's mode(expr, true)) and the
    // interpolated median. A nondeterministic mode() can never be
    // hash-verified; the deterministic variant costs one extra
    // comparison per merge and makes the result replayable.
    Query("q_mode_median",
      // DuckDB's mode() tie-break is unspecified; replay Spark's
      // deterministic lowest-value-wins with an explicit count/value sort.
      """WITH c AS (SELECT l_returnflag, l_quantity, count(*) AS n
                    FROM lineitem GROUP BY 1, 2),
              r AS (SELECT l_returnflag, l_quantity,
                           row_number() OVER (PARTITION BY l_returnflag
                             ORDER BY n DESC, l_quantity ASC) AS rn
                    FROM c)
         SELECT r.l_returnflag,
                r.l_quantity AS mode_qty,
                round(m.med, 6) AS med_qty
         FROM r JOIN (SELECT l_returnflag, median(l_quantity) AS med
                      FROM lineitem GROUP BY 1) m USING (l_returnflag)
         WHERE r.rn = 1 ORDER BY r.l_returnflag""",
      (s, d) =>
        Tables.lineitem(s, d)
          .groupBy("l_returnflag")
          .agg(
            expr("mode(l_quantity, true)").as("mode_qty"),
            round(expr("median(l_quantity)"), 6).as("med_qty"))
          .orderBy("l_returnflag")),

    // Higher central moments + correlation. corr/skewness/kurtosis are
    // scale-free (dimensionless ratios) and stddev/var are O(column
    // scale), so round(6) is far above both engines' fp noise; a
    // covariance of two large-scale columns would NOT be (1e-10
    // relative error on a 1e6-scale value breaks a 1e-6 absolute
    // round), which is why the covariance below pairs the two
    // small-scale columns.
    Query("q_stats_moments",
      // DuckDB's skewness/kurtosis are the SAMPLE-corrected estimators
      // (G1, bias-corrected excess); Spark's are the population moments
      // g1 = m3/m2^1.5 and g2 = m4/m2^2 - 3. Derive Spark's definitions
      // from raw central sums instead of trusting same-named builtins.
      """WITH a AS (SELECT l_returnflag, avg(l_quantity) AS m,
                           count(*) AS n
                    FROM lineitem GROUP BY 1),
              s AS (SELECT l.l_returnflag,
                           sum(pow(l_quantity - m, 2)) / any_value(n) AS m2,
                           sum(pow(l_quantity - m, 3)) / any_value(n) AS m3,
                           sum(pow(l_quantity - m, 4)) / any_value(n) AS m4
                    FROM lineitem l JOIN a USING (l_returnflag) GROUP BY 1)
         SELECT l.l_returnflag,
                round(corr(l_quantity, l_extendedprice), 6) AS c_qp,
                round(covar_pop(l_quantity, l_discount), 6) AS cov_qd,
                round(stddev_samp(l_quantity), 6) AS sd_q,
                round(var_pop(l_quantity), 6) AS var_q,
                round(any_value(s.m3) / pow(any_value(s.m2), 1.5), 6) AS skew_q,
                round(any_value(s.m4) / pow(any_value(s.m2), 2) - 3, 6) AS kurt_q
         FROM lineitem l JOIN s USING (l_returnflag)
         GROUP BY l.l_returnflag ORDER BY l.l_returnflag""",
      (s, d) =>
        Tables.lineitem(s, d)
          .groupBy("l_returnflag")
          .agg(
            round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("c_qp"),
            round(covar_pop(col("l_quantity"), col("l_discount")), 6).as("cov_qd"),
            round(stddev_samp(col("l_quantity")), 6).as("sd_q"),
            round(var_pop(col("l_quantity")), 6).as("var_q"),
            round(skewness(col("l_quantity")), 6).as("skew_q"),
            round(kurtosis(col("l_quantity")), 6).as("kurt_q"))
          .orderBy("l_returnflag")),

    // Equi-width histogram: width_bucket at the scan (codegen'd, no
    // shuffle) then a count per bucket — the one-pass distributed
    // histogram. Out-of-range values land in the overflow buckets
    // (0 / nb+1) identically in both engines.
    Query("q_histogram",
      // DuckDB ships no width_bucket; spell out its lower-inclusive
      // semantics (12 equal buckets of 50000 over [0, 600000), overflow
      // buckets 0 and 13).
      """SELECT CAST(CASE WHEN o_totalprice < 0 THEN 0
                          WHEN o_totalprice >= 600000 THEN 13
                          ELSE floor(o_totalprice / 50000) + 1 END
                     AS BIGINT) AS bucket,
                count(*) AS n
         FROM orders GROUP BY bucket ORDER BY bucket""",
      (s, d) =>
        Tables.orders(s, d)
          .select(expr("width_bucket(o_totalprice, 0.0, 600000.0, 12)")
            .cast("long").as("bucket"))
          .groupBy("bucket")
          .agg(count(lit(1)).as("n"))
          .orderBy("bucket")),

    // Schema-evolution union: unionByName(allowMissingColumns) aligns
    // columns by NAME and null-fills the missing ones — the operation a
    // corpus-merge runs when two crawl snapshots disagree on schema.
    // Positional UNION would silently mis-align here.
    Query("q_union_byname",
      """SELECT * FROM (
           SELECT 'cust' AS side, c_custkey AS key, c_name AS name
           FROM customer
           UNION ALL BY NAME
           SELECT 'supp' AS side, s_suppkey AS key, s_name AS name,
                  s_nationkey AS extra
           FROM supplier)
         ORDER BY side, key""",
      (s, d) => {
        val a = Tables.customer(s, d)
          .select(lit("cust").as("side"), col("c_custkey").as("key"),
            col("c_name").as("name"))
        val b = Tables.supplier(s, d)
          .select(lit("supp").as("side"), col("s_suppkey").as("key"),
            col("s_name").as("name"), col("s_nationkey").as("extra"))
        a.unionByName(b, allowMissingColumns = true)
          .orderBy("side", "key")
      }),

    // Calendar-interval RANGE frame: per-customer trailing-30-day order
    // count and revenue. The frame is defined by the VALUE of the order
    // timestamp (peers included), not row position — the standard
    // rolling-window-over-event-time shape. One shuffle on o_custkey;
    // the frame scan is sorted-merge within each partition. DECIMAL sum
    // so the running total is shuffle-order-proof.
    Query("q_window_range_time",
      """SELECT o_orderkey, o_custkey,
                count(*) OVER w AS n_30d,
                CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w
                     AS DOUBLE) AS rev_30d
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate
                      RANGE BETWEEN INTERVAL 30 DAY PRECEDING
                            AND CURRENT ROW)
         ORDER BY o_orderkey""",
      (s, d) => {
        Tables.orders(s, d).createOrReplaceTempView("orders")
        s.sql(
          """SELECT o_orderkey, o_custkey,
                  count(*) OVER w AS n_30d,
                  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w
                       AS DOUBLE) AS rev_30d
           FROM orders
           WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate
                        RANGE BETWEEN INTERVAL 30 DAYS PRECEDING
                              AND CURRENT ROW)
           ORDER BY o_orderkey""")
      }),

    // TPC-H Q5 shape: the 6-table snowflake join (fact lineitem against
    // orders + customer + supplier + nation + region) with the
    // same-nation customer/supplier constraint. Scale design: region
    // and nation broadcast (5 / 25 rows), the supplier and customer
    // joins shuffle on their keys, the date predicate reaches the
    // orders scan, and revenue aggregates in DECIMAL partial+final —
    // at 100 TB this is two fact shuffles and three broadcasts, the
    // plan TPC-H referees expect.
    Query("q_tpch_q5",
      """SELECT n_name,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                         * (1 - CAST(l_discount AS DECIMAL(18,2))))
                     AS DOUBLE) AS revenue,
                count(*) AS n
         FROM lineitem
         JOIN orders   ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN supplier ON l_suppkey = s_suppkey
                       AND c_nationkey = s_nationkey
         JOIN nation   ON s_nationkey = n_nationkey
         JOIN region   ON n_regionkey = r_regionkey
         WHERE r_name = 'ASIA'
           AND o_orderdate >= TIMESTAMP '1996-01-01'
           AND o_orderdate <  TIMESTAMP '1997-01-01'
         GROUP BY n_name ORDER BY revenue DESC, n_name""",
      (s, d) => {
        val li = Tables.lineitem(s, d)
        val ord = Tables.orders(s, d)
          .filter(col("o_orderdate") >= lit("1996-01-01") &&
                  col("o_orderdate") <  lit("1997-01-01"))
        val cust = Tables.customer(s, d)
        val supp = Tables.supplier(s, d)
        val nat = broadcast(Tables.nation(s, d))
        val reg = broadcast(Tables.region(s, d).filter(col("r_name") === "ASIA"))
        li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(cust, col("o_custkey") === col("c_custkey"))
          .join(supp, col("l_suppkey") === col("s_suppkey") &&
                      col("c_nationkey") === col("s_nationkey"))
          .join(nat, col("s_nationkey") === col("n_nationkey"))
          .join(reg, col("n_regionkey") === col("r_regionkey"))
          .groupBy("n_name")
          .agg(graft.functions.Num.sumDiscPrice(
              col("l_extendedprice"), col("l_discount")).as("revenue"),
            count(lit(1)).as("n"))
          .orderBy(col("revenue").desc, col("n_name"))
      }),

    // Single-pass data-quality validation (the Deequ/Great-Expectations
    // shape): key uniqueness, range, completeness, and sign constraints
    // all computed in ONE aggregation over one scan — at 100 TB the
    // validation suite must never cost one pass per rule. The composite
    // key folds to one long (linenumber < 10) so uniqueness is a single
    // count-distinct, not a distinct over a struct.
    Query("q_dq_check",
      """SELECT count(*) AS n_rows,
                count(DISTINCT l_orderkey * 10 + l_linenumber) = count(*)
                  AS pk_unique,
                sum(CASE WHEN l_quantity BETWEEN 1 AND 50 THEN 0 ELSE 1 END)
                  = 0 AS qty_in_range,
                sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) = 0
                  AS flag_complete,
                sum(CASE WHEN l_discount >= 0 AND l_discount <= 0.1
                         THEN 0 ELSE 1 END) = 0 AS disc_in_range,
                min(l_extendedprice) > 0 AS price_positive
         FROM lineitem""",
      (s, d) =>
        Tables.lineitem(s, d).agg(
          count(lit(1)).as("n_rows"),
          (countDistinct(col("l_orderkey") * 10 + col("l_linenumber")) ===
            count(lit(1))).as("pk_unique"),
          (sum(when(col("l_quantity").between(1, 50), 0).otherwise(1)) === 0)
            .as("qty_in_range"),
          (sum(when(col("l_returnflag").isNull, 1).otherwise(0)) === 0)
            .as("flag_complete"),
          (sum(when(col("l_discount") >= 0 && col("l_discount") <= 0.1, 0)
            .otherwise(1)) === 0).as("disc_in_range"),
          (min(col("l_extendedprice")) > 0).as("price_positive"))),
  )
}
