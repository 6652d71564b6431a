package graft.queries

import graft.Tables
import graft.functions.Num
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** TPC-H completion wave: the 15 query shapes not yet in the corpus
  * (Q1, Q2, Q4, Q6, Q8, Q9, Q11, Q12, Q13, Q15, Q16, Q17, Q20, Q21,
  * Q22), closing out all 22 TPC-H queries alongside the existing
  * Q3/Q5/Q7/Q10/Q14/Q18/Q19. None exist in the reference repo (a single
  * MapReduce k-means — SURVEY.md §0); they are §2B declared-surface rows.
  *
  * The testdata is a REDUCED TPC-H schema: no partsupp table, no
  * l_commitdate / l_receiptdate / l_shipmode / p_container /
  * c_phone / *_comment columns. Queries whose textbook form needs a
  * missing column keep the textbook PLAN SHAPE (the joins, the
  * subquery structure, the aggregation pattern) with a documented
  * substitute predicate:
  *   - part↔supplier pairs (Q2/Q11/Q16/Q20) come from
  *     `SELECT DISTINCT l_partkey, l_suppkey FROM lineitem` — the
  *     observed supply relation — instead of partsupp;
  *   - "late" lines (Q4/Q21) are l_shipdate > o_orderdate + N days
  *     instead of commitdate/receiptdate arithmetic;
  *   - Q12's ship-mode split groups by l_linestatus; Q13's comment
  *     filter becomes an o_orderpriority filter; Q17's container
  *     filter becomes a p_type filter; Q22's phone prefix becomes the
  *     customer-name digit suffix (names are fixed-width).
  *
  * Determinism discipline (corpus-wide rule): every money aggregate
  * runs in DECIMAL so shuffle order cannot move a bit; the only double
  * ops are final casts, single divisions of exact sums, and
  * comparisons of identically-derived values. Q1's triple product
  * price*(1-disc)*(1+tax) uses DECIMAL(12,2) terms so the widened
  * product (38,6 in Spark, 36,6 in DuckDB) stays inside both engines'
  * exact range. Every ORDER BY is total.
  *
  * Scale notes: dims (nation, region, filtered part, per-part/
  * per-supplier aggregates) broadcast; fact tables shuffle only on
  * their join/group keys. Correlated subqueries are manually
  * decorrelated on the Spark side — one aggregate pass + a join —
  * while the oracles keep the textbook subquery text, proving the
  * rewrite equivalent cross-engine (same pattern as Q18).
  */
object TpchQueries {

  private val discSql =
    """CAST(l_extendedprice AS DECIMAL(18,2))
      | * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))"""
      .stripMargin

  val queries: Seq[Query] = Seq(
    // TPC-H Q1 (pricing summary report), faithful: all needed columns
    // exist. One shuffle-agg over lineitem; six decimal sums + two
    // counts ride a single aggregation pass. Averages are exact-sum /
    // count — one double division each, rounded to 6.
    Query("q_tpch_q1",
      """SELECT l_returnflag, l_linestatus,
                CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
                  AS sum_qty,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
                  AS sum_base_price,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                         * (CAST(1 AS DECIMAL(12,2))
                            - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE)
                  AS sum_disc_price,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                         * (CAST(1 AS DECIMAL(12,2))
                            - CAST(l_discount AS DECIMAL(12,2)))
                         * (CAST(1 AS DECIMAL(12,2))
                            + CAST(l_tax AS DECIMAL(12,2)))) AS DOUBLE)
                  AS sum_charge,
                round(CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
                      / count(*), 6) AS avg_qty,
                round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
                      / count(*), 6) AS avg_price,
                round(CAST(sum(CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE)
                      / count(*), 6) AS avg_disc,
                count(*) AS count_order
         FROM lineitem
         WHERE l_shipdate <= TIMESTAMP '2001-09-02'
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",
      (s, d) => {
        // Exact long-units arithmetic (Num.cents): qty/price/disc in
        // 1e-2 units, discPrice = price·(100−disc) in 1e-4 units, charge
        // = price·(100−disc)·(100+tax) in 1e-6 units (≤ ~1.2e11/row —
        // integer multiplies, never a per-row BigDecimal product like
        // the former DECIMAL(12,2) chain). Sums ride the compact decimal
        // accumulator; each emission divides back exactly and casts to
        // the same nearest double the decimal path produced.
        val qtyU = Num.cents(col("l_quantity"))
        val priceU = Num.cents(col("l_extendedprice"))
        val discU = Num.cents(col("l_discount"))
        val discPriceU = priceU * (lit(100L) - discU)
        val chargeU = discPriceU * (lit(100L) + Num.cents(col("l_tax")))
        // fanOutSmall: Q1's four partial sums are the heavy per-row
        // kernel; parallelize past the scan-split floor (no-op at
        // scale). Integer/decimal sums are order-free.
        graft.operators.Layout.fanOutSmall(Tables.lineitem(s, d))
          .filter(col("l_shipdate") <= lit("2001-09-02").cast("timestamp"))
          .groupBy("l_returnflag", "l_linestatus")
          .agg(
            Num.unitsAsDouble(Num.sumUnits(qtyU), 100L).as("sum_qty"),
            Num.unitsAsDouble(Num.sumUnits(priceU), 100L).as("sum_base_price"),
            Num.unitsAsDouble(Num.sumUnits(discPriceU), 10000L).as("sum_disc_price"),
            Num.unitsAsDouble(Num.sumUnits(chargeU), 1000000L).as("sum_charge"),
            round(Num.unitsAsDouble(Num.sumUnits(qtyU), 100L) / count(lit(1)), 6)
              .as("avg_qty"),
            round(Num.unitsAsDouble(Num.sumUnits(priceU), 100L) / count(lit(1)), 6)
              .as("avg_price"),
            round(Num.unitsAsDouble(Num.sumUnits(discU), 100L) / count(lit(1)), 6)
              .as("avg_disc"),
            count(lit(1)).as("count_order"))
          .orderBy("l_returnflag", "l_linestatus")
      }),

    // TPC-H Q2 shape (minimum-cost supplier): for LARGE small-size
    // parts, the EUROPE supplier(s) with minimum account balance among
    // those observed supplying the part. The correlated-min subquery is
    // decorrelated into one groupBy(min) + equality join (the per-part
    // min table is tiny → broadcast); the oracle keeps the textbook
    // correlated text. supplier/nation/region and the filtered part dim
    // all broadcast; the only fact-sized shuffle is the distinct over
    // (l_partkey, l_suppkey).
    Query("q_tpch_q2",
      """SELECT s_acctbal, s_name, n_name, p_partkey, p_name
         FROM part,
              (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps,
              supplier, nation, region
         WHERE p_partkey = ps.l_partkey AND s_suppkey = ps.l_suppkey
           AND p_type = 'LARGE' AND p_size <= 15
           AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
           AND r_name = 'EUROPE'
           AND s_acctbal = (
             SELECT min(s2.s_acctbal)
             FROM supplier s2,
                  (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps2,
                  nation n2, region r2
             WHERE ps2.l_partkey = p_partkey AND s2.s_suppkey = ps2.l_suppkey
               AND s2.s_nationkey = n2.n_nationkey
               AND n2.n_regionkey = r2.r_regionkey AND r2.r_name = 'EUROPE')
         ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
         LIMIT 100""",
      (s, d) => {
        val europe = Tables.nation(s, d)
          .join(broadcast(Tables.region(s, d).filter(col("r_name") === "EUROPE")),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey").as("eu_key"), col("n_name"))
        val eurSupp = Tables.supplier(s, d)
          .join(broadcast(europe), col("s_nationkey") === col("eu_key"))
          .select(col("s_suppkey"), col("s_name"), col("s_acctbal"), col("n_name"))
        val ps = Tables.lineitem(s, d)
          .select(col("l_partkey"), col("l_suppkey")).distinct()
        val partsF = Tables.part(s, d)
          .filter(col("p_type") === "LARGE" && col("p_size") <= 15)
          .select(col("p_partkey"), col("p_name"))
        val cand = ps
          .join(broadcast(partsF), col("l_partkey") === col("p_partkey"))
          .join(broadcast(eurSupp), col("l_suppkey") === col("s_suppkey"))
        val mins = cand.groupBy(col("p_partkey").as("mk"))
          .agg(min(col("s_acctbal")).as("min_bal"))
        cand.join(broadcast(mins),
            col("p_partkey") === col("mk") && col("s_acctbal") === col("min_bal"))
          .select(col("s_acctbal"), col("s_name"), col("n_name"),
            col("p_partkey"), col("p_name"))
          .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"),
            col("p_partkey"))
          .limit(100)
      }),

    // TPC-H Q4 shape (order priority checking): orders in one quarter
    // with at least one LATE line (shipped >60 days after the order —
    // the commit/receipt proxy), counted by priority. EXISTS renders as
    // a left-semi join whose condition spans both sides; the quarter
    // predicate pushes to the orders scan.
    Query("q_tpch_q4",
      """SELECT o_orderpriority, count(*) AS order_count
         FROM orders
         WHERE o_orderdate >= TIMESTAMP '1996-07-01'
           AND o_orderdate <  TIMESTAMP '1996-10-01'
           AND EXISTS (SELECT 1 FROM lineitem
                       WHERE l_orderkey = o_orderkey
                         AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
         GROUP BY o_orderpriority
         ORDER BY o_orderpriority""",
      (s, d) => {
        val ord = Tables.orders(s, d)
          .filter(col("o_orderdate") >= lit("1996-07-01").cast("timestamp") &&
                  col("o_orderdate") < lit("1996-10-01").cast("timestamp"))
        val late = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_shipdate"))
        ord.join(late,
            col("l_orderkey") === col("o_orderkey") &&
              col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
            "left_semi")
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("order_count"))
          .orderBy("o_orderpriority")
      }),

    // TPC-H Q6 (forecasting revenue change), faithful: pure scan-side
    // predicate + one decimal agg, zero joins, zero shuffles beyond the
    // final single-row reduce — the canonical pushdown query.
    Query("q_tpch_q6",
      """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                         * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE)
                  AS revenue
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1996-01-01'
           AND l_shipdate <  TIMESTAMP '1997-01-01'
           AND l_discount BETWEEN 0.05 AND 0.07
           AND l_quantity < 24""",
      (s, d) =>
        Tables.lineitem(s, d)
          .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
                  col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
                  col("l_discount").between(0.05, 0.07) &&
                  col("l_quantity") < 24)
          .agg(Num.unitsAsDouble(Num.sumUnits(
            Num.cents(col("l_extendedprice")) * Num.cents(col("l_discount"))),
            10000L).as("revenue"))),

    // TPC-H Q8 (national market share), faithful on the reduced schema:
    // NATION_12's share of STANDARD-part revenue sold to ASIA customers
    // by order year (nation 12 has suppliers at every test scale). Both
    // the national and total volume ride ONE aggregation pass as
    // conditional decimal sums (Q14 pattern); nation/region/filtered
    // part broadcast.
    Query("q_tpch_q8",
      s"""SELECT year(o_orderdate) AS o_year,
                round(CAST(sum(CASE WHEN n2.n_name = 'NATION_12'
                         THEN $discSql
                         ELSE CAST(0 AS DECIMAL(18,2))
                              * (CAST(1 AS DECIMAL(18,2))
                                 - CAST(0 AS DECIMAL(18,2))) END) AS DOUBLE)
                      / CAST(sum($discSql) AS DOUBLE), 6) AS mkt_share
         FROM lineitem
         JOIN part     ON l_partkey = p_partkey
         JOIN orders   ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation n1 ON c_nationkey = n1.n_nationkey
         JOIN region   ON n1.n_regionkey = r_regionkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation n2 ON s_nationkey = n2.n_nationkey
         WHERE p_type = 'STANDARD' AND r_name = 'ASIA'
           AND o_orderdate BETWEEN TIMESTAMP '1996-01-01'
                               AND TIMESTAMP '1997-12-31'
         GROUP BY 1 ORDER BY o_year""",
      (s, d) => {
        val asia = Tables.nation(s, d)
          .join(broadcast(Tables.region(s, d).filter(col("r_name") === "ASIA")),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey").as("cn_key"))
        val suppNation = Tables.nation(s, d)
          .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
        Tables.lineitem(s, d)
          .join(broadcast(Tables.part(s, d).filter(col("p_type") === "STANDARD")
            .select("p_partkey")), col("l_partkey") === col("p_partkey"))
          .join(Tables.orders(s, d)
            .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
                    col("o_orderdate") <= lit("1997-12-31").cast("timestamp")),
            col("l_orderkey") === col("o_orderkey"))
          .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
          .join(broadcast(asia), col("c_nationkey") === col("cn_key"))
          .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(suppNation), col("s_nationkey") === col("sn_key"))
          .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
          .agg(
            Num.sumUnits(when(col("supp_nation") === "NATION_12",
              Num.discUnits(col("l_extendedprice"), col("l_discount")))
              .otherwise(lit(0L))).as("n_u"),
            Num.sumUnits(Num.discUnits(col("l_extendedprice"),
              col("l_discount"))).as("t_u"))
          .select(col("o_year"),
            round(Num.unitsAsDouble(col("n_u"), 10000L) /
              Num.unitsAsDouble(col("t_u"), 10000L), 6)
              .as("mkt_share"))
          .orderBy("o_year")
      }),

    // TPC-H Q9 shape (product-type profit): revenue on name-matched
    // parts by supplier nation and order year. The textbook profit
    // subtracts ps_supplycost*l_quantity — partsupp doesn't exist here,
    // so profit is the discounted revenue (the join tree, the LIKE
    // pushdown into the part scan, and the two-key aggregate are the
    // shape being proven).
    Query("q_tpch_q9",
      s"""SELECT n_name AS nation, year(o_orderdate) AS o_year,
                CAST(sum($discSql) AS DOUBLE) AS sum_profit
         FROM lineitem
         JOIN part     ON l_partkey = p_partkey
         JOIN orders   ON l_orderkey = o_orderkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation   ON s_nationkey = n_nationkey
         WHERE p_name LIKE 'red%'
         GROUP BY 1, 2
         ORDER BY nation, o_year DESC""",
      (s, d) =>
        Tables.lineitem(s, d)
          .join(broadcast(Tables.part(s, d).filter(col("p_name").like("red%"))
            .select("p_partkey")), col("l_partkey") === col("p_partkey"))
          .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
          .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(Tables.nation(s, d)),
            col("s_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name").as("nation"),
            year(col("o_orderdate")).cast("long").as("o_year"))
          .agg(Num.sumDiscPrice(col("l_extendedprice"), col("l_discount"))
            .as("sum_profit"))
          .orderBy(col("nation"), col("o_year").desc)),

    // TPC-H Q11 shape (important stock identification): per-part value
    // from ASIA/EUROPE suppliers, kept when above 1.2× the mean part
    // value. The textbook HAVING-scalar-subquery (value > fraction ×
    // global total) is decorrelated into one extra single-row aggregate
    // cross-joined back (broadcast); the fraction is scale-free
    // (mean-relative) so the query is non-degenerate at every sf. Value
    // stays DECIMAL until the final compare/emit.
    Query("q_tpch_q11",
      s"""WITH pv AS (
           SELECT l_partkey, sum($discSql) AS val_dec
           FROM lineitem
           JOIN supplier ON l_suppkey = s_suppkey
           JOIN nation   ON s_nationkey = n_nationkey
           WHERE n_regionkey IN (2, 3)
           GROUP BY l_partkey)
         SELECT l_partkey, round(CAST(val_dec AS DOUBLE), 6) AS value
         FROM pv
         WHERE CAST(val_dec AS DOUBLE) >
               (SELECT 1.2 * CAST(sum(val_dec) AS DOUBLE) / count(*) FROM pv)
         ORDER BY value DESC, l_partkey""",
      (s, d) => {
        val supIn = Tables.supplier(s, d)
          .join(broadcast(Tables.nation(s, d)
            .filter(col("n_regionkey").isin(2, 3))),
            col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"))
        val pv = Tables.lineitem(s, d)
          .join(broadcast(supIn), col("l_suppkey") === col("s_suppkey"))
          .groupBy("l_partkey")
          .agg(Num.sumUnits(Num.discUnits(col("l_extendedprice"),
            col("l_discount"))).as("val_u"))
        val thr = pv.agg((lit(1.2) *
          Num.unitsAsDouble(sum(col("val_u")), 10000L) /
          count(lit(1))).as("thr"))
        pv.crossJoin(broadcast(thr))
          .filter(Num.unitsAsDouble(col("val_u"), 10000L) > col("thr"))
          .select(col("l_partkey"),
            round(Num.unitsAsDouble(col("val_u"), 10000L), 6).as("value"))
          .orderBy(col("value").desc, col("l_partkey"))
      }),

    // TPC-H Q12 shape (shipping priority split): high- vs low-priority
    // line counts per line status (the ship-mode stand-in) for one ship
    // year — the conditional post-join aggregation is the shape; the
    // year predicate pushes to the lineitem scan.
    Query("q_tpch_q12",
      """SELECT l_linestatus AS ship_class,
                CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
                CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                         THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
         FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         WHERE l_shipdate >= TIMESTAMP '1996-01-01'
           AND l_shipdate <  TIMESTAMP '1997-01-01'
         GROUP BY 1 ORDER BY ship_class""",
      (s, d) => {
        val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
        Tables.orders(s, d)
          .join(Tables.lineitem(s, d)
            .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
                    col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
            .select("l_orderkey", "l_linestatus"),
            col("o_orderkey") === col("l_orderkey"))
          .groupBy(col("l_linestatus").as("ship_class"))
          .agg(
            sum(when(hi, 1).otherwise(0)).cast("long").as("high_line_count"),
            sum(when(hi, 0).otherwise(1)).cast("long").as("low_line_count"))
          .orderBy("ship_class")
      }),

    // TPC-H Q13 (customer order-count distribution): LEFT join keeps
    // zero-order customers (the join's extra predicate — priority
    // stands in for the comment filter — must sit in the ON clause, not
    // WHERE, or those vanish), then a second aggregation over the
    // per-customer counts. Two shuffles, both on their natural keys.
    Query("q_tpch_q13",
      """SELECT c_count, count(*) AS custdist
         FROM (SELECT c_custkey, count(o_orderkey) AS c_count
               FROM customer LEFT JOIN orders
                 ON c_custkey = o_custkey
                AND o_orderpriority <> '4-NOT SPECIFIED'
               GROUP BY c_custkey) c_orders
         GROUP BY c_count
         ORDER BY custdist DESC, c_count DESC""",
      (s, d) => {
        val ords = Tables.orders(s, d)
          .filter(col("o_orderpriority") =!= "4-NOT SPECIFIED")
          .select(col("o_custkey"), col("o_orderkey"))
        Tables.customer(s, d)
          .join(ords, col("c_custkey") === col("o_custkey"), "left_outer")
          .groupBy("c_custkey")
          .agg(count(col("o_orderkey")).as("c_count"))
          .groupBy("c_count")
          .agg(count(lit(1)).as("custdist"))
          .orderBy(col("custdist").desc, col("c_count").desc)
      }),

    // TPC-H Q15 (top supplier): quarterly revenue per supplier, keep
    // the max. The view + scalar-max subquery decorrelates into one
    // single-row aggregate joined back on equality of the identical
    // double (both sides derive from the same exact decimal sum, so
    // the equality is bit-safe). Revenue aggregates once; supplier dim
    // broadcasts.
    Query("q_tpch_q15",
      s"""WITH revenue AS (
           SELECT l_suppkey AS supplier_no,
                  CAST(sum($discSql) AS DOUBLE) AS total_revenue
           FROM lineitem
           WHERE l_shipdate >= TIMESTAMP '1996-01-01'
             AND l_shipdate <  TIMESTAMP '1996-04-01'
           GROUP BY l_suppkey)
         SELECT s_suppkey, s_name, total_revenue
         FROM supplier JOIN revenue ON s_suppkey = supplier_no
         WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
         ORDER BY s_suppkey""",
      (s, d) => {
        val rev = Tables.lineitem(s, d)
          .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
                  col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
          .groupBy("l_suppkey")
          .agg(Num.sumDiscPrice(col("l_extendedprice"), col("l_discount"))
            .as("total_revenue"))
        val mx = rev.agg(max(col("total_revenue")).as("mx"))
        rev.join(broadcast(mx), col("total_revenue") === col("mx"))
          .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
          .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
          .orderBy("s_suppkey")
      }),

    // TPC-H Q16 shape (part-supplier relationship count): distinct
    // suppliers per (brand, type, size) bucket over the observed supply
    // pairs, excluding one brand, one type, and negative-balance
    // suppliers (the NOT-IN stand-in for the complaints filter — an
    // anti join on the Spark side; supplier keys are non-null so the
    // two are equivalent).
    Query("q_tpch_q16",
      """SELECT p_brand, p_type, p_size,
                count(DISTINCT ps.l_suppkey) AS supplier_cnt
         FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
         JOIN part ON p_partkey = ps.l_partkey
         WHERE p_brand <> 'Brand#5' AND p_type <> 'PROMO'
           AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
           AND ps.l_suppkey NOT IN
               (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
         GROUP BY p_brand, p_type, p_size
         ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""",
      (s, d) => {
        val ps = Tables.lineitem(s, d)
          .select(col("l_partkey"), col("l_suppkey")).distinct()
        val badSupp = Tables.supplier(s, d)
          .filter(col("s_acctbal") < 0).select(col("s_suppkey"))
        val partsF = Tables.part(s, d)
          .filter(col("p_brand") =!= "Brand#5" && col("p_type") =!= "PROMO" &&
            col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45))
          .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
        ps.join(broadcast(badSupp), col("l_suppkey") === col("s_suppkey"),
            "left_anti")
          .join(broadcast(partsF), col("l_partkey") === col("p_partkey"))
          .groupBy("p_brand", "p_type", "p_size")
          .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
          .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
            col("p_size"))
      }),

    // TPC-H Q17 shape (small-quantity-order revenue): lines under 20%
    // of their part's average quantity, for one part type (container
    // stand-in). The correlated scalar avg decorrelates into a per-part
    // aggregate joined back (broadcast — it's one row per filtered
    // part). Quantities are integer-valued doubles, so avg is exact-sum
    // / count in both engines; the only unquantized double op.
    Query("q_tpch_q17",
      """SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
                          AS DOUBLE) / 7.0, 6) AS avg_yearly
         FROM lineitem JOIN part ON p_partkey = l_partkey
         WHERE p_type = 'SMALL'
           AND l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
                             FROM lineitem l2
                             WHERE l2.l_partkey = p_partkey)""",
      (s, d) => {
        val sm = Tables.part(s, d).filter(col("p_type") === "SMALL")
          .select("p_partkey")
        val li = Tables.lineitem(s, d)
        val thr = li.join(broadcast(sm), col("l_partkey") === col("p_partkey"))
          .groupBy(col("l_partkey").as("tk"))
          .agg((lit(0.2) * avg(col("l_quantity"))).as("qthr"))
        li.join(broadcast(thr), col("l_partkey") === col("tk"))
          .filter(col("l_quantity") < col("qthr"))
          .agg(round(Num.sumMoney(col("l_extendedprice")) / lit(7.0), 6)
            .as("avg_yearly"))
      }),

    // TPC-H Q20 shape (excess-inventory suppliers): suppliers who
    // shipped >50 units of any name-matched part in one year — the
    // nested IN (parts) → GROUP/HAVING (per supplier-part quantity) →
    // IN (suppliers) pyramid, rendered as broadcast-semi joins with the
    // HAVING sum in exact decimal.
    Query("q_tpch_q20",
      """SELECT s_name, n_name
         FROM supplier JOIN nation ON s_nationkey = n_nationkey
         WHERE s_suppkey IN (
           SELECT l_suppkey FROM lineitem
           WHERE l_partkey IN
                 (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
             AND l_shipdate >= TIMESTAMP '1996-01-01'
             AND l_shipdate <  TIMESTAMP '1997-01-01'
           GROUP BY l_suppkey, l_partkey
           HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 50)
         ORDER BY s_name""",
      (s, d) => {
        val smallParts = Tables.part(s, d)
          .filter(col("p_name").like("small%")).select("p_partkey")
        val heavy = Tables.lineitem(s, d)
          .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
                  col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
          .join(broadcast(smallParts), col("l_partkey") === col("p_partkey"))
          .groupBy("l_suppkey", "l_partkey")
          .agg(Num.sumUnits(Num.cents(col("l_quantity"))).as("q_u"))
          .filter(col("q_u") > lit(5000))
          .select("l_suppkey")
        Tables.supplier(s, d)
          .join(heavy, col("s_suppkey") === col("l_suppkey"), "left_semi")
          .join(broadcast(Tables.nation(s, d)),
            col("s_nationkey") === col("n_nationkey"))
          .select(col("s_name"), col("n_name"))
          .orderBy("s_name")
      }),

    // TPC-H Q21 shape (suppliers who kept orders waiting): on completed
    // orders, lines shipped >30 days late (commit/receipt proxy) by a
    // supplier, where the order had ANOTHER supplier's line (EXISTS →
    // left-semi) but NO other supplier shipped later (NOT EXISTS →
    // left-anti with an inequality in the condition). The supplier
    // nation filter applies before the self-joins so the semi/anti
    // probes carry only the surviving rows.
    Query("q_tpch_q21",
      """SELECT s_name, count(*) AS numwait
         FROM lineitem l1
         JOIN orders   ON o_orderkey = l1.l_orderkey
         JOIN supplier ON s_suppkey = l1.l_suppkey
         WHERE o_orderstatus = 'F' AND s_nationkey < 13
           AND l1.l_shipdate > o_orderdate + INTERVAL 30 DAY
           AND EXISTS (SELECT 1 FROM lineitem l2
                       WHERE l2.l_orderkey = l1.l_orderkey
                         AND l2.l_suppkey <> l1.l_suppkey)
           AND NOT EXISTS (SELECT 1 FROM lineitem l3
                           WHERE l3.l_orderkey = l1.l_orderkey
                             AND l3.l_suppkey <> l1.l_suppkey
                             AND l3.l_shipdate > l1.l_shipdate)
         GROUP BY s_name
         ORDER BY numwait DESC, s_name
         LIMIT 100""",
      (s, d) => {
        val li = Tables.lineitem(s, d)
        val l1 = li.select(col("l_orderkey").as("lo1"),
          col("l_suppkey").as("ls1"), col("l_shipdate").as("sd1"))
        val fOrd = Tables.orders(s, d).filter(col("o_orderstatus") === "F")
          .select(col("o_orderkey"), col("o_orderdate"))
        val supp = Tables.supplier(s, d).filter(col("s_nationkey") < 13)
          .select(col("s_suppkey"), col("s_name"))
        val waiting = l1
          .join(broadcast(supp), col("ls1") === col("s_suppkey"))
          .join(fOrd, col("lo1") === col("o_orderkey") &&
            col("sd1") > col("o_orderdate") + expr("INTERVAL 30 DAYS"))
        val l2 = li.select(col("l_orderkey").as("lo2"), col("l_suppkey").as("ls2"))
        val l3 = li.select(col("l_orderkey").as("lo3"),
          col("l_suppkey").as("ls3"), col("l_shipdate").as("sd3"))
        waiting
          .join(l2, col("lo2") === col("lo1") && col("ls2") =!= col("ls1"),
            "left_semi")
          .join(l3, col("lo3") === col("lo1") && col("ls3") =!= col("ls1") &&
            col("sd3") > col("sd1"), "left_anti")
          .groupBy("s_name")
          .agg(count(lit(1)).as("numwait"))
          .orderBy(col("numwait").desc, col("s_name"))
          .limit(100)
      }),

    // TPC-H Q22 shape (global sales opportunity): above-average-balance
    // customers in a name-code bucket (fixed-width names make the digit
    // suffix the phone-prefix stand-in) with no recent urgent order
    // (NOT EXISTS → anti join; the all-customers-have-orders testdata
    // makes the textbook "no orders at all" empty at every sf). The
    // positive-balance average is one single-row decimal aggregate
    // broadcast back.
    Query("q_tpch_q22",
      """WITH cs AS (
           SELECT substring(c_name, 17, 2) AS cntrycode, c_acctbal, c_custkey
           FROM customer
           WHERE substring(c_name, 17, 2)
                 IN ('01','12','23','34','45','06','17'))
         SELECT cntrycode, count(*) AS numcust,
                CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                  AS totacctbal
         FROM cs
         WHERE c_acctbal > (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2)))
                                        AS DOUBLE) / count(*)
                            FROM cs WHERE c_acctbal > 0)
           AND NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey
                             AND o_orderpriority = '1-URGENT'
                             AND o_orderdate >= TIMESTAMP '1999-01-01'
                             AND o_orderdate <  TIMESTAMP '2001-01-01')
         GROUP BY cntrycode
         ORDER BY cntrycode""",
      (s, d) => {
        val cc = substring(col("c_name"), 17, 2)
        val cs = Tables.customer(s, d)
          .filter(cc.isin("01", "12", "23", "34", "45", "06", "17"))
          .select(cc.as("cntrycode"), col("c_acctbal"), col("c_custkey"))
        val ap = cs.filter(col("c_acctbal") > 0)
          .agg((Num.sumMoney(col("c_acctbal")) /
            count(lit(1))).as("ap"))
        val urgent = Tables.orders(s, d)
          .filter(col("o_orderpriority") === "1-URGENT" &&
            col("o_orderdate") >= lit("1999-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("2001-01-01").cast("timestamp"))
          .select(col("o_custkey"))
        cs.join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
          .crossJoin(broadcast(ap))
          .filter(col("c_acctbal") > col("ap"))
          .groupBy("cntrycode")
          .agg(count(lit(1)).as("numcust"),
            Num.sumMoney(col("c_acctbal")).as("totacctbal"))
          .orderBy("cntrycode")
      }),
  )
}
