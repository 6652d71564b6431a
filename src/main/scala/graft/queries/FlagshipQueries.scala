package graft.queries

import graft.Tables
import graft.functions.Num
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Second wave of multi-join flagship queries (TPC-H Q7/Q10/Q18 shapes)
  * plus the distributed-systems staples a 100 TB warehouse leans on:
  * batch sessionization, bloom-filter join pre-filtering, and
  * count-min-sketch heavy hitters. None of these exist in the reference
  * repo (a single MapReduce k-means — SURVEY.md §0); they are §2B
  * declared-surface rows.
  *
  * Money/quantity aggregates go through exact DECIMAL(18,2)
  * ([[Num.sumDiscPrice]]/[[Num.sumMoney]]) so shuffle order cannot move
  * a bit — the corpus-wide float-determinism rule.
  */
object FlagshipQueries {

  val queries: Seq[Query] = Seq(
    // TPC-H Q7 shape (volume shipping): bidirectional trade volume
    // between nation pairs by ship year. Two independent broadcast
    // joins against the same tiny nation dim under different aliases —
    // the fact tables shuffle only on their join keys; both nation
    // lookups are map-side. The classic two-literal-nations predicate
    // selects zero rows at sf0.001 with this testdata's 25 nations, so
    // the pair lattice is bounded by nationkey < 5 instead — same
    // shape (selective dim predicate + pair asymmetry), non-degenerate
    // at every verified scale.
    Query("q_tpch_q7",
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                year(l_shipdate) AS l_year,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                         * (CAST(1 AS DECIMAL(18,2))
                            - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
                  AS revenue
         FROM lineitem
         JOIN orders   ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation n1 ON s_nationkey = n1.n_nationkey
         JOIN nation n2 ON c_nationkey = n2.n_nationkey
         WHERE n1.n_nationkey < 5 AND n2.n_nationkey < 5
           AND n1.n_name <> n2.n_name
         GROUP BY 1, 2, 3
         ORDER BY 1, 2, 3""",
      (s, d) => {
        val n1 = Tables.nation(s, d).filter(col("n_nationkey") < 5)
          .select(col("n_nationkey").as("n1_key"), col("n_name").as("supp_nation"))
        val n2 = Tables.nation(s, d).filter(col("n_nationkey") < 5)
          .select(col("n_nationkey").as("n2_key"), col("n_name").as("cust_nation"))
        Tables.lineitem(s, d)
          .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
          .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
          .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(n1), col("s_nationkey") === col("n1_key"))
          .join(broadcast(n2), col("c_nationkey") === col("n2_key"))
          .filter(col("supp_nation") =!= col("cust_nation"))
          .groupBy(col("supp_nation"), col("cust_nation"),
            year(col("l_shipdate")).cast("long").as("l_year"))
          .agg(Num.sumDiscPrice(col("l_extendedprice"), col("l_discount"))
            .as("revenue"))
          .orderBy("supp_nation", "cust_nation", "l_year")
      }),

    // TPC-H Q10 shape (returned-item report): which customers returned
    // the most revenue in one quarter. Date range pushes to the orders
    // scan, the R-flag to the lineitem scan; nation broadcasts. Top-20
    // via TakeOrderedAndProject (revenue desc, custkey tie-break) —
    // never a global sort.
    Query("q_tpch_q10",
      """SELECT c_custkey, c_name, c_acctbal, n_name,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                         * (CAST(1 AS DECIMAL(18,2))
                            - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
                  AS revenue
         FROM lineitem
         JOIN orders   ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation   ON c_nationkey = n_nationkey
         WHERE l_returnflag = 'R'
           AND o_orderdate >= TIMESTAMP '1996-01-01'
           AND o_orderdate <  TIMESTAMP '1996-04-01'
         GROUP BY c_custkey, c_name, c_acctbal, n_name
         ORDER BY revenue DESC, c_custkey
         LIMIT 20""",
      (s, d) => {
        val ord = Tables.orders(s, d)
          .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
                  col("o_orderdate") <  lit("1996-04-01").cast("timestamp"))
        Tables.lineitem(s, d).filter(col("l_returnflag") === "R")
          .join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
          .join(broadcast(Tables.nation(s, d)),
            col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
          .agg(Num.sumDiscPrice(col("l_extendedprice"), col("l_discount"))
            .as("revenue"))
          .orderBy(col("revenue").desc, col("c_custkey"))
          .limit(20)
      }),

    // TPC-H Q18 shape (large-volume customers): orders whose total
    // quantity exceeds 300. The textbook form re-aggregates after an
    // IN-subquery; here the per-order aggregate is computed ONCE,
    // filtered, and joined — o_orderkey is unique, so the filtered
    // aggregate IS the total, and the plan does one shuffle-agg over
    // lineitem instead of two scans (the oracle keeps the textbook
    // HAVING-subquery text to prove equivalence cross-engine).
    Query("q_tpch_q18",
      """SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
                CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                  AS total_qty
         FROM customer
         JOIN orders   ON c_custkey = o_custkey
         JOIN lineitem ON o_orderkey = l_orderkey
         WHERE o_orderkey IN (
           SELECT l_orderkey FROM lineitem
           GROUP BY l_orderkey
           HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 300)
         GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
         ORDER BY o_totalprice DESC, o_orderkey
         LIMIT 100""",
      (s, d) => {
        val bigOrders = Tables.lineitem(s, d)
          .groupBy("l_orderkey")
          // exact long-cents sum (Num.cents); > 300 becomes > 30000 cents
          // and the emitted double is the identical nearest double
          .agg(Num.sumUnits(Num.cents(col("l_quantity"))).as("qty_u"))
          .filter(col("qty_u") > lit(30000))
          .select(col("l_orderkey"),
            Num.unitsAsDouble(col("qty_u"), 100L).as("total_qty"))
        Tables.orders(s, d)
          .join(bigOrders, col("o_orderkey") === col("l_orderkey"))
          .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
          .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
            col("o_orderdate"), col("o_totalprice"), col("total_qty"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
          .limit(100)
      }),

    // TPC-H Q14 shape (promotion effect): revenue share of PROMO-type
    // parts by ship year. The part dim broadcasts (2000 rows at sf0.01);
    // both the promo and total revenue ride ONE aggregation pass as
    // conditional decimal sums, and the only double ops are the two
    // final casts and one division — same determinism discipline as
    // every money aggregate in the corpus.
    Query("q_tpch_q14",
      """SELECT CAST(year(l_shipdate) AS BIGINT) AS l_year,
                round(100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'
                         THEN CAST(l_extendedprice AS DECIMAL(18,2))
                              * (CAST(1 AS DECIMAL(18,2))
                                 - CAST(l_discount AS DECIMAL(18,2)))
                         ELSE CAST(0 AS DECIMAL(18,2))
                              * (CAST(1 AS DECIMAL(18,2))
                                 - CAST(0 AS DECIMAL(18,2))) END) AS DOUBLE)
                      / CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                         * (CAST(1 AS DECIMAL(18,2))
                            - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE),
                      6) AS promo_pct
         FROM lineitem JOIN part ON l_partkey = p_partkey
         GROUP BY 1 ORDER BY l_year""",
      (s, d) => {
        // exact 1e-4-dollar long units (Num.discUnits) replace the former
        // per-row DECIMAL(18,2) products; the conditional's zero branch is
        // the long literal, and each emission divides the exact sum back
        // to the identical nearest double before the one double division
        val termU = Num.discUnits(col("l_extendedprice"), col("l_discount"))
        Tables.lineitem(s, d)
          .join(broadcast(Tables.part(s, d)), col("l_partkey") === col("p_partkey"))
          .groupBy(year(col("l_shipdate")).cast("long").as("l_year"))
          .agg(
            Num.sumUnits(when(col("p_type") === "PROMO", termU)
              .otherwise(lit(0L))).as("p_u"),
            Num.sumUnits(termU).as("t_u"))
          .select(col("l_year"),
            round(lit(100.0) * Num.unitsAsDouble(col("p_u"), 10000L) /
              Num.unitsAsDouble(col("t_u"), 10000L), 6).as("promo_pct"))
          .orderBy("l_year")
      }),

    // TPC-H Q19 shape (disjunctive predicate pushdown): an OR of
    // brand/size/quantity conjunctions across the join. The part-only
    // half of each disjunct (brand + size) pushes to the part scan as
    // one Or filter — PlanSpec asserts it — so at 100 TB the scan
    // discards everything outside the three brand/size windows before
    // the join; the quantity conjuncts evaluate post-join.
    Query("q_tpch_q19",
      """SELECT count(*) AS n_lines,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                         * (CAST(1 AS DECIMAL(18,2))
                            - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
                  AS revenue
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10
                AND l_quantity BETWEEN 1 AND 15)
            OR (p_brand = 'Brand#2' AND p_size BETWEEN 11 AND 25
                AND l_quantity BETWEEN 10 AND 30)
            OR (p_brand = 'Brand#3' AND p_size BETWEEN 26 AND 50
                AND l_quantity BETWEEN 25 AND 50)""",
      (s, d) => {
        val disj =
          (col("p_brand") === "Brand#1" && col("p_size").between(1, 10) &&
            col("l_quantity").between(1, 15)) ||
          (col("p_brand") === "Brand#2" && col("p_size").between(11, 25) &&
            col("l_quantity").between(10, 30)) ||
          (col("p_brand") === "Brand#3" && col("p_size").between(26, 50) &&
            col("l_quantity").between(25, 50))
        Tables.lineitem(s, d)
          .join(broadcast(Tables.part(s, d)), col("l_partkey") === col("p_partkey"))
          .filter(disj)
          .agg(count(lit(1)).as("n_lines"),
            Num.sumDiscPrice(col("l_extendedprice"), col("l_discount"))
              .as("revenue"))
      }),

    // Batch sessionization — the canonical event-stream feature: split
    // each user's clickstream into sessions at >4h inactivity gaps
    // (lag + conditional flag + running sum = session id), then
    // per-session bounds and counts. ONE shuffle on user_id serves
    // both window passes and the final aggregation (same partitioning
    // key); the 4h threshold sits near this testdata's median
    // inter-event gap (~7.3h), so sessions are non-trivial at every
    // scale. Total sort (ts, event_id) inside each user makes the
    // session numbering deterministic.
    Query("q_sessionize",
      """WITH flagged AS (
           SELECT user_id, ts, event_id,
                  CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w > INTERVAL 4 HOUR
                       THEN 1 ELSE 0 END AS ns
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         numbered AS (
           SELECT user_id, ts,
                  CAST(sum(ns) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS sess_id
           FROM flagged)
         SELECT user_id, sess_id, count(*) AS n_events,
                min(ts) AS sess_start, max(ts) AS sess_end
         FROM numbered
         GROUP BY user_id, sess_id
         ORDER BY user_id, sess_id""",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val gapUs = unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w))
        val newSess = when(lag(col("ts"), 1).over(w).isNull ||
          gapUs > lit(4L * 3600 * 1000000), 1).otherwise(0)
        Tables.events(s, d)
          .withColumn("ns", newSess)
          .withColumn("sess_id",
            sum(col("ns")).over(w.rowsBetween(Window.unboundedPreceding,
              Window.currentRow)).cast("long"))
          .groupBy("user_id", "sess_id")
          .agg(count(lit(1)).as("n_events"),
            min(col("ts")).as("sess_start"),
            max(col("ts")).as("sess_end"))
          .orderBy("user_id", "sess_id")
      }),

    // Bloom-filter join pre-filtering: build an exact-size bloom filter
    // over the selective dim side's keys (one aggregation, sketch to
    // driver — KBs, never data-sized), then drop probe-side rows that
    // cannot join BEFORE the shuffle. No false negatives → the join
    // result is exactly the plain join's (the oracle is the plain SQL
    // join); false positives only cost a wasted shuffle row. At 100 TB
    // this is the difference between shuffling 2% of the fact table
    // and all of it when the dim predicate is selective — the manual
    // form of Spark's runtime-filter rewrite, usable where the
    // optimizer's own heuristic declines.
    Query("q_bloom_join",
      """SELECT o_orderstatus, count(*) AS n_lines,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                         * (CAST(1 AS DECIMAL(18,2))
                            - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
                  AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         WHERE o_totalprice > 450000
         GROUP BY o_orderstatus
         ORDER BY o_orderstatus""",
      (s, d) => {
        val hi = Tables.orders(s, d).filter(col("o_totalprice") > 450000)
        val keys = hi.select(col("o_orderkey"))
        val n = math.max(1000L, keys.count())
        val bloom = keys.stat.bloomFilter("o_orderkey", n, 0.01)
        val bcBloom = s.sparkContext.broadcast(bloom)
        val mightJoin = udf((k: Long) => bcBloom.value.mightContain(k))
        Tables.lineitem(s, d)
          .filter(mightJoin(col("l_orderkey")))
          .join(hi, col("l_orderkey") === col("o_orderkey"))
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n_lines"),
            Num.sumDiscPrice(col("l_extendedprice"), col("l_discount"))
              .as("revenue"))
          .orderBy("o_orderstatus")
      }),

    // Count-min-sketch heavy hitters: one pass builds the fixed-width
    // sketch (mergeable across partitions — counters sum), then the
    // exact top-10 keys audit it. The emitted contract is the CMS
    // guarantee itself: estimate never BELOW the true count (lower_ok),
    // and within eps·N absolute slack above it (upper_ok; eps=0.005,
    // conf=0.99, seed pinned → deterministic booleans). At scale the
    // sketch replaces a full groupBy when only the heavy tail matters:
    // fixed KBs of state per executor vs a shuffle of every key.
    Query("q_heavy_hitters",
      // the CMS contract: the sketch never undercounts, and overcounts by
      // at most eps*N — both deterministic booleans under the pinned seed
      """SELECT CAST(LEAST(10, count(DISTINCT l_partkey)) AS BIGINT)
                  AS n_checked,
                true AS lower_ok, true AS upper_ok
         FROM lineitem""",
      (s, d) => {
        import s.implicits._
        val li = Tables.lineitem(s, d)
        val eps = 0.005
        val cms = li.stat.countMinSketch(col("l_partkey"), eps, 0.99, 42)
        val total = cms.totalCount()
        val top = li.groupBy("l_partkey").agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("l_partkey"))
          .limit(10)
          .collect()
        val checked = top.map { r =>
          val key = r.getLong(0)
          val exact = r.getLong(1)
          val est = cms.estimateCount(key)
          (est >= exact, est <= exact + math.ceil(eps * total).toLong)
        }
        Seq((checked.length.toLong,
          checked.forall(_._1), checked.forall(_._2)))
          .toDF("n_checked", "lower_ok", "upper_ok")
      }),
  )
}
