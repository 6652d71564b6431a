package graft.queries

import graft.Tables
import graft.functions.Num
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Join queries: all equi-join types, semi/anti, cross, non-equi range,
  * and explicit broadcast. Dimension tables (region/nation/supplier) are
  * broadcast — at 100 TB the fact side never shuffles for these joins.
  */
object JoinQueries {

  val queries: Seq[Query] = Seq(
    Query("q_join_inner",
      """SELECT c_mktsegment, count(*) AS n,
                CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment ORDER BY c_mktsegment""",
      (s, d) => {
        Tables.orders(s, d)
          .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"), "inner")
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n"), Num.sumMoney(col("o_totalprice")).as("total"))
          .orderBy("c_mktsegment")
      }),

    Query("q_join_left",
      """SELECT c_custkey, count(o_orderkey) AS n_orders
         FROM customer LEFT JOIN orders ON o_custkey = c_custkey
         GROUP BY c_custkey ORDER BY c_custkey""",
      (s, d) => {
        Tables.customer(s, d)
          .join(Tables.orders(s, d), col("o_custkey") === col("c_custkey"), "left")
          .groupBy("c_custkey")
          .agg(count(col("o_orderkey")).as("n_orders"))
          .orderBy("c_custkey")
      }),

    Query("q_join_right",
      """SELECT o_orderkey, count(l_orderkey) AS n_items
         FROM lineitem RIGHT JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderkey ORDER BY o_orderkey""",
      (s, d) => {
        Tables.lineitem(s, d)
          .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"), "right")
          .groupBy("o_orderkey")
          .agg(count(col("l_orderkey")).as("n_items"))
          .orderBy("o_orderkey")
      }),

    Query("q_join_full",
      """WITH a AS (SELECT DISTINCT o_custkey AS k FROM orders WHERE o_totalprice > 150000),
              b AS (SELECT c_custkey AS k FROM customer WHERE c_acctbal < 0)
         SELECT coalesce(a.k, b.k) AS k, a.k IS NOT NULL AS in_orders,
                b.k IS NOT NULL AS in_cust
         FROM a FULL JOIN b ON a.k = b.k ORDER BY k""",
      (s, d) => {
        val a = Tables.orders(s, d).filter(col("o_totalprice") > 150000)
          .select(col("o_custkey").as("k")).distinct()
        val b = Tables.customer(s, d).filter(col("c_acctbal") < 0)
          .select(col("c_custkey").as("k"))
        a.join(b, a("k") === b("k"), "full_outer")
          .select(coalesce(a("k"), b("k")).as("k"),
            a("k").isNotNull.as("in_orders"), b("k").isNotNull.as("in_cust"))
          .orderBy("k")
      }),

    Query("q_join_semi",
      """SELECT c_custkey FROM customer
         WHERE EXISTS (SELECT 1 FROM orders
                       WHERE o_custkey = c_custkey AND o_totalprice > 100000)
         ORDER BY c_custkey""",
      (s, d) => {
        val big = Tables.orders(s, d).filter(col("o_totalprice") > 100000)
        Tables.customer(s, d)
          .join(big, col("c_custkey") === col("o_custkey"), "left_semi")
          .select("c_custkey")
          .orderBy("c_custkey")
      }),

    Query("q_join_anti",
      """SELECT c_custkey FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey AND o_totalprice > 100000)
         ORDER BY c_custkey""",
      (s, d) => {
        val big = Tables.orders(s, d).filter(col("o_totalprice") > 100000)
        Tables.customer(s, d)
          .join(big, col("c_custkey") === col("o_custkey"), "left_anti")
          .select("c_custkey")
          .orderBy("c_custkey")
      }),

    Query("q_join_cross",
      """SELECT r_name, n_name FROM region CROSS JOIN nation ORDER BY r_name, n_name""",
      (s, d) => {
        Tables.region(s, d).crossJoin(Tables.nation(s, d))
          .select(col("r_name"), col("n_name"))
          .orderBy("r_name", "n_name")
      }),

    Query("q_join_range",
      """SELECT s_suppkey, count(*) AS n
         FROM customer JOIN supplier
           ON c_acctbal BETWEEN s_acctbal - 500 AND s_acctbal + 500
         GROUP BY s_suppkey ORDER BY s_suppkey""",
      (s, d) => {
        // non-equi theta join: customers whose balance is within +/-500 of a
        // supplier's. Small side (supplier) broadcast -> BroadcastNestedLoopJoin,
        // the right physical shape for a tiny build side at any scale.
        val sup = broadcast(Tables.supplier(s, d))
        Tables.customer(s, d)
          .join(sup, col("c_acctbal").between(col("s_acctbal") - 500, col("s_acctbal") + 500))
          .groupBy("s_suppkey")
          .agg(count(lit(1)).as("n"))
          .orderBy("s_suppkey")
      }),

    Query("q_join_bcast",
      """SELECT r_name, count(*) AS n_cust
         FROM customer JOIN nation ON c_nationkey = n_nationkey
                       JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name ORDER BY r_name""",
      (s, d) => {
        // star-schema rollup: fact->dim->dim with explicit broadcast hints;
        // no shuffle of the customer side at any scale factor.
        Tables.customer(s, d)
          .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
          .groupBy("r_name")
          .agg(count(lit(1)).as("n_cust"))
          .orderBy("r_name")
      }),

    Query("q_part_brand",
      """SELECT p_brand, count(*) AS n_parts,
                CAST(sum(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE)
                  / count(*) AS avg_price,
                max(p_size) AS max_size
         FROM part
         WHERE p_size <= 20
           AND EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)
         GROUP BY p_brand ORDER BY p_brand""",
      (s, d) => {
        // parts actually ordered (lineitem semi-join), rolled up per brand.
        // The p_size predicate pushes to the parquet scan; avg is computed
        // as exact decimal sum / count so shuffle order can't move a bit.
        Tables.part(s, d)
          .filter(col("p_size") <= 20)
          .join(Tables.lineitem(s, d), col("p_partkey") === col("l_partkey"), "left_semi")
          .groupBy("p_brand")
          .agg(count(lit(1)).as("n_parts"),
            (Num.sumMoney(col("p_retailprice")) / count(lit(1))).as("avg_price"),
            max("p_size").as("max_size"))
          .orderBy("p_brand")
      }),

    Query("q_tpch_q3",
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                         * (CAST(1 AS DECIMAL(18,2))
                            - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
                  AS revenue
         FROM customer
         JOIN orders ON c_custkey = o_custkey
         JOIN lineitem ON l_orderkey = o_orderkey
         WHERE c_mktsegment = 'BUILDING'
           AND o_orderdate < TIMESTAMP '1998-06-15'
           AND l_shipdate > TIMESTAMP '1998-06-15'
         GROUP BY l_orderkey, o_orderdate, o_orderpriority
         ORDER BY revenue DESC, o_orderdate, l_orderkey
         LIMIT 10""",
      (s, d) => {
        // TPC-H Q3-shape flagship: fact(lineitem) ⋈ fact(orders) ⋈
        // dim(customer) with a selective predicate on EACH table — the
        // common real workload shape exercising join ordering + pushdown
        // interaction. All three predicates push to their parquet scans
        // (PlanSpec asserts the two date bounds); the segment-filtered
        // customer side broadcasts, so at scale only the two fact tables
        // shuffle, on their join keys. Revenue goes through exact decimal
        // (Num.sumDiscPrice) so shuffle order can't move a bit; the top-10
        // is a TakeOrderedAndProject (per-partition heap + driver merge of
        // 10-row winners), never a global sort. o_orderdate is this
        // schema's timestamp; o_orderpriority stands in for TPC-H's
        // o_shippriority, which the testdata lacks.
        val cutoff = lit("1998-06-15").cast("timestamp")
        val cust = Tables.customer(s, d)
          .filter(col("c_mktsegment") === "BUILDING")
        val ord = Tables.orders(s, d).filter(col("o_orderdate") < cutoff)
        val li = Tables.lineitem(s, d).filter(col("l_shipdate") > cutoff)
        li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
          .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
          .agg(Num.sumDiscPrice(col("l_extendedprice"), col("l_discount")).as("revenue"))
          .orderBy(col("revenue").desc, col("o_orderdate"), col("l_orderkey"))
          .limit(10)
      }),

    // Planner-control surface: SHUFFLE_HASH hint forces a shuffled hash
    // join where sort-merge would be picked — the right call when one
    // side is much smaller than the other but above the broadcast
    // ceiling (hash-build beats sorting both sides; no sort, no spillable
    // sort buffers). PlanSpec asserts the hint actually took effect.
    Query("q_join_hash",
      """SELECT c_mktsegment, count(*) AS n,
                CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment ORDER BY c_mktsegment""",
      (s, d) => {
        Tables.orders(s, d)
          .join(Tables.customer(s, d).hint("shuffle_hash"),
            col("o_custkey") === col("c_custkey"), "inner")
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n"), Num.sumMoney(col("o_totalprice")).as("total"))
          .orderBy("c_mktsegment")
      }),

    // Planned skew mitigation for a join: same result set as
    // q_join_inner, but routed through Skew.saltedJoin — the fact side
    // salts deterministically, the build side replicates 8×, and a
    // heavy-hitter custkey spreads over 8 reducer tasks instead of one.
    // Used when the build side is too big to broadcast and one key
    // dominates (AQE splits probe-side skew only).
    Query("q_skew_join",
      // salting is plan-level only — the declarative answer is the plain join
      """SELECT c_mktsegment, count(*) AS n,
                CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment ORDER BY c_mktsegment""",
      (s, d) => {
        val dim = Tables.customer(s, d)
          .withColumnRenamed("c_custkey", "o_custkey")
        graft.operators.Skew
          .saltedJoin(Tables.orders(s, d), dim,
            key = "o_custkey", uniqueCol = "o_orderkey", salt = 8)
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n"), Num.sumMoney(col("o_totalprice")).as("total"))
          .orderBy("c_mktsegment")
      }),

    // Forward as-of: each click gets the NEXT purchase at-or-after it —
    // the label-attachment direction (conversion after impression).
    // Same one-shuffle union+window plan as q_asof_join, mirrored;
    // DuckDB's ASOF JOIN flips to l.ts <= r.ts.
    Query("q_asof_fwd",
      """WITH r AS (SELECT user_id, ts, max(event_id) AS seq,
                           arg_max(value, event_id) AS v
                    FROM events WHERE event_type = 'purchase'
                    GROUP BY user_id, ts),
              l AS (SELECT event_id, user_id, ts FROM events
                    WHERE event_type = 'click')
         SELECT l.event_id, l.user_id, l.ts,
                r.v AS asof_v, r.ts AS asof_rts
         FROM l ASOF LEFT JOIN r
           ON l.user_id = r.user_id AND l.ts <= r.ts
         ORDER BY l.event_id""",
      (s, d) => {
        val ev = Tables.events(s, d)
        val clicks = ev.filter(col("event_type") === "click")
          .select("event_id", "user_id", "ts")
        val purchases = ev.filter(col("event_type") === "purchase")
          .groupBy("user_id", "ts")
          .agg(max("event_id").as("seq"), max_by(col("value"), col("event_id")).as("v"))
          .withColumn("rts", col("ts"))
        graft.operators.AsOfJoin.asOfForward(clicks, purchases,
            "user_id", "ts", "seq", Seq("v", "rts"))
          .orderBy("event_id")
      }),

    Query("q_asof_join",
      """WITH r AS (SELECT user_id, ts, max(event_id) AS seq,
                           arg_max(value, event_id) AS v
                    FROM events WHERE event_type = 'purchase'
                    GROUP BY user_id, ts),
              l AS (SELECT event_id, user_id, ts FROM events
                    WHERE event_type = 'click')
         SELECT l.event_id, l.user_id, l.ts,
                r.v AS asof_v, r.ts AS asof_rts
         FROM l ASOF LEFT JOIN r
           ON l.user_id = r.user_id AND l.ts >= r.ts
         ORDER BY l.event_id""",
      (s, d) => {
        // point-in-time enrichment: each click gets the most recent purchase
        // (value + its ts) by the same user at or before the click. The
        // right side is pre-aggregated per (user, ts) with a max-event_id
        // tie-break so semantics are deterministic on both engines.
        val ev = Tables.events(s, d)
        val clicks = ev.filter(col("event_type") === "click")
          .select("event_id", "user_id", "ts")
        val purchases = ev.filter(col("event_type") === "purchase")
          .groupBy("user_id", "ts")
          .agg(max("event_id").as("seq"), max_by(col("value"), col("event_id")).as("v"))
          .withColumn("rts", col("ts"))
        graft.operators.AsOfJoin.asOf(clicks, purchases,
            keyCol = "user_id", tsCol = "ts", seqCol = "seq", valueCols = Seq("v", "rts"))
          .orderBy("event_id")
      }),
  )
}
