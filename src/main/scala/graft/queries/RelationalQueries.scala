package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Projection/filter, sort/limit/top-k, and set-operation queries.
  *
  * Every query ends in an explicit orderBy over a unique key combination
  * so output order is deterministic and matches the oracle SQL exactly.
  */
object RelationalQueries {

  // shared by q_topk_group (window idiom) and q_topk_native (custom
  // operator): the equivalence claim IS the shared oracle — editing one
  // without the other must be impossible
  private val topkOracle: String =
    """SELECT o_custkey, o_orderkey, rn FROM (
         SELECT o_custkey, o_orderkey,
                row_number() OVER (PARTITION BY o_custkey
                                   ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
         FROM orders) t
       WHERE rn <= 3 ORDER BY o_custkey, rn"""

  val queries: Seq[Query] = Seq(
    Query("q_proj_filter",
      """SELECT l_orderkey, l_linenumber, l_extendedprice * (1 - l_discount) AS net_price
         FROM lineitem WHERE l_quantity > 30 AND l_returnflag = 'R'
         ORDER BY l_orderkey, l_linenumber, net_price""",
      (s, d) => {
        Tables.lineitem(s, d)
          .filter(col("l_quantity") > 30 && col("l_returnflag") === "R")
          .select(col("l_orderkey"), col("l_linenumber"),
            (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("net_price"))
          // (l_orderkey, l_linenumber) is NOT unique in this testdata —
          // net_price makes the sort total (the q_fuzzwin lesson)
          .orderBy("l_orderkey", "l_linenumber", "net_price")
      }),

    Query("q_casewhen",
      """SELECT o_orderkey,
                CASE WHEN o_totalprice > 100000 THEN 'big'
                     WHEN o_totalprice > 50000 THEN 'mid'
                     ELSE 'small' END AS bucket,
                coalesce(nullif(o_orderstatus, 'O'), 'OPEN') AS status2
         FROM orders ORDER BY o_orderkey""",
      (s, d) => {
        Tables.orders(s, d)
          .select(col("o_orderkey"),
            when(col("o_totalprice") > 100000, "big")
              .when(col("o_totalprice") > 50000, "mid")
              .otherwise("small").as("bucket"),
            coalesce(nullif(col("o_orderstatus"), lit("O")), lit("OPEN")).as("status2"))
          .orderBy("o_orderkey")
      }),

    Query("q_nullsafe",
      """SELECT c_custkey,
                (nullif(c_mktsegment, 'BUILDING') IS NOT DISTINCT FROM
                 nullif(c_mktsegment, 'AUTOMOBILE')) AS same_seg
         FROM customer ORDER BY c_custkey""",
      (s, d) => {
        val c = Tables.customer(s, d)
        c.select(col("c_custkey"),
            (nullif(col("c_mktsegment"), lit("BUILDING")) <=>
              nullif(col("c_mktsegment"), lit("AUTOMOBILE"))).as("same_seg"))
          .orderBy("c_custkey")
      }),

    Query("q_sort_multi",
      """SELECT o_orderkey, nullif(o_orderpriority, '1-URGENT') AS prio, o_totalprice
         FROM orders
         ORDER BY prio ASC NULLS FIRST, o_totalprice DESC, o_orderkey ASC LIMIT 100""",
      (s, d) => {
        Tables.orders(s, d)
          .select(col("o_orderkey"), nullif(col("o_orderpriority"), lit("1-URGENT")).as("prio"),
            col("o_totalprice"))
          .orderBy(col("prio").asc_nulls_first, col("o_totalprice").desc, col("o_orderkey").asc)
          .limit(100)
      }),

    Query("q_limit",
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
         ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 50""",
      (s, d) => {
        Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
          .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
          .limit(50)
      }),

    // LIMIT + OFFSET pagination (rows 101-150 of a total order) — the
    // keyset-less pagination shape; Spark plans offset+limit as one
    // CollectLimit(offset, limit) over the sorted stream, never a full
    // materialization. (At 100 TB serve pages by keyset predicates
    // instead — OFFSET still sorts everything before the skip.)
    Query("q_limit_offset",
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
         ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
         LIMIT 50 OFFSET 100""",
      (s, d) => {
        Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
          .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
          .offset(100)
          .limit(50)
      }),

    Query("q_topk_group", topkOracle,
      (s, d) => {
        // top-3 orders per customer: window + filter — the scalable top-k
        // idiom (no global sort; partial top-k per shuffle partition)
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        Tables.orders(s, d)
          .withColumn("rn", row_number().over(w).cast("long"))
          .filter(col("rn") <= 3)
          .select(col("o_custkey"), col("o_orderkey"), col("rn"))
          .orderBy("o_custkey", "rn")
      }),

    // The same per-group top-3 through the NATIVE operator
    // (plans.TopKPerKeyNode via SparkSessionExtensions): bounded k-heaps
    // per key on both shuffle sides instead of the window's full
    // per-group sort — the shuffle carries ≤ 3 rows per customer. Same
    // oracle as q_topk_group: the two implementations must agree row
    // for row.
    Query("q_topk_native", topkOracle,
      (s, d) => {
        graft.plans.TopKPerKeyNode.topKPerKey(
            Tables.orders(s, d),
            keyCols = Seq("o_custkey"),
            orderSpec = Seq(("o_totalprice", true), ("o_orderkey", false)),
            k = 3)
          .select(col("o_custkey"), col("o_orderkey"), col("rank").as("rn"))
          .orderBy("o_custkey", "rn")
      }),

    Query("q_union_all",
      """SELECT name FROM (
           SELECT n_name AS name FROM nation UNION ALL SELECT r_name AS name FROM region) t
         ORDER BY name""",
      (s, d) => {
        Tables.nation(s, d).select(col("n_name").as("name"))
          .unionAll(Tables.region(s, d).select(col("r_name").as("name")))
          .orderBy("name")
      }),

    Query("q_union_distinct",
      """SELECT nkey FROM (
           SELECT c_nationkey AS nkey FROM customer UNION SELECT s_nationkey AS nkey FROM supplier) t
         ORDER BY nkey""",
      (s, d) => {
        Tables.customer(s, d).select(col("c_nationkey").as("nkey"))
          .union(Tables.supplier(s, d).select(col("s_nationkey").as("nkey")))
          .distinct()
          .orderBy("nkey")
      }),

    Query("q_intersect",
      """SELECT c_nationkey AS nkey FROM customer
         INTERSECT SELECT s_nationkey AS nkey FROM supplier ORDER BY nkey""",
      (s, d) => {
        Tables.customer(s, d).select(col("c_nationkey").as("nkey"))
          .intersect(Tables.supplier(s, d).select(col("s_nationkey").as("nkey")))
          .orderBy("nkey")
      }),

    Query("q_except",
      """SELECT c_custkey AS k FROM customer
         EXCEPT SELECT o_custkey AS k FROM orders ORDER BY k""",
      (s, d) => {
        // customers that never placed an order
        Tables.customer(s, d).select(col("c_custkey").as("k"))
          .except(Tables.orders(s, d).select(col("o_custkey").as("k")))
          .orderBy("k")
      }),

    // Multiset (ALL) set-op variants — different semantics AND a
    // different physical plan from the DISTINCT forms: Spark plans both
    // as a count-per-row aggregate on each side, a join on the row
    // value, and a generate replicating each row min(l,r) /
    // max(0, l-r) times — one keyed shuffle per side, no distinct pass.
    // nationkey has heavy duplication on the customer side and light on
    // the supplier side, so the multiplicity arithmetic is actually
    // exercised (min()>1 rows survive q_intersect_all multiple times;
    // q_except_all keeps cnt_c - cnt_s copies).
    Query("q_intersect_all",
      """SELECT c_nationkey AS nkey FROM customer
         INTERSECT ALL SELECT s_nationkey AS nkey FROM supplier ORDER BY nkey""",
      (s, d) => {
        Tables.customer(s, d).select(col("c_nationkey").as("nkey"))
          .intersectAll(Tables.supplier(s, d).select(col("s_nationkey").as("nkey")))
          .orderBy("nkey")
      }),

    Query("q_except_all",
      """SELECT c_nationkey AS nkey FROM customer
         EXCEPT ALL SELECT s_nationkey AS nkey FROM supplier ORDER BY nkey""",
      (s, d) => {
        Tables.customer(s, d).select(col("c_nationkey").as("nkey"))
          .exceptAll(Tables.supplier(s, d).select(col("s_nationkey").as("nkey")))
          .orderBy("nkey")
      }),

    // MERGE/upsert dataflow without a table format: the full-outer-join
    // + column-coalesce plan every lakehouse MERGE lowers to. The
    // "source" (corrections + late-arriving inserts) is derived
    // deterministically from the target so the oracle replays it
    // exactly. At scale this is ONE shuffle on the merge key for each
    // side — same cost as the join it is. The insert keys shift out of
    // the live key space by max(o_orderkey)+1, derived in-plan on both
    // engines (the serveWorkload rule: a fixed shift constant silently
    // turns "inserts" back into updates at the first scale whose keys
    // outgrow it — parity would hold, but the scenario wouldn't).
    Query("q_merge_upsert",
      """WITH target AS (
           SELECT o_orderkey AS k, o_totalprice AS price,
                  o_orderstatus AS status
           FROM orders),
         source AS (
           SELECT o_orderkey AS k, o_totalprice + 1000 AS price,
                  'U' AS status
           FROM orders WHERE o_orderkey % 100 = 0
           UNION ALL
           SELECT o_orderkey + (SELECT max(o_orderkey) + 1 FROM orders)
                    AS k, o_totalprice AS price,
                  'I' AS status
           FROM orders WHERE o_orderkey % 97 = 0)
         SELECT coalesce(t.k, s.k) AS k,
                coalesce(s.price, t.price) AS price,
                coalesce(s.status, t.status) AS status
         FROM target t FULL JOIN source s ON t.k = s.k
         ORDER BY k""",
      (s, d) => {
        val target = Tables.orders(s, d)
          .select(col("o_orderkey").as("k"), col("o_totalprice").as("price"),
            col("o_orderstatus").as("status"))
        val shift = Tables.orders(s, d)
          .agg((max(col("o_orderkey")) + 1L).as("shift"))
        val source = Tables.orders(s, d)
          .filter(col("o_orderkey") % 100 === 0)
          .select(col("o_orderkey").as("k"),
            (col("o_totalprice") + 1000).as("price"), lit("U").as("status"))
          .unionAll(
            Tables.orders(s, d).filter(col("o_orderkey") % 97 === 0)
              .crossJoin(broadcast(shift))
              .select((col("o_orderkey") + col("shift")).as("k"),
                col("o_totalprice").as("price"), lit("I").as("status")))
        target.as("t").join(source.as("s"), Seq("k"), "full")
          .select(col("k"),
            coalesce(col("s.price"), col("t.price")).as("price"),
            coalesce(col("s.status"), col("t.status")).as("status"))
          .orderBy("k")
      }),

    // SCD2 interval versioning: each order's price becomes the
    // customer's "current state" valid from its date until the next
    // order (NULL = still current) — the lead() idiom that builds
    // slowly-changing-dimension history from an event log. One shuffle
    // on the partition key.
    Query("q_scd2",
      """SELECT o_custkey, o_orderkey, o_totalprice AS price,
                o_orderdate AS valid_from,
                lead(o_orderdate, 1) OVER (PARTITION BY o_custkey
                  ORDER BY o_orderdate, o_orderkey) AS valid_to
         FROM orders ORDER BY o_custkey, valid_from, o_orderkey""",
      (s, d) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("o_orderdate"), col("o_orderkey"))
        Tables.orders(s, d)
          .select(col("o_custkey"), col("o_orderkey"),
            col("o_totalprice").as("price"),
            col("o_orderdate").as("valid_from"),
            lead(col("o_orderdate"), 1).over(w).as("valid_to"))
          .orderBy("o_custkey", "valid_from", "o_orderkey")
      }),

    // Spark 4 SQL pipe syntax (|> operators): syntax sugar over the same
    // logical plan — WHERE before AGGREGATE lands as a pre-aggregation
    // filter pushed to the scan exactly like the ANSI form, which is
    // what the shared oracle proves.
    Query("q_pipe_sql",
      """SELECT l_returnflag, sum(l_quantity) AS qty, count(*) AS n
         FROM lineitem WHERE l_quantity > 30
         GROUP BY l_returnflag ORDER BY l_returnflag""",
      (s, d) => {
        Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
        s.sql(
          """FROM lineitem
           |> WHERE l_quantity > 30
           |> AGGREGATE sum(l_quantity) AS qty, count(*) AS n
              GROUP BY l_returnflag
           |> ORDER BY l_returnflag""")
      }),
  )
}
