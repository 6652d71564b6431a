package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Correlated-subquery queries, written in SQL on purpose: the point is
  * to exercise Catalyst's decorrelation rules
  * (`RewritePredicateSubquery` for EXISTS/IN,
  * `RewriteCorrelatedScalarSubquery` for correlated scalar aggregates),
  * which only fire on the SQL/subquery-expression path — the DataFrame
  * API has no way to even write a correlated subquery. Real users write
  * these shapes constantly; an engine that only proves the join forms
  * has not proven the rewrite that produces them.
  *
  * Scale shape: decorrelation turns each per-row subquery into a JOIN —
  * EXISTS/IN become left-semi joins on the correlation key, a correlated
  * scalar aggregate becomes (aggregate per key) ⋈ outer — so the
  * physical cost is one keyed shuffle, not an O(rows) rescan loop.
  * PlanSpec asserts exactly that: the executed plans contain semi joins
  * / aggregate joins and zero per-row subquery execs.
  *
  * Determinism: the correlated-scalar threshold comparison is done in
  * exact DECIMAL arithmetic (sum × count, never avg-of-double) so the
  * comparison boundary cannot drift between engines with summation
  * order.
  */
object SubqueryQueries {

  val queries: Seq[Query] = Seq(
    // EXISTS with a correlated predicate → left-semi join after
    // RewritePredicateSubquery. Orders having at least one high-quantity
    // line item.
    Query("q_exists_corr",
      """SELECT o_orderkey, o_custkey FROM orders o
         WHERE EXISTS (SELECT 1 FROM lineitem l
                       WHERE l.l_orderkey = o.o_orderkey
                         AND l.l_quantity > 45)
         ORDER BY o_orderkey""",
      (s, d) => {
        Tables.orders(s, d).createOrReplaceTempView("orders")
        Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
        s.sql(
          """SELECT o_orderkey, o_custkey FROM orders o
           WHERE EXISTS (SELECT 1 FROM lineitem l
                         WHERE l.l_orderkey = o.o_orderkey
                           AND l.l_quantity > 45)
           ORDER BY o_orderkey""")
      }),

    // NOT EXISTS with two correlated conjuncts → left-anti join.
    // Customers with no urgent order.
    Query("q_notexists_corr",
      """SELECT c_custkey FROM customer c
         WHERE NOT EXISTS (SELECT 1 FROM orders o
                           WHERE o.o_custkey = c.c_custkey
                             AND o.o_orderpriority = '1-URGENT')
         ORDER BY c_custkey""",
      (s, d) => {
        Tables.customer(s, d).createOrReplaceTempView("customer")
        Tables.orders(s, d).createOrReplaceTempView("orders")
        s.sql(
          """SELECT c_custkey FROM customer c
           WHERE NOT EXISTS (SELECT 1 FROM orders o
                             WHERE o.o_custkey = c.c_custkey
                               AND o.o_orderpriority = '1-URGENT')
           ORDER BY c_custkey""")
      }),

    // IN (subquery) → left-semi join on the IN expression. Customers who
    // placed at least one large order.
    Query("q_in_subq",
      """SELECT c_custkey, c_mktsegment FROM customer
         WHERE c_custkey IN (SELECT o_custkey FROM orders
                             WHERE o_totalprice > 150000)
         ORDER BY c_custkey""",
      (s, d) => {
        Tables.customer(s, d).createOrReplaceTempView("customer")
        Tables.orders(s, d).createOrReplaceTempView("orders")
        s.sql(
          """SELECT c_custkey, c_mktsegment FROM customer
           WHERE c_custkey IN (SELECT o_custkey FROM orders
                               WHERE o_totalprice > 150000)
           ORDER BY c_custkey""")
      }),

    // LATERAL correlated subquery in FROM: per-order aggregate computed
    // "per row" syntactically, decorrelated by Catalyst into a
    // per-orderkey aggregate + join (same machinery as the scalar
    // subquery, different surface syntax). Orders with no line items get
    // a NULL mq — a scalar aggregate subquery always yields one row.
    Query("q_lateral_join",
      // LEFT JOIN LATERAL .. ON true, not comma-LATERAL: DuckDB's comma
      // form drops outer rows whose lateral aggregate group is empty,
      // while Spark (per the standard: a scalar aggregate yields exactly
      // one row, NULL on empty input) keeps them — the LEFT form makes
      // DuckDB reproduce the standard behavior Spark implements.
      """SELECT o.o_orderkey, t.mq FROM orders o
         LEFT JOIN LATERAL (SELECT max(l.l_quantity) AS mq FROM lineitem l
                            WHERE l.l_orderkey = o.o_orderkey) t ON true
         ORDER BY o_orderkey""",
      (s, d) => {
        Tables.orders(s, d).createOrReplaceTempView("orders")
        Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
        s.sql(
          """SELECT o.o_orderkey, t.mq FROM orders o,
           LATERAL (SELECT max(l.l_quantity) AS mq FROM lineitem l
                    WHERE l.l_orderkey = o.o_orderkey) t
           ORDER BY o_orderkey""")
      }),

    // Recursive CTE (Spark 4): an ancestor walk over the implicit binary
    // hierarchy parent(k) = k div 2 — per-row varying recursion depth
    // (≈ log2(custkey) levels), the acyclic shape Spark's UNION ALL
    // recursion supports today (UNION-distinct fixpoints, e.g. cyclic
    // graph closure, still raise UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE —
    // that use case runs through operators.Components instead).
    Query("q_recursive_cte",
      """WITH RECURSIVE anc(key, a, depth) AS (
           SELECT c_custkey, c_custkey, 0 FROM customer
           UNION ALL
           SELECT key, a // 2, depth + 1 FROM anc WHERE a > 0)
         SELECT key, max(depth) AS levels, min(a) AS root
         FROM anc GROUP BY key ORDER BY key""",
      (s, d) => {
        Tables.customer(s, d).createOrReplaceTempView("customer")
        s.sql(
          """WITH RECURSIVE anc(key, a, depth) AS (
             SELECT c_custkey, c_custkey, 0 FROM customer
             UNION ALL
             SELECT key, a DIV 2, depth + 1 FROM anc WHERE a > 0)
           SELECT key, max(depth) AS levels, min(a) AS root
           FROM anc GROUP BY key ORDER BY key""")
      }),

    // Correlated SCALAR subqueries: orders above their own customer's
    // average order price. avg() on DOUBLE is summation-order-dependent,
    // so the comparison is algebraically rearranged into exact decimal:
    //   price > sum/count  ⇔  price * count > sum
    // (count ≥ 1 by construction — the outer row is in its own group).
    // Both engines compute DECIMAL exactly → identical row sets. Each of
    // the two subqueries decorrelates into a per-custkey aggregate
    // joined back to orders.
    Query("q_scalar_corr",
      """SELECT o_orderkey, o_custkey FROM orders o
         WHERE CAST(o.o_totalprice AS DECIMAL(18,2))
                 * (SELECT count(*) FROM orders o2
                    WHERE o2.o_custkey = o.o_custkey)
               > (SELECT sum(CAST(o2.o_totalprice AS DECIMAL(18,2)))
                  FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
         ORDER BY o_orderkey""",
      (s, d) => {
        Tables.orders(s, d).createOrReplaceTempView("orders")
        s.sql(
          """SELECT o_orderkey, o_custkey FROM orders o
           WHERE CAST(o.o_totalprice AS DECIMAL(18,2))
                   * (SELECT count(*) FROM orders o2
                      WHERE o2.o_custkey = o.o_custkey)
                 > (SELECT sum(CAST(o2.o_totalprice AS DECIMAL(18,2)))
                    FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
           ORDER BY o_orderkey""")
      }),
  )
}
