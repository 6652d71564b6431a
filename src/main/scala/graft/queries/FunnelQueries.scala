package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Ordered-sequence event analytics over the events table — the two
  * classic product-analytics shapes a warehouse engine must express:
  *
  *  - Funnel: users progressing view → click → purchase where each
  *    step happens strictly AFTER the previous user's step and within
  *    a horizon of it. Stage timestamps are chained mins (t2 = min
  *    click ts in (t1, t1+H]), so each stage is one groupBy(user) +
  *    one join — every shuffle is on user_id and the per-stage state
  *    is one timestamp per user, never an event list. At 100 TB this
  *    is 3 hash exchanges on the same key (co-partitioned after the
  *    first) over map-side-filtered inputs.
  *  - Cohort retention: users cohorted by the week of their first
  *    high-value purchase (value > 90 — ≈P90, so cohort entry spreads
  *    across the whole range instead of collapsing into week 1),
  *    counted as retained in every later week they purchase at all.
  *    The (cohort_week, week_offset, n_users) triangle is the
  *    standard retention matrix.
  *
  * Everything compared is exact: counts, DATE-truncated weeks, integer
  * week offsets (datediff div 7 — both engines count whole days then
  * floor-divide); the only float is the untouched `value > 90` gate.
  */
object FunnelQueries {

  private val horizon = "INTERVAL 12 HOURS"

  val queries: Seq[Query] = Seq(
    Query("q_funnel",
      """WITH u1 AS (SELECT user_id, min(ts) AS t1 FROM events
                     WHERE event_type = 'view' GROUP BY 1),
           u2 AS (SELECT e.user_id, min(e.ts) AS t2
                  FROM events e JOIN u1 USING (user_id)
                  WHERE e.event_type = 'click' AND e.ts > u1.t1
                    AND e.ts <= u1.t1 + INTERVAL '12 hours' GROUP BY 1),
           u3 AS (SELECT e.user_id, min(e.ts) AS t3
                  FROM events e JOIN u2 USING (user_id)
                  WHERE e.event_type = 'purchase' AND e.ts > u2.t2
                    AND e.ts <= u2.t2 + INTERVAL '12 hours' GROUP BY 1)
         SELECT (SELECT count(*) FROM u1) AS n_view,
                (SELECT count(*) FROM u2) AS n_click,
                (SELECT count(*) FROM u3) AS n_purchase""",
      (s, d) => {
        val ev = Tables.events(s, d)
        val u1 = ev.filter(col("event_type") === "view")
          .groupBy("user_id").agg(min("ts").as("t1"))
        val u2 = ev.filter(col("event_type") === "click")
          .join(u1, "user_id")
          .filter(col("ts") > col("t1") &&
            col("ts") <= col("t1") + expr(horizon))
          .groupBy("user_id").agg(min("ts").as("t2"))
        val u3 = ev.filter(col("event_type") === "purchase")
          .join(u2, "user_id")
          .filter(col("ts") > col("t2") &&
            col("ts") <= col("t2") + expr(horizon))
          .groupBy("user_id").agg(min("ts").as("t3"))
        u1.agg(count(lit(1)).as("n_view"))
          .crossJoin(u2.agg(count(lit(1)).as("n_click")))
          .crossJoin(u3.agg(count(lit(1)).as("n_purchase")))
      }),

    Query("q_cohort_retention",
      """WITH first AS (
           SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE) AS cw
           FROM events WHERE event_type = 'purchase' AND value > 90
           GROUP BY 1),
         act AS (
           SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS w
           FROM events WHERE event_type = 'purchase')
         SELECT f.cw AS cohort_week,
                date_diff('day', f.cw, a.w) // 7 AS week_offset,
                count(*) AS n_users
         FROM first f JOIN act a USING (user_id)
         WHERE a.w >= f.cw
         GROUP BY 1, 2 ORDER BY cohort_week, week_offset""",
      (s, d) => {
        val ev = Tables.events(s, d)
        val first = ev
          .filter(col("event_type") === "purchase" && col("value") > 90)
          .groupBy("user_id")
          .agg(date_trunc("week", min("ts")).cast("date").as("cw"))
        val act = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"),
            date_trunc("week", col("ts")).cast("date").as("w"))
          .distinct()
        first.join(act, "user_id")
          .filter(col("w") >= col("cw"))
          .groupBy(col("cw").as("cohort_week"),
            expr("datediff(w, cw) div 7").as("week_offset"))
          .agg(count(lit(1)).as("n_users"))
          .orderBy("cohort_week", "week_offset")
      }),

    // First-order Markov transition matrix over per-user event
    // sequences: lag the type within (user_id ORDER BY ts, event_id)
    // — the sessionize ordering convention — count (prev → curr)
    // pairs, and derive row-stochastic probabilities with a window
    // sum (no second aggregation pass). The state space is the
    // event-type vocabulary, so the result is |S|² rows regardless of
    // corpus size; the single shuffle is the user_id window.
    Query("q_markov_trans",
      """WITH seq AS (
           SELECT user_id, event_type AS curr,
                  lag(event_type) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS prev
           FROM events),
         pairs AS (
           SELECT prev, curr, count(*) AS n FROM seq
           WHERE prev IS NOT NULL GROUP BY 1, 2)
         SELECT prev, curr, n,
                round(n * 1.0 / sum(n) OVER (PARTITION BY prev), 6) AS p
         FROM pairs ORDER BY prev, curr""",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val wp = Window.partitionBy("prev")
        Tables.events(s, d)
          .select(col("user_id"), col("event_type").as("curr"),
            lag(col("event_type"), 1).over(w).as("prev"))
          .filter(col("prev").isNotNull)
          .groupBy("prev", "curr").agg(count(lit(1)).as("n"))
          .withColumn("p",
            round(col("n") / sum(col("n")).over(wp), 6))
          .orderBy("prev", "curr")
      }),

    // Top user journeys: each user's first three events (same total
    // ordering) joined into a path string, ranked by user count. The
    // per-user state is a bounded 3-struct array — order-pinned via
    // array_sort on (ts, event_id, type), the q_para_dedup reassembly
    // idiom.
    Query("q_user_paths",
      """WITH ranked AS (
           SELECT user_id, event_type,
                  row_number() OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS rn,
                  ts, event_id
           FROM events),
         paths AS (
           SELECT user_id,
                  string_agg(event_type, '>' ORDER BY ts, event_id) AS path,
                  count(*) AS len
           FROM ranked WHERE rn <= 3 GROUP BY user_id)
         SELECT path, count(*) AS n_users
         FROM paths WHERE len = 3
         GROUP BY path ORDER BY n_users DESC, path LIMIT 10""",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        Tables.events(s, d)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .groupBy("user_id")
          .agg(
            array_join(
              transform(
                array_sort(collect_list(
                  struct(col("ts"), col("event_id"), col("event_type")))),
                x => x.getField("event_type")), ">").as("path"),
            count(lit(1)).as("len"))
          .filter(col("len") === 3)
          .groupBy("path").agg(count(lit(1)).as("n_users"))
          .orderBy(col("n_users").desc, col("path")).limit(10)
      }),
  )
}
