package graft.queries

import graft.Tables
import graft.streaming.Streams
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Batch projections of the streaming transforms (SURVEY §2B streaming
  * row). The SAME functions run under readStream in StreamingSpec (parity
  * oracle); here they run on the batch events table so the windowing
  * semantics are ALSO hash-checked against DuckDB (`time_bucket`).
  */
object StreamQueries {

  val queries: Seq[Query] = Seq(
    Query("q_stream_tumbling",
      """SELECT time_bucket(INTERVAL '1 hour', ts) AS w_start, event_type,
                count(*) AS n,
                CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
         FROM events GROUP BY 1, 2 ORDER BY w_start, event_type""",
      (s, d) =>
        Streams.tumblingAgg(Tables.events(s, d), "1 hour")
          .orderBy("w_start", "event_type")),

    Query("q_stream_sliding",
      // each event lands in exactly width/slide = 2 sliding windows:
      // starts time_bucket(30m, ts) and time_bucket(30m, ts) - 30m
      """SELECT time_bucket(INTERVAL '30 minutes', ts)
                  - k.k * INTERVAL '30 minutes' AS w_start, event_type,
                count(*) AS n,
                CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
         FROM events CROSS JOIN (SELECT unnest([0, 1]) AS k) k
         GROUP BY 1, 2 ORDER BY w_start, event_type""",
      (s, d) =>
        Streams.slidingAgg(Tables.events(s, d), "1 hour", "30 minutes")
          .orderBy("w_start", "event_type")),

    // data-driven windows: per-user sessions at a 6 h idle gap (median
    // inter-event gap on this data is ~7.3 h, so sessions genuinely merge
    // AND split). Oracle = classic gaps-and-islands sessionization.
    Query("q_stream_session",
      // gaps-and-islands: a session breaks when the gap is >= 6 h (Spark's
      // session window end is exclusive: [first, last+gap)), session id =
      // running count of breaks, session start = min(ts) of the island.
      """WITH x AS (
           SELECT user_id, ts,
                  CASE WHEN lag(ts) OVER w IS NULL
                            OR epoch(ts - lag(ts) OVER w) >= 21600
                       THEN 1 ELSE 0 END AS new_s
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         s AS (
           SELECT user_id, ts,
                  sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                   ROWS UNBOUNDED PRECEDING) AS sid
           FROM x)
         SELECT min(ts) AS s_start, user_id, count(*) AS n
         FROM s GROUP BY user_id, sid ORDER BY user_id, s_start""",
      (s, d) =>
        Streams.sessionAgg(Tables.events(s, d), "6 hours")
          .orderBy("user_id", "s_start")),

    // stream-stream interval join, batch projection (the streaming run of
    // the same function is parity-tested in StreamingSpec)
    Query("q_stream_join",
      """SELECT c.event_id AS click_id, p.event_id AS p_id, c.user_id,
                round(p.value, 6) AS value
         FROM events c JOIN events p
           ON c.user_id = p.user_id
          AND c.event_type = 'click' AND p.event_type = 'purchase'
          AND p.ts >= c.ts - INTERVAL 24 HOURS AND p.ts <= c.ts
         ORDER BY click_id, p_id""",
      (s, d) =>
        Streams.clickPurchaseJoin(Tables.events(s, d), "24 hours")
          .orderBy("click_id", "p_id")),

    // stream-static broadcast enrichment, batch projection (streaming run
    // parity-tested in StreamingSpec; stateless, dim broadcast)
    Query("q_stream_enrich",
      """SELECT e.event_id, e.user_id, e.event_type,
                c.c_mktsegment AS segment, c.c_nationkey AS nationkey
         FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
         ORDER BY e.event_id""",
      (s, d) =>
        Streams.enrichWithUserDim(Tables.events(s, d), Tables.customer(s, d))
          .orderBy("event_id")),

    // LEFT OUTER interval join, batch projection — in batch the
    // time-gated outer verdict is just a left join; the streaming run's
    // watermark-cutoff semantics are parity-tested in StreamingSpec.
    // NULLS FIRST pinned explicitly: the engines' default null sort
    // order differs and outer rows carry a null p_id.
    Query("q_stream_join_left",
      """SELECT c.event_id AS click_id, c.ts AS c_ts, p.event_id AS p_id,
                c.user_id, round(p.value, 6) AS value
         FROM (SELECT * FROM events WHERE event_type = 'click') c
         LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
           ON c.user_id = p.user_id
          AND p.ts >= c.ts - INTERVAL 24 HOUR
          AND p.ts <= c.ts
         ORDER BY click_id, p_id NULLS FIRST""",
      (s, d) =>
        Streams.clickPurchaseJoinOuter(Tables.events(s, d), "24 hours")
          .orderBy(col("click_id"), col("p_id").asc_nulls_first)),

    // Ingest dedup, batch projection: retransmissions injected in-plan
    // (every user_id ≡ 0 mod 7 re-delivers its events once — exact row
    // copies, the at-least-once model), then Streams.dedupEvents
    // recovers the original stream. The dedup key is the FULL row, so
    // Spark's semantics equal the oracle's DISTINCT with no data
    // invariant in between; (user_id, event_type, ts) is additionally
    // unique in the base table at every scale, which makes the contract
    // sort total. The streaming run of the same function
    // (dropDuplicatesWithinWatermark state path) is parity-tested in
    // StreamingSpec.
    Query("q_stream_dedup",
      // duplicates are exact row copies, so DISTINCT over the doubled
      // union equals dedup-on-key (key unique in the base table)
      """WITH s AS (
           SELECT ts, user_id, event_type, value FROM events
           UNION ALL
           SELECT ts, user_id, event_type, value FROM events
           WHERE user_id % 7 = 0)
         SELECT DISTINCT ts, user_id, event_type, value FROM s
         ORDER BY user_id, ts, event_type""",
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("ts"), col("user_id"), col("event_type"), col("value"))
        Streams.dedupEvents(ev.unionAll(ev.filter(col("user_id") % 7 === 0)))
          .orderBy("user_id", "ts", "event_type")
      }),
  )
}
