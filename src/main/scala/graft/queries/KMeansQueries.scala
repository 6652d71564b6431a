package graft.queries

import graft.Tables
import graft.operators.KMeans
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** K-means as t2 queries over the embeddings table (64-dim float vectors).
  * Centroid seeds are the k lowest vec_ids — deterministic, so the DuckDB
  * oracle can replay the exact computation.
  */
object KMeansQueries {
  private val K = 4
  private val DIM = 64

  private def seeds(s: SparkSession, d: String): Array[Array[Double]] =
    Tables.embeddings(s, d).filter(col("vec_id") < K)
      .orderBy("vec_id")
      .select(col("embedding").cast("array<double>"))
      .collect()
      .map(_.getSeq[Double](0).toArray)

  // DuckDB replay: centroid seeds = vec_id < 4; argmin via row_number over
  // (distance, cid); mean vectors via unnest + list(avg ORDER BY dim).
  //
  // Empty-cluster contract: KMeans.lloyd keeps the PREVIOUS center when a
  // cluster empties, while this SQL replay would simply lose the cid (its
  // next argmin ranges over fewer centers) — the two diverge if any
  // cluster empties during the verified 2-iteration schedule. This is a
  // REAL hazard, not theoretical: at sf0.001 the 250 near-random vectors
  // collapse to 2 clusters after one mean update. The oracle claim is
  // therefore scoped to the dataset the driver verifies (sf0.01), where
  // KMeansGoldenSpec asserts every round of the schedule keeps all 4
  // clusters non-empty.
  private val assignSql =
    """WITH c0 AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS ce
                   FROM embeddings WHERE vec_id < 4),
            e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            d AS (SELECT e.vec_id, c0.cid,
                         row_number() OVER (PARTITION BY e.vec_id
                                            ORDER BY list_distance(e.v, c0.ce), c0.cid) AS rn
                  FROM e, c0)
       SELECT vec_id, CAST(cid + 1 AS BIGINT) AS cluster FROM d WHERE rn = 1
       ORDER BY vec_id"""

  private val sizesSql =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            c0 AS (SELECT vec_id AS cid, v AS ce FROM e WHERE vec_id < 4),
            a1 AS (SELECT vec_id, cid FROM (
                     SELECT e.vec_id, c0.cid, e.v,
                            row_number() OVER (PARTITION BY e.vec_id
                                               ORDER BY list_distance(e.v, c0.ce), c0.cid) AS rn
                     FROM e, c0) t WHERE rn = 1),
            c1 AS (SELECT cid, list(m ORDER BY dim) AS ce FROM (
                     SELECT a1.cid, u.dim, avg(u.val) AS m
                     FROM a1 JOIN e USING (vec_id),
                          LATERAL (SELECT UNNEST(generate_series(1, 64)) AS dim,
                                          UNNEST(e.v) AS val) u
                     GROUP BY a1.cid, u.dim) t GROUP BY cid),
            a2 AS (SELECT vec_id, cid FROM (
                     SELECT e.vec_id, c1.cid,
                            row_number() OVER (PARTITION BY e.vec_id
                                               ORDER BY list_distance(e.v, c1.ce), c1.cid) AS rn
                     FROM e, c1) t WHERE rn = 1),
            c2 AS (SELECT cid, list(m ORDER BY dim) AS ce FROM (
                     SELECT a2.cid, u.dim, avg(u.val) AS m
                     FROM a2 JOIN e USING (vec_id),
                          LATERAL (SELECT UNNEST(generate_series(1, 64)) AS dim,
                                          UNNEST(e.v) AS val) u
                     GROUP BY a2.cid, u.dim) t GROUP BY cid),
            a3 AS (SELECT vec_id, cid FROM (
                     SELECT e.vec_id, c2.cid,
                            row_number() OVER (PARTITION BY e.vec_id
                                               ORDER BY list_distance(e.v, c2.ce), c2.cid) AS rn
                     FROM e, c2) t WHERE rn = 1)
       SELECT CAST(cid + 1 AS BIGINT) AS cluster, count(*) AS n FROM a3
       GROUP BY cid ORDER BY cluster"""

  val queries: Seq[Query] = Seq(
    // single assignment step: argmin over k broadcast centroids
    Query("q_kmeans_assign", assignSql,
      (s, d) => {
        val emb = Tables.embeddings(s, d)
          .select(col("vec_id"), col("embedding").cast("array<double>").as("vec"))
        KMeans.assign(emb, "vec", seeds(s, d), KMeans.EuclideanSq)
          .select(col("vec_id"), col("cluster").cast("long").as("cluster"))
          .orderBy("vec_id")
      }),

    // two Lloyd mean-updates then label: cluster sizes
    Query("q_kmeans_sizes", sizesSql,
      (s, d) => {
        val emb = Tables.embeddings(s, d)
          .select(col("vec_id"), col("embedding").cast("array<double>").as("vec"))
        val fit = KMeans.lloyd(emb, "vec", seeds(s, d), KMeans.EuclideanSq, maxIter = 2)
        KMeans.assign(emb, "vec", fit.centers, KMeans.EuclideanSq)
          .groupBy("cluster")
          .agg(count(lit(1)).as("n"))
          .select(col("cluster").cast("long").as("cluster"), col("n"))
          .orderBy("cluster")
      }),
  )
}
