package graft.queries

import graft.Tables
import graft.operators.{Graph, Sampling}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Link-graph analytics over the documents corpus — see
  * [[graft.operators.Graph]] for the algorithms and scale rationale.
  * The link graph is derived deterministically from doc_id arithmetic
  * (3 out-links per doc, mod |V|), identically in both engines, so
  * every row below is exact-integer comparable: PageRank is scaled
  * BIGINT fixed-point, triangles/wedges/BFS depths are counts.
  */
object GraphQueries {

  private def docs(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)

  /** |V| memoized per (session, sfDir) — the same corpus-cardinality
    * scalar memo the ANN rows' `embCount` uses (one count job per
    * session instead of one per graph-query invocation; the count is a
    * pure function of the immutable input dir, same caveat as every
    * PerSession memo: fresh session per data epoch). Every graph row
    * needs |V| as a plan literal for the `% n` edge derivation.
    */
  private val docCountCache = new PipelineQueries.PerSession[Long]
  private def docCount(s: SparkSession, d: String): Long =
    docCountCache.get(s, d)(docs(s, d).count())

  /** Shared edge-derivation CTEs (DuckDB). `nn` carries |V|; `e` is the
    * directed link set; reused verbatim across the three oracles so the
    * graph under test is provably the same one.
    */
  private val edgeCte =
    """WITH RECURSIVE nn AS (SELECT count(*) AS n FROM documents),
       e AS (SELECT DISTINCT doc_id AS src,
                    (doc_id * 131 + j * 17) % nn.n AS dst
             FROM documents, nn, UNNEST([1, 2, 3]) AS t(j)
             WHERE j <= 1 + doc_id % 3
               AND (doc_id * 131 + j * 17) % nn.n <> doc_id)"""

  /** Unrolled 5-iteration PageRank CTE chain (r0..r5), all BIGINT floor
    * division — bit-identical to the Spark loop. Shared by the top-20
    * projection and the rank-weighted sampling oracle.
    */
  private val pagerankChain: String = {
    val iters = (1 to 5).map { i =>
      s"""c$i AS (SELECT adj.dst AS id, sum(r${i - 1}.pr // adj.outdeg) AS c
                  FROM adj JOIN r${i - 1} ON r${i - 1}.id = adj.src
                  GROUP BY adj.dst),
          r$i AS (SELECT d.doc_id AS id,
                         (SELECT (15 * 1000000000000) // (100 * n) FROM nn)
                         + (85 * coalesce(c.c, 0)) // 100 AS pr
                  FROM documents d LEFT JOIN c$i c ON c.id = d.doc_id)"""
    }.mkString(",\n")
    s"""$edgeCte,
        dg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
        adj AS (SELECT e.src, e.dst, dg.outdeg FROM e JOIN dg USING (src)),
        r0 AS (SELECT doc_id AS id,
                      (SELECT 1000000000000 // n FROM nn) AS pr
               FROM documents),
        $iters"""
  }

  private val pagerankSql: String =
    s"""$pagerankChain
        SELECT id AS doc_id, CAST(pr AS BIGINT) AS rank
        FROM r5 ORDER BY pr DESC, id LIMIT 20"""

  private val rankSampleSql: String =
    s"""$pagerankChain,
        m AS (SELECT max(pr) AS maxr FROM r5)
        SELECT id AS doc_id, CAST(pr AS BIGINT) AS rank
        FROM r5, m
        WHERE (CAST(id AS HUGEINT) * 2654435761) % 4294967296
              < (pr // 1000) * 4294967296 // ((maxr // 1000) * 2)
        ORDER BY doc_id"""

  /** Unrolled 2-iteration HITS: per iteration, raw authority = hub
    * mass over in-links, L1-normalize; raw hub = authority mass over
    * out-links, L1-normalize. The normalize step is the same
    * (x·10^6) // (Σx // 10^6) integer form the Spark operator uses.
    */
  private val hitsSql: String = {
    // greatest(1, ·) mirrors the Spark side's max(1L, ·) divisor guard
    // for tiny graphs whose global score sum is under 10^6.
    def norm(inp: String, out: String, c: String) =
      s"""$out AS (SELECT id, ($c * 1000000)
                          // greatest(1, (SELECT sum($c) FROM $inp) // 1000000)
                            AS $c
                   FROM $inp)"""
    val iters = (1 to 2).flatMap { i =>
      val prevHub = if (i == 1) "h0" else s"h${i - 1}"
      Seq(
        s"""a${i}r AS (SELECT d.doc_id AS id, coalesce(s.a, 0) AS auth
                FROM documents d LEFT JOIN (
                  SELECT e.dst AS id, sum(h.hub) AS a
                  FROM e JOIN $prevHub h ON h.id = e.src
                  GROUP BY e.dst) s ON s.id = d.doc_id)""",
        norm(s"a${i}r", s"a$i", "auth"),
        s"""h${i}r AS (SELECT d.doc_id AS id, coalesce(s.h, 0) AS hub
                FROM documents d LEFT JOIN (
                  SELECT e.src AS id, sum(a.auth) AS h
                  FROM e JOIN a$i a ON a.id = e.dst
                  GROUP BY e.src) s ON s.id = d.doc_id)""",
        norm(s"h${i}r", s"h$i", "hub"))
    }.mkString(",\n")
    s"""$edgeCte,
        h0 AS (SELECT doc_id AS id, 1000000000000 AS hub FROM documents),
        $iters
        SELECT a2.id AS doc_id, CAST(a2.auth AS BIGINT) AS auth,
               CAST(h2.hub AS BIGINT) AS hub
        FROM a2 JOIN h2 USING (id)
        ORDER BY a2.auth DESC, a2.id LIMIT 20"""
  }

  val queries: Seq[Query] = Seq(
    // 5-iteration integer-scaled PageRank; top-20 pages by rank.
    // The crawl-quality-weighting signal: rank feeds corpus sampling
    // weights the way Common Crawl's harmonic-centrality host ranks do.
    Query("q_pagerank", pagerankSql,
      (s, d) => {
        val dd = docs(s, d)
        Graph.pageRank(dd, docCount(s, d), iterations = 5)
      }),

    // Global triangle census (nodes/edges/wedges/triangles) via the
    // degree-ordered compact-forward closure — never a high-degree
    // wedge explosion, so the same plan survives power-law graphs.
    Query("q_triangle_count",
      // naive id-ordered 3-join closure: the oracle states triangle
      // semantics the simple way; the Spark side reaches the same count
      // via the degree-ordered orientation
      s"""$edgeCte,
         und AS (SELECT DISTINCT least(src, dst) AS u,
                        greatest(src, dst) AS v FROM e),
         dg AS (SELECT node, count(*) AS deg FROM (
                  SELECT u AS node FROM und
                  UNION ALL SELECT v FROM und) z GROUP BY node),
         tri AS (SELECT count(*) AS t
                 FROM und e1
                 JOIN und e2 ON e2.u = e1.v
                 JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v)
         SELECT (SELECT count(*) FROM dg) AS n_nodes,
                (SELECT count(*) FROM und) AS n_edges,
                (SELECT CAST(sum(deg * (deg - 1)) // 2 AS BIGINT) FROM dg)
                  AS n_wedges,
                (SELECT t FROM tri) AS n_triangles""",
      (s, d) => {
        val dd = docs(s, d)
        Graph.triangleStats(dd, docCount(s, d))
      }),

    // Bounded-depth BFS from doc 0: shortest hop distance for every
    // page reachable in ≤4 supersteps (the crawl-frontier shape).
    Query("q_bfs_reach",
      s"""$edgeCte,
         walk(id, dist) AS (
           SELECT CAST(0 AS BIGINT) AS id, 0 AS dist
           UNION
           SELECT e.dst, w.dist + 1
           FROM walk w JOIN e ON e.src = w.id
           WHERE w.dist < 4)
         SELECT id AS doc_id, CAST(min(dist) AS BIGINT) AS dist
         FROM walk GROUP BY id ORDER BY doc_id""",
      (s, d) => {
        val dd = docs(s, d)
        Graph.bfsDepths(dd, docCount(s, d), source = 0L, maxDepth = 4)
          .orderBy("doc_id")
      }),

    // HITS hubs-and-authorities, 2 iterations, L1-normalized integer
    // fixed-point (see Graph.hits) — top-20 authorities.
    Query("q_hits", hitsSql,
      (s, d) => {
        val dd = docs(s, d)
        Graph.hits(dd, docCount(s, d), iterations = 2)
      }),

    // Degree-distribution census: the (direction, degree, n_nodes)
    // histogram both link-analysis papers and crawl-health dashboards
    // start from (power-law detection, dangling-node counts). Two
    // count-aggregations over the edge list, unioned; output is
    // O(max_degree) rows at any corpus size. Nodes with zero
    // in-links appear via the vertex left join (deg 0) — dropping
    // them silently is the classic histogram bug.
    Query("q_degree_dist",
      s"""$edgeCte,
         outd AS (SELECT d.doc_id AS id, count(e.src) AS deg
                  FROM documents d LEFT JOIN e ON e.src = d.doc_id
                  GROUP BY d.doc_id),
         ind AS (SELECT d.doc_id AS id, count(e.dst) AS deg
                 FROM documents d LEFT JOIN e ON e.dst = d.doc_id
                 GROUP BY d.doc_id)
         SELECT 'out' AS direction, deg, count(*) AS n_nodes
         FROM outd GROUP BY deg
         UNION ALL
         SELECT 'in' AS direction, deg, count(*) AS n_nodes
         FROM ind GROUP BY deg
         ORDER BY direction, deg""",
      (s, d) => {
        val dd = docs(s, d)
        val n = docCount(s, d)
        val edges = Graph.linkEdges(dd, n)
        val vertices = dd.select(col("doc_id").cast("long").as("id"))
        def dist(keyCol: String, dir: String) = {
          val degs = edges.groupBy(col(keyCol).as("id"))
            .agg(count(lit(1)).as("deg"))
          vertices.join(degs, Seq("id"), "left")
            .select(coalesce(col("deg"), lit(0L)).as("deg"))
            .groupBy("deg").agg(count(lit(1)).as("n_nodes"))
            .select(lit(dir).as("direction"), col("deg"), col("n_nodes"))
        }
        dist("src", "out").unionAll(dist("dst", "in"))
          .orderBy("direction", "deg")
      }),

    // Centrality-weighted corpus sampling — the graph signal composed
    // into a curation decision (crawl pipelines keep pages with
    // probability proportional to host rank). Keep doc iff its Knuth
    // bucket falls under rank/(2·max_rank) of the hash space: the
    // decision is a pure integer function of (doc_id, rank), so the
    // sample is retry-safe and oracle-replicable — the same discipline
    // as every Sampling operator. One broadcast 1-row max joins the
    // lazy full-rank vector; no collect anywhere.
    Query("q_rank_sample", rankSampleSql,
      (s, d) => {
        val dd = docs(s, d)
        val scores = Graph.pageRankScores(dd, docCount(s, d), iterations = 5)
        val maxr = scores.agg(max("rank").as("maxr"))
        scores.crossJoin(broadcast(maxr))
          .filter(Sampling.bucketOf(col("doc_id")) <
            expr("(rank div 1000) * 4294967296 div ((maxr div 1000) * 2)"))
          .select(col("doc_id"), col("rank"))
          .orderBy("doc_id")
      }),
  )
}
