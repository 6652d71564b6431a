package graft.operators

import org.apache.spark.{Aggregator, Partitioner}
import org.apache.spark.rdd.{RDD, ShuffledRDD}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Distributed graph analytics over a document link graph.
  *
  * A training-data pipeline at crawl scale is also a graph pipeline:
  * PageRank-family centrality over the host/page link graph is a
  * standard quality-weighting signal for crawled corpora (Page et al.
  * 1999, "The PageRank Citation Ranking"; Common Crawl publishes
  * harmonic-centrality host rankings for exactly this use), triangle
  * statistics measure local clustering (Watts–Strogatz), and BFS
  * reachability bounds crawl frontier depth. The reference repo's own
  * surface (`/root/reference/hadoop_tutorial/src/Kmeans.java:163-179`)
  * is an iterative driver loop over a bulk-synchronous job — the same
  * execution shape PageRank, BFS and HITS take here: DataFrame
  * self-joins per superstep for PageRank and BFS, a chain of
  * co-partitioned keyed RDD shuffles for HITS that runs as one Spark
  * job, instead of MR rounds.
  *
  * The edge set is derived deterministically from `documents` keys
  * (each doc "links to" 1–3 pseudo-random others via fixed multiplier
  * arithmetic mod |V|) because the synthetic corpus carries no real
  * hyperlinks; the derivation is identical SQL in the DuckDB oracle.
  * Out-degree is bounded by 3, so the graph stays sparse at every
  * scale — the operators below never materialize anything denser than
  * O(|E|) rows.
  *
  * Scale notes (the part that matters at 100 TB):
  *  - Every superstep shuffles by vertex id only — contributions are
  *    map-side pre-aggregated by the hash-partial of the groupBy (or
  *    the shuffle's map-side combine); no driver-held collections
  *    besides the |V| scalar and the final bounded top-k. HITS' L1
  *    totals travel as shuffle records, never through the driver: each
  *    of a superstep's P map tasks sends one total record to each of
  *    its P reduce partitions, P² records per superstep for
  *    P = `spark.sql.shuffle.partitions` (4·10⁴ at the default 200,
  *    10⁸ at 10⁴), so a large P costs HITS a quadratic shuffle floor.
  *  - PageRank arithmetic is integer-scaled (rank × 10^12 as BIGINT,
  *    floor division per edge) so sums are exact and shuffle order
  *    cannot move a bit — the same order-independence discipline the
  *    DECIMAL money aggregates use. A float PageRank would diverge
  *    between engines in the last ulp after 5 iterations.
  *  - Triangle counting uses the degree-ordered (compact-forward)
  *    orientation [Latapy 2008, "Main-memory triangle computations for
  *    very large (sparse (power-law)) graphs"]: each undirected edge
  *    is directed from its lower-(degree, id) endpoint, so a vertex
  *    generates wedges only among its HIGHER-ordered neighbors —
  *    per-vertex work is O(min(deg)²) not O(max(deg)²), which is the
  *    difference between feasible and not on power-law crawl graphs.
  */
object Graph {

  /** Integer rank scale: rank 1.0 ≡ 10^12. 15*SCALE and 85*total-rank
    * both stay far inside Long range for any |V| this engine meets in
    * one partition-able graph (overflow at |V| ≈ 10^5 teradocs).
    */
  val Scale: Long = 1000000000000L

  /** Directed link edges (src, dst): doc u → (131u + 17j) mod n for
    * j ∈ {1 .. 1 + (u mod 3)}, self-loops removed, deduplicated. The
    * per-key out-degree (1–3) is what makes the graph irregular —
    * with a constant j range every vertex has in-degree exactly 3
    * (u → 131u + 17j is a bijection mod n) and PageRank degenerates
    * to the uniform vector, which would let a wrong implementation
    * pass. `n` is passed in (one driver-held scalar, counted once by
    * the caller).
    */
  def linkEdges(docs: DataFrame, n: Long): DataFrame = edgeRows(docs, n).distinct()

  /** The edge formula of [[linkEdges]], one row per (doc row, j), so a
    * duplicated doc_id (or 17·Δj ≡ 0 mod n) repeats an edge. A null
    * doc_id yields no row. No exchange: turning it into an RDD starts
    * no job.
    */
  private def edgeRows(docs: DataFrame, n: Long): DataFrame = {
    // every Graph entry point funnels through here before any `/ n` or
    // `% n`: an empty corpus must die with the contract message, not a
    // bare ArithmeticException (or an ANSI-dependent null modulo)
    require(n > 0, s"graph over an empty corpus: vertex count n = $n")
    docs.select(col("doc_id").cast("long").as("src"))
      .select(col("src"),
        explode(array(lit(1L), lit(2L), lit(3L))).as("j"))
      .filter(col("j") <= lit(1L) + col("src") % 3L)
      .select(col("src"),
        ((col("src") * 131L + col("j") * 17L) % n).as("dst"))
      .filter(col("src") =!= col("dst"))
  }

  /** Undirected edge list with u < v, deduplicated. */
  def undirected(edges: DataFrame): DataFrame =
    edges.select(
      least(col("src"), col("dst")).as("u"),
      greatest(col("src"), col("dst")).as("v"))
      .distinct()

  /** Integer-scaled PageRank, fixed iteration count, damping 85/100.
    *
    * Per superstep: contribution of u to each out-neighbor is
    * floor(rank_u / outdeg_u); new rank is
    * floor(15·SCALE / (100n)) + floor(85·Σcontrib / 100).
    * All BIGINT, so the result is bit-identical regardless of
    * partitioning, shuffle order, or engine. Vertices with no
    * in-links keep the teleport term via the left join on the full
    * vertex set. Returns (doc_id, rank) for ALL vertices.
    */
  /** Full rank vector as a lazy DataFrame (doc_id, rank) — the form
    * downstream operators compose with (e.g. centrality-weighted
    * sampling). The adjacency subplan recurs once per iteration inside
    * ONE plan; Spark's ReuseExchange collapses the identical shuffle,
    * so no explicit persist (and therefore no cache lifetime to manage
    * on a DataFrame we hand to the caller).
    *
    * `iterations` cost model: each extra iteration adds exactly two
    * keyed shuffles to the one lazy plan (contributions grouped by
    * dst, then the left join back onto the vertex set) and nothing
    * driver-side — the default 5 is tuned to the test fixtures'
    * convergence, and turning it up for a larger graph scales the
    * plan linearly with no new scan of `docs`.
    */
  def pageRankScores(docs: DataFrame, n: Long,
                     iterations: Int = 5): DataFrame = {
    val vertices = docs.select(col("doc_id").cast("long").as("id"))
    val edges = linkEdges(docs, n)
    val outdeg = edges.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val adj = edges.join(outdeg, "src")
    val teleport = lit(15L * Scale / (100L * n))
    var ranks = vertices.select(col("id"), lit(Scale / n).as("rank"))
    for (_ <- 1 to iterations) {
      val contrib = adj
        .join(ranks, adj("src") === ranks("id"))
        .select(col("dst"), expr("rank div outdeg").as("c"))
        .groupBy("dst").agg(sum("c").as("c"))
      ranks = vertices
        .join(contrib, vertices("id") === contrib("dst"), "left")
        .select(col("id"),
          (teleport + expr("85 * coalesce(c, 0L) div 100")).as("rank"))
    }
    ranks.select(col("id").as("doc_id"), col("rank"))
  }

  def pageRank(docs: DataFrame, n: Long, iterations: Int = 5): DataFrame = {
    // The deliverable is the bounded top-20 (TakeOrderedAndProject —
    // never a global sort of |V| rows). Collecting 20 rows to the
    // driver is the same justified-bounded pattern as k-means
    // centroids.
    val top = pageRankScores(docs, n, iterations)
      .orderBy(col("rank").desc, col("doc_id")).limit(20)
      .collect()
    topRows(docs.sparkSession, top, Seq("doc_id" -> true, "rank" -> false))
  }

  /** A driver-held, already ordered top-k as a local relation of
    * BIGINT columns (name → nullable): collecting it starts no job.
    */
  private def topRows(spark: SparkSession, rows: Array[Row],
                      cols: Seq[(String, Boolean)]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(
      cols.map { case (c, nullable) => StructField(c, LongType, nullable) }))

  /** Global triangle census of the undirected link graph: one row of
    * (n_nodes, n_edges, n_wedges, n_triangles). Wedge count is the
    * exact Σ C(deg,2); triangles via degree-ordered wedge closure.
    */
  def triangleStats(docs: DataFrame, n: Long): DataFrame = {
    val und = undirected(linkEdges(docs, n))
    val deg = und.select(col("u").as("node"))
      .unionAll(und.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    // orient every edge from its lower (deg, id) endpoint
    val e = und
      .join(deg.withColumnRenamed("node", "u").withColumnRenamed("deg", "du"), "u")
      .join(deg.withColumnRenamed("node", "v").withColumnRenamed("deg", "dv"), "v")
    val oriented = e.select(
      when(col("du") < col("dv") ||
           (col("du") === col("dv") && col("u") < col("v")),
        struct(col("u").as("src"), col("v").as("dst"), col("dv").as("ddst")))
        .otherwise(
          struct(col("v").as("src"), col("u").as("dst"), col("du").as("ddst")))
        .as("o"))
      .select(col("o.src"), col("o.dst"), col("o.ddst"))
    // wedges among higher-ordered neighbors of a common src, then close
    val o1 = oriented.select(col("src"), col("dst").as("b"), col("ddst").as("db"))
    val o2 = oriented.select(col("src"), col("dst").as("c"), col("ddst").as("dc"))
    val wedgePairs = o1.join(o2, "src")
      .filter(col("db") < col("dc") ||
        (col("db") === col("dc") && col("b") < col("c")))
    val closed = wedgePairs.join(
      oriented.select(col("src").as("b"), col("dst").as("c")),
      Seq("b", "c"))
    // `div`, not `/`: Spark `/` on BIGINT is DOUBLE division, which
    // loses exactness once the wedge sum passes 2^53.
    val nodes = deg.agg(
      count(lit(1)).as("n_nodes"),
      expr("sum(deg * (deg - 1)) div 2").as("n_wedges"))
    val edgesN = und.agg(count(lit(1)).as("n_edges"))
    val triN = closed.agg(count(lit(1)).as("n_triangles"))
    nodes.crossJoin(edgesN).crossJoin(triN)
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
        col("n_triangles"))
  }

  /** HITS hubs-and-authorities (Kleinberg 1999), integer-exact.
    *
    * Mutually recursive: authority mass flows along in-links from hub
    * scores, hub mass along out-links from authority scores.
    * Normalization is L1 (divide by the global sum) rather than the
    * textbook L2 — a square root has no exact integer form; L1 is an
    * equally valid scaling choice (any norm only fixes the scale
    * factor) and keeps every value a BIGINT so the result is
    * shuffle-order independent.
    *
    * Fixed-point layout: scores carry factor 10^12; the normalize
    * step computes (x · 10^6) div max(1, Σx div 10^6), keeping every
    * intermediate under 2^63 for graphs up to ~10^6 vertices at
    * in/out-degree ≤ 3. Every sum and the 10^6 scaling are
    * `Math.addExact` / `multiplyExact`, so a graph past that range
    * fails with "long overflow" (as ANSI `sum` / `*` did) instead of
    * wrapping.
    *
    * Execution shape: relational operators build the graph (the
    * [[linkEdges]] formula and the vertex set, DataFrame API); a chain
    * of keyed RDD shuffles runs the supersteps (see [[superstep]]), all
    * under ONE [[VertexPartitioner]] of `spark.sql.shuffle.partitions`
    * partitions. The edges are shuffled by src, which also drops
    * duplicate edges (pairs that share a src share a partition), then
    * by dst; every score vector carries the same partitioner, so each
    * superstep's edge join is narrow and its only exchange is the
    * per-vertex sum, which carries the L1 total beside it. Nothing is
    * persisted and nothing returns to the driver between supersteps:
    * the final `cogroup` of multiplicities, authorities and hubs and
    * its bounded top-20 are the call's only action, so a call runs ONE
    * Spark job (2 · iterations + 4 stages) while the result is built,
    * and collecting the returned local 20-row frame runs none. A later
    * superstep re-reads the edge shuffles' files instead of a cache.
    * The totals cost each superstep P² small shuffle records for
    * P = `spark.sql.shuffle.partitions` (see [[superstep]]).
    * The default 2 iterations are tuned to the test fixtures'
    * convergence; each extra iteration adds exactly two stages.
    */
  def hits(docs: DataFrame, n: Long, iterations: Int = 2): DataFrame = {
    require(iterations >= 1, s"hits needs at least one iteration, got $iterations")
    val spark = docs.sparkSession
    val part = VertexPartitioner(spark.conf.get("spark.sql.shuffle.partitions").toInt)
    val bySrc = edgeRows(docs, n).rdd.map(r => ((r.getLong(0), r.getLong(1)), ()))
      .reduceByKey(part, (u, _) => u)
      .mapPartitions(_.map(_._1), preservesPartitioning = true)
    val byDst = bySrc.map(_.swap).partitionBy(part)
    // A null doc_id has no edges (edgeRows drops it) and is reinstated
    // with zero scores at the end; a duplicated one counts once per
    // row, as the vertex-set join always counted it.
    val ids = docs.select(col("doc_id").cast("long")).rdd
    val mult = ids.filter(!_.isNullAt(0)).map(r => (r.getLong(0), 1L))
      .reduceByKey(part, Math.addExact(_, _))
    // Score vectors are SPARSE: a vertex absent from `auth`/`hub` has
    // score 0, because (a) a missing row contributes no terms to the
    // next superstep's edge-join sum — identical to a present row
    // contributing 0-valued terms, (b) the L1 total is unchanged by
    // absent zeros, and (c) the normalize maps 0 to (0·10⁶) div d = 0.
    // The full vertex set is reinstated once, in the final cogroup.
    var hub = mult.mapValues(m => Math.multiplyExact(m, Scale))
    var auth: RDD[(Long, Long)] = null
    for (_ <- 1 to iterations) {
      auth = superstep(bySrc, hub, part)
      hub = superstep(byDst, auth, part)
    }
    val nulls = ids.filter(_.isNullAt(0)).map(_ => (Option.empty[Long], 0L, 0L))
    val top = mult.cogroup(auth, hub, part)
      .flatMap { case (id, (ms, as, hs)) =>
        val (a, h) = (as.headOption.getOrElse(0L), hs.headOption.getOrElse(0L))
        ms.iterator.flatMap(m => Iterator.fill(m.toInt)((Option(id), a, h)))
      }
      .union(nulls)
      // auth descending, then doc_id ascending with null first — the
      // order SQL's `ORDER BY auth DESC, doc_id` gives
      .takeOrdered(20)(Ordering.by[(Option[Long], Long, Long), (Long, Option[Long])] {
        case (id, a, _) => (-a, id) })
    topRows(spark, top.map { case (id, a, h) => Row(id.map(Long.box).orNull, a, h) },
      Seq("doc_id" -> true, "auth" -> true, "hub" -> true))
  }

  /** One HITS superstep: every vertex's score flows along `adj`
    * (key → neighbour) and sums per neighbour, then the sums are
    * L1-normalized. `adj` and `scores` must both carry `part`, so the
    * join is narrow and the sum is the step's only exchange.
    *
    * The L1 total rides that same exchange: each map task adds up the
    * contributions it sends and, after them, sends its partial total
    * to every reduce partition, keyed by a [[StepKey]] total record
    * for that partition. The shuffle sums them like any key, and its
    * key ordering hands each reduce task the exact global total before
    * its first vertex, so the task normalizes its vertices as it
    * streams them: no driver round trip, no cache, no accumulator (a
    * retried map task replaces its whole output, total included), and
    * the shuffle's own spillable sort is the only buffer. With P =
    * `part.numPartitions` map tasks each sending P total records, a
    * superstep shuffles P² total records beside the contributions
    * (4·10⁴ at P = 200, 10⁸ at P = 10⁴). The returned
    * vector is lazy and keeps `part`; evaluating it fails with "long
    * overflow" if a sum or the 10⁶ scaling leaves Long range.
    * (Broadcasting the total back inside one plan instead re-executes
    * the whole upstream lineage at every normalize: ~5× slower at sf0.1.)
    */
  private[graft] def superstep(adj: RDD[(Long, Long)], scores: RDD[(Long, Long)],
                               part: VertexPartitioner): RDD[(Long, Long)] = {
    val sends = adj.join(scores, part).mapPartitions { it =>
      var total = 0L
      // `++` reads its operand only once the contributions are spent,
      // so every total record carries this task's whole sum
      it.map { case (_, (to, s)) =>
        total = Math.addExact(total, s)
        (StepKey(total = false, to), s)
      } ++ Iterator.tabulate(part.numPartitions)(q => (StepKey(total = true, q), total))
    }
    val add = (a: Long, b: Long) => Math.addExact(a, b)
    new ShuffledRDD[StepKey, Long, Long](sends, part)
      .setAggregator(Aggregator[StepKey, Long, Long]((x: Long) => x, add, add))
      .setMapSideCombine(true)
      .setKeyOrdering(StepKey.TotalFirst)
      .mapPartitions({ it =>
        val (first, total) = it.next()
        assert(first.total, s"superstep reduce task read $first before its total")
        // max(1, ·) guards the tiny-graph case where the total is under
        // 10^6 and the scaled divisor would be 0 (the oracle mirrors it
        // with greatest(1, ·)); the empty graph's total is 0 likewise
        val d = math.max(1L, total / 1000000L)
        it.map { case (k, x) => (k.id, Math.multiplyExact(x, 1000000L) / d) }
      }, preservesPartitioning = true)
  }

  /** A HITS superstep's shuffle key: the summed score of vertex `id`,
    * or (`total`) the L1-total record bound for reduce partition `id`.
    */
  private[graft] final case class StepKey(total: Boolean, id: Long)

  private[graft] object StepKey {
    /** Total record first, then vertices by id. */
    val TotalFirst: Ordering[StepKey] = new Ordering[StepKey] {
      def compare(a: StepKey, b: StepKey): Int =
        if (a.total != b.total) (if (a.total) -1 else 1)
        else java.lang.Long.compare(a.id, b.id)
    }
  }

  /** HITS' one partitioner: a vertex id, an edge (by its src) and a
    * vertex [[StepKey]] go to the vertex's hash partition; a total
    * [[StepKey]] goes to the partition it names.
    */
  private[graft] final case class VertexPartitioner(numPartitions: Int) extends Partitioner {
    def getPartition(key: Any): Int = key match {
      case v: Long => vertex(v)
      case (src: Long, _) => vertex(src)
      case StepKey(false, v) => vertex(v)
      case StepKey(true, q) => q.toInt
    }
    private def vertex(v: Long): Int = Math.floorMod(java.lang.Long.hashCode(v), numPartitions)
  }

  /** Shortest hop distance from `source` over directed link edges,
    * bounded at `maxDepth` supersteps. Frontier-expansion BFS: each
    * round joins the previous frontier against the adjacency list and
    * folds new vertices in with a min-distance groupBy — the Pregel
    * shape, one vertex-id shuffle per round. Returns (doc_id, dist)
    * for every reached vertex.
    */
  def bfsDepths(docs: DataFrame, n: Long, source: Long = 0L,
                maxDepth: Int = 4): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val edges = linkEdges(docs, n)
    var reached: DataFrame = Seq((source, 0)).toDF("id", "dist")
    var prevCkpt: DataFrame = null
    for (depth <- 1 to maxDepth) {
      val frontier = reached.filter(col("dist") === depth - 1)
      val next = frontier
        .join(edges, frontier("id") === edges("src"))
        .select(col("dst").as("id"), lit(depth).as("dist"))
      reached = reached.unionAll(next)
        .groupBy("id").agg(min("dist").as("dist"))
      // `reached` is referenced TWICE per round (filter + unionAll), so
      // the lazy plan doubles per superstep — 2^depth lineage copies is
      // the plan-explosion failure mode Components.scala checkpoints
      // against. Truncate every 5 rounds via IterCkpt (localCheckpoint,
      // or reliable checkpoint when graft.iter.checkpointDir is set):
      // the shallow default stays ONE lazy job (no materialization,
      // unchanged plan), a deep walk's plan is bounded at 2^5 copies
      // between truncations. A superseded truncation's blocks are
      // dropped only once a successor exists (truncated state cannot be
      // recomputed after the drop).
      if (depth % 5 == 0 && depth < maxDepth) {
        val ck = IterCkpt.truncate(reached)
        if (prevCkpt ne null) IterCkpt.drop(prevCkpt)
        prevCkpt = ck
        reached = ck
      }
    }
    reached.select(col("id").as("doc_id"), col("dist").cast("long").as("dist"))
  }
}
