package graft

import graft.operators.Graph
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.joins.CartesianProductExec
import org.apache.spark.sql.functions._

/** Graph-analytics operator properties: the degree-ordered triangle
  * closure agrees with the naive id-ordered count, PageRank conserves
  * scaled mass and ranks a known hub first, BFS distances satisfy the
  * triangle inequality over edges, HITS matches a plain-Scala integer
  * replay bit for bit.
  */
class GraphSpec extends SparkSpec {

  private def docsDf = Tables.documents(spark, sf)
  private lazy val n = docsDf.count()

  /** Naive triangle count: id-ordered 3-way self-join (the oracle's
    * formulation) — the correctness anchor for the oriented version.
    */
  private def naiveTriangles(und: DataFrame): Long = {
    val e1 = und.select(col("u").as("a"), col("v").as("b"))
    val e2 = und.select(col("u").as("b2"), col("v").as("c"))
    val e3 = und.select(col("u").as("a3"), col("v").as("c3"))
    e1.join(e2, col("b") === col("b2"))
      .join(e3, col("a") === col("a3") && col("c") === col("c3"))
      .count()
  }

  test("triangle census: oriented closure == naive 3-join count") {
    val stats = Graph.triangleStats(docsDf, n).collect().head
    val und = Graph.undirected(Graph.linkEdges(docsDf, n))
    assert(stats.getAs[Long]("n_triangles") === naiveTriangles(und))
    assert(stats.getAs[Long]("n_edges") === und.count())
  }

  test("triangle census on a handmade graph: K4 has 4 triangles, 6 wedges x2") {
    // K4 plus a pendant vertex: 4 triangles, C(3,2)*4 + C(1,2)... spell it:
    // degrees are 3,3,3,4,1 -> wedges = 3+3+3+6+0 = 15
    import spark.implicits._
    val edges = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L),
      (2L, 3L), (3L, 4L)).toDF("u", "v")
    // reuse the internals by going through a stub docs frame is not
    // possible (edge derivation is keyed), so check the naive anchor
    // and the wedge formula directly on this fixture
    assert(naiveTriangles(edges) === 4L)
    val wedges = edges.select(col("u").as("node"))
      .unionAll(edges.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
      .agg(expr("sum(deg * (deg - 1)) div 2")).collect().head.getLong(0)
    assert(wedges === 15L)
  }

  test("pagerank: scaled mass stays within floor-loss of n*Scale") {
    val pr = Graph.pageRank(docsDf, n, iterations = 5)
    val rows = pr.collect()
    assert(rows.length === 20)
    // ranks strictly positive and bounded by total mass
    assert(rows.forall(_.getAs[Long]("rank") > 0L))
    assert(rows.forall(_.getAs[Long]("rank") < n * Graph.Scale))
    // descending by rank, tie-broken by doc_id
    val pairs = rows.map(r => (r.getAs[Long]("rank"), r.getAs[Long]("doc_id")))
    assert(pairs.sliding(2).forall { case Array((r1, d1), (r2, d2)) =>
      r1 > r2 || (r1 == r2 && d1 < d2)
    })
  }

  test("pagerank: an in-link-heavy vertex outranks a teleport-only one") {
    // full vertex-set rank (not just top-20): recompute one iteration by
    // hand for a vertex with no in-links — its rank must equal the
    // teleport floor exactly, and every top-20 rank must exceed it
    val teleport = 15L * Graph.Scale / (100L * n)
    val pr = Graph.pageRank(docsDf, n, iterations = 5).collect()
    assert(pr.forall(_.getAs[Long]("rank") > teleport))
  }

  test("hits: top-20 authorities, positive scores, auth-descending order") {
    val rows = Graph.hits(docsDf, n, iterations = 2).collect()
    assert(rows.length === 20)
    // every vertex has out-links (fan-out >= 1 by construction), so the
    // top authorities must carry strictly positive auth mass; hub can be
    // 0 only for a vertex none of whose targets hold authority — not in
    // the top-20 on this graph
    assert(rows.forall(_.getAs[Long]("auth") > 0L))
    assert(rows.forall(_.getAs[Long]("hub") >= 0L))
    val pairs = rows.map(r => (r.getAs[Long]("auth"), r.getAs[Long]("doc_id")))
    assert(pairs.sliding(2).forall { case Array((a1, d1), (a2, d2)) =>
      a1 > a2 || (a1 == a2 && d1 < d2)
    })
    // L1 normalization: no single score can exceed the total scale
    assert(rows.forall(_.getAs[Long]("auth") <= Graph.Scale))
  }

  /** Plain-Scala integer HITS on `ids` (nulls already removed): the
    * same edges, the same (x·10⁶) div max(1, Σ div 10⁶) normalize, a
    * missing score read as 0. Returns the top-20 (doc_id, auth, hub)
    * by auth descending, doc_id ascending.
    */
  private def replayHits(ids: Seq[Long], n: Long, iterations: Int): Seq[(Long, Long, Long)] = {
    val edges = ids.distinct.flatMap(u =>
      (1L to 1L + u % 3).map(j => (u, (u * 131L + j * 17L) % n))).filter(e => e._1 != e._2).distinct
    def norm(m: Map[Long, Long]): Map[Long, Long] = {
      val d = math.max(1L, m.values.sum / 1000000L)
      m.map { case (k, v) => k -> v * 1000000L / d }
    }
    def flow(from: Map[Long, Long], key: ((Long, Long)) => Long,
             nbr: ((Long, Long)) => Long): Map[Long, Long] =
      norm(edges.groupBy(nbr).map { case (v, es) => v -> es.map(e => from.getOrElse(key(e), 0L)).sum })
    var hub = ids.groupBy(identity).map { case (id, xs) => id -> xs.size * Graph.Scale }
    var auth = Map.empty[Long, Long]
    for (_ <- 1 to iterations) {
      auth = flow(hub, _._1, _._2)
      hub = flow(auth, _._2, _._1)
    }
    ids.map(id => (id, auth.getOrElse(id, 0L), hub.getOrElse(id, 0L)))
      .sortBy { case (id, a, _) => (-a, id) }.take(20)
  }

  private def hitsRows(df: DataFrame): Seq[(Long, Long, Long)] =
    df.collect().toSeq.map(r =>
      (r.getAs[Long]("doc_id"), r.getAs[Long]("auth"), r.getAs[Long]("hub")))

  private def withParts[T](parts: Int, aqe: Boolean)(body: => T): T = withConf(
    "spark.sql.shuffle.partitions" -> parts.toString,
    "spark.sql.adaptive.enabled" -> aqe.toString)(body)

  private def idDocs(ids: Seq[Long]): DataFrame = {
    import spark.implicits._
    ids.map(i => (i, "t")).toDF("doc_id", "text")
  }

  test("hits: top-20 equals a plain-Scala integer replay at any partitioning, AQE on or off") {
    val ids = docsDf.select(col("doc_id").cast("long")).collect().toSeq.map(_.getLong(0))
    for (iterations <- Seq(1, 2, 3)) {
      val want = replayHits(ids, n, iterations)
      assert(want.length === 20)
      for (parts <- Seq(1, 3, 7); aqe <- Seq(true, false))
        assert(withParts(parts, aqe)(hitsRows(Graph.hits(docsDf, n, iterations))) === want,
          s"iterations=$iterations shuffle.partitions=$parts aqe=$aqe")
    }
  }

  test("hits: a one-document corpus has only a self-loop, so no edges and zero scores") {
    // 0 → (17j) mod 1 = 0 for every j: the one candidate edge is a
    // self-loop, so every superstep's total is 0 and max(1, ·) divides
    for (iterations <- Seq(1, 2); parts <- Seq(1, 3)) {
      val got = withParts(parts, aqe = true)(hitsRows(Graph.hits(idDocs(Seq(0L)), n = 1, iterations)))
      assert(got === Seq((0L, 0L, 0L)), s"iterations=$iterations shuffle.partitions=$parts")
      assert(got === replayHits(Seq(0L), 1, iterations))
    }
  }

  test("hits: more shuffle partitions than vertices, so some reduce tasks see only the total") {
    val ids = Seq(0L, 1L, 2L, 3L, 4L, 5L, 5L)
    for (iterations <- Seq(1, 2, 3))
      assert(withParts(16, aqe = false)(hitsRows(Graph.hits(idDocs(ids), n = 6, iterations))) ===
        replayHits(ids, 6, iterations), s"iterations=$iterations")
  }

  test("hits superstep: a total under 10^6 divides by max(1, ·), not by 0") {
    val sc = spark.sparkContext
    for (parts <- Seq(1, 3, 7)) {
      val part = Graph.VertexPartitioner(parts)
      def keyed(xs: (Long, Long)*) = sc.parallelize(xs, 2).partitionBy(part)
      // 9 ← 1 and 2, 8 ← 3: raw sums 5 and 4, total 9, so d = max(1, 0) = 1
      val out = Graph.superstep(keyed(1L -> 9L, 2L -> 9L, 3L -> 8L),
        keyed(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 7L), part)
      assert(out.collect().toMap === Map(9L -> 5000000L, 8L -> 4000000L), s"partitions=$parts")
      assert(out.partitioner === Some(part))
    }
  }

  test("hits: collecting the result twice and calling hits twice give identical rows") {
    val df = Graph.hits(docsDf, n)
    val once = hitsRows(df)
    assert(once.length === 20)
    assert(hitsRows(df) === once)
    assert(hitsRows(Graph.hits(docsDf, n)) === once)
  }

  test("hits: one job while built (2·iterations + 4 stages), none to collect") {
    val (docs, nv) = (docsDf, n)
    for (iterations <- Seq(1, 2, 3)) {
      val (df, built) = jobsOf(Graph.hits(docs, nv, iterations))
      assert(built === Ran(jobs = 1, stages = 2 * iterations + 4), s"iterations=$iterations")
      val (rows, collected) = jobsOf(df.collect())
      assert(rows.length === 20)
      assert(collected === Ran(0, 0), s"iterations=$iterations")
    }
  }

  test("pagerank: collecting the 20-row result starts no job") {
    val df = Graph.pageRank(docsDf, n, iterations = 2)
    val (rows, collected) = jobsOf(df.collect())
    assert(rows.length === 20)
    assert(collected === Ran(0, 0))
  }

  test("bfs: source at 0, neighbors at 1, dist obeys edge relaxation") {
    val d = Graph.bfsDepths(docsDf, n, source = 0L, maxDepth = 4)
    val dist = d.collect().map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[Long]("dist")).toMap
    assert(dist(0L) === 0L)
    val edges = Graph.linkEdges(docsDf, n).collect()
      .map(r => (r.getAs[Long]("src"), r.getAs[Long]("dst")))
    // every out-neighbor of the source is at distance exactly 1
    edges.filter(_._1 == 0L).foreach { case (_, v) => assert(dist(v) === 1L) }
    // relaxation: d(v) <= d(u) + 1 for every edge whose endpoints are
    // both reached (equality not required — maxDepth truncates)
    edges.foreach { case (u, v) =>
      (dist.get(u), dist.get(v)) match {
        case (Some(du), Some(dv)) => assert(dv <= du + 1)
        case _ => ()
      }
    }
    // depths never exceed the bound
    assert(dist.values.forall(x => x >= 0L && x <= 4L))
  }

  test("bfs: a deep walk (maxDepth 14) stays plan-bounded and agrees on shallow depths") {
    // `reached` is referenced twice per superstep, so without periodic
    // lineage truncation the plan doubles per round (2^14 copies here —
    // the Components-documented driver-heap failure). The periodic
    // localCheckpoint must not change any distance.
    val shallow = Graph.bfsDepths(docsDf, n, source = 0L, maxDepth = 4)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("dist")).toMap
    val deep = Graph.bfsDepths(docsDf, n, source = 0L, maxDepth = 14)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("dist")).toMap
    // a vertex at true distance <= 4 has the same distance in both runs
    shallow.foreach { case (id, d) => if (d < 4L) assert(deep(id) === d) }
    assert(deep.values.forall(x => x >= 0L && x <= 14L))
    assert(deep.size >= shallow.size)
  }

  test("degree distribution: each direction's histogram sums to |V|") {
    val rows = SparkEntry.queries("q_degree_dist")(spark, sf)
      .collect()
    Seq("in", "out").foreach { dir =>
      val tot = rows.filter(_.getAs[String]("direction") == dir)
        .map(_.getAs[Long]("n_nodes")).sum
      assert(tot === n, s"$dir histogram covers $tot of $n vertices")
    }
  }

  test("rank sample: kept docs are a subset with the exact integer keep rule") {
    val kept = SparkEntry.queries("q_rank_sample")(spark, sf)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("rank"))
    assert(kept.nonEmpty && kept.length < n)
    val all = Graph.pageRankScores(docsDf, n, 5).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("rank")).toMap
    val maxr = all.values.max
    kept.foreach { case (id, rank) =>
      assert(all(id) == rank)
      val bucket = java.lang.Math.floorMod(id * 2654435761L, 4294967296L)
      assert(bucket < (rank / 1000) * 4294967296L / ((maxr / 1000) * 2))
    }
  }

  test("plans: the wedge join is keyed — no cartesian product anywhere") {
    // the only crossJoins in triangleStats combine three 1-row
    // aggregates (planned as broadcast nested-loop, never
    // CartesianProductExec); the wedge expansion itself must join on
    // the src key
    val triPlan = Graph.triangleStats(docsDf, n).queryExecution.executedPlan
    assert(triPlan.collect { case c: CartesianProductExec => c }.isEmpty)
    val prPlan = Graph.pageRank(docsDf, n, iterations = 2)
      .queryExecution.executedPlan
    assert(prPlan.collect { case c: CartesianProductExec => c }.isEmpty)
  }
}
