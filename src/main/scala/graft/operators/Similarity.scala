package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.AdcScore
import graft.functions.VectorFunctions.{dot, l2Norm}
import graft.plans.TopKPerKeyNode

/** Similarity search over an embedding column (ArrayType(FloatType)).
  *
  * Three paths, by data regime:
  *
  *   - '''Blocked exact''' ([[bruteForceTopK]], [[cosineNearDupPairs]]):
  *     distributed all-pairs via a block-pair grid — no driver collect, no
  *     full-table broadcast. Each row is shuffled to `blocks` groups; each
  *     unordered block pair scores its cross product once. Per-task memory
  *     is O(n/blocks), so the operator scales by raising `blocks` (tasks
  *     grow as blocks², memory per task shrinks as 1/blocks). Total work
  *     stays O(n²) — inherent to EXACT all-pairs — but it is cluster work,
  *     not driver work.
  *   - '''LSH-bucketed''' ([[lshTopK]], [[lshNearDupPairs]]): hyperplane
  *     sign buckets prune candidates before the exact dot product — the
  *     100 TB path when the similarity threshold is high enough for the
  *     s-curve to separate signal from background (see [[lshNearDupPairs]]
  *     for the math and its limit).
  *
  * Reference scope: not in the reference repo; north-star LLM-pipeline
  * addition (BASELINE.json), from public LSH literature (Charikar 2002).
  */
object Similarity {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** All arithmetic in double: cast up front so Spark and any external
    * oracle evaluate the identical IEEE op sequence (left-to-right sum).
    *
    * Deliberately the `transform` spelling, NOT `v.cast("array<double>")`:
    * the whole-array Cast was tried (round 7) and regressed q_ann_pq
    * 2.2→3.6 s at sf0.1 in a back-to-back A/B while every other ANN
    * query was a wash — whatever Cast's generated array-copy does to the
    * flat-ADC broadcast stage, it loses to the per-element transform
    * here. Values are bit-identical either way (float→double widening is
    * exact); this is purely a plan/perf choice. Re-measure before
    * "simplifying" this again.
    */
  private def asDouble(v: Column): Column = transform(v, x => x.cast("double"))

  /** Per-query top-k via the native [[graft.plans.TopKPerKeyNode]]
    * operator: map-side bounded heaps mean the shuffle carries at most
    * |queries|·k rows instead of every scored candidate pair — the
    * row_number window idiom this replaces shuffles AND sorts the full
    * candidate set per qid (the dominant exchange of every search path
    * here at 100 TB). Rows and ranks are identical to the window form:
    * same order spec, unique tie-break column (q_topk_native pins the
    * operator↔window hash equality).
    */
  private def topK(scored: DataFrame, order: Seq[(String, Boolean)],
                   k: Int): DataFrame =
    TopKPerKeyNode.topKPerKey(scored, Seq("qid"), order, k)

  /** (id, vec, norm) rows with the id's block in [0, blocks). */
  private def normed(df: DataFrame, idCol: String, vecCol: String) =
    df.select(col(idCol).as("id").cast("long"), asDouble(col(vecCol)).as("v"))
      .withColumn("nrm", l2Norm(col("v")))

  /** (id, v) rows with v the L2-UNIT vector (zero-norm rows pass
    * through unscaled — 0/0 would poison whatever consumes them), via
    * the native [[graft.functions.UnitVector]] expression. The IEEE
    * sequence (left-to-right Σx², sqrt, per-element divide) is
    * identical to both the HOF-expression form and the in-UDF
    * normalization the PQ paths used before going native, so
    * cells/codes/tables are bit-stable across those migrations.
    */
  private def unitized(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol).as("id").cast("long"),
      graft.functions.PqOps.unitVec(asDouble(col(vecCol))).as("v"))

  /** The canonical similarity loop — the one IEEE op order every exact
    * path (and the DuckDB oracle's list_reduce fold) agrees on.
    *
    * Zero-norm sides score 0.0, NOT NaN: a real zero vector has no
    * direction, and NaN is a ranking poison — Spark's double ordering
    * places NaN above every value, so an unguarded 0/0 would crown the
    * corrupt vector rank-1 neighbor of everything it meets (while the
    * local insertion lists' `>` comparisons treat NaN as never-beating,
    * silently disagreeing with the global merge). 0.0 matches
    * [[unitized]]'s documented zero-norm passthrough: degenerate but
    * representable data gets a defined neutral answer. Ragged vectors
    * (length mismatch) fail loudly like every native kernel — a
    * min-length clamp would deflate the score and launder upstream
    * corruption into a plausible ranking.
    */
  private def simOf(av: Array[Double], an: Double,
                    bv: Array[Double], bn: Double): Double = {
    require(av.length == bv.length,
      s"ragged vector: ${av.length} vs ${bv.length} dims in the exact scorer")
    var acc = 0.0
    var i = 0
    val n = av.length
    while (i < n) { acc += av(i) * bv(i); i += 1 }
    val d = an * bn
    if (d == 0.0) 0.0 else acc / d
  }

  /** Column form of [[simOf]] for the join-shaped exact paths: the native
    * [[graft.functions.DotProduct]] numerator (same fold, same ragged and
    * null-element failures), 0.0 whenever either norm is 0.
    */
  private def simCol(av: Column, bv: Column, an: Column, bn: Column): Column = {
    val d = an * bn
    when(d === 0.0, lit(0.0)).otherwise(dot(av, bv) / d)
  }

  /** Bounded insertion-list top-k of ONE query row against a candidate
    * set held as parallel arrays — the single comparator both exact
    * blocked paths share (sim desc, nid-asc tie-break, identity pair
    * skipped). Shared so a comparator fix can never apply to one path
    * and silently diverge the other.
    */
  private def localTopK(qid: Long, qv: Array[Double], qn: Double,
                        ids: Array[Long], vecs: Array[Array[Double]],
                        nrms: Array[Double], k: Int): Iterator[(Long, Long, Double)] = {
    val topSim = new Array[Double](k)
    val topNid = new Array[Long](k)
    var filled = 0
    var c = 0
    while (c < ids.length) {
      val nid = ids(c)
      if (nid != qid) {
        val sim = simOf(qv, qn, vecs(c), nrms(c))
        val beatsLast = filled < k || sim > topSim(filled - 1) ||
          (sim == topSim(filled - 1) && nid < topNid(filled - 1))
        if (beatsLast) {
          var pos = if (filled < k) filled else k - 1
          while (pos > 0 && (sim > topSim(pos - 1) ||
              (sim == topSim(pos - 1) && nid < topNid(pos - 1)))) {
            topSim(pos) = topSim(pos - 1); topNid(pos) = topNid(pos - 1)
            pos -= 1
          }
          topSim(pos) = sim; topNid(pos) = nid
          if (filled < k) filled += 1
        }
      }
      c += 1
    }
    val f = filled
    (0 until f).iterator.map(r => (qid, topNid(r), topSim(r)))
  }

  /** Fan each row out to its `blocks` block-pair groups. A row in block g
    * belongs to every group {min(g,j), max(g,j)}; two rows from blocks
    * (ga, gb) share exactly ONE group where they are on opposite sides —
    * {ga, gb} itself (for ga == gb, the diagonal group) — so every
    * unordered pair of rows is scored exactly once, with no distinct() or
    * post-dedup. One hash shuffle on the (bi, bj) key; group size is
    * ≤ 2n/blocks rows, the per-task memory bound.
    */
  private def blockGroups(v: DataFrame, blocks: Int)
      : Dataset[((Int, Int), (Long, Array[Double], Double, Int))] = {
    val spark = v.sparkSession
    import spark.implicits._
    v.as[(Long, Array[Double], Double)].flatMap { case (id, vec, nrm) =>
      val g = java.lang.Math.floorMod(id, blocks.toLong).toInt
      (0 until blocks).map(j =>
        ((math.min(g, j), math.max(g, j)), (id, vec, nrm, g)))
    }
  }

  /** Exact cosine top-k neighbors for every vector (excluding the identity
    * pair), deterministic tie-break on neighbor id.
    *
    * Blocked distributed all-pairs, NOT a collect/broadcast and NOT a
    * naive self-join: the join formulation materializes n² rows each
    * carrying BOTH vectors through the exchange plus an n²-row window
    * sort; this path shuffles each row `blocks` times, scores each pair
    * once inside its block-pair task with a k-bounded insertion list, and
    * only n·blocks·k local-winner rows reach the final per-query merge.
    * No driver-side data path: building this DataFrame launches no job,
    * and no task ever holds more than 2n/blocks vectors (PlanSpec asserts
    * both).
    *
    * IEEE-order note: [[simOf]] is the same left-to-right loop as
    * [[graft.functions.DotProduct]], so results are bit-identical to the
    * join formulation (and to the DuckDB oracle's list_reduce fold).
    */
  def bruteForceTopK(df: DataFrame, idCol: String, vecCol: String,
                     k: Int, blocks: Int = 8): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val local = blockGroups(normed(df, idCol, vecCol), blocks)
      .groupByKey(_._1)
      .flatMapGroups { (key: (Int, Int),
                        it: Iterator[((Int, Int), (Long, Array[Double], Double, Int))]) =>
        val (bi, bj) = key
        val rows = it.map(_._2).toArray
        // one unzip to parallel arrays per side, then the shared
        // insertion-list core per query row
        def cols(rs: Array[(Long, Array[Double], Double, Int)]) =
          (rs.map(_._1), rs.map(_._2), rs.map(_._3))
        if (bi == bj) {
          val (ids, vecs, nrms) = cols(rows)
          rows.iterator.flatMap { case (qid, qv, qn, _) =>
            localTopK(qid, qv, qn, ids, vecs, nrms, k) }
        } else {
          val (side1, side2) = rows.partition(_._4 == bi)
          val (i1, v1, n1) = cols(side1)
          val (i2, v2, n2) = cols(side2)
          side1.iterator.flatMap { case (qid, qv, qn, _) =>
            localTopK(qid, qv, qn, i2, v2, n2, k) } ++
            side2.iterator.flatMap { case (qid, qv, qn, _) =>
              localTopK(qid, qv, qn, i1, v1, n1, k) }
        }
      }.toDF("qid", "nid", "sim")
    // Global merge: every (q,c) pair was scored in exactly one group, so
    // the true top-k per query is within the union of local top-k lists.
    topK(local, Seq(("sim", true), ("nid", false)), k)
      .select(col("qid"), col("rank"), col("nid"), col("sim"))
  }

  /** Hard-negative mining for contrastive-embedding training: for every
    * anchor vector, the k most-similar vectors carrying a DIFFERENT
    * label, mined against a deterministic Knuth-hash candidate pool
    * (`Sampling.bucketOf < poolBound`, the engine's oracle-replicable
    * sampling primitive). This is the data-prep step that turns a
    * labeled corpus into contrastive triplets — the negatives that
    * matter are the ones the current embedding already confuses.
    *
    * Scale shape: in production the pool is a bounded sample (here 25%
    * — at 100 TB you'd cap it in absolute rows), so the expensive side
    * is a stream of anchors map-joined against per-label candidate
    * groups: anchors expand by the tiny distinct-label dim (broadcast
    * nested-loop against a |S|-row side, S = label vocabulary), then
    * one equi-join ON THE LABEL KEY delivers candidate batches; no
    * cross join of data-sized inputs ever appears. Exactness: the
    * similarity is the canonical [[graft.functions.DotProduct]] loop, so
    * the result is bit-comparable to the oracle's fold.
    */
  def hardNegatives(df: DataFrame, idCol: String, vecCol: String,
                    labelCol: String, k: Int = 3,
                    poolBound: Long = 1073741824L): DataFrame = {
    val v = df.select(col(idCol).cast("long").as("id"),
        asDouble(col(vecCol)).as("v"), col(labelCol).as("label"))
      .withColumn("nrm", l2Norm(col("v")))
    val cands = v.filter(Sampling.bucketOf(col("id")) < lit(poolBound))
      .select(col("id").as("nid"), col("v").as("nv"),
        col("nrm").as("nnrm"), col("label").as("nlabel"))
    val labels = cands.select(col("nlabel")).distinct()
    val anchors = v.select(col("id").as("qid"), col("v").as("qv"),
        col("nrm").as("qnrm"), col("label").as("qlabel"))
      .join(broadcast(labels), col("nlabel") =!= col("qlabel"))
    val scored = anchors.join(cands, Seq("nlabel"))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"), col("nlabel"),
        simCol(col("qv"), col("nv"), col("qnrm"), col("nnrm"))
          .as("sim"))
    topK(scored, Seq(("sim", true), ("nid", false)), k)
      .select(col("qid"), col("rank"), col("nid"), col("nlabel"), col("sim"))
  }

  /** Exact cosine top-k of every QUERY row against every CANDIDATE row —
    * the asymmetric sibling of [[bruteForceTopK]] for recall audits: at
    * scale you can't brute-force every query, but you can brute-force a
    * deterministic sample ([[Sampling.hashSample]]) against the full
    * candidate side and measure recall on it. Same blocked grid, keyed
    * (queryBlock, candBlock): a query in block qg fans to groups (qg, j),
    * a candidate in block cg to groups (i, cg), so each (q, c) pair meets
    * in exactly one group — (qg, cg). Per-task memory is
    * O(nQ/blocks + nC/blocks); no job at build, no join in the plan.
    */
  def bruteForceTopKFor(queries: DataFrame, candidates: DataFrame,
                        idCol: String, vecCol: String, k: Int,
                        blocks: Int = 8): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    def fan(df: DataFrame, isQuery: Boolean) =
      normed(df, idCol, vecCol).as[(Long, Array[Double], Double)]
        .flatMap { case (id, vec, nrm) =>
          val g = java.lang.Math.floorMod(id, blocks.toLong).toInt
          (0 until blocks).map { j =>
            val key = if (isQuery) (g, j) else (j, g)
            (key, (id, vec, nrm, isQuery))
          }
        }
    val local = fan(queries, isQuery = true)
      .union(fan(candidates, isQuery = false))
      .groupByKey(_._1)
      .flatMapGroups { (_: (Int, Int),
                        it: Iterator[((Int, Int), (Long, Array[Double], Double, Boolean))]) =>
        val rows = it.map(_._2).toArray
        val (qs, cs) = rows.partition(_._4)
        val ids = cs.map(_._1)
        val vecs = cs.map(_._2)
        val nrms = cs.map(_._3)
        qs.iterator.flatMap { case (qid, qv, qn, _) =>
          localTopK(qid, qv, qn, ids, vecs, nrms, k) }
      }.toDF("qid", "nid", "sim")
    topK(local, Seq(("sim", true), ("nid", false)), k)
      .select(col("qid"), col("rank"), col("nid"), col("sim"))
  }

  /** Random-hyperplane sign signature: one bit per hyperplane, packed into
    * a long per hash table. Hyperplane components are deterministic from a
    * fixed LCG (uniform in [-1,1) — sign-LSH needs only symmetry, not
    * gaussianity).
    *
    * Implemented as ONE native expression doing a tables×bits
    * hyperplane matrix-multiply per row (narrow, no shuffle;
    * [[graft.functions.HyperplaneBuckets]], same kernel tier as the PQ
    * family — the Scala-UDF predecessor paid per-row boxed input
    * marshalling). An expression-tree version (tables×bits separate
    * `aggregate(zip_with(_, lit(plane), _))` subtrees) was measured to
    * freeze the driver for minutes: the 64-way tree gets duplicated
    * across both sides of the candidate self-join and Catalyst/codegen
    * churns on a >10 MiB plan. One opaque single-node pass is the
    * faster plan here; bucket assignments are bit-identical across all
    * three implementations.
    */
  def hyperplaneBuckets(vecCol: Column, dim: Int, tables: Int, bitsPerTable: Int,
                        seed: Long = 42L): Column = {
    var x = seed
    def next(): Long = { x = x * 6364136223846793005L + 1442695040888963407L; x }
    def comp(): Double = (next() >>> 11) * (2.0 / (1L << 53)) - 1.0
    // flat(t*bitsPerTable + b) plane order — generation order matches
    // the previous UDF/expression versions, so buckets are unchanged.
    val flat = Array.fill(tables * bitsPerTable * dim)(comp())
    val kernel = new graft.functions.HyperplaneKernel(flat, dim, tables, bitsPerTable)
    graft.functions.PqOps.hyperplaneBuckets(vecCol, kernel)
  }

  /** Approximate top-k: candidates share an LSH bucket in ≥1 table, then
    * exact cosine + per-query top-k over candidates only. Recall tuning:
    * more tables ↑recall ↑cost; more bits ↓bucket size ↓recall.
    */
  def lshTopK(df: DataFrame, idCol: String, vecCol: String, k: Int,
              dim: Int, tables: Int = 8, bitsPerTable: Int = 8,
              seed: Long = 42L,
              queryPred: Option[Column => Column] = None): DataFrame = {
    val idx = lshIndex(df, idCol, vecCol, dim, tables, bitsPerTable, seed)
    // queryPred restricts WHICH ids act as queries — applied BEFORE the
    // bucket join, because per-query results are independent: filtering
    // the query side first yields exactly the rows a post-filter on qid
    // would keep, without scoring (and per-query-top-k-shuffling) the
    // discarded 90% of queries first
    val qBanded = queryPred.map(p => idx.banded.filter(p(col("id"))))
      .getOrElse(idx.banded)
    lshProbeBanded(idx, qBanded, idx.slim, k)
  }

  /** A bucketed LSH index: the (id, table, bucket) band rows and the
    * (id, v, nrm) corpus vectors, plus the hyperplane configuration —
    * LSH is data-OBLIVIOUS (the hyperplanes are fixed by (dim, tables,
    * bitsPerTable, seed), nothing trains), so the index is just the
    * banded corpus, and any external query buckets itself with the
    * same seeded kernel. Both DataFrames are lazy plans; persist
    * `banded` when probing repeatedly.
    */
  case class LshIndex(banded: DataFrame, slim: DataFrame, dim: Int,
                      tables: Int, bitsPerTable: Int, seed: Long)

  /** INDEX half of [[lshTopK]] (the composed search is plan-identical
    * to the previous monolith).
    */
  def lshIndex(df: DataFrame, idCol: String, vecCol: String, dim: Int,
               tables: Int = 8, bitsPerTable: Int = 8,
               seed: Long = 42L): LshIndex = {
    val v = df.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
      .withColumn("nrm", l2Norm(col("v")))
      .withColumn("bks", hyperplaneBuckets(col("v"), dim, tables, bitsPerTable, seed))
    val banded = v.select(col("id"),
      posexplode(col("bks")).as(Seq("tbl", "bk")))
    LshIndex(banded, v.select(col("id"), col("v"), col("nrm")),
      dim, tables, bitsPerTable, seed)
  }

  /** INCREMENTAL ingest for the LSH family: merge a new/re-crawled
    * batch into a banded [[LshIndex]]. LSH is data-oblivious — the
    * hyperplanes are a pure function of the index CONFIG (dim, tables,
    * bits, seed), so ingest is exactly re-banding the batch under that
    * config plus the anti-join replacement of stale ids: the upserted
    * index is BIT-IDENTICAL to a from-scratch rebuild over the merged
    * corpus (q_ann_incr_lsh rides the serving interval oracle verbatim
    * on that identity). O(batch + index); the historical banded table
    * is never recomputed — the same maintenance shape as
    * [[graft.operators.Dedup.upsertBandRows]] on the text side.
    */
  def lshUpsert(index: LshIndex, batch: DataFrame,
                idCol: String, vecCol: String): LshIndex = {
    // the batch bands through lshIndex ITSELF under the old index's
    // config — one banding definition, so the bit-identical-to-rebuild
    // contract (q_ann_incr_lsh's whole oracle premise) cannot
    // desynchronize from a future lshIndex edit
    val fresh = lshIndex(batch, idCol, vecCol, index.dim, index.tables,
      index.bitsPerTable, index.seed)
    val ids = batch.select(col(idCol).as("id")).distinct()
    LshIndex(
      index.banded.join(ids, Seq("id"), "left_anti")
        .unionByName(fresh.banded),
      index.slim.join(ids, Seq("id"), "left_anti")
        .unionByName(fresh.slim),
      index.dim, index.tables, index.bitsPerTable, index.seed)
  }

  /** DELETION maintenance for the LSH family — the tombstone twin of
    * [[lshUpsert]] (build / upsert / DELETE: a GDPR erasure must
    * propagate without a rebuild). Two id-keyed LEFT ANTI joins —
    * O(deleted + index). Because LSH is data-oblivious, the deleted
    * index is BIT-IDENTICAL to a from-scratch [[lshIndex]] over the
    * surviving corpus under the same config (q_ann_delete_lsh gates
    * exactly that identity), and delete-then-reinsert round-trips to
    * the original state (DeleteSpec).
    */
  def lshDelete(index: LshIndex, deletedIds: DataFrame,
                idCol: String): LshIndex = {
    val ids = deletedIds.select(col(idCol).as("id")).distinct()
    LshIndex(
      index.banded.join(ids, Seq("id"), "left_anti"),
      index.slim.join(ids, Seq("id"), "left_anti"),
      index.dim, index.tables, index.bitsPerTable, index.seed)
  }

  /** PROBE a bucketed [[LshIndex]] with an EXTERNAL query set — the
    * serving shape, completing LSH's parity with [[ivfProbeFor]] /
    * [[ivfPqProbe]] / [[pqSearch]]: queries bucket through the same
    * seeded hyperplane kernel, candidates come from the same
    * (table, bucket) equi-join, self-exclusion is id-keyed. With the
    * corpus itself as the query set this is row-identical to
    * [[lshTopK]] (PqOpsSpec pins it).
    */
  def lshProbeFor(index: LshIndex, queries: DataFrame,
                  qidCol: String, qvecCol: String, k: Int): DataFrame = {
    val qv = queries
      .select(col(qidCol).as("id"), asDouble(col(qvecCol)).as("v"))
      .withColumn("nrm", l2Norm(col("v")))
      .withColumn("bks", hyperplaneBuckets(col("v"), index.dim,
        index.tables, index.bitsPerTable, index.seed))
    lshProbeBanded(index,
      qv.select(col("id"), posexplode(col("bks")).as(Seq("tbl", "bk"))),
      qv.select(col("id"), col("v"), col("nrm")), k)
  }

  /** Shared probe core over pre-banded queries and their vectors. */
  private def lshProbeBanded(index: LshIndex, qBanded: DataFrame,
                             qSlim: DataFrame, k: Int): DataFrame = {
    val cands = qBanded.as("l").join(index.banded.as("r"),
        col("l.tbl") === col("r.tbl") && col("l.bk") === col("r.bk") &&
          col("l.id") =!= col("r.id"))
      .select(col("l.id").as("qid"), col("r.id").as("nid"))
      .distinct()
    val scored = cands
      .join(qSlim.as("q"), col("qid") === col("q.id")).drop("id")
      .join(index.slim.as("c"), col("nid") === col("c.id")).drop("id")
      .select(col("qid"), col("nid"),
        simCol(col("q.v"), col("c.v"), col("q.nrm"), col("c.nrm")).as("sim"))
    topK(scored, Seq(("sim", true), ("nid", false)), k)
      .select(col("qid"), col("rank"), col("nid"), col("sim"))
  }

  /** Embedding near-duplicate pairs: cosine ≥ threshold over the (a<b)
    * half-matrix, exact, via the same block-pair grid as
    * [[bruteForceTopK]] (and the same IEEE fold order). Output is just the
    * surviving pairs; nothing is collected to the driver and no task holds
    * more than 2n/blocks vectors.
    *
    * This is the right path for LOW thresholds (like the 0.45 oracle query
    * over near-random embeddings, where bucketing provably cannot prune —
    * see [[lshNearDupPairs]]); for genuine near-duplicate thresholds
    * (≥ ~0.8) prefer [[lshNearDupPairs]], which replaces the O(n²) scoring
    * with bucket-pruned candidates.
    */
  def cosineNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                         threshold: Double, blocks: Int = 8): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    blockGroups(normed(df, idCol, vecCol), blocks)
      .groupByKey(_._1)
      .flatMapGroups { (key: (Int, Int),
                        it: Iterator[((Int, Int), (Long, Array[Double], Double, Int))]) =>
        val (bi, bj) = key
        val rows = it.map(_._2).toArray
        def emit(a: (Long, Array[Double], Double, Int),
                 b: (Long, Array[Double], Double, Int)) = {
          val sim = simOf(a._2, a._3, b._2, b._3)
          if (sim >= threshold) {
            val (lo, hi) = if (a._1 < b._1) (a._1, b._1) else (b._1, a._1)
            Some((lo, hi, sim))
          } else None
        }
        if (bi == bj)
          rows.iterator.zipWithIndex.flatMap { case (a, i) =>
            rows.iterator.drop(i + 1).flatMap(b => emit(a, b))
          }
        else {
          val (side1, side2) = rows.partition(_._4 == bi)
          side1.iterator.flatMap(a => side2.iterator.flatMap(b => emit(a, b)))
        }
      }.toDF("a_id", "b_id", "sim")
  }

  /** IVF (inverted-file) approximate top-k — the data-ADAPTIVE ANN path,
    * complementing the data-oblivious hyperplane LSH of [[lshTopK]]
    * (FAISS-style coarse quantizer, from the public IVF literature:
    * Jégou et al., PAMI 2011).
    *
    *   1. TRAIN: k-means ([[KMeans.lloyd]], squared Euclidean) over a
    *      deterministic hash-sample learns `nlist` cell centroids — the
    *      only driver-held state, nlist×dim doubles (same canonical
    *      exception as any k-means: centroid state is O(k·dim), not O(n)).
    *   2. INDEX: every vector narrows to its nearest cell (one compiled
    *      UDF pass, no shuffle).
    *   3. PROBE: each query explodes to its `nprobe` nearest cells;
    *      candidates come from an equi-join on the cell id (ONE hash
    *      shuffle on cell keys), then exact cosine + per-query top-k over
    *      candidates only.
    *
    * Cost tracks n·(nprobe/nlist)·avg-cell-size instead of n²; raising
    * nlist shrinks cells (finer index, cheaper probes, lower recall per
    * probe), raising nprobe buys recall linearly in cost. Cells adapt to
    * the actual vector distribution, which is what gives IVF better
    * recall-per-candidate than LSH when the data is clustered.
    */
  def ivfTopK(df: DataFrame, idCol: String, vecCol: String, k: Int,
              nlist: Int = 16, nprobe: Int = 4, sampleMod: Int = 4,
              trainIters: Int = 3,
              queryPred: Option[Column => Column] = None): DataFrame =
    ivfProbe(ivfIndex(df, idCol, vecCol, nlist, sampleMod, trainIters),
      k, nprobe, queryPred)

  /** A trained plain-IVF index: the cell-assigned normalized corpus
    * (`assigned`), the normalized corpus itself (`corpus` — the probe
    * side draws its queries from it, self-kNN style), and the centroid
    * kernel. TRAIN once, probe at many (k, nprobe) operating points —
    * the same split (and motivation) as [[IvfPqIndex]]: without it,
    * [[AnnCalibrate.calibrateIvf]] re-paid the Lloyd jobs on every ρ
    * rung for identical centroids (training is deterministic). Both
    * DataFrames are lazy plans; a caller probing repeatedly should
    * persist `assigned`.
    */
  case class IvfIndex(assigned: DataFrame, corpus: DataFrame,
                      kernel: graft.functions.NearestCellsKernel)

  /** TRAIN + INDEX halves of [[ivfTopK]] (the composed search is
    * plan-identical to the previous monolith).
    */
  def ivfIndex(df: DataFrame, idCol: String, vecCol: String,
               nlist: Int, sampleMod: Int = 4,
               trainIters: Int = 3): IvfIndex = {
    val v = normed(df, idCol, vecCol)
    // deterministic hash-sample for training (xxhash64, never rand() —
    // speculative-execution-safe, same discipline as Skew salting)
    val train = v.filter(pmod(xxhash64(col("id")), lit(sampleMod)) === 0)
    val seedVecs = train.orderBy("id").limit(nlist)
      .select("v").collect().map(_.getSeq[Double](0).toArray)
    // same pointed contract as pqTrain/ivfPqSearch: an undersized sample
    // must not silently train fewer than nlist cells (quietly breaking
    // the index's recall/cost parameters) or die inside KMeans.lloyd
    require(seedVecs.length == nlist,
      s"ivfIndex: training sample has only ${seedVecs.length} vectors for " +
        s"nlist=$nlist cells (empty or undersized corpus/sample) — " +
        "lower nlist or sampleMod")
    val centroids = KMeans.lloyd(train.select("id", "v"), "v", seedVecs,
      KMeans.EuclideanSq, maxIter = trainIters).centers
    // one native codegen scan per row for both cell assignment and probe
    // list — a single expression node holding the centroid matrix, so
    // the plan stays flat (an nlist-way expression tree would inline
    // into both join sides — the round-1 plan-explosion lesson) and no
    // per-row UDF boxing is paid (exact-dim ragged guard lives in the
    // kernel, same loud-failure contract as pqTrain)
    val cells = graft.functions.NearestCells.kernel(centroids)
    val data = v.select(col("id").as("nid"), col("v").as("nv"),
      col("nrm").as("nnrm"),
      graft.functions.NearestCells.cell(col("v"), cells).as("cell"))
    IvfIndex(data, v, cells)
  }

  /** Assign a vector batch to a TRAINED quantizer's cells — the
    * centroids stay FROZEN (the public-ANN `add` semantics: an inverted
    * file absorbs new vectors by nearest-cell assignment; retraining is
    * a separate, rarer epoch event). Emits rows in the [[IvfIndex]]
    * `assigned` schema (nid, nv, nnrm, cell): one narrow codegen'd
    * kernel scan over the batch, no shuffle, O(batch) work.
    */
  def ivfAssign(kernel: graft.functions.NearestCellsKernel, batch: DataFrame,
                idCol: String, vecCol: String): DataFrame = {
    val v = normed(batch, idCol, vecCol)
    v.select(col("id").as("nid"), col("v").as("nv"), col("nrm").as("nnrm"),
      graft.functions.NearestCells.cell(col("v"), kernel).as("cell"))
  }

  /** INCREMENTAL dense ingest — the [[graft.operators.Retrieval
    * .upsertTermFreq]] symmetry for the ANN family: merge a new or
    * re-crawled vector batch into a trained [[IvfIndex]] WITHOUT
    * retraining. Stale rows of re-ingested ids drop via one anti-join
    * (key-partitioned on id), the batch enters through frozen-quantizer
    * [[ivfAssign]] — O(batch + index), never a corpus re-encode or a
    * Lloyd re-run. Because a full-width probe (nprobe = nlist) is exact
    * REGARDLESS of the quantizer, the merged index reproduces the exact
    * brute force over the merged corpus verbatim — the maintenance ==
    * rebuild contract q_ann_incr pins cross-engine; at serving widths
    * the quantizer simply ages as the corpus drifts, which is the
    * documented trade every production IVF deployment makes between
    * retrain epochs.
    */
  def ivfUpsert(index: IvfIndex, batch: DataFrame,
                idCol: String, vecCol: String): IvfIndex = {
    val fresh = ivfAssign(index.kernel, batch, idCol, vecCol)
    val assigned = index.assigned
      .join(batch.select(col(idCol).cast("long").as("nid")).distinct(),
        Seq("nid"), "left_anti")
      .unionByName(fresh)
    IvfIndex(assigned,
      assigned.select(col("nid").as("id"), col("nv").as("v"),
        col("nnrm").as("nrm")),
      index.kernel)
  }

  /** DELETION maintenance for the IVF family — [[ivfUpsert]]'s
    * tombstone twin: drop every deleted id's posting from the inverted
    * file by ONE anti-join (key-partitioned on id), quantizer frozen,
    * O(deleted + index). A full-width probe of the deleted index is
    * exact over the surviving corpus regardless of the (now slightly
    * stale) quantizer — the maintenance == rebuild contract
    * q_ann_delete pins cross-engine, mirroring q_ann_incr.
    */
  def ivfDelete(index: IvfIndex, deletedIds: DataFrame,
                idCol: String): IvfIndex = {
    val assigned = index.assigned
      .join(deletedIds.select(col(idCol).cast("long").as("nid")).distinct(),
        Seq("nid"), "left_anti")
    IvfIndex(assigned,
      assigned.select(col("nid").as("id"), col("nv").as("v"),
        col("nnrm").as("nrm")),
      index.kernel)
  }

  /** PROBE half of [[ivfTopK]] against a trained [[IvfIndex]]:
    * self-kNN — the corpus queries itself.
    */
  def ivfProbe(index: IvfIndex, k: Int, nprobe: Int,
               queryPred: Option[Column => Column] = None): DataFrame = {
    // same queryPred contract as lshTopK: restrict the query side
    // before probing — post-filter-equivalent output, 1/10th the scoring
    val qv = queryPred.map(p => index.corpus.filter(p(col("id"))))
      .getOrElse(index.corpus)
    ivfProbeNormed(index, qv, k, nprobe)
  }

  /** PROBE a trained [[IvfIndex]] with an EXTERNAL query set — the
    * serving shape ([[ivfPqProbe]]'s contract brought to plain IVF):
    * queries need not be corpus rows; they are normalized by the same
    * [[normed]] pipeline and candidates come from the same cell
    * equi-join. Self-exclusion is id-keyed exactly as in
    * [[bruteForceTopKFor]] (a candidate carrying the query's own id
    * never scores), so at nprobe = nlist the result is ROW-IDENTICAL
    * to the exact brute force — the exactness contract PqOpsSpec pins.
    */
  def ivfProbeFor(index: IvfIndex, queries: DataFrame,
                  qidCol: String, qvecCol: String,
                  k: Int, nprobe: Int): DataFrame =
    ivfProbeNormed(index, normed(queries, qidCol, qvecCol), k, nprobe)

  /** Shared probe core over a pre-normalized (id, v, nrm) query frame. */
  private def ivfProbeNormed(index: IvfIndex, qv: DataFrame,
                             k: Int, nprobe: Int): DataFrame = {
    val queries = qv.select(col("id").as("qid"), col("v").as("qv"),
        col("nrm").as("qnrm"),
        explode(graft.functions.NearestCells.probes(col("v"), index.kernel,
          nprobe)).as("cell"))
    val scored = queries.join(index.assigned, Seq("cell"))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        simCol(col("qv"), col("nv"), col("qnrm"), col("nnrm")).as("sim"))
    topK(scored, Seq(("sim", true), ("nid", false)), k)
      .select(col("qid"), col("rank"), col("nid"), col("sim"))
  }

  /** LSH-bucketed near-duplicate pairs: hyperplane-bucket candidates
    * (equi-join on (table, bucket) — the same join-on-band architecture as
    * [[Dedup.nearDupPairs]]) + exact cosine verify. The scale path for
    * real near-dup detection: candidates shuffle by bucket key only, and
    * only candidate pairs pay the dot product.
    *
    * Recall math (sign-LSH, Charikar 2002): P(bits agree) = 1 − θ/π. At
    * the defaults (16 tables × 12 bits) a planted near-dup at cos ≈ 0.99
    * (p = 0.955) is missed with probability (1 − p¹²)¹⁶ ≈ 1e-6, while a
    * random background pair (p = 0.5) becomes a candidate with probability
    * 16·2⁻¹² ≈ 0.4% — a ~250× candidate reduction. THE LIMIT: for a
    * threshold near the background distribution (e.g. 0.45 when random
    * 64-dim pairs reach ~0.5) p(threshold) ≈ p(background) and NO (bits,
    * tables) separates them — amplifying recall toward 1 drags the
    * candidate rate toward 1 with it. That regime belongs to the exact
    * blocked path ([[cosineNearDupPairs]]), which is why the 0.45 oracle
    * query uses it; this operator is property-tested on planted near-dups
    * against the exact path (PipelineSpec).
    */
  def lshNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                      threshold: Double, dim: Int, tables: Int = 16,
                      bitsPerTable: Int = 12, seed: Long = 42L): DataFrame = {
    val v = df.select(col(idCol).as("id").cast("long"), asDouble(col(vecCol)).as("v"))
      .withColumn("nrm", l2Norm(col("v")))
      .withColumn("bks", hyperplaneBuckets(col("v"), dim, tables, bitsPerTable, seed))
    val banded = v.select(col("id"),
      posexplode(col("bks")).as(Seq("tbl", "bk")))
    val cands = banded.as("l").join(banded.as("r"),
        col("l.tbl") === col("r.tbl") && col("l.bk") === col("r.bk") &&
          col("l.id") < col("r.id"))
      .select(col("l.id").as("a_id"), col("r.id").as("b_id"))
      .distinct()
    val slim = v.select(col("id"), col("v"), col("nrm"))
    cands
      .join(slim.as("a"), col("a_id") === col("a.id")).drop("id")
      .join(slim.as("b"), col("b_id") === col("b.id")).drop("id")
      .select(col("a_id"), col("b_id"),
        simCol(col("a.v"), col("b.v"), col("a.nrm"), col("b.nrm")).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** SemDeDup (Abbas et al., "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication", arXiv:2303.09540):
    * k-means-cluster the embeddings, then look for near-duplicate pairs
    * only WITHIN each cluster. The clustering bounds the pair space —
    * the shuffle is one exchange on the cell id and each cell pays
    * |cell|² comparisons, never corpus² — which is the whole trick that
    * makes semantic dedup run at web scale (the paper dedups LAION-440M
    * this way with 50k clusters).
    *
    * Emits the within-cell pairs (a_id < b_id, exact cosine ≥
    * threshold). Pairs are exact-verified, so precision is 1 by
    * construction; recall < 1 exactly when a near-dup pair straddles a
    * cell boundary — raising nlist trades recall for cell-size bound,
    * the same knob as the paper's k. (The paper then keeps the cluster
    * member with the LOWEST centroid similarity; survivor choice is a
    * keep-rule on the pair graph — compose with
    * [[graft.operators.Components]] + anti-join like
    * q_neardup_survivors — and does not change which pairs exist.)
    *
    * `corpusN` (optional — callers deriving nlist via
    * [[AnnParams.semDedupNlist]] already hold it): enables the
    * near-background guidance log ([[AnnParams.semDedupLowBandMsg]]) —
    * when the random co-cell baseline 1/nlist is low, a threshold near
    * the corpus's background similarity yields pair recall bounded near
    * that baseline, and the exhaustive [[cosineNearDupPairs]] is the
    * right tool. Informational only; results are unaffected.
    */
  def semDedupPairs(df: DataFrame, idCol: String, vecCol: String,
                    threshold: Double, nlist: Int = 8,
                    trainIters: Int = 3,
                    corpusN: Option[Long] = None): DataFrame = {
    corpusN.foreach(n =>
      AnnParams.semDedupLowBandMsg(n, nlist).foreach(log.info(_)))
    val v = normed(df, idCol, vecCol)
    val seedVecs = v.orderBy("id").limit(nlist)
      .select("v").collect().map(_.getSeq[Double](0).toArray)
    require(seedVecs.length == nlist,
      s"semDedupPairs: corpus has only ${seedVecs.length} vectors for " +
        s"nlist=$nlist cells (empty or undersized corpus) — lower nlist")
    val centroids = KMeans.lloyd(v.select("id", "v"), "v", seedVecs,
      KMeans.EuclideanSq, maxIter = trainIters).centers
    // native codegen cell assign — same kernel (and same exact-dim
    // loud-failure contract) as ivfTopK's
    val cellKernel = graft.functions.NearestCells.kernel(centroids)
    val cells = v.select(col("id"), col("v"), col("nrm"),
      graft.functions.NearestCells.cell(col("v"), cellKernel).as("cell"))
    cells.as("a").join(cells.as("b"),
        col("a.cell") === col("b.cell") && col("a.id") < col("b.id"))
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"),
        simCol(col("a.v"), col("b.v"), col("a.nrm"), col("b.nrm")).as("sim"))
      .filter(col("sim") >= threshold)
  }

  // ---------------------------------------------------------------------
  // Product quantization (Jégou et al., "Product Quantization for
  // Nearest Neighbor Search", PAMI 2011) — the memory-scale path: each
  // vector compresses to M bytes (M sub-codebooks × 256-max codes), so a
  // 10^11-vector corpus whose raw floats would need 25 TB of RAM fits in
  // ~800 GB of codes, and distance evaluation becomes M table lookups
  // instead of `dim` multiplies.
  // ---------------------------------------------------------------------

  /** Driver-held codebooks: `codebooks(sub)(code)` is a subDim-length
    * centroid. State is m×codes×subDim doubles — the canonical bounded
    * exception, same as any k-means centroid set.
    */
  case class PQModel(m: Int, subDim: Int,
                     codebooks: Array[Array[Array[Double]]]) extends Serializable

  /** Train per-subspace codebooks on a deterministic hash-sample.
    * Vectors are L2-NORMALIZED before splitting so ADC's squared-L2
    * ranking is monotone in cosine (‖a−b‖² = 2 − 2·cos on the unit
    * sphere) — the same pre-normalization the exact paths use.
    *
    * ALL m subspaces train together: each Lloyd iteration is ONE
    * assign+mean job covering every (subspace, code) cell — m
    * independent per-subspace trainings would pay m× the job-scheduling
    * latency and m× the sample scans for identical results (subspace
    * trainings share no state). The per-row code assignment runs
    * through the SAME native argmin kernel the encode path owns
    * ([[graft.functions.PqKernel.code]] via the PqCode expression —
    * one kernel, so train-time and encode-time argmin/tie rules can
    * never drift), replacing the boxed per-row closure UDF that was
    * the last interpreted loop in the ANN family; the per-subspace
    * training rows derive in-plan by exploding the code array against
    * a column-start slice of the unit vector. Identical FP sequence to
    * the UDF form (same distances in the same order, same strict-<
    * tie rule), so codebooks are bit-identical — PqOpsSpec pins the
    * equality against an in-test replica of the replaced UDF loop.
    * Driver state per iteration is the m×codes×subDim centroid array —
    * bounded, never data-sized.
    */
  def pqTrain(df: DataFrame, idCol: String, vecCol: String, m: Int = 8,
              codes: Int = 16, sampleMod: Int = 4,
              trainIters: Int = 3, knownDim: Option[Int] = None): PQModel = {
    val v = unitized(df, idCol, vecCol)
    // a caller that already holds the dimensionality (ivfPqIndex: from
    // its collected coarse seeds) passes it and skips the probe job;
    // ragged corpora still fail loudly downstream (every kernel checks).
    // Degenerate corpora carry the contract message (the calibrateLsh
    // probe shape), not head()'s bare NoSuchElement
    val dim = knownDim.getOrElse {
      val probe = v.select(size(col("v"))).take(1)
      require(probe.nonEmpty, "pqTrain: corpus is empty — nothing to train on")
      require(!probe(0).isNullAt(0) && probe(0).getInt(0) > 0,
        s"pqTrain: first $vecCol row is null or empty — the corpus must " +
          "carry fixed-width non-null vectors")
      probe(0).getInt(0)
    }
    // the persisted training state is the narrow (id, v) sample — the
    // previous exploded (id, mi, sv) long form stored the same doubles
    // across m× the rows plus m× the id column
    val sample = v
      .filter(pmod(xxhash64(col("id")), lit(sampleMod)) === 0)
      .select(col("id"), col("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // deterministic seeds: the `codes` lowest-id sample vectors,
      // sliced per subspace (identical values to the previous
      // per-subspace window rank — every subspace drew the same ids)
      val seedRows = sample.orderBy("id").limit(codes)
        .select("v").collect().map(_.getSeq[Double](0))
      pqTrainOn(sample, seedRows, dim, m, codes, trainIters)
    } finally sample.unpersist(blocking = false)
  }

  /** Training core of [[pqTrain]] over a CALLER-OWNED persisted sample
    * and pre-collected seed rows — the sharing seam [[ivfPqIndex]] uses:
    * its coarse quantizer already persists the identical unitized sample
    * and collects a seed prefix from it, so re-deriving both here paid
    * one extra cache materialization and one extra seed-collect job per
    * index build for bit-identical values (guide §1.2: remove passes
    * outright). Values are unchanged by construction — the sample frame
    * and the seed prefix are the same rows either way.
    */
  private def pqTrainOn(sample: DataFrame, seedRows: Array[Seq[Double]],
                        dim: Int, m: Int, codes: Int,
                        trainIters: Int): PQModel = {
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val subDim = dim / m
    require(seedRows.length == codes,
      s"sample too small: need $codes seed vectors per subspace")
    locally {
      var books: Array[Array[Array[Double]]] = Array.tabulate(m, codes)(
        (mi, c) => seedRows(c).slice(mi * subDim, (mi + 1) * subDim).toArray)
      var iter = 0
      while (iter < trainIters) {
        // one job: assign every sample row's m codes through the native
        // kernel, then every (subspace, code, position) mean at once;
        // m×codes×subDim result rows — bounded driver state. The kernel
        // snapshots the current books (PqOps.kernel flattens a copy),
        // so mutating `books` after the job is safe.
        val kern = graft.functions.PqOps.kernel(books)
        val means = sample
          .select(col("v"),
            posexplode(graft.functions.PqOps.code(col("v"), kern))
              .as(Seq("mi", "code")))
          .select(col("mi"), col("code"),
            posexplode(slice(col("v"), col("mi") * subDim + 1, lit(subDim)))
              .as(Seq("pos", "x")))
          .groupBy("mi", "code", "pos").agg(avg("x").as("mx"))
          .collect()
        val next = books.map(_.map(_.clone()))
        means.groupBy(r => (r.getInt(0), r.getInt(1))).foreach {
          case ((mi, code), rows) =>
            rows.foreach(r => next(mi)(code)(r.getInt(2)) = r.getDouble(3))
        } // empty cells keep their previous centroid (same rule as lloyd)
        books = next
        iter += 1
      }
      PQModel(m, subDim, books)
    }
  }

  /** (id, code: array<int>) — one compiled pass, no shuffle; the code is
    * the only thing the search path needs per indexed vector. Encoding
    * is the native [[graft.functions.PqCode]] expression over the
    * in-plan unit vector — no per-row UDF boxing.
    */
  def pqEncode(df: DataFrame, idCol: String, vecCol: String,
               model: PQModel): DataFrame = {
    val k = graft.functions.PqOps.kernel(model.codebooks)
    unitized(df, idCol, vecCol)
      .select(col("id"), graft.functions.PqOps.code(col("v"), k).as("code"))
  }

  /** INCREMENTAL ingest for the flat-ADC family: encode the batch with
    * the FROZEN codebooks ([[pqEncode]] — no retraining) and replace
    * any re-ingested id's stale code by anti-join. Bit-identical to a
    * frozen-codebook re-encode of the merged corpus, so every recall
    * property measured for the model transfers by construction.
    */
  def pqUpsert(encoded: DataFrame, model: PQModel, batch: DataFrame,
               idCol: String, vecCol: String): DataFrame =
    encoded.join(batch.select(col(idCol).cast("long").as("id")).distinct(),
        Seq("id"), "left_anti")
      .unionByName(pqEncode(batch, idCol, vecCol, model))

  /** DELETION maintenance for the flat-ADC family — [[pqUpsert]]'s
    * tombstone twin: one anti-join over the code table, codebooks
    * frozen, O(deleted + index). Bit-identical to a frozen-codebook
    * re-encode of the surviving corpus, so measured recall properties
    * transfer; q_ann_delete_pq gates the exact-serving identity
    * (full candK + exact re-rank == brute force over survivors).
    */
  def pqDelete(encoded: DataFrame, deletedIds: DataFrame,
               idCol: String): DataFrame =
    encoded.join(deletedIds.select(col(idCol).cast("long").as("id")).distinct(),
      Seq("id"), "left_anti")

  // ADC scoring is graft.functions.AdcScore — a native codegen
  // expression, because it runs once per (vector × query) pair and a
  // Scala UDF's per-pair boxed conversion of the 512-double table
  // measured +4 s on q_ann_pq / +2.9 s on q_ann_ivfpq at sf0.1.

  /** Asymmetric-distance (ADC) batch search. `queries` is a DataFrame —
    * the per-query lookup table is computed IN the plan on the query
    * side (executors build the tables; the raw query vectors are never
    * batch-collected as an API input). Flat ADC scores every indexed
    * code against every query by construction (that is what "flat"
    * means), so the query side is explicitly broadcast — which DOES
    * route the computed (qid, table) rows through the driver, as any
    * broadcast does. Callers therefore owe a BOUNDED query batch (the
    * serving shape; the bound is the broadcast ceiling, ~8 GB ÷
    * m·codes·8 bytes per query). For corpus-scale query sets use
    * [[ivfPqSearch]], whose cell key turns the cross product into an
    * equi-join with no broadcast requirement. Scoring each indexed vector
    * is m array lookups over its code — one map pass; the only shuffle
    * is the per-query top-k. Returns (qid, rank, id, adist) with rank
    * 1..k by ascending approximate squared L2 (≡ descending cosine on
    * normalized inputs).
    */
  def pqSearch(encoded: DataFrame, model: PQModel,
               queries: DataFrame, qidCol: String, qvecCol: String,
               k: Int): DataFrame = {
    // per-query flattened m×codes lookup table built on the QUERY SIDE
    // of the plan (native AdcTable over the in-plan unit vector — never
    // a driver collect, no per-row boxing); ragged query dims fail
    // loudly in the kernel
    val kq = graft.functions.PqOps.kernel(model.codebooks)
    val q = unitized(queries, qidCol, qvecCol)
      .select(col("id").as("qid"),
        graft.functions.PqOps.table(col("v"), kq).as("tab"))
    val scored = encoded.crossJoin(broadcast(q))
      .select(col("qid"), col("id"),
        AdcScore(col("code"), col("tab"), model.codebooks(0).length).as("adist"))
    topK(scored, Seq(("adist", false), ("id", false)), k)
      .select(col("qid"), col("rank"), col("id"), col("adist"))
  }

  /** IVF-PQ: the production billion-vector composition (Jégou et al.
    * PAMI 2011 §V; FAISS `IndexIVFPQ`) — coarse k-means cells bound WHICH
    * vectors a query scans (nprobe/nlist of the corpus), PQ codes bound
    * the BYTES per scanned vector (m small ints), ADC scores the
    * intersection. Flat ADC ([[pqSearch]]) still reads every code at
    * 10^11 vectors; cell-filtered ADC reads nprobe/nlist of them, which
    * is what makes the architecture scale-stable: recall is governed by
    * (nprobe, codes), not corpus size. The parameters are explicit here
    * (the caller owns the cost/recall trade); derive them from corpus
    * cardinality with [[AnnParams]] rather than hard-coding — fixed
    * constants tuned at one scale decay at another (the candidate-depth
    * collapse documented in AnnParams' scaladoc).
    *
    * Simplification vs FAISS kept deliberate: codes quantize the RAW
    * normalized vectors, not per-cell residuals — one fewer transform,
    * recall contract measured and pinned by the caller's oracle (the
    * planted-dup property test covers the structured regime).
    *
    * `queries` is a DataFrame: each query row computes its nprobe probe
    * cells and its flattened ADC table IN the plan (the same centroid
    * and codebook arithmetic as the index side), then meets the encoded
    * corpus through ONE equi-join on the cell id — the [[ivfTopK]]
    * shape. Nothing corpus-proportional ever passes through the driver,
    * so the query set may itself be a large DataFrame; Spark picks
    * broadcast vs shuffle for the cell join from its size. Returns
    * (qid, rank, id, adist), rank 1..k by ascending approximate squared
    * L2 within the probed cells.
    */
  def ivfPqSearch(df: DataFrame, idCol: String, vecCol: String,
                  queries: DataFrame, qidCol: String, qvecCol: String,
                  k: Int, nlist: Int = 16, nprobe: Int = 8,
                  m: Int = 8, codes: Int = 64,
                  sampleMod: Int = 4, trainIters: Int = 3): DataFrame =
    ivfPqProbe(ivfPqIndex(df, idCol, vecCol, nlist, m, codes,
      sampleMod, trainIters), queries, qidCol, qvecCol, k, nprobe)

  /** A trained IVF-PQ index: the encoded corpus plus the fused
    * coarse-centroid/codebook kernel the query side needs. TRAIN once,
    * probe at many (nprobe, k) operating points — the split exists so
    * [[AnnCalibrate]] (and [[graft.RecallGrid]]) can sweep operating
    * points without retraining the quantizers per point (training is
    * deterministic, so per-point retraining gives identical results —
    * it just pays the Lloyd + pqTrain jobs again each time). `encoded`
    * is a lazy plan like any DataFrame; a caller probing repeatedly
    * should persist it.
    */
  case class IvfPqIndex(encoded: DataFrame,
                        fused: graft.functions.IvfPqKernel, codes: Int)

  /** TRAIN + INDEX halves of [[ivfPqSearch]] (identical plan shapes —
    * the composed search is bit-identical to the previous monolith).
    */
  def ivfPqIndex(df: DataFrame, idCol: String, vecCol: String,
                 nlist: Int, m: Int = 8, codes: Int = 64,
                 sampleMod: Int = 4, trainIters: Int = 3): IvfPqIndex = {
    val v = unitized(df, idCol, vecCol)
    // ONE persisted training sample and ONE seed-collect job feed BOTH
    // quantizers: the coarse Lloyd and pqTrain draw from the identical
    // unitized hash-sample, and their seed sets are id-ordered prefixes
    // of the same rows — collecting max(nlist, codes) rows once and
    // slicing is bit-identical to the two separate collects it replaces
    // (deterministic total order on the unique id), and the sample
    // materializes one cache instead of two (guide §1.2/§2.4: remove
    // duplicated passes). Both trainings read the same persisted frame.
    val sample = v.filter(pmod(xxhash64(col("id")), lit(sampleMod)) === 0)
      .select(col("id"), col("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (centroids, model) =
      try {
        val seeds = sample.orderBy("id").limit(math.max(nlist, codes))
          .select("v").collect().map(_.getSeq[Double](0))
        require(seeds.length >= nlist,
          s"sample too small: need $nlist coarse seed vectors")
        val seedVecs = seeds.take(nlist).map(_.toArray)
        val pqSeeds = seeds.take(codes)
        require(pqSeeds.length == codes,
          s"sample too small: need $codes seed vectors per subspace")
        // The two quantizer trainings are INDEPENDENT given the shared
        // persisted sample (the coarse Lloyd never reads the codebooks
        // and vice versa), but each is a chain of trainIters sequential
        // driver-collect jobs over a handful of tasks — run serially
        // they strictly alternate job-floor waits. Overlap them on two
        // driver threads (guide §2.6: actions are only sequential
        // because the driver calls them sequentially); every job's
        // arithmetic, input sample, and seeds are unchanged, so both
        // quantizers are bit-identical to the serial form. The seed
        // collect above (a global orderBy) has already materialized the
        // sample's cache, so neither thread recomputes the fill.
        val lloydF = scala.concurrent.Future {
          KMeans.lloyd(sample, "v", seedVecs,
            KMeans.EuclideanSq, maxIter = trainIters).centers
        }(scala.concurrent.ExecutionContext.global)
        val mdl = pqTrainOn(sample, pqSeeds, seedVecs(0).length, m, codes,
          trainIters)
        val cents = scala.concurrent.Await.result(lloydF,
          scala.concurrent.duration.Duration.Inf)
        (cents, mdl)
      } finally sample.unpersist(blocking = false)
    val fused = new graft.functions.IvfPqKernel(
      graft.functions.NearestCells.kernel(centroids),
      graft.functions.PqOps.kernel(model.codebooks))
    // Index side: (id, cell, code) in ONE pass over the raw vectors —
    // the fused native IvfPqEncode normalizes once (primitive loops)
    // and runs both the coarse-cell scan and the PQ encode over that
    // unit vector, so the corpus is scanned once with no id-keyed join
    // of two derived scans (at corpus scale that join is a full extra
    // shuffle of every row) and no per-row interpreted-HOF
    // normalization (the expression-normalized column form measured
    // +1.4 s here at sf0.1). FP sequence identical to the fused UDF
    // this replaces — cells and codes are bit-identical. Ragged
    // vectors fail loudly in the kernel.
    val encoded = df
      .select(col(idCol).as("id").cast("long"),
        graft.functions.PqOps.ivfEncode(asDouble(col(vecCol)), fused).as("cc"))
      .select(col("id"), col("cc.cell").as("cell"), col("cc.code").as("code"))
    IvfPqIndex(encoded, fused, codes)
  }

  /** INCREMENTAL ingest for the IVF-PQ family — [[ivfUpsert]]'s shape
    * with BOTH quantizers frozen: the batch runs the fused
    * cell-assign + PQ-encode kernel (one narrow scan, the exact
    * [[ivfPqIndex]] encode path), stale rows of re-ingested ids drop by
    * anti-join. The merged `encoded` is bit-identical to re-encoding
    * the whole corpus under the frozen kernels (PqOpsSpec pins it), so
    * the index's measured recall properties carry over; q_ann_incr_ivfpq
    * additionally drives the merged index through a full-width,
    * full-candidate probe + exact re-rank, which must reproduce the
    * exact serving oracle verbatim.
    */
  def ivfPqUpsert(index: IvfPqIndex, batch: DataFrame,
                  idCol: String, vecCol: String): IvfPqIndex = {
    val fresh = batch
      .select(col(idCol).as("id").cast("long"),
        graft.functions.PqOps.ivfEncode(asDouble(col(vecCol)), index.fused).as("cc"))
      .select(col("id"), col("cc.cell").as("cell"), col("cc.code").as("code"))
    val merged = index.encoded
      .join(batch.select(col(idCol).cast("long").as("id")).distinct(),
        Seq("id"), "left_anti")
      .unionByName(fresh)
    IvfPqIndex(merged, index.fused, index.codes)
  }

  /** DELETION maintenance for the IVF-PQ family — [[ivfPqUpsert]]'s
    * tombstone twin: one anti-join over the (cell, code) table, both
    * quantizers frozen, O(deleted + index). q_ann_delete_ivfpq gates
    * the exact-serving identity (full width + full candK + exact
    * re-rank == brute force over survivors).
    */
  def ivfPqDelete(index: IvfPqIndex, deletedIds: DataFrame,
                  idCol: String): IvfPqIndex =
    IvfPqIndex(
      index.encoded
        .join(deletedIds.select(col(idCol).cast("long").as("id")).distinct(),
          Seq("id"), "left_anti"),
      index.fused, index.codes)

  /** PROBE half of [[ivfPqSearch]] against a trained [[IvfPqIndex]]. */
  def ivfPqProbe(index: IvfPqIndex, queries: DataFrame,
                 qidCol: String, qvecCol: String,
                 k: Int, nprobe: Int): DataFrame = {
    // Query side, fully IN the plan: per query row, the nprobe nearest
    // coarse cells and the flattened ADC table from the SAME fused
    // normalization (IvfPqProbe). One row per (query, probe); the table
    // column rides the cell join and is dropped by the projection
    // immediately after scoring, so the top-k shuffle carries only
    // (qid, id, adist).
    val qside = queries
      .select(col(qidCol).cast("long").as("qid"),
        graft.functions.PqOps.ivfProbe(asDouble(col(qvecCol)), index.fused, nprobe)
          .as("tp"))
      .select(col("qid"), col("tp.tab").as("tab"),
        explode(col("tp.probes")).as("cell"))
    val scored = index.encoded.join(qside, Seq("cell"))
      .select(col("qid"), col("id"),
        AdcScore(col("code"), col("tab"), index.codes).as("adist"))
    topK(scored, Seq(("adist", false), ("id", false)), k)
      .select(col("qid"), col("rank"), col("id"), col("adist"))
  }
}
