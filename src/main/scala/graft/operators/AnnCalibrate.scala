package graft.operators

import graft.functions.VectorFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Runtime recall calibration for the ANN probe fractions — the
  * self-serve replacement for the one step of [[AnnParams]] that was
  * still "measured offline by the builder": the scaling LAWS (nlist ∝
  * √n, candidate depth ∝ the scanned set) hold on any corpus, but the
  * probe fraction ρ and candidate fraction γ are properties of the DATA
  * DISTRIBUTION (near-random corpora need ρ ≈ 0.5+; clustered real
  * corpora run ρ ≈ 0.01–0.1 — AnnParams scaladoc), so a new corpus
  * needs them measured on itself. This entry point runs that
  * measurement in-job: draw a deterministic held-out query sample,
  * anchor it with the exact blocked brute force
  * ([[Similarity.bruteForceTopKFor]] — the same anchor shape the oracle
  * queries use), train the index ONCE, then walk the (ρ, γ) grid
  * LEXICOGRAPHICALLY (smallest ρ first, then smallest γ within it) and
  * return the first operating point whose measured recall@k meets the
  * caller's target. Lexicographic = the verdict's "smallest (ρ, γ)",
  * and the right cost order at corpus scale: ρ sets the probed-cell
  * scan volume (∝ ρ·n — the dominant term), γ only the re-rank depth.
  * On a corpus where a deep γ at small ρ beats a shallow γ at the next
  * ρ rung (the sf0.1 CALIB line: (0.5, γ=0.4) over (0.625, ·)), that
  * trade is therefore deliberate.
  *
  * Opt-in and read-only: nothing here changes [[AnnParams]]' pinned
  * defaults or any oracle band — a deployment calls this once per
  * corpus (or per drift epoch) and passes the returned fractions to
  * AnnParams' derivations thereafter. AnnCalibrateSpec pins that on THE
  * ORACLE CORPUS the calibrated ρ lands within one grid step of the
  * offline grid's 0.625 (and ρ_ivf of 0.46), so this path and the
  * RecallGrid measurements can only drift together.
  *
  * Cost shape (all cluster work, driver state bounded): the anchor is
  * the blocked exact grid over sampleFrac·n queries — the same audit
  * cost the recall-contract oracles already pay; each grid point is one
  * probe+re-rank job over the PERSISTED encoded corpus (the index is
  * trained exactly once via [[Similarity.ivfPqIndex]]); ρ rungs whose
  * deepest-γ recall misses the target are rejected after that single
  * upper-bound measurement (candidate recall is monotone in γ at fixed
  * ρ), so a failing rung costs one job, not |γ grid| jobs. Operating
  * points that collapse to the same (nprobe, candK) — e.g. every γ
  * under the small-corpus candidate floor — are measured once.
  *
  * The recall math ([[hitJoin]]/[[recallExpr]]/[[exactReRank]]) lives
  * HERE, and the oracle queries (graft.queries.PipelineQueries) and the
  * offline harness (graft.RecallGrid) delegate to it: one definition,
  * so what calibration optimizes is the identical quantity the shipped
  * recall contracts pin.
  *
  * At 100 TB the anchor itself is the limit: the exact grid is
  * O(sampleFrac·n²) and no deployment brute-forces a 10^11-row corpus,
  * even sampled. The scale path is to calibrate on a hash-sampled
  * SUB-CORPUS (`Sampling.hashSample(emb, id, corpusFrac)` passed as
  * `emb`) and carry the returned FRACTIONS to the full corpus — ρ and γ
  * are corpus-property fractions by design (the same reason AnnParams'
  * derivations transfer across the sf grid), while every absolute knob
  * (nlist, nprobe, candK) re-derives from the full n at query time.
  * AnnCalibrateSpec pins the transfer on the oracle corpus: a
  * half-corpus calibration reproduces ρ_ivf exactly and lands ρ_ivfpq
  * one knob step below the full-corpus value (a smaller corpus is
  * slightly easier, so budget one knob step of margin when transferring
  * — the same headroom the offline 0.625 carries over the calibrated
  * 0.5). The sub-corpus must still cover the PQ codebook: below
  * 64 vectors per subspace seed, pqTrain rejects the sample loudly
  * rather than returning an undertrained quantizer.
  */
object AnnCalibrate {

  /** Grid defaults: ρ spans the clustered-real-corpus regime (0.05–0.2)
    * through the near-random regime (0.5–1.0) with the offline-measured
    * oracle point 0.625 as an interior rung; γ brackets the measured
    * 0.10 by ×/÷2 steps. Callers with prior knowledge pass a tighter
    * grid (each rung a failing ρ costs one upper-bound job).
    */
  val DefaultRhoGrid: Seq[Double] = Seq(0.05, 0.1, 0.2, 0.35, 0.5, 0.625, 0.75, 1.0)
  val DefaultGammaGrid: Seq[Double] = Seq(0.025, 0.05, 0.1, 0.2, 0.4)

  /** One measured IVF-PQ operating point: the fractions, the derived
    * absolute knobs they produce at this corpus's cardinality, and the
    * recall@k actually measured against the exact anchor.
    */
  case class IvfPqCalibration(rho: Double, gamma: Double, nlist: Int,
                              nprobe: Int, candK: Int, recall: Double)

  /** One measured plain-IVF operating point (exact scoring inside
    * probed cells — cell recall is the only recall term, so there is no
    * γ to calibrate).
    */
  case class IvfCalibration(rho: Double, nlist: Int, nprobe: Int,
                            recall: Double)

  // ---------------------------------------------------------------------
  // The canonical recall math. ONE definition — the oracle queries and
  // RecallGrid delegate here — because a second copy of this join is
  // how calibration results silently diverge from what the shipped
  // recall contracts measure.
  // ---------------------------------------------------------------------

  /** Left-join the exact anchor's (qid, nid) rows against an ANN
    * result's hit markers; [[recallExpr]] aggregates the hit fraction.
    */
  private[graft] def hitJoin(bf: DataFrame, ann: DataFrame): DataFrame =
    bf.join(ann.select(col("qid"), col("nid"), lit(1).as("hit")),
      Seq("qid", "nid"), "left")

  private[graft] def recallExpr: Column =
    sum(coalesce(col("hit"), lit(0))).cast("double") / count(lit(1))

  /** Un-bucketized recall@k of an ANN result vs the exact anchor. */
  def recallOf(bf: DataFrame, ann: DataFrame): Double =
    hitJoin(bf, ann).agg(recallExpr.as("r")).collect()(0).getDouble(0)

  /** Exact cosine re-rank of an ANN candidate list: join both sides'
    * raw vectors back on, score with the canonical cosine, keep the
    * top-k per query (sim desc, nid tie-break). The PQ/IVF-PQ recall
    * contracts measure CANDIDATE recall through exactly this re-rank.
    *
    * `querySrc` (optional): where the QUERY vectors live. Default —
    * the corpus itself (self-kNN, every shipped oracle). An anchor
    * over an EXTERNAL query workload passes its own query frame
    * (same idCol/vecCol columns), since external qids are not corpus
    * rows and a corpus lookup would silently drop them.
    */
  private[graft] def exactReRank(emb: DataFrame, idCol: String,
                                 vecCol: String, cand: DataFrame,
                                 k: Int,
                                 querySrc: Option[DataFrame] = None): DataFrame =
    exactTopK(emb, idCol, vecCol, cand, k, querySrc).select("qid", "nid")

  /** [[exactReRank]] keeping the rank and the round-6 similarity — the
    * (qid, rank, nid, sim) projection the exact-oracle audit rows
    * (q_ann_incr_ivfpq / q_ann_incr_pq via exactTop5) hash against.
    * SAME scoring join, comparator, and tie rule — one definition, per
    * the header's one-copy contract; exactReRank is its projection.
    */
  private[graft] def exactTopK(emb: DataFrame, idCol: String,
                               vecCol: String, cand: DataFrame,
                               k: Int,
                               querySrc: Option[DataFrame] = None): DataFrame = {
    val v = emb.select(col(idCol).cast("long").as("vid"), col(vecCol).as("emb"))
    val qv = querySrc.getOrElse(emb)
      .select(col(idCol).cast("long").as("q_vid"), col(vecCol).as("q_emb"))
    val scored = cand
      .join(qv, col("qid") === col("q_vid"))
      .join(v, col("id") === col("vid"))
      .select(col("qid"), col("id").as("nid"),
        VectorFunctions.cosine(col("q_emb"), col("emb")).as("sim"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("sim").desc, col("nid"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      // long, matching the TopKPerKey rank and every engine's window
      // rank type — the corpus-wide no-width-skew rule for hashed ints
      .select(col("qid"), col("rk").cast("long").as("rank"), col("nid"),
        round(col("sim"), 6).as("sim"))
  }

  /** A reusable top-k calibration anchor: the deterministic held-out
    * query sample, its PERSISTED exact brute-force top-k, and the
    * corpus cardinality — plus the (k, sampleFrac) it was built at, so
    * a calibrate call can loudly reject an anchor that measures a
    * different contract. Build once with [[anchorFor]] when calibrating
    * several families in one job (the anchor is the dominant shared
    * cost — graft.RecallGrid reuses the one it already computed); each
    * calibrate* self-computes when not given one. Self-computed anchors
    * are unpersisted internally; a caller-provided anchor stays the
    * caller's to free.
    *
    * The query rows need NOT be corpus rows: an anchor over an EXTERNAL
    * query workload — `queries` = the workload frame (carrying the same
    * idCol/vecCol columns), `bf` = `bruteForceTopKFor(workload, corpus,
    * …)`, `n` = the CORPUS cardinality — calibrates the serving path.
    * Every calibrate* probes AND re-ranks the anchor's own query rows
    * (never a re-derived corpus sample, which would share no qids with
    * an external anchor and silently measure recall 0); `sampleFrac` is
    * then just the contract tag to repeat in the calibrate call.
    * AnnCalibrateSpec pins the external path at its exactness points.
    */
  case class TopKAnchor(queries: DataFrame, bf: DataFrame, n: Long,
                        k: Int, sampleFrac: Double)

  /** Build (and persist) a [[TopKAnchor]]. */
  def anchorFor(emb: DataFrame, idCol: String, vecCol: String,
                k: Int = 5, sampleFrac: Double = 0.1): TopKAnchor = {
    val n = emb.count()
    val queries = Sampling.hashSample(emb, idCol, sampleFrac)
    val bf = Similarity
      .bruteForceTopKFor(queries, emb, idCol, vecCol, k,
        blocks = AnnParams.bruteBlocks(n))
      .persist()
    bf.count()
    TopKAnchor(queries, bf, n, k, sampleFrac)
  }

  private def resolveAnchor(anchor: Option[TopKAnchor], emb: DataFrame,
                            idCol: String, vecCol: String, k: Int,
                            sampleFrac: Double): (TopKAnchor, Boolean) =
    anchor match {
      case Some(a) =>
        require(a.k == k && a.sampleFrac == sampleFrac,
          s"anchor built at (k=${a.k}, sampleFrac=${a.sampleFrac}) cannot " +
            s"measure a (k=$k, sampleFrac=$sampleFrac) calibration")
        (a, false)
      case None => (anchorFor(emb, idCol, vecCol, k, sampleFrac), true)
    }

  /** Keep the smallest fraction per distinct derived knob value,
    * ascending — rungs that collapse to the same absolute operating
    * point (ceil boundaries; the candidate floor at small n) are
    * measured once, attributed to the cheapest fraction that reaches
    * that point. Generic in the rung type (Double fractions; Int cell
    * sizes) so the attribute-to-cheapest rule has one definition.
    */
  private def dedupeAscending[F, A](fracs: Seq[F], knobOf: F => A)
                                   (implicit ord: Ordering[F]): Seq[(F, A)] =
    fracs.distinct.sorted.map(f => (f, knobOf(f)))
      .groupBy(_._2).map { case (knob, fs) => (fs.map(_._1).min, knob) }
      .toSeq.sortBy(_._1)

  /** The deduped ρ walk for [[calibrateIvfPq]]: ascending, keeping the
    * smallest ρ per distinct (nprobe, FULL per-γ candK vector) key — not
    * per nprobe alone, because candK depends on ρ itself: when two ρs
    * ceil-collapse to the same nprobe (small n), the larger ρ can still
    * derive a deeper γ grid, and deduping on nprobe alone would skip a
    * same-probe-cost operating point that meets the target, returning a
    * costlier rung (or None) against the documented smallest-(ρ, γ)
    * contract. The key is the WHOLE per-γ depth vector, not just the
    * deepest entry: two ρs equal at γmax can still ceil-wobble apart at
    * an intermediate γ, and dropping that rung would return a one-
    * candidate-deeper γ label than the true cheapest point. Rungs
    * identical on EVERY derived knob measure once.
    */
  private[graft] def ivfPqRhoRungs(n: Long, k: Int, rhoGrid: Seq[Double],
                                   gammaGrid: Seq[Double]): Seq[(Double, Int)] =
    dedupeAscending(rhoGrid, (r: Double) =>
      (AnnParams.nprobe(n, r),
        gammaGrid.map(g => AnnParams.candK(n, k, probeFrac = r, candFrac = g))))
      .map { case (rho, (nprobe, _)) => (rho, nprobe) }

  /** Calibrate (ρ, γ) for [[Similarity.ivfPqSearch]]: the smallest
    * grid fractions whose measured candidate recall@k (after the exact
    * re-rank — the same quantity q_ann_ivfpq's oracle band pins) meets
    * `recallTarget` on this corpus. None when even (max ρ, max γ) in
    * the grid misses the target — on near-random data past the
    * [[AnnParams.MaxCandK]] regime that is the honest answer, not a
    * reason to silently return the closest miss.
    */
  def calibrateIvfPq(emb: DataFrame, idCol: String, vecCol: String,
                     recallTarget: Double, k: Int = 5,
                     sampleFrac: Double = 0.1,
                     rhoGrid: Seq[Double] = DefaultRhoGrid,
                     gammaGrid: Seq[Double] = DefaultGammaGrid,
                     m: Int = 8, codes: Int = 64,
                     anchor: Option[TopKAnchor] = None): Option[IvfPqCalibration] = {
    require(recallTarget > 0 && recallTarget <= 1,
      s"recall target must be in (0, 1], got $recallTarget")
    require(rhoGrid.nonEmpty && gammaGrid.nonEmpty, "empty calibration grid")
    val (a, ownAnchor) = resolveAnchor(anchor, emb, idCol, vecCol, k, sampleFrac)
    val (queries, bf, n) = (a.queries, a.bf, a.n)
    val nlist = AnnParams.nlist(n)
    // persist() mutates in place and returns the same Dataset — no copy
    val idx = Similarity.ivfPqIndex(emb, idCol, vecCol, nlist, m, codes)
    idx.encoded.persist().count()
    try {
      def measure(rho: Double, gamma: Double, nprobe: Int, candK: Int): IvfPqCalibration = {
        val cand = Similarity
          .ivfPqProbe(idx, queries, idCol, vecCol, candK, nprobe)
          .filter(col("qid") =!= col("id"))
        IvfPqCalibration(rho, gamma, nlist, nprobe, candK,
          recallOf(bf, exactReRank(emb, idCol, vecCol, cand, k,
            querySrc = Some(queries))))
      }
      val rhos = ivfPqRhoRungs(n, k, rhoGrid, gammaGrid)
      rhos.iterator.flatMap { case (rho, nprobe) =>
        // candK depends on ρ too — dedupe the γ grid PER RUNG (the
        // small-corpus floor collapses different γ sets at different ρ)
        val gs = dedupeAscending(gammaGrid,
          (g: Double) => AnnParams.candK(n, k, probeFrac = rho, candFrac = g))
        // upper bound first: candidate recall is monotone in depth at
        // fixed ρ, so a rung whose deepest γ misses the target is
        // rejected after ONE job
        val top = measure(rho, gs.last._1, nprobe, gs.last._2)
        if (top.recall < recallTarget) Iterator.empty
        else gs.iterator
          .map { case (g, ck) => if (ck == gs.last._2) top else measure(rho, g, nprobe, ck) }
          .find(_.recall >= recallTarget).iterator
      }.nextOption()
    } finally {
      if (ownAnchor) bf.unpersist(blocking = false)
      idx.encoded.unpersist(blocking = false)
    }
  }

  /** One measured LSH operating point: the target candidate fraction,
    * the bits-per-table it derives at this corpus's cardinality, and
    * the recall@k measured against the exact anchor.
    */
  case class LshCalibration(candFrac: Double, tables: Int, bits: Int,
                            recall: Double)

  /** Candidate-fraction grid for [[calibrateLsh]]: brackets the
    * grid-measured oracle point 0.5 from the cheap side (real
    * clustered corpora prune far harder) up to the no-pruning rung.
    * At [[AnnParams.LshTables]] = 16 these derive 9/8/7/6/5/4 bits.
    */
  val DefaultLshFracGrid: Seq[Double] = Seq(0.05, 0.1, 0.2, 0.25, 0.5, 1.0)

  /** Calibrate the LSH candidate fraction ([[Similarity.lshTopK]]):
    * the smallest grid fraction whose measured recall@k meets
    * `recallTarget` — the completion of the family walk, landing the
    * last ANN architecture on the same measure-don't-assume footing as
    * ρ/γ. Each rung re-buckets the corpus at its derived bits (LSH has
    * no training to reuse across depths: the hyperplane matrix is a
    * pure function of (dim, tables, bits, seed), and different bits
    * draw different planes — one narrow kernel pass per rung, the
    * cheap half; the bucket join's cost is what the fraction governs,
    * which is exactly why the walk goes cheapest-fraction-first).
    * Unlike the γ walks there is no one-job upper-bound rejection:
    * recall across bits depths is not formally monotone (the plane
    * sets differ), so every rung is measured on its own.
    */
  def calibrateLsh(emb: DataFrame, idCol: String, vecCol: String,
                   recallTarget: Double, k: Int = 5,
                   sampleFrac: Double = 0.1,
                   tables: Int = AnnParams.LshTables,
                   fracGrid: Seq[Double] = DefaultLshFracGrid,
                   seed: Long = 42L, knownDim: Option[Int] = None,
                   anchor: Option[TopKAnchor] = None): Option[LshCalibration] = {
    require(recallTarget > 0 && recallTarget <= 1,
      s"recall target must be in (0, 1], got $recallTarget")
    require(fracGrid.nonEmpty, "empty calibration grid")
    // same dimensionality probe as pqTrain; ragged corpora still fail
    // loudly in the hyperplane kernel. Probed BEFORE the anchor: a
    // degenerate corpus must fail here cheaply, never after paying
    // (and then leaking — the probe would sit outside the try that
    // unpersists it) the exact brute-force anchor. The degenerate
    // shapes carry the contract message, not a library exception: an
    // empty corpus would otherwise die in head()'s NoSuchElement, and
    // a null/empty first vector would surface later as a negative
    // array size inside the hyperplane kernel.
    val dim = knownDim.getOrElse {
      val probe = emb.select(size(col(vecCol))).take(1)
      require(probe.nonEmpty,
        "calibrateLsh: corpus is empty — nothing to calibrate against")
      require(!probe(0).isNullAt(0) && probe(0).getInt(0) > 0,
        s"calibrateLsh: first $vecCol row is null or empty — the corpus " +
          "must carry fixed-width non-null vectors")
      probe(0).getInt(0)
    }
    val (a, ownAnchor) = resolveAnchor(anchor, emb, idCol, vecCol, k, sampleFrac)
    try {
      dedupeAscending(fracGrid,
          (f: Double) => AnnParams.lshBits(a.n, tables, f))
        .iterator
        .map { case (f, bits) =>
          val idx = Similarity.lshIndex(emb, idCol, vecCol, dim, tables,
            bits, seed)
          // probe the ANCHOR'S query rows (the external-workload
          // contract every calibrate* shares); self-exclusion is
          // id-keyed, so a self-sampled anchor measures the same
          // quantity as lshTopK with a queryPred (PqOpsSpec pins the
          // two row-identical)
          val ann = Similarity.lshProbeFor(idx, a.queries, idCol, vecCol, k)
          LshCalibration(f, tables, bits, recallOf(a.bf, ann))
        }
        .find(_.recall >= recallTarget)
    } finally if (ownAnchor) a.bf.unpersist(blocking = false)
  }

  /** One measured flat-ADC operating point (the whole corpus is the
    * scanned set — γflat is the only knob).
    */
  case class FlatPqCalibration(gamma: Double, candK: Int, recall: Double)

  /** Calibrate γflat for flat ADC ([[Similarity.pqSearch]]): the
    * smallest grid fraction whose measured candidate recall@k (after
    * the exact re-rank — q_ann_pq's contract quantity) meets
    * `recallTarget`. The codebooks train once; each rung is one
    * probe+re-rank job over the persisted codes.
    */
  def calibrateFlatPq(emb: DataFrame, idCol: String, vecCol: String,
                      recallTarget: Double, k: Int = 5,
                      sampleFrac: Double = 0.1,
                      gammaGrid: Seq[Double] = DefaultGammaGrid,
                      m: Int = 8, codes: Int = 64,
                      anchor: Option[TopKAnchor] = None): Option[FlatPqCalibration] = {
    require(recallTarget > 0 && recallTarget <= 1,
      s"recall target must be in (0, 1], got $recallTarget")
    require(gammaGrid.nonEmpty, "empty calibration grid")
    val (a, ownAnchor) = resolveAnchor(anchor, emb, idCol, vecCol, k, sampleFrac)
    val (queries, bf, n) = (a.queries, a.bf, a.n)
    val model = Similarity.pqTrain(emb, idCol, vecCol, m, codes)
    val enc = Similarity.pqEncode(emb, idCol, vecCol, model).persist()
    enc.count()
    try {
      dedupeAscending(gammaGrid, (g: Double) => AnnParams.flatCandK(n, k, candFrac = g))
        .iterator
        .map { case (g, ck) =>
          val cand = Similarity.pqSearch(enc, model, queries, idCol, vecCol, ck)
            .filter(col("qid") =!= col("id"))
          FlatPqCalibration(g, ck,
            recallOf(bf, exactReRank(emb, idCol, vecCol, cand, k,
              querySrc = Some(queries))))
        }
        .find(_.recall >= recallTarget)
    } finally {
      if (ownAnchor) bf.unpersist(blocking = false)
      enc.unpersist(blocking = false)
    }
  }

  /** One measured SemDeDup operating point: the target cell size, the
    * nlist it derives at this cardinality, and the measured pair recall
    * vs the exact threshold pairs.
    */
  case class SemDedupCalibration(targetCellSize: Int, nlist: Int,
                                 pairRecall: Double)

  /** Calibrate SemDeDup's target cell size: the SMALLEST grid cell size
    * (= largest nlist = cheapest pair space, walked cheapest-first)
    * whose within-cell pair recall vs the exact `threshold` pairs meets
    * `pairRecallTarget`. Cell size is the one SemDeDup knob with
    * offline-measured status ([[AnnParams.semDedupNlist]]'s default 64
    * reproduces the measured oracle configuration): bigger cells catch
    * more boundary-straddling pairs at |cell|² cost. The exact pair set
    * (the O(n²) blocked path) computes once and anchors every rung —
    * the same audit-affordability argument as the top-k anchor. A
    * corpus with NO exact pairs at the threshold calibrates vacuously
    * (recall 1.0 at the cheapest rung). On near-background corpora
    * (see [[AnnParams.semDedupLowBandMsg]]) the target may be
    * unreachable at every rung → None, which is the honest signal that
    * [[Similarity.cosineNearDupPairs]] is the right tool there.
    */
  /** A reusable exact-pair anchor for [[calibrateSemDedup]]: the
    * PERSISTED threshold pairs, their count, the corpus cardinality,
    * and the threshold they were computed at (loudly checked). Same
    * ownership rule as [[TopKAnchor]].
    */
  case class PairAnchor(exactPairs: DataFrame, nExact: Long, n: Long,
                        threshold: Double)

  /** Build (and persist) a [[PairAnchor]]. */
  def pairAnchorFor(emb: DataFrame, idCol: String, vecCol: String,
                    threshold: Double): PairAnchor = {
    val n = emb.count()
    val exact = Similarity
      .cosineNearDupPairs(emb, idCol, vecCol, threshold,
        blocks = AnnParams.bruteBlocks(n))
      .select(col("a_id"), col("b_id")).persist()
    PairAnchor(exact, exact.count(), n, threshold)
  }

  def calibrateSemDedup(emb: DataFrame, idCol: String, vecCol: String,
                        threshold: Double, pairRecallTarget: Double,
                        cellSizeGrid: Seq[Int] = Seq(16, 32, 64, 128, 256),
                        anchor: Option[PairAnchor] = None)
      : Option[SemDedupCalibration] = {
    require(pairRecallTarget > 0 && pairRecallTarget <= 1,
      s"pair recall target must be in (0, 1], got $pairRecallTarget")
    require(cellSizeGrid.nonEmpty && cellSizeGrid.forall(_ >= 1),
      "cell-size grid must be non-empty and positive")
    anchor.foreach(a => require(a.threshold == threshold,
      s"anchor built at threshold ${a.threshold} cannot measure $threshold"))
    val ownAnchor = anchor.isEmpty
    val a = anchor.getOrElse(pairAnchorFor(emb, idCol, vecCol, threshold))
    val (exact, nExact, n) = (a.exactPairs, a.nExact, a.n)
    try {
      // dedupe rungs that derive the same nlist (identical results),
      // attributing each to its smallest cell size
      dedupeAscending(cellSizeGrid, (cs: Int) => AnnParams.semDedupNlist(n, cs))
        .iterator
        .map { case (cs, nl) =>
          val recall =
            if (nExact == 0) 1.0
            else {
              val sem = Similarity
                .semDedupPairs(emb, idCol, vecCol, threshold, nlist = nl,
                  corpusN = Some(n))
                .select(col("a_id"), col("b_id"), lit(1).as("hit"))
              val hits = exact.join(sem, Seq("a_id", "b_id"), "left")
                .agg(sum(coalesce(col("hit"), lit(0)))).collect()(0).getLong(0)
              hits.toDouble / nExact
            }
          SemDedupCalibration(cs, nl, recall)
        }
        .find(_.pairRecall >= pairRecallTarget)
    } finally if (ownAnchor) exact.unpersist(blocking = false)
  }

  /** Calibrate ρ for [[Similarity.ivfTopK]]: the smallest grid fraction
    * whose measured recall@k meets `recallTarget`. The index trains
    * ONCE ([[Similarity.ivfIndex]] — the same train/probe split as
    * IVF-PQ, plan-identical to per-rung ivfTopK calls since training is
    * deterministic); each rung is one probe job over the persisted
    * cell-assigned corpus.
    */
  def calibrateIvf(emb: DataFrame, idCol: String, vecCol: String,
                   recallTarget: Double, k: Int = 5,
                   sampleFrac: Double = 0.1,
                   rhoGrid: Seq[Double] = DefaultRhoGrid,
                   anchor: Option[TopKAnchor] = None): Option[IvfCalibration] = {
    require(recallTarget > 0 && recallTarget <= 1,
      s"recall target must be in (0, 1], got $recallTarget")
    require(rhoGrid.nonEmpty, "empty calibration grid")
    val (a, ownAnchor) = resolveAnchor(anchor, emb, idCol, vecCol, k, sampleFrac)
    val (bf, n) = (a.bf, a.n)
    val nlist = AnnParams.nlist(n)
    val idx = Similarity.ivfIndex(emb, idCol, vecCol, nlist)
    idx.assigned.persist().count()
    // Guide §2.6: the rung measurements are INDEPENDENT read-only jobs
    // over the persisted assignment — they ran serially only because
    // this driver loop called them serially (StageProbe: one 0.9 s +
    // three 0.3 s probe jobs end to end). A 3-thread window measures
    // rungs concurrently; the SELECTION is unchanged (await in ρ order,
    // first rung meeting the target wins — each rung's recall is a
    // deterministic aggregate, so concurrency cannot move any value).
    // Early-exit economy survives at production scale: shutdownNow()
    // discards queued rungs, so a walk that stops at rung i wastes at
    // most the 2 speculative rungs already in flight — bounded, vs the
    // wall-clock of a fully serial walk.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    try {
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      val rungs = dedupeAscending(rhoGrid, (r: Double) => AnnParams.nprobe(n, r))
        .map { case (rho, nprobe) =>
          (rho, scala.concurrent.Future {
            // probe the ANCHOR'S query rows (ivfProbeFor), exactly as the
            // ivfpq/flat-PQ calibrations do — a queryPred re-derivation of
            // the sample would silently measure the WRONG query set when a
            // caller passes an anchor built over an external workload
            // (zero qid overlap → recall 0 → None). For the self-sampled
            // default the rows are the same corpus sample either way.
            val ivf = Similarity.ivfProbeFor(idx, a.queries, idCol, vecCol,
              k, nprobe)
            IvfCalibration(rho, nlist, nprobe, recallOf(bf, ivf))
          })
        }
      rungs.iterator
        .map { case (_, f) =>
          scala.concurrent.Await.result(f, scala.concurrent.duration.Duration.Inf)
        }
        .find(_.recall >= recallTarget)
    } finally {
      pool.shutdownNow()
      if (ownAnchor) bf.unpersist(blocking = false)
      idx.assigned.unpersist(blocking = false)
    }
  }
}
