package graft

import graft.operators.{Dedup, MultiModal, Similarity}
import graft.functions.{TextFunctions, VectorFunctions}
import org.apache.spark.sql.functions._

/** Property tests for the LLM-pipeline operators whose outputs are
  * approximate or not SQL-expressible (SURVEY §2B: oracle=property):
  * LSH-ANN recall against the brute-force anchor, MinHash recall against
  * exact Jaccard, SimHash invariants, hash/expression shingle parity, and
  * the multimodal mapPartitions plumbing.
  */
class PipelineSpec extends SparkSpec {

  private lazy val docs = Tables.documents(spark, sf).cache()
  private lazy val embeddings = Tables.embeddings(spark, sf).cache()

  test("minhash near-dup pairs == exact jaccard pairs (recall ~1 by design)") {
    val exact = SparkEntry.queries("q_jaccard_pairs")(spark, sf)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.nearDupPairs(docs, "doc_id", "text", threshold = 0.8)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    assert(lsh === exact)
  }

  test("prefix-filtered jaccard pairs == naive inverted-index ground truth") {
    // the pre-prefix-filter formulation: full inverted-index self-join —
    // exact by construction, kept here as the test anchor
    val sets = docs.select(col("doc_id"), Dedup.shingleHashes(col("text")).as("sh"))
      .withColumn("sz", size(col("sh")))
    val inv = sets.select(col("doc_id"), col("sz"), explode(col("sh")).as("h"))
    val naive = inv.as("a").join(inv.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        col("a.sz").as("sza"), col("b.sz").as("szb"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("jaccard", col("inter").cast("double") /
        (col("sza") + col("szb") - col("inter")).cast("double"))
      .filter(col("jaccard") >= 0.8)
      .select("a_id", "b_id", "jaccard")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val countPath = Dedup.exactJaccardPairs(docs, "doc_id", "text", 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(naive.nonEmpty)
    assert(countPath === naive)
    // hotDf=2 forces a NON-empty hot set → the prefix-filter regime; its
    // output must be the identical ground truth (prefix-filter exactness)
    val prefixPath = Dedup.exactJaccardPairs(docs, "doc_id", "text", 0.8, hotDf = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(prefixPath === naive)
  }

  test("shingleHashes UDF == shingles expression + hash (incl. edge cases)") {
    import spark.implicits._
    import scala.util.hashing.MurmurHash3
    val edge = Seq("", "a", "a b", "a b c", "a b c d",
      "x x x x x", "a b c  d", "a b c d ").toDF("text")
    def h64(s: String): Long = {
      val h1 = MurmurHash3.stringHash(s, 0x9747b28c)
      val h2 = MurmurHash3.stringHash(s, 0x85ebca6b)
      (h1.toLong << 32) | (h2.toLong & 0xffffffffL)
    }
    val viaExpr = edge.select(col("text"), Dedup.shingles(col("text")).as("sh"))
      .collect().map(r => r.getString(0) ->
        r.getSeq[String](1).map(h64).distinct.toSeq).toMap
    val viaUdf = edge.select(col("text"), Dedup.shingleHashes(col("text")).as("sh"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1).toSeq).toMap
    assert(viaExpr === viaUdf)
  }

  test("lsh ann recall@5 against the brute-force anchor") {
    val exact = Similarity.bruteForceTopK(embeddings, "vec_id", "embedding", k = 5)
      .select("qid", "nid").collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val ann = Similarity.lshTopK(embeddings, "vec_id", "embedding",
        k = 5, dim = 64, tables = 8, bitsPerTable = 6)
      .select("qid", "nid").collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val hits = exact.map { case (q, want) =>
      (want intersect ann.getOrElse(q, Set.empty)).size
    }.sum
    val recall = hits.toDouble / exact.map(_._2.size).sum
    info(f"ann recall@5 = $recall%.3f over ${exact.size} queries")
    assert(recall >= 0.30, f"recall $recall%.3f below floor")
  }

  test("ivf ann recall@5 against the brute-force anchor") {
    val exact = Similarity.bruteForceTopK(embeddings, "vec_id", "embedding", k = 5)
      .select("qid", "nid").collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val ivf = Similarity.ivfTopK(embeddings, "vec_id", "embedding",
        k = 5, nlist = 16, nprobe = 4)
      .select("qid", "nid").collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val hits = exact.map { case (q, want) =>
      (want intersect ivf.getOrElse(q, Set.empty)).size
    }.sum
    val recall = hits.toDouble / exact.map(_._2.size).sum
    info(f"ivf recall@5 = $recall%.3f over ${exact.size} queries")
    assert(recall >= 0.30, f"recall $recall%.3f below floor")
  }

  test("hard negatives: every mined negative crosses the label boundary") {
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(spark, sf)
    val neg = graft.operators.Similarity.hardNegatives(
      emb, "vec_id", "embedding", "label", k = 3)
    val anchorLabels = emb.select(col("vec_id").as("qid"),
      col("label").as("qlabel"))
    // zero rows may share a label across the anchor/negative divide
    assert(neg.join(anchorLabels, "qid")
      .filter(col("nlabel") === col("qlabel")).count() === 0L)
    // k-bounded per anchor, ranks dense from 1
    val byAnchor = neg.groupBy("qid")
      .agg(count(lit(1)).as("c"), max("rank").as("mx"), min("rank").as("mn"))
    assert(byAnchor.filter(col("c") > 3 || col("mx") =!= col("c") ||
      col("mn") =!= 1).count() === 0L)
  }

  test("ivf results are a subset of valid neighbors with exact sims") {
    val ivf = Similarity.ivfTopK(embeddings, "vec_id", "embedding",
      k = 3, nlist = 8, nprobe = 2)
    val joined = ivf.join(embeddings.select(col("vec_id").as("qid"),
        col("embedding").as("qe")), "qid")
      .join(embeddings.select(col("vec_id").as("nid"),
        col("embedding").as("ne")), "nid")
      .withColumn("true_sim", VectorFunctions.cosine(col("qe"), col("ne")))
    val bad = joined.filter(abs(col("sim") - col("true_sim")) > 1e-9).count()
    assert(bad === 0)
  }

  test("ann results are a subset of valid neighbors with exact sims") {
    // every (qid,nid,sim) from the ANN path must carry the TRUE cosine —
    // approximation may lose neighbors, never report a wrong similarity.
    val ann = Similarity.lshTopK(embeddings, "vec_id", "embedding",
      k = 3, dim = 64, tables = 4, bitsPerTable = 8)
    val joined = ann.join(embeddings.select(col("vec_id").as("qid"),
        col("embedding").as("qe")), "qid")
      .join(embeddings.select(col("vec_id").as("nid"),
        col("embedding").as("ne")), "nid")
      .withColumn("true_sim", VectorFunctions.cosine(col("qe"), col("ne")))
    val bad = joined.filter(abs(col("sim") - col("true_sim")) > 1e-9).count()
    assert(bad === 0)
  }

  test("blocked exact paths are block-count invariant (each pair scored exactly once)") {
    // blocks=1 is the trivially-correct single-group all-pairs; any other
    // block count must produce the identical result set.
    def topkAt(b: Int) = Similarity.bruteForceTopK(
        embeddings, "vec_id", "embedding", k = 5, blocks = b)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(topkAt(1) === topkAt(7))
    def pairsAt(b: Int) = Similarity.cosineNearDupPairs(
        embeddings, "vec_id", "embedding", 0.30, blocks = b)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val p1 = pairsAt(1)
    assert(p1.nonEmpty)
    assert(p1 === pairsAt(8))
  }

  test("dupNgrams recovers planted boilerplate and honors the short-doc guard") {
    import spark.implicits._
    // Two distinct docs sharing one 8-word boilerplate span; a third doc
    // repeating the span twice (n_occ counts occurrences, n_docs is
    // distinct); a 7-word doc that must contribute NO windows (the
    // short-doc guard — unguarded, Spark's sequence(1, size-7) would
    // DESCEND to [1, 0] and the i = 0 window would fail the whole job
    // in slice, where DuckDB's generate_series is empty); unique tails
    // that must not surface (singletons are pruned by minDocs).
    val bp = "this span is a shared license header boilerplate"
    val df = Seq(
      (1L, s"$bp alpha beta gamma"),
      (2L, s"prefix words here $bp"),
      (3L, s"$bp $bp"),
      (4L, "one two three four five six seven")
    ).toDF("doc_id", "text")
    val out = Dedup.dupNgrams(df, "doc_id", "text")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // the planted span is found across all three docs; doc 3's repeat
    // raises n_occ, not n_docs
    assert(out(bp) === ((3L, 4L)))
    // every emitted ngram crosses >=2 distinct docs — no singleton tail
    assert(out.values.forall(_._1 >= 2))
    // the 7-word doc contributed nothing: no emitted ngram contains its
    // unique words
    assert(!out.keys.exists(_.contains("seven")))
    // a doc of EXACTLY n words emits its single full-width window
    val pair = Seq((1L, "a b c d e f g h"), (2L, "a b c d e f g h x"))
      .toDF("doc_id", "text")
    val single = Dedup.dupNgrams(pair, "doc_id", "text").collect()
    assert(single.map(_.getString(0)).toSet === Set("a b c d e f g h"))
  }

  test("exactSubstrRemoval excises planted boilerplate, merges overlaps, keeps emptied docs") {
    import spark.implicits._
    val bp = "this span is a shared license header boilerplate"   // 8 words
    val df = Seq(
      // the span mid-document: surrounding words survive, span excised
      (1L, s"alpha beta $bp gamma delta"),
      // the span at the head: only the bp window itself is duplicated
      // (its doc-local extensions are singletons), so exactly 8 words go
      (2L, s"$bp extra tail words"),
      // a doc that IS the duplicated span twice: the two occurrences'
      // covered ranges (1..8 and 9..16) are ADJACENT and union into one
      // full-width hole — the overlap/adjacency merge case — leaving the
      // row fully emptied, but it must survive with text "" and n_kept 0
      (3L, s"$bp $bp"),
      // a short doc sharing no 8-gram: untouched byte-for-byte
      (4L, "one two three four five six seven")
    ).toDF("doc_id", "text")
    val out = graft.operators.Dedup.exactSubstrRemoval(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L)._1 === "alpha beta gamma delta")
    assert(out(1L)._2 === 12L && out(1L)._3 === 4L)
    assert(out(2L) === (("extra tail words", 11L, 3L)))
    // doc 3: every position covered by the two adjacent duplicated
    // windows — merged into one full-width hole; ships empty, not dropped
    assert(out(3L) === (("", 16L, 0L)))
    // doc 4: no duplicated window touches it
    assert(out(4L) === (("one two three four five six seven", 7L, 7L)))
    // corpus audit identity: Σ removed == Σ (n_words − n_kept)
    val removed = out.values.map(v => v._2 - v._3).sum
    assert(removed === 8L + 8L + 16L + 0L)
  }

  test("exactSubstrRemoval excises ARBITRARY-length duplicated spans (window union)") {
    import spark.implicits._
    // a 12-word span shared verbatim by two docs: its five overlapping
    // 8-windows are each duplicated, and their covered-position union is
    // the WHOLE 12-word span — fixed-width windows give arbitrary-length
    // ExactSubstr for any span >= n, which is the Lee et al. 2022
    // threshold semantics without a suffix array
    val span = "one two three four five six seven eight nine ten eleven twelve"
    val df = Seq(
      (1L, s"head words $span tail"),
      (2L, s"$span other trailing material here"),
      (3L, "an unrelated document with no shared span at all")
    ).toDF("doc_id", "text")
    val out = graft.operators.Dedup.exactSubstrRemoval(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) === (("head words tail", 15L, 3L)))
    assert(out(2L) === (("other trailing material here", 16L, 4L)))
    assert(out(3L)._1 === "an unrelated document with no shared span at all")
  }

  test("selfSubstrRemoval collapses intra-doc loops, keeps the first span intact") {
    import spark.implicits._
    val df = Seq(
      // a 2-gram loop: "a b" and "b a" both repeat; later spans cover
      // 3..8 but the FIRST "b a" occurrence (positions 2..3) protects
      // position 3 → kept "a b a" — the subtraction rule verbatim
      (1L, "a b a b a b a b"),
      // the knife-edge overlap from the scaladoc: "a a a a a" at n=2 —
      // later starts 2..4 cover 2..5, but position 2 belongs to the
      // FIRST occurrence and must survive → "a a"
      (2L, "a a a a a"),
      // repeated 2-gram with material between: only the second "x y"
      // goes; the interleaved words survive
      (3L, "x y p q x y r"),
      // no intra-doc repeat → byte-identical (cross-doc duplication with
      // doc 5 must NOT trigger the intra-doc rule)
      (4L, "c d e f g"),
      (5L, "c d e f g")
    ).toDF("doc_id", "text")
    val out = graft.operators.Dedup.selfSubstrRemoval(df, "doc_id", "text", n = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) === (("a b a", 8L, 3L)))
    assert(out(2L) === (("a a", 5L, 2L)))
    assert(out(3L) === (("x y p q r", 7L, 5L)))
    assert(out(4L) === (("c d e f g", 5L, 5L)))
    assert(out(5L) === (("c d e f g", 5L, 5L)))
  }

  test("lsh near-dup pairs recover planted near-dups exactly (vs blocked exact)") {
    // Plant 10 near-copies (small additive shift → cos ≈ 0.999). At the
    // defaults (16 tables × 12 bits) the per-pair miss probability is
    // ~1e-6 and the hyperplanes are seed-deterministic, so exact equality
    // is a stable assertion, while random background pairs (cos ≪ 0.95)
    // are pruned before the verify join.
    val planted = embeddings.limit(10).select(
      (col("vec_id") + 1000000L).as("vec_id"),
      transform(col("embedding"), x => x + lit(0.01f)).as("embedding"))
    val withPlanted = embeddings.select("vec_id", "embedding").unionAll(planted)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = key(Similarity.cosineNearDupPairs(
      withPlanted, "vec_id", "embedding", 0.95))
    val lsh = key(Similarity.lshNearDupPairs(
      withPlanted, "vec_id", "embedding", 0.95, dim = 64))
    assert(exact.size >= 10)
    assert(lsh === exact)
  }

  test("semdedup recovers planted near-dups and stays a subset of exact pairs") {
    // Same planting as the LSH test: a +0.01 shift keeps cos ≈ 0.999, so
    // the copy's nearest centroid is its original's (squared-L2 to every
    // centroid differs by O(shift)) — planted pairs can only land in the
    // same cell, making full planted recovery a stable assertion even
    // though background-pair recall is configuration-dependent.
    val planted = embeddings.limit(10).select(
      (col("vec_id") + 1000000L).as("vec_id"),
      transform(col("embedding"), x => x + lit(0.01f)).as("embedding"))
    val withPlanted = embeddings.select("vec_id", "embedding").unionAll(planted)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = key(Similarity.cosineNearDupPairs(
      withPlanted, "vec_id", "embedding", 0.95))
    val sem = key(Similarity.semDedupPairs(
      withPlanted, "vec_id", "embedding", 0.95, nlist = 8))
    val want = embeddings.limit(10).select("vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(0) + 1000000L)).toSet
    assert(want.subsetOf(sem), "planted near-dup split across cells")
    assert(sem.subsetOf(exact), "semdedup emitted a sub-threshold pair")
  }

  test("simhash: identical texts collide, near-dup text is close, random is far") {
    import spark.implicits._
    val a = "the quick brown fox jumps over the lazy dog again and again today"
    val aNear = "the quick brown fox jumps over the lazy dog again and again tomorrow"
    val b = "completely unrelated content about database engines and query planners"
    val fp = Seq(a, a, aNear, b).toDF("text")
      .select(Dedup.simhash64(split(col("text"), " ")).as("fp"))
      .collect().map(_.getLong(0))
    def ham(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    assert(ham(fp(0), fp(1)) === 0)
    assert(ham(fp(0), fp(2)) < ham(fp(0), fp(3)))
  }

  test("simhash near-dup contains every exact duplicate pair") {
    // sf0.001 has no exact-dup texts — plant them: copy 5 docs under
    // shifted ids and require every (orig, copy) pair to be recovered
    // (hamming 0 always shares all four 16-bit chunks).
    val planted = docs.limit(5)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    val withDups = docs.select("doc_id", "text").unionAll(planted)
    val want = docs.limit(5).select("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(0) + 1000000L)).toSet
    val sim = Dedup.simhashNearDups(withDups, "doc_id", "text", maxHamming = 0)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(want.subsetOf(sim))
  }

  test("multimodal features: deterministic, partition-independent, checksum-correct") {
    val f1 = MultiModal.features(spark, docs).collect().map(f => f.docId -> f).toMap
    val f2 = MultiModal.features(spark, docs.repartition(7)).collect()
      .map(f => f.docId -> f).toMap
    assert(f1.keySet === f2.keySet)
    f1.foreach { case (id, f) => assert(f === f2(id)) }
    // driver-side recomputation of one checksum
    val sample = docs.select("doc_id", "text").head()
    val bytes = sample.getString(1).getBytes("UTF-8")
    var cs = 0L
    bytes.foreach(b => cs = cs * 131 + (b & 0xffL))
    assert(f1(sample.getLong(0)).checksum === cs)
    assert(f1(sample.getLong(0)).nBytes === bytes.length)
  }

  test("deterministic sampling: partition-complete splits, stable samples, epoch permutations") {
    import graft.operators.Sampling
    val n = docs.count()
    // split is a partition: every row gets exactly one non-null label
    val labeled = docs.select(col("doc_id"),
      Sampling.splitLabel(col("doc_id"),
        Seq("train" -> 0.75, "valid" -> 0.125, "test" -> 0.125)).as("s"))
    assert(labeled.filter(col("s").isNull).count() === 0)
    assert(labeled.count() === n)
    val byLabel = labeled.groupBy("s").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byLabel.keySet === Set("train", "valid", "test"))
    assert(byLabel("train") > byLabel("valid")) // 6x expected ratio, loose check
    // hashSample is idempotent and partitioning-independent
    val s1 = Sampling.hashSample(docs, "doc_id", 0.25)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val s2 = Sampling.hashSample(docs.repartition(7), "doc_id", 0.25)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(s1 === s2 && s1.nonEmpty && s1.size < n)
    // samplePred applied on another side of a plan selects exactly the
    // hashSample keep-set (the one-definition contract its scaladoc pins)
    val sp = docs.filter(Sampling.samplePred(0.25)(col("doc_id")))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(sp === s1)
    // different seeds give (near-)independent samples
    val s3 = Sampling.hashSample(docs, "doc_id", 0.25, seed = 99)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(s3 !== s1)
    // epoch shuffle: same multiset, reproducible order, epochs differ
    def order(epoch: Int) = Sampling.epochShuffle(docs.select("doc_id"), "doc_id", epoch)
      .collect().map(_.getLong(0)).toSeq
    val e1 = order(1)
    assert(e1.sorted === docs.select("doc_id").collect().map(_.getLong(0)).toSeq.sorted)
    assert(e1 === order(1))
    assert(e1 !== order(2))
  }

  test("sqrtTemperatureSample interpolates between keep-all and equalize") {
    import graft.operators.Sampling
    val n = docs.count()
    val temp = Sampling.sqrtTemperatureSample(docs, "lang", "doc_id")
    val bal = Sampling.balancedSample(docs, "lang", "doc_id")
    // α = 1/2 sits strictly between α = 0 (equalize) and α = 1
    // (keep-all) in total kept rows on any multi-stratum corpus
    val (tn, bn) = (temp.count(), bal.count())
    assert(bn < tn && tn < n, s"equalize $bn < temp $tn < all $n must hold")
    // the α = 1/2 composition law: every stratum's EXPECTED keep-rate is
    // √(n_min/n_i), so larger strata keep a smaller FRACTION but still
    // more ROWS than the smallest stratum keeps (soft, not hard,
    // re-balancing) — checked against the exact counting rule rather
    // than expectation: kept_i = |{k in stratum i : bucket(k)²·n_i <
    // n_min·2^64}| is deterministic
    val cnts = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = temp.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val minc = cnts.values.min
    for ((lang, ni) <- cnts; ki <- kept.get(lang)) {
      val expRate = math.sqrt(minc.toDouble / ni)
      // keyed Bernoulli at n≈hundreds per stratum: loose 3σ-ish band
      val sd = math.sqrt(ni * expRate * (1 - expRate))
      assert(math.abs(ki - ni * expRate) <= 3 * sd + 2,
        s"$lang: kept $ki of $ni, expected ≈ ${ni * expRate}")
    }
    // deterministic and partitioning-independent, like every sampler here
    val t2 = Sampling.sqrtTemperatureSample(docs.repartition(7), "lang", "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(t2 === temp.select("doc_id").collect().map(_.getLong(0)).toSet)
  }

  test("termDrift: zero on identical snapshots, nonnegative psi, joint vocabulary") {
    import graft.operators.Drift
    // identical snapshots: p == q for every term → integer drift 0 and
    // psi exactly 0.0 (no rounding residue — the numerators are equal)
    val self = Drift.termDrift(docs, docs, "text")
    assert(self.filter(col("drift") =!= 0 || col("psi6") =!= 0.0).count() === 0)
    val a = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
    val b = docs.filter(pmod(col("doc_id"), lit(2)) === 1)
    val dd = Drift.termDrift(a, b, "text").cache()
    // each PSI term (p−q)·ln(p/q) is nonnegative by construction — a
    // negative value means the two factors' signs disagreed, i.e. the
    // arithmetic drifted from the definition
    assert(dd.filter(col("psi6") < 0).count() === 0)
    // the row set IS the joint vocabulary — absent-in-one terms survive
    // the full-outer join with count 0 (that is what the smoothing is for)
    def vocab(df: org.apache.spark.sql.DataFrame) = df
      .select(explode(TextFunctions.tokens(col("text"))).as("t")).distinct()
    assert(dd.count() ===
      vocab(a).unionAll(vocab(b)).distinct().count())
    assert(dd.filter(col("drift") > 0).count() > 0)
    // dense side: identical snapshots shift exactly 0.0 in every
    // dimension (decimal sums equal, the rounded difference is exact 0),
    // and the row set covers every dimension once
    val ed = Drift.embedDrift(embeddings, embeddings, "embedding")
    assert(ed.count() === 64 && ed.filter(col("shift6") =!= 0.0).count() === 0)
    // a dimension present in only ONE snapshot (encoder width change)
    // surfaces as a zero-count row with a NULL shift — never vanishes
    import spark.implicits._
    val wide = Seq((1L, Seq(1.0, 2.0, 3.0))).toDF("vec_id", "embedding")
    val narrow = Seq((2L, Seq(1.0, 2.0))).toDF("vec_id", "embedding")
    val wd = Drift.embedDrift(wide, narrow, "embedding").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(wd.keySet === Set(1L, 2L, 3L) && wd(3L) === ((1L, 0L)))
    assert(Drift.embedDrift(wide, narrow, "embedding")
      .filter(col("dim") === 3 && col("shift6").isNull).count() === 1)
  }

  test("quality-argmax survivors: one best copy per cluster, singletons untouched") {
    import graft.operators.Components
    val kept = SparkEntry.queries("q_best_survivors")(spark, sf)
      .collect().map(_.getLong(0)).toSet
    val pairs = Dedup.nearDupPairs(docs, "doc_id", "text", threshold = 0.8)
    val comp = Components.connectedComponents(pairs, "a_id", "b_id")
      .select(col("id").as("doc_id"), col("comp"))
      .join(docs.select(col("doc_id"),
        TextFunctions.qualityScore(col("text")).as("q")), "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val clustered = comp.map(_._1).toSet
    // exactly one survivor per cluster, and it carries the cluster max
    // quality (tie-break by doc_id makes it unique)
    comp.groupBy(_._2).foreach { case (_, ms) =>
      val survivors = ms.filter(m => kept.contains(m._1))
      assert(survivors.length === 1)
      assert(survivors.head._3 === ms.map(_._3).max)
    }
    // docs outside the dup graph all survive
    val all = docs.select("doc_id").collect().map(_.getLong(0)).toSet
    assert((all -- clustered).subsetOf(kept))
  }

  test("incremental dedup == full-corpus dedup restricted to batch-touching pairs") {
    import spark.implicits._
    val old = docs.filter(pmod(col("doc_id"), lit(11)) =!= 0)
    val batch = docs.filter(pmod(col("doc_id"), lit(11)) === 0)
    val incr = Dedup.incrementalNearDupPairs(
        Dedup.bandRows(old, "doc_id", "text"), batch, "doc_id", "text",
        docs, threshold = 0.8)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = Dedup.nearDupPairs(docs, "doc_id", "text", threshold = 0.8)
      .filter(col("a_id") % 11 === 0 || col("b_id") % 11 === 0)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(incr.nonEmpty && incr === full)
    // upsertBandRows: a re-crawled doc's stale bands are REPLACED — the
    // state equals bands(old docs unchanged) ∪ bands(new text)
    val changed = batch.limit(1)
      .select(col("doc_id"), lit("completely new text of the recrawl").as("text"))
    val state0 = Dedup.bandRows(docs, "doc_id", "text")
    val state1 = Dedup.upsertBandRows(state0, changed, "doc_id", "text")
    val cid = changed.collect()(0).getLong(0)
    val gotBands = state1.filter(col("id") === cid)
      .collect().map(_.getLong(1)).sorted.toSeq
    val wantBands = Dedup.bandRows(changed, "doc_id", "text")
      .collect().map(_.getLong(1)).sorted.toSeq
    assert(gotBands === wantBands)
    assert(state1.count() === state0.count())
  }

  test("tokenBudgetSample: exact prefix rule, monotone budgets, unlisted strata drop") {
    import graft.operators.Sampling
    val t = docs.select(col("doc_id"), col("lang"),
      size(TextFunctions.tokens(col("text"))).as("n_tok")).cache()
    // budget = each stratum's full total → keep-all (boundary inclusive)
    val totals = t.groupBy("lang").agg(sum("n_tok").as("budget"))
    assert(Sampling.tokenBudgetSample(t, "lang", "doc_id", "n_tok", totals)
      .count() === t.count())
    // half budgets: a strict subset, and EXACTLY the hash-order prefix
    // under the inclusive running-sum rule (replicated driver-side)
    val halves = t.groupBy("lang").agg(expr("sum(n_tok) div 2").as("budget"))
    val keptIds = Sampling.tokenBudgetSample(t, "lang", "doc_id", "n_tok", halves)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptIds.nonEmpty && keptIds.size < t.count())
    val rows = t.collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    val budg = halves.collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val expect = rows.groupBy(_._2).flatMap { case (lang, rs) =>
      var cum = 0L
      rs.sortBy { case (id, _, _) => ((id * 2654435761L) % 4294967296L, id) }
        .iterator
        .takeWhile { case (_, _, n) => cum += n; cum <= budg(lang) }
        .map(_._1)
    }.toSet
    assert(keptIds === expect)
    // a smaller budget keeps a PREFIX of the larger budget's keep-set
    val quarterIds = Sampling.tokenBudgetSample(t, "lang", "doc_id", "n_tok",
        t.groupBy("lang").agg(expr("sum(n_tok) div 4").as("budget")))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(quarterIds.subsetOf(keptIds))
    // a stratum absent from the budget frame has budget zero: dropped
    val noEn = Sampling.tokenBudgetSample(t, "lang", "doc_id", "n_tok",
      halves.filter(col("lang") =!= "en"))
    assert(noEn.filter(col("lang") === "en").count() === 0)
    assert(noEn.count() > 0)
    // a duplicated stratum row is a malformed spec — loud, never a
    // silently double-counted running sum
    val err = intercept[IllegalArgumentException] {
      Sampling.tokenBudgetSample(t, "lang", "doc_id", "n_tok",
        halves.unionAll(halves))
    }
    assert(err.getMessage.contains("more than once"))
  }

  test("clusterSafeSplit: clusters move whole; singletons match splitLabel") {
    import graft.operators.Sampling
    import spark.implicits._
    val fr = Seq("train" -> 0.5, "test" -> 0.5)
    val ds = (1L to 10L).toDF("id")
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("a", "b")
    val out = Sampling.clusterSafeSplit(ds, "id", pairs, "a", "b", fr)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    // transitive closure: {1,2,3} one cluster even though (1,3) is no pair
    assert(Set(1L, 2L, 3L).map(out(_)._1) === Set(1L))
    assert(Set(7L, 8L).map(out(_)._1) === Set(7L))
    Seq(4L, 5L, 6L, 9L, 10L).foreach(i => assert(out(i)._1 === i))
    assert(Set(1L, 2L, 3L).map(out(_)._2).size === 1)
    assert(out(7L)._2 === out(8L)._2)
    // docs outside the dup graph label exactly like the doc-keyed split
    val naive = ds.select(col("id"),
        Sampling.splitLabel(col("id"), fr).as("s"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    Seq(4L, 5L, 6L, 9L, 10L).foreach(i => assert(out(i)._2 === naive(i)))
    // the contract on the real corpus: NO near-dup pair straddles splits
    val p = Dedup.nearDupPairs(docs, "doc_id", "text", threshold = 0.8)
    val lbl = Sampling.clusterSafeSplit(docs.select("doc_id"), "doc_id", p,
        "a_id", "b_id",
        Seq("train" -> 0.75, "valid" -> 0.125, "test" -> 0.125))
      .select(col("doc_id"), col("split"))
    val straddle = p
      .join(lbl.toDF("a_id", "sa"), "a_id")
      .join(lbl.toDF("b_id", "sb"), "b_id")
      .filter(col("sa") =!= col("sb")).count()
    assert(p.count() > 0 && straddle === 0L)
  }

  test("stratumQuantileGate keeps floor(cnt·num/den) best rows per stratum") {
    import graft.operators.Sampling
    val scored = docs.select(col("doc_id"), col("lang"),
      TextFunctions.qualityScore(col("text")).as("q")).cache()
    val kept = Sampling.stratumQuantileGate(scored, "lang", 3, 5,
      col("q").desc, col("doc_id")).cache()
    val cnts = scored.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val keptCnt = kept.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    for ((lang, n) <- cnts)
      assert(keptCnt.getOrElse(lang, 0L) === n * 3 / 5,
        s"$lang: expected floor(${n}·3/5)")
    // every kept row outranks (or round-6 ties) every dropped row in its
    // stratum — the gate is a true quantile cut, not a biased sample
    val dropped = scored.join(kept.select("doc_id"), Seq("doc_id"), "left_anti")
    val bad = kept.groupBy("lang").agg(min("q").as("wk"))
      .join(dropped.groupBy("lang").agg(max("q").as("bd")), "lang")
      .filter(col("wk") < col("bd")).count()
    assert(bad === 0L)
    // num == den keeps everything; out-of-range fractions fail loudly
    assert(Sampling.stratumQuantileGate(scored, "lang", 1, 1, col("doc_id"))
      .count() === scored.count())
    intercept[IllegalArgumentException](
      Sampling.stratumQuantileGate(scored, "lang", 0, 5, col("doc_id")))
    intercept[IllegalArgumentException](
      Sampling.stratumQuantileGate(scored, "lang", 6, 5, col("doc_id")))
  }

  test("bucketOf: seeds are independent hash functions, ANSI-safe at any key") {
    import graft.operators.Sampling
    import spark.implicits._
    val M = 4294967296L
    val keys = (0L until 200L).toDF("k")
    def buckets(seed: Long): Seq[Long] = keys
      .select(Sampling.bucketOf(col("k"), seed).as("b"))
      .collect().map(_.getLong(0)).toSeq
    val b0 = buckets(0L)
    // seed 0 is the canonical Knuth hash, value-identical to the oracle
    // SQL's (k * 2654435761) % 2^32
    assert(b0.zipWithIndex.forall { case (b, k) =>
      b == java.lang.Math.floorMod(k * 2654435761L, M) })
    // non-affine seed mixing: under the old (key+seed)*A form every
    // seed's buckets were a CONSTANT shift of seed 0's (epoch shuffles
    // were rotations of each other) — the per-key differences must now
    // take many values, not one
    val diffs = buckets(1L).zip(b0)
      .map { case (b1, b) => java.lang.Math.floorMod(b1 - b, M) }.distinct
    assert(diffs.size > 100, s"seed mixing still affine: ${diffs.size} distinct shifts")
    // ANSI-safe for keys beyond 2^63/a ~ 3.5e9: the old single multiply
    // threw ARITHMETIC_OVERFLOW here
    val big = Seq(9000000000L).toDF("k")
      .select(Sampling.bucketOf(col("k")).as("b")).head.getLong(0)
    assert(big === 4051499520L) // (9e9 * A) mod 2^32, computed externally
  }

  test("mixedMultiplier: splitmix finalizer yields non-degenerate, distinct multipliers") {
    import graft.operators.Sampling
    // the single-LCG-step form had no avalanche in its high word, so an
    // unlucky seed could yield a near-zero multiplier whose 'shuffle' is
    // nearly key-ordered; the splitmix64 finalizer avalanches every bit
    val ms = (1L to 5000L).map(Sampling.mixedMultiplier)
    assert(ms.forall(m => (m & 1L) == 1L), "multipliers must be odd")
    assert(ms.forall(m => m > 0L && m < 4294967296L), "multipliers must be 32-bit")
    // no tiny (degenerate) multipliers: P(m < 2^16) ≈ 5000·2^-16 ≈ 0.08
    // for ONE draw — across the full avalanche, none should land there
    assert(!ms.exists(_ < 65536L), "degenerate near-zero multiplier")
    // effectively injective over small sequential epochs
    assert(ms.distinct.size == ms.size, "multiplier collision in epoch range")
  }

  test("splitLabel: non-binary-exact fractions still partition (no null label)") {
    import graft.operators.Sampling
    import spark.implicits._
    // 0.7+0.2+0.1 sums to 0.999…89 in double; key 4050964655 hashes to
    // bucket 2^32-1 (computed via the multiplier's modular inverse),
    // which fell into NO half-open range before the last cut was pinned
    val df = Seq(4050964655L, 1L, 2L).toDF("k")
      .select(col("k"), Sampling.splitLabel(col("k"),
        Seq("train" -> 0.7, "valid" -> 0.2, "test" -> 0.1)).as("s"))
    assert(df.filter(col("s").isNull).count() === 0)
    assert(df.filter(col("k") === 4050964655L).head.getString(1) === "test")
    // the pin absorbs float shortfall ONLY: a genuinely partial
    // fraction list must be rejected, not silently relabeled
    val e = intercept[IllegalArgumentException] {
      Sampling.splitLabel(col("k"), Seq("a" -> 0.25, "b" -> 0.25))
    }
    assert(e.getMessage.contains("partition"), e.getMessage)
  }

  test("exact dedup partitions the table: sum(n_copies) == row count") {
    val dd = SparkEntry.queries("q_dedup_exact")(spark, sf)
    assert(dd.agg(sum("n_copies")).head.getLong(0) === docs.count())
  }

  test("text functions: bounded quality, known langs, stable fingerprint") {
    val t = docs.select(
      TextFunctions.qualityScore(col("text")).as("q"),
      TextFunctions.langId(col("text")).as("l"),
      TextFunctions.tokenCount(col("text")).as("bpe"),
      size(TextFunctions.tokens(col("text"))).as("ws"))
    assert(t.filter(col("q") < 0 || col("q") > 1).count() === 0)
    val langs = t.select("l").distinct().collect().map(_.getString(0)).toSet
    assert(langs.subsetOf(Set("en", "de", "es", "fr", "zh", "und")))
    // BPE-ish tokenization splits punctuation off words → never fewer
    // tokens than the whitespace count
    assert(t.filter(col("bpe") < col("ws")).count() === 0)
    val fp1 = SparkEntry.queries("q_fingerprint")(spark, sf).collect().toSeq.map(_.toString)
    val fp2 = SparkEntry.queries("q_fingerprint")(spark, sf).collect().toSeq.map(_.toString)
    assert(fp1 === fp2)
  }

  test("fingerprint folds codepoints, not UTF-16 units (supplementary plane)") {
    import spark.implicits._
    // 🎉 (U+1F389) is one codepoint but two UTF-16 chars; a charAt fold
    // would hash the surrogate pair as two bogus values
    val s = "a🎉b"
    def cpFold(t: String): Long = {
      var acc = 0L
      t.codePoints().forEach(cp => acc = (acc * 131 + cp) % 1000000007L)
      acc
    }
    val got = Seq(s).toDF("text")
      .select(TextFunctions.fingerprint(col("text"))).head.getLong(0)
    assert(got === cpFold(s))
  }

  test("product quantization: self-retrieval and planted near-dup recovery") {
    // The meaningful PQ property at 8-byte codes is the same one the LSH
    // test uses: a REAL near-neighbor (cos ≈ 0.999, far above the ~0.5
    // random background) survives quantization. Recall of the hairline
    // exact top-5 among uniform random vectors does NOT survive 32×
    // compression — that regime needs finer codes or an exact re-rank,
    // which is why pqSearch is positioned as a candidate generator.
    val planted = embeddings.limit(10).select(
      (col("vec_id") + 1000000L).as("vec_id"),
      transform(col("embedding"), x => x + lit(0.01f)).as("embedding"))
    val withPlanted = embeddings.select("vec_id", "embedding").unionAll(planted)
      .cache()
    val model = Similarity.pqTrain(withPlanted, "vec_id", "embedding",
      m = 8, codes = 16)
    assert(model.codebooks.length === 8 &&
      model.codebooks.forall(_.forall(_.length === 8)))
    val encoded = Similarity.pqEncode(withPlanted, "vec_id", "embedding", model)
      .cache()
    assert(encoded.count() === withPlanted.count())
    // query batch = the 10 planted near-copies, passed as a DataFrame
    // (the search runs with zero driver-side query state)
    val got = Similarity
      .pqSearch(encoded, model, planted, "vec_id", "embedding", k = 10)
      .collect().groupBy(_.getLong(0))
      .map { case (q, rows) => q -> rows.sortBy(_.getLong(1)).map(_.getLong(2)).toSeq }
    val qids = planted.select("vec_id").collect().map(_.getLong(0))
    qids.foreach { qid =>
      // self-retrieval: own code distance = quantization error → top-10
      assert(got(qid).contains(qid), s"query $qid lost itself: ${got(qid)}")
      // planted recovery: the original (cos ≈ 0.999) must be in the
      // 10-deep candidate list — this is the dedup/ANN use case
      assert(got(qid).contains(qid - 1000000L),
        s"query $qid missed its planted original: ${got(qid)}")
    }
    // ragged query dims fail loudly (no silent clamping): a 32-dim
    // query against the 64-dim index must throw, not return garbage
    import spark.implicits._
    val ragged = Seq((999L, Seq.fill(32)(0.5))).toDF("vec_id", "embedding")
    val ex = intercept[Exception] {
      Similarity.pqSearch(encoded, model, ragged, "vec_id", "embedding", k = 5)
        .collect()
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ chain(t.getCause)
    assert(chain(ex).exists(_.contains("dims")),
      s"expected a dims-mismatch failure, got: ${chain(ex).mkString(" | ")}")
    encoded.unpersist(blocking = false)
    withPlanted.unpersist(blocking = false)
  }

  test("ivf-pq: planted near-dup recovery through cell routing + code quantization") {
    // Composition property: a planted near-copy (cos ≈ 0.999) must
    // survive BOTH approximations — its query must probe the cell its
    // original landed in (a 0.01-shifted vector maps to the same or an
    // adjacent cell, covered by nprobe=8 of nlist=8 = all cells here;
    // the interesting failure mode is the code mismatch) AND the ADC
    // scan must rank the original into the 10-deep candidate list.
    val planted = embeddings.limit(10).select(
      (col("vec_id") + 1000000L).as("vec_id"),
      transform(col("embedding"), x => x + lit(0.01f)).as("embedding"))
    val withPlanted = embeddings.select("vec_id", "embedding").unionAll(planted)
      .cache()
    val got = Similarity.ivfPqSearch(withPlanted, "vec_id", "embedding",
        planted, "vec_id", "embedding",
        k = 10, nlist = 8, nprobe = 8, m = 8, codes = 16)
      .collect().groupBy(_.getLong(0))
      .map { case (q, rows) => q -> rows.sortBy(_.getLong(1)).map(_.getLong(2)).toSeq }
    val qids = planted.select("vec_id").collect().map(_.getLong(0))
    qids.foreach { qid =>
      assert(got(qid).contains(qid), s"query $qid lost itself: ${got(qid)}")
      assert(got(qid).contains(qid - 1000000L),
        s"query $qid missed its planted original: ${got(qid)}")
    }
    withPlanted.unpersist(blocking = false)
  }
}
