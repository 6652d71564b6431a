package graft

import graft.operators.{AsOfJoin, Components, Dedup, Graph, KMeans, Sampling, Similarity}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Contract sweep over the custom operator library on DEGENERATE
  * inputs — empty corpora, empty edge sets, single rows. At 100 TB an
  * empty join side or an empty partition of a new tenant's data is an
  * ordinary Tuesday, and the oracle corpus (driver-generated tables,
  * never empty) exercises none of these paths. The contract asserted
  * here: SEARCH/DEDUP/SAMPLING operators are total — empty in, empty
  * out; TRAINING operators (which must learn state from data) fail
  * loudly with a pointed message, never an unexplained arithmetic or
  * out-of-bounds error.
  */
class DegenerateInputsSpec extends SparkSpec {

  private def emptyEmb: DataFrame = {
    import spark.implicits._
    Seq.empty[(Long, Seq[Double])].toDF("vec_id", "embedding")
  }
  private def oneEmb: DataFrame = {
    import spark.implicits._
    Seq((1L, Seq.fill(8)(0.5))).toDF("vec_id", "embedding")
  }
  private def emptyDocs: DataFrame = {
    import spark.implicits._
    Seq.empty[(Long, String)].toDF("doc_id", "text")
  }

  /** Messages of `e` and its causes, joined. */
  private def causes(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString("; ")

  test("search/pair operators: empty corpus in, empty result out") {
    assert(Similarity.bruteForceTopK(emptyEmb, "vec_id", "embedding", k = 3)
      .count() === 0)
    assert(Similarity.lshTopK(emptyEmb, "vec_id", "embedding", k = 3, dim = 8)
      .count() === 0)
    assert(Similarity.cosineNearDupPairs(emptyEmb, "vec_id", "embedding", 0.9)
      .count() === 0)
    assert(Similarity.bruteForceTopKFor(emptyEmb, oneEmb,
      "vec_id", "embedding", k = 3).count() === 0)
    assert(Dedup.nearDupPairs(emptyDocs, "doc_id", "text").count() === 0)
    assert(Dedup.lshCandidates(emptyDocs, "doc_id", "text").count() === 0)
  }

  test("retrieval: empty corpora and empty probe sets pass through, upsert is identity") {
    import spark.implicits._
    val Retrieval = graft.operators.Retrieval
    // empty corpus: no postings, no scores, no search hits — never a
    // division error from avgdl's n=0 (the expression only evaluates on
    // posting rows, of which there are none)
    assert(Retrieval.bm25(emptyDocs).count() === 0)
    val someQ = Seq((1L, "x")).toDF("q_id", "term")
    assert(Retrieval.bm25Search(emptyDocs, someQ, k = 3).count() === 0)
    // empty probe set over a real corpus: no hits
    val docs = Seq((0L, "x y"), (1L, "x z")).toDF("doc_id", "text")
    val noQ = Seq.empty[(Long, String)].toDF("q_id", "term")
    assert(Retrieval.bm25Search(docs, noQ, k = 3).count() === 0)
    assert(Retrieval.probeTerms(docs, Seq.empty[Long].toDF("q_id")).count() === 0)
    // upserting an empty changed set is the identity on the statistic
    val tf = Retrieval.termFreq(docs)
    val merged = Retrieval.upsertTermFreq(tf, emptyDocs)
    assert(merged.collect().map(_.toString).sorted.toSeq ===
      tf.collect().map(_.toString).sorted.toSeq)
  }

  test("span removal and decontamination are total on degenerate inputs") {
    import spark.implicits._
    val Retrieval = graft.operators.Retrieval
    // empty corpus: both removals emit zero rows, never an error from
    // the ngram windowing or the reassembly aggregation
    assert(Dedup.exactSubstrRemoval(emptyDocs, "doc_id", "text").count() === 0)
    assert(Dedup.selfSubstrRemoval(emptyDocs, "doc_id", "text").count() === 0)
    // single doc: no cross-doc duplicate can exist — byte-identical out
    val one = Seq((7L, "a b c d e f g h i")).toDF("doc_id", "text")
    val kept = Dedup.exactSubstrRemoval(one, "doc_id", "text").collect()
    assert(kept.length === 1 && kept(0).getString(1) === "a b c d e f g h i"
      && kept(0).getLong(2) === 9L && kept(0).getLong(3) === 9L)
    // docs shorter than the window contribute no windows and survive
    val shorty = Seq((1L, "a b"), (2L, "a b")).toDF("doc_id", "text")
    assert(Dedup.exactSubstrRemoval(shorty, "doc_id", "text")
      .filter(col("text") === "a b").count() === 2)
    // empty eval-phrase set: decontamination is the identity
    val docs = Seq((0L, "x y z"), (1L, "p q r")).toDF("doc_id", "text")
    val noPhrase = Seq.empty[(Long, String, Int)].toDF("q_id", "term", "off")
    assert(Retrieval.decontaminate(docs, noPhrase, phraseLen = 3)
      .count() === 2)
    // empty corpus through decontamination: empty out
    assert(Retrieval.decontaminate(emptyDocs, noPhrase, phraseLen = 3)
      .count() === 0)
  }

  test("streaming dedup: empty input passes through on the batch branch") {
    import spark.implicits._
    val empty = Seq.empty[(java.sql.Timestamp, Long, String, Double)]
      .toDF("ts", "user_id", "event_type", "value")
    assert(graft.streaming.Streams.dedupEvents(empty).count() === 0)
  }

  test("a single-row corpus yields no pairs and no neighbors") {
    assert(Similarity.bruteForceTopK(oneEmb, "vec_id", "embedding", k = 3)
      .count() === 0)
    assert(Similarity.lshTopK(oneEmb, "vec_id", "embedding", k = 3, dim = 8)
      .count() === 0)
    assert(Similarity.cosineNearDupPairs(oneEmb, "vec_id", "embedding", 0.0)
      .count() === 0)
  }

  test("clustering: empty edge set in, empty components out (both variants)") {
    import spark.implicits._
    val noEdges = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(Components.connectedComponents(noEdges, "a", "b").count() === 0)
    assert(Components.connectedComponentsStar(noEdges, "a", "b").count() === 0)
  }

  test("as-of join: an empty side yields no matches, not an error") {
    import spark.implicits._
    val left = Seq((1L, 10L)).toDF("id", "ts")
    val empty = Seq.empty[(Long, Long, Long, Double)]
      .toDF("id", "ts", "seq", "px")
    val one = Seq((1L, 5L, 1L, 2.5)).toDF("id", "ts", "seq", "px")
    // empty build side: every left row survives with a null payload
    val out = AsOfJoin.asOf(left, empty, "id", "ts", "seq", Seq("px"))
    assert(out.count() === 1 && out.filter(col("asof_px").isNull).count() === 1)
    // empty probe side: no output rows
    assert(AsOfJoin.asOf(left.limit(0), one, "id", "ts", "seq", Seq("px"))
      .count() === 0)
  }

  test("sampling: empty input passes through the keyed samplers") {
    val e = emptyDocs
    assert(Sampling.hashSample(e, "doc_id", 0.5).count() === 0)
    assert(Sampling.samplePerKey(e.withColumn("g", lit(1)), "g", "doc_id", 2)
      .count() === 0)
    assert(Sampling.withGlobalRank(e, "pos", col("doc_id")).count() === 0)
    // balancedSample and sqrtTemperatureSample LEARN stratum floors from
    // the data: empty input is a contract error, stated as such
    val err = intercept[IllegalArgumentException] {
      Sampling.balancedSample(e, "text", "doc_id")
    }
    assert(err.getMessage.contains("empty"))
    val err2 = intercept[IllegalArgumentException] {
      Sampling.sqrtTemperatureSample(e, "text", "doc_id")
    }
    assert(err2.getMessage.contains("empty"))
  }

  test("budget / quantile-gate / cluster-split operators are total on empty inputs") {
    import spark.implicits._
    val e = emptyDocs.withColumn("lang", lit("en")).withColumn("n_tok", lit(1))
    val b = Seq(("en", 100L)).toDF("lang", "budget")
    // empty corpus, real budgets → empty out (budgets are a SPEC, not
    // learned state — no stratum floor to fail on, unlike balancedSample)
    assert(Sampling.tokenBudgetSample(e, "lang", "doc_id", "n_tok", b)
      .count() === 0)
    // real corpus, EMPTY budget frame: every stratum is unlisted → empty
    val d = Seq((1L, "en", 3), (2L, "en", 4)).toDF("doc_id", "lang", "n_tok")
    assert(Sampling.tokenBudgetSample(d, "lang", "doc_id", "n_tok", b.limit(0))
      .count() === 0)
    // empty pair set: every doc is its own cluster, split = splitLabel
    val noPairs = Seq.empty[(Long, Long)].toDF("a", "b")
    val s = Sampling.clusterSafeSplit(d.select("doc_id"), "doc_id", noPairs,
      "a", "b", Seq("all" -> 1.0))
    assert(s.count() === 2 &&
      s.filter(col("cluster") === col("doc_id")).count() === 2)
    // empty input through the gate: empty out, no window error
    assert(Sampling.stratumQuantileGate(e, "lang", 1, 2, col("doc_id"))
      .count() === 0)
  }

  test("incremental upserts are total on empty batches and empty states") {
    import spark.implicits._
    val emb = (0L until 80L)
      .map(i => (i, Seq.fill(8)(((i * 31 + 7) % 97).toDouble / 97.0)))
      .toDF("vec_id", "embedding")
    val none = emb.limit(0)
    // empty batch: the merged index IS the old index, row for row
    val ivf = Similarity.ivfIndex(emb, "vec_id", "embedding", nlist = 4)
    assert(Similarity.ivfUpsert(ivf, none, "vec_id", "embedding")
      .assigned.count() === 80)
    val lsh = Similarity.lshIndex(emb, "vec_id", "embedding", dim = 8,
      tables = 2, bitsPerTable = 2)
    assert(Similarity.lshUpsert(lsh, none, "vec_id", "embedding")
      .banded.count() === lsh.banded.count())
    // empty band state: incremental dedup degrades to batch-internal
    // pairs only (nothing historical to match against), no join error
    val docs = Seq((1L, "a a a a"), (2L, "a a a a"), (3L, "b b b b"))
      .toDF("doc_id", "text")
    val emptyBands = Dedup.bandRows(docs.limit(0), "doc_id", "text")
    val pairs = Dedup.incrementalNearDupPairs(emptyBands, docs, "doc_id",
      "text", docs, threshold = 0.8)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSet === Set((1L, 2L)))
    // empty batch against a real state: no pairs, not an error
    assert(Dedup.incrementalNearDupPairs(
      Dedup.bandRows(docs, "doc_id", "text"), docs.limit(0), "doc_id",
      "text", docs, threshold = 0.8).count() === 0)
  }

  test("zero-norm vectors score 0.0, never NaN — and never outrank real neighbors") {
    // An all-zeros embedding is representable clean data. Unguarded,
    // 0/0 = NaN, and Spark's double ordering places NaN above every
    // value — the corrupt vector would become the rank-1 neighbor of
    // everything sharing its block/bucket.
    import spark.implicits._
    val emb = Seq(
      (1L, Seq(1.0, 0.0, 0.0, 0.0)),
      (2L, Seq(1.0, 0.0, 0.0, 0.0)),
      (3L, Seq(1.0, 0.0, 0.0, 0.0)),
      (4L, Seq(0.0, 0.0, 0.0, 0.0))).toDF("vec_id", "embedding")
    val top1 = Similarity.bruteForceTopK(emb, "vec_id", "embedding", k = 1)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getDouble(3))).toMap
    for (q <- Seq(1L, 2L, 3L)) {
      val (nid, sim) = top1(q)
      assert(!sim.isNaN && sim === 1.0 && nid != 4L,
        s"query $q picked $nid sim=$sim — zero vector must not outrank real neighbors")
    }
    val (_, zsim) = top1(4L)
    assert(zsim === 0.0, s"zero-norm query must score 0.0, got $zsim")
    // pair path: a positive threshold excludes the zero vector entirely
    val pairs = Similarity.cosineNearDupPairs(emb, "vec_id", "embedding", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSet === Set((1L, 2L), (1L, 3L), (2L, 3L)))
    // column-form cosine: the zero norm scores 0.0 (never a
    // DIVIDE_BY_ZERO under ANSI mode), directly and inside the exact
    // re-rank join of the ANN calibration audit
    val colCos = emb.as("a").join(emb.as("b"), col("a.vec_id") === 4L)
      .select(graft.functions.VectorFunctions.cosine(
        col("a.embedding"), col("b.embedding")))
      .collect().map(_.getDouble(0))
    assert(colCos.length === 4 && colCos.forall(_ == 0.0), colCos.toSeq)
    val reRank = graft.operators.AnnCalibrate.exactTopK(emb, "vec_id",
        "embedding", Seq((4L, 1L), (1L, 4L)).toDF("qid", "id"), k = 1)
      .collect().map(r => r.getAs[Double]("sim"))
    assert(reRank.toSeq === Seq(0.0, 0.0))
  }

  test("ragged vectors fail loudly in the exact blocked scorer") {
    import spark.implicits._
    val emb = Seq(
      (1L, Seq(1.0, 0.0, 0.0, 0.0)),
      (2L, Seq(1.0, 0.0))).toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      Similarity.bruteForceTopK(emb, "vec_id", "embedding", k = 1).collect()
    }
    val msgs = causes(e)
    assert(msgs.contains("ragged vector"), msgs)
  }

  test("simhash near-dup validates maxHamming with a contract message") {
    // -1 died with a bare '/ by zero'; >= 64 silently broke the
    // pigeonhole completeness guarantee (64 chunks cover <= 63 bits)
    for (bad <- Seq(-1, 64)) {
      val e = intercept[IllegalArgumentException] {
        Dedup.simhashNearDups(emptyDocs, "doc_id", "text", maxHamming = bad)
      }
      assert(e.getMessage.contains("[0, 63]"), e.getMessage)
    }
  }

  test("clustering: null edge endpoints fail loudly in BOTH variants") {
    // ADVICE r9: hash-to-min used to propagate a (null, null) label row
    // while star's null-dropping predicates silently removed the same
    // rows — two "identical-contract" variants disagreeing on corrupt
    // input. Both now refuse it with the same contract message.
    import spark.implicits._
    val edges = Seq((Some(1L), Some(2L)), (Some(3L), None))
      .toDF("a", "b")
    for ((name, run) <- Seq[(String, () => Any)](
        ("hash-to-min", () =>
          graft.operators.Components.connectedComponents(edges, "a", "b").collect()),
        ("star", () =>
          graft.operators.Components.connectedComponentsStar(edges, "a", "b").collect()))) {
      val e = intercept[Exception] { run.apply() }
      val msgs = causes(e)
      assert(msgs.contains("null endpoint"),
        s"$name on null endpoints: wanted the contract message, got: $msgs")
    }
  }

  test("graph operators refuse an empty corpus with a pointed message") {
    // every Graph entry point divides or mods by the vertex count n;
    // n = 0 must be the contract message, not ArithmeticException
    val e = intercept[IllegalArgumentException] {
      graft.operators.Graph.pageRankScores(emptyDocs, n = 0)
    }
    assert(e.getMessage.contains("empty corpus"), e.getMessage)
    // a STALE vertex count (n > 0, docs empty) passes the guard; the
    // suite must then return empty like its siblings — hits' L1
    // normalize used to NPE on the null sum-over-zero-rows
    assert(graft.operators.Graph.hits(emptyDocs, n = 5).count() === 0)
    assert(graft.operators.Graph.pageRankScores(emptyDocs, n = 5).count() === 0)
  }

  test("hits superstep: a Long overflow in the sum or the 10^6 scaling fails loudly") {
    val sc = spark.sparkContext
    val part = Graph.VertexPartitioner(3)
    def keyed(xs: (Long, Long)*) = sc.parallelize(xs, 2).partitionBy(part)
    val adj = keyed(1L -> 9L, 2L -> 9L)
    // the superstep is lazy: both overflows surface where the returned
    // vector is evaluated, inside the one job that evaluation runs
    // two in-links of Long.MaxValue / 2 + 1 each: the per-vertex sum
    // (and the L1 total beside it) overflows
    val big = Long.MaxValue / 2 + 1
    val summed = Graph.superstep(adj, keyed(1L -> big, 2L -> big), part)
    val sum = intercept[Exception](summed.collect())
    assert(causes(sum).contains("long overflow"), causes(sum))
    // sum and total fit, but 10^13 · 10^6 does not: the normalize fails
    val scaled = Graph.superstep(adj, keyed(1L -> 5000000000000L, 2L -> 5000000000000L), part)
    val mul = intercept[Exception](scaled.collect())
    assert(causes(mul).contains("long overflow"), causes(mul))
    assert(scaled.partitioner === Some(part))
  }

  test("hits: a failing call releases every RDD it cached") {
    import spark.implicits._
    val sc = spark.sparkContext
    // a stale n = 2 over 1000 ids sends every edge into vertex 0 or 1:
    // about 600 in-links of 10^12 each, whose 10^6 scaling overflows in
    // the second superstep. HITS caches nothing (its supersteps re-read
    // shuffle files), so this pins that a failing call leaves no RDD
    // persisted and fails with "long overflow", not a wrapped score
    val docs = (0L until 1000L).map(i => (i, "t")).toDF("doc_id", "text")
    val before = sc.getPersistentRDDs.keySet
    val e = intercept[Exception](Graph.hits(docs, n = 2))
    assert(causes(e).contains("long overflow"), causes(e))
    assert(sc.getPersistentRDDs.keySet === before)
  }

  test("hits: a null doc_id is a vertex with no edges and zero scores") {
    import spark.implicits._
    val ids = (0L until 40L).map(Option(_))
    def docs(xs: Seq[Option[Long]]) = xs.map(i => (i, "t")).toDF("doc_id", "text")
    def rows(df: DataFrame) = df.collect().toSeq
    // the null vertex adds no edge and no mass, so the top-20 is the
    // top-20 without it
    assert(rows(Graph.hits(docs(ids :+ None), n = 40)) === rows(Graph.hits(docs(ids), n = 40)))
    // a graph with fewer than 20 vertices shows its row: doc_id null,
    // auth 0 and hub 0, last. The real rows are the ones the DataFrame
    // normalize returned, pinned value for value (the null row used to
    // read back as doc_id 0, through a non-nullable column)
    val small = rows(Graph.hits(docs((0L until 6L).map(Option(_)) :+ None), n = 6))
      .map(r => (Option(r.getAs[java.lang.Long](0)).map(_.longValue), r.getLong(1), r.getLong(2)))
    assert(small === Seq((Some(0L), 235294228373L, 15151518149L),
      (Some(1L), 235294228373L, 242424290389L), (Some(3L), 235294228373L, 15151518149L),
      (Some(4L), 235294228373L, 242424290389L), (Some(2L), 29411778546L, 242424290389L),
      (Some(5L), 29411778546L, 242424290389L), (None, 0L, 0L)))
  }

  test("pageRank: a null doc_id reads back as null, not as vertex 0") {
    import spark.implicits._
    val docs = ((0L until 6L).map(Option(_)) :+ None).map(i => (i, "t")).toDF("doc_id", "text")
    val ids = Graph.pageRank(docs, n = 6).collect().toSeq
      .map(r => Option(r.getAs[java.lang.Long](0)).map(_.longValue))
    assert(ids.count(_.isEmpty) === 1 && ids.flatten.sorted === (0L until 6L), ids)
  }

  test("external-query probes: empty workload in, empty result out") {
    // the serving path's Tuesday case: an index exists, this batch of
    // queries happens to be empty — total, never an error
    import spark.implicits._
    val corpus = (0L until 64L)
      .map(i => (i, Seq.tabulate(8)(j => (i * 8 + j) / 512.0)))
      .toDF("vec_id", "embedding")
    val ivf = Similarity.ivfIndex(corpus, "vec_id", "embedding", nlist = 2)
    assert(Similarity.ivfProbeFor(ivf, emptyEmb, "vec_id", "embedding",
      k = 3, nprobe = 2).count() === 0)
    val lsh = Similarity.lshIndex(corpus, "vec_id", "embedding", dim = 8)
    assert(Similarity.lshProbeFor(lsh, emptyEmb, "vec_id", "embedding",
      k = 3).count() === 0)
  }

  test("training operators refuse an empty corpus with a pointed message") {
    // IVF / SemDeDup / PQ must learn centroids or codebooks; empty
    // training data has no answer — the failure must say WHAT is empty,
    // not surface a bare ArithmeticException or index error from the
    // kernel internals.
    val cases = Seq[(String, () => Any)](
      ("ivfTopK", () =>
        Similarity.ivfTopK(emptyEmb, "vec_id", "embedding", k = 3, nlist = 4)),
      ("semDedupPairs", () =>
        Similarity.semDedupPairs(emptyEmb, "vec_id", "embedding",
          threshold = 0.9, nlist = 4)),
      ("pqTrain", () =>
        Similarity.pqTrain(emptyEmb, "vec_id", "embedding", m = 2, codes = 4)))
    for ((name, run) <- cases) {
      val e = intercept[Exception] { run.apply() }
      val msgs = causes(e)
      assert(msgs.toLowerCase.contains("empty"),
        s"$name on empty corpus: wanted a pointed 'empty' message, got: $msgs")
    }
  }

  test("k-means: lloyd releases its vector cache and leaves the caller's cache alone") {
    import spark.implicits._
    val sc = spark.sparkContext
    val df = Seq(Seq(1.0, 2.0), Seq(9.0, 8.0), Seq(2.0, 1.0), Seq(8.0, 9.0))
      .map(Tuple1(_)).toDF("vec")
    val dirty = Seq(Some(Seq[Option[Double]](Some(1.0), Some(2.0))),
      Some(Seq[Option[Double]](Some(3.0), None))).map(Tuple1(_)).toDF("vec")
    val init = Array(Array(1.0, 2.0), Array(9.0, 8.0))
    val before = sc.getPersistentRDDs.keySet
    for (m <- Seq(KMeans.SqEuclidean, KMeans.Normalized())) {
      KMeans.lloyd(df, "vec", init, m, maxIter = 3)
      assert(sc.getPersistentRDDs.keySet === before, s"$m, after a run")
      KMeans.lloyd(df, "vec", init, m, maxIter = 1)
      assert(sc.getPersistentRDDs.keySet === before, s"$m, after one round")
      intercept[IllegalArgumentException](KMeans.lloyd(dirty, "vec", init, m, maxIter = 3))
      assert(sc.getPersistentRDDs.keySet === before, s"$m, after a failed round")
    }
    // a frame the caller persisted stays persisted
    val held = df.persist()
    try {
      held.count()
      KMeans.lloyd(held, "vec", init, KMeans.EuclideanSq, maxIter = 3)
      assert(held.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
    } finally held.unpersist()
  }

  test("k-means: a null element, null vector or ragged vector fails with a named error") {
    // a PM2.5 row with an empty cell parses to a null element. It used
    // to die on an opaque ROW_VALUE_IS_NULL (getInt on a null cluster)
    // deep in the mean aggregate; now the round names the contract.
    import spark.implicits._
    val clean = Seq(Some(Seq[Option[Double]](Some(1.0), Some(2.0))),
      Some(Seq[Option[Double]](Some(9.0), Some(8.0))))
    val dirty = Seq(
      ("null element", clean :+ Some(Seq[Option[Double]](Some(3.0), None)), "null"),
      ("null vector", clean :+ None, "null"),
      ("ragged vector", clean :+ Some(Seq[Option[Double]](Some(3.0))), "ragged"))
    val init = Array(Array(1.0, 2.0), Array(9.0, 8.0))
    for ((what, vecs, word) <- dirty;
         m <- Seq(KMeans.SqEuclidean, KMeans.Normalized())) {
      val df = vecs.map(Tuple1(_)).toDF("vec")
      val e = intercept[IllegalArgumentException] {
        KMeans.lloyd(df, "vec", init, m, maxIter = 2)
      }
      assert(e.getMessage.contains(word), s"$what under $m: ${e.getMessage}")
    }
  }
}
