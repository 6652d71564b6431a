package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus-statistics queries: token-distribution entropy and PMI token
  * co-occurrence — the measurements a pretraining-data team runs to
  * characterize a crawl (vocabulary concentration, topical association)
  * before and after curation.
  *
  * Both follow the repo's determinism rule for float aggregation: any
  * SUM over doubles is quantized to DECIMAL per-term first (decimal
  * addition is exact, so shuffle order cannot move a bit), and the only
  * double ops left are single divisions/ln over exactly-representable
  * integers — bit-identical on any engine (same pattern as
  * q_unigram_lm).
  */
object TextMetricsQueries {

  private val docs = (s: SparkSession, d: String) => Tables.documents(s, d)

  val queries: Seq[Query] = Seq(
    // Snapshot-drift monitor (operators.Drift): the even-doc_id half
    // stands in for last crawl, the odd half for this one; emit the 15
    // terms whose Laplace-smoothed probability moved most. The RANKING
    // is the exact integer |(c_a+1)(n_b+V) − (c_b+1)(n_a+V)| (one
    // shared denominator for every term — see Drift's scaladoc), so
    // which terms a deployment gets paged about cannot differ between
    // engines; the per-term PSI contribution rides as a round-6 double
    // with fixed operation order.
    // Hashed projection is TYPE-MINIMAL (BIGINT/VARCHAR/DOUBLE only):
    // drift is the corpus's sole DECIMAL(38,0) column and the r14
    // driver hash diverged on its wide-decimal representation despite
    // value-equal rows, so the exact-integer ordering is surfaced as a
    // BIGINT row_number and the drift magnitude itself rides as a
    // string — no engine-specific precision-38 encoding enters the
    // compared output. The rank window runs post-limit over 15 rows.
    Query("q_corpus_drift",
      // drift: the same joint-vocabulary Laplace smoothing, the exact
      // HUGEINT cross-product rank, the same fixed-order IEEE psi term
      """WITH ta AS (SELECT unnest(string_split(text, ' ')) AS term
                     FROM documents WHERE doc_id % 2 = 0),
         ca AS (SELECT term, count(*) AS c_a FROM ta GROUP BY term),
         tb AS (SELECT unnest(string_split(text, ' ')) AS term
                FROM documents WHERE doc_id % 2 = 1),
         cb AS (SELECT term, count(*) AS c_b FROM tb GROUP BY term),
         j AS (SELECT coalesce(ca.term, cb.term) AS term,
                      coalesce(c_a, 0) AS c_a, coalesce(c_b, 0) AS c_b
               FROM ca FULL OUTER JOIN cb ON ca.term = cb.term),
         g AS (SELECT sum(c_a) AS n_a, sum(c_b) AS n_b, count(*) AS v FROM j),
         r AS (SELECT term, c_a, c_b,
                 abs(CAST(c_a + 1 AS HUGEINT) * (g.n_b + g.v)
                   - CAST(c_b + 1 AS HUGEINT) * (g.n_a + g.v)) AS drift,
                 round((CAST(c_a + 1 AS DOUBLE) / CAST(g.n_a + g.v AS DOUBLE)
                      - CAST(c_b + 1 AS DOUBLE) / CAST(g.n_b + g.v AS DOUBLE))
                     * ln((CAST(c_a + 1 AS DOUBLE) / CAST(g.n_a + g.v AS DOUBLE))
                        / (CAST(c_b + 1 AS DOUBLE) / CAST(g.n_b + g.v AS DOUBLE))),
                     6) AS psi6
               FROM j CROSS JOIN g),
         top AS (SELECT term, c_a, c_b, drift, psi6
                 FROM r ORDER BY drift DESC, term LIMIT 15)
         SELECT row_number() OVER (ORDER BY top.drift DESC, top.term) AS rnk,
                term, c_a, c_b, CAST(top.drift AS VARCHAR) AS drift, psi6
         FROM top ORDER BY rnk""",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val t = docs(s, d)
        graft.operators.Drift.termDrift(
            t.filter(pmod(col("doc_id"), lit(2)) === 0),
            t.filter(pmod(col("doc_id"), lit(2)) === 1), "text")
          .orderBy(col("drift").desc, col("term"))
          .limit(15)
          .select(
            row_number().over(Window.orderBy(col("drift").desc, col("term")))
              .cast("long").as("rnk"),
            col("term"), col("c_a"), col("c_b"),
            col("drift").cast("string").as("drift"), col("psi6"))
          .orderBy("rnk")
      }),

    // Dense-side drift (operators.Drift.embedDrift): per-dimension mean
    // shift of the embedding distribution between the two snapshot
    // halves — components quantized round-6 → DECIMAL before the sum so
    // shuffle order cannot move a bit (the q_entropy discipline); the
    // only doubles are the two final divisions in fixed order.
    Query("q_embed_drift",
      // dense drift: identical quantize-then-decimal-sum pipeline; dims
      // are 1-based array subscripts on both engines
      """WITH ex AS (
           SELECT vec_id, i AS dim,
                  CAST(round(CAST(embedding[i] AS DOUBLE), 6)
                       AS DECIMAL(18,6)) AS x
           FROM embeddings,
                unnest(generate_series(1, len(embedding))) AS t(i)),
         a AS (SELECT dim, count(*) AS n_a,
                      CAST(sum(x) AS DECIMAL(28,6)) AS sum_a
               FROM ex WHERE vec_id % 2 = 0 GROUP BY dim),
         b AS (SELECT dim, count(*) AS n_b,
                      CAST(sum(x) AS DECIMAL(28,6)) AS sum_b
               FROM ex WHERE vec_id % 2 = 1 GROUP BY dim)
         SELECT coalesce(a.dim, b.dim) AS dim,
                coalesce(n_a, 0) AS n_a, coalesce(n_b, 0) AS n_b,
                CAST(coalesce(sum_a, 0) * 1000000 AS BIGINT) AS sum_a_u6,
                CAST(coalesce(sum_b, 0) * 1000000 AS BIGINT) AS sum_b_u6,
                CASE WHEN coalesce(n_a, 0) > 0 AND coalesce(n_b, 0) > 0
                     THEN round(CAST(sum_a AS DOUBLE) / n_a
                              - CAST(sum_b AS DOUBLE) / n_b, 6)
                     END AS shift6
         FROM a FULL OUTER JOIN b ON a.dim = b.dim ORDER BY dim""",
      (s, d) => {
        val emb = graft.Tables.embeddings(s, d)
        graft.operators.Drift.embedDrift(
            emb.filter(pmod(col("vec_id"), lit(2)) === 0),
            emb.filter(pmod(col("vec_id"), lit(2)) === 1), "embedding")
          .orderBy("dim")
      }),

    // Shannon entropy of the token distribution per language — the
    // vocabulary-concentration metric (low entropy = template/boiler-
    // plate spam). Two aggregations: token counts shuffle on
    // (lang, tok); the per-lang totals are a handful of rows and
    // broadcast back. -p·ln(p) terms are quantized to DECIMAL before
    // the final sum so reducer order is irrelevant.
    // Source-concentration index per language — the data-mixture
    // diversity metric (Herfindahl–Hirschman index over source shares,
    // plus its reciprocal "effective source count"): a language whose
    // corpus comes from two domains is a contamination/bias risk even
    // when its row count looks healthy. Two nested count-aggregations;
    // the HHI itself is a ratio of exact integers (Σ n_src² / n_lang²),
    // so cross-engine equality needs no quantization — the only float
    // is the final rounded division.
    Query("q_mixture_index",
      """WITH c AS (SELECT lang, source, count(*) AS n
                    FROM documents GROUP BY 1, 2),
            l AS (SELECT lang, count(*) AS n_sources,
                         CAST(sum(n) AS BIGINT) AS n_docs,
                         CAST(sum(n * n) AS BIGINT) AS sum_sq
                  FROM c GROUP BY lang)
         SELECT lang, n_sources, n_docs,
                round(sum_sq * 1.0 / (n_docs * n_docs), 6) AS hhi,
                round((n_docs * n_docs) * 1.0 / sum_sq, 6) AS eff_sources
         FROM l ORDER BY lang""",
      (s, d) => {
        docs(s, d)
          .groupBy("lang", "source").agg(count(lit(1)).as("n"))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_sources"),
            sum("n").cast("long").as("n_docs"),
            sum(col("n") * col("n")).cast("long").as("sum_sq"))
          .select(col("lang"), col("n_sources"), col("n_docs"),
            round(col("sum_sq") / (col("n_docs") * col("n_docs")), 6)
              .as("hhi"),
            round((col("n_docs") * col("n_docs")) / col("sum_sq"), 6)
              .as("eff_sources"))
          .orderBy("lang")
      }),

    // Per-DOCUMENT character entropy — the encoding-junk gate (mojibake,
    // base64 blobs, and binary spills all push character entropy far
    // from prose's band; C4-style pipelines drop those docs before
    // tokenization). Distinct from q_entropy's per-LANGUAGE token
    // entropy: this is a map-heavy per-doc metric whose only exchange
    // is the (doc_id, ch) count — the denominator rides along as
    // length(text), computed before the explode, so no second pass.
    Query("q_char_entropy",
      """WITH ch AS (SELECT doc_id, length(text) AS n,
                            unnest(string_split(text, '')) AS ch
                     FROM documents),
            c AS (SELECT doc_id, n, ch, count(*) AS c
                  FROM ch GROUP BY 1, 2, 3)
         SELECT doc_id, CAST(max(n) AS BIGINT) AS n_chars,
                count(*) AS n_distinct,
                round(CAST(sum(CAST(-(CAST(c AS DOUBLE) / n)
                                    * ln(CAST(c AS DOUBLE) / n)
                                    AS DECIMAL(28,12))) AS DOUBLE), 6)
                  AS char_entropy
         FROM c GROUP BY doc_id ORDER BY doc_id""",
      (s, d) => {
        // fanOutSmall on the three explode-heavy rows below: parallelize
        // the per-char/token kernels past the small-file scan-split floor
        // (no-op at scale) — see Layout.fanOutSmall
        graft.operators.Layout.fanOutSmall(docs(s, d))
          .select(col("doc_id"), length(col("text")).as("n"),
            explode(split(col("text"), "")).as("ch"))
          .groupBy("doc_id", "n", "ch").agg(count(lit(1)).as("c"))
          .select(col("doc_id"), col("n"),
            expr("""CAST(-(CAST(c AS DOUBLE) / n) * ln(CAST(c AS DOUBLE) / n)
                  AS DECIMAL(28,12))""").as("term"))
          .groupBy("doc_id")
          .agg(max(col("n")).cast("long").as("n_chars"),
            count(lit(1)).as("n_distinct"),
            round(sum("term").cast("double"), 6).as("char_entropy"))
          .orderBy("doc_id")
      }),

    Query("q_entropy",
      """WITH tok AS (SELECT lang, unnest(string_split(lower(text), ' ')) AS tok
                      FROM documents),
            c AS (SELECT lang, tok, count(*) AS c FROM tok GROUP BY 1, 2),
            t AS (SELECT lang, sum(c) AS t FROM c GROUP BY 1)
         SELECT lang, count(*) AS n_vocab,
                round(CAST(sum(CAST(-(CAST(c.c AS DOUBLE) / t.t)
                                    * ln(CAST(c.c AS DOUBLE) / t.t)
                                    AS DECIMAL(28,12))) AS DOUBLE), 6) AS entropy
         FROM c JOIN t USING (lang)
         GROUP BY lang ORDER BY lang""",
      (s, d) => {
        val toks = graft.operators.Layout.fanOutSmall(docs(s, d))
          .select(col("lang"),
            explode(split(lower(col("text")), " ")).as("tok"))
        val cnt = toks.groupBy("lang", "tok").agg(count(lit(1)).as("c"))
        val tot = cnt.groupBy("lang").agg(sum("c").as("t"))
        cnt.join(broadcast(tot), "lang")
          .select(col("lang"),
            expr("""CAST(-(CAST(c AS DOUBLE) / t) * ln(CAST(c AS DOUBLE) / t)
                  AS DECIMAL(28,12))""").as("term"))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_vocab"),
            round(sum("term").cast("double"), 6).as("entropy"))
          .orderBy("lang")
      }),

    // Pointwise mutual information over co-occurring token pairs,
    // restricted to the top-20 tokens by document frequency (the
    // vocabulary filter is what bounds the pair space at scale: pairs
    // per document <= K²/2, never |doc|²). Pair generation is
    // map-side — tokens are collected per doc as a sorted set and
    // expanded with array lambdas, so the only shuffles are the
    // groupBy(doc_id) and the final groupBy(pair); no self-join.
    Query("q_cooccur",
      // the oracle states pair semantics the simple way (per-doc distinct
      // tokens self-joined); the Spark side reaches the same multiset via
      // map-side array expansion
      """WITH tok AS (SELECT DISTINCT doc_id, tok FROM (
                        SELECT doc_id,
                               unnest(string_split(lower(text), ' ')) AS tok
                        FROM documents)),
            dfreq AS (SELECT tok, count(*) AS df FROM tok GROUP BY tok),
            top AS (SELECT tok, df FROM dfreq
                    ORDER BY df DESC, tok LIMIT 20),
            kept AS (SELECT doc_id, tok FROM tok JOIN top USING (tok)),
            n AS (SELECT count(*) AS n FROM documents),
            pairs AS (SELECT a.tok AS ta, b.tok AS tb, count(*) AS nab
                      FROM kept a JOIN kept b USING (doc_id)
                      WHERE a.tok < b.tok GROUP BY 1, 2)
         SELECT ta, tb, nab,
                round(ln(CAST(nab * (SELECT n FROM n) AS DOUBLE)
                         / (ta_df.df * tb_df.df)), 6) AS pmi
         FROM pairs
         JOIN top ta_df ON pairs.ta = ta_df.tok
         JOIN top tb_df ON pairs.tb = tb_df.tok
         ORDER BY ta, tb""",
      (s, d) => {
        val toks = graft.operators.Layout.fanOutSmall(docs(s, d))
          .select(col("doc_id"),
            explode(array_distinct(split(lower(col("text")), " "))).as("tok"))
        val dfreq = toks.groupBy("tok").agg(count(lit(1)).as("df"))
        // deterministic top-K: ties broken by token
        val top = dfreq.orderBy(col("df").desc, col("tok")).limit(20)
        val nDocs = docs(s, d).count() // one scalar, driver-held by design
        val pairs = toks
          .join(broadcast(top.select("tok")), "tok")
          .groupBy("doc_id")
          .agg(sort_array(collect_set(col("tok"))).as("ts"))
          .select(explode(expr(
            """flatten(transform(ts, (x, i) ->
               transform(slice(ts, i + 2, size(ts)),
                         y -> struct(x AS ta, y AS tb))))""")).as("p"))
          .groupBy(col("p.ta").as("ta"), col("p.tb").as("tb"))
          .agg(count(lit(1)).as("nab"))
        pairs
          .join(broadcast(top.select(col("tok").as("ta"), col("df").as("dfa"))), "ta")
          .join(broadcast(top.select(col("tok").as("tb"), col("df").as("dfb"))), "tb")
          .select(col("ta"), col("tb"), col("nab"),
            round(log(col("nab") * lit(nDocs)
              / (col("dfa") * col("dfb")).cast("double")), 6).as("pmi"))
          .orderBy("ta", "tb")
      }),
    // Inverted-index build: token → capped, sorted posting list + exact
    // document frequency for the 20 highest-df tokens. The operator
    // shape of every search/dedup-by-lookup pipeline: one shuffle on
    // token, postings assembled with collect_set (bounded here by the
    // 20-doc cap and the top-20 vocabulary filter; a full-corpus
    // inverted index would emit postings as rows — (tok, doc_id) pairs
    // ARE the index — rather than materialize per-token arrays, which
    // at 100 TB would put a hot token's whole posting list in one
    // task). The cap keeps the demo honest: slice AFTER sort_array so
    // the kept prefix is deterministic, never collection-ordered. The
    // postings list is emitted as one space-joined string (sorted
    // numerically BEFORE the cast) because the verify harness
    // canonicalizes via pandas, which cannot sort/hash array cells.
    Query("q_invert_index",
      """WITH tok AS (SELECT DISTINCT doc_id, tok FROM (
                        SELECT doc_id,
                               unnest(string_split(lower(text), ' ')) AS tok
                        FROM documents))
         SELECT tok, count(*) AS df,
                array_to_string(
                  list_transform((list_sort(list(doc_id)))[1:20],
                                 x -> CAST(x AS VARCHAR)), ' ') AS postings
         FROM tok GROUP BY tok
         ORDER BY df DESC, tok LIMIT 20""",
      (s, d) => {
        val toks = docs(s, d)
          .select(col("doc_id"),
            explode(array_distinct(split(lower(col("text")), " "))).as("tok"))
        toks.groupBy("tok")
          .agg(count(lit(1)).as("df"),
            array_join(
              transform(slice(sort_array(collect_set(col("doc_id"))), 1, 20),
                _.cast("string")), " ").as("postings"))
          .orderBy(col("df").desc, col("tok"))
          .limit(20)
      }),

    // Learned-quality-filter application: a logistic scorer (fixed
    // public weights standing in for a trained model's) evaluated as a
    // codegen'd column expression — the shape in which a real pipeline
    // applies its fastText/logreg quality classifier to 100 TB: map-only
    // scan, no shuffle until the final contract sort. Features are exact
    // integer ratios; the only transcendental is one exp(), quantized by
    // round(,6) like every float emission in this corpus.
    Query("q_quality_logit",
      """WITH f AS (
           SELECT doc_id,
                  CAST(length(text) AS DOUBLE)
                    / (len(string_split(text, ' ')) + 1.0) AS atl,
                  CAST(length(text) - length(regexp_replace(text, '[aeiou]', '', 'g'))
                       AS DOUBLE) / length(text) AS vr
           FROM documents)
         SELECT doc_id,
                round(1.0 / (1.0 + exp(-(-3.0 + 0.4 * atl + 4.0 * vr))), 6)
                  AS score,
                round(1.0 / (1.0 + exp(-(-3.0 + 0.4 * atl + 4.0 * vr))), 6) >= 0.5
                  AS keep
         FROM f ORDER BY doc_id""",
      (s, d) => {
        val nChars = length(col("text")).cast("double")
        val toks = size(split(col("text"), " ")).cast("double")
        val avgTokLen = nChars / (toks + lit(1.0))
        val vowelRatio =
          (nChars - length(regexp_replace(col("text"), "[aeiou]", ""))) / nChars
        val z = lit(-3.0) + lit(0.4) * avgTokLen + lit(4.0) * vowelRatio
        docs(s, d)
          .select(col("doc_id"),
            round(lit(1.0) / (lit(1.0) + exp(-z)), 6).as("score"))
          .withColumn("keep", col("score") >= 0.5)
          .orderBy("doc_id")
      }),
  )
}
