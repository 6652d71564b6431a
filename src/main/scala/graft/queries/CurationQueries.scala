package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-corpus curation operators beyond dedup/sampling: the
  * source-cap, repetition-filter, sequence-packing, and PII-redaction
  * steps a web-scale pretraining pipeline runs between raw crawl and
  * tokenizer. All are keyed window/scalar work — one shuffle on the
  * partition key at most, no driver state — and each is expressed so
  * DuckDB replays the identical semantics for the hash oracle.
  */
object CurationQueries {

  private val docs = (s: SparkSession, d: String) => Tables.documents(s, d)

  /** Duplicate-3-gram fraction of a tokens column `w` (requires
    * size(w) >= 3) — shared by q_rep_ratio and the composed
    * q_curate_full so the gate and the standalone score can never
    * drift apart. Windowing via the one guarded definition
    * (Dedup.wordNgrams — identical windows for size >= 3, and the
    * guard makes the expression safe to EVALUATE on shorter rows too,
    * where the previous unguarded sequence would have failed the job
    * in slice if a plan change ever evaluated it before the caller's
    * size filter).
    */
  private def repExpr(w: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    lit(1.0) - size(array_distinct(graft.operators.Dedup.wordNgrams(w, 3)))
      .cast("double") / (size(w) - 2).cast("double")

  /** DuckDB spelling of [[repExpr]] over a list column `w`. */
  private val repSql: String =
    """1.0 - len(list_distinct(list_transform(range(len(w) - 2),
             i -> array_to_string(w[i+1:i+3], ' '))))
           / (len(w) - 2)"""

  val queries: Seq[Query] = Seq(
    // Per-source document cap (crawl curation: no domain may dominate the
    // corpus). Deterministic keep-set: the k lowest doc_ids per source,
    // via the native TopKPerKey operator — map-side k-heaps mean the
    // `source` shuffle carries ≤ 10 rows per source, not the corpus
    // (the row_number window form ships and sorts every row). Projected
    // to two columns first: a custom node blocks column pruning.
    Query("q_domain_cap",
      """SELECT doc_id, source FROM (
           SELECT doc_id, source,
                  row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
           FROM documents) t
         WHERE rn <= 10 ORDER BY doc_id""",
      (s, d) => {
        graft.plans.TopKPerKeyNode.topKPerKey(
            docs(s, d).select(col("doc_id"), col("source")),
            keyCols = Seq("source"), orderSpec = Seq(("doc_id", false)), k = 10)
          .select(col("doc_id"), col("source"))
          .orderBy("doc_id")
      }),

    // Repetition-ratio quality filter (the Gopher/MassiveText family):
    // fraction of duplicate word 3-grams in the document. Computed
    // entirely with codegen'd array expressions — no explode, no
    // shuffle; a 100 TB corpus scans once and filters in the map stage.
    // Docs shorter than 3 tokens have no 3-grams and are excluded.
    Query("q_rep_ratio",
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
         SELECT doc_id, round($repSql, 6) AS rep
         FROM t WHERE len(w) >= 3 ORDER BY doc_id""",
      (s, d) => {
        val w = split(col("text"), " ")
        docs(s, d)
          .select(col("doc_id"), w.as("w"))
          .filter(size(col("w")) >= 3)
          .select(col("doc_id"), round(repExpr(col("w")), 6).as("rep"))
          .orderBy("doc_id")
      }),

    // Duplicated-substring detection (boilerplate mining) — the
    // SEQUENCE-level counterpart of the document-level dedup family:
    // word 8-grams appearing in ≥2 DISTINCT documents, with their doc
    // and occurrence counts (Dedup.dupNgrams — semantics, scale
    // argument, and the short-doc cross-engine trap documented there;
    // 8 words ≈ Lee et al. 2022's 50-BPE-token ExactSubstr span scaled
    // to this corpus's short synthetic docs). The ordering is total:
    // ngram is unique after the group-by.
    Query("q_dup_ngrams",
      // the same 8-word windows by 1-based inclusive list slicing; the
      // CASE mirrors the Spark side's short-doc guard (generate_series
      // is empty where Spark's sequence would descend)
      """WITH w AS (
           SELECT doc_id, string_split(text, ' ') AS words FROM documents),
         g AS (
           SELECT doc_id, array_to_string(words[i:i+7], ' ') AS ngram
           FROM w, unnest(CASE WHEN len(words) >= 8
                               THEN generate_series(1, CAST(len(words) AS BIGINT) - 7)
                               ELSE CAST([] AS BIGINT[]) END) AS t(i))
         SELECT ngram, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occ
         FROM g GROUP BY ngram HAVING count(DISTINCT doc_id) >= 2
         ORDER BY n_docs DESC, ngram""",
      (s, d) =>
        graft.operators.Dedup.dupNgrams(docs(s, d), "doc_id", "text")
          .orderBy(col("n_docs").desc, col("ngram"))),

    // Duplicated-span REMOVAL (Dedup.exactSubstrRemoval) — the actual
    // Lee et al. 2022 ExactSubstr deliverable that q_dup_ngrams only
    // detects: every occurrence of a cross-document duplicated 8-gram
    // excised from every holding doc, overlapping spans merged (the
    // covered-position union — no interval algebra), fully-removed docs
    // kept as empty rows. Output is exact strings and integer counts —
    // nothing float, so the hash gate has no representation surface.
    Query("q_exact_substr_removal",
      // removal: the q_dup_ngrams windows, joined back to their start
      // positions, expanded to covered positions (start..start+7), and
      // every uncovered word re-assembled in position order; docs with
      // every word covered surface as empty strings via the outer join
      """WITH w AS (
           SELECT doc_id, string_split(text, ' ') AS words FROM documents),
         tok AS (
           SELECT doc_id, i AS pos, words[i] AS word
           FROM w, unnest(generate_series(1, CAST(len(words) AS BIGINT))) AS t(i)),
         g AS (
           SELECT doc_id, i AS start, array_to_string(words[i:i+7], ' ') AS ngram
           FROM w, unnest(CASE WHEN len(words) >= 8
                               THEN generate_series(1, CAST(len(words) AS BIGINT) - 7)
                               ELSE CAST([] AS BIGINT[]) END) AS t(i)),
         dup AS (SELECT ngram FROM g GROUP BY ngram
                 HAVING count(DISTINCT doc_id) >= 2),
         cov AS (
           SELECT DISTINCT g.doc_id, g.start + o AS pos
           FROM g JOIN dup USING (ngram),
                unnest(generate_series(CAST(0 AS BIGINT), CAST(7 AS BIGINT))) AS t(o)),
         kept AS (
           SELECT tok.doc_id, tok.pos, tok.word
           FROM tok LEFT JOIN cov
             ON tok.doc_id = cov.doc_id AND tok.pos = cov.pos
           WHERE cov.pos IS NULL),
         agg AS (
           SELECT doc_id, string_agg(word, ' ' ORDER BY pos) AS text,
                  count(*) AS n_kept
           FROM kept GROUP BY doc_id)
         SELECT w.doc_id, coalesce(agg.text, '') AS text,
                CAST(len(w.words) AS BIGINT) AS n_words,
                coalesce(agg.n_kept, 0) AS n_kept
         FROM w LEFT JOIN agg USING (doc_id)
         ORDER BY doc_id""",
      (s, d) =>
        graft.operators.Dedup.exactSubstrRemoval(docs(s, d), "doc_id", "text")
          .orderBy("doc_id")),

    // INTRA-document repetition removal (Dedup.selfSubstrRemoval): the
    // loop-collapse rule — a repeated n-gram's later occurrences are
    // excised, the first survives intact (exact position algebra in the
    // operator scaladoc). n = 3, not the cross-doc 8: this corpus's
    // ~40-word vocabulary repeats trigrams WITHIN ~100-token docs often
    // enough to exercise the subtraction rule at every scale, where
    // 8-grams would make the row a vacuous identity.
    Query("q_self_substr_removal",
      // intra-doc removal: same covered-position algebra with the
      // keep-first subtraction — later-occurrence positions minus
      // first-occurrence positions, per doc, at n = 3
      """WITH w AS (
           SELECT doc_id, string_split(text, ' ') AS words FROM documents),
         tok AS (
           SELECT doc_id, i AS pos, words[i] AS word
           FROM w, unnest(generate_series(1, CAST(len(words) AS BIGINT))) AS t(i)),
         g AS (
           SELECT doc_id, i AS start, array_to_string(words[i:i+2], ' ') AS ngram
           FROM w, unnest(CASE WHEN len(words) >= 3
                               THEN generate_series(1, CAST(len(words) AS BIGINT) - 2)
                               ELSE CAST([] AS BIGINT[]) END) AS t(i)),
         rep AS (SELECT doc_id, ngram, min(start) AS first
                 FROM g GROUP BY doc_id, ngram HAVING count(*) >= 2),
         later AS (SELECT g.doc_id, g.start
                   FROM g JOIN rep ON g.doc_id = rep.doc_id
                                  AND g.ngram = rep.ngram
                   WHERE g.start > rep.first),
         fp AS (SELECT DISTINCT doc_id, first + o AS pos
                FROM rep,
                     unnest(generate_series(CAST(0 AS BIGINT), CAST(2 AS BIGINT))) AS t(o)),
         lp AS (SELECT DISTINCT doc_id, start + o AS pos
                FROM later,
                     unnest(generate_series(CAST(0 AS BIGINT), CAST(2 AS BIGINT))) AS t(o)),
         cov AS (SELECT lp.doc_id, lp.pos
                 FROM lp LEFT JOIN fp
                   ON lp.doc_id = fp.doc_id AND lp.pos = fp.pos
                 WHERE fp.pos IS NULL),
         kept AS (
           SELECT tok.doc_id, tok.pos, tok.word
           FROM tok LEFT JOIN cov
             ON tok.doc_id = cov.doc_id AND tok.pos = cov.pos
           WHERE cov.pos IS NULL),
         agg AS (
           SELECT doc_id, string_agg(word, ' ' ORDER BY pos) AS text,
                  count(*) AS n_kept
           FROM kept GROUP BY doc_id)
         SELECT w.doc_id, coalesce(agg.text, '') AS text,
                CAST(len(w.words) AS BIGINT) AS n_words,
                coalesce(agg.n_kept, 0) AS n_kept
         FROM w LEFT JOIN agg USING (doc_id)
         ORDER BY doc_id""",
      (s, d) =>
        graft.operators.Dedup.selfSubstrRemoval(docs(s, d), "doc_id", "text",
            n = 3)
          .orderBy("doc_id")),

    // Sequence packing: assign documents to fixed-token-budget training
    // sequences. This is the deterministic streaming variant — documents
    // are packed contiguously in doc_id order within each language shard
    // (bin = exclusive-prefix-sum of token counts div budget), so the
    // assignment is reproducible, join-free, and one window per shard.
    // (True greedy bin-packing is order-dependent and neither
    // reproducible nor parallelizable — the contiguous variant is what
    // production tokenizer pipelines run.)
    Query("q_seq_pack",
      """WITH t AS (SELECT doc_id, lang, len(string_split(text, ' ')) AS toks
                    FROM documents)
         SELECT doc_id, lang,
                CAST(floor((sum(toks) OVER (PARTITION BY lang ORDER BY doc_id
                                            ROWS UNBOUNDED PRECEDING) - toks)
                           / 512) AS BIGINT) AS bin
         FROM t ORDER BY doc_id""",
      (s, d) => {
        val w = Window.partitionBy("lang").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        docs(s, d)
          .select(col("doc_id"), col("lang"),
            size(split(col("text"), " ")).as("toks"))
          .withColumn("bin",
            floor((sum("toks").over(w) - col("toks")) / lit(512)).cast("long"))
          .select(col("doc_id"), col("lang"), col("bin"))
          .orderBy("doc_id")
      }),

    // Edit distance between the raw and entity-redacted text prefixes —
    // the scoring primitive of fuzzy dedup (here: how much a scrub
    // changed each document). Bounded cost: levenshtein is O(m·n) per
    // row, so production use caps the operand length exactly as done
    // here (64 chars), keeping the pass map-only and linear in corpus
    // size.
    Query("q_edit_distance",
      """SELECT doc_id,
                levenshtein(substr(text, 1, 64),
                            substr(regexp_replace(text,
                                     '\b(customer|supplier|user)\b',
                                     '[ENTITY]', 'g'),
                                   1, 64)) AS lev
         FROM documents ORDER BY doc_id""",
      (s, d) =>
        docs(s, d)
          .select(col("doc_id"),
            levenshtein(
              substring(col("text"), 1, 64),
              substring(regexp_replace(col("text"),
                "\\b(customer|supplier|user)\\b", "[ENTITY]"), 1, 64))
              .cast("long").as("lev"))
          .orderBy("doc_id")),

    // PII-style entity redaction: map-only regexp scrub. The pattern
    // here stands in for email/phone/SSN patterns (the synthetic corpus
    // has none); the operator shape — regexp_replace at scan, no
    // shuffle — is identical.
    Query("q_redact",
      """SELECT doc_id,
                regexp_replace(text, '\b(customer|supplier|user)\b',
                               '[ENTITY]', 'g') AS redacted
         FROM documents ORDER BY doc_id""",
      (s, d) =>
        docs(s, d)
          .select(col("doc_id"),
            regexp_replace(col("text"), "\\b(customer|supplier|user)\\b",
              "[ENTITY]").as("redacted"))
          .orderBy("doc_id")),

    // URL canonicalization dedup — crawl curation's first collapse: the
    // same resource arrives as scheme/host-case variants, default-port
    // spellings, trailing slashes, and utm_* tracking junk. Each doc
    // synthesizes TWO deterministic variants (messy + clean), both
    // canonicalize via parse_url decomposition (lowercase host, port
    // dropped, trailing slash stripped, only the lang param kept), and
    // the groupBy(canonical) must collapse every doc back to exactly
    // n_variants = 2 — the oracle states the expected canonical by
    // string algebra, so every canonicalization step is load-bearing.
    // Map-only until the dedup's one hash shuffle; the host label is
    // sanitized to [a-z0-9-] like q_url_fns so java.net.URI always
    // parses.
    Query("q_url_canon",
      // the canonical each doc's two variants must collapse to, stated by
      // string algebra — any missed canonicalization step diverges
      """SELECT doc_id,
                'https://' || regexp_replace(lower(source), '[^a-z0-9-]', '-', 'g')
                  || '.example.com/docs/' || doc_id || '?lang=' || lang AS canon,
                CAST(2 AS BIGINT) AS n_variants
         FROM documents ORDER BY doc_id""",
      (s, d) => {
        val label = regexp_replace(lower(col("source")), "[^a-z0-9-]", "-")
        val id = col("doc_id").cast("string")
        val messy = concat(lit("https://"),
          when(col("doc_id") % 2 === 0, upper(label)).otherwise(label),
          lit(".Example.COM:443/docs/"), id,
          when(col("doc_id") % 3 === 0, lit("/")).otherwise(lit("")),
          lit("?utm_source=x&lang="), col("lang"),
          when(col("doc_id") % 5 === 0, lit("&utm_campaign=y")).otherwise(lit("")))
        val clean = concat(lit("https://"), label, lit(".example.com/docs/"),
          id, lit("?lang="), col("lang"))
        val canon = concat(lit("https://"),
          lower(expr("parse_url(url, 'HOST')")),
          regexp_replace(expr("parse_url(url, 'PATH')"), "/$", ""),
          lit("?lang="), expr("parse_url(url, 'QUERY', 'lang')"))
        docs(s, d)
          .select(col("doc_id"), explode(array(messy, clean)).as("url"))
          .select(col("doc_id"), canon.as("canon"))
          .groupBy("canon")
          .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_variants"))
          .select(col("doc_id"), col("canon"), col("n_variants"))
          .orderBy("doc_id")
      }),

    // Benchmark decontamination: flag corpus documents sharing any word
    // 4-gram with a held-out benchmark set (stand-in: doc_id % 10 == 0 —
    // the synthetic corpus has no real benchmark, but the operator shape
    // is exactly the n-gram-overlap decontamination run before
    // pretraining). Scale design: each side explodes to (gram-hash,
    // doc_id) rows — xxhash64 narrows the shuffle row to 16 bytes vs the
    // full gram string, at a 2^-64 false-positive risk per pair, the
    // same accepted trade as MinHash dedup — the benchmark side is
    // distinct-ed (small: |benchmark grams|) and the join is a plain
    // equi-join on the hash that AQE broadcasts when the benchmark fits.
    // No driver-side data path. (4-grams, not the 8-13 of production
    // decontamination: corpus-calibrated so the synthetic vocab yields
    // hits at test sf.)
    Query("q_decontaminate",
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
           g AS (SELECT doc_id,
                        unnest(list_transform(range(len(w) - 3),
                          i -> array_to_string(w[i+1:i+4], ' '))) AS g
                 FROM t WHERE len(w) >= 4),
           b AS (SELECT DISTINCT g FROM g WHERE doc_id % 10 = 0)
         SELECT doc_id, count(DISTINCT g) AS n_hit
         FROM g JOIN b USING (g)
         WHERE doc_id % 10 <> 0
         GROUP BY doc_id ORDER BY doc_id""",
      (s, d) => {
        val toks = split(col("text"), " ")
        def grams(w: org.apache.spark.sql.Column) =
          transform(sequence(lit(0), size(w) - 4),
            i => xxhash64(array_join(slice(w, i + lit(1), lit(4)), " ")))
        val base = graft.operators.Layout.fanOutSmall(docs(s, d))
          .filter(size(toks) >= 4)
          .select(col("doc_id"), explode(grams(toks)).as("g"))
        val bench = base.filter(col("doc_id") % 10 === 0)
          .select("g").distinct()
        base.filter(col("doc_id") % 10 =!= 0)
          .join(bench, "g")
          .groupBy("doc_id")
          .agg(countDistinct(col("g")).as("n_hit"))
          .orderBy("doc_id")
      }),

    // Fixed-token-window chunking with overlap (window 32, stride 24) —
    // the pre-tokenizer split of long documents into training sequences.
    // Chunk starts are stride multiples; the final chunk is the first
    // one whose window reaches the end, so every token lands in ≥1 chunk
    // and no chunk is fully contained in its predecessor. All codegen'd
    // array expressions + one generator — map-only at any corpus size,
    // no shuffle before the contract sort.
    Query("q_chunk_docs",
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w,
                           (greatest(len(string_split(text, ' ')) - 32, 0) + 23) // 24 + 1 AS nc
                    FROM documents),
           g AS (SELECT doc_id, w, unnest(range(nc)) AS i FROM t)
         SELECT doc_id, i AS chunk_id,
                array_to_string(w[i*24+1:i*24+32], ' ') AS chunk
         FROM g ORDER BY doc_id, chunk_id""",
      (s, d) => {
        val w = split(col("text"), " ")
        val nChunks =
          floor((greatest(size(col("w")) - lit(32), lit(0)) + lit(23)) / lit(24))
            .cast("int") + 1
        docs(s, d)
          .select(col("doc_id"), w.as("w"))
          .select(col("doc_id"),
            posexplode(transform(sequence(lit(0), nChunks - 1),
              i => array_join(slice(col("w"), i * 24 + 1, lit(32)), " "))))
          .withColumn("chunk_id", col("pos").cast("long")).drop("pos")
          .withColumnRenamed("col", "chunk")
          .select(col("doc_id"), col("chunk_id"), col("chunk"))
          .orderBy("doc_id", "chunk_id")
      }),

    // The curation DAG end-to-end: repetition-quality gate → per-source
    // cap → packing-ready token counts, composed exactly as a production
    // corpus build would chain them. Each stage is individually
    // oracle-verified above; this query verifies the COMPOSITION (stage
    // ordering, column threading, no row leakage between stages) as one
    // hash row set. Cost shape: one map-only scan (tokens + repetition),
    // one keyed window (cap) — nothing quadratic, nothing global.
    Query("q_curate_full",
      s"""WITH t AS (SELECT doc_id, lang, source, string_split(text, ' ') AS w
                    FROM documents),
            q AS (SELECT doc_id, lang, source, w FROM t
                  WHERE len(w) >= 3 AND $repSql <= 0.05),
            capped AS (SELECT doc_id, lang, source, len(w) AS toks,
                              row_number() OVER (PARTITION BY source
                                                 ORDER BY doc_id) AS rn
                       FROM q)
         SELECT doc_id, lang, source, toks FROM capped
         WHERE rn <= 15 ORDER BY doc_id""",
      (s, d) => {
        val w = split(col("text"), " ")
        val scored = docs(s, d)
          .select(col("doc_id"), col("lang"), col("source"), w.as("w"))
          .filter(size(col("w")) >= 3)
          .withColumn("rep", repExpr(col("w")))
          .filter(col("rep") <= 0.05)
        // Cap via native TopKPerKey (≤ 15 rows per source cross the
        // shuffle); toks is computed BEFORE it so the token array never
        // ships — the exchange carries 4 scalar columns per row.
        graft.plans.TopKPerKeyNode.topKPerKey(
            scored.select(col("doc_id"), col("lang"), col("source"),
              size(col("w")).cast("long").as("toks")),
            keyCols = Seq("source"), orderSpec = Seq(("doc_id", false)), k = 15)
          .select(col("doc_id"), col("lang"), col("source"), col("toks"))
          .orderBy("doc_id")
      }),

    // Unigram language-model scoring — the perplexity-proxy quality
    // filter (production pipelines score against a KenLM n-gram model;
    // the unigram variant is the same dataflow with the model TRAINED
    // IN-QUERY on the corpus itself). avg log p(tok) = avg(ln tf) −
    // ln(total): two corpus scans + one vocab-sized join that AQE
    // broadcasts when the vocabulary fits (natural text: ~1e6 words ≪
    // corpus), else shuffles on the token — never on the document. The
    // ln values sum through DECIMAL so partial-aggregation order cannot
    // move a bit; ln itself is a per-engine libm call, guarded by the
    // 1e-10 quantization (≫ 1-ulp libm divergence) before the sum.
    Query("q_unigram_lm",
      """WITH tok AS (SELECT doc_id,
                             unnest(string_split(lower(text), ' ')) AS tok
                      FROM documents),
            f AS (SELECT tok, count(*) AS tf FROM tok GROUP BY tok),
            tot AS (SELECT sum(tf) AS tot FROM f)
         SELECT doc_id,
                round(CAST(sum(CAST(ln(tf) AS DECIMAL(28,10))) AS DOUBLE)
                        / count(*)
                      - ln(CAST((SELECT tot FROM tot) AS DOUBLE)),
                      6) AS lm_score
         FROM tok JOIN f USING (tok)
         GROUP BY doc_id ORDER BY doc_id""",
      (s, d) => {
        // fanOutSmall: parallelize the tokenize kernel past the small-file
        // scan-split floor (no-op at scale) — see Layout.fanOutSmall
        val toks = graft.operators.Layout.fanOutSmall(docs(s, d))
          .select(col("doc_id"),
            explode(split(lower(col("text")), " ")).as("tok"))
        val freq = toks.groupBy("tok").agg(count(lit(1)).as("tf"))
        val total = freq.agg(sum("tf").as("tot"))
        toks.join(freq, "tok")
          .crossJoin(broadcast(total))
          .groupBy("doc_id")
          .agg(round(
            sum(expr("CAST(ln(CAST(tf AS DOUBLE)) AS DECIMAL(28,10))"))
              .cast("double") / count(lit(1)) -
              first(expr("ln(CAST(tot AS DOUBLE))")), 6).as("lm_score"))
          .orderBy("doc_id")
      }),

    // Bigram LM scoring — the next rung of the perplexity-proxy ladder
    // above q_unigram_lm: avg ln p(tok|prev) with add-0.5 smoothing
    // over a unigram history count (the Lidstone shortcut; production
    // scoring swaps in a pre-trained KenLM, same dataflow). Bigrams are
    // built MAP-SIDE with zip_with over adjacent array slices — never a
    // per-token window shuffle; the only exchanges are the two count
    // aggregations and the count-joins back (vocab-sized — AQE
    // broadcasts them on natural text), then one groupBy(doc_id).
    // Smoothed ratios are exact doubles (int counts + exact halves), ln
    // goes through the same DECIMAL(28,10) quantization as q_unigram_lm
    // so partial-agg order cannot move a bit.
    Query("q_bigram_lm",
      """WITH tok AS (SELECT doc_id, string_split(lower(text), ' ') AS w
                      FROM documents),
            toks AS (SELECT unnest(string_split(lower(text), ' ')) AS tok
                     FROM documents),
            tf AS (SELECT tok, count(*) AS tf FROM toks GROUP BY tok),
            vv AS (SELECT count(*) AS v FROM tf),
            bg AS (SELECT doc_id, w[i] AS prev, w[i] || ' ' || w[i+1] AS bg
                   FROM tok, UNNEST(range(1, len(w))) AS t(i)),
            cbg AS (SELECT bg, count(*) AS cbg FROM bg GROUP BY bg)
         SELECT doc_id, count(*) AS n_bigrams,
                round(CAST(sum(CAST(ln((cbg.cbg + 0.5)
                                       / (tf.tf + 0.5 * (SELECT v FROM vv)))
                                    AS DECIMAL(28,10))) AS DOUBLE)
                      / count(*), 6) AS lm2_score
         FROM bg JOIN cbg USING (bg) JOIN tf ON tf.tok = bg.prev
         GROUP BY doc_id ORDER BY doc_id""",
      (s, d) => {
        val w = split(lower(col("text")), " ")
        val bgs = graft.operators.Layout.fanOutSmall(docs(s, d))
          .select(col("doc_id"),
            explode(zip_with(
              slice(w, lit(1), size(w) - 1), slice(w, lit(2), size(w) - 1),
              (a, b) => struct(a.as("prev"),
                concat_ws(" ", a, b).as("bg")))).as("p"))
          .select(col("doc_id"), col("p.prev").as("prev"), col("p.bg").as("bg"))
        val tf = graft.operators.Layout.fanOutSmall(docs(s, d))
          .select(explode(split(lower(col("text")), " ")).as("tok"))
          .groupBy("tok").agg(count(lit(1)).as("tf"))
        // `tf > 0` is a tautology (tf is a count, always >= 1) kept for
        // plan shape only: without it Catalyst prunes the unused count
        // out of this branch's aggregate, de-canonicalizing its subtree
        // from tf's — and the corpus gets re-tokenized just to count
        // distinct tokens. Referencing tf keeps vocab on the SHARED
        // tokenize→tf exchange (AQE ReusedExchange; guide §2.4 — the
        // same fix as bm25FromStats' df branch), v values unchanged.
        val vocab = tf.filter(col("tf") > 0).agg(count(lit(1)).as("v"))
        val cbg = bgs.groupBy("bg").agg(count(lit(1)).as("cbg"))
        bgs.join(cbg, "bg")
          .join(tf.withColumnRenamed("tok", "prev"), "prev")
          .crossJoin(broadcast(vocab))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_bigrams"),
            round(sum(expr(
              "CAST(ln((cbg + 0.5) / (tf + 0.5 * v)) AS DECIMAL(28,10))"))
              .cast("double") / count(lit(1)), 6).as("lm2_score"))
          .orderBy("doc_id")
      }),

    // Character-class masking (Spark's mask(): upper→X, lower→x,
    // digit→n, punctuation kept) — the shape-preserving PII transform
    // used when downstream needs format validity (card/phone/ID fields)
    // rather than q_redact's token replacement. Map-only at the scan.
    // The corpus is ASCII, so the oracle's ASCII character classes are
    // exactly Spark's unicode-aware ones.
    Query("q_mask_pii",
      """SELECT doc_id,
                regexp_replace(regexp_replace(regexp_replace(
                  substr(text, 1, 40),
                  '[A-Z]', 'X', 'g'), '[a-z]', 'x', 'g'), '[0-9]', 'n', 'g')
                  AS masked
         FROM documents ORDER BY doc_id""",
      (s, d) =>
        docs(s, d)
          .select(col("doc_id"),
            expr("mask(substring(text, 1, 40))").as("masked"))
          .orderBy("doc_id")),
  )
}
