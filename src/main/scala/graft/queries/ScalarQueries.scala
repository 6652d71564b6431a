package graft.queries

import graft.Tables
import graft.functions.{TextFunctions, VectorFunctions}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scalar-function queries: string, date, math, array, map, json.
  * All built-ins — whole-stage-codegen'd end to end (no UDFs), so each of
  * these stays a single narrow scan->project pipeline at any scale.
  */
object ScalarQueries {

  val queries: Seq[Query] = Seq(
    Query("q_string_fns",
      """SELECT c_custkey, upper(c_name) AS up, lower(c_mktsegment) AS lo,
                substr(c_name, 10, 9) AS pre, length(c_name) AS len,
                c_name || '-' || c_mktsegment AS cc,
                trim(' ' || c_mktsegment || ' ') AS tr,
                c_name LIKE '%1%' AS has1,
                regexp_extract(c_name, '([0-9]+)', 1) AS digits,
                string_split(c_name, '#')[2] AS tok2
         FROM customer ORDER BY c_custkey""",
      (s, d) => {
        Tables.customer(s, d)
          .select(col("c_custkey"),
            upper(col("c_name")).as("up"),
            lower(col("c_mktsegment")).as("lo"),
            substring(col("c_name"), 10, 9).as("pre"),
            length(col("c_name")).cast("long").as("len"),
            concat(col("c_name"), lit("-"), col("c_mktsegment")).as("cc"),
            trim(concat(lit(" "), col("c_mktsegment"), lit(" "))).as("tr"),
            col("c_name").like("%1%").as("has1"),
            regexp_extract(col("c_name"), "([0-9]+)", 1).as("digits"),
            element_at(split(col("c_name"), "#"), 2).as("tok2"))
          .orderBy("c_custkey")
      }),

    Query("q_date_fns",
      """SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d,
                year(o_orderdate) AS y, month(o_orderdate) AS m, day(o_orderdate) AS dd,
                CAST(o_orderdate AS DATE) + 30 AS d30,
                datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS days_since,
                strftime(o_orderdate, '%Y-%m') AS ym
         FROM orders ORDER BY o_orderkey""",
      (s, d) => {
        Tables.orders(s, d)
          .select(col("o_orderkey"),
            to_date(col("o_orderdate")).as("d"),
            year(col("o_orderdate")).cast("long").as("y"),
            month(col("o_orderdate")).cast("long").as("m"),
            dayofmonth(col("o_orderdate")).cast("long").as("dd"),
            date_add(to_date(col("o_orderdate")), 30).as("d30"),
            datediff(to_date(col("o_orderdate")), lit("1995-01-01").cast("date"))
              .cast("long").as("days_since"),
            date_format(col("o_orderdate"), "yyyy-MM").as("ym"))
          .orderBy("o_orderkey")
      }),

    Query("q_math_fns",
      """SELECT l_orderkey, l_linenumber,
                abs(l_discount - 0.05) AS absd,
                round(l_extendedprice, 1) AS r1,
                pow(l_quantity, 2) AS q2,
                sqrt(l_extendedprice) AS sq,
                CAST(floor(sqrt(l_extendedprice)) AS BIGINT) AS fl,
                CAST(ceil(sqrt(l_extendedprice)) AS BIGINT) AS ce,
                ((l_orderkey % 7) + 7) % 7 AS pm
         FROM lineitem ORDER BY l_orderkey, l_linenumber, sq""",
      (s, d) => {
        Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_linenumber"),
            abs(col("l_discount") - 0.05).as("absd"),
            round(col("l_extendedprice"), 1).as("r1"),
            pow(col("l_quantity"), 2).as("q2"),
            sqrt(col("l_extendedprice")).as("sq"),
            floor(sqrt(col("l_extendedprice"))).cast("long").as("fl"),
            ceil(sqrt(col("l_extendedprice"))).cast("long").as("ce"),
            pmod(col("l_orderkey"), lit(7)).cast("long").as("pm"))
          // (l_orderkey, l_linenumber) is NOT unique in this testdata; sq
          // (sqrt of the price — INJECTIVE, unlike round-to-1 r1) makes
          // the sort genuinely total (the q_fuzzwin lesson)
          .orderBy("l_orderkey", "l_linenumber", "sq")
      }),

    Query("q_array_fns",
      """SELECT vec_id, len(embedding) AS dim,
                CAST(embedding[1] AS DOUBLE) AS first,
                CAST(embedding[64] AS DOUBLE) AS last,
                list_contains([label, label * 2], 4) AS c4,
                round(sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                                                   x -> x * x))), 6) AS norm
         FROM embeddings ORDER BY vec_id""",
      (s, d) => {
        Tables.embeddings(s, d)
          .select(col("vec_id"),
            size(col("embedding")).cast("long").as("dim"),
            element_at(col("embedding"), 1).cast("double").as("first"),
            element_at(col("embedding"), 64).cast("double").as("last"),
            array_contains(array(col("label"), col("label") * 2), 4).as("c4"),
            round(VectorFunctions.l2Norm(col("embedding")), 6).as("norm"))
          .orderBy("vec_id")
      }),

    Query("q_explode",
      """SELECT vec_id, CAST(g.i - 1 AS BIGINT) AS pos,
                CAST(embedding[g.i] AS DOUBLE) AS val
         FROM embeddings, (SELECT unnest(generate_series(1, 4)) AS i) g
         ORDER BY vec_id, pos""",
      (s, d) => {
        Tables.embeddings(s, d)
          .select(col("vec_id"), posexplode(slice(col("embedding"), 1, 4)))
          .select(col("vec_id"), col("pos").cast("long").as("pos"),
            col("col").cast("double").as("val"))
          .orderBy("vec_id", "pos")
      }),

    // OUTER generate: explode_outer keeps rows whose array is empty
    // (NULL element) where plain explode silently drops them — the
    // difference between "every order appears" and "orders with no items
    // vanish" in flattening pipelines. Empty arrays constructed
    // deterministically via vec_id % 3.
    Query("q_explode_outer",
      """SELECT e.vec_id, CAST(u.x AS DOUBLE) AS x
         FROM (SELECT vec_id, embedding[1:CAST(vec_id % 3 AS INT)] AS a
               FROM embeddings) e
         LEFT JOIN LATERAL (SELECT unnest(e.a) AS x) u ON true
         ORDER BY vec_id, x""",
      (s, d) => {
        Tables.embeddings(s, d)
          .select(col("vec_id"),
            slice(col("embedding"), lit(1), (col("vec_id") % 3).cast("int")).as("a"))
          .select(col("vec_id"), explode_outer(col("a")).as("x"))
          .select(col("vec_id"), col("x").cast("double").as("x"))
          .orderBy("vec_id", "x")
      }),

    // Series generation: explode(sequence(...)) — the date-spine idiom
    // (calendar joins, gap filling). Bounded: 4 days per order over a
    // keyed slice of orders.
    Query("q_date_series",
      """SELECT o_orderkey, CAST(u.d AS DATE) AS d
         FROM orders, LATERAL (
           SELECT unnest(generate_series(CAST(o_orderdate AS DATE),
                                         CAST(o_orderdate AS DATE) + 3,
                                         INTERVAL 1 DAY)) AS d) u
         WHERE o_orderkey < 20
         ORDER BY o_orderkey, d""",
      (s, d) => {
        Tables.orders(s, d)
          .filter(col("o_orderkey") < 20)
          .select(col("o_orderkey"),
            explode(sequence(
              to_date(col("o_orderdate")),
              date_add(to_date(col("o_orderdate")), 3),
              expr("interval 1 day"))).as("d"))
          .orderBy("o_orderkey", "d")
      }),

    Query("q_map_fns",
      """SELECT c_custkey,
                CAST(CASE c_mktsegment WHEN 'BUILDING' THEN 1 WHEN 'AUTOMOBILE' THEN 2
                     WHEN 'MACHINERY' THEN 3 WHEN 'HOUSEHOLD' THEN 4
                     WHEN 'FURNITURE' THEN 5 END AS BIGINT) AS seg_code,
                CAST(5 AS BIGINT) AS n_keys
         FROM customer ORDER BY c_custkey""",
      (s, d) => {
        val m = map(
          lit("BUILDING"), lit(1), lit("AUTOMOBILE"), lit(2), lit("MACHINERY"), lit(3),
          lit("HOUSEHOLD"), lit(4), lit("FURNITURE"), lit(5))
        Tables.customer(s, d)
          .select(col("c_custkey"),
            element_at(m, col("c_mktsegment")).cast("long").as("seg_code"),
            size(map_keys(m)).cast("long").as("n_keys"))
          .orderBy("c_custkey")
      }),

    Query("q_json_fns",
      """SELECT event_id, json_extract_string(props, '$.k') AS k_str,
                CAST(json_extract(props, '$.k') AS BIGINT) AS k_int
         FROM events ORDER BY event_id""",
      (s, d) => {
        Tables.events(s, d)
          .select(col("event_id"),
            get_json_object(col("props"), "$.k").as("k_str"),
            from_json(col("props"), lit("k INT")).getField("k").cast("long").as("k_int"))
          .orderBy("event_id")
      }),

    // VARIANT semi-structured type (Spark 4): parse once into the binary
    // variant encoding, then typed path access — the shredded-JSON path
    // that replaces per-access string re-parsing (get_json_object scans
    // the text for every path; variant_get navigates the decoded tree).
    Query("q_variant",
      // the oracle reads the same JSON with DuckDB's json functions — the
      // VARIANT encoding is an engine detail, the values must agree
      """SELECT event_id,
                CAST(json_extract(props, '$.k') AS BIGINT) AS k_long,
                json_extract_string(props, '$.k') AS k_str,
                json_extract(props, '$.missing') IS NULL AS miss_null
         FROM events ORDER BY event_id""",
      (s, d) => {
        val v = parse_json(col("props"))
        Tables.events(s, d)
          .select(col("event_id"),
            variant_get(v, "$.k", "long").as("k_long"),
            variant_get(v, "$.k", "string").as("k_str"),
            variant_get(v, "$.missing", "string").isNull.as("miss_null"))
          .orderBy("event_id")
      }),

    // URL decomposition with parse_url — the domain/path/query-param
    // extraction every web-crawl curation pipeline starts with (per-
    // domain caps, site filters). The corpus carries no URL column, so
    // a deterministic URL is synthesized from (source, doc_id, lang)
    // and parsed back; the oracle reconstructs the parts by string
    // algebra, so the check verifies parse_url's semantics rather than
    // restating them. The host label is sanitized to [a-z0-9-] on BOTH
    // sides (same regexp) so the synthesized URL stays java.net.URI-
    // valid no matter what characters a regenerated `source` carries —
    // an underscore would make parse_url return NULL host and diverge
    // from the oracle's string algebra.
    Query("q_url_fns",
      """SELECT doc_id,
                regexp_replace(lower(source), '[^a-z0-9-]', '-', 'g')
                  || '.example.com' AS host,
                '/docs/' || doc_id AS path,
                lang AS qlang
         FROM documents ORDER BY doc_id""",
      (s, d) => {
        val hostLabel =
          regexp_replace(lower(col("source")), "[^a-z0-9-]", "-")
        Tables.documents(s, d)
          .select(col("doc_id"),
            concat(lit("https://"), hostLabel, lit(".example.com/docs/"),
              col("doc_id").cast("string"), lit("?lang="), col("lang")).as("url"))
          .select(col("doc_id"),
            expr("parse_url(url, 'HOST')").as("host"),
            expr("parse_url(url, 'PATH')").as("path"),
            expr("parse_url(url, 'QUERY', 'lang')").as("qlang"))
          .orderBy("doc_id")
      }),

    // String shaping family — pad/translate/repeat/reverse/left/right,
    // the fixed-width formatting and key-normalization helpers; all
    // codegen'd built-ins, map-only at any scale.
    Query("q_string_pad",
      """SELECT c_custkey,
                lpad(c_name, 25, '*') AS lp,
                rpad(c_mktsegment, 12, '.') AS rp,
                translate(c_name, '#', '-') AS tr,
                repeat(c_mktsegment, 2) AS rep,
                reverse(c_name) AS rev,
                left(c_name, 8) AS l8,
                right(c_name, 4) AS r4
         FROM customer ORDER BY c_custkey""",
      (s, d) => {
        Tables.customer(s, d)
          .select(col("c_custkey"),
            lpad(col("c_name"), 25, "*").as("lp"),
            rpad(col("c_mktsegment"), 12, ".").as("rp"),
            translate(col("c_name"), "#", "-").as("tr"),
            repeat(col("c_mktsegment"), 2).as("rep"),
            reverse(col("c_name")).as("rev"),
            expr("left(c_name, 8)").as("l8"),
            expr("right(c_name, 4)").as("r4"))
          .orderBy("c_custkey")
      }),

    // NULL-handling scalar family — nullif/coalesce/nvl2/ifnull, the
    // sentinel-to-NULL and NULL-to-default conversions every ingestion
    // layer applies. NULLs are MANUFACTURED deterministically with
    // nullif (the corpus itself carries none in these columns), so
    // every branch of every function is exercised.
    Query("q_null_fns",
      """SELECT l_orderkey, l_linenumber, l_extendedprice,
                nullif(l_returnflag, 'N') AS rf_null,
                coalesce(nullif(l_returnflag, 'N'), 'X') AS rf_coal,
                CASE WHEN nullif(l_returnflag, 'N') IS NOT NULL
                     THEN 'has' ELSE 'none' END AS rf_nvl2,
                ifnull(nullif(l_quantity, 25.0), -1.0) AS qty_if
         FROM lineitem
         ORDER BY l_orderkey, l_linenumber, l_extendedprice""",
      (s, d) => {
        val rfNull = nullif(col("l_returnflag"), lit("N"))
        Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"),
            rfNull.as("rf_null"),
            coalesce(rfNull, lit("X")).as("rf_coal"),
            nvl2(rfNull, lit("has"), lit("none")).as("rf_nvl2"),
            ifnull(nullif(col("l_quantity"), lit(25.0)), lit(-1.0)).as("qty_if"))
          .orderBy("l_orderkey", "l_linenumber", "l_extendedprice")
      }),

    // Array set algebra (union/intersect/except) between each document's
    // distinct token set and the engine stopword list — the set ops
    // behind vocabulary overlap and filter-list application, all
    // codegen'd array expressions. Both engines dedup these ops but
    // NEITHER pins an element order, so the emitted intersect is
    // sort_array'd — then array_join'd to one string, because the
    // verify harness canonicalizes via pandas, which cannot sort/hash
    // array cells — and except/union collapse to sizes. Order-free
    // facts that still pin membership exactly.
    Query("q_array_setops",
      {
        val sw = TextFunctions.stopwords.map(w => s"'$w'").mkString(", ")
        s"""WITH t AS (
            SELECT doc_id,
                   list_distinct(string_split(lower(text), ' ')) AS toks
            FROM documents)
          SELECT doc_id,
                 coalesce(
                   array_to_string(list_sort(list_intersect(toks, [$sw])), ' '),
                   '') AS sw_hit,
                 CAST(len(list_filter(toks,
                   x -> NOT list_contains([$sw], x))) AS BIGINT) AS n_content,
                 CAST(len(list_distinct(list_concat(toks, [$sw])))
                   AS BIGINT) AS n_union
          FROM t ORDER BY doc_id"""
      },
      (s, d) => {
        val toks = array_distinct(split(lower(col("text")), " "))
        val sw = array(TextFunctions.stopwords.map(lit): _*)
        Tables.documents(s, d)
          .select(col("doc_id"),
            array_join(sort_array(array_intersect(toks, sw)), " ").as("sw_hit"),
            size(array_except(toks, sw)).cast("long").as("n_content"),
            size(array_union(toks, sw)).cast("long").as("n_union"))
          .orderBy("doc_id")
      }),

    // date_trunc family at coarser calendar grains (quarter/week) plus
    // the ordinal extractors — the partitioning keys of every
    // time-bucketed retention layout. DuckDB's date_trunc returns DATE
    // at these grains while Spark returns TIMESTAMP; both sides emit
    // DATE.
    Query("q_date_trunc",
      """SELECT o_orderkey,
                date_trunc('quarter', o_orderdate) AS q_start,
                date_trunc('week', o_orderdate) AS w_start,
                CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
                CAST(weekofyear(o_orderdate) AS BIGINT) AS woy,
                CAST(dayofyear(o_orderdate) AS BIGINT) AS doy
         FROM orders ORDER BY o_orderkey""",
      (s, d) => {
        Tables.orders(s, d)
          .select(col("o_orderkey"),
            date_trunc("quarter", col("o_orderdate")).cast("date").as("q_start"),
            date_trunc("week", col("o_orderdate")).cast("date").as("w_start"),
            quarter(col("o_orderdate")).cast("long").as("qtr"),
            weekofyear(col("o_orderdate")).cast("long").as("woy"),
            dayofyear(col("o_orderdate")).cast("long").as("doy"))
          .orderBy("o_orderkey")
      }),

    // Regex function family — extraction, counting, replace, match over
    // document text, all codegen'd string expressions (map-only scan at
    // any corpus size). Patterns stay inside the character-class +
    // quantifier subset that Java regex (Spark) and RE2 (DuckDB) agree
    // on — no backrefs, no lookaround, no \b — so the check exercises
    // the functions, not the engines' dialect corners. No-match
    // regexp_extract returns '' on BOTH engines (probed, not assumed).
    Query("q_regex_fns",
      """SELECT doc_id,
                len(regexp_extract_all(text, '[aeiou]+')) AS n_vruns,
                regexp_extract(text, '([0-9]+)', 1) AS first_num,
                length(regexp_replace(text, '[aeiou]', '', 'g'))
                  AS len_novowel,
                len(regexp_extract_all(text, '[a-z]+')) AS n_runs,
                regexp_matches(text, '^[a-z]') AS lower_start
         FROM documents ORDER BY doc_id""",
      (s, d) => {
        Tables.documents(s, d)
          .select(col("doc_id"),
            regexp_count(col("text"), lit("[aeiou]+")).cast("long").as("n_vruns"),
            regexp_extract(col("text"), "([0-9]+)", 1).as("first_num"),
            length(regexp_replace(col("text"), "[aeiou]", "")).cast("long")
              .as("len_novowel"),
            size(regexp_extract_all(col("text"), lit("[a-z]+"), lit(0)))
              .cast("long").as("n_runs"),
            col("text").rlike("^[a-z]").as("lower_start"))
          .orderBy("doc_id")
      }),

    // try_* arithmetic: NULL-on-error escape hatches (divide-by-zero
    // here) — the ANSI-safe forms a migrating SQL workload reaches for.
    Query("q_try_arith",
      """SELECT l_orderkey, l_linenumber,
                round(l_extendedprice / nullif(l_quantity - 30, 0), 6)
                  AS per_unit_off30,
                l_orderkey + l_linenumber AS ta
         FROM lineitem ORDER BY l_orderkey, l_linenumber, per_unit_off30 NULLS FIRST""",
      (s, d) => {
        Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_linenumber"),
            round(try_divide(col("l_extendedprice"), col("l_quantity") - 30), 6)
              .as("per_unit_off30"),
            try_add(col("l_orderkey"), col("l_linenumber")).as("ta"))
          // duplicate (orderkey, linenumber) rows differ in per_unit_off30:
          // include it so the output order is total on both engines — with
          // the null order PINNED (try_divide yields nulls; Spark defaults
          // nulls-first ascending, DuckDB nulls-last)
          .orderBy(col("l_orderkey"), col("l_linenumber"),
            col("per_unit_off30").asc_nulls_first)
      }),

    // Higher-order array functions — filter/transform/aggregate/exists/
    // forall with lambdas, all codegen'd array expressions (no explode,
    // no UDF): token analytics stay a map-only scan at any corpus size.
    Query("q_hof",
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
         SELECT doc_id,
                len(list_filter(w, x -> length(x) > 4)) AS n_long,
                CAST(list_sum(list_transform(w, x -> length(x))) AS BIGINT) AS chars,
                list_contains(w, 'spark') AS has_spark,
                len(list_filter(w, x -> length(x) < 2)) = 0 AS all_ge2
         FROM t ORDER BY doc_id""",
      (s, d) => {
        Tables.documents(s, d)
          .select(col("doc_id"), split(col("text"), " ").as("w"))
          .select(col("doc_id"),
            size(filter(col("w"), x => length(x) > 4)).cast("long").as("n_long"),
            aggregate(transform(col("w"), x => length(x)),
              lit(0), (acc, x) => acc + x).cast("long").as("chars"),
            exists(col("w"), x => x === "spark").as("has_spark"),
            forall(col("w"), x => length(x) >= 2).as("all_ge2"))
          .orderBy("doc_id")
      }),
  )
}
