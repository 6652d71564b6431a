package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Intra-document structure operators — the C4/Gopher-style cleanup
  * passes a training-data pipeline runs INSIDE each document before
  * corpus-level dedup: segment the text, drop repeated/low-quality
  * segments, reassemble in original order. (C4 filters lines without
  * terminal punctuation and dedups repeated lines across its corpus;
  * Gopher gates on repetition fractions. The testdata's documents are
  * synthetic word streams with no newlines or punctuation, so the
  * "line" here is a fixed 2-word segment — small enough that intra-doc
  * repeats exist at every test scale — and the quality gate keeps
  * segments carrying a function word.)
  *
  * Plan shape for both: explode to (doc, seg_idx, segment) → per-doc
  * window/flag → re-aggregate with an order-pinning array_sort on
  * (seg_idx, seg) structs. ONE shuffle on doc_id serves the window and
  * the re-aggregation (same partitioning key); at 100 TB this is a
  * map-heavy pipeline whose only exchange is the doc_id hash — no
  * corpus-wide state, no skew risk beyond document length itself.
  * Reassembly is deterministic: seg_idx is unique within a doc, so the
  * struct sort is total.
  */
object DocStructQueries {

  /** text → array of 2-word segments (last may be shorter). Spark
    * `slice(start, len)` and DuckDB `list_slice(a, b)` both 1-base and
    * truncate at the end, so the renderings agree; every doc has ≥10
    * words at every sf, so `sequence(1, n)` never sees n < 1 (where
    * Spark would count DOWN while DuckDB's generate_series is empty).
    */
  private def segments: Column = {
    val words = split(col("text"), " ")
    val n = ceil(size(words) / lit(2.0)).cast("int")
    transform(sequence(lit(1), n),
      i => array_join(slice(words, (i - lit(1)) * lit(2) + lit(1), lit(2)), " "))
  }

  private def exploded(s: SparkSession, d: String): DataFrame =
    graft.operators.Layout.fanOutSmall(Tables.documents(s, d))
      .select(col("doc_id"), posexplode(segments).as(Seq("pos", "seg")))
      .select(col("doc_id"), (col("pos") + 1).as("seg_idx"), col("seg"))

  /** Rebuild the document from (seg_idx, seg) rows in index order. */
  private def reassembled: Column =
    array_join(
      transform(array_sort(collect_list(struct(col("seg_idx"), col("seg")))),
        x => x.getField("seg")), " ")

  private val segsCte =
    """WITH words AS (
         SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       segs AS (
         SELECT doc_id, i AS seg_idx,
                array_to_string(list_slice(w, (i-1)*2+1, i*2), ' ') AS seg
         FROM words, LATERAL (
           SELECT unnest(generate_series(
             1, CAST(ceil(len(w)/2.0) AS BIGINT))) AS i) gs)"""

  val queries: Seq[Query] = Seq(
    // Intra-document segment dedup: keep the FIRST occurrence of each
    // distinct segment (row_number over (doc, seg) by position — the
    // C4 repeated-line rule applied within the document), reassemble.
    Query("q_para_dedup",
      s"""$segsCte,
         dd AS (
           SELECT doc_id, seg_idx, seg,
                  row_number() OVER (PARTITION BY doc_id, seg
                                     ORDER BY seg_idx) AS rn,
                  count(*) OVER (PARTITION BY doc_id) AS n_segs
           FROM segs)
         SELECT doc_id,
                string_agg(seg, ' ' ORDER BY seg_idx) AS clean_text,
                max(n_segs) AS n_segs, count(*) AS n_kept
         FROM dd WHERE rn = 1
         GROUP BY doc_id ORDER BY doc_id""",
      (s, d) => {
        val byOcc = Window.partitionBy("doc_id", "seg").orderBy("seg_idx")
        val byDoc = Window.partitionBy("doc_id")
        exploded(s, d)
          .withColumn("rn", row_number().over(byOcc))
          .withColumn("n_segs", count(lit(1)).over(byDoc))
          .filter(col("rn") === 1)
          .groupBy("doc_id")
          .agg(reassembled.as("clean_text"),
            max(col("n_segs")).as("n_segs"),
            count(lit(1)).as("n_kept"))
          .orderBy("doc_id")
      }),

    // Segment-quality gate: keep segments carrying a function word
    // ('a'/'the' — the terminal-punctuation stand-in), drop documents
    // whose kept fraction falls under 0.12 (≈ the corpus median, so
    // both verdicts are populated at every sf). The fraction compares
    // UNROUNDED (exact-int division, identical in both engines); the
    // emitted column rounds to 6.
    Query("q_line_filter",
      s"""$segsCte,
         flag AS (
           SELECT doc_id, seg_idx, seg,
                  CASE WHEN ' '||seg||' ' LIKE '% a %'
                         OR ' '||seg||' ' LIKE '% the %'
                       THEN 1 ELSE 0 END AS keep
           FROM segs),
         per AS (
           SELECT doc_id,
                  string_agg(CASE WHEN keep = 1 THEN seg END, ' '
                             ORDER BY seg_idx) AS clean_text,
                  CAST(sum(keep) AS BIGINT) AS n_kept,
                  count(*) AS n_total
           FROM flag GROUP BY doc_id)
         SELECT doc_id, clean_text, n_kept, n_total,
                round(n_kept*1.0/n_total, 6) AS kept_frac
         FROM per
         WHERE n_kept*1.0/n_total >= 0.12
         ORDER BY doc_id""",
      (s, d) => {
        val padded = concat(lit(" "), col("seg"), lit(" "))
        val keep = when(padded.like("% a %") || padded.like("% the %"), 1)
          .otherwise(0)
        exploded(s, d)
          .withColumn("keep", keep)
          .groupBy("doc_id")
          .agg(
            array_join(
              transform(
                array_sort(collect_list(
                  when(col("keep") === 1, struct(col("seg_idx"), col("seg"))))),
                x => x.getField("seg")), " ").as("clean_text"),
            sum(col("keep")).cast("long").as("n_kept"),
            count(lit(1)).as("n_total"))
          .filter(col("n_kept") / col("n_total") >= 0.12)
          .select(col("doc_id"), col("clean_text"), col("n_kept"),
            col("n_total"),
            round(col("n_kept") / col("n_total"), 6).as("kept_frac"))
          .orderBy("doc_id")
      }),
  )
}
