package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `all` is the t2 correctness corpus: one [[graft.queries.Query]] per
  * operator declared in SURVEY.md §2B, each carrying its Spark plan and
  * the DuckDB-equivalent SQL the driver hash-compares it against at
  * sf0.01. `queries` and `oracleSql` are name-keyed views of that list.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_agg")(spark, "/root/testdata/sf0.001")

  /** Return `qs`, REQUIRING distinct names. The check is load-bearing:
    * the name-keyed views are latest-wins, so a name accidentally
    * declared twice would silently REPLACE the earlier row — the corpus
    * would shrink by one and nothing would fail (round 15 caught exactly
    * this: a second `q_decontaminate` shadowed the existing curation row
    * until a count diff surfaced it). A duplicate now names itself at
    * first touch.
    */
  private[graft] def distinctNames(qs: Seq[Query]): Seq[Query] = {
    val dup = qs.groupBy(_.name).collect { case (n, xs) if xs.size > 1 => n }
    require(dup.isEmpty,
      s"query name(s) declared more than once: ${dup.mkString(", ")}")
    qs
  }

  /** Every corpus row. lazy val: every suite, Verify, and Bench read
    * this — the merge and the duplicate scan run once, not per call.
    */
  lazy val all: Seq[Query] = distinctNames(
    Seq(RelationalQueries.queries, SubqueryQueries.queries, JoinQueries.queries,
      FlagshipQueries.queries, TpchQueries.queries, AggQueries.queries,
      WindowQueries.queries, ScalarQueries.queries, StatsQueries.queries,
      TextMetricsQueries.queries, FuzzQueries.queries, KMeansQueries.queries,
      PipelineQueries.queries, DocStructQueries.queries, CurationQueries.queries,
      GraphQueries.queries, FunnelQueries.queries, StreamQueries.queries).flatten)

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.build).toMap

  /** For each key in [[queries]], equivalent ANSI SQL runnable by DuckDB
    * on the same parquet tables.
    */
  lazy val oracleSql: Map[String, String] =
    all.map(q => q.name -> q.oracleSql).toMap
}
