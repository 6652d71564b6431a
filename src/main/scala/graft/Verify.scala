package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Sort
import org.apache.spark.sql.graftbridge.Bridge

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Single-partition output whose row order is GUARANTEED to be the
    * query's own orderBy. `repartition(1)` alone inserts a round-robin
    * exchange ABOVE the query's Sort, so the final order only accidentally
    * survives in single-process local mode (blocks fetched in mapId
    * order); on a multi-executor cluster the driver's order-sensitive
    * row-by-row hash compare would see nondeterministic order. Fix: pull
    * the topmost global Sort's keys out of the analyzed plan and re-sort
    * WITHIN the single partition after the exchange.
    */
  private[graft] def singleOrderedPartition(df: DataFrame): DataFrame = {
    val sortKeys = df.queryExecution.analyzed.collectFirst {
      case s: Sort if s.global => s.order.map(Bridge.column)
    }.getOrElse(Seq.empty)
    val one = df.repartition(1)
    if (sortKeys.nonEmpty) one.sortWithinPartitions(sortKeys: _*) else one
  }
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query-name filter (dev loop)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(master = s"local[$cpus]",
      appName = "graft-verify").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
        val t0 = System.nanoTime()
        try {
          // repartition(1), NOT coalesce(1): coalesce collapses the whole
          // upstream stage into one task when there is no shuffle boundary
          // (e.g. the O(n²) join queries), serializing the computation.
          singleOrderedPartition(fn(spark, sfDir)).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          System.err.println(f"[verify] $name ok ${(System.nanoTime()-t0)/1e9}%.1fs")
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          // remove any previous-run or half-written output for this
          // query: a stale parquet dir under outDir/<name> would be
          // hash-compared as if it were THIS run's result — a failing
          // query must read as a missing/failed row, never a false green
          try {
            import scala.reflect.io.Directory
            new Directory(new java.io.File(s"$outDir/$name")).deleteRecursively()
          } catch { case _: Throwable => () }
        }
      }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // sorted keys: two builds' files compare with a plain byte diff
    val json = SparkEntry.oracleSql.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
