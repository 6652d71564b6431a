package graft

import graft.queries.Query
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Smoke + invariants for the t2 query corpus at sf0.001.
  * (Value-level parity vs DuckDB is the driver's gate; tools/compare.py
  * replays it locally at sf0.01.)
  */
class QueryCorpusSpec extends SparkSpec {

  test("every query runs at sf0.001") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sf).count()
      assert(n >= 0, s"$name failed")
    }
  }

  test("every oracle key has a query") {
    // both maps are views of the one registry list; pin that they agree
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracles without queries: $missing")
  }

  test("every query has an oracle (no silent rows-only demotions)") {
    // a Query cannot be declared without its oracle, but a null (a val
    // read before its initializer ran) or blank one would still ship the
    // row to the driver's weaker rows-only check instead of the hash gate
    val blank = SparkEntry.all.filter(q => q.oracleSql == null || q.oracleSql.trim.isEmpty)
    assert(blank.isEmpty, s"queries without oracle SQL: ${blank.map(_.name)}")
  }

  test("the registry rejects a name declared twice, naming it") {
    val build: (SparkSession, String) => DataFrame = (s, _) => s.range(1).toDF()
    val twice = Seq(Query("q_twice", "SELECT 1", build), Query("q_once", "SELECT 2", build),
      Query("q_twice", "SELECT 3", build))
    val e = intercept[IllegalArgumentException](SparkEntry.distinctNames(twice))
    assert(e.getMessage.contains("q_twice") && !e.getMessage.contains("q_once"), e.getMessage)
    // both copies sit in one list here, so "more than one group" would be false
    assert(e.getMessage.contains("declared more than once"), e.getMessage)
    assert(SparkEntry.distinctNames(twice.take(2)) === twice.take(2))
  }

  test("no final projection carries a >22-precision decimal") {
    // the decimal-hash rule two drift rows taught: a DecimalType with
    // precision > 18 maps to arrow decimal128, and >22 is past the widest
    // driver-green precedent (TPC-H's DECIMAL(22,2) sums pass; (28,6) and
    // (38,0) have each burned a round on hasher canonicalization). Wide
    // decimals are fine INSIDE a plan — the quantize-then-sum discipline
    // depends on them — but the final hashed projection must emit a
    // type-minimal representation (BIGINT micro-units or VARCHAR).
    import org.apache.spark.sql.types._
    def wide(dt: DataType): Boolean = dt match {
      case d: DecimalType     => d.precision > 22
      case a: ArrayType       => wide(a.elementType)
      case m: MapType         => wide(m.keyType) || wide(m.valueType)
      case s: StructType      => s.fields.exists(f => wide(f.dataType))
      case _                  => false
    }
    val offenders = SparkEntry.queries.toSeq.flatMap { case (name, fn) =>
      val bad = fn(spark, sf).schema.fields.filter(f => wide(f.dataType))
      if (bad.isEmpty) None else Some(s"$name: ${bad.map(f => s"${f.name}:${f.dataType.sql}").mkString(", ")}")
    }
    assert(offenders.isEmpty, s"wide-decimal final projections:\n${offenders.mkString("\n")}")
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("q1_agg group counts sum to table size") {
    val df = SparkEntry.queries("q1_agg")(spark, sf)
    val total = df.agg(sum("n")).head.getLong(0)
    assert(total === Tables.lineitem(spark, sf).count())
  }

  test("approx_count_distinct within 10% of exact") {
    // the query itself carries the accuracy contract as `in_band`
    // (hash-checked against the DuckDB exact count by the driver); here we
    // assert every group's estimate actually landed in the band.
    val rows = SparkEntry.queries("q_approx_distinct")(spark, sf)
      .select("l_returnflag", "in_band").collect()
    assert(rows.nonEmpty)
    rows.foreach(r =>
      assert(r.getBoolean(1), s"flag=${r.getString(0)} HLL estimate out of ±10% band"))
  }

  test("topk per group returns at most k rows per key") {
    val df = SparkEntry.queries("q_topk_group")(spark, sf)
    val maxPerKey = df.groupBy("o_custkey").count().agg(max("count")).head.getLong(0)
    assert(maxPerKey <= 3)
  }
}
