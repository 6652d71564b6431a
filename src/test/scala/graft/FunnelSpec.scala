package graft

import org.apache.spark.sql.functions._

/** Invariants of the ordered-sequence event analytics. */
class FunnelSpec extends SparkSpec {

  test("funnel stages are monotone non-increasing") {
    val r = SparkEntry.queries("q_funnel")(spark, sf).collect().head
    val (v, c, p) = (r.getAs[Long]("n_view"), r.getAs[Long]("n_click"),
      r.getAs[Long]("n_purchase"))
    assert(v >= c && c >= p, s"funnel not monotone: $v >= $c >= $p")
    assert(v > 0L)
  }

  test("markov: transition rows are row-stochastic within rounding") {
    val m = SparkEntry.queries("q_markov_trans")(spark, sf).collect()
    assert(m.nonEmpty)
    m.groupBy(_.getAs[String]("prev")).foreach { case (prev, rows) =>
      val total = rows.map(_.getAs[Double]("p")).sum
      // 5 states rounded to 1e-6 each: drift bounded by 2.5e-6
      assert(math.abs(total - 1.0) < 1e-5, s"row $prev sums to $total")
    }
  }

  test("user paths: ten 3-step paths covering a plurality of users") {
    val p = SparkEntry.queries("q_user_paths")(spark, sf).collect()
    assert(p.length === 10)
    assert(p.forall(_.getAs[String]("path").split(">").length == 3))
    val counts = p.map(_.getAs[Long]("n_users"))
    assert(counts.sameElements(counts.sortBy(-_)))
  }

  test("cohort: every cohorted user is active at offset 0, totals agree") {
    val m = SparkEntry.queries("q_cohort_retention")(spark, sf).collect()
    // a user's first high-value purchase week is itself a purchase week,
    // so summing the offset-0 column recovers the full cohorted population
    val offset0 = m.filter(_.getAs[Long]("week_offset") == 0L)
      .map(_.getAs[Long]("n_users")).sum
    val cohorted = Tables.events(spark, sf)
      .filter(col("event_type") === "purchase" && col("value") > 90)
      .select("user_id").distinct().count()
    assert(offset0 === cohorted)
    // no retention count can exceed its cohort's entry count
    val entry = m.filter(_.getAs[Long]("week_offset") == 0L)
      .map(r => r.getAs[java.sql.Date]("cohort_week") ->
        r.getAs[Long]("n_users")).toMap
    m.foreach { r =>
      assert(r.getAs[Long]("n_users") <=
        entry(r.getAs[java.sql.Date]("cohort_week")))
    }
  }
}
