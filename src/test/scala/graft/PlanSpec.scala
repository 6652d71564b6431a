package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Machine-checked physical-plan properties — the scale contract from
  * SURVEY §4/§7: filters reach the parquet scan, scans prune columns,
  * aggregations run partial+final, small dimensions broadcast, and nothing
  * falls back to a cartesian product outside the declared cross join.
  * These run on the sf0.001 tables but assert PLAN SHAPE, which is what
  * survives the 1000-executor scale-up.
  */
class PlanSpec extends SparkSpec {

  private def planOf(name: String): String = {
    // other suites cache tables (shared session); a cached full-schema
    // InMemoryRelation would mask scan-level pruning/pushdown
    spark.catalog.clearCache()
    val df = SparkEntry.queries(name)(spark, sf)
    df.collect() // AQE: codegen stages appear only in the final plan
    df.queryExecution.executedPlan.toString
  }

  private def sourceOf(name: String): String = {
    spark.catalog.clearCache()
    val df = SparkEntry.queries(name)(spark, sf)
    df.queryExecution.sparkPlan.toString
  }

  /** Executed plan, FINAL AQE section only — `executedPlan.toString`
    * prints "== Final Plan ==" AND "== Initial Plan ==", so node counts
    * over the raw string double-count every operator. Use this (not
    * [[planOf]]) for any `== n` count assertion. Exchanges exist only
    * here — `sparkPlan` is pre-EnsureRequirements and has none.
    */
  private def finalPlanOf(name: String): String = {
    val s = planOf(name)
    val i = s.indexOf("== Initial Plan ==")
    if (i >= 0) s.substring(0, i) else s
  }

  test("filters are pushed down to the parquet scan") {
    val p = planOf("q_proj_filter")
    assert(p.contains("PushedFilters: ["), p.take(800))
    // at least one real pushed predicate, not just the empty list
    assert("PushedFilters: \\[[^\\]]".r.findFirstIn(p).isDefined, p.take(800))
  }

  test("scans prune to referenced columns only") {
    // q_dedup_exact touches doc_id + text; the scan must not read
    // lang/source/n_chars
    val p = planOf("q_dedup_exact")
    val read = "ReadSchema: [^\n]*".r.findFirstIn(p).getOrElse("")
    assert(read.contains("doc_id") && read.contains("text"), read)
    assert(!read.contains("n_chars") && !read.contains("source"), read)
  }

  test("aggregations run map-side partial + final (two HashAggregates)") {
    val p = planOf("q1_agg")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(800))
  }

  test("part semi-join pushes the size predicate to the scan") {
    val p = planOf("q_part_brand")
    // p_size <= 20 must reach the part parquet scan, not a post-scan filter
    assert(p.contains("PushedFilters: ["), p.take(900))
    assert("LessThanOrEqual\\(p_size".r.findFirstIn(p).isDefined
      || p.contains("p_size"), p.take(900))
  }

  test("small-dimension joins broadcast") {
    val p = planOf("q_join_bcast")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
  }

  test("SHUFFLE_HASH hint forces a shuffled hash join") {
    val p = planOf("q_join_hash")
    assert(p.contains("ShuffledHashJoin"), p.take(900))
  }

  test("no cartesian product outside the declared cross join") {
    val offenders = SparkEntry.queries.keys.filter { name =>
      name != "q_join_cross" && sourceOf(name).contains("CartesianProduct")
    }
    assert(offenders.isEmpty, s"unexpected cartesian products: $offenders")
  }

  test("whole-stage codegen covers the relational hot paths") {
    // "*(n)" is the WholeStageCodegen stage marker in the final AQE plan
    Seq("q1_agg", "q_proj_filter", "q_join_inner", "q_window_rank").foreach { n =>
      assert(planOf(n).contains("*("), s"$n lost codegen")
    }
  }

  test("flagship 3-table join: both date predicates reach their scans, dim broadcasts") {
    val p = planOf("q_tpch_q3")
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
    // l_shipdate > cutoff pushed to the lineitem scan
    assert("GreaterThan\\(l_shipdate".r.findFirstIn(p).isDefined, p.take(1500))
    // o_orderdate < cutoff pushed to the orders scan
    assert("LessThan\\(o_orderdate".r.findFirstIn(p).isDefined, p.take(1500))
    // top-10 must be a per-partition heap + driver merge, not a global sort
    assert(p.contains("TakeOrderedAndProject"), p.take(1500))
  }

  test("flagship 6-table join: snowflake dims broadcast, date range reaches the orders scan") {
    val p = planOf("q_tpch_q5")
    // nation and region (and at this sf, supplier/customer too) must
    // broadcast — the property that matters at 100 TB is that NO
    // 25-row dim ever shuffles the fact side
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p.take(2000))
    // both ends of the o_orderdate range pushed into the orders scan
    assert("GreaterThanOrEqual\\(o_orderdate".r.findFirstIn(p).isDefined, p.take(2000))
    assert("LessThan\\(o_orderdate".r.findFirstIn(p).isDefined, p.take(2000))
    // revenue aggregates partial+final (no single-point agg)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(2000))
  }

  test("epoch shuffle ranks without a global single-partition window") {
    val df = SparkEntry.queries("q_epoch_shuffle")(spark, sf)
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.isEmpty,
      "q_epoch_shuffle must use the two-phase rank, not row_number over a global Window")
    // and it is a real permutation: pos is 1..n exactly once
    val n = df.count()
    assert(df.agg(min("pos"), max("pos"), countDistinct("pos")).head ===
      org.apache.spark.sql.Row(1, n.toInt, n))
  }

  test("exact dedup shuffles once on the dedup key (no extra exchanges)") {
    val p = sourceOf("q_dedup_exact")
    // groupBy(sha2(text)) agg + global sort = exactly 2 exchanges
    assert("Exchange".r.findAllIn(p).size <= 2, p.take(1200))
  }

  test("correlated subqueries decorrelate into joins, never per-row rescans") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.catalyst.plans.{JoinType, LeftSemi, LeftAnti}
    def executed(name: String) = {
      spark.catalog.clearCache()
      val df = SparkEntry.queries(name)(spark, sf)
      df.collect()
      df.queryExecution.executedPlan
    }
    // AQE wraps materialized stages in QueryStageExec LEAVES whose inner
    // plan is not in `children` — a plain collect stops at the stage
    // boundary, so recurse through both wrappers explicitly.
    def collectJoins(p: SparkPlan): Seq[JoinType] = {
      val here = p match { case j: BaseJoinExec => Seq(j.joinType); case _ => Nil }
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case other => other.children
      }
      here ++ kids.flatMap(collectJoins)
    }
    def joinTypes(name: String): Set[JoinType] = collectJoins(executed(name)).toSet
    // EXISTS → left-semi, NOT EXISTS → left-anti, IN → left-semi: the
    // RewritePredicateSubquery rewrite is visible as a join in the
    // physical plan, meaning one keyed shuffle at scale instead of an
    // O(rows) correlated rescan.
    assert(joinTypes("q_exists_corr").contains(LeftSemi),
      s"q_exists_corr: ${joinTypes("q_exists_corr")}")
    assert(joinTypes("q_notexists_corr").contains(LeftAnti),
      s"q_notexists_corr: ${joinTypes("q_notexists_corr")}")
    assert(joinTypes("q_in_subq").contains(LeftSemi),
      s"q_in_subq: ${joinTypes("q_in_subq")}")
    // correlated scalar aggregate → per-key aggregate joined back to the
    // outer (RewriteCorrelatedScalarSubquery): joins present, and no
    // per-row scalar-subquery expression survives in the final plan
    val sc = executed("q_scalar_corr")
    assert(joinTypes("q_scalar_corr").nonEmpty, sc.toString.take(1200))
    assert(!sc.toString.contains("scalar-subquery"), sc.toString.take(1200))
  }

  test("curation scans are map-only: no shuffle before the contract sort") {
    // q_rep_ratio / q_redact / q_hof are pure scan→project pipelines —
    // the ONLY exchange allowed is the final orderBy's range partition.
    // An explode-based 3-gram implementation would add a shuffle +
    // re-aggregate here; the array-expression form must not.
    Seq("q_rep_ratio", "q_redact", "q_hof").foreach { n =>
      val p = sourceOf(n)
      assert("Exchange".r.findAllIn(p).size <= 1, s"$n:\n${p.take(900)}")
    }
    // q_domain_cap and q_seq_pack window on their partition key: one
    // hash exchange for the window + the final sort's range exchange.
    Seq("q_domain_cap", "q_seq_pack").foreach { n =>
      val p = sourceOf(n)
      assert("Exchange".r.findAllIn(p).size <= 2, s"$n:\n${p.take(900)}")
      // and the window is keyed, never a global single partition
      assert(!p.contains("SinglePartition"), s"$n windows globally:\n${p.take(900)}")
    }
  }

  test("text-metrics plans: logit scorer is map-only, cooccur joins only broadcast") {
    // q_quality_logit applies the scorer as a scan-stage expression:
    // the only exchange allowed is the final orderBy's range partition.
    val lp = sourceOf("q_quality_logit")
    assert("Exchange".r.findAllIn(lp).size <= 1, lp.take(900))
    // q_cooccur: the pair space is bounded by the broadcast top-K
    // vocabulary and pairs are generated map-side from a per-doc sorted
    // set — a SortMergeJoin anywhere means it degenerated into the
    // self-join form whose shuffle carries |doc_tokens|² rows.
    val cp = sourceOf("q_cooccur")
    assert(!cp.contains("SortMergeJoin"), cp.take(1200))
    assert(!cp.contains("CartesianProduct"), cp.take(1200))
    assert("BroadcastHashJoin".r.findAllIn(cp).size >= 2, cp.take(1200))
  }

  test("span removal and phrase decontamination: no cartesian, no UDF, anti-join shape") {
    // q_exact_substr_removal / q_self_substr_removal: pure relational
    // pipelines — explode → hash-agg → equi-joins → LEFT ANTI → agg.
    // A cartesian or a Scala UDF anywhere means the covered-position
    // algebra degenerated; the dup detection must be a partial+final
    // hash aggregation (map-side combine before the ngram-hash shuffle).
    Seq("q_exact_substr_removal", "q_self_substr_removal").foreach { n =>
      val p = planOf(n)
      assert(!p.contains("CartesianProduct"), s"$n:\n${p.take(1200)}")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$n:\n${p.take(1200)}")
      assert(!p.contains("ScalaUDF"), s"$n:\n${p.take(1200)}")
      assert(p.contains("HashAggregate"), s"$n:\n${p.take(1200)}")
    }
    // q_decontaminate_phrase: the eval-phrase side is benchmark-sized
    // and must BROADCAST into the postings join (a shuffled join there
    // re-partitions the whole corpus's positional postings by term);
    // the final drop must be an anti join, and nothing cartesians.
    val p = planOf("q_decontaminate_phrase")
    assert(p.contains("BroadcastHashJoin"), p.take(1200))
    assert(p.toLowerCase.contains("leftanti"), p.take(1200))
    assert(!p.contains("CartesianProduct"), p.take(1200))
    assert(!p.contains("ScalaUDF"), p.take(1200))
  }

  test("salted join: build side replicates via explode and the join key carries the salt") {
    // (At test scale the tiny exploded dim may still broadcast — result-
    // identical; past the broadcast threshold the same plan becomes a
    // shuffled join on (key, _salt), which is what spreads the hot key.)
    val p = sourceOf("q_skew_join")
    assert(p.contains("Generate explode"), p.take(1200))
    assert(p.contains("_salt"), p.take(1200))
  }

  test("Q7 pair-of-nations: both nation aliases broadcast, no cartesian") {
    val p = planOf("q_tpch_q7")
    // two independent broadcast lookups against the same tiny dim —
    // the fact side must never shuffle for either
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
    // nationkey < 5 reaches the nation scans
    assert("LessThan\\(n_nationkey".r.findFirstIn(p).isDefined, p.take(2000))
  }

  test("Q10/Q18: selective predicates push down, top-k never global-sorts") {
    val p10 = planOf("q_tpch_q10")
    assert("EqualTo\\(l_returnflag".r.findFirstIn(p10).isDefined, p10.take(1500))
    assert(p10.contains("TakeOrderedAndProject"), p10.take(1500))
    val p18 = finalPlanOf("q_tpch_q18")
    assert(p18.contains("TakeOrderedAndProject"), p18.take(1500))
    // the big-orders aggregate is computed ONCE: the textbook
    // IN-subquery form would plan a second lineitem scan for the
    // HAVING subquery; this plan must have exactly one
    val liScans = "FileScan parquet [^\n]*lineitem".r.findAllIn(p18).size
    assert(liScans == 1, s"expected 1 lineitem scan, got $liScans:\n${p18.take(1500)}")
  }

  test("sessionize: one hash exchange serves both window passes and the aggregation") {
    // window partitionBy(user_id) → HashPartitioning(user_id), which
    // also satisfies the groupBy(user_id, sess_id) clustering (subset
    // rule) — so: 1 hash exchange + the final orderBy's range exchange.
    val p = finalPlanOf("q_sessionize")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p.take(1600))
    assert(!p.contains("SinglePartition"), p.take(1600))
  }

  test("bloom-join probe filter runs before the join, result joins broadcast or hash") {
    val p = planOf("q_bloom_join")
    assert(!p.contains("CartesianProduct"), p.take(1200))
    // the mightContain UDF must sit in the lineitem scan stage (below
    // the join), not above it: the probe-side Filter appears between
    // the join and the lineitem parquet scan in the plan tree string
    val joinIdx = p.indexOfSlice("Join")
    val filterIdx = p.indexOf("UDF")
    assert(joinIdx >= 0 && filterIdx > joinIdx,
      s"bloom filter not below the join (join@$joinIdx, udf@$filterIdx):\n${p.take(1200)}")
  }

  test("Q19 disjunction: the part-only half of each OR arm pushes to the part scan") {
    val p = planOf("q_tpch_q19")
    // brand/size disjunction reaches parquet as one Or filter
    assert("PushedFilters: \\[[^\\]]*Or\\(".r.findFirstIn(p).isDefined, p.take(2000))
    assert(p.contains("p_brand"), p.take(2000))
  }

  test("pagination and inverted-index plan shapes") {
    // LIMIT 50 OFFSET 100 must be ONE TakeOrderedAndProject (per-
    // partition top-150 heaps merged on the driver, offset applied at
    // merge) — no shuffle, no global sort
    val p = finalPlanOf("q_limit_offset")
    assert(p.contains("TakeOrderedAndProject(limit=150, offset=100"), p.take(600))
    assert(!p.contains("Exchange"), p.take(600))
    // inverted index: explode → map-side partial collect_set → ONE hash
    // exchange → final agg → TakeOrdered for the top-20-by-df
    val p2 = finalPlanOf("q_invert_index")
    assert("Exchange hashpartitioning".r.findAllIn(p2).size == 1, p2.take(1200))
    assert(p2.contains("partial_collect_set"), p2.take(1200))
    assert(p2.contains("TakeOrderedAndProject"), p2.take(1200))
  }

  test("TPC-H completion wave: pushdown, partial aggs, broadcasts, semi/anti") {
    // Q6: the canonical pushdown query — all three predicates reach the
    // lineitem scan; the only exchange is the single-row final agg
    val q6 = finalPlanOf("q_tpch_q6")
    assert("PushedFilters: \\[[^\\]]*l_shipdate".r.findFirstIn(q6).isDefined ||
      q6.contains("l_quantity"), q6.take(1200))
    assert("Exchange".r.findAllIn(q6).size == 1, q6.take(1200))
    // Q1: partial+final aggregation, and the scan reads only the 7
    // referenced columns (no keys)
    val q1 = planOf("q_tpch_q1")
    assert("HashAggregate".r.findAllIn(q1).size >= 2, q1.take(1200))
    val read = "ReadSchema: [^\n]*".r.findFirstIn(q1).getOrElse("")
    assert(read.contains("l_tax") && !read.contains("l_orderkey"), read)
    // Q2/Q16: every dim (filtered part, suppliers, per-part mins)
    // broadcasts; the only fact-sized shuffle is the supply-pair
    // distinct; nothing degrades to a cartesian
    Seq("q_tpch_q2", "q_tpch_q16").foreach { n =>
      val p = planOf(n)
      assert(p.contains("BroadcastHashJoin"), s"$n: ${p.take(900)}")
      assert(!p.contains("CartesianProduct"), s"$n: ${p.take(900)}")
    }
    // Q21: EXISTS/NOT-EXISTS render as semi + anti joins on the order
    // key (with the supplier/shipdate inequalities as join conditions),
    // never a per-row rescan or cartesian
    val q21 = planOf("q_tpch_q21")
    assert(q21.contains("LeftSemi"), q21.take(1500))
    assert(q21.contains("LeftAnti"), q21.take(1500))
    assert(!q21.contains("CartesianProduct"), q21.take(1500))
    // Q4: the quarter predicate reaches the orders scan under the semi
    val q4 = planOf("q_tpch_q4")
    assert(q4.contains("LeftSemi"), q4.take(1200))
    assert("PushedFilters: \\[[^\\]]*o_orderdate".r.findFirstIn(q4).isDefined,
      q4.take(1200))
  }

  test("exact similarity ops: blocked grid, no join, no driver-side data path") {
    // the parquet source itself runs file-listing jobs — build it
    // before counting
    val emb = Tables.embeddings(spark, sf)
    emb.queryExecution.sparkPlan
    // building these DataFrames must launch NO job — the former
    // implementation ran a full-table collect() at build time
    val ((pTopk, pPairs), ran) = jobsOf {
      val topk = graft.operators.Similarity.bruteForceTopK(
        emb, "vec_id", "embedding", 5)
      val pairs = graft.operators.Similarity.cosineNearDupPairs(
        emb, "vec_id", "embedding", 0.45)
      (topk.queryExecution.sparkPlan.toString, pairs.queryExecution.sparkPlan.toString)
    }
    assert(ran === Ran(0, 0), "exact similarity op ran a driver-side job at build time")
    // blocked all-pairs shape: groupByKey + MapGroups, never a join
    Seq(pTopk, pPairs).foreach { p =>
      assert(p.contains("MapGroups"), p.take(800))
      assert(!p.contains("Join"), p.take(800))
    }
  }

  test("ivf-pq: query side meets the codes through a cell equi-join") {
    // the 100 TB contract of the de-drivered query path: probe cells and
    // ADC tables are computed in the plan and the corpus is met through
    // ONE equi-join on the cell id — never a cartesian or nested loop
    // (training jobs run at build time; only the SHAPE is asserted here,
    // recall is PipelineSpec's planted-dup property)
    val emb = Tables.embeddings(spark, sf)
    val queries = graft.operators.Sampling.hashSample(emb, "vec_id", 0.1)
    val out = graft.operators.Similarity.ivfPqSearch(
      emb, "vec_id", "embedding", queries, "vec_id", "embedding",
      k = 5, nlist = 4, nprobe = 2, m = 8, codes = 16)
    val p = out.queryExecution.sparkPlan.toString
    assert(!p.contains("CartesianProduct"), p.take(1200))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(1200))
    // the join condition carries the cell key (hash or sort-merge — AQE
    // picks at runtime; both are fine, both shuffle only on cell)
    assert("Join [a-zA-Z]+, \\[cell".r.findFirstIn(p).isDefined ||
      p.contains("Join [cell") || "(?s)Join.{0,40}cell#".r.findFirstIn(p).isDefined,
      p.take(1500))
    // the query side explodes its probe list in-plan (Generate), the
    // signature of per-row probe assignment instead of a driver loop
    assert(p.contains("Generate explode"), p.take(1500))
  }

  test("ANN index/search paths run native expressions, not Scala UDFs") {
    // round-7 nativization regression net: cell assignment, probe
    // lists, PQ encode, ADC tables, ADC scoring, and LSH hyperplane
    // signatures are all native codegen expressions (NearestCells/
    // UnitVector/PqCode/AdcTable/IvfPqEncode/IvfPqProbe/AdcScore/
    // HyperplaneBuckets). A ScalaUDF reappearing in these plans means
    // someone reintroduced per-row boxing on the corpus-proportional
    // side. (The exact blocked path stays typed mapGroups by design.)
    val emb = Tables.embeddings(spark, sf)
    val queries = graft.operators.Sampling.hashSample(emb, "vec_id", 0.1)
    val plans = Seq(
      "ivfpq" -> graft.operators.Similarity.ivfPqSearch(
        emb, "vec_id", "embedding", queries, "vec_id", "embedding",
        k = 5, nlist = 4, nprobe = 2, m = 8, codes = 16),
      "ivf" -> graft.operators.Similarity.ivfTopK(
        emb, "vec_id", "embedding", k = 5, nlist = 4, nprobe = 2),
      "semdedup" -> graft.operators.Similarity.semDedupPairs(
        emb, "vec_id", "embedding", 0.45, nlist = 4),
      "lsh" -> graft.operators.Similarity.lshTopK(
        emb, "vec_id", "embedding", k = 5, dim = 64,
        tables = 4, bitsPerTable = 4),
      "serve" -> graft.operators.Similarity.ivfProbeFor(
        graft.operators.Similarity.ivfIndex(
          emb, "vec_id", "embedding", nlist = 4),
        queries, "vec_id", "embedding", k = 5, nprobe = 2))
    for ((name, df) <- plans) {
      val p = df.queryExecution.sparkPlan.toString
      assert(!p.contains("ScalaUDF"),
        s"$name plan reintroduced a Scala UDF:\n${p.take(1500)}")
      // the external-query serving path must stay a cell EQUI-join —
      // a cartesian here would still produce the right rows while
      // scanning every (query, vector) pair at any probe width
      if (name == "serve")
        assert(!p.contains("CartesianProduct"), p.take(1500))
    }
    // the shipped serving ROWS carry one more plan ingredient the
    // operator-level pins above don't see: the workload id shift is
    // derived in-plan from max(vec_id)+1 via a broadcast ONE-ROW
    // scalar join — that must stay a BroadcastNestedLoopJoin of a
    // 1-row aggregate, never widen into a cartesian, and the whole
    // row must stay UDF-free
    for (q <- Seq("q_ann_serve", "q_ann_serve_approx",
                  "q_ann_serve_lsh", "q_ann_serve_ivfpq",
                  "q_ann_serve_pq")) {
      val p = SparkEntry.queries(q)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"), s"$q:\n${p.take(1500)}")
      assert(!p.contains("ScalaUDF"), s"$q:\n${p.take(1500)}")
      assert(p.contains("BroadcastNestedLoopJoin"), s"$q:\n${p.take(1500)}")
    }
  }

  test("observeClamps wiring is the identity below the caps on every derived-knob row") {
    // VERDICT r13 #6: every row whose knobs derive from the capped
    // AnnParams rules now routes its result through observeClamps. At
    // the tested scales nothing binds, so the contract is that the
    // wiring adds NOTHING — no CollectMetrics node in the analyzed plan,
    // no metric noise — while the past-the-cap firing is pinned at the
    // operator level (AnnParamsSpec: observation + message per cap).
    for (q <- Seq("q_ann_lsh", "q_ann_ivf", "q_ann_pq", "q_ann_ivfpq",
        "q_semdedup", "q_ann_serve", "q_ann_serve_persisted",
        "q_ann_serve_approx", "q_ann_serve_lsh", "q_ann_serve_ivfpq",
        "q_ann_serve_pq", "q_ann_serve_persisted_ivfpq",
        "q_ann_serve_persisted_lsh", "q_ann_serve_persisted_pq")) {
      val plan = SparkEntry.queries(q)(spark, sf)
        .queryExecution.analyzed.toString
      assert(!plan.contains("CollectMetrics"),
        s"$q: observeClamps must be the identity below the caps:\n${plan.take(1000)}")
    }
  }

  test("persisted serving row probes the LOADED index: the plan scans the index dir") {
    // q_ann_serve_persisted's whole point is that the executed plan
    // reads the saved index's parquet (the deployment shape — a serving
    // job that never saw training), not the in-session lineage that
    // trained it. The candidate side must be a parquet scan of
    // target/idx_serve/<sf>/assigned, and the row keeps the serving
    // pins (no cartesian, UDF-free, in-plan shift join).
    val df = SparkEntry.queries("q_ann_serve_persisted")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("idx_serve") && p.contains("assigned"),
      s"expected a parquet scan of the saved index dir:\n${p.take(1500)}")
    assert(!p.contains("CartesianProduct"), p.take(1500))
    assert(!p.contains("ScalaUDF"), p.take(1500))
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(1500))
    // same pin for the other three families' deployment rows: the
    // candidate side must be the LOADED index's parquet (the encoded
    // corpus for the PQ families; the stored corpus vectors that LSH
    // re-buckets from the seed), not the training lineage
    for ((q, dir, part) <- Seq(
        ("q_ann_serve_persisted_ivfpq", "idx_serve_ivfpq", "encoded"),
        ("q_ann_serve_persisted_lsh", "idx_serve_lsh", "corpus"),
        ("q_ann_serve_persisted_pq", "idx_serve_pq", "encoded"))) {
      val p2 = SparkEntry.queries(q)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(p2.contains(dir) && p2.contains(part),
        s"$q: expected a parquet scan of $dir/$part:\n${p2.take(1500)}")
      assert(!p2.contains("CartesianProduct"), s"$q:\n${p2.take(1500)}")
      assert(!p2.contains("ScalaUDF"), s"$q:\n${p2.take(1500)}")
    }
  }

  test("flat-ADC pqSearch keeps its query side broadcast (bounded-batch contract)") {
    // pqSearch's scaladoc pins the serving contract: flat ADC scans
    // every code per query BY DEFINITION, and the query-side (qid, tab)
    // rows reach the scan via an explicit broadcast whose ceiling the
    // doc computes. A future edit that silently drops the broadcast
    // hint would flip this into a shuffled cartesian product — same
    // results, catastrophically different shape at scale. Pin it.
    val emb = Tables.embeddings(spark, sf)
    val queries = graft.operators.Sampling.hashSample(emb, "vec_id", 0.1)
    val model = graft.operators.Similarity.pqTrain(
      emb, "vec_id", "embedding", m = 8, codes = 16)
    val encoded = graft.operators.Similarity.pqEncode(
      emb, "vec_id", "embedding", model)
    val out = graft.operators.Similarity.pqSearch(
      encoded, model, queries, "vec_id", "embedding", k = 5)
    val p = out.queryExecution.sparkPlan.toString
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(1500))
    assert(!p.contains("CartesianProduct"), p.take(1500))
  }

  test("multimodal decode: narrow object pipeline, one agg exchange, no cartesian") {
    // The decode path is deliberately the object pipeline (mapPartitions
    // is the per-partition-codec-init shape), so an object barrier is
    // expected; what must NOT appear is any join-shaped blow-up or an
    // extra exchange beyond the frames groupBy + the final doc_id join.
    // The feature extraction itself is narrow: decode adds no shuffle.
    val docs = Tables.documents(spark, sf)
    val media = graft.operators.MultiModal.media(spark, docs)
    val feats = graft.operators.MultiModal.extractFeatures(spark, media)
    val fp = feats.queryExecution.sparkPlan.toString
    assert(!fp.contains("Exchange"),
      s"feature extraction must be shuffle-free (narrow map):\n${fp.take(1500)}")
    assert(fp.contains("MapPartitions"), fp.take(1500))
    val frames = graft.operators.MultiModal.sampleFrames(spark, media, 7, 2)
    val fr = frames.queryExecution.sparkPlan.toString
    assert(!fr.contains("Exchange"),
      s"frame sampling must be shuffle-free (narrow flatMap):\n${fr.take(1500)}")
    val full = SparkEntry.queries("q_multimodal_decode")(spark, sf)
    val p = full.queryExecution.sparkPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      p.take(1500))
  }

  test("multimodal resize: still a shuffle-free narrow pipeline through the decode") {
    // resize is a per-row map feeding the same mapPartitions decode —
    // the composed resize→extractFeatures plan must stay exchange-free
    // (the oracle row then only adds its output sort)
    val media = graft.operators.MultiModal.media(spark, Tables.documents(spark, sf))
    val resized = graft.operators.MultiModal.resize(spark, media, targetLen = 96)
    val feats = graft.operators.MultiModal.extractFeatures(spark, resized)
    val fp = feats.queryExecution.sparkPlan.toString
    assert(!fp.contains("Exchange"),
      s"resize→decode must be shuffle-free (narrow maps):\n${fp.take(1500)}")
    val full = SparkEntry.queries("q_multimodal_resize")(spark, sf)
    val p = full.queryExecution.sparkPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      p.take(1500))
  }

  test("bm25 search: query side broadcasts, native top-k shrinks before the exchange") {
    val p = finalPlanOf("q_bm25_search")
    // the inverted-index probe: tiny query-term set BUILDS a broadcast
    // hash join keyed on term — the posting side must stream, never sort
    // or shuffle for the join
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
    // ranking is the native operator pair (partial heaps BEFORE the
    // final's exchange), not a row_number window over all candidates
    assert(p.contains("TopKPerKeyPartial") && p.contains("TopKPerKeyFinal"),
      p.take(1500))
    assert(!p.contains("Window"), p.take(1500))
    // documents scan prunes to (doc_id, text)
    val read = "ReadSchema: [^\n]*".r.findFirstIn(p).getOrElse("")
    assert(read.contains("doc_id") && read.contains("text"), read)
    assert(!read.contains("n_chars") && !read.contains("source"), read)
  }

  test("persisted bm25 row scores from the LOADED postings parquet") {
    // the lexical deployment row's point: the score side reads the saved
    // tf index (target/idx_servebm25/<tag>/<sf>), not the in-session
    // tokenize→tf lineage that built it; the probe keeps the search
    // pins (native top-k, no window, no cartesian, UDF-free)
    val df = SparkEntry.queries("q_bm25_serve_persisted")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val i = p.indexOf("== Initial Plan ==")
    val f = if (i >= 0) p.substring(0, i) else p
    assert(f.contains("idx_servebm25"),
      s"expected a parquet scan of the saved tf index:\n${f.take(1500)}")
    assert(f.contains("TopKPerKeyPartial") && !f.contains("Window"), f.take(1500))
    assert(!f.contains("CartesianProduct") && !f.contains("ScalaUDF"), f.take(1500))
  }

  test("hybrid rrf: dense tower broadcasts the query set, towers fuse without cartesian") {
    val p = finalPlanOf("q_hybrid_rrf")
    // the dense tower's query×corpus scoring broadcasts the (tiny) query
    // side; a BroadcastNestedLoopJoin here is by construction (the join
    // condition is the self-exclusion inequality), bounded by |queries|
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      p.take(1500))
    assert(!p.contains("CartesianProduct"), p.take(1500))
    // dense ranking is native top-k; EXACTLY ONE Window exec survives —
    // the final ≤20-row per-query fusion rank ("Window [" matches the
    // exec node, not WindowGroupLimit) — so a tower regressing from
    // TopKPerKey to a row_number window turns this red
    assert(p.contains("TopKPerKeyPartial"), p.take(1500))
    assert("Window \\[".r.findAllIn(p).size == 1, p.take(1500))
  }

  test("mixing/split/incremental rows: broadcast spec sides, stratum windows, no cartesian") {
    def logicalWindows(name: String) = {
      spark.catalog.clearCache()
      SparkEntry.queries(name)(spark, sf).queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }
    }
    // token-budget mix: the k-row budget spec joins as a BROADCAST, and
    // the running-sum window is partitioned by stratum — a global
    // (empty-partitionSpec) window here would be the single-reducer
    // cliff at corpus scale
    val mixWin = logicalWindows("q_token_budget_mix")
    assert(mixWin.nonEmpty && mixWin.forall(_.partitionSpec.nonEmpty))
    val mix = finalPlanOf("q_token_budget_mix")
    assert(mix.contains("BroadcastHashJoin"), mix.take(1000))
    assert(!mix.contains("CartesianProduct") &&
      !mix.contains("BroadcastNestedLoop"), mix.take(1000))
    // quality gate: same partitioned-window contract (rank and count
    // share the one stratum partition)
    val gateWin = logicalWindows("q_quality_gate")
    assert(gateWin.nonEmpty && gateWin.forall(_.partitionSpec.nonEmpty))
    // cluster split + incremental dedup: keyed equi-joins only — the
    // component map and band state meet the corpus through hash joins,
    // never a nested loop
    for (name <- Seq("q_cluster_split", "q_dedup_incr")) {
      val p = finalPlanOf(name)
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoop"), s"$name: ${p.take(1000)}")
    }
    // incremental ANN ingest: the upserted index probes through the
    // same native-kernel cell equi-join as the serving rows — no
    // ScalaUDF boxing, no cartesian fallback. ONE BroadcastNestedLoop
    // is by construction: serveWorkload's 1-row shift scalar broadcast
    // (the same bounded crossJoin every serving row carries).
    val ann = finalPlanOf("q_ann_incr")
    assert(!ann.contains("ScalaUDF"), ann.take(1000))
    assert(!ann.contains("CartesianProduct"), ann.take(1000))
    assert("BroadcastNestedLoopJoin".r.findAllIn(ann).size <= 1, ann.take(1000))
  }
}
