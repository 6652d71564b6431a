package graft.queries

import graft.Tables
import graft.functions.Num
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded predicate-fuzz corpus: N random boolean expression trees over
  * lineitem, each rendered from ONE AST into BOTH a Spark Column and the
  * DuckDB oracle SQL. Hand-written queries exercise operators the author
  * thought to combine; these exercise the combinations nobody thought
  * of (NOT over OR over mixed numeric/timestamp/string comparisons),
  * with the cross-engine hash check as the judge.
  *
  * Determinism: the generator runs once at class load from a FIXED seed,
  * so every JVM — Verify, Bench, the driver — sees byte-identical
  * queries; regenerating with a new seed is a deliberate code change.
  * The shared-AST design cannot hide a Spark bug behind an identical
  * oracle bug: the two engines share only the rendered text/plan, not
  * evaluation code. All leaf literals parse to exactly-representable
  * comparisons in both engines (IEEE doubles from the same decimal
  * string, UTC-midnight timestamps, exact strings), so no row can flip
  * on parsing differences.
  */
object FuzzQueries {

  private sealed trait P
  private case class Leaf(c: String, op: String, sqlLit: String,
                          colLit: Column) extends P
  private case class And(a: P, b: P) extends P
  private case class Or(a: P, b: P) extends P
  private case class Not(a: P) extends P

  private def toCol(p: P): Column = p match {
    case Leaf(c, op, _, l) => op match {
      case "<"  => col(c) < l
      case "<=" => col(c) <= l
      case ">"  => col(c) > l
      case ">=" => col(c) >= l
      case "="  => col(c) === l
    }
    case And(a, b) => toCol(a) && toCol(b)
    case Or(a, b)  => toCol(a) || toCol(b)
    case Not(a)    => !toCol(a)
  }

  private def toSql(p: P): String = p match {
    case Leaf(c, op, v, _) => s"$c $op $v"
    case And(a, b) => s"(${toSql(a)} AND ${toSql(b)})"
    case Or(a, b)  => s"(${toSql(a)} OR ${toSql(b)})"
    case Not(a)    => s"(NOT ${toSql(a)})"
  }

  /** Leaf grammar over lineitem's columns; value ranges chosen so
    * predicates are selective but rarely empty (data ranges: quantity
    * 1..50, extendedprice ~900..105000, discount 0..0.10 in cents,
    * shipdate 1995..2001).
    */
  private def genLeaf(rng: scala.util.Random): Leaf =
    rng.nextInt(8) match {
      case 0 =>
        val v = 1 + rng.nextInt(50)
        Leaf("l_quantity", pick(rng, "<", "<=", ">", ">=", "="),
          v.toString, lit(v.toDouble))
      case 1 =>
        val v = 1000 + rng.nextInt(104000)
        Leaf("l_extendedprice", pick(rng, "<", ">"), v.toString, lit(v.toDouble))
      case 2 =>
        val cents = rng.nextInt(11)
        val s = f"0.${cents}%02d"
        Leaf("l_discount", pick(rng, "<=", ">="), s, lit(s.toDouble))
      case 3 =>
        val cents = rng.nextInt(9)
        val s = f"0.${cents}%02d"
        Leaf("l_tax", pick(rng, "<=", ">="), s, lit(s.toDouble))
      case 4 =>
        val d = f"${1995 + rng.nextInt(7)}%04d-${1 + rng.nextInt(12)}%02d-${1 + rng.nextInt(28)}%02d"
        Leaf("l_shipdate", pick(rng, "<", ">="),
          s"TIMESTAMP '$d 00:00:00'", lit(d).cast("timestamp"))
      case 5 =>
        val v = pick(rng, "A", "N", "R")
        Leaf("l_returnflag", "=", s"'$v'", lit(v))
      case 6 =>
        val v = pick(rng, "O", "F")
        Leaf("l_linestatus", "=", s"'$v'", lit(v))
      case 7 =>
        val v = 1 + rng.nextInt(7)
        Leaf("l_linenumber", pick(rng, "=", "<="), v.toString, lit(v))
    }

  private def pick[A](rng: scala.util.Random, xs: A*): A = xs(rng.nextInt(xs.length))

  /** The fixed fuzz set: seed 20260813, 10 trees of depth ≤ 3. */
  private val preds: Seq[(String, P)] = {
    val rng = new scala.util.Random(20260813L)
    (0 until 10).map(i => (f"q_fuzz_$i%02d", genOver(rng, 3, genLeaf)))
  }

  private def run(s: SparkSession, d: String, p: P): DataFrame =
    Tables.lineitem(s, d)
      .filter(toCol(p))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"),
        // exact long-cents sums (Num.cents): bit-identical doubles to
        // the former DECIMAL(18,2) route, minus the per-row BigDecimal
        // cast — the SQL oracle keeps the decimal text, proving parity
        Num.unitsAsDouble(Num.sumUnits(Num.cents(col("l_quantity"))), 100L)
          .as("qty"),
        Num.unitsAsDouble(Num.sumUnits(Num.cents(col("l_extendedprice"))), 100L)
          .as("ext"))
      .orderBy("l_returnflag", "l_linestatus")

  private def sqlOf(p: P): String =
    s"""SELECT l_returnflag, l_linestatus, count(*) AS n,
              CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty,
              CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS ext
       FROM lineitem WHERE ${toSql(p)}
       GROUP BY l_returnflag, l_linestatus
       ORDER BY l_returnflag, l_linestatus"""

  // ---------------------------------------------------------------------
  // Join fuzz: random (join type × orders predicate × lineitem predicate)
  // triples — the pushdown/join-rewrite interactions (a semi-join with a
  // NOT on one side, a left join whose build-side filter must stay UNDER
  // the join, ...) that hand-written joins don't sweep.
  // ---------------------------------------------------------------------

  private def genLeafOrders(rng: scala.util.Random): Leaf =
    rng.nextInt(4) match {
      case 0 =>
        val v = 2000 + rng.nextInt(497000)
        Leaf("o_totalprice", pick(rng, "<", ">"), v.toString, lit(v.toDouble))
      case 1 =>
        val v = pick(rng, "P", "O", "F")
        Leaf("o_orderstatus", "=", s"'$v'", lit(v))
      case 2 =>
        val d = f"${1995 + rng.nextInt(7)}%04d-${1 + rng.nextInt(12)}%02d-${1 + rng.nextInt(28)}%02d"
        Leaf("o_orderdate", pick(rng, "<", ">="),
          s"TIMESTAMP '$d 00:00:00'", lit(d).cast("timestamp"))
      case 3 =>
        val v = pick(rng, "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
        Leaf("o_orderpriority", "=", s"'$v'", lit(v))
    }

  private def genOver(rng: scala.util.Random, depth: Int,
                      leaf: scala.util.Random => Leaf): P =
    if (depth <= 0 || rng.nextInt(3) == 0) leaf(rng)
    else rng.nextInt(3) match {
      case 0 => And(genOver(rng, depth - 1, leaf), genOver(rng, depth - 1, leaf))
      case 1 => Or(genOver(rng, depth - 1, leaf), genOver(rng, depth - 1, leaf))
      case 2 => Not(genOver(rng, depth - 1, leaf))
    }

  private val joinPreds: Seq[(String, String, P, P)] = {
    val rng = new scala.util.Random(474747L)
    (0 until 5).map { i =>
      (f"q_fuzzjoin_$i%02d",
        pick(rng, "inner", "left", "left_semi", "left_anti"),
        genOver(rng, 2, genLeafOrders),
        genOver(rng, 2, genLeaf))
    }
  }

  private def runJoin(s: SparkSession, d: String, jt: String,
                      pO: P, pL: P): DataFrame = {
    val o = Tables.orders(s, d).filter(toCol(pO))
    val l = Tables.lineitem(s, d).filter(toCol(pL))
    val tp = Num.unitsAsDouble(Num.sumUnits(Num.cents(col("o_totalprice"))), 100L)
      .as("tp")
    val joined = o.join(l, col("o_orderkey") === col("l_orderkey"), jt)
    val agg = jt match {
      case "inner" | "left" =>
        joined.groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"), count(col("l_orderkey")).as("m"), tp)
      case _ => // semi/anti expose only the left side
        joined.groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"), tp)
    }
    agg.orderBy("o_orderpriority")
  }

  private def joinSqlOf(jt: String, pO: P, pL: P): String = {
    val tp = "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS tp"
    jt match {
      case "inner" =>
        s"""SELECT o_orderpriority, count(*) AS n, count(l_orderkey) AS m, $tp
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey
           WHERE (${toSql(pO)}) AND (${toSql(pL)})
           GROUP BY o_orderpriority ORDER BY o_orderpriority"""
      case "left" =>
        s"""SELECT o_orderpriority, count(*) AS n, count(l_orderkey) AS m, $tp
           FROM orders LEFT JOIN (SELECT * FROM lineitem WHERE ${toSql(pL)}) l
             ON o_orderkey = l.l_orderkey
           WHERE ${toSql(pO)}
           GROUP BY o_orderpriority ORDER BY o_orderpriority"""
      case "left_semi" =>
        s"""SELECT o_orderpriority, count(*) AS n, $tp
           FROM orders o
           WHERE (${toSql(pO)}) AND EXISTS (SELECT 1 FROM lineitem l
             WHERE l.l_orderkey = o.o_orderkey AND (${toSql(pL)}))
           GROUP BY o_orderpriority ORDER BY o_orderpriority"""
      case "left_anti" =>
        s"""SELECT o_orderpriority, count(*) AS n, $tp
           FROM orders o
           WHERE (${toSql(pO)}) AND NOT EXISTS (SELECT 1 FROM lineitem l
             WHERE l.l_orderkey = o.o_orderkey AND (${toSql(pL)}))
           GROUP BY o_orderpriority ORDER BY o_orderpriority"""
    }
  }

  // ---------------------------------------------------------------------
  // Window fuzz: random (function × partition × order direction × ROWS
  // frame) combinations — frames and peer handling are the classic
  // cross-engine window divergence, and every generated ORDER BY ends in
  // the (l_orderkey, l_linenumber) unique tiebreak so navigation
  // functions are total-order deterministic on both engines.
  // ---------------------------------------------------------------------

  private case class WFn(sqlFn: String,
                         col: org.apache.spark.sql.expressions.WindowSpec => Column,
                         framed: Boolean)

  // the three rank functions cast to long: Spark emits int32 where
  // every other engine's window rank is int64 — the corpus-wide rule
  // keeps hashed integer columns free of width skew
  private def genWFn(rng: scala.util.Random): WFn = rng.nextInt(8) match {
    case 0 => WFn("row_number()", w => row_number().over(w).cast("long"), framed = false)
    case 1 => WFn("rank()", w => rank().over(w).cast("long"), framed = false)
    case 2 => WFn("dense_rank()", w => dense_rank().over(w).cast("long"), framed = false)
    case 3 =>
      val k = 1 + rng.nextInt(3)
      WFn(s"lag(l_quantity, $k)", w => lag(col("l_quantity"), k).over(w), framed = false)
    case 4 =>
      val k = 1 + rng.nextInt(2)
      WFn(s"lead(l_quantity, $k)", w => lead(col("l_quantity"), k).over(w), framed = false)
    case 5 => WFn("CAST(sum(CAST(l_quantity AS DECIMAL(18,2)))%OVER% AS DOUBLE)",
      // long-cents frame sum, then one correctly-rounded double divide:
      // the frame sum S is an exact integer < 2^53 (cents ≤ 5e3/row —
      // breaking it needs >1.8e12 rows in ONE window partition), so
      // double(S)/100.0 is the same nearest-double the decimal cast gave
      w => sum(Num.cents(col("l_quantity"))).over(w).cast("double") / lit(100.0),
      framed = true)
    case 6 => WFn("min(l_extendedprice)%OVER%",
      w => min(col("l_extendedprice")).over(w), framed = true)
    case 7 => WFn("count(*)%OVER%",
      w => count(lit(1)).over(w), framed = true)
  }

  private val frames: Seq[(String, (Long, Long))] = Seq(
    ("ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW",
      (org.apache.spark.sql.expressions.Window.unboundedPreceding, 0L)),
    ("ROWS BETWEEN 2 PRECEDING AND CURRENT ROW", (-2L, 0L)),
    ("ROWS BETWEEN CURRENT ROW AND 2 FOLLOWING", (0L, 2L)),
    ("ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING", (-1L, 1L)))

  private val partPool: Seq[Seq[String]] = Seq(
    Seq("l_returnflag"), Seq("l_linestatus"),
    Seq("l_returnflag", "l_linestatus"), Seq("l_linenumber"))

  /** `nullsKey` (wave 2 only): prepend `nullif(l_quantity, v)` as the
    * leading ORDER BY key with an EXPLICIT NULLS FIRST/LAST — the
    * documented cross-engine default divergence (Spark defaults ASC to
    * NULLS FIRST, DuckDB defaults everything to NULLS LAST), which only
    * an explicit spec on both engines can make agree, and which the
    * wave-1 grammar never exercised because lineitem's sort keys carry
    * no data nulls. The nullif injects nulls deterministically (every
    * row whose quantity equals v); the remaining keys keep the total
    * tiebreak, so navigation functions stay order-deterministic.
    */
  private case class WCase(alias: String, fn: WFn, part: Seq[String],
                           desc: Boolean, frame: Option[(String, (Long, Long))],
                           nullsKey: Option[(Int, Boolean)] = None) {
    def sparkCol: Column = {
      import org.apache.spark.sql.expressions.Window
      val ord = nullsKey match {
        case Some((v, first)) =>
          val nk = expr(s"nullif(l_quantity, $v)")
          val lead = (desc, first) match {
            case (true, true)   => nk.desc_nulls_first
            case (true, false)  => nk.desc_nulls_last
            case (false, true)  => nk.asc_nulls_first
            case (false, false) => nk.asc_nulls_last
          }
          Seq(lead, col("l_extendedprice").asc, col("l_orderkey").asc,
            col("l_linenumber").asc)
        case None =>
          (if (desc) col("l_extendedprice").desc else col("l_extendedprice").asc) +:
            Seq(col("l_orderkey").asc, col("l_linenumber").asc)
      }
      val base = Window.partitionBy(part.map(col): _*).orderBy(ord: _*)
      val w = frame.map { case (_, (lo, hi)) => base.rowsBetween(lo, hi) }
        .getOrElse(base)
      fn.col(w).as(alias)
    }
    def sql: String = {
      val dir = if (desc) "DESC" else "ASC"
      val orderSql = nullsKey match {
        case Some((v, first)) =>
          val nulls = if (first) "NULLS FIRST" else "NULLS LAST"
          s"nullif(l_quantity, $v) $dir $nulls, " +
            "l_extendedprice, l_orderkey, l_linenumber"
        case None => s"l_extendedprice $dir, l_orderkey, l_linenumber"
      }
      val over = s"OVER (PARTITION BY ${part.mkString(", ")} " +
        s"ORDER BY $orderSql" +
        frame.map(f => " " + f._1).getOrElse("") + ")"
      val body =
        if (fn.sqlFn.contains("%OVER%")) fn.sqlFn.replace("%OVER%", s" $over")
        else s"${fn.sqlFn} $over"
      s"$body AS $alias"
    }
  }

  private val winCases: Seq[(String, Seq[WCase])] = {
    val rng = new scala.util.Random(999331L)
    (0 until 5).map { i =>
      val cases = (0 until 3).map { j =>
        val fn = genWFn(rng)
        WCase(s"w$j", fn, pick(rng, partPool: _*), rng.nextBoolean(),
          if (fn.framed) Some(pick(rng, frames: _*)) else None)
      }
      (f"q_fuzzwin_$i%02d", cases)
    }
  }

  // (l_orderkey, l_linenumber) is NOT unique in this testdata (duplicated
  // line rows); (l_orderkey, l_linenumber, l_extendedprice) is — verified
  // at all three sfs — so both the window ORDER BYs (which end in the
  // orderkey/linenumber tiebreak AFTER l_extendedprice) and the final
  // output sort below are total, which is what makes the row-order hash
  // comparable across engines.
  private def runWin(s: SparkSession, d: String, cases: Seq[WCase]): DataFrame =
    Tables.lineitem(s, d)
      .select(Seq(col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice")) ++ cases.map(_.sparkCol): _*)
      .orderBy("l_orderkey", "l_linenumber", "l_extendedprice")

  private def winSqlOf(cases: Seq[WCase]): String =
    s"""SELECT l_orderkey, l_linenumber, l_extendedprice,
              ${cases.map(_.sql).mkString(", ")}
       FROM lineitem ORDER BY l_orderkey, l_linenumber, l_extendedprice"""

  // ---------------------------------------------------------------------
  // Wave 2 (round 13): the SAME grammars rendered at a second fixed
  // seed — the single-seed corpus already caught one real cross-engine
  // harness bug (window sort totality, SURVEY §2C), and a fresh draw is
  // the cheapest way to sweep combinations the first seed happened to
  // miss. The window wave additionally exercises the NULLS FIRST/LAST
  // divergence (every wave-2 window key carries a nullif-injected
  // nullable leading key — see WCase.nullsKey). Wave-1 seeds and
  // rendering are untouched: their rows are pinned by six rounds of
  // green sheets and must stay byte-identical.
  // ---------------------------------------------------------------------

  private val preds2: Seq[(String, P)] = {
    val rng = new scala.util.Random(20260815L)
    (0 until 3).map(i => (f"q_fuzz2_$i%02d", genOver(rng, 3, genLeaf)))
  }

  private val joinPreds2: Seq[(String, String, P, P)] = {
    val rng = new scala.util.Random(616161L)
    (0 until 2).map { i =>
      (f"q_fuzzjoin2_$i%02d",
        pick(rng, "inner", "left", "left_semi", "left_anti"),
        genOver(rng, 2, genLeafOrders),
        genOver(rng, 2, genLeaf))
    }
  }

  private val winCases2: Seq[(String, Seq[WCase])] = {
    val rng = new scala.util.Random(727272L)
    (0 until 3).map { i =>
      val cases = (0 until 3).map { j =>
        val fn = genWFn(rng)
        // nullif value drawn from quantity's 1..50 range so nulls are
        // actually injected; the NULLS placement is part of the draw
        WCase(s"w$j", fn, pick(rng, partPool: _*), rng.nextBoolean(),
          if (fn.framed) Some(pick(rng, frames: _*)) else None,
          nullsKey = Some((1 + rng.nextInt(50), rng.nextBoolean())))
      }
      (f"q_fuzzwin2_$i%02d", cases)
    }
  }

  // ---------------------------------------------------------------------
  // Aggregate fuzz: random grouping structure (plain / ROLLUP / CUBE /
  // GROUPING SETS) × random aggregate list × optional HAVING — the
  // grouping-null and duplicate-grouping-set semantics that differ
  // subtly across engines. Like every other fuzz family, ONE structure
  // is rendered to TWO surfaces: the Spark side goes through the
  // DataFrame API (groupBy / rollup / cube / groupingSets + agg +
  // filter), the oracle through ANSI SQL text — so a framework-side
  // Column/grouping-set rendering bug is catchable, not just an
  // evaluation bug (round-5 ADVICE: the earlier same-text-to-both
  // rendering verified independent evaluation only).
  // ---------------------------------------------------------------------

  /** kind: 0 plain GROUP BY, 1 ROLLUP, 2 CUBE, 3 GROUPING SETS over the
    * lattice (ks, ks.take(2), ks.head, ()); havingMin is the optional
    * HAVING count(*) >= threshold.
    */
  private case class AggCase(kind: Int, ks: Seq[String], havingMin: Option[Int]) {
    def sets: Seq[Seq[String]] =
      Seq(ks, ks.take(2), Seq(ks.head), Seq.empty).distinct
  }

  private val aggCases: Seq[(String, AggCase)] = {
    val rng = new scala.util.Random(55511L)
    val keys = Seq("l_returnflag", "l_linestatus", "l_linenumber")
    (0 until 5).map { i =>
      // every selected key must appear in the grouping spec (ANSI), so
      // the randomness is in the STRUCTURE over all three keys: the
      // hierarchy order for ROLLUP, the subset lattice for SETS.
      // Draw ORDER matters: shuffle, kind, having — the seed pins the
      // same five cases as the original string-rendered formulation.
      val ks = rng.shuffle(keys)
      val kind = rng.nextInt(4)
      val having = if (rng.nextBoolean()) Some(1 + rng.nextInt(20)) else None
      (f"q_fuzzagg_$i%02d", AggCase(kind, ks, having))
    }
  }

  private def aggSqlOf(c: AggCase): String = {
    // grouping keys appear in SELECT; grouping-set nulls are
    // disambiguated from data nulls by grouping() markers. The final
    // sort is total: gid identifies the grouping set, and within one
    // set the grouped keys are unique by construction (and non-NULL —
    // lineitem's keys carry no data nulls — so the engines' different
    // default NULL sort order can never reorder rows here).
    val grouping = c.kind match {
      case 0 => c.ks.mkString(", ")
      case 1 => s"ROLLUP (${c.ks.mkString(", ")})"
      case 2 => s"CUBE (${c.ks.mkString(", ")})"
      case 3 =>
        // distinct subsets only — duplicate grouping sets are an
        // engine-divergent corner ANSI leaves murky
        s"GROUPING SETS ((${c.sets.map(_.mkString(", ")).mkString("), (")}))"
    }
    val having = c.havingMin.map(h => s" HAVING count(*) >= $h").getOrElse("")
    // plain GROUP BY (kind 0): grouping() outside rollup/cube/sets is an
    // error in both engines — gid is the literal 0, mirroring runAgg
    val gidSql =
      if (c.kind == 0) "0"
      else
        """grouping(l_returnflag) + 2 * grouping(l_linestatus)
                + 4 * grouping(l_linenumber)"""
    s"""SELECT l_returnflag, l_linestatus, l_linenumber,
              CAST($gidSql AS BIGINT) AS gid,
              count(*) AS n,
              CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty,
              min(l_extendedprice) AS mn
       FROM lineitem
       GROUP BY $grouping$having
       ORDER BY gid, l_returnflag, l_linestatus, l_linenumber"""
  }

  // Spark side renders the SAME structure through the typed DataFrame
  // grouping-analytics API — rollup()/cube()/groupingSets() Columns, agg
  // Columns, HAVING as a post-agg filter on the aggregated alias. The
  // grouping() marker arithmetic mirrors the SQL text exactly, so types
  // and values agree while the RENDERING path is fully independent.
  private def runAgg(s: SparkSession, d: String, c: AggCase): DataFrame = {
    // fanOutSmall: the Expand×(grouping sets) + decimal partial aggs are
    // the heavy per-row kernel; parallelize past the scan-split floor
    // (no-op at scale). Decimal sums / counts / min are order-free, so
    // results are partitioning-independent.
    val li = graft.operators.Layout.fanOutSmall(Tables.lineitem(s, d))
    val kcols = c.ks.map(col)
    val grouped = c.kind match {
      case 0 => li.groupBy(kcols: _*)
      case 1 => li.rollup(kcols: _*)
      case 2 => li.cube(kcols: _*)
      case 3 => li.groupingSets(c.sets.map(_.map(col)), kcols: _*)
    }
    // kind 0 (plain GROUP BY) is a legal draw: grouping() outside
    // rollup/cube/sets is an AnalysisException in Spark AND an error in
    // DuckDB, so a plain group's gid is the literal 0 (every key
    // grouped) — without this, a future seed/case-count change that
    // happens to draw kind 0 turns a fuzz row red for a harness bug
    val gid = (if (c.kind == 0) lit(0)
      else grouping(col("l_returnflag"))
        + lit(2) * grouping(col("l_linestatus"))
        + lit(4) * grouping(col("l_linenumber"))).cast("long").as("gid")
    val agged = grouped.agg(gid,
      count(lit(1)).as("n"),
      Num.unitsAsDouble(Num.sumUnits(Num.cents(col("l_quantity"))), 100L)
        .as("qty"),
      min(col("l_extendedprice")).as("mn"))
    val havinged = c.havingMin match {
      case Some(h) => agged.filter(col("n") >= h)
      case None    => agged
    }
    havinged
      .select(col("l_returnflag"), col("l_linestatus"), col("l_linenumber"),
        col("gid"), col("n"), col("qty"), col("mn"))
      .orderBy("gid", "l_returnflag", "l_linestatus", "l_linenumber")
  }

  // ---------------------------------------------------------------------
  // Set-op fuzz: random INTERSECT / EXCEPT / UNION (ALL and DISTINCT)
  // chains over two filtered projections of the same table — multiset
  // vs set semantics and NULL equality in set ops.
  // ---------------------------------------------------------------------

  private val setCases: Seq[(String, (P, P, String))] = {
    val rng = new scala.util.Random(808017L)
    (0 until 3).map { i =>
      val op = pick(rng, "INTERSECT", "EXCEPT", "UNION", "INTERSECT ALL",
        "EXCEPT ALL", "UNION ALL")
      (f"q_fuzzset_$i%02d", (genOver(rng, 2, genLeaf), genOver(rng, 2, genLeaf), op))
    }
  }

  // wave-2 draws for the agg and set grammars (one case each — the
  // structures are small lattices; the pred/join/window waves carry
  // the combinatorial weight)
  private val aggCases2: Seq[(String, AggCase)] = {
    val rng = new scala.util.Random(434343L)
    val keys = Seq("l_returnflag", "l_linestatus", "l_linenumber")
    Seq(0).map { i =>
      val ks = rng.shuffle(keys)
      val kind = rng.nextInt(4)
      val having = if (rng.nextBoolean()) Some(1 + rng.nextInt(20)) else None
      (f"q_fuzzagg2_$i%02d", AggCase(kind, ks, having))
    }
  }

  private val setCases2: Seq[(String, (P, P, String))] = {
    val rng = new scala.util.Random(909090L)
    Seq(0).map { i =>
      val op = pick(rng, "INTERSECT", "EXCEPT", "UNION", "INTERSECT ALL",
        "EXCEPT ALL", "UNION ALL")
      (f"q_fuzzset2_$i%02d", (genOver(rng, 2, genLeaf), genOver(rng, 2, genLeaf), op))
    }
  }

  // ---------------------------------------------------------------------
  // Wave 3 (round 14): null-injected GROUPING and JOIN keys — the two
  // surfaces wave 2's nullif probe (window ORDER BY keys) did not reach,
  // and where the same cross-engine null-handling divergences live:
  // grouping-set NULL markers vs data NULLs in the same output column
  // (disambiguated only by grouping() arithmetic — the classic
  // confusion), and null-rejecting `=` vs null-safe `<=>` /
  // IS NOT DISTINCT FROM join matching (a live divergence class — the
  // round-13 q_lang_balance oracle fix was exactly a null-joining bug).
  // Wave-1/2 seeds and rendering stay byte-identical; these render
  // through their own functions because the null-injected key changes
  // the FROM shape (a pre-projected nullif column), the gid arithmetic,
  // and the final sort (explicit NULLS FIRST on every engine — data
  // NULLs now reach the output sort keys, where Spark defaults ASC to
  // NULLS FIRST and DuckDB to NULLS LAST).
  // ---------------------------------------------------------------------

  /** Agg fuzz over a null-injected grouping key: `ln_n = nullif(
    * l_linenumber, v)` replaces l_linenumber in the drawn structure, so
    * every grouping kind must keep a data-NULL group (grouping(ln_n) =
    * 0, ln_n IS NULL) distinct from a rolled-up marker row
    * (grouping(ln_n) = 1, ln_n IS NULL) — rows identical in every key
    * column that only the gid separates.
    */
  private val aggCases3: Seq[(String, AggCase, Int)] = {
    val rng = new scala.util.Random(140814L)
    val keys = Seq("l_returnflag", "l_linestatus", "ln_n")
    (0 until 3).map { i =>
      val ks = rng.shuffle(keys)
      val kind = rng.nextInt(4)
      val having = if (rng.nextBoolean()) Some(1 + rng.nextInt(20)) else None
      // l_linenumber spans 1..7 at every scale, so any drawn v injects
      // real NULLs everywhere
      (f"q_fuzzagg3_$i%02d", AggCase(kind, ks, having), 1 + rng.nextInt(7))
    }
  }

  private def runAgg3(s: SparkSession, d: String, c: AggCase, v: Int): DataFrame = {
    val li = graft.operators.Layout.fanOutSmall(Tables.lineitem(s, d))
      .withColumn("ln_n", expr(s"nullif(l_linenumber, $v)"))
    val kcols = c.ks.map(col)
    val grouped = c.kind match {
      case 0 => li.groupBy(kcols: _*)
      case 1 => li.rollup(kcols: _*)
      case 2 => li.cube(kcols: _*)
      case 3 => li.groupingSets(c.sets.map(_.map(col)), kcols: _*)
    }
    val gid = (if (c.kind == 0) lit(0)
      else grouping(col("l_returnflag"))
        + lit(2) * grouping(col("l_linestatus"))
        + lit(4) * grouping(col("ln_n"))).cast("long").as("gid")
    val agged = grouped.agg(gid,
      count(lit(1)).as("n"),
      Num.unitsAsDouble(Num.sumUnits(Num.cents(col("l_quantity"))), 100L)
        .as("qty"),
      min(col("l_extendedprice")).as("mn"))
    val havinged = c.havingMin match {
      case Some(h) => agged.filter(col("n") >= h)
      case None    => agged
    }
    // explicit NULLS FIRST on every key, both engines: within one
    // grouping set the data-NULL ln_n group must sort deterministically
    // against the non-NULL groups (the engines' DEFAULTS diverge)
    havinged
      .select(col("l_returnflag"), col("l_linestatus"), col("ln_n"),
        col("gid"), col("n"), col("qty"), col("mn"))
      .orderBy(col("gid"), col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first, col("ln_n").asc_nulls_first)
  }

  private def aggSqlOf3(c: AggCase, v: Int): String = {
    val grouping = c.kind match {
      case 0 => c.ks.mkString(", ")
      case 1 => s"ROLLUP (${c.ks.mkString(", ")})"
      case 2 => s"CUBE (${c.ks.mkString(", ")})"
      case 3 =>
        s"GROUPING SETS ((${c.sets.map(_.mkString(", ")).mkString("), (")}))"
    }
    val having = c.havingMin.map(h => s" HAVING count(*) >= $h").getOrElse("")
    val gidSql =
      if (c.kind == 0) "0"
      else
        """grouping(l_returnflag) + 2 * grouping(l_linestatus)
                + 4 * grouping(ln_n)"""
    s"""SELECT l_returnflag, l_linestatus, ln_n,
              CAST($gidSql AS BIGINT) AS gid,
              count(*) AS n,
              CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty,
              min(l_extendedprice) AS mn
       FROM (SELECT *, nullif(l_linenumber, $v) AS ln_n FROM lineitem)
       GROUP BY $grouping$having
       ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST,
                ln_n NULLS FIRST"""
  }

  /** Join fuzz over null-injected join keys: both sides' orderkeys pass
    * through nullif at independently drawn values, joined with either
    * null-rejecting `=` (the injected keys must NOT match — on both
    * engines) or null-safe `<=>` / IS NOT DISTINCT FROM (the two NULL
    * key sets MUST cross-match: order vO's row joins order vL's line
    * rows — the semantics only an explicit null-safe operator gives).
    * Orderkeys are dense 0..1499 at every scale, so drawn values hit
    * real rows everywhere; the null-safe cross-match stays bounded (one
    * order × ≤7 lines).
    */
  private val joinPreds3: Seq[(String, String, String, Int, Int, P, P)] = {
    val rng = new scala.util.Random(333999L)
    (0 until 4).map { i =>
      (f"q_fuzzjoin3_$i%02d",
        pick(rng, "inner", "left"),
        pick(rng, "=", "<=>"),
        rng.nextInt(1500), rng.nextInt(1500),
        genOver(rng, 2, genLeafOrders),
        genOver(rng, 2, genLeaf))
    }
  }

  private def runJoin3(s: SparkSession, d: String, jt: String, op: String,
                       vO: Int, vL: Int, pO: P, pL: P): DataFrame = {
    val o = Tables.orders(s, d).filter(toCol(pO))
    val l = Tables.lineitem(s, d).filter(toCol(pL))
    val ko = expr(s"nullif(o_orderkey, $vO)")
    val kl = expr(s"nullif(l_orderkey, $vL)")
    val cond = if (op == "=") ko === kl else ko <=> kl
    o.join(l, cond, jt)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), count(col("l_orderkey")).as("m"),
        Num.unitsAsDouble(Num.sumUnits(Num.cents(col("o_totalprice"))), 100L)
          .as("tp"))
      .orderBy("o_orderpriority")
  }

  private def joinSqlOf3(jt: String, op: String, vO: Int, vL: Int,
                         pO: P, pL: P): String = {
    val sqlOp = if (op == "=") "=" else "IS NOT DISTINCT FROM"
    val on = s"nullif(o_orderkey, $vO) $sqlOp nullif(l_orderkey, $vL)"
    val tp = "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS tp"
    jt match {
      case "inner" =>
        s"""SELECT o_orderpriority, count(*) AS n, count(l_orderkey) AS m, $tp
           FROM orders JOIN lineitem ON $on
           WHERE (${toSql(pO)}) AND (${toSql(pL)})
           GROUP BY o_orderpriority ORDER BY o_orderpriority"""
      case "left" =>
        s"""SELECT o_orderpriority, count(*) AS n, count(l_orderkey) AS m, $tp
           FROM orders LEFT JOIN (SELECT * FROM lineitem WHERE ${toSql(pL)}) l
             ON $on
           WHERE ${toSql(pO)}
           GROUP BY o_orderpriority ORDER BY o_orderpriority"""
    }
  }

  /** Set-op fuzz over a null-injected projection column — the last
    * grammar without NULL coverage, and the one where ANSI's OTHER
    * null-equality rule lives: set operations compare rows by the
    * NOT-DISTINCT rule (NULL matches NULL — the opposite of join `=`),
    * so an INTERSECT between two filtered projections must KEEP a
    * (rf, ls, NULL) row present on both sides, and the ALL variants
    * must count NULL-row multiplicities. Both engines claim ANSI here;
    * the hash check is what verifies they mean the same thing. Explicit
    * NULLS FIRST on the output sort, as with every null-injected key.
    * The seed was SEARCHED, not just drawn (the first candidate's
    * EXCEPT ALL was provably empty — its right predicate drew the
    * tautological l_linenumber <= 7 leaf, making the right side the
    * whole projection and the multiset difference empty, a vacuous
    * green): 616115 is the first seed whose two cases draw one
    * INTERSECT-family and one EXCEPT-family op, are NON-EMPTY at every
    * scale, and carry ≥1 NULL-ln_n output row at every scale — the
    * conditions under which the rows actually exercise not-distinct
    * NULL matching (drawn: EXCEPT + INTERSECT ALL).
    */
  private val setCases3: Seq[(String, (P, P, String, Int))] = {
    val rng = new scala.util.Random(616115L)
    (0 until 2).map { i =>
      val op = pick(rng, "INTERSECT", "EXCEPT", "UNION", "INTERSECT ALL",
        "EXCEPT ALL", "UNION ALL")
      (f"q_fuzzset3_$i%02d",
        (genOver(rng, 2, genLeaf), genOver(rng, 2, genLeaf), op,
          1 + rng.nextInt(7)))
    }
  }

  private def runSet3(s: SparkSession, d: String, a: P, b: P, op: String,
                      v: Int): DataFrame = {
    val base = Tables.lineitem(s, d)
      .withColumn("ln_n", expr(s"nullif(l_linenumber, $v)"))
    val pa = base.filter(toCol(a)).select("l_returnflag", "l_linestatus", "ln_n")
    val pb = base.filter(toCol(b)).select("l_returnflag", "l_linestatus", "ln_n")
    val combined = op match {
      case "INTERSECT"     => pa.intersect(pb)
      case "INTERSECT ALL" => pa.intersectAll(pb)
      case "EXCEPT"        => pa.except(pb)
      case "EXCEPT ALL"    => pa.exceptAll(pb)
      case "UNION"         => pa.union(pb).distinct()
      case "UNION ALL"     => pa.union(pb)
    }
    // total for the DISTINCT ops (rows unique); the ALL variants'
    // duplicates are content-identical rows, so their relative order
    // cannot move the row-order hash (the wave-1 contract)
    combined.orderBy(col("l_returnflag"), col("l_linestatus"),
      col("ln_n").asc_nulls_first)
  }

  private def setSqlOf3(a: P, b: P, op: String, v: Int): String =
    s"""SELECT * FROM (
         SELECT l_returnflag, l_linestatus, nullif(l_linenumber, $v) AS ln_n
         FROM lineitem WHERE ${toSql(a)}
         $op
         SELECT l_returnflag, l_linestatus, nullif(l_linenumber, $v) AS ln_n
         FROM lineitem WHERE ${toSql(b)})
       ORDER BY l_returnflag, l_linestatus, ln_n NULLS FIRST"""

  // scalar wave 2 (round 14): the one grammar wave 2 skipped — a fresh
  // seed over the same pinned-corner grammar (1-based substr,
  // non-negative modulo)
  private val scalarCases2: Seq[(String, Seq[(String, Either[SE, NE])])] = {
    val rng = new scala.util.Random(2718281L)
    (0 until 3).map { i =>
      val cols = (0 until 3).map { j =>
        (s"c$j", if (rng.nextBoolean()) Left(genStr(rng, 3)) else Right(genNum(rng, 3)))
      }
      (f"q_fuzzscalar2_$i%02d", cols)
    }
  }

  // ---------------------------------------------------------------------
  // Wave 4 (round 14, continuation): two aggregation surfaces no earlier
  // wave reached. (a) VALUE-based RANGE frames with numeric offsets: the
  // frame is defined by ORDER-key VALUES, so peers (ties) enter the
  // frame TOGETHER — semantics a ROWS frame cannot express, and
  // deterministic by construction over order-free aggregates (decimal
  // sum / min / count) even though the within-peer row order is not
  // total. (b) DISTINCT aggregates over null-injected arguments: both
  // engines drop NULLs from the distinct set, but only a gated row
  // proves they agree once nullif starts injecting them (the wave-3
  // grouping-key probe never reached aggregate ARGUMENTS).
  // ---------------------------------------------------------------------

  private case class RCase(alias: String, agg: Int, key: String,
                           desc: Boolean, lo: Long, hi: Long) {
    private def aggSql = agg match {
      case 0 => "CAST(sum(CAST(l_quantity AS DECIMAL(18,2)))%OVER% AS DOUBLE)"
      case 1 => "min(l_extendedprice)%OVER%"
      case _ => "count(*)%OVER%"
    }
    def sparkCol: Column = {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("l_returnflag"), col("l_linestatus"))
        .orderBy(if (desc) col(key).desc else col(key).asc)
        .rangeBetween(-lo, hi)
      (agg match {
        // see the wave-1 case-5 comment: exact long-cents frame sum,
        // identical nearest-double via one correctly-rounded division
        case 0 => sum(Num.cents(col("l_quantity"))).over(w).cast("double") /
          lit(100.0)
        case 1 => min(col("l_extendedprice")).over(w)
        case _ => count(lit(1)).over(w)
      }).as(alias)
    }
    def sql: String = {
      val dir = if (desc) "DESC" else "ASC"
      def bound(n: Long, side: String) =
        if (n == 0) "CURRENT ROW" else s"$n $side"
      val over = "OVER (PARTITION BY l_returnflag, l_linestatus " +
        s"ORDER BY $key $dir RANGE BETWEEN ${bound(lo, "PRECEDING")} " +
        s"AND ${bound(hi, "FOLLOWING")})"
      s"${aggSql.replace("%OVER%", s" $over")} AS $alias"
    }
  }

  private val winCases4: Seq[(String, Seq[RCase])] = {
    val rng = new scala.util.Random(777777777L)
    (0 until 3).map { i =>
      val cases = (0 until 3).map { j =>
        RCase(s"r$j", rng.nextInt(3), pick(rng, "l_orderkey", "l_linenumber"),
          rng.nextBoolean(), rng.nextInt(4).toLong, rng.nextInt(4).toLong)
      }
      (f"q_fuzzwin4_$i%02d", cases)
    }
  }

  /** Wave-4 execution: HYBRID window/decomposition, split by the sort
    * key's group cardinality — the measured trade (guide §1.1, A/B'd
    * both ways on this box):
    *
    *   - `l_linenumber`-keyed cases (7 distinct values → a 42-row
    *     (part, key) group table) run through
    *     [[graft.operators.RangeFrames]]: keyed aggregation + bounded
    *     key-offset fan-out + one broadcast equi-join. Each such case
    *     removes a whole sort+Window pass from the 6-task (r16 verdict
    *     #2: c8/c32 ≈ 1) window chain and replaces it with fully
    *     parallel stages whose group table stays 42 rows at ANY corpus
    *     size.
    *   - `l_orderkey`-keyed cases stay on the window chain: the key is
    *     near-unique, so the decomposition's group table ≈ n and its
    *     explode+re-aggregate+join does strictly more row work than
    *     WindowExec's one linear sliding pass — measured 3× SLOWER at
    *     bench scale (ab.sh disjoint ranges, +3.1..+5.9 s paired), and
    *     more bytes moved at production scale too.
    *
    * Values are identical either way (order-free partials: long-cents
    * sums, min, count; a RANGE frame is a pure function of the row's
    * (part, key)) — RangeFramesSpec pins the equivalence row-for-row.
    */
  private def runWin4(s: SparkSession, d: String, cases: Seq[RCase]): DataFrame = {
    import graft.operators.RangeFrames
    val base = Tables.lineitem(s, d).select("l_orderkey", "l_linenumber",
      "l_extendedprice", "l_quantity", "l_returnflag", "l_linestatus")
    val (lowCard, windowed) = cases.partition(_.key == "l_linenumber")
    val head = base.select(Seq(col("l_orderkey"), col("l_linenumber"),
      col("l_extendedprice"), col("l_returnflag"), col("l_linestatus")) ++
      windowed.map(_.sparkCol): _*)
    val out =
      if (lowCard.isEmpty) head
      else RangeFrames.withKeyRangeAggs(head,
        Seq("l_returnflag", "l_linestatus"), "l_linenumber",
        lowCard.map { c =>
          // DESC flips which side of the key interval is "preceding"
          val below = if (c.desc) c.hi else c.lo
          val above = if (c.desc) c.lo else c.hi
          val (partial, merge, finish) = c.agg match {
            case 0 => (sum(Num.cents(col("l_quantity"))),
              (x: Column) => sum(x),
              (x: Column) => x.cast("double") / lit(100.0))
            case 1 => (min(col("l_extendedprice")),
              (x: Column) => min(x), (x: Column) => x)
            case _ => (count(lit(1)),
              (x: Column) => sum(x), (x: Column) => x)
          }
          RangeFrames.KeyRangeAgg(c.alias, partial, merge, finish, below, above)
        }, src = Some(base))
    out.select(Seq(col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice")) ++ cases.map(c => col(c.alias)): _*)
      .orderBy("l_orderkey", "l_linenumber", "l_extendedprice")
  }

  private def winSqlOf4(cases: Seq[RCase]): String =
    s"""SELECT l_orderkey, l_linenumber, l_extendedprice,
              ${cases.map(_.sql).mkString(", ")}
       FROM lineitem ORDER BY l_orderkey, l_linenumber, l_extendedprice"""

  private val aggCases4: Seq[(String, Int, Int)] = {
    val rng = new scala.util.Random(161803398L)
    (0 until 2).map { i =>
      (f"q_fuzzagg4_$i%02d", 1 + rng.nextInt(7), 1 + rng.nextInt(40))
    }
  }

  private def runAgg4(s: SparkSession, d: String, v1: Int, v2: Int): DataFrame =
    graft.operators.Layout.fanOutSmall(Tables.lineitem(s, d))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"),
        countDistinct(expr(s"nullif(l_linenumber, $v1)")).as("cd_line"),
        countDistinct(expr(s"nullif(l_quantity, $v2)")).as("cd_qty"),
        // distinct over cents ⟺ distinct over DECIMAL(18,2) (both
        // injective images of the value set); same exact sum, same
        // nearest-double emission
        Num.unitsAsDouble(Num.sumUnitsDistinct(
          Num.cents(expr(s"nullif(l_quantity, $v2)"))), 100L).as("sd_qty"))
      .orderBy("l_returnflag", "l_linestatus")

  private def aggSqlOf4(v1: Int, v2: Int): String =
    s"""SELECT l_returnflag, l_linestatus, count(*) AS n,
              count(DISTINCT nullif(l_linenumber, $v1)) AS cd_line,
              count(DISTINCT nullif(l_quantity, $v2)) AS cd_qty,
              CAST(sum(DISTINCT CAST(nullif(l_quantity, $v2) AS DECIMAL(18,2)))
                   AS DOUBLE) AS sd_qty
       FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2"""

  private def setSqlOf(a: P, b: P, op: String): String =
    s"""SELECT * FROM (
         SELECT l_returnflag, l_linestatus, l_linenumber FROM lineitem
         WHERE ${toSql(a)}
         $op
         SELECT l_returnflag, l_linestatus, l_linenumber FROM lineitem
         WHERE ${toSql(b)})
       ORDER BY l_returnflag, l_linestatus, l_linenumber"""

  private def runSet(s: SparkSession, d: String, a: P, b: P, op: String): DataFrame = {
    val base = Tables.lineitem(s, d)
    val pa = base.filter(toCol(a)).select("l_returnflag", "l_linestatus", "l_linenumber")
    val pb = base.filter(toCol(b)).select("l_returnflag", "l_linestatus", "l_linenumber")
    val combined = op match {
      case "INTERSECT"     => pa.intersect(pb)
      case "INTERSECT ALL" => pa.intersectAll(pb)
      case "EXCEPT"        => pa.except(pb)
      case "EXCEPT ALL"    => pa.exceptAll(pb)
      case "UNION"         => pa.union(pb).distinct()
      case "UNION ALL"     => pa.union(pb)
    }
    combined.orderBy("l_returnflag", "l_linestatus", "l_linenumber")
  }

  // ---------------------------------------------------------------------
  // Scalar fuzz: random nested string/numeric expression trees over
  // documents — substr bounds, case folds, concat, length arithmetic,
  // modulo. The grammar deliberately EXCLUDES the known cross-engine
  // divergences (substr position 0 — DuckDB counts it before the
  // string, Spark clamps to 1; negative modulo sign conventions) and
  // pins everything else: 1-based positions, non-negative operands.
  // ---------------------------------------------------------------------

  private sealed trait SE { def col: Column; def sql: String }
  private case class SCol(name: String) extends SE {
    def col: Column = org.apache.spark.sql.functions.col(name)
    def sql: String = name
  }
  private case class SUpper(e: SE) extends SE {
    def col: Column = upper(e.col); def sql = s"upper(${e.sql})"
  }
  private case class SLower(e: SE) extends SE {
    def col: Column = lower(e.col); def sql = s"lower(${e.sql})"
  }
  private case class SSub(e: SE, p: Int, l: Int) extends SE {
    def col: Column = substring(e.col, p, l)
    def sql = s"substr(${e.sql}, $p, $l)"
  }
  private case class SCat(a: SE, b: SE) extends SE {
    def col: Column = concat(a.col, lit("_"), b.col)
    def sql = s"${a.sql} || '_' || ${b.sql}"
  }
  private sealed trait NE { def col: Column; def sql: String }
  private case class NCol(name: String) extends NE {
    def col: Column = org.apache.spark.sql.functions.col(name)
    def sql: String = name
  }
  private case class NLen(e: SE) extends NE {
    // cast long: Spark length() is int32, DuckDB's is BIGINT — and the
    // width propagates through every arithmetic node above this leaf
    def col: Column = length(e.col).cast("long")
    def sql = s"length(${e.sql})"
  }
  private case class NAdd(e: NE, k: Int) extends NE {
    def col: Column = e.col + k; def sql = s"(${e.sql} + $k)"
  }
  private case class NMul(e: NE, k: Int) extends NE {
    def col: Column = e.col * k; def sql = s"(${e.sql} * $k)"
  }
  private case class NMod(e: NE, k: Int) extends NE {
    // operands here are always non-negative, where % agrees everywhere
    def col: Column = e.col % k; def sql = s"(${e.sql} % $k)"
  }

  private def genStr(rng: scala.util.Random, depth: Int): SE = {
    val leaf = () => SCol(pick(rng, "text", "lang", "source"))
    if (depth <= 0 || rng.nextInt(3) == 0) leaf()
    else rng.nextInt(4) match {
      case 0 => SUpper(genStr(rng, depth - 1))
      case 1 => SLower(genStr(rng, depth - 1))
      case 2 => SSub(genStr(rng, depth - 1), 1 + rng.nextInt(5), 1 + rng.nextInt(10))
      case 3 => SCat(genStr(rng, depth - 1), SCol(pick(rng, "lang", "source")))
    }
  }

  private def genNum(rng: scala.util.Random, depth: Int): NE = {
    val leaf = () =>
      if (rng.nextBoolean()) NCol(pick(rng, "n_chars", "doc_id"))
      else NLen(genStr(rng, 1))
    if (depth <= 0 || rng.nextInt(3) == 0) leaf()
    else rng.nextInt(3) match {
      case 0 => NAdd(genNum(rng, depth - 1), rng.nextInt(100))
      case 1 => NMul(genNum(rng, depth - 1), 1 + rng.nextInt(9))
      case 2 => NMod(genNum(rng, depth - 1), 2 + rng.nextInt(97))
    }
  }

  private val scalarCases: Seq[(String, Seq[(String, Either[SE, NE])])] = {
    val rng = new scala.util.Random(314159L)
    (0 until 5).map { i =>
      val cols = (0 until 3).map { j =>
        (s"c$j", if (rng.nextBoolean()) Left(genStr(rng, 3)) else Right(genNum(rng, 3)))
      }
      (f"q_fuzzscalar_$i%02d", cols)
    }
  }

  private def runScalar(s: SparkSession, d: String,
                        cols: Seq[(String, Either[SE, NE])]): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id") +: cols.map { case (a, e) =>
        e.fold(_.col, _.col).as(a)
      }: _*)
      .orderBy("doc_id")

  private def scalarSqlOf(cols: Seq[(String, Either[SE, NE])]): String =
    s"""SELECT doc_id, ${cols.map { case (a, e) =>
           s"${e.fold(_.sql, _.sql)} AS $a" }.mkString(", ")}
       FROM documents ORDER BY doc_id"""

  val queries: Seq[Query] =
    (preds ++ preds2).map { case (name, p) => Query(name, sqlOf(p), run(_, _, p)) } ++
      (joinPreds ++ joinPreds2).map { case (name, jt, pO, pL) =>
        Query(name, joinSqlOf(jt, pO, pL), runJoin(_, _, jt, pO, pL))
      } ++
      joinPreds3.map { case (name, jt, op, vO, vL, pO, pL) =>
        Query(name, joinSqlOf3(jt, op, vO, vL, pO, pL),
          runJoin3(_, _, jt, op, vO, vL, pO, pL))
      } ++
      aggCases3.map { case (name, c, v) => Query(name, aggSqlOf3(c, v), runAgg3(_, _, c, v)) } ++
      scalarCases2.map { case (name, cols) =>
        Query(name, scalarSqlOf(cols), runScalar(_, _, cols))
      } ++
      setCases3.map { case (name, (a, b, op, v)) =>
        Query(name, setSqlOf3(a, b, op, v), runSet3(_, _, a, b, op, v))
      } ++
      (winCases ++ winCases2).map { case (name, cs) =>
        Query(name, winSqlOf(cs), runWin(_, _, cs))
      } ++
      winCases4.map { case (name, cs) => Query(name, winSqlOf4(cs), runWin4(_, _, cs)) } ++
      aggCases4.map { case (name, v1, v2) =>
        Query(name, aggSqlOf4(v1, v2), runAgg4(_, _, v1, v2))
      } ++
      (aggCases ++ aggCases2).map { case (name, c) => Query(name, aggSqlOf(c), runAgg(_, _, c)) } ++
      (setCases ++ setCases2).map { case (name, (a, b, op)) =>
        Query(name, setSqlOf(a, b, op), runSet(_, _, a, b, op))
      } ++
      scalarCases.map { case (name, cols) => Query(name, scalarSqlOf(cols), runScalar(_, _, cols)) }
}
