package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType}

/** Centroid scoring kernel shared by interpreted eval and generated
  * code: the flattened row-major centroid matrix (nlist × dim doubles —
  * the same bounded driver state every IVF path already holds) plus the
  * two argmin scans over it. Generated code calls straight into these
  * JIT-compiled primitive loops — one virtual dispatch per row, zero
  * boxing, zero per-row `Seq` conversion — which is the whole win over
  * the Scala-UDF form (udf input marshalling copies every vector into a
  * boxed `Array[Double]` per row).
  *
  * Floating-point sequence is bit-identical to the UDFs this replaces:
  * left-to-right squared-difference accumulation per centroid, strict
  * `<` argmin (first index wins ties), and the probe list ordered by
  * (distance, index) ascending exactly as `sortBy((d, c))` produced.
  *
  * `absolute` switches the per-element difference to |x| − |c| — the
  * reference's K-means variant-1 metric (src/Kmeans.java:62-70), whose
  * expression form is `aggregate(zip_with(pow(abs(x) - abs(y), 2)))`.
  * `StrictMath.pow(d, 2)` is `d * d` exactly (fdlibm special-cases
  * y == 2), so the kernel's distances are bit-identical to it.
  */
final class NearestCellsKernel(val flat: Array[Double], val dim: Int,
                               val absolute: Boolean = false)
    extends Serializable {
  // dim guard BEFORE the division: a dim=0 matrix must die with the
  // contract message, not an unexplained ArithmeticException.
  require(dim > 0, s"centroid dim must be positive, got $dim")
  val n: Int = flat.length / dim
  require(n * dim == flat.length,
    s"centroid matrix ${flat.length} doubles not divisible by dim $dim")
  require(n > 0, "centroid matrix must be non-empty")
  // |c| once per kernel, not once per row
  private val flatAbs: Array[Double] = if (absolute) flat.map(math.abs) else null

  @inline private def sqDistAt(u: Array[Double], c: Int): Double = {
    var acc = 0.0
    val off = c * dim
    var i = 0
    while (i < dim) { val d = u(i) - flat(off + i); acc += d * d; i += 1 }
    acc
  }

  @inline private def absSqDistAt(u: Array[Double], c: Int): Double = {
    var acc = 0.0
    val off = c * dim
    var i = 0
    while (i < dim) {
      val d = math.abs(u(i)) - flatAbs(off + i); acc += d * d; i += 1
    }
    acc
  }

  @inline private def distAt(u: Array[Double], c: Int): Double =
    if (absolute) absSqDistAt(u, c) else sqDistAt(u, c)

  private def checkDim(len: Int): Unit =
    require(len == dim, s"ragged vector: $len dims vs centroid $dim")

  /** Nearest-centroid index (the IVF cell assign) — the single primitive
    * core; the fused IVF-PQ kernel shares it, so argmin/tie rules live
    * in exactly one place. The rule is Spark's
    * `array_position(d, array_min(d))`: the first index of the minimum,
    * with NaN above every number (+Inf included). On finite distances
    * that is the plain strict-`<` scan.
    */
  def best(u: Array[Double]): Int = {
    checkDim(u.length)
    var best = 0
    var bestD = distAt(u, 0)
    var c = 1
    while (c < n) {
      val d = distAt(u, c)
      if (d < bestD || (bestD != bestD && d == d)) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** The `nprobe` nearest centroid indices, ordered by (distance, index)
    * ascending — a bounded insertion heap, no full sort of nlist.
    * Single primitive core, shared with the fused IVF-PQ kernel.
    */
  def top(u: Array[Double], nprobe: Int): Array[Int] = {
    checkDim(u.length)
    val cap = math.min(nprobe, n)
    val dist = new Array[Double](cap)
    val idx = new Array[Int](cap)
    var count = 0
    var c = 0
    while (c < n) {
      val d = distAt(u, c)
      if (count < cap) {
        var pos = count
        while (pos > 0 && d < dist(pos - 1)) {
          dist(pos) = dist(pos - 1); idx(pos) = idx(pos - 1); pos -= 1
        }
        dist(pos) = d; idx(pos) = c; count += 1
      } else if (d < dist(cap - 1)) {
        var pos = cap - 1
        while (pos > 0 && d < dist(pos - 1)) {
          dist(pos) = dist(pos - 1); idx(pos) = idx(pos - 1); pos -= 1
        }
        dist(pos) = d; idx(pos) = c
      }
      c += 1
    }
    idx
  }

  // ArrayData adapters for generated code: one null-guarded primitive
  // copy ([[Vec.dense]]), then the shared loops above.
  def best(a: ArrayData): Int = best(Vec.dense(a, "nearest-cell scan"))
  def top(a: ArrayData, nprobe: Int): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(top(Vec.dense(a, "probe-list scan"), nprobe))
}

/** Native Catalyst nearest-centroid expression. Two explicit modes
  * (`asCell` — NOT inferred from nprobe, so a 1-probe LIST stays an
  * `array<int>` that `explode` accepts): cell-assign yields the nearest
  * cell id (int); probe-list yields the `nprobe` nearest ids
  * (`array<int>` ordered by distance), any nprobe ≥ 1. One expression
  * node holds the whole centroid matrix, so — unlike an nlist-way
  * `least(...)` expression tree — the plan stays flat no matter how
  * many cells the index has (the round-1 plan-explosion lesson that
  * originally forced these scans into UDFs).
  *
  * Used by the IVF family ([[graft.operators.Similarity]] `ivfTopK`,
  * `semDedupPairs`) for cell assignment and query probe lists.
  */
case class NearestCells(child: Expression, kernel: NearestCellsKernel,
                        nprobe: Int, asCell: Boolean) extends UnaryExpression {
  require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
  require(!asCell || nprobe == 1,
    s"cell-assign mode is single-result by definition, got nprobe $nprobe")

  override def dataType: DataType =
    if (asCell) IntegerType else ArrayType(IntegerType, containsNull = false)

  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    if (asCell) kernel.best(a) else kernel.top(a, nprobe)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val k = ctx.addReferenceObj("nearestCellsKernel", kernel,
      classOf[NearestCellsKernel].getName)
    nullSafeCodeGen(ctx, ev, a =>
      if (asCell) s"${ev.value} = $k.best($a);"
      else s"${ev.value} = $k.top($a, $nprobe);")
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCells =
    copy(child = newChild)
}

object NearestCells {
  def kernel(centroids: Array[Array[Double]], absolute: Boolean = false): NearestCellsKernel = {
    require(centroids.nonEmpty && centroids.head.nonEmpty,
      "centroid matrix must be non-empty with non-empty rows")
    val dim = centroids.head.length
    require(centroids.forall(_.length == dim),
      s"ragged centroid matrix: dims ${centroids.map(_.length).distinct.mkString(",")}")
    new NearestCellsKernel(centroids.flatten, dim, absolute)
  }

  /** Column API: nearest-cell id of an `array<double>` vector. */
  def cell(v: Column, k: NearestCellsKernel): Column =
    Bridge.column(NearestCells(Bridge.expression(v.cast("array<double>")), k,
      nprobe = 1, asCell = true))

  /** Column API: the `nprobe` nearest cell ids, distance-ascending —
    * always an `array<int>`, including nprobe = 1.
    */
  def probes(v: Column, k: NearestCellsKernel, nprobe: Int): Column =
    Bridge.column(NearestCells(Bridge.expression(v.cast("array<double>")), k,
      nprobe, asCell = false))
}
