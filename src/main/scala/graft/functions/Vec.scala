package graft.functions

import org.apache.spark.sql.catalyst.util.ArrayData

/** Null-guarded ArrayData → primitive-array conversion shared by every
  * native vector kernel (NearestCells, PqCode/AdcTable, IvfPq encode/
  * probe, UnitVector, HyperplaneBuckets) and by the vector cache of
  * `KMeans.lloyd`.
  *
  * `ArrayData.toDoubleArray` on `UnsafeArrayData` is a raw memory copy
  * that IGNORES the null bitmap — a null array element silently reads
  * as 0.0. The Scala UDFs these kernels replaced failed loudly (NPE
  * boxing the null element), so without this scan a dirty vector would
  * produce a plausible-but-wrong cell/code/bucket instead of an error,
  * inverting the repo's loud-failure contract. The scan is one
  * `isNullAt` pass per row — noise next to the O(nlist·dim) distance
  * loops that follow it.
  */
object Vec {
  def dense(a: ArrayData, who: String): Array[Double] = {
    val n = a.numElements()
    var i = 0
    while (i < n) {
      if (a.isNullAt(i))
        throw new IllegalArgumentException(
          s"$who: null element at index $i of an input vector — " +
            "filter or impute dirty vectors upstream")
      i += 1
    }
    a.toDoubleArray()
  }
}
