package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** Deterministic random-hyperplane machinery shared by the ANN bucketing
  * (graft.operators.HyperplaneLSH) and the banded near-dup candidate
  * generator (graft.operators.EmbedNearDup).
  *
  * Planes are pseudo-random but DETERMINISTIC (splitmix64 of
  * (plane, dim) mapped to [-1, 1]) — reproducible across runs and JVMs,
  * no rand(). Plane j exists independently of how callers band them:
  * HyperplaneLSH uses planes 0..bits-1 as one signature; EmbedNearDup
  * slices planes 0..bands*r-1 into r-bit bands.
  *
  * `hyperplane_sig` computes ALL band keys of a vector in one native
  * kernel pass (bands × r dot products, planes cached per (dim, bits))
  * instead of bands×r separate vec_dot projections with 64-double array
  * literals each — the latter blows past codegen method limits and
  * re-materializes the plane arrays per row.
  */
object Hyperplanes {

  /** plane j, dimension d → uniform [-1, 1]. */
  def planes(dim: Int, bits: Int): Array[Array[Double]] =
    Array.tabulate(bits, dim) { (j, d) =>
      Hashing.mix64(j.toLong * 1048576 + d).toDouble / Long.MaxValue
    }

  // planes flattened row-major, cached per (dim, bits) — the kernel runs
  // per row, the planes are a function of only the shape
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Double]]()

  private def planesFlat(dim: Int, bits: Int): Array[Double] =
    cache.computeIfAbsent((dim, bits), { _ =>
      val ps = planes(dim, bits)
      val flat = new Array[Double](bits * dim)
      var j = 0
      while (j < bits) {
        System.arraycopy(ps(j), 0, flat, j * dim, dim)
        j += 1
      }
      flat
    })

  /** Static kernel: vector → array of `bands` band keys, band b's key =
    * the r-bit sign pattern of planes [b*r, (b+1)*r). Sign test (dot > 0)
    * matches HyperplaneLSH.bucket exactly. */
  def sig(v: ArrayData, bitsPerBand: Int, bands: Int): ArrayData = {
    val dim = v.numElements()
    val flat = planesFlat(dim, bitsPerBand * bands)
    val keys = new Array[Int](bands)
    var plane = 0
    var b = 0
    while (b < bands) {
      var key = 0
      var j = 0
      while (j < bitsPerBand) {
        val off = plane * dim
        var acc = 0.0
        var d = 0
        while (d < dim) { acc += v.getDouble(d) * flat(off + d); d += 1 }
        if (acc > 0) key |= (1 << j)
        plane += 1
        j += 1
      }
      keys(b) = key
      b += 1
    }
    new GenericArrayData(keys)
  }
}

case class HyperplaneSig(child: Expression, bitsPerBand: Int, bands: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"hyperplane_sig needs array<double>, got ${other.catalogString}")
  }

  override protected def nullSafeEval(input: Any): Any =
    Hyperplanes.sig(input.asInstanceOf[ArrayData], bitsPerBand, bands)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.Hyperplanes.sig($c, $bitsPerBand, $bands)")

  override protected def withNewChildInternal(newChild: Expression): HyperplaneSig =
    copy(child = newChild)

  override def prettyName: String = "hyperplane_sig"
}
