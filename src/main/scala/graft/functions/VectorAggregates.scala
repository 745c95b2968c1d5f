package graft.functions

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Typed aggregates over embedding vectors.
  *
  * [[OuterProductSumAgg]] accumulates the upper triangle of Σ_rows v·vᵀ
  * into ONE long array per group — the Gram-matrix building block for
  * principal-axis projection (q114). The previous plan materialized the
  * dim² cell grid per row (double posexplode → n·dim² rows: 4e12 rows at
  * 1e9×64-dim scale) before the aggregation; this buffer does the same
  * arithmetic inside the aggregate, so the only rows that exist are the
  * per-group partials (partitions · 1 row, each a dim(dim+1)/2 array).
  *
  * Exactness: inputs are micro-quantized integer-valued doubles with
  * |v|² ≤ 2^50 enforced upstream (Similarity.guardedVv), so each product
  * is an exact long ≤ 2^50. Accumulation uses Math.addExact — a partition
  * whose partial sum would exceed 2^63 fails LOUDLY (ArithmeticException),
  * never silently wraps; callers keep per-partition row counts bounded
  * (every unit-norm-ish corpus is ≤ 2^40 per product, i.e. ≥ 8M rows per
  * partition before the guard can trip). Cross-partition totals are summed
  * in decimal(38,0) by the caller, so the guard only ever applies to one
  * partition's rows, not the corpus.
  */
object VectorAggregates {

  /** Flat-call input wrapper (the [[EwmaFunctions.ewmaUdaf]] pattern). */
  case class VecRow(vq: Seq[Double])

  /** Row-major upper-triangle index order: (0,0),(0,1)..(0,d-1),(1,1)..
    * Decode idx → (i,j) with [[triDim]] + sequential replay on the driver.
    */
  class OuterProductSumAgg extends Aggregator[VecRow, Array[Long], Seq[Long]] {
    override def zero: Array[Long] = Array.empty

    override def reduce(b: Array[Long], r: VecRow): Array[Long] = {
      val v = r.vq
      val dim = v.length
      val need = dim * (dim + 1) / 2
      val buf = if (b.isEmpty) new Array[Long](need) else b
      require(buf.length == need,
        s"OuterProductSumAgg: ragged embedding dims (buffer ${buf.length}, row needs $need)")
      var i = 0
      var idx = 0
      while (i < dim) {
        val xi = v(i).toLong
        var j = i
        while (j < dim) {
          buf(idx) = Math.addExact(buf(idx), xi * v(j).toLong)
          idx += 1
          j += 1
        }
        i += 1
      }
      buf
    }

    override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] =
      if (b1.isEmpty) b2
      else if (b2.isEmpty) b1
      else {
        require(b1.length == b2.length,
          s"OuterProductSumAgg: ragged embedding dims across partials (${b1.length} vs ${b2.length})")
        var i = 0
        while (i < b1.length) { b1(i) = Math.addExact(b1(i), b2(i)); i += 1 }
        b1
      }

    override def finish(b: Array[Long]): Seq[Long] = b.toSeq
    override def bufferEncoder: Encoder[Array[Long]] = Encoders.kryo[Array[Long]]
    override def outputEncoder: Encoder[Seq[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
  }

  /** Column form: `outerProductSum(col("vq"))` → array<bigint> triangle. */
  val outerProductSum: Column => Column = {
    val f = udaf(new OuterProductSumAgg, Encoders.product[VecRow])
    (c: Column) => f(c)
  }

  /** Elementwise EXACT vector sum — the centroid numerator (`centroid =
    * vec_sum_agg(vq) / count(*)`, the maintenance step of every
    * KMeans/IVF codebook). Inputs follow the [[OuterProductSumAgg]]
    * contract: micro-quantized INTEGER-VALUED doubles (fractional parts
    * would truncate — the quantization is the caller's step); each
    * component accumulates through `Math.addExact`, so a partial past
    * 2^63 fails loudly instead of wrapping.
    */
  class VecSumAgg extends Aggregator[VecRow, Array[Long], Seq[Long]] {
    override def zero: Array[Long] = Array.empty
    override def reduce(b: Array[Long], r: VecRow): Array[Long] = {
      val v = r.vq
      val buf = if (b.isEmpty) new Array[Long](v.length) else b
      require(buf.length == v.length,
        s"VecSumAgg: ragged embedding dims (buffer ${buf.length}, row ${v.length})")
      var i = 0
      while (i < buf.length) {
        buf(i) = Math.addExact(buf(i), v(i).toLong)
        i += 1
      }
      buf
    }
    override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] =
      if (b1.isEmpty) b2
      else if (b2.isEmpty) b1
      else {
        require(b1.length == b2.length,
          s"VecSumAgg: ragged embedding dims across partials (${b1.length} vs ${b2.length})")
        var i = 0
        while (i < b1.length) { b1(i) = Math.addExact(b1(i), b2(i)); i += 1 }
        b1
      }
    override def finish(b: Array[Long]): Seq[Long] = b.toSeq
    override def bufferEncoder: Encoder[Array[Long]] = Encoders.kryo[Array[Long]]
    override def outputEncoder: Encoder[Seq[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
  }

  /** Column form: `vecSum(col("vq"))` → array<bigint> elementwise sum. */
  val vecSum: Column => Column = {
    val f = udaf(new VecSumAgg, Encoders.product[VecRow])
    (c: Column) => f(c)
  }

  /** Inverse of `L = dim(dim+1)/2`; throws if L is not triangular (the
    * cross-partition ragged-dim case posexplode+groupBy can't see).
    */
  def triDim(triLen: Int): Int = {
    val dim = ((math.sqrt(1.0 + 8.0 * triLen) - 1.0) / 2.0).round.toInt
    require(dim * (dim + 1) / 2 == triLen,
      s"triangle length $triLen is not dim(dim+1)/2 — ragged embedding dims across partitions")
    dim
  }
}
