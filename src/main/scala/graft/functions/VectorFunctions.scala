package graft.functions

import org.apache.spark.sql.functions._

/** Aggregation over `array<double>` embedding columns. Per-row vector math
  * (dot product, cosine, LSH buckets) is codegen'd in
  * [[graft.plans.NativeExpressions]].
  */
object VectorFunctions {

  /** Dimension-wise mean of an `array<double>` column as a typed
    * `Aggregator` — THE way to aggregate vectors at corpus scale: the
    * buffer is one running (sum[dim], count) per group, so the aggregation
    * is a single map-side-combinable shuffle of `numGroups × dim` doubles.
    * The posexplode formulation shuffles `rows × dim` exploded rows — 64×
    * more shuffle bytes at dim=64 — and is kept only as the oracle's
    * reference semantics.
    *
    * Mixed-length inputs are a data error; the aggregator fails fast rather
    * than silently truncating to a common prefix.
    */
  class VectorAvgAgg extends org.apache.spark.sql.expressions.Aggregator[
      Seq[Double], VectorAvgAgg.Buf, Seq[Double]] {
    import VectorAvgAgg.Buf
    def zero: Buf = Buf(Array.empty, 0L)
    def reduce(b: Buf, v: Seq[Double]): Buf = {
      require(v != null, "null vector in vectorAvg input — filter or impute nulls first")
      add(b, v.toArray, 1L)
    }
    def merge(a: Buf, b: Buf): Buf =
      if (b.n == 0) a else add(a, b.sum, b.n)
    private def add(b: Buf, v: Array[Double], n: Long): Buf = {
      if (b.n == 0) Buf(v.clone(), n)
      else {
        require(b.sum.length == v.length,
          s"vector length mismatch: ${b.sum.length} vs ${v.length}")
        var i = 0
        while (i < v.length) { b.sum(i) += v(i); i += 1 }
        Buf(b.sum, b.n + n)
      }
    }
    def finish(b: Buf): Seq[Double] =
      if (b.n == 0) Seq.empty
      else b.sum.map(_ / b.n).toSeq
    def bufferEncoder: org.apache.spark.sql.Encoder[Buf] =
      org.apache.spark.sql.Encoders.product[Buf]
    def outputEncoder: org.apache.spark.sql.Encoder[Seq[Double]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Double]]()
  }
  object VectorAvgAgg {
    case class Buf(sum: Array[Double], n: Long)
  }

  /** DataFrame-facing column function for [[VectorAvgAgg]]. */
  lazy val vectorAvg: org.apache.spark.sql.expressions.UserDefinedFunction =
    udaf(new VectorAvgAgg,
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Double]]())
}
