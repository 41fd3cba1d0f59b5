package graft.functions

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** One-pass exact trimmed mean as a custom typed aggregate (SURVEY.md A6 /
  * §7.3 "custom Catalyst (deferred, optional)"): musiF's scipy
  * trimmed_mean(limits=(p,p)) (melody/handler.py:172-194) drops ⌊p·n⌋
  * values from each sorted tail.
  *
  * The window-rank formulation (Stats.trimmedMean) costs an extra sort of
  * the fact table per key ordering; this Aggregator instead buffers the
  * group's values (bounded by conversation length) and sorts per group at
  * finish — one aggregation pass, no global sort. Spark's built-in
  * `percentile` machinery (TypedImperativeAggregate) uses the same
  * buffer-then-finish shape.
  *
  * NULL inputs follow the window-rank form ([[Stats.trimmedMean]]): they
  * count toward n and rank first (ascending NULLS FIRST) but never enter
  * the mean.
  *
  * Buffer layout: `buf(0)` holds the value count, `buf(1)` the NULL count;
  * values live in `buf(2..n+1)`; the array grows by doubling, so per-group
  * accumulation is O(n) amortized (a plain `buf :+ v` would copy the whole
  * array per row — O(n²), ruinous on the generator's 100×-skewed
  * conversations). The Aggregator runs as a TypedImperativeAggregate, so the
  * SAME buffer object flows through `reduce` within a partition — in-place
  * writes are safe and the encoder only serializes at shuffle boundaries.
  * Keeping the buffer an `Array[Double]` (counts included) avoids any
  * custom/kryo encoder.
  *
  * Buffers merge associatively (concatenation) so partial aggregation and
  * AQE-combined partials stay correct at any parallelism.
  */
class TrimmedMeanAgg(p: Double) extends Aggregator[java.lang.Double, Array[Double], java.lang.Double] {
  require(p >= 0 && p < 0.5, s"trim fraction $p must be in [0, 0.5)")

  override def zero: Array[Double] = Array(0.0, 0.0)

  override def reduce(buf: Array[Double], v: java.lang.Double): Array[Double] =
    if (v == null) { buf(1) += 1; buf }
    else {
      val n = buf(0).toInt
      val out =
        if (n + 3 > buf.length) java.util.Arrays.copyOf(buf, math.max(8, buf.length * 2))
        else buf
      out(n + 2) = v.doubleValue()
      out(0) = n + 1
      out
    }

  override def merge(a: Array[Double], b: Array[Double]): Array[Double] = {
    val na = a(0).toInt; val nb = b(0).toInt
    if (nb == 0) { a(1) += b(1); return a }
    if (na == 0) { b(1) += a(1); return b }
    val out = new Array[Double](2 + na + nb)
    out(0) = na + nb
    out(1) = a(1) + b(1)
    System.arraycopy(a, 2, out, 2, na)
    System.arraycopy(b, 2, out, 2 + na, nb)
    out
  }

  override def finish(buf: Array[Double]): java.lang.Double = {
    val n = buf(0).toInt
    val nulls = buf(1).toInt
    val sorted = java.util.Arrays.copyOfRange(buf, 2, n + 2)
    java.util.Arrays.sort(sorted)
    val k = math.floor((n + nulls) * p).toInt
    // ranks 1..nulls are the NULLs; sorted(i) has rank nulls + i + 1
    val from = math.max(k - nulls, 0)
    if (n - k <= from) return null
    var s = 0.0
    var i = from
    while (i < n - k) { s += sorted(i); i += 1 }
    s / (n - k - from)
  }

  override def bufferEncoder: Encoder[Array[Double]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Double]]()

  override def outputEncoder: Encoder[java.lang.Double] = Encoders.DOUBLE
}

object TrimmedMeanAgg {
  private val cache = new java.util.concurrent.ConcurrentHashMap[
    Double, org.apache.spark.sql.expressions.UserDefinedFunction]()

  /** Column form: `trimmedMean(0.1)(col)`; the udaf instance is cached per
    * trim fraction (building one per call re-derives the encoders). Also
    * registrable for SQL via
    * `spark.udf.register("trimmed_mean_10", udaf(new TrimmedMeanAgg(0.1)))`.
    */
  def apply(p: Double)(c: Column): Column =
    cache.computeIfAbsent(p, q => udaf(new TrimmedMeanAgg(q))).apply(c)
}
