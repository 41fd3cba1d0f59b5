package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Embedding-vector column expressions (similarity search over
  * `Array[Float]` columns). The dot-product inner loop is the native
  * codegen'd [[DotProductExpr]] — Spark's higher-order functions are
  * CodegenFallback (interpreted, intermediate-array-allocating), too cold
  * for the ANN hot path; the HOF forms are kept as `dotHof`/`norm2Hof`
  * reference implementations (spec-compared). Doubles throughout for
  * cross-engine parity.
  */
object VectorFns {

  private def expr(c: Column) = org.apache.spark.sql.graft.Bridge.expression(c)
  private def toCol(e: org.apache.spark.sql.catalyst.expressions.Expression) =
    org.apache.spark.sql.graft.Bridge.column(e)

  def dot(a: Column, b: Column): Column = toCol(DotProductExpr(expr(a), expr(b)))

  def norm2(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm2(a) * norm2(b))

  private def toDouble(v: Column): Column = transform(v, x => x.cast("double"))

  /** Reference HOF forms (CodegenFallback — correctness baseline only). */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(toDouble(a), toDouble(b), (x, y) => x * y),
      lit(0.0), (acc, x) => acc + x)

  def norm2Hof(a: Column): Column =
    sqrt(aggregate(toDouble(a), lit(0.0), (acc, x) => acc + x * x))

  /** Deterministic pseudo-random hyperplane weight for (plane p, 1-based
    * dim d): integer in [-1000, 1000] from the shared engine-portable
    * md5-60-bit primitive, so the DuckDB oracle reproduces the planes as
    * `(('0x'||substr(md5(p||':'||d),1,15))::BIGINT % 2001) - 1000`.
    * Integer weights keep the dot product's sign far from the float-ulp
    * boundary (values O(1000), cross-engine summation-order noise O(1e-9)).
    */
  def planeWeight(p: Int, d: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"$p:$d".getBytes("UTF-8")).map("%02x".format(_)).mkString
    (java.lang.Long.parseLong(hex.substring(0, 15), 16) % 2001L - 1000L).toDouble
  }

  /** `nPlanes`-bit random-hyperplane signature (classic SimHash-for-vectors
    * LSH): bit p = sign(v · plane_p). Each plane is a literal weight array,
    * so every dot product is one codegen'd [[DotProductExpr]] loop. At
    * scale the signature is BANDED (e.g. 16 bits → 4 bands of 4 via
    * [[TextFns.hashBands]]) and candidates are the union of per-band
    * equi-join buckets — recall comes from multiple tables, selectivity
    * from band width, no all-pairs comparison anywhere.
    */
  def signPlanes(v: Column, nPlanes: Int = 16, dim: Int = 64): Column =
    (0 until nPlanes).map { p =>
      val w = typedLit((1 to dim).map(d => planeWeight(p, d)))
      when(dot(v, w) > 0.0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** The shared sign-LSH index shape (q_knn_lsh, q_neardup_cosine): a
    * 32-plane signature banded 4×8 bits → (id, band_idx, band_val) rows.
    * Band WIDTH is the selectivity knob (8 bits = 256 buckets per band,
    * candidate cost Σ|bucket|² ≈ n²/128 per band); band COUNT is the
    * recall knob (≥1-of-4 8-bit bands ≈ 0.90 at cos 0.95). One definition
    * so the two LSH paths can never desynchronize; its oracle twin is
    * `SparkEntry.duckBandsCte`.
    */
  def bandedSignature(e: org.apache.spark.sql.DataFrame,
                      idCol: String = "vec_id", embCol: String = "embedding",
                      nPlanes: Int = 32, dim: Int = 64, nBands: Int = 4)
      : org.apache.spark.sql.DataFrame =
    TextFns.hashBands(
      e.withColumn("sig", signPlanes(col(embCol), nPlanes, dim)), "sig", nPlanes, nBands)
      .select(col(idCol), col("band_idx"), col("band_val"))
}
