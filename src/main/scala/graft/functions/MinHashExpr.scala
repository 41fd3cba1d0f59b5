package graft.functions

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst MinHash signature of one row's token array: slot `s`
  * (0 ≤ s < k) holds the minimum over the tokens of
  * [[TextFns.md5Long]]`(s + "|" + tok)` — the same value as exploding the
  * tokens and taking k `min(md5Long(concat_ws("|", s, tok)))` aggregates
  * per document, bit for bit (MinHashSpec pins it against that form),
  * without the token rows, the md5 → hex string → `substring` → `conv` →
  * cast chain per (token, seed), or the per-document exchange that
  * collects the minima.
  *
  * md5Long is the top 60 bits of the digest (the first 15 hex digits), so
  * each hash is one digest of the UTF-8 bytes `s|tok`, read in place from
  * the row, into a reused buffer. A NULL token hashes as `s` alone, as
  * `concat_ws` skips it. NULL input or an empty array → NULL (the
  * aggregate form emits no row for a document with no tokens).
  *
  * `CodegenFallback`: one call per row wraps a tokens × seeds loop of
  * digests, so generated code around it would save nothing measurable;
  * whole-stage codegen still runs the rest of the projection.
  */
case class MinHashExpr(child: Expression, k: Int)
    extends UnaryExpression with CodegenFallback {
  require(k > 0, s"MinHash needs k > 0, got $k")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"$prettyName requires array<string>, got $t")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "minhash_sig"

  @transient private lazy val seedBytes: Array[Array[Byte]] =
    Array.tabulate(k)(s => s.toString.getBytes(UTF_8))

  override def nullSafeEval(in: Any): Any = {
    val toks = in.asInstanceOf[ArrayData]
    val n = toks.numElements()
    if (n == 0) return null
    val md = MinHashExpr.digest.get()
    val buf = MinHashExpr.buffer.get()
    val mins = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < n) {
      // a heap buffer over the row's own bytes (copied only off-heap)
      val tok = if (toks.isNullAt(i)) null else toks.getUTF8String(i).getByteBuffer
      var s = 0
      while (s < k) {
        md.update(seedBytes(s))
        if (tok != null) {
          md.update('|'.toByte)
          md.update(tok.array, tok.arrayOffset + tok.position, tok.remaining)
        }
        md.digest(buf, 0, 16)
        val h = MinHashExpr.top60(buf)
        if (h < mins(s)) mins(s) = h
        s += 1
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(mins)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashExpr {
  private val digest = ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))
  private val buffer = ThreadLocal.withInitial(() => new Array[Byte](16))

  /** The first 15 hex digits of a digest as a non-negative long. */
  private def top60(d: Array[Byte]): Long = {
    var v = 0L
    var j = 0
    while (j < 8) { v = (v << 8) | (d(j) & 0xffL); j += 1 }
    v >>> 4
  }
}
