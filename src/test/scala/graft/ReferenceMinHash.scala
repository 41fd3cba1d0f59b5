package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextFns.{distinctTokens, md5Long}

/** The token-explode + `min` aggregate formulation of MinHash signatures —
  * the reference [[MinHashSpec]] holds the native `MinHashExpr` kernel to,
  * bit for bit: every distinct token becomes a row, slot `s` is
  * `min(md5Long(concat_ws("|", s, tok)))` over a document's rows, and a
  * `groupBy(id)` exchange collects the k minima. A document without
  * tokens (NULL text) gets no row.
  */
object ReferenceMinHash {

  /** `(idCol, sig: array<bigint>)`, one row per id with tokens. */
  def signatures(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val toks = df.select(col(idCol), explode(distinctTokens(col(textCol))).as("tok"))
    val mins = (0 until k).map(s =>
      min(md5Long(concat_ws("|", lit(s).cast("string"), col("tok")))).as(s"__m$s"))
    toks.groupBy(col(idCol))
      .agg(mins.head, mins.tail: _*)
      .select(col(idCol), array((0 until k).map(i => col(s"__m$i")): _*).as("sig"))
  }
}
