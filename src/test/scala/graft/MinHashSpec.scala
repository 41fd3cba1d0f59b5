package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.{MinHashExpr, TextFns}
import org.apache.spark.sql.graft.Bridge

/** The native MinHash kernel against the token-explode + `min` aggregate
  * form it replaced ([[ReferenceMinHash]]): same signature per document,
  * bit for bit, and the same rows out of every site it serves
  * (`minhashRows`, `lshBandSigs`).
  */
class MinHashSpec extends SparkSpec {
  import spark.implicits._

  private def kernel(docs: DataFrame, k: Int): Map[Long, Option[Seq[Long]]] =
    docs.select(col("doc_id"), TextFns.minhashSig(col("text"), k).as("sig"))
      .collect().map(r => r.getLong(0) -> Option(r.getSeq[Long](1))).toMap

  private def reference(docs: DataFrame, k: Int): Map[Long, Seq[Long]] =
    ReferenceMinHash.signatures(docs, "doc_id", "text", k)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap

  /** Kernel ≡ reference: a NULL signature exactly where the reference has
    * no row, equal arrays everywhere else. */
  private def assertSame(docs: DataFrame, k: Int): Unit = {
    val (got, want) = (kernel(docs, k), reference(docs, k))
    assert(got.collect { case (id, Some(s)) => id -> s } == want)
    assert(got.collect { case (id, None) => id }.toSet == got.keySet -- want.keySet)
  }

  /** Deterministic pseudo-random documents (seeded LCG, no RNG calls):
    * 1–120 tokens over a 300-word vocabulary, so tokens repeat within and
    * across documents. */
  private def randomDocs(n: Int, seed: Long): Seq[(Long, String)] = {
    var x = seed
    def next(m: Int): Int = {
      x = x * 6364136223846793005L + 1442695040888963407L
      java.lang.Long.remainderUnsigned(x >>> 16, m.toLong).toInt
    }
    (0L until n).map(id => id -> Seq.fill(1 + next(120))(s"w${next(300)}").mkString(" "))
  }

  test("kernel ≡ explode/min reference: NULL, empty, single and duplicate tokens") {
    val docs = Seq[(Long, String)](
      0L -> null,
      1L -> "",
      2L -> "solo",
      3L -> "dup dup dup",
      4L -> "a b a c b a",
      5L -> "  leading and  doubled  spaces ",
      6L -> "solo dup",
      7L -> "dup"
    ).toDF("doc_id", "text")
    for (k <- Seq(1, 8, 13)) assertSame(docs, k) // 13: two-digit seed prefixes
    val sigs = kernel(docs, 8)
    assert(sigs(0L).isEmpty, "NULL text has no signature")
    assert(sigs(3L) == sigs(7L) && sigs(3L) != sigs(2L), "duplicates do not count twice")
    // "" is one empty token: slot s = md5Long(s + "|")
    val empty = (0 until 8).map(s =>
      Seq(s"$s|").toDF("t").select(TextFns.md5Long(col("t"))).as[Long].head())
    assert(sigs(1L).contains(empty))
  }

  test("kernel ≡ explode/min reference: non-ASCII tokens and a long document") {
    val long = (0 until 20000).map(i => s"t${i % 7919}").mkString(" ")
    val docs = Seq(
      10L -> "naïve café résumé",
      11L -> "東京 大阪 東京 名古屋",
      12L -> "emoji 😀 🚀 😀 mixed",
      13L -> "Ωμέγα ελληνικά ß ẞ ﬁ",
      14L -> long
    ).toDF("doc_id", "text")
    assertSame(docs, 8)
  }

  test("kernel ≡ explode/min reference: random documents over 1 and 7 partitions") {
    val docs = randomDocs(400, seed = 42).toDF("doc_id", "text")
    val want = reference(docs, 8)
    for (p <- Seq(1, 7)) {
      val got = kernel(docs.repartition(p), 8)
      assert(got.collect { case (id, Some(s)) => id -> s } == want, s"$p partitions")
      assert(got.size == want.size)
    }
  }

  test("a NULL array element hashes as the seed alone, as concat_ws skips it") {
    val arr = Seq(Seq[String]("x", null, "y")).toDF("toks")
    val got = arr.select(Bridge.column(MinHashExpr(Bridge.expression(col("toks")), 3)))
      .as[Seq[Long]].head()
    val want = arr.select(explode(col("toks")).as("tok"))
      .agg(min(TextFns.md5Long(concat_ws("|", lit("0"), col("tok")))),
        min(TextFns.md5Long(concat_ws("|", lit("1"), col("tok")))),
        min(TextFns.md5Long(concat_ws("|", lit("2"), col("tok")))))
      .as[(Long, Long, Long)].head()
    assert(got == Seq(want._1, want._2, want._3))
    val empty = Seq(Seq.empty[String]).toDF("toks")
      .select(Bridge.column(MinHashExpr(Bridge.expression(col("toks")), 3)))
    assert(empty.head().isNullAt(0), "no tokens → NULL")
  }

  test("minhashRows and lshBandSigs equal their aggregate forms on the fixture") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .unionByName(Seq((-1L, null: String, "en", "x", 0L), (-2L, "", "en", "x", 0L))
        .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val ref = ReferenceMinHash.signatures(docs, "doc_id", "text", 8)
    val rows = TextFns.minhashRows(docs, "doc_id", "text", 8)
      .as[(Long, Int, Long)].collect().toSet
    val refRows = ref.select(col("doc_id"), posexplode(col("sig")))
      .as[(Long, Int, Long)].collect().toSet
    assert(rows.nonEmpty && rows == refRows)
    // the band key is md5Long of each 4-slot CSV, exactly as the
    // aggregate form built it from its k minimum columns
    val refBands = ref.join(docs.select("doc_id", "source"), "doc_id")
      .select(col("doc_id"), posexplode(array((0 until 2).map(b =>
        TextFns.md5Long(concat_ws(",",
          (4 * b until 4 * b + 4).map(i => col("sig")(i).cast("string")): _*))): _*))
        .as(Seq("band", "bkey")), col("source"))
      .as[(Long, Int, Long, String)].collect().toSet
    val bands = SparkEntry.lshBandSigs(docs).as[(Long, Int, Long, String)].collect()
    assert(bands.length == refBands.size && bands.toSet == refBands)
  }
}
