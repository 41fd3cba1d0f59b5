package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

/** Text-analysis column expressions for large-scale training-data
  * pipelines: tokenization, quality scoring, language-ID heuristic,
  * fingerprinting, and the hash primitives shared by MinHash/SimHash
  * dedup. All Catalyst expressions (codegen'd or native) — no UDFs; hashes are
  * md5-based so the DuckDB oracle can reproduce them bit-exactly.
  */
object TextFns {

  /** Whitespace tokens (fixture corpora are single-space separated). */
  def tokens(text: Column): Column = split(text, " ")

  def nTokens(text: Column): Column = size(tokens(text)).cast("long")

  def distinctTokens(text: Column): Column = array_distinct(tokens(text))

  /** Default stopword list used by quality/lang-id heuristics. */
  val Stopwords: Seq[String] = Seq("the", "a", "is", "of", "and", "to", "in")

  def stopwordCount(text: Column, words: Seq[String] = Stopwords): Column =
    size(filter(tokens(text), t => t.isInCollection(words))).cast("long")

  def stopwordRatio(text: Column, words: Seq[String] = Stopwords): Column =
    stopwordCount(text, words).cast("double") / nTokens(text)

  /** Mean token length derived arithmetically (chars minus separators). */
  def meanTokenLen(text: Column): Column =
    (length(text).cast("double") - (nTokens(text) - 1)) / nTokens(text)

  /** Composite quality score: rewards length, penalizes stopword soup.
    * ln(1+n_tokens) * (1 - stopword_ratio).
    */
  def qualityScore(text: Column): Column =
    log(lit(1.0) + nTokens(text)) * (lit(1.0) - stopwordRatio(text))

  /** Language-ID heuristic: stopword-hit density ⇒ 'en' else 'unknown'.
    * Deterministic and oracle-reproducible; a production system would use
    * per-language n-gram profiles with the same groupBy shape.
    */
  def langId(text: Column): Column =
    when(stopwordRatio(text, Seq("the", "a", "is", "of")) > 0.02, "en")
      .otherwise("unknown")

  /** 60-bit integer from the first 15 hex digits of md5 — the shared,
    * engine-portable hash primitive (DuckDB: ('0x'||substr(md5(x),1,15))::BIGINT).
    */
  def md5Long(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 15), 16, 10).cast("long")

  /** Document fingerprint: md5Long of the full text. */
  def fingerprint(text: Column): Column = md5Long(text)

  /** k-slot MinHash signature of a text's distinct tokens, `array<bigint>`
    * (slot s = min over tokens of md5Long(s + "|" + tok)); NULL for NULL
    * text. One native [[MinHashExpr]] call per row — see there for why it
    * replaces the token-explode + k `min` aggregate form.
    */
  def minhashSig(text: Column, k: Int): Column =
    Bridge.column(MinHashExpr(Bridge.expression(distinctTokens(text)), k))

  /** Per-(doc, seed) MinHash values over distinct tokens.
    * Input: (idCol, textCol), one row per id; output: (idCol, seed:int,
    * minhash:long). Row-local: the [[minhashSig]] array posexploded, so
    * no token rows and no shuffle.
    *
    * Scale path for near-dups: band the signature (seed / bandSize) and
    * group on (band, hash of band-slice) to get candidate pairs without
    * the quadratic join (see q_neardup_lsh).
    */
  def minhashRows(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    df.select(col(idCol), posexplode(minhashSig(col(textCol), k)).as(Seq("seed", "minhash")))

  /** 60-bit SimHash per doc: majority vote of token-hash bits (+1/-1 per
    * distinct token). Input: (idCol, textCol); output: (idCol,
    * carryCols..., simhash:long). Near-dups then differ in few bits
    * (Hamming ball lookup at scale). `carryCols` ride the grouping key
    * (r7) for columns functionally dependent on the id (e.g. source) —
    * one fewer join back to the corpus scan for callers that need them.
    */
  def simhash(df: DataFrame, idCol: String, textCol: String, bits: Int = 60,
              carryCols: Seq[String] = Nil): DataFrame = {
    val toks = df.select((col(idCol) +: carryCols.map(col) :+
        explode(distinctTokens(col(textCol))).as("tok")): _*)
      .withColumn("h", md5Long(col("tok")))
    // one conditional-sum aggregate per bit instead of a x`bits` row
    // fan-out: the naive explode(doc x bit) form shuffled 60x the token
    // rows; this is a single partial-aggregable pass
    val bitSums = (0 until bits).map(b =>
      sum(expr(s"(shiftright(h, $b) & 1) * 2 - 1")).as(s"__s$b"))
    val contrib = (0 until bits)
      .map(b => when(col(s"__s$b") > 0, lit(1L << b)).otherwise(0L))
      .reduce(_ + _)
    toks.groupBy((col(idCol) +: carryCols.map(col)): _*)
      .agg(bitSums.head, bitSums.tail: _*)
      .select((col(idCol) +: carryCols.map(col) :+ contrib.as("simhash")): _*)
  }

  /** Per-token 20-bit hashes — the rolling-hash input for content-defined
    * chunking. Materialize this as its own column before [[cdcCuts]] so the
    * md5 runs once per token (the 4 lambda references below would otherwise
    * inline 4 copies past codegen subexpression elimination).
    */
  def cdcHashes(tokens: Column): Column =
    transform(tokens, t => md5Long(t) % 1048576)

  /** Content-defined chunk boundaries (the rsync/LBFS trick): a cut lands
    * after 1-based token position i whenever the rolling hash of the 4-gram
    * ending at i ≡ 0 (mod 16) — so boundaries depend only on a 4-token
    * neighborhood, and an edit shifts at most the chunks it touches while
    * every other chunk keeps its signature. Returns the full cut array
    * `[0, …boundaries…, n]`; expected chunk length ≈ 16 tokens. Row-local
    * Column algebra — no shuffle, no UDF.
    */
  def cdcCuts(a: Column, h: Column): Column = {
    val b = when(size(a) >= 5,
      filter(sequence(lit(4), size(a) - 1), i =>
        (element_at(h, i - 3) + element_at(h, i - 2) * 31 +
          element_at(h, i - 1) * 961 + element_at(h, i) * 29791) % 16 === 0))
      .otherwise(array().cast("array<bigint>"))
    concat(array(lit(0L)), b, array(size(a).cast("long")))
  }

  /** Chunk strings from a token array and its [[cdcCuts]] array: chunk c is
    * tokens (cuts[c], cuts[c+1]] re-joined on single spaces, so
    * `array_join(chunks, " ")` reconstructs the original text exactly.
    */
  def cdcChunks(a: Column, cuts: Column): Column =
    transform(sequence(lit(1), size(cuts) - 1), c =>
      concat_ws(" ", slice(a, (element_at(cuts, c) + 1).cast("int"),
        (element_at(cuts, c + 1) - element_at(cuts, c)).cast("int"))))

  /** Explode a `bits`-wide hash column into `nBands` (band_idx, band_val)
    * rows — the pigeonhole index for Hamming-ball search: two hashes within
    * Hamming distance d < nBands MUST agree on at least one band, so
    * near-dup candidates are an equi-join on (band_idx, band_val) instead
    * of an all-pairs scan. Band widths differ by at most one bit
    * (60 bits / 7 bands → 9,9,9,9,8,8,8).
    */
  def hashBands(df: DataFrame, hashCol: String, bits: Int, nBands: Int): DataFrame = {
    require(nBands > 0 && nBands <= bits)
    val base = bits / nBands
    val rem = bits % nBands
    val bands = (0 until nBands).map { i =>
      val width = if (i < rem) base + 1 else base
      val offset = i * base + math.min(i, rem)
      struct(lit(i).as("band_idx"),
        (shiftright(col(hashCol), offset).bitwiseAND(lit((1L << width) - 1)))
          .as("band_val"))
    }
    df.withColumn("__band", explode(array(bands: _*)))
      .withColumn("band_idx", col("__band.band_idx"))
      .withColumn("band_val", col("__band.band_val"))
      .drop("__band")
  }
}
