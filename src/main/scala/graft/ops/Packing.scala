package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Greedy sequence packing — the LLM-training-pipeline operator that turns
  * a corpus of variable-length documents into fixed-capacity training
  * sequences ("bins"): walk documents in a deterministic order, accumulate
  * token counts, and start a new bin whenever the next document would
  * overflow the capacity. A document larger than the capacity gets a bin
  * of its own (truncation is the trainer's decision, not the packer's).
  *
  * Greedy packing is an inherently sequential prefix scan (the bin of doc
  * i depends on every doc before it — non-associative, so no window
  * function expresses it). The scale story is the same sharding trick the
  * production pipelines use: documents are hash-sharded into
  * `nShards` independent streams per source, each packed sequentially.
  * Packing quality is unaffected in expectation (shards see an unbiased
  * sample of the same length distribution) and the shape is exactly one
  * hash exchange on (source, shard) + an in-partition sort — a window
  * function's shuffle — with O(1) state per group. At 100 TB, nShards is
  * sized to the cluster (thousands), not the data; per-shard memory stays
  * one open bin's bookkeeping.
  *
  * This is the documented last-resort tier (d) of the custom-operator
  * preference order (same as W6 `StatefulScan`): the per-group scan is
  * imperative Scala, but everything around it — the token counting, the
  * shard assignment, the exchange — is Column algebra. Output is
  * invariant under input repartitioning (sorted-groups contract).
  */
object Packing {

  case class DocTok(source: String, shard: Int, doc_id: Long, tok_cnt: Long)
  case class Packed(source: String, shard: Int, doc_id: Long, tok_cnt: Long,
                    bin: Int)
  case class TurnTok(conv_id: String, turn_idx: Int, tok_cnt: Long)
  case class TurnBlock(conv_id: String, turn_idx: Int, tok_cnt: Long,
                       block: Int)

  /** Open bin/block bookkeeping: id 0 = nothing open yet. */
  case class Carry(id: Int, fill: Long)

  /** THE greedy recurrence, written once — both packers and the DuckDB
    * oracle twins encode exactly this step: open a new bin when nothing
    * is open or the item would overflow, else add to the open bin. An
    * oversized item opens its own bin (truncation is the trainer's
    * decision, not the packer's).
    */
  def advance(c: Carry, tok: Long, capacity: Long): Carry =
    if (c.id == 0 || c.fill + tok > capacity) Carry(c.id + 1, tok)
    else Carry(c.id, c.fill + tok)

  /** Whitespace token count of `text`, shared by both packers so they
    * cannot drift on tokenization. Exact semantics (parity-pinned with
    * DuckDB's `string_split`): null → 0, empty or whitespace-only text →
    * its split length (`""` counts 1 — the split yields one empty token
    * on both engines).
    */
  def tokCount(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    coalesce(size(split(text, " ")).cast("long"), lit(0L))

  /** The (conv_id, turn_idx, tok_cnt) projection [[packTurns]] reads. */
  def turnToks(turns: DataFrame): Dataset[TurnTok] = {
    val spark = turns.sparkSession
    import spark.implicits._
    turns.select(
      col("conv_id").cast("string").as("conv_id"),
      col("turn_idx").cast("int").as("turn_idx"),
      tokCount(col("text")).as("tok_cnt")).as[TurnTok]
  }

  /** Context assembly for transcripts: greedily chunk each conversation's
    * turns, IN ORDER, into blocks of at most `capacity` whitespace tokens
    * without ever splitting a turn — the SFT-context analog of [[packGreedy]]
    * (there, order within a stream is a free choice; here, turn order is
    * the semantics, so the conversation IS the stream and the natural
    * parallelism). One hash exchange on conv_id + in-partition sort —
    * identical layout to the rest of the turn pipeline, so upstream
    * derivation sorts are reused. A turn larger than the capacity gets a
    * block of its own; token counting follows [[tokCount]] (null → 0).
    * `block` is 1-based per conversation. A giant conversation
    * serializes on one task like any per-conv ordered scan — the
    * [[BlockedScan]] boundary-carry story applies unchanged if profiling
    * demands it.
    */
  def packTurns(turns: DataFrame, capacity: Long): Dataset[TurnBlock] = {
    val spark = turns.sparkSession
    import spark.implicits._
    turnToks(turns).groupByKey(_.conv_id)
      .flatMapSortedGroups(col("turn_idx")) { (conv: String, it: Iterator[TurnTok]) =>
        var c = Carry(0, 0L)
        it.map { t =>
          c = advance(c, t.tok_cnt, capacity)
          TurnBlock(conv, t.turn_idx, t.tok_cnt, c.id)
        }
      }
  }

  /** Pack `docs` (needs `source`, `doc_id`, `text`) into bins of at most
    * `capacity` whitespace tokens, `nShards` independent greedy streams
    * per source, documents walked in ascending `doc_id` within a stream.
    * `bin` is 1-based within each (source, shard) stream.
    */
  def packGreedy(docs: DataFrame, capacity: Long, nShards: Int): Dataset[Packed] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val ds = docs.select(
      col("source"),
      pmod(col("doc_id"), lit(nShards)).cast("int").as("shard"),
      col("doc_id").cast("long").as("doc_id"),
      tokCount(col("text")).as("tok_cnt")).as[DocTok]
    ds.groupByKey(d => (d.source, d.shard))
      .flatMapSortedGroups(col("doc_id")) {
        (key: (String, Int), it: Iterator[DocTok]) =>
          var c = Carry(0, 0L)
          it.map { d =>
            c = advance(c, d.tok_cnt, capacity)
            Packed(key._1, key._2, d.doc_id, d.tok_cnt, c.id)
          }
      }
  }
}
