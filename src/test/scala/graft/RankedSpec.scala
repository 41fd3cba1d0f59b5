package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.Ranked

/** The bucketed two-level per-source rank (ops.Ranked) against the plain
  * single-window form it replaces in q_quality_calibrate / q_quality_sweep
  * / q_mix_select — row-for-row equality of rank, per-source count and
  * running sum, on a frame with a DOMINANT source (the skew shape the
  * bucketed form exists for), heavy q ties (bucket-boundary safety), NULL
  * q values (which sort first ascending and last descending), a
  * single-row source (n−1 = 0 edge), both sort directions, and a bucket
  * count forced high so every source really splits across many buckets.
  * Plus the plan pin: the ranking window must partition on
  * (source, bucket) — never a bare per-source full sort.
  */
class RankedSpec extends SparkSpec {
  import spark.implicits._

  private def fixture: DataFrame = {
    val rows =
      // dominant source: 90% of all rows, many duplicated q values, and
      // NULL q on every 97th row
      (0L until 900L).map(i => ("big", i,
        if (i % 97 == 3) None else Some((i % 37).toDouble / 10.0), i % 13 + 1)) ++
      // normal source, one NULL q
      (0L until 90L).map(i => ("mid", 1000L + i,
        if (i == 40) None else Some((i % 11).toDouble), i % 7 + 1)) ++
      // single-row source
      Seq(("one", 5000L, Some(3.14), 5L))
    rows.toDF("source", "doc_id", "q", "tok")
  }

  private def windowed(d: DataFrame, desc: Boolean): DataFrame = {
    val ord = if (desc) Seq(col("q").desc, col("doc_id").asc)
              else Seq(col("q").asc, col("doc_id").asc)
    val w = Window.partitionBy(col("source")).orderBy(ord: _*)
    val wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wn = Window.partitionBy(col("source"))
    d.withColumn("__rn", row_number().over(w).cast("long"))
      .withColumn("__n", count(lit(1)).over(wn))
      .withColumn("__cum", sum(col("tok")).over(wc))
  }

  private def canon(df: DataFrame): Seq[String] =
    df.select("source", "doc_id", "q", "tok", "__rn", "__n", "__cum")
      .orderBy("source", "doc_id").collect().map(_.toString).toSeq

  test("bucketed rank ≡ single-window rank, both directions, skewed fixture") {
    val d = fixture
    for (desc <- Seq(false, true)) {
      val plain = windowed(d, desc)
      // buckets = 16 on a 37-distinct-q dominant source: genuinely multi-
      // bucket, with several q values pinned AT split points (tie safety)
      val two = Ranked.perSource(d, "source", "q", "doc_id",
        descQ = desc, cumOf = Some("tok"), buckets = 16)
      assert(canon(two) == canon(plain), s"desc=$desc: bucketed ≠ windowed")
      // the declarative size branch (buckets = 0, fixture below
      // SingleSortMaxRows → plain plan) must emit the same rows too
      val auto = Ranked.perSource(d.localCheckpoint(), "source", "q",
        "doc_id", descQ = desc, cumOf = Some("tok"))
      assert(canon(auto) == canon(plain), s"desc=$desc: auto branch ≠ windowed")
    }
  }

  test("rank window partitions on (source, bucket) — no per-source full sort") {
    val p = Ranked.perSource(fixture, "source", "q", "doc_id", buckets = 16)
      .queryExecution.executedPlan.toString
    // the only corpus-sized window must carry the composite partition key;
    // a bare partitionBy(source) row_number is exactly the single-task-
    // per-source sort this operator exists to remove
    // the row_number window spec prints its partition columns first:
    // windowspecdefinition(source#…, __bkt#…, q#… ASC …) — the corpus-sized
    // rank window must carry the composite key (the tiny offset windows
    // over the sources×buckets aggregate MAY partition on source alone)
    val rankLines = p.linesIterator.filter(_.contains("row_number()")).toSeq
    assert(rankLines.nonEmpty, s"expected a row_number window in:\n$p")
    assert(rankLines.forall(_.contains("__bkt")),
      s"rank window must partition on the (source, __bkt) composite, got:\n" +
        rankLines.mkString("\n"))
  }
}
