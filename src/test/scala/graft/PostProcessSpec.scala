package graft

import graft.process.PostProcess
import org.apache.spark.sql.functions._

class PostProcessSpec extends SparkSpec {
  import spark.implicits._

  private def df = Seq(
    ("a", Some(1.0), Some(2.0), None: Option[Double]),
    ("b", None, Some(4.0), None),
    ("c", None, None, None)
  ).toDF("conv_id", "x_one", "x_two", "y_sparse")

  test("deleteColumns by prefix/suffix/exact") {
    assert(PostProcess.deleteColumns(df, prefixes = Seq("x_")).columns.toSeq ==
      Seq("conv_id", "y_sparse"))
    assert(PostProcess.deleteColumns(df, exact = Seq("y_sparse")).columns.length == 3)
    assert(PostProcess.deleteColumns(df, suffixes = Seq("_two", "_sparse")).columns.toSeq ==
      Seq("conv_id", "x_one"))
  }

  test("dropSparseRows: row 'c' has 3/4 nulls") {
    val kept = PostProcess.dropSparseRows(df, 0.5).select("conv_id")
      .as[String].collect().toSet
    assert(kept == Set("a", "b"))
  }

  test("dropSparseColumns: y_sparse is 100% null") {
    val cols = PostProcess.dropSparseColumns(df, 0.7).columns.toSeq
    assert(cols == Seq("conv_id", "x_one", "x_two"))
  }

  test("sumColumnGroup coalesces nulls to 0") {
    val got = PostProcess.sumColumnGroup(df, "x_sum", Seq("x_one", "x_two", "missing"))
      .select("conv_id", "x_sum").as[(String, Double)].collect().toMap
    assert(got("a") == 3.0 && got("b") == 4.0 && got("c") == 0.0)
  }

  test("fillByPredicate + orderColumns priority-first then sorted") {
    val filled = PostProcess.fillByPredicate(df, -1.0, _.startsWith("x_"))
    assert(filled.filter(col("conv_id") === "c").select("x_one").as[Double].head() == -1.0)
    val ordered = PostProcess.orderColumns(df.withColumnRenamed("x_one", "a_one"))
    assert(ordered.columns.toSeq == Seq("conv_id", "a_one", "x_two", "y_sparse"))
  }

  test("open-set histogram map -> wide reference columns (G1 export explosion)") {
    import graft.ops.OpenHistogram
    val t = Seq(
      ("a", "Interval P5"), ("a", "Interval P5"), ("a", "Interval m3"),
      ("b", "Interval m3")
    ).toDF("conv_id", "label")
    val m = OpenHistogram.histMap(t, Seq("conv_id"), "label")
    val wide = PostProcess.explodeMapToColumns(m, "hist", "Hist_")
    assert(wide.columns.toSeq == Seq("conv_id", "Hist_IntervalM3", "Hist_IntervalP5"))
    val got = wide.orderBy("conv_id")
      .as[(String, Long, Long)].collect().toSeq
    assert(got == Seq(("a", 1L, 2L), ("b", 1L, 0L))) // missing key -> 0 fill
  }

  test("histMapShare: per-key shares sum to 1") {
    import graft.ops.OpenHistogram
    val t = Seq(("a", "x"), ("a", "x"), ("a", "y"), ("a", "z")).toDF("conv_id", "label")
    val m = OpenHistogram.histMapShare(t, Seq("conv_id"), "label")
      .select(explode(col("hist_share"))).as[(String, Double)].collect().toMap
    assert(m == Map("x" -> 0.5, "y" -> 0.25, "z" -> 0.25))
  }

  test("mergeRuns: missing columns come back NULL, NULL-key rows drop (S8 merge_dataframes)") {
    val a = Seq[(String, Option[Long])](("c1", Some(1L)), (null, Some(2L)))
      .toDF("conv_id", "n_turns")
    val b = Seq[(String, Option[Double])](("c2", Some(0.5))).toDF("conv_id", "len_mean")
    val m = PostProcess.mergeRuns(a, b)
    assert(m.columns.toSeq == Seq("conv_id", "n_turns", "len_mean"))
    val got = m.orderBy("conv_id")
      .as[(String, Option[Long], Option[Double])].collect().toSeq
    assert(got == Seq(("c1", Some(1L), None), ("c2", None, Some(0.5))))
  }

  test("mergeWithPrecedent: name rules (A26 mix-with-precedent, common.py:39-54)") {
    val prev = Seq(
      ("c1", Some(5L), Some(2L), Some(10.0), Some("p")),
      ("c2", Some(1L), Some(1L), None: Option[Double], Some("p"))
    ).toDF("conv_id", "len_max", "len_min", "score", "tag")
    val next = Seq(
      ("c1", Some(3L), Some(1L), Some(20.0), None: Option[String]),
      ("c2", None: Option[Long], Some(4L), Some(7.0), Some("n")),
      ("c3", Some(9L), Some(9L), Some(9.0), Some("n"))
    ).toDF("conv_id", "len_max", "len_min", "score", "tag")
    val m = PostProcess.mergeWithPrecedent(prev, next).orderBy("conv_id")
      .as[(String, Option[Long], Option[Long], Option[Double], Option[String])]
      .collect().toSeq
    assert(m == Seq(
      ("c1", Some(5L), Some(1L), Some(15.0), Some("p")), // max/min rules; numeric mean; string precedent
      ("c2", Some(1L), Some(1L), Some(7.0), Some("p")),  // nulls coalesce each way
      ("c3", Some(9L), Some(9L), Some(9.0), Some("n"))   // row only on the new side passes through
    ))
  }

  test("mergeWithPrecedent: dotted column names and mixed-dtype shared columns (ADVICE r3)") {
    // "a.b" would break dotted-string resolution; score is numeric on one
    // side and string on the other — must take the string-precedent rule,
    // not crash in the mean branch's double cast
    val prev = Seq(("c1", Some(2.0), Some(1.0))).toDF("conv_id", "a.b", "score")
    val next = Seq(("c1", Some(4.0), Some("high")))
      .toDF("conv_id", "a.b", "score")
    val m = PostProcess.mergeWithPrecedent(prev, next).orderBy("conv_id")
      .as[(String, Option[Double], Option[String])].collect().toSeq
    assert(m == Seq(("c1", Some(3.0), Some("1.0"))))
  }

  test("mergeWithPrecedent: self-merge (shared lineage) resolves without ambiguity") {
    // prev and next are the SAME frame: dataframe-apply references would be
    // ambiguous under the self-join detector; the alias-qualified form must
    // resolve and act as an identity merge
    val m = Seq(("c1", Some(4.0), Some("p"))).toDF("conv_id", "score", "tag")
    val out = PostProcess.mergeWithPrecedent(m, m)
      .as[(String, Option[Double], Option[String])].collect().toSeq
    assert(out == Seq(("c1", Some(4.0), Some("p"))))
  }

  test("explodeMapToColumns fails loudly above maxKeys (no unbounded driver collect)") {
    import graft.ops.OpenHistogram
    val t = (1 to 10).map(i => ("a", s"k$i")).toDF("conv_id", "label")
    val m = OpenHistogram.histMap(t, Seq("conv_id"), "label")
    val e = intercept[IllegalArgumentException] {
      PostProcess.explodeMapToColumns(m, "hist", "H_", maxKeys = 5)
    }
    assert(e.getMessage.contains("maxKeys=5"))
    // at or under the cap still works
    assert(PostProcess.explodeMapToColumns(m, "hist", "H_", maxKeys = 10)
      .columns.length == 11)
  }

  test("renderReferenceNames: role prefix and score prefix") {
    val m = Seq(("c1", 3L, 2.5, 7L)).toDF("conv_id", "role_user_n_turns", "len_mean", "n_turns")
    val r = PostProcess.renderReferenceNames(m)
    assert(r.columns.toSet == Set("conv_id", "RoleUser_NTurns", "Score_LenMean", "Score_NTurns"))
  }
}
