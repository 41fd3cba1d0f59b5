package graft

import graft.features._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class FeatureMatrixSpec extends SparkSpec {
  import spark.implicits._

  test("toposort honors deps and rejects cycles") {
    val order = FeatureRegistry.toposort(FeatureRegistry.all).map(_.name)
    assert(order.indexOf("asofstate") < order.indexOf("lag"))
    assert(order.indexOf("lag") < order.indexOf("sessions"))
    object A extends FeatureModule { val name = "a"; override val deps = Seq("b") }
    object B extends FeatureModule { val name = "b"; override val deps = Seq("a") }
    intercept[IllegalArgumentException](FeatureRegistry.toposort(Seq(A, B)))
    intercept[IllegalArgumentException](FeatureRegistry.toposort(Seq(A)))
  }

  test("feature matrix: one row per conversation, sane values") {
    val turns = Seq(
      ("a", 0, "user", "hi", null.asInstanceOf[String], ts("2024-01-01 00:00:00")),
      ("a", 1, "assistant", "hello there", null.asInstanceOf[String], ts("2024-01-01 00:00:10")),
      ("a", 2, "assistant", "x", "search", ts("2024-01-01 00:00:20")),
      ("a", 3, "user", "ok then", null.asInstanceOf[String], ts("2024-01-03 00:00:20")), // new session
      ("b", 0, "user", "solo", null.asInstanceOf[String], ts("2024-01-01 00:00:00"))
    ).toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
    val state = Seq(("a", ts("2024-01-01 00:00:05"), "s1")).toDF("conv_id", "ts", "state_val")

    val m = FeatureRegistry.featureMatrix(turns, Some(state)).collect()
      .map(r => r.getAs[String]("conv_id") -> r).toMap
    assert(m.size == 2)
    val a = m("a")
    assert(a.getAs[Long]("n_turns") == 4)
    assert(a.getAs[Long]("role_user_n_turns") == 2)
    assert(a.getAs[Long]("role_assistant_n_turns") == 2)
    assert(a.getAs[Long]("n_tool_calls") == 1)
    assert(a.getAs[Long]("n_sessions") == 2)
    assert(a.getAs[Long]("n_runs") == 3)       // user | assistant,assistant | user
    assert(a.getAs[Long]("run_len_max") == 2)
    assert(a.getAs[Long]("n_turns_with_state") == 3) // turns 1,2,3 after state s1
    assert(a.getAs[String]("first_role") == "user")
    assert(a.getAs[String]("last_role") == "user")
    val b = m("b")
    assert(b.getAs[Long]("n_turns") == 1)
    assert(b.getAs[Long]("n_sessions") == 1)
    assert(b.isNullAt(b.fieldIndex("len_std"))) // single value → null std
  }

  test("feature matrix without state table (missing-annotation path)") {
    val turns = Seq(("a", 0, "user", "hi", null.asInstanceOf[String], ts("2024-01-01 00:00:00")))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
    val r = FeatureRegistry.featureMatrix(turns, None).collect().head
    assert(r.getAs[Long]("n_turns_with_state") == 0)
    assert(r.getAs[Long]("n_distinct_states") == 0)
  }

  test("matrix invariant under input partitioning (scaling determinism)") {
    val turns = Tables.turns(spark, "/root/testdata/sf0.001")
    val state = Tables.state(spark, "/root/testdata/sf0.001")
    val m1 = FeatureRegistry.featureMatrix(turns.repartition(1), Some(state))
      .orderBy("conv_id").collect().toSeq
    val m2 = FeatureRegistry.featureMatrix(turns.repartition(13), Some(state.repartition(5)))
      .orderBy("conv_id").collect().toSeq
    assert(m1 == m2)
  }

  // Edge fixture for the single-sort modules vs ReferenceModules: NULL ts
  // mid-conversation, NULL text and role, gaps of exactly G and G + 1 for
  // both the default G and G = 300, tied and empty lengths, one-turn and
  // under-10-turn conversations (k = 0), and NULL lengths inside and
  // beyond the trimmed tail.
  private val G = SparkEntry.SessionGapSeconds
  private def at(sec: Long) = new java.sql.Timestamp(1704067200000L + sec * 1000L)

  private lazy val edge: (DataFrame, DataFrame) = {
    def conv(id: String, roles: Seq[String], lens: Seq[Option[Int]],
             gaps: Seq[Long], nullTs: Set[Int] = Set.empty) = {
      val secs = gaps.scanLeft(0L)(_ + _)
      roles.indices.map { i =>
        (id, i, roles(i), lens(i).map("x" * _).orNull,
          if (i % 4 == 3) "search" else null, if (nullTs(i)) None else Some(at(secs(i))))
      }
    }
    val N = None
    def S(l: Int) = Some(l)
    val (u, a, t) = ("user", "assistant", "tool")
    val rows =
      conv("long",
        Seq(u, a, a, t, a, u, u, null, u, a, a, a, t, null, u, u, a, t, t, a, u, a, a, u, a),
        Seq(S(5), S(3), N, S(7), S(3), S(3), S(12), S(1), S(7), S(5), N, S(9), S(2), S(2),
          S(40), S(3), S(8), S(8), N, S(6), S(4), S(4), S(11), S(3), S(0)),
        Seq(10, 10, G, 10, 300, 301, 10, G + 1, 10, 10, 20, 30, 40, 10, 299, 302,
          10, 10, G, G + 1, 10, 10, 10, 10),
        nullTs = Set(12)) ++
      // NULLs rank first: with k = 1 one NULL is trimmed, the other keeps a
      // rank but no value, so the kept lengths are 1..7 (mean 4, not 5)
      conv("nulls", Seq(u, a, u, a, u, a, u, a, u, a),
        Seq(S(4), S(1), S(6), S(8), N, S(2), S(7), N, S(5), S(3)), Seq.fill(9)(60L)) ++
      conv("short", Seq(u, a, a, u, null),
        Seq(S(2), N, S(2), S(9), S(4)), Seq(5, G + 1, 5, G)) ++
      conv("one", Seq(u), Seq(S(3)), Nil) ++
      conv("one_null", Seq(null), Seq(N), Nil, nullTs = Set(0)) ++
      conv("all_null", Seq(u, a, u), Seq(N, N, N), Seq(1, 1))
    val turns = rows.toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
    val state = Seq(("long", at(15), "s1"), ("long", at(G + 400), "s2"),
      ("short", at(0), "s0")).toDF("conv_id", "ts", "state_val")
    (turns, state)
  }

  private def assertSameRows(got: DataFrame, ref: DataFrame, what: String): Unit = {
    assert(got.columns.toSeq == ref.columns.toSeq, what)
    val extra = got.exceptAll(ref).collect()
    val missing = ref.exceptAll(got).collect()
    assert(extra.isEmpty && missing.isEmpty,
      s"$what: rows only in the module output ${extra.toSeq}, only in the reference ${missing.toSeq}")
  }

  test("single-sort modules equal the multi-window reference, row for row") {
    val (turns, state) = edge
    for ((names, gap) <- Seq(Nil -> G, Nil -> 300L, Seq("runlength") -> G,
        Seq("textstats") -> 300L)) {
      val mods = FeatureRegistry.modulesFor(names, gap)
      val got = FeatureRegistry.featureMatrix(turns, Some(state), mods)
      assert(got.count() == 6)
      assertSameRows(got,
        FeatureRegistry.featureMatrix(turns, Some(state), ReferenceModules.of(mods, gap)),
        s"conversation modules=$names gap=$gap")
    }
    for ((gap, size, overlap) <- Seq((G, 8, 2), (300L, 12, 3))) {
      val mods = FeatureRegistry.modulesFor(Nil, gap, windowed = true)
      assertSameRows(
        Windowed.featureMatrixWindowedFull(turns, Some(state), size, overlap, mods),
        Windowed.featureMatrixWindowedFull(turns, Some(state), size, overlap,
          ReferenceModules.of(mods, gap)),
        s"windowed gap=$gap size=$size overlap=$overlap")
    }
    val tm = FeatureRegistry.featureMatrix(turns, Some(state)).collect()
      .map(r => r.getAs[String]("conv_id") -> r.getAs[Any]("len_trim_mean")).toMap
    assert(tm("nulls") == 4.0 && tm("all_null") == null && tm("one") == 3.0)
  }
}
