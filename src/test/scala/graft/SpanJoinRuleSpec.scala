package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
import graft.operators.SpanJoin
import graft.plans.SpanJoinRewrite

/** The SpanJoinRewrite optimizer rule: a naive declarative overlap join
  * must produce the blocked equi-join plan with unchanged results. */
class SpanJoinRuleSpec extends GraftSuite {
  import spark.implicits._

  private def spanDf(rows: Seq[(Long, Int, Int)]) =
    rows.toDF("doc_id", "b", "e")
      .select(col("doc_id"), spans.span(col("b"), col("e")).as("span"))

  private val lhs = spanDf(Seq((0L, 0, 10), (0L, 8, 20), (0L, 30, 40), (1L, 0, 5),
    (1L, 5, 5), (2L, 100, 130)))
  private val rhs = spanDf(Seq((0L, 5, 12), (0L, 19, 31), (1L, 5, 5), (1L, 4, 6),
    (2L, 0, 3), (2L, 129, 200)))

  private def naive = lhs.as("f").join(rhs.as("s"),
    col("f.doc_id") === col("s.doc_id") &&
      spans.overlaps(col("f.span"), col("s.span")))
    .select(col("f.doc_id"), col("f.span").as("first"), col("s.span").as("second"))

  private def canon(df: DataFrame) =
    df.select(col("doc_id"), col("first")("begin"), col("first")("end"),
        col("second")("begin"), col("second")("end"))
      .collect().map(_.toSeq).sortBy(_.toString).toSeq

  test("rewrite result == unrewritten result == explicit overlapJoin") {
    val withRule = canon(naive)
    val noRule = spark.conf.set(SpanJoinRewrite.EnabledConf, "false")
    val without = try canon(naive)
    finally spark.conf.set(SpanJoinRewrite.EnabledConf, "true")
    assert(withRule == without)
    assert(withRule.nonEmpty)
    val explicit = canon(SpanJoin.overlapJoin(lhs, rhs))
    assert(withRule == explicit)
  }

  test("rewritten plan joins on the generated block key") {
    val plan = naive.queryExecution.optimizedPlan.toString
    assert(plan.contains("__graft_blk"), s"rule did not fire:\n$plan")
    assert(plan.contains("explode"), s"no block explode in plan:\n$plan")
  }

  test("no-equality overlap join escapes the nested-loop plan") {
    val single = lhs.filter(col("doc_id") === 0L)
    val singleR = rhs.filter(col("doc_id") === 0L)
    val cross = single.as("f").join(singleR.as("s"),
      spans.overlaps(col("f.span"), col("s.span")))
    cross.collect()
    val exec = cross.queryExecution.executedPlan.toString
    assert(!exec.contains("BroadcastNestedLoopJoin"),
      s"expected block equi-join, got nested loop:\n$exec")
    // results still exact vs the disabled-rule nested-loop join
    spark.conf.set(SpanJoinRewrite.EnabledConf, "false")
    val expect = try cross.count()
    finally spark.conf.set(SpanJoinRewrite.EnabledConf, "true")
    assert(cross.count() == expect)
  }

  test("duplicate input rows keep reference multiplicity (one pair per row pair)") {
    val dupL = lhs.union(lhs.filter(col("doc_id") === 0L)) // doc-0 spans twice
    val n = dupL.as("f").join(rhs.as("s"),
      col("f.doc_id") === col("s.doc_id") &&
        spans.overlaps(col("f.span"), col("s.span"))).count()
    spark.conf.set(SpanJoinRewrite.EnabledConf, "false")
    val expect = try dupL.as("f").join(rhs.as("s"),
      col("f.doc_id") === col("s.doc_id") &&
        spans.overlaps(col("f.span"), col("s.span"))).count()
    finally spark.conf.set(SpanJoinRewrite.EnabledConf, "true")
    assert(n == expect)
  }

  test("malformed spans (begin > end) run and match the unrewritten join") {
    // Sequence(start, stop, 1) throws on start > stop; the rewrite widens
    // its block bounds with least/greatest so a begin>end row degrades to
    // a candidate the residual filter judges — never a runtime error.
    val badL = spanDf(Seq((0L, 10, 5), (0L, 0, 10), (0L, 10, 5)))
    val badR = spanDf(Seq((0L, 10, 5), (0L, 4, 12), (0L, 200, 100)))
    def q = badL.as("f").join(badR.as("s"),
      col("f.doc_id") === col("s.doc_id") &&
        spans.overlaps(col("f.span"), col("s.span")))
      .select(col("f.doc_id"), col("f.span").as("first"), col("s.span").as("second"))
    val withRule = canon(q)
    assert(q.queryExecution.optimizedPlan.toString.contains("__graft_blk"))
    spark.conf.set(SpanJoinRewrite.EnabledConf, "false")
    val without = try canon(q)
    finally spark.conf.set(SpanJoinRewrite.EnabledConf, "true")
    assert(withRule == without)
    assert(withRule.nonEmpty) // identical malformed spans still pair up
  }

  test("joins without a rewritable shape are untouched") {
    val plain = lhs.as("f").join(rhs.as("s"), col("f.doc_id") === col("s.doc_id"))
    val p = plain.queryExecution.optimizedPlan.toString
    assert(!p.contains("__graft_blk") && !p.contains("__graft_gap"))
    // unrelated inequalities over non-struct-field expressions never fire
    // the contains rewrite (struct-field pinning)
    val ineq = lhs.as("f").join(rhs.as("s"),
      col("f.doc_id") === col("s.doc_id") &&
        col("s.span")("begin") + 1 >= col("f.span")("begin") &&
        col("s.span")("end") * 2 <= col("f.span")("end"))
    assert(!ineq.queryExecution.optimizedPlan.toString.contains("__graft_blk"))
  }

  test("contains-only predicate rewrites to the blocked equi-join") {
    def q = lhs.as("f").join(rhs.as("s"),
      col("f.doc_id") === col("s.doc_id") &&
        spans.containsSpan(col("f.span"), col("s.span")))
      .select(col("f.doc_id"), col("f.span").as("first"), col("s.span").as("second"))
    assert(q.queryExecution.optimizedPlan.toString.contains("__graft_blk"),
      "contains shape did not fire")
    val withRule = canon(q)
    spark.conf.set(SpanJoinRewrite.EnabledConf, "false")
    val without = try canon(q)
    finally spark.conf.set(SpanJoinRewrite.EnabledConf, "true")
    assert(withRule == without)
    assert(withRule.nonEmpty)
    // the zero-length boundary span (1,[5,5]) ⊆ (1,[0,5]) is contained but
    // NOT overlapping — contains-only must keep it (q29's explicit
    // containJoin pre-filters by overlap, so it is a subset here)
    assert(withRule.exists(r => r == Seq(1L, 0, 5, 5, 5)))
  }

  test("malformed spans in contains-only rewrite run and match unrewritten") {
    val badL = spanDf(Seq((0L, 10, 0), (0L, 0, 10)))
    val badR = spanDf(Seq((0L, 8, 2), (0L, 2, 8), (0L, 0, 10)))
    def q = badL.as("f").join(badR.as("s"),
      col("f.doc_id") === col("s.doc_id") &&
        spans.containsSpan(col("f.span"), col("s.span")))
      .select(col("f.doc_id"), col("f.span").as("first"), col("s.span").as("second"))
    assert(q.queryExecution.optimizedPlan.toString.contains("__graft_blk"))
    val withRule = canon(q)
    spark.conf.set(SpanJoinRewrite.EnabledConf, "false")
    val without = try canon(q)
    finally spark.conf.set(SpanJoinRewrite.EnabledConf, "true")
    assert(withRule == without)
    assert(withRule.nonEmpty) // ([2,8]) ⊆ ([0,10]) survives the bad rows
  }

  private def tokDf(rows: Seq[(Long, Int, Int)]) =
    rows.toDF("doc_id", "bt", "et")
      .select(col("doc_id"),
        spans.tokenSpan(col("bt"), col("et"), col("bt") * 5, col("et") * 5).as("span"))

  test("gap-band adjacency rewrites to the gap-replicated equi-join") {
    val f = tokDf(Seq((0L, 0, 1), (0L, 3, 4), (1L, 0, 2), (2L, 5, 6)))
      .select(col("doc_id"), col("span").as("first"))
    val s2 = tokDf(Seq((0L, 1, 2), (0L, 2, 3), (0L, 6, 7), (1L, 2, 3), (1L, 4, 5)))
      .select(col("doc_id").as("d2"), col("span").as("second"))
    val gap = col("second")("begin_tok") - col("first")("end_tok")
    def q = f.join(s2, col("doc_id") === col("d2") && gap >= 0 && gap <= 1)
      .select(col("doc_id"), col("first")("begin_tok").as("f_bt"),
        col("second")("begin_tok").as("s_bt"))
    val plan = q.queryExecution.optimizedPlan.toString
    assert(plan.contains("__graft_gap"), s"gap-band shape did not fire:\n$plan")
    val withRule = q.collect().map(_.toSeq).sortBy(_.toString).toSeq
    spark.conf.set(SpanJoinRewrite.EnabledConf, "false")
    val without = try q.collect().map(_.toSeq).sortBy(_.toString).toSeq
    finally spark.conf.set(SpanJoinRewrite.EnabledConf, "true")
    assert(withRule == without)
    // hand check: (0,[0,1]) pairs gap0→(0,[1,2]) gap1→(0,[2,3]);
    // (1,[0,2]) gap0→(1,[2,3]); (2,[5,6]) pairs nothing
    assert(withRule == Seq(Seq(0L, 0, 1), Seq(0L, 0, 2), Seq(1L, 0, 2)))
    // matches the explicit operator
    val explicit = SpanJoin.adjacentJoin(
      f.select(col("doc_id"), col("first").as("span")),
      s2.select(col("d2").as("doc_id"), col("second").as("span")),
      minGap = 0, maxGap = 1)
      .select(col("doc_id"), col("first")("begin_tok").as("f_bt"),
        col("second")("begin_tok").as("s_bt"))
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    assert(withRule == explicit)
  }

  test("bands wider than maxGapWidth are left untouched") {
    val f = tokDf(Seq((0L, 0, 1))).select(col("doc_id"), col("span").as("first"))
    val s2 = tokDf(Seq((0L, 1, 2)))
      .select(col("doc_id").as("d2"), col("span").as("second"))
    val gap = col("second")("begin_tok") - col("first")("end_tok")
    val wide = f.join(s2, col("doc_id") === col("d2") &&
      gap >= 0 && gap <= 100000)
    assert(!wide.queryExecution.optimizedPlan.toString.contains("__graft_gap"))
    assert(wide.count() == 1)
  }

  test("SpanJoin operators are declarative: only the rule blocks them") {
    val l = tokDf(Seq((0L, 0, 1), (0L, 1, 3), (0L, 3, 3), (0L, 4, 6), (1L, 0, 2),
      (1L, 2, 2)))
    val r = tokDf(Seq((0L, 1, 2), (0L, 2, 3), (0L, 3, 3), (0L, 5, 6), (1L, 0, 1),
      (1L, 2, 4)))
    val ops = Seq[(String, () => DataFrame)](
      "overlapJoin" -> (() => SpanJoin.overlapJoin(l, r)),
      "containJoin" -> (() => SpanJoin.containJoin(l, r)),
      "adjacentJoin" -> (() => SpanJoin.adjacentJoin(l, r, minGap = 0, maxGap = 2)))
    def blocked(df: DataFrame) = {
      val p = df.queryExecution.optimizedPlan.toString
      p.contains("__graft_blk") || p.contains("__graft_gap")
    }
    def rows(df: DataFrame) = df.select(col("doc_id"),
        col("first")("begin_tok"), col("first")("end_tok"),
        col("second")("begin_tok"), col("second")("end_tok"))
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    ops.foreach { case (name, op) =>
      val on = op()
      assert(blocked(on), s"$name: the rule did not block the join")
      val withRule = rows(on)
      spark.conf.set(SpanJoinRewrite.EnabledConf, "false")
      val (selfBlocked, without) = try {
        val off = op()
        (blocked(off), rows(off))
      } finally spark.conf.set(SpanJoinRewrite.EnabledConf, "true")
      assert(!selfBlocked, s"$name blocks the join by itself")
      assert(withRule == without, name)
      assert(withRule.nonEmpty, name)
    }
  }

  test("overlap + contains residual composes (contain_join shape)") {
    val cj = lhs.as("f").join(rhs.as("s"),
      col("f.doc_id") === col("s.doc_id") &&
        spans.overlaps(col("f.span"), col("s.span")) &&
        spans.containsSpan(col("f.span"), col("s.span")))
      .select(col("f.doc_id"), col("f.span").as("first"), col("s.span").as("second"))
    assert(cj.queryExecution.optimizedPlan.toString.contains("__graft_blk"))
    val explicit = canon(SpanJoin.containJoin(lhs, rhs))
    assert(canon(cj) == explicit)
  }
}
