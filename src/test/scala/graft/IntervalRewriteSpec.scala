package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.plans.{IntervalJoinRewrite, PlanHints}

class IntervalRewriteSpec extends SparkSuite {
  import spark.implicits._

  private def mk(pre: String, n: Int, seed: Int,
                 session: SparkSession = spark): DataFrame = {
    val rnd = new scala.util.Random(seed)
    session.createDataFrame((0 until n).map { i =>
      val s = rnd.nextInt(5000).toLong
      (i.toLong, s, s + rnd.nextInt(400).toLong)
    }).toDF(s"${pre}_id", s"${pre}_start", s"${pre}_end")
  }

  private def joined(a: DataFrame, b: DataFrame): DataFrame =
    a.join(b, PlanHints.overlap($"a_start", $"a_end", $"b_start", $"b_end", 256L))
      .select("a_id", "b_id")

  private def withRule[T](f: => T): T = {
    val before = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = before :+ IntervalJoinRewrite
    try f finally spark.experimental.extraOptimizations = before
  }

  test("rule off: marker predicate is correct but plans a nested loop") {
    // the suite session carries the rule; a bare one has none
    val bare = SparkTestSession.bare()
    val (a, b) = (mk("a", 80, 1, bare), mk("b", 90, 2, bare))
    val df = joined(a, b)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastNestedLoop") || p.contains("CartesianProduct"),
      s"without the rule the overlap join has nothing to hash on:\n$p")
    val brute = a.crossJoin(b)
      .filter($"a_start" <= $"b_end" && $"b_start" <= $"a_end")
      .select("a_id", "b_id")
    assert(df.exceptAll(brute).isEmpty && brute.exceptAll(df).isEmpty)
  }

  test("rule on: same rows, equi join on bin id, no nested loop") {
    val (a, b) = (mk("a", 80, 1), mk("b", 90, 2))
    val brute = a.crossJoin(b)
      .filter($"a_start" <= $"b_end" && $"b_start" <= $"a_end")
      .select("a_id", "b_id")
    withRule {
      val df = joined(a, b)
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("BroadcastNestedLoop") && !p.contains("CartesianProduct"),
        s"rule must remove the nested loop:\n$p")
      assert(p.contains("SortMergeJoin") || p.contains("HashJoin"),
        s"expected an equi join on the bin id:\n$p")
      assert(df.count() == brute.count(), "no double emits across shared bins")
      assert(df.exceptAll(brute).isEmpty && brute.exceptAll(df).isEmpty)
    }
  }

  test("rule on: extra conjuncts survive the rewrite, both marker orientations") {
    val (a, b) = (mk("a", 80, 3), mk("b", 90, 4))
    val brute = a.crossJoin(b)
      .filter($"a_start" <= $"b_end" && $"b_start" <= $"a_end" &&
        $"a_id" % 2 === $"b_id" % 2)
      .select("a_id", "b_id")
    withRule {
      // b-side bounds given first: the rule must re-orient, not bail
      val df = a.join(b,
          PlanHints.overlap($"b_start", $"b_end", $"a_start", $"a_end", 256L) &&
            $"a_id" % 2 === $"b_id" % 2)
        .select("a_id", "b_id")
      assert(df.queryExecution.executedPlan.toString.contains("Join"))
      assert(df.exceptAll(brute).isEmpty && brute.exceptAll(df).isEmpty)
    }
  }
}
