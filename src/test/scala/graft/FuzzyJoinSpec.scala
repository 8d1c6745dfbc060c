package graft

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.StringSimilarity
import graft.operators.FuzzyJoin

class FuzzyJoinSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // Constants probed from DuckDB's jaro_winkler_similarity — the oracle
  // the expression must match bit-for-bit.
  val duckdbCases: Seq[(String, String, Double)] = Seq(
    ("martha", "marhta", 0.9611111111111111),
    ("dixon", "dicksonx", 0.8133333333333332),
    ("jellyfish", "smellyfish", 0.8962962962962964),
    ("dwayne", "duane", 0.8400000000000001),
    ("small ring", "small rig", 0.98),
    ("crate", "trace", 0.7333333333333334), // prefix 0 → no Winkler bonus
    ("abcdxxxxxx", "abcyyyyyyy", 0.5333333333333333), // jaro ≤ 0.7 → no bonus
    ("aaaa", "aaaazzzzzzzzzzzz", 0.85), // prefix capped at 4
    ("ab", "ba", 0.0), // window 0, no matches
    ("abc", "abc", 1.0),
    ("", "abc", 0.0),
    ("", "", 0.0))

  test("jaro_winkler matches DuckDB bit-for-bit on probe cases") {
    duckdbCases.foreach { case (a, b, want) =>
      assert(StringSimilarity.jaroWinkler(a, b) == want, s"($a, $b)")
    }
    // and through the Catalyst expression path
    val got = duckdbCases.toDF("a", "b", "want")
      .select(StringSimilarity.jaroWinkler(col("a"), col("b")).as("jw"), col("want"))
      .collect()
    got.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
  }

  test("null inputs yield null; wrong types fail at analysis time") {
    val r = Seq((Option("a"), Option.empty[String])).toDF("a", "b")
      .select(StringSimilarity.jaroWinkler(col("a"), col("b"))).collect()
    assert(r.head.isNullAt(0))
    val e = intercept[AnalysisException] {
      Seq((1, "x")).toDF("a", "b")
        .select(StringSimilarity.jaroWinkler(col("a"), col("b"))).collect()
    }
    assert(e.getMessage.contains("jaro_winkler"))
  }

  test("registered SQL function works in spark.sql") {
    val r = spark.sql("SELECT jaro_winkler('martha', 'marhta') AS jw").collect()
    assert(r.head.getDouble(0) == 0.9611111111111111)
  }

  test("selfPairs finds near-duplicate names and only name-diverse misses") {
    val df = Seq(
      "green widget", "green widgget", "green widgett", // near-dups
      "blue cable", "blue cabel", // transposed near-dup
      "red drum", "zinc plate" // singletons
    ).toDF("p_name")
    val pairs = FuzzyJoin.selfPairs(df, "p_name", tau = 0.9)
      .select("name_a", "name_b").as[(String, String)].collect().toSet
    assert(pairs.contains(("green widget", "green widgget")))
    assert(pairs.contains(("blue cabel", "blue cable")))
    assert(!pairs.exists(p => p._1.startsWith("red") || p._1.startsWith("zinc")))
  }

  test("hot-block cap drops degenerate blocks instead of going quadratic") {
    // 50 names sharing one prefix (a "Customer#…" shape) + 2 benign names
    val hot = (1 to 50).map(i => f"Customer#$i%04d")
    val df = (hot ++ Seq("green widget", "green widgett")).toDF("p_name")
    val pairs = FuzzyJoin.selfPairs(df, "p_name", tau = 0.9, maxBlock = 10)
      .select("name_a", "name_b").as[(String, String)].collect().toSet
    assert(pairs == Set(("green widget", "green widgett")))
  }

  test("selfPairs plans a blocked equi-join, never a cartesian") {
    val df = Seq("aa1", "aa2", "bb1").toDF("p_name")
    val out = FuzzyJoin.selfPairs(df, "p_name", tau = 0.8)
    out.collect() // finalize AQE plan
    val plan = out.queryExecution.executedPlan
    def all(p: SparkPlan): Seq[SparkPlan] = collectWithSubqueries(p) { case n => n }
    val bad = all(plan).filter(n =>
      n.nodeName.contains("BroadcastNestedLoopJoin") ||
        n.nodeName.contains("CartesianProduct"))
    assert(bad.isEmpty, s"cartesian shape in plan:\n$plan")
  }
}
