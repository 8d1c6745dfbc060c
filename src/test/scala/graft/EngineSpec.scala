package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.GraftExtensions
import graft.sinks.TableSetup

/** Engine-packaging checks: SQL function registration + the partitioned
  * table DDL analog (setup.py:43-119). */
class EngineSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("seeded_ema / wilder_rma are usable from plain SQL as window functions") {
    import spark.implicits._
    (1 to 30).map(i => ("S", i, 100.0 + i)).toDF("symbol", "t", "close")
      .createOrReplaceTempView("sqlbars")
    val rows = spark.sql(
      """SELECT t,
        |  seeded_ema(close, 10) OVER (PARTITION BY symbol ORDER BY t
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS e10,
        |  wilder_rma(close, 14) OVER (PARTITION BY symbol ORDER BY t
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS r14
        |FROM sqlbars ORDER BY t""".stripMargin).collect()
    assert(rows.take(9).forall(_.isNullAt(1)))
    // seed at row 10 = mean of closes 101..110 = 105.5
    assert(rows(9).getDouble(1) == 105.5)
    assert(rows.take(13).forall(_.isNullAt(2)))
    assert(rows(13).getDouble(2) == 107.5)
  }

  test("holt_smooth is usable from plain SQL as a window function") {
    import spark.implicits._
    (1 to 10).map(i => ("S", i, 10.0 + i)).toDF("symbol", "t", "close")
      .createOrReplaceTempView("sqlholt")
    // PLAIN decimal literals (0.2, not 0.2D): the parser yields
    // Literal(Decimal, DecimalType) — the form every SQL user types first
    val rows = spark.sql(
      """SELECT t,
        |  holt_smooth(close, 0.2, 0.1, 0) OVER w AS lvl,
        |  holt_smooth(close, 0.2D, 0.1D, 2) OVER w AS fc
        |FROM sqlholt
        |WINDOW w AS (PARTITION BY symbol ORDER BY t
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY t""".stripMargin).collect()
    // causal seed: level(1) = x1, forecast(1) = level + 0 trend
    assert(rows(0).getDouble(1) == 11.0 && rows(0).getDouble(2) == 11.0)
    // level(2) = 0.2*12 + 0.8*(11 + 0) = 11.2
    assert(math.abs(rows(1).getDouble(1) - 11.2) < 1e-12)
  }

  test("holt_winters is usable from plain SQL with plain decimal literals") {
    import spark.implicits._
    (1 to 12).map(i => ("S", i, i * 1.7)).toDF("symbol", "t", "close")
      .createOrReplaceTempView("sqlhw")
    val rows = spark.sql(
      """SELECT t, holt_winters(close, 4, 0.2, 0.1, 0.3, 0) OVER w AS lvl
        |FROM sqlhw
        |WINDOW w AS (PARTITION BY symbol ORDER BY t
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY t""".stripMargin).collect()
    assert(rows.take(3).forall(_.isNullAt(1)))
    assert(rows(3).getDouble(1) == 4.25) // mean of 1.7*(1..4)
    assert(math.abs(rows(11).getDouble(1) - 14.897148262955831) < 1e-12)
  }

  test("float_dot is usable from SQL") {
    import spark.implicits._
    Seq((Array(1.0f, 2.0f), Array(3.0f, 4.0f))).toDF("a", "b")
      .createOrReplaceTempView("vecs")
    assert(spark.sql("SELECT float_dot(a, b) FROM vecs").head().getDouble(0) == 11.0)
  }

  test("window_hashes is usable from SQL and matches the composed form") {
    import spark.implicits._
    // one ASCII and one multi-byte string: the SQL surface must return
    // exactly hash60(substr(s, i+1, minLen)) per window, congruent with
    // the Column API the substring-dedup path uses
    Seq("abcdefg", "héllo wörld").toDF("s").createOrReplaceTempView("sqlwh")
    val viaSql = spark.sql("SELECT s, window_hashes(s, 4) AS wh FROM sqlwh")
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    val composed = spark.table("sqlwh").select(col("s"),
        org.apache.spark.sql.functions.transform(
          org.apache.spark.sql.functions.sequence(
            org.apache.spark.sql.functions.lit(1),
            org.apache.spark.sql.functions.length(col("s")) - 3),
          i => graft.operators.TextAnalysis.hash60(
            col("s").substr(i, org.apache.spark.sql.functions.lit(4)))).as("wh"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(viaSql == composed)
    assert(viaSql("abcdefg").length == 4)
  }

  test("token_grams is usable from SQL and matches the composed form") {
    import spark.implicits._
    Seq("the quick brown fox", "héllo wörld x", "solo").toDF("s")
      .createOrReplaceTempView("sqltg")
    val viaSql = spark.sql("SELECT s, token_grams(s, 2) AS g FROM sqltg")
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    val composed = spark.table("sqltg").select(col("s"),
        graft.operators.TextAnalysis.shingles(col("s"), 2).as("g"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    assert(viaSql == composed)
    assert(viaSql("the quick brown fox") == Seq("the quick", "quick brown", "brown fox"))
  }

  test("mg_sketch/mg_merge and bloom_set_agg are usable from plain SQL") {
    import spark.implicits._
    (Seq.fill(30)("hot") ++ (1 to 10).map(i => s"w$i"))
      .zipWithIndex.map { case (w, i) => (i % 3, w) }.toDF("g", "item")
      .createOrReplaceTempView("sqlitems")
    val row = spark.sql(
      """SELECT s.merged.items AS items, s.merged.d AS d, s.merged.n AS n
        |FROM (SELECT mg_merge(sk, 8) AS merged FROM (
        |  SELECT mg_sketch(item, 8) AS sk FROM sqlitems GROUP BY g)) s""".stripMargin)
      .head()
    val ests = row.getSeq[org.apache.spark.sql.Row](0)
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(row.getLong(2) == 40)
    assert(ests.contains("hot") && ests("hot") >= 30 - row.getLong(1))

    Seq(1L, 2L, 3L).toDF("h").createOrReplaceTempView("sqlkeys")
    val bf = spark.sql("SELECT bloom_set_agg(h, 256, 3) AS bf FROM sqlkeys")
      .head().getSeq[Long](0)
    assert(bf.size == 4 && bf.exists(_ != 0L))
  }

  test("GraftSession: engine confs and SQL functions; a second call reuses the session") {
    val s = GraftSession.local(4)
    assert(s eq spark)
    assert(s.sparkContext.master == "local[4]")
    assert(s.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(s.conf.get(SQLConf.MAX_PLAN_STRING_LENGTH.key) == (1 << 20).toString)
    assert(s.sparkContext.getConf.get("spark.ui.enabled") == "false")
    assert(s.conf.get("spark.sql.warehouse.dir").contains("graft_wh"))
    val (rocksKey, rocksProvider) = graft.streaming.StreamIngest.rocksdbConf
    assert(s.conf.get(rocksKey) == rocksProvider)
    val rows = s.sql(
      """SELECT seeded_ema(x, 2) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING)
        |FROM VALUES (1.0D), (3.0D) AS t(x)""".stripMargin).collect()
    assert(rows(1).getDouble(0) == 2.0)
    // the register step works on a session that already exists, and
    // registers only what is missing
    val registry = s.sessionState.functionRegistry
    val ema = org.apache.spark.sql.catalyst.FunctionIdentifier("seeded_ema")
    registry.dropFunction(ema)
    assert(GraftSession.local(4) eq s)
    assert(registry.functionExists(ema))
    assert(GraftExtensions.register(s) == 0)
  }

  test("bad SQL function arguments fail at analysis, not at construction") {
    import spark.implicits._
    Seq(("a b c", 2, 1.0)).toDF("s", "n", "x").createOrReplaceTempView("sqlargs")
    def condition(sql: String): String =
      intercept[org.apache.spark.sql.AnalysisException](spark.sql(sql).collect()).getCondition
    val w = "OVER (ORDER BY x ROWS UNBOUNDED PRECEDING)"
    // a length below 1, for a scalar and an aggregate function
    assert(condition("SELECT token_grams(s, 0) FROM sqlargs") ==
      "DATATYPE_MISMATCH.VALUE_OUT_OF_RANGE")
    assert(condition(s"SELECT seeded_ema(x, 0) $w FROM sqlargs") ==
      "DATATYPE_MISMATCH.VALUE_OUT_OF_RANGE")
    assert(condition("SELECT bloom_set_agg(n, 256, -1) FROM sqlargs") ==
      "DATATYPE_MISMATCH.VALUE_OUT_OF_RANGE")
    // an INT or DOUBLE parameter that is not a literal of its type
    assert(condition("SELECT window_hashes(s, n) FROM sqlargs") ==
      "INVALID_PARAMETER_VALUE.INTEGER")
    assert(condition("SELECT token_grams(s, 2.5) FROM sqlargs") ==
      "INVALID_PARAMETER_VALUE.INTEGER")
    assert(condition(s"SELECT holt_smooth(x, x, 0.1, 0) $w FROM sqlargs") ==
      "INVALID_PARAMETER_VALUE.DOUBLE")
    // the wrong number of arguments
    assert(condition("SELECT token_grams(s) FROM sqlargs") ==
      "WRONG_NUM_ARGS.WITHOUT_SUGGESTION")
  }

  test("TableSetup: day-partitioned write, first-write-wins across appends, pruned range read") {
    import spark.implicits._
    val dir = graft.SessionScoped.scratchDir("graft_tbl") + "/stock_indicators"
    def mkBars(priceOff: Double) = (0 until 60).map { i =>
      val ts = new java.sql.Timestamp(1700000000000L + i * 3600_000L) // hourly, ~3 days
      (ts, "A", 100.0 + i + priceOff)
    }.toDF("time", "symbol", "close")
      .withColumn("open", col("close")).withColumn("high", col("close"))
      .withColumn("low", col("close")).withColumn("volume", lit(10L))
    TableSetup.setup(spark, dir)
    TableSetup.writeIndicators(graft.operators.IndicatorPipeline.full(mkBars(0)), dir)
    // conflicting re-append with different prices: every key already exists
    TableSetup.writeIndicators(graft.operators.IndicatorPipeline.full(mkBars(500)), dir)
    val all = spark.read.parquet(dir)
    assert(all.count() == 60)
    assert(all.agg(max(col("close"))).head().getDouble(0) < 500) // first write won
    val days = new java.io.File(dir).listFiles().count(_.getName.startsWith("day="))
    assert(days >= 3)
    val ranged = TableSetup.readRange(spark, dir, "2023-11-15", "2023-11-15")
    assert(ranged.count() == 24)
  }

  test("backfillPartitions replaces only the touched partitions") {
    import spark.implicits._
    val dir = graft.SessionScoped.scratchDir("graft_bf") + "/t"
    def batch(rows: Seq[(String, Long, Double)]) =
      rows.toDF("day", "k", "v")
    // seed three day-partitions
    TableSetup.backfillPartitions(
      batch(Seq(("d1", 1L, 1.0), ("d2", 2L, 2.0), ("d3", 3L, 3.0))),
      dir, Seq("day"))
    // backfill window {d2, d4}: corrected d2 (fewer+different rows), new d4
    TableSetup.backfillPartitions(
      batch(Seq(("d2", 20L, 20.0), ("d4", 4L, 4.0))), dir, Seq("day"))
    val got = spark.read.parquet(dir).collect()
      .map(r => (r.getAs[String]("day"), r.getAs[Long]("k"), r.getAs[Double]("v")))
      .toSet
    // d1/d3 untouched, d2 REPLACED (old row gone, not appended), d4 added
    assert(got == Set(("d1", 1L, 1.0), ("d3", 3L, 3.0),
      ("d2", 20L, 20.0), ("d4", 4L, 4.0)))
    // re-running the same backfill is a no-op (idempotence)
    TableSetup.backfillPartitions(
      batch(Seq(("d2", 20L, 20.0), ("d4", 4L, 4.0))), dir, Seq("day"))
    assert(spark.read.parquet(dir).count() == 4)
  }
}
