package graft.plans

import org.apache.spark.sql.{AnalysisException, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

import graft.functions.{BloomSet, FloatDotProduct, FreqSketch, JaroWinklerSimilarity, SeededAggs, TokenGramStrings, WindowHashes}

/** Engine packaging: registers the custom functions with the session's
  * FunctionRegistry so plain `spark.sql` users get them as first-class
  * (window-)functions:
  *
  *   SELECT seeded_ema(close, 10) OVER (PARTITION BY symbol ORDER BY time
  *          ROWS UNBOUNDED PRECEDING) FROM bars
  *   SELECT wilder_rma(tr, 14) OVER (...), wilder_adx(pdm, ndm, tr, 14) OVER (...)
  *   SELECT float_dot(a.embedding, b.embedding) FROM ...
  *
  * Every session built by [[graft.GraftSession.local]] has them; elsewhere
  * install with `--conf spark.sql.extensions=graft.plans.GraftExtensions`
  * or [[GraftExtensions.register]].
  *
  * A bad call fails at analysis with an `AnalysisException`: the wrong
  * number of arguments, an INT or DOUBLE parameter that is not a literal
  * of its type, or a length below 1.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach { case (id, info, builder) =>
      ext.injectFunction((id, info, builder))
    }
}

object GraftExtensions {

  private def badLiteral(fn: String, param: String, kind: String, got: Expression) =
    new AnalysisException(s"INVALID_PARAMETER_VALUE.$kind", Map(
      "parameter" -> s"`$param`", "functionName" -> s"`$fn`",
      "invalidValue" -> got.toString))

  private def intArg(e: Expression, fn: String, param: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw badLiteral(fn, param, "INTEGER", other)
  }

  /** A length, window size or count: an INT literal of at least 1. */
  private def lenArg(e: Expression, fn: String, param: String): Int = {
    val v = intArg(e, fn, param)
    if (v < 1) throw new AnalysisException("DATATYPE_MISMATCH.VALUE_OUT_OF_RANGE", Map(
      "sqlExpr" -> s"`$fn`", "exprName" -> s"`$param`",
      "valueRange" -> s"[1, ${Int.MaxValue}]", "currentValue" -> v.toString))
    v
  }

  private def dblArg(e: Expression, fn: String, param: String): Double = e match {
    case Literal(v: Double, _) => v
    // SQL fractional literals parse as Literal(Decimal, DecimalType)
    // — the form every SQL user types first (e.g. 0.2, not 0.2D)
    case Literal(v: org.apache.spark.sql.types.Decimal, _) => v.toDouble
    case other => throw badLiteral(fn, param, "DOUBLE", other)
  }

  /** One registry entry; a call with the wrong number of arguments fails
    * at analysis before `build` sees them. */
  private def entry(name: String, cls: Class[_], arity: Int)(
      build: Seq[Expression] => Expression) =
    (new FunctionIdentifier(name), new ExpressionInfo(cls.getName, name),
      (args: Seq[Expression]) => {
        if (args.size != arity) throw new AnalysisException(
          "WRONG_NUM_ARGS.WITHOUT_SUGGESTION", Map("functionName" -> s"`$name`",
            "expectedNum" -> arity.toString, "actualNum" -> args.size.toString,
            "docroot" -> org.apache.spark.SPARK_DOC_ROOT))
        build(args)
      })

  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    entry("seeded_ema", classOf[SeededAggs.EmaAgg], 2) { args =>
      val n = lenArg(args(1), "seeded_ema", "n")
      SeededAggs.EmaAgg(args.head, n, 2.0 / (n + 1)).toAggregateExpression()
    },
    entry("wilder_rma", classOf[SeededAggs.EmaAgg], 2) { args =>
      val n = lenArg(args(1), "wilder_rma", "n")
      SeededAggs.EmaAgg(args.head, n, 1.0 / n).toAggregateExpression()
    },
    entry("wilder_adx", classOf[SeededAggs.AdxAgg], 4) { args =>
      val n = lenArg(args(3), "wilder_adx", "n")
      SeededAggs.AdxAgg(args(0), args(1), args(2), n).toAggregateExpression()
    },
    // SELECT holt_smooth(close, 0.2, 0.1, 2) OVER (PARTITION BY symbol
    //   ORDER BY time ROWS UNBOUNDED PRECEDING) -- part: 0=level 1=trend
    //   2=one-step forecast
    entry("holt_smooth", classOf[SeededAggs.HoltAgg], 4) { args =>
      SeededAggs.HoltAgg(args.head, dblArg(args(1), "holt_smooth", "alpha"),
        dblArg(args(2), "holt_smooth", "beta"),
        intArg(args(3), "holt_smooth", "part")).toAggregateExpression()
    },
    // SELECT holt_winters(close, 24, 0.2, 0.1, 0.25, 3) OVER (PARTITION
    //   BY symbol ORDER BY time ROWS UNBOUNDED PRECEDING) -- part:
    //   0=level 1=trend 2=season 3=one-step forecast
    entry("holt_winters", classOf[SeededAggs.HoltWintersAgg], 6) { args =>
      SeededAggs.HoltWintersAgg(args.head, lenArg(args(1), "holt_winters", "m"),
        dblArg(args(2), "holt_winters", "alpha"), dblArg(args(3), "holt_winters", "beta"),
        dblArg(args(4), "holt_winters", "gamma"),
        intArg(args(5), "holt_winters", "part")).toAggregateExpression()
    },
    // SELECT kalman_1d(close, 0.01, 1.0, 1.0, 0) OVER (PARTITION BY
    //   symbol ORDER BY time ROWS UNBOUNDED PRECEDING) -- part:
    //   0=level 1=gain 2=covariance
    entry("kalman_1d", classOf[SeededAggs.KalmanAgg], 5) { args =>
      SeededAggs.KalmanAgg(args.head, dblArg(args(1), "kalman_1d", "q"),
        dblArg(args(2), "kalman_1d", "r"), dblArg(args(3), "kalman_1d", "p0"),
        intArg(args(4), "kalman_1d", "part")).toAggregateExpression()
    },
    entry("float_dot", classOf[FloatDotProduct], 2) { args =>
      FloatDotProduct(args(0), args(1))
    },
    entry("jaro_winkler", classOf[JaroWinklerSimilarity], 2) { args =>
      JaroWinklerSimilarity(args(0), args(1))
    },
    // SELECT window_hashes(text, 12) — every stride-1 hash60 window of a
    // string in one linear pass (the substring-dedup fast path), SQL
    // surface congruent with the Column API (Dedup.substringWindows)
    entry("window_hashes", classOf[WindowHashes], 2) { args =>
      WindowHashes(args.head, lenArg(args(1), "window_hashes", "minLen"))
    },
    // SELECT token_grams(text, 3) — every word n-gram of a single-space-
    // joined string as zero-copy byte slices (the r19 shingle fast path),
    // SQL surface congruent with the Column API (TokenGrams.tokenGrams)
    entry("token_grams", classOf[TokenGramStrings], 2) { args =>
      TokenGramStrings(args.head, lenArg(args(1), "token_grams", "n"))
    },
    // mergeable sketch family: SELECT mg_merge(sk, 16) FROM (SELECT
    //   mg_sketch(token, 16) AS sk FROM toks GROUP BY source)
    entry("mg_sketch", classOf[FreqSketch.MgSketchAgg], 2) { args =>
      FreqSketch.MgSketchAgg(args.head, lenArg(args(1), "mg_sketch", "k"))
        .toAggregateExpression()
    },
    entry("mg_merge", classOf[FreqSketch.MgMergeAgg], 2) { args =>
      FreqSketch.MgMergeAgg(args.head, lenArg(args(1), "mg_merge", "k"))
        .toAggregateExpression()
    },
    entry("bloom_set_agg", classOf[BloomSet.BloomAgg], 3) { args =>
      BloomSet.BloomAgg(args.head, lenArg(args(1), "bloom_set_agg", "numBits"),
        lenArg(args(2), "bloom_set_agg", "k")).toAggregateExpression()
    })

  /** Register into an already-built session (extensions only apply at
    * session construction; this covers shells/notebooks). Check-then-
    * register, so a repeat call is a no-op. Returns how many functions
    * were newly registered. */
  def register(spark: SparkSession): Int = {
    val registry = spark.sessionState.functionRegistry
    functions.count { case (id, info, builder) =>
      val missing = !registry.functionExists(id)
      if (missing) registry.registerFunction(id, info, builder)
      missing
    }
  }
}
