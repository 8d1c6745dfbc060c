package perfbench

import java.nio.file.{Files, Path}
import java.security.MessageDigest
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.SparkEntry

/** `query_mix`: one closed-loop client runs a fixed list of
  * `SparkEntry.queries` over read-only sf0.01 tables (the library's
  * seed-42 test data, kept in the benchmark's `data/` directory), each
  * result collected to the client. The seed only permutes the order.
  *
  * Light queries are dominated by DataFrame construction, Catalyst and
  * job scheduling; heavy ones by iterative driver loops, task work and
  * shuffles. A pass runs each light query 4 times and each heavy query 3
  * times, in a seeded order: of 34 samples, the median then falls inside
  * the samples of one light query and the 90th percentile inside those of
  * one heavy query. (With repeats that put a percentile between two
  * queries' samples, it moved by a third between runs.)
  * After one untimed pass, a run makes one timed pass per
  * [[QueryMix.PassSeconds]] of `--seconds` (at least one), so the work
  * depends only on `--seconds`, never on speed.
  * `latency_p50_ms`/`latency_p90_ms` are over every query run;
  * `throughput_per_s` is queries per second. Each result's row count and
  * row-multiset hash must equal the DuckDB oracle's, recorded once in
  * `oracle/query_mix.json`. */
final class QueryMix(seed: Long, data: Path) extends Workload {
  import QueryMix._

  private lazy val oracle: Map[String, (Long, String)] = {
    val txt = Files.readString(data.getParent.getParent.resolve("oracle").resolve("query_mix.json"))
    "\"(q_[a-z0-9_]+)\"\\s*:\\s*\\{\"rows\":\\s*(\\d+),\\s*\"hash\":\\s*\"([0-9a-f]+)\"".r
      .findAllMatchIn(txt).map(m => m.group(1) -> (m.group(2).toLong, m.group(3))).toMap
  }

  def warmup(spark: SparkSession, dir: Path): Unit =
    SparkEntry.queries("q_time_range")(spark, data.toString).collect()

  /** One untimed pass over the list: a server that answers these queries
    * has compiled their code paths long before, so the timed pass does not
    * charge first-use JIT and codegen to each query. */
  override def prepare(spark: SparkSession, dir: Path): Unit =
    (Light ++ Heavy).foreach(n => SparkEntry.queries(n)(spark, data.toString).collect())

  def run(spark: SparkSession, tracer: Tracer, dir: Path, seconds: Int): Pass = {
    val order = Ticks.shuffle(
      (Seq.fill(LightRepeats)(Light).flatten ++ Seq.fill(HeavyRepeats)(Heavy).flatten).toIndexedSeq,
      new SplittableRandom(seed))
    val runs = collection.mutable.ArrayBuffer[(String, Double, Boolean)]()
    val t0 = Util.nowMs()
    (0 until math.max(1, seconds / PassSeconds)).foreach { _ =>
      order.foreach { name =>
        val t = Util.nowMs()
        val (schema, rows) = tracer.span("engine", s"query $name") {
          val df = tracer.span("sources", "construct")(SparkEntry.queries(name)(spark, data.toString))
          (df.schema, tracer.span("engine", "collect")(df.collect()))
        }
        val wall = Util.nowMs() - t
        runs += ((name, wall, oracle.get(name).contains((rows.length.toLong, hash(schema, rows)))))
      }
    }
    val wall = Util.nowMs() - t0
    def perQuery(n: String) = Util.median(runs.filter(_._1 == n).map(_._2).toSeq)
    val layers = if (!tracer.enabled) Map.empty[String, Double] else
      (Light ++ Heavy).map(n => s"engine.query.$n.wall_ms" -> perQuery(n)).toMap ++ Map(
        "mix.light_s" -> Light.map(perQuery).sum / 1000.0,
        "mix.heavy_s" -> Heavy.map(perQuery).sum / 1000.0) ++
        operatorCounts(tracer)
    val bad = runs.filterNot(_._3).map(_._1)
    bad.distinct.foreach(n => System.err.println(s"[perfbench] $n differs from its oracle"))
    Pass(runs.map(_._2).toSeq, runs.size / (wall / 1000.0),
      attempted = runs.size, failed = bad.size,
      checks = Seq("every query has a recorded oracle" -> (Light ++ Heavy).forall(oracle.contains),
        "every result matches its oracle" -> bad.isEmpty),
      layers, primary = (Util.median(runs.map(_._2).toSeq), false))
  }

  private def operatorCounts(tracer: Tracer): Map[String, Double] = {
    val acts = tracer.actions
    val work = tracer.total
    Map(
      "operators.exchanges" -> acts.map(_.exchanges).sum.toDouble,
      "operators.window_execs" -> acts.map(_.windows).sum.toDouble,
      "operators.shuffle_write_bytes" -> work.shuffleWriteBytes.toDouble,
      "operators.spill_bytes" -> work.spillBytes.toDouble)
  }
}

object QueryMix {
  /** Nominal length of one timed pass on 4 cores. */
  val PassSeconds = 25
  val LightRepeats = 4
  val HeavyRepeats = 3

  val Light: Seq[String] = Seq("q_latest_per_key", "q_time_range", "q_dedup_first_wins",
    "q_tick_parse", "q_bars_hourly", "q_join_revenue", "q_live_latest")
  /** Iterative operators: ANN search (IVF) and graph ranking (PageRank). */
  val Heavy: Seq[String] = Seq("q_cosine_ivf", "q_pagerank")

  /** Order-independent hash of a result: for each row, the md5 of its
    * values in column-name order, canonically rendered; the first 8 bytes
    * of each digest summed modulo 2^64. `record_oracle.py` renders DuckDB
    * rows the same way. */
  def hash(schema: StructType, rows: Array[Row]): String = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    val md = MessageDigest.getInstance("MD5")
    var sum = 0L
    rows.foreach { r =>
      val text = order.map(i => canon(r.get(i))).mkString("|")
      val d = md.digest(text.getBytes("UTF-8"))
      sum += java.nio.ByteBuffer.wrap(d, 0, 8).getLong
    }
    f"$sum%016x"
  }

  def canon(v: Any): String = v match {
    case null => "N"
    case b: Boolean => if (b) "B1" else "B0"
    case x: Byte => "I" + x
    case x: Short => "I" + x
    case x: Int => "I" + x
    case x: Long => "I" + x
    case x: java.math.BigDecimal => "D" + x.stripTrailingZeros.toPlainString
    case x: scala.math.BigDecimal => canon(x.bigDecimal)
    case x: Float => canon(x.toDouble)
    case x: Double =>
      if (x.isNaN) "FNaN" else if (x == 0.0) "F0"
      else f"F${java.lang.Double.doubleToLongBits(x)}%016x"
    case s: String => "S" + s
    case t: java.sql.Timestamp =>
      "T" + (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000)
    case t: java.time.Instant => "T" + (t.getEpochSecond * 1000000L + t.getNano / 1000)
    case d: java.sql.Date => "d" + d.toLocalDate.toString
    case d: java.time.LocalDate => "d" + d.toString
    case r: Row => r.toSeq.map(canon).mkString("{", ",", "}")
    case xs: scala.collection.Map[_, _] =>
      xs.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("<", ",", ">")
    case xs: scala.collection.Seq[_] => xs.map(canon).mkString("[", ",", "]")
    case other => sys.error(s"no canonical form for ${other.getClass}")
  }

  /** The oracle SQL of every query in the mix, for `record_oracle.py`. */
  def oracleSql: Map[String, String] = (Light ++ Heavy).map(n => n -> SparkEntry.oracleSql(n)).toMap
}
