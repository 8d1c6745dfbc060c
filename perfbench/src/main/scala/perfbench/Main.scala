package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Runs one workload and writes its result as one JSON object:
  * `{"correct", "attempted", "failed", "metrics": {name: value}}`.
  *
  * Protocol of a run:
  *  1. set-up, [[SetupReps]] times: start the session and run the
  *     workload's warm-up on throwaway state, and keep the last session.
  *     Only the first set-up is cold; the later ones reuse the JVM's
  *     loaded classes, JIT code and codegen cache. So `setup_s`, the
  *     median, is the cost of a warm session restart, and the cold first
  *     set-up is reported by the traced run as `setup.cold_s`;
  *  2. the workload prepares, untimed (a throwaway drain or query pass);
  *  3. one measured pass with tracing off, which gives the end-to-end
  *     metrics;
  *  4. with `--trace 1` only: a second pass with the listeners attached,
  *     which gives the per-layer metrics, the span file and the tracing
  *     overhead (traced against untraced pass), then the workload's
  *     single-thread baseline if it has one.
  *
  * Usage: `perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --cores C --work DIR --result FILE --data DIR [--spans FILE]`.
  * `--mode prime` runs every warm-up once (the build records the classes
  * it loads); `--mode oracle-sql --out FILE` writes the mix's oracle SQL. */
object Main {
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = o.getOrElse(k, sys.error(s"missing --$k"))
    o.get("mode") match {
      case Some("oracle-sql") =>
        val p = Paths.get(need("out"))
        Files.writeString(p, Util.json(QueryMix.oracleSql) + "\n")
      case Some("prime") => prime(need("cores").toInt, Paths.get(need("work")).toAbsolutePath,
        Paths.get(need("data")).toAbsolutePath)
      case _ => run(o, need)
    }
  }

  /** Run every workload's warm-up once: the class-loading profile the
    * build records into the JVM's class-data-sharing archive. */
  private def prime(cores: Int, work: Path, data: Path): Unit = {
    val spark = Session.start(cores, work.resolve("spark-local").toString)
    try Seq(new StreamWorkload(0), new QueryMix(0, data)).zipWithIndex
      .foreach { case (w, i) => w.warmup(spark, work.resolve(s"prime$i")) }
    finally spark.stop()
  }

  private def run(o: Map[String, String], need: String => String): Unit = {
    val name = need("workload")
    val seed = need("seed").toLong
    val seconds = need("seconds").toInt
    val traced = need("trace") == "1"
    val cores = need("cores").toInt
    val work = Paths.get(need("work")).toAbsolutePath
    val result = Paths.get(need("result")).toAbsolutePath
    val local = work.resolve("spark-local").toString
    val workload: Workload = name match {
      case "stream" => new StreamWorkload(seed)
      case "query_mix" => new QueryMix(seed, Paths.get(need("data")).toAbsolutePath)
      case other => sys.error(s"unknown workload '$other'")
    }

    var spark: SparkSession = null
    val setups = (0 until SetupReps).map { rep =>
      val t = Util.nowMs()
      spark = Session.start(cores, local)
      workload.warmup(spark, work.resolve(s"warmup$rep"))
      val s = (Util.nowMs() - t) / 1000.0
      if (rep < SetupReps - 1) spark.stop()
      s
    }
    System.err.println(s"[perfbench] set-up seconds: ${setups.mkString(" ")}")
    val p = Util.nowMs()
    workload.prepare(spark, work.resolve("inputs"))
    System.err.println(s"[perfbench] prepare: ${(Util.nowMs() - p) / 1000.0} s")

    val t = Util.nowMs()
    val plain = workload.run(spark, new Tracer(false, s"$name-$seed-plain"), work.resolve("pass-plain"), seconds)
    System.err.println(s"[perfbench] untraced pass: ${(Util.nowMs() - t) / 1000.0} s")
    val (passes, metrics) =
      if (!traced) (Seq(plain), Map(
        "setup_s" -> Util.median(setups),
        "peak_rss_mb" -> Util.peakRssMb(),
        "latency_p50_ms" -> Util.quantile(plain.latencyMs, 0.5),
        "latency_p90_ms" -> Util.quantile(plain.latencyMs, 0.9),
        "throughput_per_s" -> plain.throughput))
      else {
        val tracer = new Tracer(true, s"$name-$seed-traced")
        tracer.attach(spark)
        val t = tracer.clock()
        val pass = tracer.span("run", name) {
          workload.run(spark, tracer, work.resolve("pass-traced"), seconds)
        }
        val wall = tracer.clock() - t
        val (codegenMs, gcMs) = tracer.detach()
        val (untraced, higherIsBetter) = plain.primary
        val overhead = 100.0 * (
          if (higherIsBetter) untraced / pass.primary._1 - 1.0 else pass.primary._1 / untraced - 1.0)
        spark.stop()
        val layers = Engine.layers(tracer, wall, cores, codegenMs, gcMs) ++ pass.layers ++
          workload.baseline(work.resolve("baseline"), local) ++
          Map("trace.overhead_pct" -> overhead, "trace.spans" -> tracer.spans.size.toDouble,
            "setup.cold_s" -> setups.head)
        o.get("spans").foreach { f =>
          tracer.dump(Paths.get(f).toAbsolutePath, Map("workload" -> name, "seed" -> seed,
            "seconds" -> seconds, "cores" -> cores, "setup_s" -> setups,
            "untraced_primary" -> untraced, "traced_primary" -> pass.primary._1,
            "checks" -> pass.checks.map { case (k, v) => Map(k -> v) },
            "traced_latency_ms" -> pass.latencyMs, "layers" -> layers))
        }
        (Seq(plain, pass), layers)
      }
    if (!traced) spark.stop()

    passes.flatMap(_.checks).filterNot(_._2)
      .foreach(c => System.err.println(s"[perfbench] check failed: ${c._1}"))
    val out = Map(
      "correct" -> passes.forall(_.correct),
      "attempted" -> passes.map(_.attempted).sum,
      "failed" -> passes.map(_.failed).sum,
      "metrics" -> metrics)
    Util.writeAtomically(result.getParent, result, Util.json(out) + "\n")
  }
}
