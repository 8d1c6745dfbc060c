package perfbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.model.Model
import graft.operators.IndicatorPipeline
import graft.sinks.IdempotentSink
import graft.streaming.StreamIngest

/** The paper's live path driven through the library's public functions:
  * JSON tick files → `StreamIngest.fromRaw` (parse, watermarked replay
  * dedup, per-symbol 60-row state, indicators) → `IdempotentSink.append`
  * in the benchmark's own `foreachBatch`. */
object Streams {

  final case class Commit(batch: Long, startMs: Double, endMs: Double, files: Seq[String])

  /** One streaming query over `feed`, sinking into `sink`. Each sink append
    * is timed, and the parquet files it created are remembered, so every
    * sunk row can be traced to the micro-batch that committed it. */
  final class Run(spark: SparkSession, tracer: Tracer, root: Path, maxFilesPerTrigger: Option[Int]) {
    val feed: Path = root.resolve("feed")
    val tmp: Path = root.resolve("feed.tmp")
    val sink: Path = root.resolve("sink")
    private val chk = root.resolve("chk")
    Files.createDirectories(feed)
    private val seen = mutable.Set[String]() ++ sinkFiles()
    private val commitsBuf = mutable.ArrayBuffer[Commit]()
    def commits: Seq[Commit] = synchronized(commitsBuf.toList)

    private def sinkFiles(): List[String] =
      if (!Files.isDirectory(sink)) Nil
      else {
        val ls = Files.list(sink)
        try ls.iterator().asScala.map(_.getFileName.toString).filter(_.endsWith(".parquet")).toList
        finally ls.close()
      }

    def start(parentSpan: Int): StreamingQuery = {
      val raw = tracer.span("sources", "construct") {
        val r = spark.readStream.schema("value STRING")
        maxFilesPerTrigger.fold(r)(n => r.option("maxFilesPerTrigger", n.toLong)).text(feed.toString)
      }
      val rows = tracer.span("streaming", "construct") {
        StreamIngest.fromRaw(raw).select(col("row.*"), col("seq"))
      }
      rows.writeStream
        .outputMode("append")
        .option("checkpointLocation", chk.toString)
        .foreachBatch { (batch: DataFrame, id: Long) =>
          val s = Util.nowMs()
          tracer.span("sinks", "append", parentSpan) {
            IdempotentSink.append(batch, sink.toString, Seq("time", "symbol"), "seq")
          }
          val e = Util.nowMs()
          val fresh = sinkFiles().filterNot(seen)
          seen ++= fresh
          synchronized(commitsBuf += Commit(id, s, e, fresh))
          ()
        }
        .start()
    }

    /** Sunk (symbol, event ms) → end time of the append that wrote it. */
    def commitTimes(all: Seq[Commit]): Map[(String, Long), Double] = {
      val byFile = all.flatMap(c => c.files.map(_ -> c.endMs)).toMap
      spark.read.parquet(sink.toString)
        .select(col("symbol"), unix_millis(col("time")), col("_metadata.file_name"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1)) -> byFile(r.getString(2)))
        .toMap
    }
  }

  /** Throwaway run: one micro-batch of two symbols with enough ticks to
    * pass the warm-up gate, so parsing, both state operators, the
    * indicator fold and the first sink write all run once. */
  def warmup(spark: SparkSession, dir: Path, seed: Long): Unit = {
    val run = new Run(spark, new Tracer(false, "warmup"), dir, Some(1))
    val ticks = new Ticks(seed, 2, 5000L).range(0, 30)
    Ticks.writeFeedFile(run.feed, run.tmp, 0, ticks.flatten, Ticks.Epoch)
    val q = run.start(0)
    // stop once the batch is sunk: the no-data batch that would follow
    // (to advance the dedup watermark) exercises nothing new
    while (run.commits.isEmpty && q.isActive) Thread.sleep(5)
    q.stop()
    q.exception.foreach(e => throw e)
  }

  /** Compare the sink with `IndicatorPipeline.gated` over the delivered
    * ticks (live-path bars: OHLC = price, no volume). With at most 60
    * ticks per symbol the stream's bounded state equals the batch windows,
    * so every row must match. Returns (expected rows, rows missing, extra
    * or differing, duplicate keys). */
  def check(spark: SparkSession, sink: Path, ticks: Seq[Tick]): (Long, Long, Long) = {
    import spark.implicits._
    val bars = ticks.map(t => (t.symbol, t.timestamp, t.price)).toDF("symbol", "ms", "price")
      .select(timestamp_millis(col("ms")).as("time"), col("symbol"),
        col("price").as("open"), col("price").as("high"), col("price").as("low"),
        col("price").as("close"), lit(null).cast("long").as("volume"))
    val expected = IndicatorPipeline.gated(bars)
    val got = spark.read.parquet(sink.toString).select(Model.DbColumns.map(col): _*)
    val values = Model.DbColumns.drop(2)
    def side(df: DataFrame, p: String) =
      df.select(Seq(col("time"), col("symbol"), lit(1).as(s"${p}n")) ++
        values.map(c => col(c).as(p + c)): _*)
    // a key the sink holds twice joins twice, so duplicates are counted
    // as the sink rows beyond one per key
    val j = side(expected, "e_").join(side(got, "g_"), Seq("time", "symbol"), "full_outer")
    val same: Column = values.map { c =>
      val (e, g) = (col("e_" + c), col("g_" + c))
      if (expected.schema(c).dataType.typeName == "double")
        (e.isNull && g.isNull) ||
          (e.isNotNull && g.isNotNull && abs(e - g) <= lit(1e-9) * greatest(lit(1.0), abs(e)))
      else e <=> g
    }.reduce(_ && _) && col("e_n").isNotNull && col("g_n").isNotNull
    val r = j.groupBy(col("time"), col("symbol"))
      .agg(count(col("e_n")).as("e"), count(col("g_n")).as("g"), min(same.cast("int")).as("ok"))
      .agg(sum(when(col("e") > 0, 1).otherwise(0)), sum(when(col("ok") === 0, 1).otherwise(0)),
        sum(when(col("g") > 1, col("g") - 1).otherwise(0)))
      .head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** Per-layer figures of a traced stream pass: micro-batch phases from
    * `StreamingQueryProgress`, both state operators, the sink appends and
    * the feed scans. */
  def layers(tracer: Tracer, run: Run, querySpan: Int, catchupBatches: Int): Map[String, Double] = {
    val all = tracer.progress
    val ps = all.filter(_.numInputRows > 0)
    val liveRuns = all.map(_.runId).distinct.drop(1).toSet
    def dur(k: String) = ps.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0))
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    def q(xs: Seq[Double], p: Double) = if (xs.isEmpty) 0.0 else Util.quantile(xs, p)
    val ops = ps.flatMap(_.stateOperators.toSeq)
    val ind = ops.filter(_.operatorName.contains("transformWithState"))
    val ded = ops.filter(_.operatorName.toLowerCase.contains("dedup"))
    def custom(o: org.apache.spark.sql.streaming.StateOperatorProgress, k: String) =
      Option(o.customMetrics.get(k)).map(_.doubleValue).getOrElse(0.0)
    val inputRows = ps.map(_.numInputRows.toDouble).sum
    val liveTrigger = ps.filter(p => liveRuns(p.runId))
      .map(p => Option(p.durationMs.get("triggerExecution")).map(_.doubleValue).getOrElse(0.0))
    val dropped = ded.map(o => custom(o, "numDroppedDuplicateRows")).sum
    val wall0 = tracer.wallOrigin
    ps.foreach { p =>
      val s = java.time.Instant.parse(p.timestamp).toEpochMilli - wall0
      val counters = p.durationMs.asScala.map { case (k, v) => s"$k" -> v.doubleValue }.toMap ++
        Map("input_rows" -> p.numInputRows.toDouble)
      tracer.record("streaming", s"batch ${p.batchId}", querySpan, s.toDouble,
        s.toDouble + counters.getOrElse("triggerExecution", 0.0), counters)
    }
    val appends = tracer.spans.filter(s => s.layer == "sinks" && s.name == "append")
    val appendActs = appends.flatMap(s => tracer.actionsUnder(s.id))
    val sinkRoot = run.sink.toString
    val rowsIn = appendActs.map(_.batchRows).sum.toDouble
    val written = appendActs.map(_.writeRows).sum.toDouble
    val existing = appendActs.map(a => a.scans.filter(_.root.contains(sinkRoot)).map(_.files).sum.toDouble)
    val rocks = Seq("rocksdbCommitFlushLatency", "rocksdbCommitCompactLatency",
      "rocksdbCommitCheckpointLatency", "rocksdbGetLatency", "rocksdbPutLatency",
      "rocksdbSstFileSize", "rocksdbTotalBytesWritten")
    Map(
      "streaming.batches" -> ps.size.toDouble,
      "streaming.batch_rows_mean" -> mean(ps.map(_.numInputRows.toDouble)),
      "streaming.get_batch_ms" -> mean(dur("getBatch")),
      "streaming.query_planning_ms" -> mean(dur("queryPlanning")),
      "streaming.add_batch_ms" -> mean(dur("addBatch")),
      "streaming.wal_commit_ms" -> mean(dur("walCommit")),
      "streaming.commit_offsets_ms" -> mean(dur("commitOffsets")),
      "streaming.trigger_ms_p50" -> q(liveTrigger, 0.5),
      "streaming.trigger_ms_p90" -> q(liveTrigger, 0.9),
      "state.indicator.updates_ms" -> mean(ind.map(_.allUpdatesTimeMs.toDouble)),
      "state.indicator.commit_ms" -> mean(ind.map(_.commitTimeMs.toDouble)),
      "state.indicator.rows_total" -> ind.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0),
      "state.indicator.memory_bytes" -> ind.lastOption.map(_.memoryUsedBytes.toDouble).getOrElse(0.0),
      "state.dedup.updates_ms" -> mean(ded.map(_.allUpdatesTimeMs.toDouble)),
      "state.dedup.commit_ms" -> mean(ded.map(_.commitTimeMs.toDouble)),
      "state.dedup.rows_total" -> ded.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0),
      "state.dedup.rows_dropped" -> dropped,
      "state.dedup.drop_ratio" -> (if (inputRows > 0) dropped / inputRows else 0.0),
      "state.dedup.rows_evicted" -> ded.map(_.numRowsRemoved.toDouble).sum,
      "sinks.append_ms_p50" -> q(appends.map(_.ms), 0.5),
      "sinks.append_ms_p90" -> q(appends.map(_.ms), 0.9),
      "sinks.append_rows_in" -> rowsIn,
      "sinks.rows_written" -> written,
      "sinks.rows_dropped_dup" -> (rowsIn - written),
      "sinks.existing_files_read" -> mean(existing),
      "sinks.files_written" -> appendActs.map(_.writeFiles).sum.toDouble,
      "sinks.bytes_written" -> appendActs.map(_.writeBytes).sum.toDouble) ++
      rocks.map(k => s"state.rocksdb.$k" -> mean(ind.map(o => custom(o, k))))
  }
}

/** `stream`: the paper's live path, first catching up, then live.
  *
  * Catch-up (the restart-after-outage replay): a preloaded backlog of
  * [[BacklogFiles]] files, each holding the next 13 ticks of every one of
  * 1,500 symbols (19,500 ticks), drained one file per micro-batch as fast
  * as possible. Large batches make the per-tick state and indicator work
  * dominate. `throughput_per_s` is backlog ticks over the time from the
  * start of the first backlog batch's sink append (which runs the batch's
  * stateful operators) to the end of the last one's.
  *
  * Live: the query restarts from its checkpoint without the per-trigger
  * file cap and a generator thread runs an open loop at the reference
  * producer's cadence: every 5 s it fetches all symbols at once, flushes
  * them together and sleeps to the next period. So each period is one
  * file holding one tick of every symbol (300 ticks/s), shuffled, and a
  * seeded 1% of each file's ticks is re-sent in the next file (producer
  * retries). The backlog already gave every symbol 39 rows, so every live
  * tick passes the 26-row warm-up gate and emits a row. The first burst
  * is a primer, sunk before the clock starts, so the restart's
  * first-batch costs stay out of the timed window; one timed burst
  * follows per 5 s of `--seconds`. Each timed tick is measured from when
  * its burst was due to the end of the sink append that wrote its row:
  * `latency_p50_ms` and `latency_p90_ms`. Small batches make the
  * per-batch fixed costs dominate.
  *
  * A symbol gets at most [[StateRows]] ticks, so the stream's bounded
  * state equals the batch windows and the sink is checked row by row
  * against `IndicatorPipeline.gated`; a `--seconds` that would exceed it
  * is refused. */
final class StreamWorkload(seed: Long) extends Workload {
  private val Symbols = 1500
  private val PeriodMs = 5000L
  private val BacklogFiles = 3
  private val TicksPerFile = 13
  private val Redeliver = 0.01
  /** Rows of per-symbol state the library keeps. */
  private val StateRows = 60

  def warmup(spark: SparkSession, dir: Path): Unit = Streams.warmup(spark, dir, seed)

  def run(spark: SparkSession, tracer: Tracer, dir: Path, seconds: Int): Pass = {
    val ticks = new Ticks(seed, Symbols, PeriodMs)
    // burst 0 is the primer; bursts 1 to `bursts - 1` are timed
    val bursts = (seconds * 1000L / PeriodMs).toInt + 1
    val history = BacklogFiles * TicksPerFile
    require(bursts >= 2, s"--seconds $seconds is shorter than one ${PeriodMs / 1000} s period")
    require(history + bursts <= StateRows, s"--seconds $seconds gives a symbol ${history + bursts} ticks; " +
      s"the row-for-row check holds only up to $StateRows")
    val perSymbol = ticks.range(-history, bursts)
    val backlog = perSymbol.map(_.take(history))
    val burst = (0 until bursts).map(k => perSymbol.map(_(history + k)))
    val live = burst.flatten
    val rnd = new SplittableRandom(seed ^ 0x5DEECE66DL)

    // live files, precomputed so the generator only writes on schedule
    var carry = IndexedSeq.empty[Tick]
    val files = burst.zipWithIndex.map { case (own, k) =>
      val body = Ticks.shuffle(own ++ carry, rnd)
      carry = if (k + 1 < bursts) own.filter(_ => rnd.nextDouble() < Redeliver) else IndexedSeq.empty
      body
    }
    val redelivered = files.map(_.size).sum - live.size

    val catchup = new Streams.Run(spark, tracer, dir, Some(1))
    val base = System.currentTimeMillis() - 3600000L
    val backlogSizes = (0 until BacklogFiles).map { f =>
      val body = Ticks.shuffle(backlog.flatMap(_.slice(f * TicksPerFile, (f + 1) * TicksPerFile)), rnd)
      Ticks.writeFeedFile(catchup.feed, catchup.tmp, f, body, base + f * 1000L)
      body.size
    }

    var (t0, lateMax, querySpan) = (0.0, 0.0, 0)
    var liveRun: Streams.Run = null
    tracer.span("streaming", "query") {
      querySpan = tracer.currentSpan
      val qc = catchup.start(querySpan)
      qc.processAllAvailable()
      qc.stop()
      liveRun = new Streams.Run(spark, tracer, dir, None)
      val ql = liveRun.start(querySpan)
      // the primer file pays the restarted query's first-batch costs
      // before the clock starts
      Ticks.writeFeedFile(liveRun.feed, liveRun.tmp, BacklogFiles, files(0), System.currentTimeMillis())
      while (liveRun.commits.isEmpty && ql.isActive) Thread.sleep(5)
      t0 = Util.nowMs() // burst k is due at t0 + k * PeriodMs
      (1 until bursts).foreach { k =>
        val at = t0 + k * PeriodMs
        val wait = at - Util.nowMs()
        if (wait > 0) Thread.sleep(wait.toLong, ((wait - wait.toLong) * 1e6).toInt)
        Ticks.writeFeedFile(liveRun.feed, liveRun.tmp, BacklogFiles + k, files(k), System.currentTimeMillis())
        lateMax = math.max(lateMax, Util.nowMs() - at)
      }
      ql.processAllAvailable()
      ql.stop()
    }

    val checkStart = Util.nowMs()
    // backlog batch b drained backlog file b; later batches carry no data
    val backlogCommits = catchup.commits.sortBy(_.batch).take(BacklogFiles)
    val catchupMs = backlogCommits.last.endMs - backlogCommits.head.startMs
    val commit = liveRun.commitTimes(catchup.commits ++ liveRun.commits)
    val timed = burst.drop(1).flatten
    val lat = timed.flatMap(t => commit.get((t.symbol, t.timestamp)).map(_ - (t0 + ticks.offsetMs(t))))
    val sunk = live.count(t => commit.contains((t.symbol, t.timestamp)))
    val (expected, bad, dups) = Streams.check(spark, liveRun.sink, backlog.flatten ++ live)
    System.err.println(f"[perfbench] stream: live phase ${(checkStart - t0) / 1000}%.1f s, " +
      f"checks ${(Util.nowMs() - checkStart) / 1000}%.1f s")
    val layers = if (!tracer.enabled) Map.empty[String, Double] else
      Streams.layers(tracer, liveRun, querySpan, backlogCommits.size) ++ Map(
        "streaming.catchup_ms" -> catchupMs,
        "load.ticks_offered" -> (backlogSizes.sum + live.size + redelivered).toDouble,
        "load.files_written" -> (BacklogFiles + bursts).toDouble,
        "load.generator_late_ms_max" -> lateMax,
        "load.redelivered" -> redelivered.toDouble)
    Pass(lat, backlogSizes.sum / (catchupMs / 1000.0),
      attempted = backlogSizes.sum.toLong + live.size, failed = bad + dups + (live.size - sunk),
      checks = Seq(
        "one micro-batch per backlog file" -> (backlogCommits.size == BacklogFiles),
        "every live tick sunk" -> (sunk == live.size),
        "sink rows equal the expected gated rows" -> (bad == 0 && expected > 0),
        "(time, symbol) unique in the sink" -> (dups == 0)),
      layers, primary = (Util.median(lat), false))
  }

  /** Drain a fresh backlog of `files` files of `symbols` symbols under
    * `dir`, one file per micro-batch; ticks per second, timed like the
    * catch-up phase. */
  private def drain(spark: SparkSession, dir: Path, files: Int, symbols: Int): Double = {
    val run = new Streams.Run(spark, new Tracer(false, "drain"), dir, Some(1))
    val ticks = new Ticks(seed, symbols, PeriodMs).range(0, files * TicksPerFile)
    val base = System.currentTimeMillis() - 3600000L
    (0 until files).foreach { f =>
      Ticks.writeFeedFile(run.feed, run.tmp, f,
        ticks.flatMap(_.slice(f * TicksPerFile, (f + 1) * TicksPerFile)), base + f * 1000L)
    }
    val q = run.start(0)
    q.processAllAvailable()
    q.stop()
    val c = run.commits.sortBy(_.batch).take(files)
    ticks.map(_.size).sum / ((c.last.endMs - c.head.startMs) / 1000.0)
  }

  /** A throwaway two-file drain of a third of the symbols, so the measured
    * catch-up runs on JIT-compiled fold code. Cold, the catch-up rate
    * varied by a quarter between runs, and a second drain in the same JVM
    * ran about 1.5× faster. */
  override def prepare(spark: SparkSession, dir: Path): Unit = drain(spark, dir, 2, Symbols / 3)

  /** The catch-up drain on one core (`local[1]`): the single-thread
    * baseline for `throughput_per_s`. */
  override def baseline(dir: Path, localDir: String): Map[String, Double] = {
    val spark = Session.start(1, localDir)
    try {
      Streams.warmup(spark, dir.resolve("warm"), seed)
      Map("streaming.local1_ticks_per_s" -> drain(spark, dir.resolve("run"), BacklogFiles, Symbols))
    } finally spark.stop()
  }
}
