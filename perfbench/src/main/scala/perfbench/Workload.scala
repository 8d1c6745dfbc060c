package perfbench

import java.nio.file.Path

import org.apache.spark.sql.SparkSession

/** The outcome of one measured pass of a workload.
  *  - `latencyMs`: one sample per operation (a tick or a query);
  *  - `throughput`: operations completed per second of the pass;
  *  - `attempted`/`failed`: operations, where a wrong or missing output
  *    counts as failed;
  *  - `checks`: named correctness checks and whether each held;
  *  - `layers`: per-layer metrics, filled only by a traced pass;
  *  - `primary`: the figure the tracing overhead is computed on, with
  *    `true` when higher is better. */
final case class Pass(latencyMs: Seq[Double], throughput: Double, attempted: Long, failed: Long,
    checks: Seq[(String, Boolean)], layers: Map[String, Double], primary: (Double, Boolean)) {
  def correct: Boolean = failed == 0 && checks.forall(_._2)
}

trait Workload {
  /** Exercise the workload's whole code path once on throwaway state, so
    * first-use costs (class loading, codegen) are charged to set-up. */
  def warmup(spark: SparkSession, dir: Path): Unit

  /** Untimed preparation shared by the passes of a run. */
  def prepare(spark: SparkSession, dir: Path): Unit = ()

  /** One measured pass lasting about `seconds`. */
  def run(spark: SparkSession, tracer: Tracer, dir: Path, seconds: Int): Pass

  /** Extra traced-run figures that need their own session (the
    * single-thread baseline). Runs after the traced pass. */
  def baseline(dir: Path, localDir: String): Map[String, Double] = Map.empty
}
