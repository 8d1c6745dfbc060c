package graft

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.SparkSession

import graft.plans.GraftExtensions
import graft.streaming.StreamIngest

/** The one way the engine builds a Spark session. Every CLI main and the
  * test fixture call [[local]], so their confs are identical by
  * construction: local mode on `cpus` cores with one shuffle partition per
  * core, UTC session time, the plan-string cap, no UI, a scratch warehouse
  * dir, the RocksDB state store the streaming operators need, and the
  * engine's SQL functions ([[GraftExtensions]]) registered. */
object GraftSession {

  /** Cores for [[local]]: the env var below if set, else every core the
    * JVM sees. */
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim).filter(_.nonEmpty)
    .map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)

  private lazy val warehouseDir = SessionScoped.scratchDir("graft_wh")

  /** Build the local session, or return the one that already exists (its
    * runtime confs reset to these). Safe to call more than once. */
  def local(cpus: Int = GraftSession.cpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // plan strings of lineage-kept iterative loops are exponential to
      // DESCRIBE (generateTreeString expands a DAG as a tree) — cap so the
      // driver never OOMs stringifying a plan (r16 sweep, SCALE.md)
      .config("spark.sql.maxPlanStringLength", (1 << 20).toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", warehouseDir)
      .config(StreamIngest.rocksdbConf._1, StreamIngest.rocksdbConf._2)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // The only WARN-level flood in a clean run is WindowExec's "No Partition
    // Defined" for the two allowlisted calendar-sized windows (PlanAuditSpec);
    // it buried Bench's pointer line mid-token in a clipped capture window.
    Configurator.setLevel("org.apache.spark.sql.execution.window.WindowExec", Level.ERROR)
    GraftExtensions.register(spark)
    spark
  }
}
