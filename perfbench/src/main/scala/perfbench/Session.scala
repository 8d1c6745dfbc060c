package perfbench

import org.apache.spark.sql.SparkSession

import graft.streaming.StreamIngest

/** The one Spark session every workload runs on, configured like the
  * library's entry points (`graft.Bench`, `StreamRunner`): local mode on
  * all given cores, one shuffle partition per core, UTC session time, the
  * plan-string cap, adaptive execution, no UI, and the RocksDB state store
  * the streaming indicator operator requires. Scratch space stays inside
  * the run's work directory. */
object Session {
  def start(cores: Int, localDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.maxPlanStringLength", (1 << 20).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .config("spark.sql.warehouse.dir", s"$localDir/warehouse")
      .config(StreamIngest.rocksdbConf._1, StreamIngest.rocksdbConf._2)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
