package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.local()
    new java.io.File(outDir).mkdirs()
    // dev-only subset filter (unset for the driver's full run). Empty /
    // whitespace-only values are treated as unset — Set("") would silently
    // filter out every query (empty output dir, no error, zeroed round).
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty)
    only.foreach { o =>
      val run = SparkEntry.queries.keys.count(o.contains)
      System.err.println(
        s"[verify] SPARK_GRAFT_ONLY active: running $run/${SparkEntry.queries.size} queries")
    }
    // one stderr status line per query: name, ok/FAILED, wall seconds; a
    // failure adds the exception class and its root cause
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      val failure =
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
          None
        } catch { case e: Throwable => Some(e) }
      val sec = "%.2f".formatLocal(java.util.Locale.ROOT, (System.nanoTime() - t0) / 1e9)
      failure match {
        case None => System.err.println(s"[verify] $name ok ${sec}s")
        case Some(e) =>
          val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
          System.err.println(s"[verify] $name FAILED ${sec}s ${e.getClass.getName}: " +
            s"${e.getMessage} | root cause ${root.getClass.getName}: ${root.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
