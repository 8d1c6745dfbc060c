package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

/** Small helpers shared by every workload: order statistics, JSON text,
  * files and process memory. */
object Util {

  def nowMs(): Double = System.nanoTime() / 1e6

  /** Linear-interpolated quantile (the "inclusive" method of Python's
    * `statistics.quantiles`), so a reader can recompute any reported
    * percentile from the samples in the trace file. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Minimal JSON writer: numbers, strings, booleans, sequences and maps. */
  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => json(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.result()
  }

  /** Write a file atomically: to a temporary name beside `dest`'s
    * directory, then rename, so a reader polling the directory never sees
    * a partial file. `tmpDir` must be on the same file system. */
  def writeAtomically(tmpDir: Path, dest: Path, text: String): Unit = {
    Files.createDirectories(tmpDir)
    val tmp = tmpDir.resolve(dest.getFileName.toString + ".tmp")
    Files.write(tmp, text.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, dest, StandardCopyOption.ATOMIC_MOVE)
  }

  /** Peak resident set size of this process in MiB (VmHWM). */
  def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray
      .map(_.toString).find(_.startsWith("VmHWM:"))
      .getOrElse(sys.error("VmHWM missing from the process status"))
    line.split("\\s+")(1).toDouble / 1024.0
  }
}
