package perfbench

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime
import java.util.SplittableRandom

/** One tick as the producer sends it: `{symbol, price, timestamp}` with an
  * epoch-millisecond timestamp (the library's `Model.tickSchema`). */
final case class Tick(symbol: String, timestamp: Long, price: Double) {
  def json: String =
    "{\"symbol\":\"" + symbol + "\",\"price\":" + java.lang.Double.toString(price) +
      ",\"timestamp\":" + timestamp + "}"
}

/** Seeded tick source for `symbols` symbols that all tick together every
  * `periodMs`, as the reference producer fetches every symbol in one
  * burst per period. Prices are per-symbol random walks in cents, so the
  * same seed always yields the same ticks. Tick `k` of every symbol
  * carries event time `Ticks.Epoch + k * periodMs`; negative `k` are
  * history before the epoch. */
final class Ticks(seed: Long, val symbols: Int, val periodMs: Long) {
  val names: IndexedSeq[String] = (0 until symbols).map(i => f"S$i%04d")
  private val walks = Array.tabulate(symbols)(i => new SplittableRandom(seed * 1000003L + i))
  private val start = walks.map(r => 20.0 + 480.0 * r.nextDouble())

  /** Ticks `k0 until k1` of every symbol, in per-symbol time order. The
    * walk for each symbol restarts at `k0`, so callers ask for one
    * contiguous range per instance. */
  def range(k0: Int, k1: Int): IndexedSeq[IndexedSeq[Tick]] =
    (0 until symbols).map { i =>
      var p = start(i)
      val r = walks(i)
      (k0 until k1).map { k =>
        p = math.max(1.0, p * (1.0 + 0.01 * (r.nextDouble() - 0.5)))
        Tick(names(i), Ticks.Epoch + k * periodMs, math.round(p * 100) / 100.0)
      }
    }

  def offsetMs(t: Tick): Long = t.timestamp - Ticks.Epoch
}

object Ticks {
  /** 2024-01-02T00:00:00Z: a fixed event-time origin, so inputs do not
    * depend on when the benchmark runs. */
  val Epoch: Long = 1704153600000L

  /** Write one feed file of JSON lines atomically (temporary file, then
    * rename into the watched directory), stamped with `mtimeMs` so the
    * file source orders files as written. */
  def writeFeedFile(feed: Path, tmp: Path, index: Int, ticks: Seq[Tick], mtimeMs: Long): Path = {
    val dest = feed.resolve(f"f$index%06d.json")
    val text = ticks.iterator.map(_.json).mkString("", "\n", "\n")
    Util.writeAtomically(tmp, dest, text)
    Files.setLastModifiedTime(dest, FileTime.fromMillis(mtimeMs))
    dest
  }

  def shuffle[T](xs: IndexedSeq[T], r: SplittableRandom): IndexedSeq[T] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[T]]
  }
}
