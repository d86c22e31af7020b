package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Command-line options of the harness (see perfbench/run.py). */
final case class Opts(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    work: Path,
    result: Path,
    sfDir: String,
    golden: Path,
    scale: String,
    inject: String)

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def req(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(req("workload"), req("seed").toLong, req("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", Path.of(req("work")).toAbsolutePath,
      Path.of(req("result")).toAbsolutePath, req("sf"), Path.of(req("golden")).toAbsolutePath,
      m.getOrElse("scale", "full"), m.getOrElse("inject", "none"))
  }
}

/** Metric sink: name -> (value, unit), printed in insertion order. */
final class Metrics {
  val values = mutable.LinkedHashMap.empty[String, (Double, String)]
  def put(name: String, value: Double, unit: String): Unit =
    values(name) = (if (value.isNaN || value.isInfinite) 0.0 else value, unit)
}

/** Operation ledger: every timed operation is attempted once; it fails
  * when it throws or when its output check later finds it wrong. */
final class Ledger {
  var attempted = 0L
  var failed = 0L
  val problems = mutable.ArrayBuffer.empty[String]
  def fail(n: Long, why: String): Unit = {
    failed += n
    if (problems.size < 20) problems += why
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of the sorted sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Harrell-Davis quantile: a Beta-weighted mean of all order statistics.
    * Unlike a single order statistic it moves smoothly when neighbouring
    * samples swap rank, so it varies less from run to run. */
  def hdQuantile(xs: Seq[Double], q: Double): Double = {
    if (xs.size < 2) return xs.headOption.getOrElse(0.0)
    val s = xs.sorted
    val n = s.size
    val (a, b) = (q * (n + 1), (1 - q) * (n + 1))
    def cdf(x: Double) = org.apache.commons.math3.special.Beta.regularizedBeta(x, a, b)
    s.indices.map(i => s(i) * (cdf((i + 1).toDouble / n) - cdf(i.toDouble / n))).sum
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}

/** Minimal JSON rendering (numbers, strings, nested maps and lists). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def render(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "0" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}

/** Run hygiene: what the host looked like while the run measured. */
object Hygiene {

  /** `graft.Bench`-style single-thread xorshift spin, min of three. A
    * calm host gives a stable constant; CPU steal inflates it. */
  def calibrate(iters: Int = 50000000): Double =
    (1 to 3).map { _ =>
      var x = 0x9E3779B97F4A7C15L; var s = 0L; var i = 0
      val t0 = System.nanoTime()
      while (i < iters) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; s += x; i += 1 }
      if (s == 42L) print("")
      Stats.secondsSince(t0)
    }.min

  /** (steal, total) jiffies from the aggregate `cpu` line of /proc/stat. */
  def cpuJiffies(): (Long, Long) =
    try {
      val f = Files.readAllLines(Path.of("/proc/stat")).asScala
        .find(_.startsWith("cpu ")).get.trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.take(8).sum)
    } catch { case _: Throwable => (0L, 0L) }

  /** Peak resident set size of this process (VmHWM), MB. */
  def rssPeakMb(): Double =
    try {
      Files.readAllLines(Path.of("/proc/self/status")).asScala
        .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
        .getOrElse(0.0)
    } catch { case _: Throwable => 0.0 }
}

object Files2 {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      finally s.close()
    }

  /** Regular, non-hidden files under `p` (Hadoop's local `.crc`
    * sidecars and temp objects are hidden and not part of the store). */
  def storeObjects(p: Path): Seq[Path] = {
    val s = Files.walk(p)
    try s.iterator().asScala.filter(f => Files.isRegularFile(f) &&
      !f.getFileName.toString.startsWith(".")).toSeq.sortBy(_.toString)
    finally s.close()
  }
}
