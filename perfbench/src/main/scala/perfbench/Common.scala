package perfbench

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.SparkSession

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** All digits as measured; non-finite values are not valid JSON. */
  def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"metric value $v is not a number")
    java.lang.Double.toString(v)
  }
}

object Stats {
  /** Percentile with linear interpolation between closest ranks (numpy's
    * default); `q` in [0, 100]. */
  def pct(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val pos = (s.size - 1) * q / 100.0
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = pct(xs, 50)
}

/** Everything a workload needs from the run. */
final class Ctx(val spark: SparkSession, val cores: Int, val seed: Long,
                val seconds: Double, val scale: String, val scratch: File,
                val dataDir: File, val tracer: Tracer, val layers: Layers) {
  def smoke: Boolean = scale == "smoke"

  /** A fresh, empty directory under the run's scratch area. */
  def freshDir(name: String): File = {
    val d = new File(scratch, name)
    Fs.delete(d)
    d.mkdirs()
    d
  }
}

/** Metrics of one measured phase. `layers` is empty unless it was traced. */
final case class Measured(e2e: Map[String, Double], layers: Map[String, Double])

/**
 * One workload. [[setUp]] builds the workload's state from the seed and
 * may be called several times (each call replaces the previous state);
 * [[measure]] runs operations in a loop for `ctx.seconds`, checking every
 * answer into `tally`.
 */
trait Workload {
  def setUp(): Unit
  def measure(traced: Boolean): Measured
  def tally: Tally
}

/** Failure bookkeeping shared by every workload: an operation that throws
  * or returns a wrong answer counts as failed, and the run goes on. */
final class Tally {
  private var attempted = 0L
  private var failed = 0L
  private var checks = 0L
  private var checksFailed = 0L

  def ok(): Unit = synchronized { attempted += 1 }
  def fail(what: String): Unit = synchronized {
    attempted += 1; failed += 1
    if (failed <= 10) System.err.println(s"[perfbench] FAILED: $what")
  }
  /** Record an output check as one operation's verdict. */
  def check(cond: Boolean, what: => String): Unit = {
    synchronized { checks += 1; if (!cond) checksFailed += 1 }
    if (cond) ok() else fail(what)
  }

  def counts: (Long, Long) = synchronized((attempted, failed))
  def checkCounts: (Long, Long) = synchronized((checks - checksFailed, checksFailed))
}

object Fs {
  def delete(f: File): Unit =
    if (f.exists()) {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(delete))
      f.delete()
    }

  def bytesUnder(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(bytesUnder).sum).getOrElse(0L)
    else f.length()

  def copyDir(from: File, to: File): Unit = {
    to.mkdirs()
    Option(from.listFiles()).foreach(_.foreach { f =>
      val dst = new File(to, f.getName)
      if (f.isDirectory) copyDir(f, dst)
      else Files.copy(f.toPath, dst.toPath)
    })
  }
}

object Proc {
  /** (steal, total) jiffies of all CPUs so far, from /proc/stat. */
  def cpuTicks(): (Long, Long) = {
    val f = new String(Files.readAllBytes(new File("/proc/stat").toPath))
      .split("\n")(0).trim.split("\\s+").drop(1).map(_.toLong)
    (if (f.length > 7) f(7) else 0L, f.sum)
  }

  /** Peak resident set size of this JVM (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val status = new String(Files.readAllBytes(new File("/proc/self/status").toPath))
    val kb = status.split("\n").collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble
    }.getOrElse(throw new IllegalStateException("no VmHWM in /proc/self/status"))
    kb / 1024.0
  }
}
