package zbench

/** A metric as printed: value and unit. */
final case class Metric(value: Double, unit: String)

/** Sample summaries. The tail is the highest percentile that still has at
  * least ten samples beyond it; with fewer than 20 samples it falls back to
  * the maximum (the report names which it is).
  */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** (value, percentile) of the tail as defined above. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.size
    if (n < 20) (s.last, 100.0)
    else { val r = n - 11; (s(r), 100.0 * (r + 1) / n) }
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** Process-level readings from /proc and the JVM. */
object Proc {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of the whole process (all threads: tasks, JIT, GC), ns. */
  def cpuNs(): Long = os.getProcessCpuTime

  /** Peak resident set size, MiB (VmHWM). */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }
}

/** Directory helpers for the run's scratch area. */
object Files {
  def rm(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(x => java.nio.file.Files.delete(x))
      finally s.close()
    }

  /** Data files under `p` (names not starting with `_` or `.`) → bytes. */
  def listing(p: java.nio.file.Path): Map[String, Long] =
    if (!java.nio.file.Files.exists(p)) Map.empty
    else {
      val s = java.nio.file.Files.walk(p)
      try {
        val out = Map.newBuilder[String, Long]
        s.filter(x => java.nio.file.Files.isRegularFile(x) && {
          val name = x.getFileName.toString
          !name.startsWith("_") && !name.startsWith(".")
        }).forEach(x => out += x.toString -> java.nio.file.Files.size(x))
        out.result()
      } finally s.close()
    }

  /** (files, bytes) of the data files under `p`. */
  def dataFiles(p: java.nio.file.Path): (Long, Long) = {
    val l = listing(p)
    (l.size.toLong, l.values.sum)
  }
}

/** Output checks: every comparison against generator truth is one attempt;
  * a mismatch is a failed operation and is described on stderr.
  */
final class Checks {
  var attempted = 0L
  var failed = 0L

  def check(what: String, ok: Boolean, detail: => String = ""): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      System.err.println(s"[zbench] CHECK FAILED $what $detail")
    }
  }

  def same[T](what: String, got: T, want: T): Unit =
    check(what, got == want, s"got=${short(got)} want=${short(want)}")

  private def short(x: Any): String = { val s = String.valueOf(x); if (s.length > 300) s.take(300) + "…" else s }
}
