package graftbench

import java.io.File

/** Minimal JSON writing (the benchmark emits flat objects only). */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c    => c.toString
    } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

/** Order statistics used for every reported timing. */
object Stats {
  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Linear-interpolated percentile (the same rule as numpy's default). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted.toIndexedSeq
    val pos = (s.size - 1) * p / 100.0
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest percentile of the ladder 50, 75, 90, 95, 99, 99.9 that
    * leaves at least ten of `n` samples above it, if any does.
    */
  def tailPercentile(n: Int): Option[Double] =
    Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0).find(p => n * (100 - p) / 100.0 >= 10.0 - 1e-9)
}

/** Host and process counters read beside every run: host CPU steal from
  * /proc/stat, process CPU time from the JVM, peak RSS from /proc/self.
  */
object Host {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def processCpuSeconds(): Double = os.getProcessCpuTime / 1e9

  /** Host-wide steal time in seconds (all CPUs), 0 where unavailable. */
  def stealSeconds(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val parts = try src.getLines().next().trim.split("\\s+") finally src.close()
      if (parts.length > 8) parts(8).toDouble / 100.0 else 0.0
    } catch { case _: Exception => 0.0 }

  def peakRssMb(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      val line = try src.getLines().find(_.startsWith("VmHWM:")) finally src.close()
      line.map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(Double.NaN)
    } catch { case _: Exception => Double.NaN }

  final case class Sample(wallNs: Long, cpuS: Double, stealS: Double)
  def sample(): Sample = Sample(System.nanoTime(), processCpuSeconds(), stealSeconds())

  /** Steal seconds, process CPU seconds and busy cores between two samples. */
  def between(a: Sample, b: Sample): (Double, Double, Double) = {
    val wall = (b.wallNs - a.wallNs) / 1e9
    val cpu = b.cpuS - a.cpuS
    (b.stealS - a.stealS, cpu, if (wall > 0) cpu / wall else 0.0)
  }
}

object Files {
  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory && !java.nio.file.Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  def sizeOf(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(sizeOf).sum).getOrElse(0L) else f.length()

  def dataFiles(dir: File): Int =
    Option(dir.listFiles()).map(_.count(f => f.isFile && f.getName.startsWith("part-"))).getOrElse(0)
}
