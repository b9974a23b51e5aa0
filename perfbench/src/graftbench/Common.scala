package graftbench

import java.lang.management.ManagementFactory

/** Minimal JSON rendering for the result and span records. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case x => str(x.toString)
  }

  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}

/** Progress lines on stderr, stamped with seconds since start. */
object Log {
  private val t0 = System.nanoTime()
  def apply(msg: String): Unit = System.err.println(f"[graftbench +${(System.nanoTime() - t0) / 1e9}%.1fs] $msg")
}

/** Order statistics over latency samples. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The `p` quantile (0..1), interpolated between the two nearest
    * order statistics, and a label naming it and the sample count.
    */
  def pct(xs: Seq[Double], p: Double): (Double, String) = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) (Double.NaN, "n=0")
    else {
      val pos = p * (n - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, n - 1)
      (s(lo) + (pos - lo) * (s(hi) - s(lo)), f"p${100 * p}%.0f of n=$n")
    }
  }

  /** The highest percentile with at least ten samples beyond it, and a
    * label naming it and the sample count. Below 21 samples that
    * percentile is under the median, so the maximum stands in for it.
    */
  def tail(xs: Seq[Double]): (Double, String) = {
    val s = xs.sorted
    val n = s.size
    if (n >= 21) (s(n - 11), f"p${100.0 * (n - 10) / n}%.1f of n=$n")
    else (s.last, s"max of n=$n")
  }
}

/** Process-level resource readings. */
object Proc {
  private val os = ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val threads = ManagementFactory.getThreadMXBean

  def cpuS: Double = os.getProcessCpuTime / 1e9

  /** CPU of the calling thread: the benchmark's own checking work. */
  def threadCpuS: Double = threads.getCurrentThreadCpuTime / 1e9

  def gcS: Double = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum / 1e3
  }

  /** Peak resident set (VmHWM) in MiB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
    finally src.close()
  }

  /** Σ peak usage of the JVM's heap and non-heap memory pools, in MiB. */
  def poolPeakMb: Double = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getMemoryPoolMXBeans.asScala.map(_.getPeakUsage.getUsed).sum / 1048576.0
  }

  def loadavg: String = {
    val src = scala.io.Source.fromFile("/proc/loadavg")
    try src.getLines().next().split(" ").take(3).mkString(" ") finally src.close()
  }
}

/** One run's measurements on their way to the result line. */
final class Result {
  val metrics = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
  val notes = scala.collection.mutable.LinkedHashMap.empty[String, Any]
  var attempted = 0L
  var failed = 0L
  val failures = scala.collection.mutable.ArrayBuffer.empty[String]

  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  def fail(what: String): Unit = { failed += 1; if (failures.size < 20) failures += what }
}
