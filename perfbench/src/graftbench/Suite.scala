package graftbench

import org.apache.spark.sql.{Row, SparkSession}

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.util.SplittableRandom

/** The analytics workload: `SparkEntry.queries` over the committed
  * sf0.01 tables, one cold pass then warm passes, closed loop. Warm
  * executions run to full materialisation through the `noop` sink; the
  * cold pass collects each result (a few dozen rows at most), which
  * materialises every column just the same, and those results are the
  * ones checked against the oracle.
  */
object Suite {
  /** Queries and the input tables their oracle SQL reads: one per query
    * family (driver-bound iteration, staged top-k serve, LSH/dedup,
    * store lifecycle, relational shuffle), chosen for low cold cost so
    * a run fits the benchmark's time budget.
    */
  val Queries: Seq[(String, Seq[String])] = Seq(
    "page_rank" -> Seq("documents"),
    "knn_classify_ann" -> Seq("embeddings"),
    "entity_resolution" -> Seq("customer"),
    "zorder_layout" -> Seq("orders"),
    "q41_region_revenue" -> Seq("region", "nation", "customer", "supplier", "orders", "lineitem"))

  /** The cold pass and at least one warm one. */
  val MinPasses = 2

  val Tables = Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings")

  /** A result cell as `tools/oracle_check.py` renders it from DuckDB:
    * doubles rounded to 9 places, integral ones without a fraction.
    */
  def norm(v: Any): String = v match {
    case null => "NULL"
    case d: Double =>
      if (d.isNaN) "NULL"
      else {
        val r = java.lang.Double.parseDouble(
          new java.math.BigDecimal(d).setScale(9, java.math.RoundingMode.HALF_EVEN).toString)
        if (r == math.rint(r) && math.abs(r) < 1e15) r.toLong.toString
        else new java.math.BigDecimal(r).setScale(9, java.math.RoundingMode.HALF_EVEN)
          .toPlainString.reverse.dropWhile(_ == '0').reverse
      }
    case f: Float => norm(f.toDouble)
    case b: Boolean => b.toString
    case x => x.toString
  }

  /** Row count and sha256 of the sorted, normalised rows, columns in
    * name order, cells joined by tabs and rows by newlines.
    */
  def fingerprint(cols: Seq[String], rows: Seq[Row]): (Long, String) = {
    val order = cols.zipWithIndex.sortBy(_._1).map(_._2)
    val lines = rows.map(r => order.map(i => norm(r.get(i)))).sorted(
      Ordering.Implicits.seqOrdering[Seq, String]).map(_.mkString("\t"))
    val md = java.security.MessageDigest.getInstance("SHA-256")
    (rows.size.toLong, md.digest(lines.mkString("\n").getBytes("UTF-8")).map(b => f"$b%02x").mkString)
  }
}

final class SuiteRun(spark: SparkSession, seed: Long, work: String, data: String,
    expected: Map[String, (Long, String)], tracer: Tracer, res: Result) {

  private val rowsOf = scala.collection.mutable.Map.empty[String, Long]

  /** Copy the tables into a fresh directory and count their rows. */
  def setup(rep: Int): String = {
    val dir = new File(s"$work/data_r$rep")
    dir.mkdirs()
    Suite.Tables.foreach { t =>
      val dst = new File(dir, s"$t.parquet").toPath
      Files.copy(new File(data, s"$t.parquet").toPath, dst, StandardCopyOption.REPLACE_EXISTING)
      rowsOf(t) = spark.read.parquet(dst.toString).count()
    }
    dir.getPath
  }

  /** Run one query; the cold pass collects and checks its result. */
  private def runQuery(name: String, dir: String, cold: Boolean): Option[Double] = {
    res.attempted += 1
    val t0 = System.nanoTime()
    try {
      val rows = tracer.span(s"query.$name", "query") {
        val df = graft.SparkEntry.queries(name)(spark, dir)
        if (cold) Some(df.columns.toSeq -> df.collect().toSeq)
        else { df.write.format("noop").mode("overwrite").save(); None }
      }
      val secs = (System.nanoTime() - t0) / 1e9
      rows.foreach { case (cols, rs) =>
        val got = Suite.fingerprint(cols, rs)
        if (!expected.get(name).contains(got))
          res.fail(s"$name: result ${got._1} rows ${got._2.take(12)}, oracle ${expected.get(name).map(w => s"${w._1} rows ${w._2.take(12)}")}")
      }
      Some(secs)
    } catch {
      case e: Exception => res.fail(s"$name: $e"); None
    }
  }

  def run(dir: String, seconds: Int): Unit = {
    val rng = new SplittableRandom(seed)
    val order = Suite.Queries.map(_._1).toArray
    for (i <- order.length - 1 to 1 by -1) {
      val j = rng.nextInt(i + 1)
      val t = order(i); order(i) = order(j); order(j) = t
    }
    val inputRows = Suite.Queries.map(_._2.map(rowsOf).sum).sum
    val passes = scala.collection.mutable.ArrayBuffer.empty[Seq[(String, Double)]]
    val cpu0 = Proc.cpuS
    var cpuWarm0 = cpu0
    val gc0 = Proc.gcS
    val t0 = System.nanoTime()
    tracer.span("timed") {
      while (passes.size < Suite.MinPasses || (System.nanoTime() - t0) / 1e9 < seconds) {
        val cold = passes.isEmpty
        passes += order.toSeq.flatMap(q => runQuery(q, dir, cold).map(q -> _))
        if (cold) cpuWarm0 = Proc.cpuS
      }
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu1 = Proc.cpuS
    val cpu = cpu1 - cpu0

    val passS = passes.map(_.map(_._2).sum)
    val warm = passes.drop(1)
    val warmQ = warm.flatten.map(_._2)
    val files = Suite.Tables.map(t => new File(dir, s"$t.parquet"))
    res.metric("cpu_s", (cpu1 - cpuWarm0) / warm.size, "s")
    res.metric("batch_p50_s", Stats.median(passS.drop(1).toSeq), "s")
    val (bt, btl) = Stats.tail(passS.toSeq)
    res.metric("batch_tail_s", bt, "s")
    res.metric("events_per_s", inputRows * warm.size / passS.drop(1).sum, "1/s")
    res.metric("table_files", files.size.toDouble, "count")
    res.metric("table_bytes_per_row", files.map(_.length).sum.toDouble / Suite.Tables.map(rowsOf).sum, "B")
    // the mean, not the median: the median of five queries of different
    // cost is whichever query ranks third, and that changes between runs
    res.metric("read_p50_s", warmQ.sum / warmQ.size, "s")
    val (rt, rtl) = Stats.pct(warmQ.toSeq, CdcRun.ReadTailP)
    res.metric("read_tail_s", rt, "s")
    res.metric("suite_cold_s", passS.head, "s")
    res.metric("suite_warm_s", Stats.median(passS.drop(1).toSeq), "s")
    res.notes("batch_tail") = btl
    res.notes("read_tail") = rtl
    res.notes("passes") = passes.size
    res.notes("query_order") = order.toSeq
    res.notes("timed_wall_s") = wall
    res.notes("timed_cpu_s") = cpu
    res.notes("gc_s") = Proc.gcS - gc0
    res.notes("per_query_s") = Suite.Queries.map { case (q, _) =>
      q -> passes.map(_.find(_._1 == q).map(_._2).getOrElse(Double.NaN)).toSeq
    }.toMap

    if (tracer.on) layers()
  }

  private def layers(): Unit = {
    tracer.flush()
    val l = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
    val timedSpan = tracer.spansNamed("timed").head
    var build = 0.0
    val warmSpans = scala.collection.mutable.ArrayBuffer.empty[Span]
    Suite.Queries.foreach { case (q, _) =>
      val ss = tracer.allSpans.filter(_.name == s"query.$q")
      val secs = ss.map(s => (s.end - s.start) / 1e9)
      val warm = ss.drop(1)
      warmSpans ++= warm
      val warmS = Stats.median(secs.drop(1))
      build += math.max(0.0, secs.head - warmS)
      l(s"query.$q.warm_s") = (warmS, "s")
      l(s"query.$q.cold_s") = (secs.head, "s")
      l(s"query.$q.driver_only_frac") =
        (Stats.median(warm.map(s => tracer.driverOnlyS(s, tracer.jobsIn(s)) / ((s.end - s.start) / 1e9))), "ratio")
      l(s"query.$q.jobs") = (Stats.median(warm.map(s => tracer.jobsIn(s).size.toDouble)), "count")
    }
    l("stage.build_s") = (build, "s")
    val warmQes = tracer.allQes.filter(q => warmSpans.exists(s => q.end >= s.start && q.end <= s.end))
    val n = math.max(1, warmSpans.size)
    l("read.files_scanned") = (warmQes.map(_.files).sum.toDouble / n, "count")
    l("read.bytes_scanned") = (warmQes.map(_.bytes).sum.toDouble / n, "B")
    l("read.jobs") = (warmSpans.map(s => tracer.jobsIn(s).size).sum.toDouble / n, "count")
    Layers.spark(tracer, timedSpan, tracer.jobsIn(timedSpan), l)
    Layers.put(res, l)
  }
}
