package graftbench

import org.apache.spark.sql.SparkSession

import scala.jdk.CollectionConverters._

/** Runs one workload and prints its measurements; `perfbench/run.py`
  * builds this program, launches it and turns the output into the
  * result line.
  *
  * Usage: `Main <workload> <seed> <seconds> <trace 0|1> <work dir>
  * <data dir> <oracle fingerprints> <spans file>`
  */
object Main {
  /** Set-ups per run; `setup_s` is their median. */
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, work, data, oracle, spansPath) = args
    val seed = seedS.toLong
    val seconds = secondsS.toInt
    val nproc = Runtime.getRuntime.availableProcessors()
    val loadBefore = Proc.loadavg
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName(s"graftbench-$workload")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Log(s"session up: $workload seed $seed")
    val res = new Result
    val tracer = new Tracer(spark, traceS == "1", s"$workload-$seed-${ProcessHandle.current.pid}")

    def timedSetup[T](make: Int => T, drop: T => Unit): T = {
      val times = scala.collection.mutable.ArrayBuffer.empty[Double]
      var kept: Option[T] = None
      for (rep <- 0 until SetupReps) {
        kept.foreach(drop)
        val t0 = System.nanoTime()
        kept = Some(tracer.span(s"setup.$rep")(make(rep)))
        times += (System.nanoTime() - t0) / 1e9
        Log(f"setup $rep: ${times.last}%.2f s")
      }
      res.metric("setup_s", Stats.median(times.toSeq), "s")
      res.notes("setup_runs_s") = times.toSeq
      kept.get
    }

    try workload match {
      case "cdc_trickle" =>
        val run = new CdcRun(spark, seed, seconds, nproc, work, tracer, res)
        run.run(timedSetup(run.setup, run.teardown))
      case "analytics_suite" =>
        val expected = readOracle(oracle)
        val run = new SuiteRun(spark, seed, work, data, expected, tracer, res)
        val dir = timedSetup(run.setup, (_: String) => ())
        run.run(dir, seconds)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    } catch {
      case e: Exception =>
        e.printStackTrace()
        res.fail(s"run aborted: $e")
    }
    Log("run done")
    res.metric("peak_rss_mb", Proc.peakRssMb, "MB")
    res.notes("pool_peak_mb") = Proc.poolPeakMb
    tracer.close()
    if (tracer.on) tracer.writeSpans(spansPath)

    val conf = spark.sparkContext.getConf.getAll.toSeq.sortBy(_._1)
      .filterNot(kv => kv._1.startsWith("spark.app.") || kv._1 == "spark.driver.port" ||
        kv._1 == "spark.executor.id" || kv._1 == "spark.driver.host")
    spark.stop()
    Log("session stopped")
    val xmx = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .find(_.startsWith("-Xmx")).getOrElse("default")
    res.notes("env") = Map("nproc" -> nproc, "loadavg_before" -> loadBefore, "loadavg_after" -> Proc.loadavg,
      "xmx" -> xmx, "seed" -> seed, "seconds" -> seconds, "trace" -> tracer.on,
      "spark_conf" -> conf.toMap)
    res.notes("failed_frac") = res.failed.toDouble / math.max(1L, res.attempted)
    if (res.failures.nonEmpty) res.notes("failures") = res.failures.toSeq
    println("GRAFTBENCH " + Json.obj(Seq(
      "correct" -> (res.failed == 0),
      "attempted" -> res.attempted,
      "failed" -> res.failed,
      "metrics" -> res.metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }.toMap,
      "notes" -> res.notes.toMap)))
  }

  /** `{"query": {"rows": n, "sha256": "..."}, ...}` written by
    * `perfbench/tools/oracle_fingerprints.py`.
    */
  private def readOracle(path: String): Map[String, (Long, String)] =
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(new java.io.File(path))
      .properties().asScala.map(e => e.getKey -> (e.getValue.get("rows").asLong, e.getValue.get("sha256").asText))
      .toMap
}
