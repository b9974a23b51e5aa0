package graftbench

import graft.config.TableConfig
import graft.debezium.{DebeziumCast, InMemorySchemaProvider}
import graft.avro.AvroDecode
import graft.operators.{CdcDedup, MergeEngine}
import graft.streaming.{FileCdcSource, KafkaRecord, StreamPipeline}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.storage.StorageLevel

import java.io.File
import java.util.SplittableRandom

/** Shape of the `cdc_trickle` change stream. Only the delete share has a
  * source: `graft.CdcBench` turns the testdata `events` rows whose
  * `event_type` is 'error' into deletes, 19.8% of them at sf0.1, and
  * deletes here (including the delete of a delete plus re-insert) are
  * 20% of events. Inserts match deletes so the live key count stays
  * level. The table shares, key counts, stale, duplicate and re-insert
  * shares and the recency are assumptions, not measured traffic.
  */
object Trickle {
  /** users : orders : products share of the change stream. */
  val TableShare = Array(1.0 / 3, 1.0 / 3, 1.0 / 3)
  /** Keys per table before the first batch; they span two months. */
  val InitialKeys = Array(5000, 5000, 5000)
  val Mix = graftbench.Mix(insert = 0.16, update = 0.51, delete = 0.16, stale = 0.07, dup = 0.05, reinsert = 0.05)
  /** Mean distance of an update from the newest key, as a share of keys. */
  val Recency = 0.02
  val EventsPerBatch = 2000
  /** `users` switches to value schema v2 halfway through its pre-load,
    * so the pre-load batch carries both of its schema pairs and every
    * timed batch is alike (v2 only): a switch inside the timed phase is
    * one batch in three to five and moves their median.
    */
  val SwitchAt: Long = InitialKeys(0) / 2
  /** Batches generated: enough for a closed loop at 2 s per batch and
    * its reads, a third of what one takes on a 4-core machine.
    */
  def batches(seconds: Int): Int = seconds / 2 + 3
}

/** The `cdc_trickle` workload: seeded change stream -> Confluent-framed records in
  * parquet files -> `StreamPipeline.streamToTable` over `FileCdcSource`
  * -> partitioned target tables, in a closed loop: the next batch's
  * files are moved into the source directory only after the previous
  * batch committed. After every batch a fixed read mix runs through
  * `MergeEngine.readTable`.
  */
object CdcRun {
  /** Path segment of every target table. */
  val TablesDir = "/tables/"
  /** Times the read mix runs after each batch. The first round after a
    * commit is the slow one (new files, footers not yet read), so with
    * three rounds the median read is a repeat read and the tail a first
    * read.
    */
  val ReadRounds = 3
  /** Batches timed even when they take longer than `--seconds`. */
  val MinBatches = 3
  /** Quantile reported as `read_tail_s`. The first-after-commit reads
    * are a third of all reads, and p90 sits inside them; the percentile
    * with ten samples beyond it, as `batch_tail_s` uses, would sit on
    * the boundary between them and the repeat reads at the three to
    * five batches a run makes.
    */
  val ReadTailP = 0.9
  /** Changes in the traced run's decode and dedup probe input. */
  val ProbeEvents = 100000
  val ProbeSalt = 0x9E3779B97F4A7C15L
}

final class CdcRun(spark: SparkSession, seed: Long, seconds: Int, nproc: Int, work: String,
    tracer: Tracer, res: Result) {

  private val provider = new InMemorySchemaProvider(
    SrcTable.All.flatMap(t => (t.keyId -> t.keySchemaJson) +: t.versions.map(v => v._1 -> t.valueSchemaJson(v._1))).toMap)

  final class Live(val dir: String, val query: StreamingQuery, val cfgs: IndexedSeq[TableConfig],
      val model: Model, val initial: Batch, val batches: IndexedSeq[Batch], var streamBatch: Long)

  /** Generate and encode the stream and start the query. The initial
    * keys are loaded by [[run]], as the first micro-batch.
    */
  def setup(rep: Int): Live = {
    val dir = s"$work/r$rep"
    val t0 = System.nanoTime()
    val gen = new CdcGen(seed, nproc, Trickle.InitialKeys, Trickle.TableShare, Trickle.Mix,
      Trickle.Recency, Trickle.SwitchAt)
    val initial = gen.initial()
    val batches = (1 to Trickle.batches(seconds)).map(_ => gen.next(Trickle.EventsPerBatch))
    val offsets = Array.fill(3, nproc)(0L)
    Producer.write(initial, s"$dir/stage/b00000", nproc, offsets)
    batches.zipWithIndex.foreach { case (b, i) =>
      Producer.write(b, f"$dir/stage/b${i + 1}%05d", nproc, offsets)
    }
    val t1 = System.nanoTime()
    new File(s"$dir/src").mkdirs()
    val cfgs = SrcTable.All.map(t => TableConfig(s"bench_r$rep", t.name, s"$dir${CdcRun.TablesDir}${t.name}",
      additionalCols = Seq("YEAR(created_at) AS year", "MONTH(created_at) AS month"),
      partitionCols = Seq("year", "month"), autoCompactEvery = 1))
    val query = StreamPipeline.streamToTable(spark, s"cdc_trickle_r$rep", FileCdcSource(s"$dir/src/*"),
      SrcTable.All.zip(cfgs).map { case (t, c) => t.topic -> c }.toMap, s"$dir/ckpt", provider)
    res.notes("setup_parts_s") = Map("generate_encode" -> (t1 - t0) / 1e9, "start" -> (System.nanoTime() - t1) / 1e9)
    new Live(dir, query, cfgs, new Model, initial, batches, 0L)
  }

  def teardown(live: Live): Unit = {
    live.query.stop()
    deleteRecursively(new File(live.dir))
  }

  /** Move batch `k`'s directory into the source and wait until its
    * micro-batch committed. One rename, so a trigger sees all of the
    * batch's files or none (the source path globs the directories under
    * `src`). `processAllAvailable` can return on a trigger that listed
    * the directory just before the move, so completion is confirmed from
    * the query's own progress record.
    */
  private def deliver(live: Live, k: Int): Unit = {
    val name = f"b$k%05d"
    if (!new File(s"${live.dir}/stage/$name").renameTo(new File(s"${live.dir}/src/$name")))
      throw new IllegalStateException(s"cannot move $name into the source")
    val id = live.streamBatch
    var done = false
    while (!done) {
      live.query.processAllAvailable()
      done = live.query.recentProgress.exists(p => p.batchId == id && p.numInputRows > 0)
    }
    live.streamBatch += 1
  }

  /** Measured properties of the generated change stream. */
  private def props(live: Live): Map[String, Any] = {
    val bs = live.batches
    val n = bs.map(_.n.toDouble).sum
    def share(flag: Batch => Array[Boolean]) = bs.map(b => (0 until b.n).count(flag(b))).sum / n
    Map("batches_generated" -> bs.size, "events_per_batch" -> n / bs.size,
      "delete_share" -> share(_.del), "duplicate_share" -> share(_.dup), "stale_lsn_share" -> share(_.stale),
      "partitions_touched_per_batch" -> bs.map { b =>
        (0 until b.n).map { j =>
          val d = java.time.LocalDate.ofEpochDay(SrcTable.createdDay(b.id(j), b.table(j)).toLong)
          (b.table(j), d.getYear, d.getMonthValue)
        }.distinct.size.toDouble
      }.sum / bs.size,
      "source_partitions" -> nproc)
  }

  private def dataFiles(path: String): Seq[File] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.filterNot(x => x.getName.startsWith("_") || x.getName.startsWith(".")).flatMap(walk)
      else Seq(f)
    walk(new File(path)).filter(_.getName.endsWith(".parquet"))
  }

  private val batchLat = scala.collection.mutable.ArrayBuffer.empty[Double]
  private val readLat = scala.collection.mutable.ArrayBuffer.empty[Double]
  private var checkCpu = 0.0

  /** Time one read; its scan sizes go to the trace. */
  private def read(kind: String, round: Int, build: => DataFrame)(check: Array[org.apache.spark.sql.Row] => Option[String]): Unit = {
    res.attempted += 1
    val t0 = System.nanoTime()
    val (q, rows) = tracer.span(s"read.$kind", "read") { val q = build; (q, q.collect()) }
    readLat += (System.nanoTime() - t0) / 1e9
    readLatOf.getOrElseUpdate(s"$kind.r$round", scala.collection.mutable.ArrayBuffer.empty[Double]) += readLat.last
    if (tracer.on) {
      val (f, b) = tracer.scanned(q.queryExecution.executedPlan)
      readFiles += f; readBytes += b
    }
    val c0 = Proc.threadCpuS
    check(rows).foreach(msg => res.fail(s"read.$kind: $msg"))
    checkCpu += Proc.threadCpuS - c0
  }
  private val readLatOf = scala.collection.mutable.LinkedHashMap.empty[String, scala.collection.mutable.ArrayBuffer[Double]]
  private var readFiles = 0L
  private var readBytes = 0L

  /** Point lookup on users, aggregate over orders' newest partition,
    * full count of orders; each checked against the model.
    */
  private def readMix(live: Live, rng: SplittableRandom, round: Int): Unit = {
    val m = live.model
    val c0 = Proc.threadCpuS
    val mx = m.maxId(0)
    val uid = mx - (mx * math.pow(rng.nextDouble(), 3)).toInt
    val want = m.get(0, uid).map(e => m.row(0, uid, e).toMap)
    val d = java.time.LocalDate.ofEpochDay(SrcTable.createdDay(m.maxId(1), 1).toLong)
    val (inPart, cents) = m.ordersIn(d.getYear, d.getMonthValue)
    val total = m.count(1)
    checkCpu += Proc.threadCpuS - c0

    read("lookup", round, MergeEngine.readTable(spark, live.cfgs(0).path).get.filter(col("id") === uid)) { rows =>
      val got = rows.headOption.map(r => Canon.cells(r, r.schema.fieldNames.toSeq).toMap)
      val same = (want, got) match {
        case (Some(w), Some(g)) => (w.keySet ++ g.keySet).forall(c => w.getOrElse(c, Canon.Null) == g.getOrElse(c, Canon.Null))
        case (w, g) => w.isEmpty && g.isEmpty
      }
      if (rows.length > 1 || !same) Some(s"id $uid: got $got, model $want") else None
    }
    read("partition_agg", round, MergeEngine.readTable(spark, live.cfgs(1).path).get
        .filter(col("year") === d.getYear && col("month") === d.getMonthValue)
        .agg(count(lit(1)), sum(col("total_amount")))) { rows =>
      val r = rows.head
      val gotCents = if (r.isNullAt(1)) 0L else r.getDecimal(1).movePointRight(2).longValueExact
      if (r.getLong(0) != inPart || gotCents != cents) Some(s"$d: got (${r.getLong(0)}, $gotCents), model ($inPart, $cents)")
      else None
    }
    read("count", round, MergeEngine.readTable(spark, live.cfgs(1).path).get.agg(count(lit(1)))) { rows =>
      if (rows.head.getLong(0) != total) Some(s"got ${rows.head.getLong(0)}, model $total") else None
    }
  }

  /** The pre-load, the timed closed loop, then the untimed table check. */
  def run(live: Live): Unit = {
    // the pre-load is the stream's first micro-batch: empty tables, table
    // creation, first use of the merge path's code
    res.attempted += 1
    val p0 = System.nanoTime()
    tracer.span("preload", "stream")(deliver(live, 0))
    val preloadS = (System.nanoTime() - p0) / 1e9
    live.model(live.initial)
    Log(f"pre-load: $preloadS%.2f s")

    val rng = new SplittableRandom(seed ^ 0x5DEECE66DL)
    var events = 0L
    var changed = 0L
    val filesWritten = scala.collection.mutable.ArrayBuffer.empty[Int]
    val firstStreamBatch = live.streamBatch
    val cpu0 = Proc.cpuS
    val gc0 = Proc.gcS
    val t0 = System.nanoTime()
    val timed = tracer.span("timed") {
      var k = 1
      var cycle = 0.0
      // at least MinBatches; then stop when the next batch and its reads
      // would end more than half a cycle past the time limit
      def more = k <= live.batches.size && (k <= CdcRun.MinBatches || (System.nanoTime() - t0) / 1e9 + cycle / 2 < seconds)
      while (more) {
        val k0 = System.nanoTime()
        val before = if (tracer.on) live.cfgs.flatMap(c => dataFiles(c.path).map(_.getPath)).toSet else Set.empty[String]
        res.attempted += 1
        val b0 = System.nanoTime()
        tracer.span(s"batch.$k", "stream")(deliver(live, k))
        batchLat += (System.nanoTime() - b0) / 1e9
        events += live.batches(k - 1).n
        if (tracer.on) filesWritten += live.cfgs.flatMap(c => dataFiles(c.path).map(_.getPath)).count(p => !before.contains(p))
        val c0 = Proc.threadCpuS
        live.model(live.batches(k - 1))
        changed += live.model.changedRows
        checkCpu += Proc.threadCpuS - c0
        for (r <- 1 to CdcRun.ReadRounds) readMix(live, rng, r)
        cycle = (System.nanoTime() - k0) / 1e9
        k += 1
      }
      k - 1
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = Proc.cpuS - cpu0 - checkCpu
    Log(f"timed phase: $timed batches in $wall%.1f s")
    live.query.stop()

    // untimed: every target table equals the model
    val v0 = System.nanoTime()
    val rows = SrcTable.All.indices.map { t =>
      val df = MergeEngine.readTable(spark, live.cfgs(t).path).get
      val got = Canon.fingerprint(df)
      val want = live.model.fingerprint(t, df.columns.toSeq)
      res.attempted += 1
      if (got != want) res.fail(s"table ${SrcTable.All(t).name}: spark ${got.rows} rows, model ${want.rows} rows; " +
        firstDiff(live.model, t, df))
      want.rows
    }.sum
    val files = live.cfgs.flatMap(c => dataFiles(c.path))
    res.notes("verify_s") = (System.nanoTime() - v0) / 1e9

    res.metric("cpu_s", cpu / timed, "s")
    res.metric("batch_p50_s", Stats.median(batchLat.toSeq), "s")
    val (bt, btl) = Stats.tail(batchLat.toSeq)
    res.metric("batch_tail_s", bt, "s")
    res.metric("events_per_s", events / batchLat.sum, "1/s")
    res.metric("table_files", files.size.toDouble, "count")
    res.metric("table_bytes_per_row", files.map(_.length).sum.toDouble / math.max(1L, rows), "B")
    res.metric("read_p50_s", Stats.median(readLat.toSeq), "s")
    val (rt, rtl) = Stats.pct(readLat.toSeq, CdcRun.ReadTailP)
    res.metric("read_tail_s", rt, "s")
    res.metric("suite_cold_s", preloadS, "s")
    res.metric("suite_warm_s", Stats.median(batchLat.toSeq), "s")
    res.notes("batch_tail") = btl
    res.notes("read_tail") = rtl
    res.notes("batches") = timed
    res.notes("batch_s") = batchLat.toSeq
    res.notes("reads") = readLat.size
    res.notes("read_median_s") = readLatOf.map { case (k, xs) => k -> Stats.median(xs.toSeq) }.toMap
    res.notes("timed_wall_s") = wall
    res.notes("timed_cpu_s") = cpu
    res.notes("gc_s") = Proc.gcS - gc0
    res.notes("input") = props(live)

    if (tracer.on) layers(live, timed, changed, filesWritten.toSeq, firstStreamBatch)
  }

  /** Per-layer numbers of the traced run. */
  private def layers(live: Live, nb: Int, changed: Long, filesWritten: Seq[Int],
      firstStreamBatch: Long): Unit = {
    // decode and dedup, called directly on a backlog of ProbeEvents
    // changes generated and encoded here, untimed; per (topic, value
    // schema id), with the records and then the decoded rows
    // materialised before the span that reads them
    val gen = new CdcGen(seed ^ CdcRun.ProbeSalt, nproc, Trickle.InitialKeys, Trickle.TableShare, Trickle.Mix,
      Trickle.Recency, Trickle.InitialKeys.sum + CdcRun.ProbeEvents / 2)
    gen.initial()
    val backlog = gen.next(CdcRun.ProbeEvents)
    Producer.write(backlog, s"${live.dir}/probe", nproc, Array.fill(3, nproc)(0L))
    val raw = StreamPipeline.projectEnvelope(spark.read.schema(KafkaRecord.schema).parquet(s"${live.dir}/probe"))
      .persist(StorageLevel.MEMORY_ONLY)
    val probeEvents = raw.count()
    var malformed = 0L
    var dedupIn = 0L
    var dedupOut = 0L
    SrcTable.All.foreach { t =>
      t.versions.map(_._1).foreach { vid =>
        val json = t.valueSchemaJson(vid)
        val slice = raw.filter(col("topic") === t.topic && col("value_schema_id") === vid)
        val decoded = slice.select(AvroDecode.fromAvro(col("value_avro"), json, failFast = false).as("v"))
        val cast = decoded.select(col("v.*")).select(DebeziumCast.castColumns(json): _*)
        tracer.span(s"decode.${t.name}.$vid", "decode")(cast.write.format("noop").mode("overwrite").save())
        malformed += decoded.filter(col("v").isNull).count()
        val rows = cast.persist(StorageLevel.MEMORY_ONLY)
        dedupIn += rows.count()
        val latest = CdcDedup.latestPerKeyAgg(rows, Seq("id"), "__log_sequence_number")
        tracer.span(s"dedup.${t.name}.$vid", "dedup")(latest.write.format("noop").mode("overwrite").save())
        dedupOut += latest.count()
        rows.unpersist(blocking = true)
      }
    }
    raw.unpersist(blocking = true)
    tracer.flush()
    val mev = probeEvents / 1e6
    def jobsOf(prefix: String, layer: String) = tracer.spansNamed(prefix).flatMap(tracer.jobsIn).filter(_.layer == layer)
    val dec = jobsOf("decode.", "decode")
    val ded = jobsOf("dedup.", "dedup")
    val decS = tracer.spansNamed("decode.").map(s => (s.end - s.start) / 1e9).sum
    val dedS = tracer.spansNamed("dedup.").map(s => (s.end - s.start) / 1e9).sum
    res.notes("probe_events") = probeEvents

    val batchSpans = tracer.spansNamed("batch.")
    val trig = tracer.allTriggers.filter(_.batchId >= firstStreamBatch)
    val batchJobs = batchSpans.map(tracer.jobsIn)
    val all = batchJobs.flatten
    def per(xs: Seq[Double]) = xs.sum / math.max(1, nb)
    val merger = all.filter(_.layer == "merger")
    val merge = all.filter(j => j.layer == "merge" || j.layer == "compact")
    val addBatchS = trig.map(_.addBatchMs / 1e3)
    val covered = batchSpans.zip(batchJobs).map { case (s, js) => (s.end - s.start) / 1e9 - tracer.driverOnlyS(s, js) }
    val readSpans = tracer.spansNamed("read.")
    val timedSpan = tracer.spansNamed("timed").head
    val timedJobs = tracer.jobsIn(timedSpan)
    val l = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
    l("stream.trigger_ms") = (Stats.median(trig.map(_.triggerMs.toDouble)), "ms")
    l("stream.add_batch_ms") = (Stats.median(trig.map(_.addBatchMs.toDouble)), "ms")
    l("stream.overhead_ms") = (Stats.median(trig.map(t => (t.triggerMs - t.addBatchMs).toDouble)), "ms")
    l("merger.jobs_per_batch") = (merger.size.toDouble / math.max(1, nb), "count")
    l("merger.job_s_per_batch") = (per(merger.map(j => (j.end - j.start) / 1e9)), "s")
    l("merger.driver_only_s_per_batch") = (per(addBatchS.zip(covered).map { case (a, c) => math.max(0.0, a - c) }), "s")
    l("decode.s_per_mevent") = (decS / mev, "s")
    l("decode.cpu_s_per_mevent") = (dec.map(_.cpuS).sum / mev, "s")
    l("decode.malformed") = (malformed.toDouble, "count")
    l("dedup.s_per_mevent") = (dedS / mev, "s")
    l("dedup.rows_out_per_row_in") = (dedupOut.toDouble / math.max(1L, dedupIn), "ratio")
    l("dedup.shuffle_bytes_per_event") = (ded.map(_.shuffleWrite).sum.toDouble / probeEvents, "B")
    l("merge.jobs_per_batch") = (merge.size.toDouble / math.max(1, nb), "count")
    l("merge.job_s_per_batch") = (per(merge.map(j => (j.end - j.start) / 1e9)), "s")
    l("merge.rows_written_per_changed_row") = (merge.map(_.rowsWritten).sum.toDouble / math.max(1L, changed), "ratio")
    l("merge.bytes_written_per_batch") = (per(merge.map(_.bytesWritten.toDouble)), "B")
    l("merge.files_written_per_batch") = (per(filesWritten.map(_.toDouble)), "count")
    l("merge.target_bytes_read_per_batch") = (per(merge.filter(_.layer == "merge").map(_.bytesRead.toDouble)), "B")
    l("merge.compact_s") = (all.filter(_.layer == "compact").map(j => (j.end - j.start) / 1e9).sum, "s")
    l("read.files_scanned") = (readFiles.toDouble / math.max(1, readSpans.size), "count")
    l("read.bytes_scanned") = (readBytes.toDouble / math.max(1, readSpans.size), "B")
    l("read.jobs") = (readSpans.map(s => tracer.jobsIn(s).size).sum.toDouble / math.max(1, readSpans.size), "count")
    Layers.spark(tracer, timedSpan, timedJobs, l)
    Layers.put(res, l)
  }

  /** The first key whose row differs between the table and the model. */
  private def firstDiff(m: Model, t: Int, df: DataFrame): String = {
    val cols = df.columns.toSeq
    val got = df.collect().map(r => r.getInt(r.fieldIndex("id")) -> Canon.cells(r, cols).toMap).toMap
    (got.keySet ++ (1 to m.maxId(t)).filter(m.get(t, _).isDefined)).toSeq.sorted.iterator.map { id =>
      val want = m.get(t, id).map(e => m.row(t, id, e).toMap.withDefaultValue(Canon.Null))
      (id, got.get(id), want.map(w => cols.map(c => c -> w(c)).toMap))
    }.find(x => x._2 != x._3).map(x => s"id ${x._1}: table ${x._2}, model ${x._3}").getOrElse("no differing key")
  }

  private def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(deleteRecursively)
    f.delete(); ()
  }
}
