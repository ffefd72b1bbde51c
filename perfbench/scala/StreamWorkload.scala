package perfbench

import graft.Fixtures
import graft.apply.ChangeApplier
import graft.log.ChangeLog
import graft.model.CdcConfig
import graft.sources.TxTable
import graft.streaming.CdcStream
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime
import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, lit, row_number}
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}
import scala.jdk.CollectionConverters._

/** One progress event of the replication query; `gcMs` is the JVM's
  * collection time since the previous progress event.
  */
final case class Progress(batchId: Long, start: Long, durations: Map[String, Long],
    rows: Long, startOffset: Long, endOffset: Long, gcMs: Long) {
  def trigger: Long = durations.getOrElse("triggerExecution", 0L)
  def end: Long = start + trigger
}

/** Table state sampled after a trigger (traced runs only). */
final case class TableSample(at: Long, latestMs: Double, version: Long,
    files: Int, dvs: Int, manifestBytes: Long, txlogBytes: Long,
    rewritten: Int, bytesWritten: Long)

/** One phase of the `stream` workload, with its own table, log and
  * checkpoint under `work/<phase>` and inputs under `inputs/<phase>`.
  * Both phases replicate through `CdcStream.startTxTable` with a
  * `HealthListener` attached, as a deployment would.
  *
  * `fresh`: an open loop lands one 100-change log file every
  * interval (the phase's seconds spread over its files) into the log of a copy-on-write TxTable seeded with
  * `orders`, under a short trigger. Lag is measured from each file's
  * scheduled landing to the end of the trigger whose offset range
  * covers it.
  *
  * `aged`: set-up ages a merge-on-read TxTable through public commits
  * (one range-split overwrite into many files, then small appends); the
  * stream then applies one file per trigger with a DV fold every
  * [[StreamPhase.FoldEvery]] merges, fed in a closed loop that keeps two
  * files pending, while one reader thread issues pk point reads back to
  * back. Triggers and reads are measured over whole fold cycles, so every
  * run weighs fold and non-fold triggers alike.
  */
final class StreamPhase(spark: SparkSession, cfg: Cfg, phase: String) {
  private val fresh = phase == "fresh"
  private def p(k: String): String = cfg(s"$phase.$k")
  private def pInt(k: String): Int = p(k).toInt
  private def pLong(k: String): Long = p(k).toLong
  private val inputs = s"${cfg.inputs}/$phase"
  private val pk = Fixtures.OrdersSpec.pkCol
  private val work = s"${cfg.work}/$phase"
  private val tableDir = s"$work/table"
  private val logDir = s"$work/log"
  private val chkDir = s"$work/chk"
  private val stageDir = s"$inputs/stage"
  private val nFiles = pInt("files")
  private val batchRows = cfg.int("batch_rows")
  /** Files applied before the window opens: one in `fresh`, one whole
    * fold cycle in `aged` (the reader warms up beside it).
    */
  private val warm = if (fresh) 1 else StreamPhase.FoldEvery
  /** Fresh: the open loop's landing interval, the window spread evenly
    * over the files after the warm-up.
    */
  private lazy val interval = pInt("seconds") * 1000L / math.max(1, nFiles - warm)

  private val progress = new ConcurrentLinkedQueue[Progress]()
  private val appliedRows = new AtomicLong(0L)
  private val landedAt = new Array[Long](nFiles)
  private val landed = new AtomicInteger(0)
  private val healthMs = new ConcurrentLinkedQueue[java.lang.Double]()
  @volatile private var healthCall = 0L
  private val side = Executors.newSingleThreadExecutor()
  private val tableSamples = new ConcurrentLinkedQueue[TableSample]()
  private val dedups = new ConcurrentLinkedQueue[(Long, Long, Double, Long)]()
  private val sampler = new StackSampler(_.startsWith("stream execution thread"),
    StreamPhase.SamplePeriodMs)
  @volatile private var tracingOn = cfg.traced
  /** Traced runs switch the stack sampler and side measurements on and
    * off in blocks, so one run also measures what tracing costs.
    */
  private def setTracing(on: Boolean): Unit = {
    tracingOn = cfg.traced && on
    sampler.active = tracingOn
  }
  @volatile private var lastStamp = 0L
  @volatile private var prevSnap: Option[TxTable.Snapshot] = None

  private val phases = scala.collection.mutable.LinkedHashMap.empty[String, Long]
  private def mark(phase: String): Long = {
    val now = Util.nowMs()
    phases.synchronized(phases(phase) = now)
    now
  }

  private def applied: Int = (appliedRows.get / batchRows).toInt

  private def logFile(i: Int): String = f"log-$i%06d.parquet"

  /** Land file `i`: stamp its modification time, then rename it into
    * the watched directory in one atomic step. Files land one at a time
    * in cdc-id order, so the file source (which orders by modification
    * time) sees them in log order.
    */
  private def land(i: Int): Unit = {
    val src = Paths.get(stageDir, logFile(i))
    // strictly increasing stamps: two files landed in the same
    // millisecond would tie, and the source may then deliver them out of
    // cdc-id order (the replay ledger then skips the older one)
    val now = math.max(Util.nowMs(), lastStamp + 1)
    lastStamp = now
    Files.setLastModifiedTime(src, FileTime.fromMillis(now))
    Files.move(src, Paths.get(logDir, logFile(i)), StandardCopyOption.ATOMIC_MOVE)
    landedAt(i) = now
    landed.set(i + 1)
    if (cfg.traced && tracingOn) side.execute(() => dedupSample(i))
  }

  /** `ChangeApplier.dedupToLatest` on one landed file, counted (traced). */
  private def dedupSample(i: Int): Unit = {
    Tracing.tag(spark, s"dedup-$i")
    val df = spark.read.schema(ChangeLog.schema(rowSchema)).parquet(s"$logDir/${logFile(i)}")
    val t0 = Util.nowMs()
    val n0 = System.nanoTime()
    val kept = ChangeApplier.dedupToLatest(df).count()
    dedups.add((t0, Util.nowMs(), (System.nanoTime() - n0) / 1e6, kept))
    ()
  }

  /** Manifest and file-set state after a trigger (traced). */
  private def sampleTable(): Unit = {
    // the fastest of three calls: one call is often a JIT or GC pause
    val (snap, latestMs) = (1 to 3).map { _ =>
      val n0 = System.nanoTime()
      val s = TxTable.latest(tableDir)
      (s, (System.nanoTime() - n0) / 1e6)
    }.minBy(_._2)
    snap.foreach { s =>
      val prev = prevSnap.map(_.files.toSet).getOrElse(s.files.toSet)
      val added = s.files.filterNot(prev.contains)
      val txlog = Paths.get(tableDir, "_txlog")
      tableSamples.add(TableSample(Util.nowMs(), latestMs, s.version, s.files.size,
        s.dvs.size, Files.size(txlog.resolve(s"v${s.version}.manifest")),
        Util.dirBytes(txlog), prev.count(f => !s.files.contains(f)),
        added.map(f => s.sizes.getOrElse(f, Files.size(Paths.get(tableDir, f)))).sum))
      prevSnap = Some(s)
    }
  }

  private lazy val orders = spark.read.parquet(s"$inputs/orders.parquet")
  private lazy val rowSchema = orders.schema
  private lazy val appendFiles: Seq[String] = {
    val d = Paths.get(inputs, "appends")
    if (!Files.isDirectory(d)) Nil
    else {
      val s = Files.list(d)
      try s.iterator().asScala.map(_.toString).filter(_.endsWith(".parquet")).toSeq.sorted
      finally s.close()
    }
  }

  private def offsetOf(json: String): Long =
    Option(json).flatMap("\\d+".r.findFirstIn).map(_.toLong).getOrElse(-1L)

  def run(): Map[String, Any] = {
    Files.createDirectories(Paths.get(logDir))
    val setupT0 = Util.nowMs()
    // seed (fresh) or age (aged) the target through public commits
    TxTable.commit(orders.repartitionByRange(pInt("seed_files"), col(pk)), tableDir,
      "overwrite", statsColumns = Seq(pk))
    appendFiles.foreach { f =>
      TxTable.commit(spark.read.parquet(f), tableDir, "append", statsColumns = Seq(pk))
    }
    val agedAt = mark("seeded")
    val agedFiles = TxTable.latest(tableDir).map(_.files.size).getOrElse(0)
    val agedVersions = TxTable.versions(tableDir).size

    val mergesSeen = new AtomicInteger(0)
    var lastGc = Util.gcMs()
    val obs = new SparkObserver
    if (cfg.traced) { spark.sparkContext.addSparkListener(obs); sampler.start() }

    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val gc = Util.gcMs()
        if (p.numInputRows > 0) {
          val src = p.sources.head
          progress.add(Progress(p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli,
            p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
            p.numInputRows, offsetOf(src.startOffset), offsetOf(src.endOffset), gc - lastGc))
          appliedRows.addAndGet(p.numInputRows)
          if (cfg.traced && tracingOn) side.execute(() => sampleTable())
          // aged traced runs alternate whole fold cycles with tracing on
          // and off, so one run also measures what tracing costs
          val merges = mergesSeen.incrementAndGet()
          if (!fresh && merges % StreamPhase.FoldEvery == 0)
            setTracing(StreamPhase.cycleTraced(merges / StreamPhase.FoldEvery))
        }
        lastGc = gc
      }
    }
    val logSchema = ChangeLog.schema(rowSchema)
    val health = new CdcStream.HealthListener(
      () => {
        Tracing.tag(spark, "health")
        healthCall = Util.nowMs()
        spark.read.schema(logSchema).parquet(logDir)
      },
      CdcConfig(),
      emit = _ => { healthMs.add((Util.nowMs() - healthCall).toDouble); () })
    spark.streams.addListener(listener)
    // the health monitor rides along in the fresh phase only: its report
    // scans the whole log at random phase against the triggers, and the
    // aged phase measures table costs
    if (fresh) spark.streams.addListener(health)
    val skipped0 = CdcStream.skippedBatchCount.get()
    val query = CdcStream.startTxTable(spark, logDir, tableDir, chkDir,
      Fixtures.OrdersSpec, rowSchema,
      trigger = Some(Trigger.ProcessingTime(pLong("trigger_ms"))),
      maxFilesPerTrigger = if (fresh) 100 else 1,
      writeMode = if (fresh) "cow" else "mor",
      foldEvery = if (fresh) 0 else StreamPhase.FoldEvery)
    val failures = new ConcurrentLinkedQueue[String]()

    val (winStart, winEnd, dueAt, reads) =
      if (fresh) openLoop() else closedLoop(failures)
    val measuredFiles = landed.get
    mark("window_end")
    // let the stream apply everything landed, then stop it
    val drainBy = Util.nowMs() + 60000L
    while (applied < measuredFiles && Util.nowMs() < drainBy && query.isActive) Thread.sleep(5)
    val drained = applied >= measuredFiles
    mark("drained")
    if (!drained) failures.add(s"stream applied $applied of $measuredFiles landed files")
    query.exception.foreach(e => failures.add(s"query failed: ${e.getMessage.take(300)}"))
    // progress events are asynchronous: wait for the last one
    val settle = Util.nowMs() + 5000L
    while (applied < measuredFiles && Util.nowMs() < settle) Thread.sleep(5)
    query.stop()
    spark.streams.removeListener(listener)
    spark.streams.removeListener(health)
    health.close()
    side.shutdown()
    side.awaitTermination(60, TimeUnit.SECONDS)
    sampler.shutdown()
    val skipped = CdcStream.skippedBatchCount.get() - skipped0
    mark("stopped")

    // ---- correctness: the target equals the generator's model
    val check = finalStateCheck(measuredFiles)
    mark("checked")

    // ---- end-to-end metrics
    val progs = progress.asScala.toVector.sortBy(_.batchId)
    val fileBatch = sourceLogBatches()
    val coveringEnd: Int => Option[Long] = i => fileBatch.get(logFile(i)).flatMap { b =>
      progs.find(p => b > p.startOffset && b <= p.endOffset).map(_.end)
    }
    // fresh: the triggers after the warm-up file; aged: the whole fold
    // cycles after the warm-up cycle that ended inside the window
    val measuredProgs =
      if (fresh) progs.filter(p => p.startOffset + 1 >= fileBatch.getOrElse(logFile(warm), Long.MaxValue))
      else {
        val done = progs.drop(warm).filter(_.end <= winEnd)
        done.take(done.size / StreamPhase.FoldEvery * StreamPhase.FoldEvery)
      }
    val cycles = if (fresh) Vector.empty else measuredProgs.grouped(StreamPhase.FoldEvery).toVector
    val triggerMs = measuredProgs.map(_.trigger.toDouble)
    val lags = if (fresh) (warm until measuredFiles).flatMap(i => coveringEnd(i).map(e => (e - dueAt(i)).toDouble)) else Nil
    val (spanStart, spanEnd) =
      if (fresh) (winStart, coveringEnd(measuredFiles - 1).getOrElse(Util.nowMs()))
      else (measuredProgs.headOption.map(_.start).getOrElse(winStart),
        measuredProgs.lastOption.map(_.end).getOrElse(winEnd))
    val windowS = math.max(1L, spanEnd - spanStart) / 1000.0
    val (lagTail, lagTailP, lagN) = Util.tail(lags)
    val (trigTail, trigTailP, trigN) = Util.tail(triggerMs)
    // aged reads: those that ran inside the measured cycles
    val windowReads = reads.filter(r => r._1 >= spanStart && r._1 + r._2 <= spanEnd)
    val readMs = windowReads.map(_._2)
    val (readTail, readTailP, readN) = Util.tail(readMs)
    val snap = TxTable.latest(tableDir).get
    val liveRows = check("target_rows").asInstanceOf[Long]
    val tableBytes = Util.dirBytes(tableDir)
    val lateMs = if (fresh) (warm until measuredFiles).map(i => (landedAt(i) - dueAt(i)).toDouble) else Nil
    if (!fresh && cycles.isEmpty) failures.add("no whole fold cycle ended inside the window")
    if (skipped != 0) failures.add(s"replay ledger skipped $skipped batches")
    if (!check("ok").asInstanceOf[Boolean]) failures.add(s"final state mismatch: $check")
    val readFailures = reads.count(!_._3)
    val attempted = measuredProgs.size + reads.size + 1
    val failed = skipped + readFailures + (if (check("ok") == true) 0 else 1) +
      (if (drained) 0 else 1) + (if (query.exception.isDefined) 1 else 0) +
      (if (fresh || cycles.nonEmpty) 0 else 1)

    val e2e = Map[String, Any](
      "window_start_s" -> (winStart - cfg.long("launch_ms")) / 1000.0,
      // aged: the median over fold cycles of the cycle's mean trigger
      "trigger_p50_ms" ->
        (if (fresh) Util.median(triggerMs) else Util.median(cycles.map(StreamPhase.meanTrigger))),
      "trigger_tail_ms" -> trigTail,
      "trigger_tail" -> Map("percentile" -> trigTailP, "n" -> trigN),
      // fresh: landed changes over the window (the offered rate while the
      // stream keeps up); aged: the median over fold cycles of the cycle's
      // changes over its triggers' own time (the closed loop keeps the
      // stream busy)
      "changes_per_s" -> (if (fresh) measuredProgs.map(_.rows).sum / windowS
        else Util.median(cycles.map(c => c.map(_.rows).sum * 1000.0 / math.max(1L, c.map(_.trigger).sum)))),
      "table_bytes_per_row" -> tableBytes.toDouble / math.max(1L, liveRows),
      "error_rate" -> failed.toDouble / attempted) ++ (if (fresh) Map(
      "lag_p50_ms" -> Util.median(lags),
      "lag_tail_ms" -> lagTail,
      "lag_tail" -> Map("percentile" -> lagTailP, "n" -> lagN),
      "rate_files_per_s" -> 1000.0 / interval)
    else Map(
      "read_p50_ms" -> Util.median(readMs),
      "read_tail_ms" -> readTail,
      "read_tail" -> Map("percentile" -> readTailP, "n" -> readN),
      "reads_per_s" -> windowReads.size / windowS))

    mark("measured")
    val layers = if (cfg.traced) traceLayers(obs, query.id.toString,
      measuredProgs, winStart, windowReads, dueAt, fileBatch) else Map.empty[String, Any]

    Map(
      "attempted" -> attempted,
      "failed" -> failed,
      "failures" -> failures.asScala.toList.take(20),
      "correct" -> (failed == 0),
      "check" -> check,
      "e2e" -> e2e,
      "layers" -> layers,
      "detail" -> Map(
        "files_landed" -> measuredFiles, "warmup" -> warm, "window_s" -> windowS,
        "triggers_measured" -> measuredProgs.size, "triggers_total" -> progs.size,
        "fold_cycles" -> cycles.size, "trigger_ms" -> triggerMs,
        "reads" -> reads.size, "reads_measured" -> windowReads.size,
        "read_failures" -> readFailures,
        "skipped_batches" -> skipped, "live_rows" -> liveRows,
        "table_bytes" -> tableBytes, "live_files" -> snap.files.size,
        "dv_files" -> snap.dvs.size, "versions" -> TxTable.versions(tableDir).size,
        "aging_s" -> (agedAt - setupT0) / 1000.0, "aged_files" -> agedFiles,
        "aged_versions" -> agedVersions,
        "phases_s" -> phases.synchronized(phases.toSeq).map { case (k, v) =>
          k -> (v - cfg.long("launch_ms")) / 1000.0 }.toMap,
        "health_reports" -> healthMs.size, "health_ms_p50" -> Util.median(healthMs.asScala.map(_.doubleValue).toSeq),
        "generator_late_ms_p50" -> Util.median(lateMs),
        "generator_late_ms_max" -> (if (lateMs.isEmpty) 0.0 else lateMs.max)))
  }

  /** Open loop after a closed-loop warm-up: the first `warm` files land
    * one at a time, each after the previous one is applied, so the
    * window starts with no backlog; from then on file i is due at
    * t0 + (i - warm) * interval, whatever the engine does. Returns
    * (window start, window end, due times, no reads).
    */
  private def openLoop(): (Long, Long, Array[Long], Seq[(Long, Double, Boolean)]) = {
    val due = new Array[Long](nFiles)
    val warmBy = Util.nowMs() + 120000L
    for (i <- 0 until warm) {
      setTracing(true)
      land(i)
      due(i) = landedAt(i)
      while (applied <= i && Util.nowMs() < warmBy) Thread.sleep(2)
    }
    val t0 = Util.nowMs() + 100L
    for (i <- warm until nFiles) {
      due(i) = t0 + (i - warm) * interval
      val wait = due(i) - Util.nowMs()
      if (wait > 0) Thread.sleep(wait)
      // traced runs alternate blocks of four files with tracing on/off,
      // so one run also measures what tracing costs
      setTracing(((i - warm) / 4) % 2 == 0)
      land(i)
    }
    (t0, Util.nowMs(), due, Nil)
  }

  /** Closed loop: keep two files pending ahead of the stream; one reader
    * thread issues point reads back to back from the warm-up on. The
    * window opens when the warm-up cycle is applied and closes after the
    * phase's seconds. Returns (window start, window end, no due times,
    * every read).
    */
  private def closedLoop(failures: ConcurrentLinkedQueue[String])
      : (Long, Long, Array[Long], Seq[(Long, Double, Boolean)]) = {
    @volatile var stop = false
    val feeder = new Thread(() => {
      var i = 0
      while (!stop && i < nFiles) {
        if (i < applied + 2) { land(i); i += 1 } else Thread.sleep(1)
      }
    }, "perfbench-feeder")
    val stable = Files.readAllLines(Paths.get(inputs, "stable_keys.txt")).asScala
      .map(_.trim.toLong).toVector
    val maxKey = pLong("max_key")
    val reads = new ConcurrentLinkedQueue[(Long, Double, Boolean)]()
    val reader = new Thread(() => {
      val rnd = new java.util.Random(cfg.long("seed"))
      var n = 0
      while (!stop) {
        // every fourth read probes any key (it may be deleted: at most
        // one row); the rest probe keys the workload never deletes
        val anyKey = n % 4 == 3
        val key = if (anyKey) (rnd.nextDouble() * (maxKey + 1)).toLong
          else stable(rnd.nextInt(stable.size))
        if (cfg.traced) Tracing.tag(spark, s"read-$n")
        val t0 = Util.nowMs()
        val n0 = System.nanoTime()
        val ok = try {
          val rows = TxTable.readPruned(spark, tableDir, pk, key, key).collect()
          val good = rows.length <= 1 && (anyKey || rows.length == 1) &&
            rows.forall(_.getAs[Long](pk) == key)
          if (!good) failures.add(s"point read of $key returned ${rows.length} rows")
          good
        } catch {
          case e: Exception =>
            failures.add(s"point read of $key failed: ${e.getMessage.take(200)}"); false
        }
        reads.add((t0, (System.nanoTime() - n0) / 1e6, ok))
        n += 1
      }
    }, "perfbench-reader")
    feeder.start()
    reader.start()
    val warmBy = Util.nowMs() + 120000L
    while (applied < warm && Util.nowMs() < warmBy) Thread.sleep(2)
    val winStart = Util.nowMs()
    val winEnd = winStart + pInt("seconds") * 1000L
    while (Util.nowMs() < winEnd) Thread.sleep(math.max(1L, math.min(50L, winEnd - Util.nowMs())))
    stop = true
    feeder.join()
    reader.join()
    (winStart, winEnd, Array.fill(nFiles)(0L), reads.asScala.toVector)
  }

  /** File name -> source batch (log offset), from the file source's own
    * metadata log under the checkpoint.
    */
  private def sourceLogBatches(): Map[String, Long] = {
    val dir = Paths.get(chkDir, "sources", "0")
    if (!Files.isDirectory(dir)) return Map.empty
    val entry = "\"path\":\"([^\"]+)\".*\"batchId\":(\\d+)".r
    val s = Files.list(dir)
    try s.iterator().asScala.filter(p => !p.getFileName.toString.startsWith("."))
      .flatMap(p => Files.readAllLines(p).asScala)
      .flatMap(l => entry.findFirstMatchIn(l))
      .map(m => m.group(1).split('/').last -> m.group(2).toLong).toMap
    finally s.close()
  }

  /** Target vs the generator's model after `files` log files, compared
    * with a plain exceptAll both ways.
    */
  private def finalStateCheck(files: Int): Map[String, Any] = {
    val cols = rowSchema.fieldNames.toSeq.map(col)
    val base = appendFiles.map(spark.read.parquet(_)).foldLeft(orders)(_ unionByName _)
      .select((lit(-1).as("file_idx") +: lit(false).as("deleted") +: cols): _*)
    val model = spark.read.parquet(s"$inputs/model.parquet")
      .filter(col("file_idx") < files)
    val w = Window.partitionBy(pk).orderBy(col("file_idx").desc)
    // both sides cached: the two exceptAll jobs and the counts reuse them
    // instead of re-reading the table and its DVs
    val expected = base.unionByName(model)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && !col("deleted"))
      .select(cols: _*).cache()
    val target = TxTable.read(spark, tableDir).select(cols: _*).cache()
    val extra = target.exceptAll(expected).count()
    val missing = expected.exceptAll(target).count()
    val result = Map("ok" -> (extra == 0 && missing == 0), "extra_rows" -> extra,
      "missing_rows" -> missing, "expected_rows" -> expected.count(),
      "target_rows" -> target.count())
    expected.unpersist(true)
    target.unpersist(true)
    result
  }

  /** Per-layer numbers from the traced run. */
  private def traceLayers(obs: SparkObserver, queryId: String,
      progs: Seq[Progress], winStart: Long,
      reads: Seq[(Long, Double, Boolean)], due: Array[Long],
      fileBatch: Map[String, Long]): Map[String, Any] = {
    val samples = sampler.snapshot()
    val jobs = obs.allJobs
    val streamJobs = jobs.filter(j => j.queryId.contains(queryId))
    val attributed = streamJobs.map(j => j -> Tracing.jobModule(j, samples)).toMap
    // spans: one trace per trigger; its Spark jobs and the stream
    // thread's sampled runs in engine code are children
    val spans = Vector.newBuilder[Span]
    val perTrigger = progs.map { p =>
      val trace = s"trigger-${p.batchId}"
      val js = streamJobs.filter(_.batchId.contains(p.batchId))
      val runs = Tracing.sampleRuns(samples, p.start, p.end, StreamPhase.SamplePeriodMs)
      val jobSpans = js.map { j =>
        val (m, f, fold) = attributed(j)
        Span(trace, s"job-${j.id}", m, j.start, math.max(j.start, j.end),
          Some(trace), Map("frame" -> f, "fold" -> fold))
      }
      val children = jobSpans ++ runs.map { case (a, b, m, f) => Span(trace, s"driver $f", m, a, b, Some(trace)) }
      val childMs = (cs: Seq[Span]) => Tracing.covered(p.start, p.end, cs.map(c => (c.start, c.end)))
      spans += Span(trace, "trigger", "streaming", p.start, p.end, attrs = p.durations ++
        Map("rows" -> p.rows, "files" -> fileBatch.values.count(b => b > p.startOffset && b <= p.endOffset),
          "self_ms" -> (p.trigger - childMs(children))))
      spans ++= children
      val jobMs = (m: String) => js.filter(j => attributed(j)._1 == m).map(j => j.end - j.start).sum
      val folds = js.filter(j => attributed(j)._3)
      val addBatch = math.max(1L, p.durations.getOrElse("addBatch", 1L))
      Map(
        // module attribution needs stack samples: only triggers in traced blocks
        "sampled" -> samples.exists(s => s.at >= p.start && s.at <= p.end),
        "jobs" -> js.size.toDouble,
        "sources_ms" -> jobMs("sources").toDouble,
        "module_ms" -> attributed.filter(_._1.batchId.contains(p.batchId))
          .groupBy(_._2._1).map { case (m, xs) => m -> xs.keys.map(j => j.end - j.start).sum },
        "fold_ms" -> folds.map(j => j.end - j.start).sum.toDouble,
        "has_fold" -> folds.nonEmpty,
        // self-check: addBatch time covered by child spans the trace
        // attributed to an engine module
        "coverage" -> childMs(children.filter(_.module != "unattributed")).toDouble / addBatch,
        "job_cover" -> Tracing.covered(p.start, p.end, js.map(j => (j.start, j.end))).toDouble / addBatch,
        "totals" -> Tracing.stageTotals(obs, js))
    }
    def med(k: String) = Util.median(perTrigger.map(_(k).asInstanceOf[Double]))
    val sampled = perTrigger.filter(_("sampled") == true)
    def perTrig(k: String) = Util.median(perTrigger.map(_("totals").asInstanceOf[Map[String, Double]](k)))
    val coverage = sampled.map(_("coverage").asInstanceOf[Double])
    val ts = tableSamples.asScala.toVector.filter(_.at >= winStart)
    val ded = dedups.asScala.toVector
    val healthJobs = jobs.filter(_.op.contains("health"))
    val readJobs = jobs.filter(_.op.exists(_.startsWith("read-")))
    // tracing overhead: traced blocks against untraced blocks of the same run
    val overhead =
      if (fresh) {
        val (on, off) = (warm until landed.get).partition(i => ((i - warm) / 4) % 2 == 0)
        def lagOf(is: Seq[Int]) = is.flatMap(i => fileBatch.get(logFile(i)).flatMap(b =>
          progs.find(p => b > p.startOffset && b <= p.endOffset)).map(p => (p.end - due(i)).toDouble))
        Util.median(lagOf(on)) / Util.median(lagOf(off)) - 1.0
      } else {
        // measured cycle k is fold cycle k + 1 (cycle 0 is the warm-up)
        val (on, off) = progs.grouped(StreamPhase.FoldEvery).toVector.zipWithIndex
          .partition { case (_, k) => StreamPhase.cycleTraced(k + warm / StreamPhase.FoldEvery) }
        Util.median(on.map(c => StreamPhase.meanTrigger(c._1))) /
          Util.median(off.map(c => StreamPhase.meanTrigger(c._1))) - 1.0
      }
    val readSnap = TxTable.latest(tableDir).get
    val stableOpened = {
      val keys = Files.readAllLines(Paths.get(inputs, "stable_keys.txt")).asScala.take(200)
      keys.map(k => readSnap.filesOverlapping(pk, k.trim.toLong, k.trim.toLong).size.toDouble).toSeq
    }
    Map(
      "spans" -> (spans.result() ++ ded.map { case (a, b, _, k) =>
        Span(s"dedup-$a", "dedupToLatest", "apply", a, b, attrs = Map("kept" -> k)) } ++
        ts.map(t => Span(s"latest-${t.at}", "TxTable.latest", "sources",
          t.at - t.latestMs.toLong, t.at))),
      "metrics" -> Map(
        "streaming.add_batch_ms" -> Util.median(progs.map(_.durations.getOrElse("addBatch", 0L).toDouble)),
        "streaming.overhead_ms" -> Util.median(progs.map(p =>
          (p.trigger - p.durations.getOrElse("addBatch", 0L)).toDouble)),
        "streaming.files_per_trigger" -> Util.mean(progs.map(p =>
          fileBatch.values.count(b => b > p.startOffset && b <= p.endOffset).toDouble)),
        "streaming.spark_jobs_per_trigger" -> med("jobs"),
        "apply.dedup_ms" -> Util.median(ded.map(_._3)),
        "apply.dedup_keep_ratio" -> Util.mean(ded.map(_._4.toDouble / batchRows)),
        "sources.spark_ms_per_trigger" -> Util.median(sampled.map(_("sources_ms").asInstanceOf[Double])),
        "sources.latest_ms" -> Util.median(ts.map(_.latestMs)),
        "sources.live_files" -> Util.mean(ts.map(_.files.toDouble)),
        "sources.dv_files" -> Util.mean(ts.map(_.dvs.toDouble)),
        "sources.manifest_bytes" -> ts.lastOption.map(_.manifestBytes.toDouble).getOrElse(0.0),
        "sources.txlog_bytes" -> ts.lastOption.map(_.txlogBytes.toDouble).getOrElse(0.0),
        "sources.files_rewritten_per_trigger" -> Util.mean(ts.map(_.rewritten.toDouble)),
        "sources.bytes_written_per_change" ->
          ts.map(_.bytesWritten).sum.toDouble / math.max(1L, progs.map(_.rows).sum),
        "sources.fold_ms" -> Util.median(perTrigger.filter(_("has_fold") == true)
          .map(_("fold_ms").asInstanceOf[Double])),
        "sources.folds" -> perTrigger.count(_("has_fold") == true).toDouble,
        "sources.read_files_opened" -> Util.mean(stableOpened),
        "sources.read_hit_ratio" -> (if (stableOpened.isEmpty) 0.0 else 1.0 / Util.mean(stableOpened)),
        "monitor.health_ms" -> Util.median(healthMs.asScala.map(_.doubleValue).toSeq),
        "monitor.reports_per_trigger" -> healthMs.size.toDouble / math.max(1, progs.size),
        "spark.jobs_per_op" -> med("jobs"),
        "spark.stages_per_op" -> perTrig("stages"),
        "spark.tasks_per_op" -> perTrig("tasks"),
        "spark.task_ms" -> perTrig("task_ms"),
        "spark.task_gc_ms" -> Util.mean(perTrigger.map(_("totals").asInstanceOf[Map[String, Double]]("task_gc_ms"))),
        "spark.max_task_ms" -> perTrig("max_task_ms"),
        "spark.shuffle_read_bytes" -> perTrig("shuffle_read_bytes"),
        "spark.shuffle_write_bytes" -> perTrig("shuffle_write_bytes"),
        "spark.spill_bytes" -> Util.mean(perTrigger.map(_("totals").asInstanceOf[Map[String, Double]]("spill_bytes"))),
        "bench.tracing_overhead" -> overhead,
        "bench.span_coverage" -> Util.median(coverage),
        "bench.span_coverage_min" -> (if (coverage.isEmpty) 0.0 else coverage.min),
        "bench.addbatch_job_coverage" -> med("job_cover"),
        "spark.driver_gc_ms" -> Util.mean(progs.map(_.gcMs.toDouble)),
        "bench.generator_late_ms" -> (if (fresh) Util.median((warm until landed.get).map(i =>
          (landedAt(i) - due(i)).toDouble)) else 0.0),
        "bench.health_jobs" -> healthJobs.size.toDouble,
        "bench.read_jobs_per_read" -> readJobs.size.toDouble / math.max(1, reads.size),
        "bench.unattributed_ms_per_trigger" ->
          Util.mean(sampled.map(_("module_ms").asInstanceOf[Map[String, Long]].getOrElse("unattributed", 0L).toDouble))),
      "module_ms_per_trigger" -> sampled.flatMap(_("module_ms").asInstanceOf[Map[String, Long]].toSeq)
        .groupBy(_._1).map { case (m, xs) => m -> xs.map(_._2).sum.toDouble / math.max(1, sampled.size) })
  }
}

object StreamPhase {
  /** Stack sampling period of traced runs. */
  val SamplePeriodMs = 2L

  /** The aged phase's DV fold cadence: one fold per this many merges. */
  val FoldEvery = 2

  /** Whether fold cycle `c` (0 is the warm-up cycle) runs with tracing
    * on, in a traced run.
    */
  def cycleTraced(c: Int): Boolean = c % 2 == 0

  def meanTrigger(cycle: Seq[Progress]): Double =
    cycle.map(_.trigger).sum.toDouble / cycle.size
}

/** The `stream` workload: the fresh phase, then the aged phase, in one
  * process. The fresh phase also warms the JIT for the aged phase, so
  * the short run spends its set-up once. Phase metrics are prefixed
  * `fresh.` and `aged.`; the run's `setup_s` ends where the fresh
  * window starts.
  */
object StreamWorkload {
  def run(spark: SparkSession, cfg: Cfg): Map[String, Any] = {
    val phases = Seq("fresh", "aged").map(ph => ph -> new StreamPhase(spark, cfg, ph).run())
    def each[T](k: String): Seq[(String, T)] = phases.map { case (ph, r) => ph -> r(k).asInstanceOf[T] }
    def prefixed(k: String): Map[String, Any] =
      each[Map[String, Any]](k).flatMap { case (ph, m) => m.map { case (n, v) => s"$ph.$n" -> v } }.toMap
    val layers =
      if (!cfg.traced) Map.empty[String, Any]
      else Map(
        "metrics" -> each[Map[String, Any]]("layers").flatMap { case (ph, l) =>
          l("metrics").asInstanceOf[Map[String, Any]].map { case (n, v) => s"$ph.$n" -> v } }.toMap,
        "module_ms_per_trigger" -> each[Map[String, Any]]("layers").map { case (ph, l) =>
          ph -> l("module_ms_per_trigger") }.toMap,
        "spans" -> each[Map[String, Any]]("layers").flatMap(_._2("spans").asInstanceOf[Seq[Span]]))
    Map(
      "attempted" -> each[Int]("attempted").map(_._2).sum,
      "failed" -> each[Long]("failed").map(_._2).sum,
      "failures" -> each[List[String]]("failures").flatMap { case (ph, fs) => fs.map(f => s"$ph: $f") },
      "correct" -> each[Boolean]("correct").forall(_._2),
      "check" -> each[Map[String, Any]]("check").toMap,
      "e2e" -> (prefixed("e2e") + ("setup_s" -> prefixed("e2e")("fresh.window_start_s"))),
      "layers" -> layers,
      "detail" -> each[Map[String, Any]]("detail").toMap)
  }
}
