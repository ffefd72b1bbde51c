package perfbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.scheduler._
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One span: a trigger, a read, a query, a Spark job or a direct call
  * into an engine module. Times are epoch milliseconds.
  */
final case class Span(trace: String, name: String, module: String,
    start: Long, end: Long, parent: Option[String] = None,
    attrs: Map[String, Any] = Map.empty) {
  def ms: Long = end - start
}

/** A Spark job seen on the listener bus, with its stages' task metrics. */
final class JobRec(val id: Int, val start: Long, val op: Option[String],
    val batchId: Option[Long], val queryId: Option[String],
    val stageIds: Seq[Int], val callSite: String) {
  @volatile var end: Long = -1L
}

final class StageRec(val id: Int, val tasks: Int, val runMs: Long,
    val gcMs: Long, val shuffleRead: Long, val shuffleWrite: Long,
    val spill: Long)

/** Observes Spark from outside the engine: job and stage events from a
  * [[SparkListener]]. Jobs are tagged by the local properties Spark sets
  * (`streaming.sql.batchId`, `sql.streaming.queryId`) and by the
  * `perfbench.op` property the benchmark sets on its own threads.
  */
final class SparkObserver extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentHashMap[Int, StageRec]()
  val maxTaskMs = new ConcurrentHashMap[Int, java.lang.Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    jobs.put(e.jobId, new JobRec(e.jobId, e.time, prop(Tracing.OpKey),
      prop("streaming.sql.batchId").flatMap(_.toLongOption),
      prop("sql.streaming.queryId"), e.stageIds,
      e.stageInfos.headOption.map(_.details).getOrElse("")))
    ()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskInfo != null) {
      maxTaskMs.merge(e.stageId, e.taskInfo.duration, (a, b) => math.max(a, b))
      ()
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    val m = s.taskMetrics
    if (m != null)
      stages.put(s.stageId, new StageRec(s.stageId, s.numTasks, m.executorRunTime,
        m.jvmGCTime, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled))
    ()
  }

  def allJobs: Seq[JobRec] = jobs.values.asScala.toSeq.sortBy(_.id)
}

/** A sampled stack of one thread: innermost graft frame, and whether a
  * DV fold was on the stack.
  */
final case class StackSample(at: Long, frame: Option[(String, String)], inFold: Boolean)

/** Samples the stacks of the threads whose name matches `select` every
  * `periodMs`, while `active`. Used to attribute stream-thread jobs to
  * engine modules: Spark stamps every job of a streaming query with the
  * call site of `start()`, so the job's own call site cannot say which
  * module submitted it.
  */
final class StackSampler(select: String => Boolean, periodMs: Long)
    extends Thread("perfbench-stack-sampler") {
  setDaemon(true)
  @volatile var active = true
  @volatile private var running = true
  private val samples = ArrayBuffer.empty[StackSample]

  private def targets(): Seq[Thread] = {
    var g = Thread.currentThread.getThreadGroup
    while (g.getParent != null) g = g.getParent
    val ts = new Array[Thread](g.activeCount() * 2 + 16)
    ts.take(g.enumerate(ts, true)).toSeq.filter(t => select(t.getName))
  }

  override def run(): Unit = {
    var ts = Seq.empty[Thread]
    var refreshed = 0L
    while (running) {
      if (active) {
        if (Util.nowMs() - refreshed > 200) { ts = targets(); refreshed = Util.nowMs() }
        ts.foreach { t =>
          val st = t.getStackTrace
          if (st.nonEmpty) {
            val inFold = st.exists(f => f.getMethodName.startsWith("foldDvs"))
            samples.synchronized {
              samples += StackSample(Util.nowMs(), Util.innermostGraft(st), inFold)
            }
          }
        }
      }
      Thread.sleep(periodMs)
    }
  }

  def shutdown(): Unit = { running = false; join(5000) }

  def snapshot(): Vector[StackSample] = samples.synchronized(samples.toVector)
}

object Tracing {
  val OpKey = "perfbench.op"

  /** Tag the Spark jobs the current thread submits. */
  def tag(spark: org.apache.spark.sql.SparkSession, op: String): Unit =
    spark.sparkContext.setLocalProperty(OpKey, op)

  /** Module of a job: the innermost graft frame among the stream-thread
    * stack samples taken while it ran (the stream thread is blocked in
    * the engine call that submitted it; adaptive execution submits map
    * stages asynchronously, so the thread need not be inside `runJob`),
    * else the innermost graft frame of its call site.
    */
  def jobModule(j: JobRec, samples: IndexedSeq[StackSample]): (String, String, Boolean) = {
    val end = if (j.end < 0) j.start else j.end
    val during = samples.filter(s => s.at >= j.start && s.at <= end)
    val sampled = during.flatMap(_.frame)
    val fold = during.exists(_.inFold) || j.callSite.contains("foldDvs")
    if (sampled.nonEmpty) {
      val (frame, _) = sampled.groupBy(identity).maxBy(_._2.size)
      (frame._1, frame._2, fold)
    } else Util.innermostGraft(j.callSite) match {
      case Some((m, f)) if !j.callSite.contains("CdcStream$.startLogStream") || j.batchId.isEmpty =>
        (m, f, fold)
      case _ => ("unattributed", "", fold)
    }
  }

  /** Stage metrics of a set of jobs, summed. */
  def stageTotals(obs: SparkObserver, js: Seq[JobRec]): Map[String, Double] = {
    val st = js.flatMap(_.stageIds).distinct.flatMap(id => Option(obs.stages.get(id)))
    val maxTask = js.flatMap(_.stageIds).flatMap(id => Option(obs.maxTaskMs.get(id)))
      .map(_.toDouble)
    Map(
      "jobs" -> js.size.toDouble,
      "stages" -> st.size.toDouble,
      "tasks" -> st.map(_.tasks).sum.toDouble,
      "task_ms" -> st.map(_.runMs).sum.toDouble,
      "task_gc_ms" -> st.map(_.gcMs).sum.toDouble,
      "shuffle_read_bytes" -> st.map(_.shuffleRead).sum.toDouble,
      "shuffle_write_bytes" -> st.map(_.shuffleWrite).sum.toDouble,
      "spill_bytes" -> st.map(_.spill).sum.toDouble,
      "max_task_ms" -> (if (maxTask.isEmpty) 0.0 else maxTask.max))
  }

  /** The sampled thread's time in engine code inside [lo, hi]: runs of
    * consecutive samples with the same innermost graft frame, as
    * (start, end, module, frame). A run ends at a frame change or a gap
    * of more than three periods, and reaches one period past its last
    * sample.
    */
  def sampleRuns(samples: IndexedSeq[StackSample], lo: Long, hi: Long, periodMs: Long)
      : Seq[(Long, Long, String, String)] = {
    val out = ArrayBuffer.empty[(Long, Long, String, String)]
    var cur: Option[(Long, Long, (String, String))] = None
    def close(): Unit = cur.foreach { case (a, b, f) => out += ((a, math.min(hi, b + periodMs), f._1, f._2)) }
    samples.iterator.filter(s => s.at >= lo && s.at <= hi).foreach { s =>
      (cur, s.frame) match {
        case (Some((a, b, f)), Some(g)) if f == g && s.at - b <= 3 * periodMs => cur = Some((a, s.at, f))
        case _ => close(); cur = s.frame.map(f => (s.at, s.at, f))
      }
    }
    close()
    out.toSeq
  }

  /** Milliseconds of [lo, hi] covered by the union of `intervals`. */
  def covered(lo: Long, hi: Long, intervals: Seq[(Long, Long)]): Long = {
    var cur = lo
    var total = 0L
    intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        val s = math.max(a, cur)
        if (b > s) { total += b - s; cur = b }
      }
    total
  }
}
