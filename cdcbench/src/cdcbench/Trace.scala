package cdcbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced interval. Times are epoch milliseconds so that spans recorded
  * by the benchmark and the job/stage intervals Spark reports share a clock.
  * `parent` is -1 for a root span. */
final case class Span(traceId: String, id: Int, parent: Int, name: String,
    startMs: Double, endMs: Double, attrs: Map[String, Double] = Map.empty) {
  def durationMs: Double = endMs - startMs
}

/** Task-level counters summed over the stages of one span. */
final case class StageTotals(jobs: Int = 0, stages: Int = 0, tasks: Long = 0L,
    runMs: Long = 0L, cpuNs: Long = 0L, gcMs: Long = 0L,
    shuffleWriteBytes: Long = 0L, shuffleReadBytes: Long = 0L,
    inputBytes: Long = 0L, outputBytes: Long = 0L, spillBytes: Long = 0L)

/** In-memory span recorder plus the SparkListener that turns the jobs and
  * stages each benchmark call issues into child spans of that call.
  *
  * Attribution: around every traced call the benchmark sets a Spark job
  * group named after the call's span id. A job started from a thread that
  * does not carry the group (the engine submits some jobs from pool
  * threads) is attributed to the span open at the time, which is exact
  * because the benchmark has one caller thread and calls never overlap. */
final class Tracer(val traceId: String, sc: SparkContext) extends SparkListener {
  private val nextId = new AtomicInteger(0)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  @volatile private var openSpan: Int = -1

  private final case class JobRec(span: Int, startMs: Long, var endMs: Long = -1L)
  private final case class StageRec(id: Int, span: Int, job: Int, startMs: Long, endMs: Long,
      tasks: Int, runMs: Long, cpuNs: Long, gcMs: Long, shW: Long, shR: Long,
      in: Long, out: Long, spill: Long)
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stages = new java.util.concurrent.ConcurrentLinkedQueue[StageRec]()

  sc.addSparkListener(this)

  /** Runs `f` as a span named `name` under `parent`, tagging every Spark job
    * it issues; returns the result and the span. */
  def span[T](name: String, parent: Int = -1)(f: => T): (T, Span) = {
    val id = nextId.getAndIncrement()
    val prevOpen = openSpan
    openSpan = id
    sc.setJobGroup(s"cdcbench-$id", name, interruptOnCancel = false)
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    try {
      val r = f
      val s = Span(traceId, id, parent, name, t0.toDouble, t0 + (System.nanoTime() - n0) / 1e6)
      spans.add(s)
      (r, s)
    } finally {
      sc.clearJobGroup()
      openSpan = prevOpen
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .collect { case g if g.startsWith("cdcbench-") => g.stripPrefix("cdcbench-").toInt }
      .getOrElse(openSpan)
    jobs.put(e.jobId, JobRec(group, e.time))
    e.stageIds.foreach(sid => stageJob.putIfAbsent(sid, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val job = Option(stageJob.get(i.stageId)).map(_.intValue).getOrElse(-1)
    val span = Option(jobs.get(job)).map(_.span).getOrElse(openSpan)
    val m = i.taskMetrics
    stages.add(StageRec(i.stageId, span, job, i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L),
      i.numTasks, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
      m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
      m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  /** Waits until every job this tracer saw has ended and the listener bus
    * has been quiet for a moment, so the counters below are complete. */
  def drain(timeoutMs: Long = 10000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var quietSince = System.currentTimeMillis()
    var lastSeen = -1
    while (System.currentTimeMillis() < deadline) {
      val seen = jobs.size + stages.size
      val open = jobs.values.asScala.count(_.endMs < 0)
      if (seen != lastSeen) { lastSeen = seen; quietSince = System.currentTimeMillis() }
      if (open == 0 && System.currentTimeMillis() - quietSince >= 300) return
      Thread.sleep(50)
    }
  }

  def allSpans: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)

  /** Job and stage spans issued by `s`, as children of it (ids are negative:
    * -1000000 - jobId and -2000000 - stageId). */
  def sparkChildren(s: Span): Seq[Span] = {
    val js = jobs.asScala.toSeq.filter(_._2.span == s.id).sortBy(_._1)
    val jobSpans = js.map { case (jid, j) =>
      Span(traceId, -1000000 - jid, s.id, s"job $jid", j.startMs.toDouble,
        (if (j.endMs < 0) j.startMs else j.endMs).toDouble)
    }
    val stageSpans = stages.asScala.toSeq.filter(_.span == s.id).map { st =>
      Span(traceId, -2000000 - st.id, if (st.job >= 0) -1000000 - st.job else s.id, s"stage ${st.id}",
        st.startMs.toDouble, st.endMs.toDouble,
        Map("tasks" -> st.tasks.toDouble, "cpu_ns" -> st.cpuNs.toDouble))
    }
    jobSpans ++ stageSpans
  }

  def totals(s: Span): StageTotals = {
    val st = stages.asScala.toSeq.filter(_.span == s.id)
    StageTotals(
      jobs = jobs.asScala.count(_._2.span == s.id),
      stages = st.size, tasks = st.map(_.tasks.toLong).sum, runMs = st.map(_.runMs).sum,
      cpuNs = st.map(_.cpuNs).sum, gcMs = st.map(_.gcMs).sum,
      shuffleWriteBytes = st.map(_.shW).sum, shuffleReadBytes = st.map(_.shR).sum,
      inputBytes = st.map(_.in).sum, outputBytes = st.map(_.out).sum,
      spillBytes = st.map(_.spill).sum)
  }

  /** Span time during which none of the span's stages was running. */
  def driverMs(s: Span): Double = {
    val iv = stages.asScala.toSeq.filter(_.span == s.id).map(st => (st.startMs, st.endMs))
    Stats.uncovered(iv, s.startMs.toLong, math.ceil(s.endMs).toLong).toDouble
      .min(s.durationMs).max(0.0)
  }

  /** Span time covered by none of its job spans. */
  def selfMs(s: Span): Double = {
    val iv = sparkChildren(s).filter(_.name.startsWith("job "))
      .map(c => (c.startMs.toLong, c.endMs.toLong))
    Stats.uncovered(iv, s.startMs.toLong, math.ceil(s.endMs).toLong).toDouble
      .min(s.durationMs).max(0.0)
  }
}
