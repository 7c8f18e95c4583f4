package cdcbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What every workload is handed. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int, val work: Path)

/** One measured stretch of a workload: its operations and, when traced, the
  * span of every operation. A traced run measures an untraced phase first and
  * a traced phase after it, so tracing overhead is a same-run comparison. */
final class Phase(val tracer: Option[Tracer]) {
  val log = new OpLog
  val spans = mutable.ArrayBuffer.empty[(String, Span)]
  private val extra = mutable.LinkedHashMap.empty[String, Vector[Double]]

  /** Runs `f` as one timed operation of `kind` (a span too when traced). */
  def op[T](kind: String)(f: => T): Option[T] = tracer match {
    case None => log.timed(kind)(f).map(_._1)
    case Some(t) =>
      log.timed(kind) {
        val (r, s) = t.span(kind)(f)
        spans += kind -> s
        r
      }.map(_._1)
  }

  /** Records one sample of a per-layer quantity measured outside an op. */
  def sample(name: String, v: Double): Unit =
    extra.update(name, extra.getOrElse(name, Vector.empty) :+ v)

  def samples(name: String): Vector[Double] = extra.getOrElse(name, Vector.empty)
  def spansOf(kind: String): Seq[Span] = spans.collect { case (k, s) if k == kind => s }.toSeq
}

/** A metric as printed: value, unit and the number of samples behind it. */
final case class Metric(name: String, value: Double, unit: String, samples: Int)

trait Workload {
  /** The op kind `op_ms` times and the traced `call.*` metrics describe. */
  def primary: String
  /** Builds inputs and warms up; returns nothing, its wall time is setup. */
  def setup(ctx: Ctx): Unit
  /** One closed-loop unit of work. Returns false to stop early (a failed
    * operation that leaves no sensible continuation). */
  def iteration(ctx: Ctx, ph: Phase): Boolean
  /** Whether the loop may stop here (e.g. only at the end of a compaction
    * cycle, so every run samples the same mix of states). */
  def atBoundary: Boolean = true
  /** Iterations every run measures at least, however long they take, so a
    * slow run and a fast one sample the same mix of operations. */
  def minIterations: Int = 2
  /** Untimed output checks after measuring; returns the problems found. */
  def check(ctx: Ctx, phases: Seq[Phase]): Seq[String]
  /** Median latency of the workload's primary operation, and the work units
    * completed per second of operation time. */
  def headline(ph: Phase): (Metric, Metric)
  /** The workload's own end-to-end figures (human-readable summary). */
  def report(ph: Phase): Seq[Metric]
  /** Per-layer metrics of a traced phase. */
  def layers(ctx: Ctx, ph: Phase, t: Tracer): Map[String, Double]
  /** Setup steps repeated within one run; their median enters `setup_s`. */
  def setupRepeats: Seq[Double]
  /** Median seconds to generate the workload's feed (0 without a feed). */
  def feedGenS: Double = 0.0
  def recordExtra: Map[String, Any] = Map.empty
}

object Workload {

  /** Medians of a per-span quantity; 0 when the layer was not exercised. */
  def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  def timing(name: String, xs: Seq[Double], unit: String = "ms"): Seq[Metric] =
    if (xs.isEmpty) Seq.empty
    else Metric(s"${name}_p50", Stats.median(xs), unit, xs.size) +:
      (if (xs.size >= 100) Seq(Metric(s"${name}_p90", Stats.quantile(xs, 0.9), unit, xs.size))
       else Seq.empty)

  /** Per-layer counters of the Spark work issued by a set of call spans:
    * medians over the calls. */
  def sparkLayer(prefix: String, spans: Seq[Span], t: Tracer): Map[String, Double] = {
    val tot = spans.map(s => s -> t.totals(s))
    def m(f: (Span, StageTotals) => Double): Double = med(tot.map { case (s, x) => f(s, x) })
    Map(
      s"$prefix.jobs" -> m((_, x) => x.jobs.toDouble),
      s"$prefix.stages" -> m((_, x) => x.stages.toDouble),
      s"$prefix.tasks" -> m((_, x) => x.tasks.toDouble),
      s"$prefix.driver_ms" -> m((s, _) => t.driverMs(s)),
      s"$prefix.self_ms" -> m((s, _) => t.selfMs(s)),
      s"$prefix.task_cpu_s" -> m((_, x) => x.cpuNs / 1e9),
      s"$prefix.core_busy" -> m((s, x) =>
        if (s.durationMs <= 0) 0.0 else x.runMs / (s.durationMs * Env.cores)),
      s"$prefix.shuffle_write_bytes" -> m((_, x) => x.shuffleWriteBytes.toDouble),
      s"$prefix.shuffle_read_bytes" -> m((_, x) => x.shuffleReadBytes.toDouble),
      s"$prefix.input_bytes" -> m((_, x) => x.inputBytes.toDouble),
      s"$prefix.output_bytes" -> m((_, x) => x.outputBytes.toDouble),
      s"$prefix.spill_bytes" -> m((_, x) => x.spillBytes.toDouble),
      s"$prefix.gc_s" -> m((_, x) => x.gcMs / 1e3))
  }
}
