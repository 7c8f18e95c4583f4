package cdcbench

import java.nio.file.{Files, Path, Paths}

/** Entry point: runs one workload for one seed and prints a human-readable
  * summary followed by one JSON result line (see cdcbench/README.md). */
object Main {

  /** The per-layer metrics a traced run reports, for every workload; a layer
    * the workload does not exercise reads 0. `call.*` are the Spark counters
    * of the workload's primary operation (`applyBatch`, or one query), which
    * every workload has. */
  val LayerMetrics: Seq[(String, String)] = Seq(
    "call.ms" -> "ms", "call.driver_ms" -> "ms", "call.self_ms" -> "ms",
    "call.jobs" -> "count", "call.stages" -> "count", "call.tasks" -> "count",
    "call.task_cpu_s" -> "s", "call.core_busy" -> "ratio",
    "call.shuffle_write_bytes" -> "bytes", "call.shuffle_read_bytes" -> "bytes",
    "call.input_bytes" -> "bytes", "call.output_bytes" -> "bytes",
    "call.spill_bytes" -> "bytes", "call.gc_s" -> "s",
    "feed.gen_s" -> "s",
    "codec.keyscan_ns_per_event" -> "ns", "codec.decode_ns_per_event" -> "ns",
    "codec.bytes_per_event" -> "bytes",
    "ingest.batch_ms" -> "ms", "ingest.driver_ms" -> "ms", "ingest.self_ms" -> "ms",
    "ingest.jobs" -> "count", "ingest.stages" -> "count", "ingest.tasks" -> "count",
    "ingest.task_cpu_s" -> "s", "ingest.core_busy" -> "ratio",
    "ingest.shuffle_write_bytes" -> "bytes", "ingest.shuffle_read_bytes" -> "bytes",
    "ingest.input_bytes" -> "bytes", "ingest.output_bytes" -> "bytes",
    "ingest.spill_bytes" -> "bytes", "ingest.gc_s" -> "s", "ingest.compact_ms" -> "ms",
    "lake.snapshot_ms" -> "ms", "lake.read_jobs" -> "count", "lake.read_driver_ms" -> "ms",
    "lake.read_tasks" -> "count", "lake.read_bytes" -> "bytes", "lake.planned_files" -> "count",
    "lake.data_files" -> "count", "lake.delete_files" -> "count", "lake.scan_legs" -> "count",
    "lake.commit_meta_bytes" -> "bytes", "lake.table_bytes" -> "bytes",
    "lake.write_amplification" -> "ratio",
    "queries.q_s" -> "s", "queries.ta_s" -> "s", "queries.dd_s" -> "s", "queries.ann_s" -> "s",
"queries.task_cpu_s" -> "s", "queries.shuffle_bytes" -> "bytes",
    "queries.jobs" -> "count", "queries.driver_s" -> "s",
    "trace.overhead" -> "ratio")

  /** The per-layer metrics of the JSON result line (BENCHMARK.json
    * `per_layer`): every count, byte and ratio metric, and the timings every
    * workload has. A layer-specific timing (or GC time, on short queries)
    * can read a constant 0, so those are printed and written to the result
    * file only. */
  def listed(name: String, unit: String): Boolean =
    Set("call.ms", "call.driver_ms", "call.self_ms", "call.task_cpu_s")(name) ||
      !Set("s", "ms", "ns").contains(unit)

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: Path, out: Path, rows: Path, sfDir: String, commit: String)

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(get("workload"), get("seed").toLong, get("seconds").toInt, get("trace") == "1",
      Paths.get(get("work")), Paths.get(get("out")), Paths.get(get("rows")),
      get("sf"), m.getOrElse("commit", "unknown"))
  }

  def workload(a: Args): Workload = a.workload match {
    case "backfill" => new Backfill
    case "trickle" => new Serve(mergeOnRead = false)
    case "mor_serve" => new Serve(mergeOnRead = true)
    case "corpus" => new Corpus(a.sfDir, a.rows)
    case w => throw new IllegalArgumentException(s"unknown workload $w")
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val load0 = Env.loadAvg()
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    Files.createDirectories(a.work)
    val settings = Env.sessionSettings(a.work.resolve("spark-local").toString)
    val spark = Env.session(settings)
    var exit = 1
    try {
      if (a.workload == "record-rows") {
        Corpus.recordRows(spark, a.sfDir, a.rows); exit = 0
      } else exit = run(a, workload(a), spark, settings, jvmStart, load0)
    } finally spark.stop()
    sys.exit(exit)
  }

  private def loop(ctx: Ctx, w: Workload, ph: Phase): Unit = {
    val deadline = System.nanoTime() + ctx.seconds * 1000000000L
    var go = true
    var n = 0
    while (go && (System.nanoTime() < deadline || n < w.minIterations || !w.atBoundary)) {
      go = w.iteration(ctx, ph)
      n += 1
    }
  }

  private def run(a: Args, w: Workload, spark: org.apache.spark.sql.SparkSession,
      settings: Seq[(String, String)], jvmStart: Long, load0: Seq[Double]): Int = {
    val ctx = new Ctx(spark, a.seed, a.seconds, a.work)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    val s0 = System.nanoTime()
    w.setup(ctx)
    val setupWall = (System.nanoTime() - s0) / 1e9
    val reps = w.setupRepeats
    val setupS = sessionS + setupWall - reps.sum + Workload.med(reps)

    val plain = new Phase(None)
    val m0 = System.nanoTime()
    loop(ctx, w, plain)
    val measureS = (System.nanoTime() - m0) / 1e9
    val traced = if (a.trace) {
      val t = new Tracer(s"${a.workload}-${a.seed}", spark.sparkContext)
      val ph = new Phase(Some(t))
      loop(ctx, w, ph)
      t.drain()
      Some((ph, t))
    } else None
    val phases = plain +: traced.map(_._1).toSeq
    val c0 = System.nanoTime()
    val problems = w.check(ctx, phases) ++ phases.flatMap(_.log.errorMessages)
    val checkS = (System.nanoTime() - c0) / 1e9
    val attempted = phases.map(_.log.attempted).sum
    val failed = phases.map(_.log.failed).sum
    val (opMs, work) = w.headline(plain)
    val endToEnd = Seq(Metric("setup_s", setupS, "s", reps.size), opMs, work)
    val layers = traced.toSeq.flatMap { case (ph, t) =>
      val primary = ph.spansOf(w.primary)
      val got = w.layers(ctx, ph, t) ++ Workload.sparkLayer("call", primary, t) ++ Map(
        "call.ms" -> Workload.med(primary.map(_.durationMs)),
        "feed.gen_s" -> w.feedGenS,
        "trace.overhead" -> w.headline(ph)._1.value / opMs.value)
      LayerMetrics.map { case (n, u) => Metric(n, got.getOrElse(n, 0.0), u, ph.log.attempted.toInt) }
    }
    val correct = problems.isEmpty
    val load1 = Env.loadAvg()
    val record = Env.runRecord(spark, settings, Map(
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds, "trace" -> a.trace,
      "commit" -> a.commit, "loadavg_before" -> load0, "loadavg_after" -> load1,
      "setup_repeats_s" -> reps, "session_s" -> sessionS, "measure_s" -> measureS,
      "check_s" -> checkS) ++ w.recordExtra)

    val out = new StringBuilder
    def line(s: String): Unit = out ++= s ++= "\n"
    line(s"cdcbench ${a.workload} seed=${a.seed} seconds=${a.seconds} trace=${if (a.trace) 1 else 0}")
    def show(m: Metric): Unit = line(f"  ${m.name}%-34s ${m.value}%14.4f ${m.unit}%-9s n=${m.samples}")
    line("end-to-end:")
    (endToEnd ++ w.report(plain)).foreach(show)
    line(f"  op_error_rate                      ${OpLog.errorRate(failed, attempted)}%14.4f ratio     n=$attempted")
    line("operation latency (ms): n, median [q1, q3]")
    plain.log.kinds.map(k => k -> plain.log.of(k)).filter(_._2.size >= 2).foreach { case (k, xs) =>
      val (q1, q2, q3) = Stats.quartiles(xs)
      line(f"  $k%-12s n=${xs.size}%-4d $q2%10.2f [$q1%.2f, $q3%.2f]")
    }
    traced.foreach { case (ph, _) =>
      line("traced phase (end-to-end, tracing on):")
      w.report(ph).foreach(show)
      line("per-layer:")
      layers.foreach(show)
    }
    line(s"load average before ${load0.mkString(" ")}, after ${load1.mkString(" ")}")
    problems.take(20).foreach(p => line(s"PROBLEM $p"))
    line(s"correct=$correct")
    print(out.toString)

    Files.createDirectories(a.out)
    val tag = s"${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}"
    val spansJson = traced.toSeq.flatMap { case (ph, t) =>
      ph.spans.toSeq.flatMap { case (_, s) =>
        (s +: t.sparkChildren(s)).map(x => Map("trace" -> x.traceId, "id" -> x.id, "parent" -> x.parent,
          "name" -> x.name, "start_ms" -> x.startMs, "end_ms" -> x.endMs,
          "self_ms" -> (if (x.id == s.id) t.selfMs(s) else x.durationMs)) ++ x.attrs)
      }
    }
    Files.writeString(a.out.resolve(s"$tag.json"), Env.json(Map(
      "record" -> record, "problems" -> problems,
      "end_to_end" -> endToEnd.map(m => Map("name" -> m.name, "value" -> m.value, "unit" -> m.unit, "n" -> m.samples)),
      "report" -> w.report(plain).map(m => Map("name" -> m.name, "value" -> m.value, "unit" -> m.unit, "n" -> m.samples)),
      "per_layer" -> layers.map(m => Map("name" -> m.name, "value" -> m.value, "unit" -> m.unit)),
      "samples_ms" -> phases.map(ph => ph.log.kinds.map(k => k -> ph.log.of(k)).toMap),
      "spans" -> spansJson)) + "\n")
    println(s"run record: ${Env.json(record)}")

    val metrics = (if (a.trace) layers.filter(m => listed(m.name, m.unit)) else endToEnd)
      .map(m => m.name -> Map("value" -> m.value, "unit" -> m.unit)).toMap
    println(Env.json(Map("correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics)))
    if (correct) 0 else 1
  }
}
