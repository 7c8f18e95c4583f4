package cdcbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import graft.codec.RecordCodec
import graft.feed.{FeedGen, FeedSpec}
import graft.ingest.CdcIngest
import graft.ingest.CdcIngest.IngestConfig
import graft.lake.LakeTable
import graft.model.ChangeEvent

/** Feed generation, codec timing and the table checks the CDC workloads
  * share. */
object Cdc {

  /** Writes `events` as one framed segment, the way `FeedGen.writeSegments`
    * frames each of its chunks. */
  def writeSegment(dir: Path, segId: Long, events: Seq[ChangeEvent]): Path = {
    val maxSv = events.iterator.map(_.schemaVersion).max
    val p = dir.resolve(f"segment-$segId%06d.bin")
    Files.write(p, RecordCodec.frameSegment(events.iterator.map(RecordCodec.encode), maxSv))
    p
  }

  /** Median single-thread ns/event of the key pass (`segmentOffsets` +
    * `peekKeyBytesAt`) and of `decodeSegment`, and bytes/event, over `segs`.
    * One untimed pass warms the JIT; three timed passes follow. */
  def codecTimes(segs: Seq[Path]): Map[String, Double] = {
    val bytes = segs.map(p => Files.readAllBytes(p))
    var sink = 0L
    def keyscan(): Long = {
      var n = 0L
      bytes.foreach { b =>
        RecordCodec.segmentOffsets(b).foreach { case (off, _) =>
          sink += RecordCodec.peekKeyBytesAt(b, off)._1; n += 1
        }
      }
      n
    }
    def decode(): Long = {
      var n = 0L
      bytes.foreach { b => RecordCodec.decodeSegment(b).foreach { e => sink += e.seq; n += 1 } }
      n
    }
    def nsPerEvent(f: () => Long): Double = {
      f()
      Stats.median((1 to 3).map { _ =>
        val t0 = System.nanoTime(); val n = f(); (System.nanoTime() - t0).toDouble / n
      })
    }
    val events = keyscan()
    val out = Map(
      "codec.keyscan_ns_per_event" -> nsPerEvent(() => keyscan()),
      "codec.decode_ns_per_event" -> nsPerEvent(() => decode()),
      "codec.bytes_per_event" -> bytes.map(_.length.toLong).sum.toDouble / events)
    if (sink == 42L) System.err.println("")
    out
  }

  /** Compares a table's live rows with `FeedGen.expectedState` over exactly
    * `applied`, and sampled lookups with the oracle at their commit. */
  def checkTable(ctx: Ctx, table: LakeTable, applied: Seq[ChangeEvent]): Seq[String] = {
    val expected = FeedGen.expectedState(applied.iterator).map { case (u, e) => u -> Oracle.ofEvent(e) }
    val rows = table.read(ctx.spark).drop("html").collect().toSeq.map(Oracle.ofRow)
    Oracle.diff(expected, rows).map(s => s"table: $s")
  }

  def checkLookup(url: String, got: Seq[PageFp], expected: Map[String, PageFp]): Seq[String] = {
    val want = expected.get(url).toSeq
    if (got == want) Seq.empty else Seq(s"lookup $url: got $got, expected $want")
  }

  def tableMetrics(table: LakeTable): Map[String, Double] = {
    val s = table.currentSnapshot()
    Map("lake.data_files" -> s.files.size.toDouble,
      "lake.delete_files" -> s.deleteFiles.size.toDouble,
      "lake.table_bytes" -> Env.fileSizes(table.root).values.sum.toDouble)
  }

  def isMeta(rel: String): Boolean = rel.startsWith("snapshots") || rel.startsWith("manifests")
}

/** Bulk load of a deterministic feed into an empty 64-bucket table, in a few
  * large `applyBatch` calls. One iteration is one complete backfill into a
  * fresh table. */
final class Backfill extends Workload {
  val primary = "applyBatch"
  private val Buckets = 64
  private val Urls = 20000
  private val Events = 200000
  private val PerSeg = 10000
  private val SegsPerBatch = 5
  private lazy val spec = FeedSpec(numEvents = Events, numUrls = Urls, hotDomainWeight = 0.3,
    eventsPerSegment = PerSeg, evolveAtEvent = Events / 2)
  private var seed = 0L
  private var segs: Seq[Path] = Seq.empty
  private var inputBytes = 0L
  private val repeats = mutable.ArrayBuffer.empty[Double]
  private var pass = 0
  private var lastTable: Option[LakeTable] = None
  private val cfg = IngestConfig(numBuckets = Buckets, segmentsPerBatch = SegsPerBatch)

  private def theSpec = spec.copy(seed = seed)

  def setup(ctx: Ctx): Unit = {
    seed = ctx.seed
    // generate three times (median enters setup_s), keep the last copy
    (1 to 3).foreach { i =>
      val dir = ctx.work.resolve(s"feed$i")
      val t0 = System.nanoTime()
      segs = FeedGen.writeSegments(theSpec, dir.toString)
      repeats += (System.nanoTime() - t0) / 1e9
      if (i < 3) Env.deleteTree(dir)
    }
    inputBytes = segs.map(p => Files.size(p)).sum
    // the bulk path needs about three passes before its JIT settles
    (1 to 3).foreach(_ => backfillOnce(ctx, None))
  }

  def setupRepeats: Seq[Double] = repeats.toSeq
  override def feedGenS: Double = Stats.median(repeats.toSeq)

  private def backfillOnce(ctx: Ctx, ph: Option[Phase]): Boolean = {
    pass += 1
    val dir = ctx.work.resolve(s"table$pass")
    val table = LakeTable.create(dir.toString, CdcIngest.PagesSchemaV1, Buckets)
    val batches = segs.zipWithIndex.map { case (p, i) => (i.toLong, p.toString) }.grouped(SegsPerBatch).toSeq
    var ok = true
    batches.foreach { b =>
      if (ok) ph match {
        case None => CdcIngest.applyBatch(ctx.spark, table, b, cfg)
        case Some(p) =>
          val before = Env.fileSizes(table.root)
          ok = p.op("applyBatch")(CdcIngest.applyBatch(ctx.spark, table, b, cfg)).isDefined
          val after = Env.fileSizes(table.root)
          p.sample("events", b.size.toDouble * PerSeg)
          p.sample("written_bytes", Env.newBytes(before, after).toDouble)
          p.sample("input_bytes", b.map(s => Files.size(java.nio.file.Paths.get(s._2))).sum.toDouble)
          p.sample("lake.commit_meta_bytes", Env.newBytes(before, after, Cdc.isMeta).toDouble)
          if (p.tracer.isDefined) {
            p.op("snapshot")(table.currentSnapshot())
            Cdc.tableMetrics(table).foreach { case (k, v) => p.sample(k, v) }
          }
      }
    }
    lastTable.foreach(t => Env.deleteTree(t.root))
    lastTable = Some(table)
    ok
  }

  def iteration(ctx: Ctx, ph: Phase): Boolean = backfillOnce(ctx, Some(ph))

  def check(ctx: Ctx, phases: Seq[Phase]): Seq[String] = lastTable.toSeq.flatMap { table =>
    val applied = FeedGen.events(theSpec).toVector
    val expected = FeedGen.expectedState(applied.iterator).map { case (u, e) => u -> Oracle.ofEvent(e) }
    val rng = new java.util.Random(seed)
    val sampled = (1 to 20).map(_ => FeedGen.urlOf(theSpec, rng.nextInt(Urls)))
    Cdc.checkTable(ctx, table, applied) ++ sampled.flatMap { u =>
      Cdc.checkLookup(u, table.lookup(ctx.spark, Seq(u)).drop("html").collect().toSeq.map(Oracle.ofRow), expected)
    }
  }

  def headline(ph: Phase): (Metric, Metric) = {
    val ms = ph.log.of("applyBatch")
    (Metric("op_ms", Stats.median(ms), "ms", ms.size),
      Metric("work_per_s", ph.samples("events").take(ms.size).sum / (ms.sum / 1e3), "1/s", ms.size))
  }

  def report(ph: Phase): Seq[Metric] = {
    val ms = ph.log.of("applyBatch")
    Seq(Metric("backfill_events_per_s", ph.samples("events").take(ms.size).sum / (ms.sum / 1e3),
        "events/s", ms.size)) ++
      Workload.timing("batch_ms", ms) ++
      Seq(Metric("write_amplification", ph.samples("written_bytes").sum / ph.samples("input_bytes").sum,
        "ratio", ms.size))
  }

  def layers(ctx: Ctx, ph: Phase, t: Tracer): Map[String, Double] = {
    val batches = ph.spansOf("applyBatch")
    Workload.sparkLayer("ingest", batches, t) ++ Map(
      "ingest.batch_ms" -> Workload.med(batches.map(_.durationMs)),
      "lake.snapshot_ms" -> Workload.med(ph.spansOf("snapshot").map(_.durationMs)),
      "lake.commit_meta_bytes" -> Workload.med(ph.samples("lake.commit_meta_bytes")),
      "lake.data_files" -> Workload.med(ph.samples("lake.data_files")),
      "lake.delete_files" -> Workload.med(ph.samples("lake.delete_files")),
      "lake.table_bytes" -> Workload.med(ph.samples("lake.table_bytes")),
      "lake.write_amplification" -> ph.samples("written_bytes").sum / ph.samples("input_bytes").sum
    ) ++ Cdc.codecTimes(segs)
  }

  override def recordExtra: Map[String, Any] = Map("feed" -> theSpec.toString,
    "input_bytes" -> inputBytes, "segments_per_batch" -> SegsPerBatch, "buckets" -> Buckets)
}

/** Trickle commits of one segment each against a base table, each followed
  * by a fixed read mix. With `mergeOnRead` the same traffic runs against
  * equality-delete commits, compacted every `CompactEvery` commits. */
final class Serve(mergeOnRead: Boolean) extends Workload {
  val primary = "commit"
  // 16 rather than 64 buckets: each commit then writes a quarter of the
  // files, which keeps a commit at ~1.5 s on 4 cores and lets one run hold
  // several compaction cycles
  private val Buckets = 16
  private val Urls = 20000
  private val PerSeg = 2000
  private val BaseSegs = 10
  private val CompactEvery = 2
  private val Lookups = 5
  private val HourMicros = 3600L * 1000000L
  private val cfg = IngestConfig(numBuckets = Buckets, mergeOnRead = mergeOnRead)
  private var seed = 0L
  // generous: more segments than any run can commit
  private lazy val spec = FeedSpec(seed = seed, numEvents = (BaseSegs + 400) * PerSeg,
    numUrls = Urls, hotDomainWeight = 0.3, eventsPerSegment = PerSeg,
    evolveAtEvent = BaseSegs * PerSeg / 2)
  private var feedIt: Iterator[Seq[ChangeEvent]] = Iterator.empty
  private val applied = mutable.ArrayBuffer.empty[ChangeEvent]
  private var nextSeg = 0L
  private var feedDir: Path = _
  private var table: LakeTable = _
  private var depth = 0
  private val repeats = mutable.ArrayBuffer.empty[Double]
  private val genS = mutable.ArrayBuffer.empty[Double]
  private val trickleSegs = mutable.ArrayBuffer.empty[Path]
  // (events applied so far, url, rows returned) of every timed lookup
  private val lookups = mutable.ArrayBuffer.empty[(Int, String, Seq[PageFp])]
  private val depthCommitMs = mutable.Map.empty[Int, Vector[Double]]
  private val depthLookupMs = mutable.Map.empty[Int, Vector[Double]]

  def setup(ctx: Ctx): Unit = {
    seed = ctx.seed
    // generate the base prefix and build the base table three times (the
    // median enters setup_s; the builds also warm the bulk path), keep the last
    (1 to 3).foreach { i =>
      if (table != null) { Env.deleteTree(table.root); Env.deleteTree(feedDir) }
      val t0 = System.nanoTime()
      feedIt = FeedGen.events(spec).grouped(PerSeg)
      applied.clear()
      nextSeg = 0L
      feedDir = ctx.work.resolve(s"feed$i")
      Files.createDirectories(feedDir)
      val base = (0 until BaseSegs).map(_ => nextSegment())
      genS += (System.nanoTime() - t0) / 1e9
      table = LakeTable.create(ctx.work.resolve(s"table$i").toString, CdcIngest.PagesSchemaV1, Buckets)
      CdcIngest.applyBatch(ctx.spark, table, base, cfg)
      repeats += (System.nanoTime() - t0) / 1e9
    }
    // warm-up: one compaction cycle of commits with their read mixes
    val warm = new Phase(None)
    (1 to CompactEvery).foreach(_ => iteration(ctx, warm))
    if (warm.log.failed > 0) throw new IllegalStateException(s"warm-up failed: ${warm.log.errorMessages}")
    lookups.clear(); depthCommitMs.clear(); depthLookupMs.clear()
  }

  def setupRepeats: Seq[Double] = repeats.toSeq
  override def feedGenS: Double = Stats.median(genS.toSeq)

  private def nextSegment(): (Long, String) = {
    val evs = feedIt.next()
    applied ++= evs
    val id = nextSeg
    nextSeg += 1
    val p = Cdc.writeSegment(feedDir, id, evs)
    if (id >= BaseSegs) trickleSegs += p
    (id, p.toString)
  }

  override def atBoundary: Boolean = !mergeOnRead || depth == 0
  // three compaction cycles
  override def minIterations: Int = 3 * CompactEvery

  def iteration(ctx: Ctx, ph: Phase): Boolean = {
    val seg = nextSegment()
    val batch = applied.takeRight(PerSeg)
    val prevVersion = table.currentSnapshot().version
    val before = Env.fileSizes(table.root)
    val t0 = System.nanoTime()
    if (ph.op("commit")(CdcIngest.applyBatch(ctx.spark, table, Seq(seg), cfg)).isEmpty) return false
    val commitMs = (System.nanoTime() - t0) / 1e6
    val after = Env.fileSizes(table.root)
    ph.sample("events", PerSeg.toDouble)
    ph.sample("written_bytes", Env.newBytes(before, after).toDouble)
    ph.sample("input_bytes", Files.size(java.nio.file.Paths.get(seg._2)).toDouble)
    ph.sample("lake.commit_meta_bytes", Env.newBytes(before, after, Cdc.isMeta).toDouble)
    depthCommitMs.update(depth, depthCommitMs.getOrElse(depth, Vector.empty) :+ commitMs)

    val snap = ph.op("snapshot")(table.currentSnapshot()) match {
      case Some(s) => s
      case None => return false
    }
    if (ph.tracer.isDefined) Cdc.tableMetrics(table).foreach { case (k, v) => ph.sample(k, v) }
    val rng = new java.util.Random(seed * 31 + seg._1)
    val urls = (1 to Lookups).map(_ => batch(rng.nextInt(batch.size)).url)
    urls.foreach { u =>
      val l0 = System.nanoTime()
      ph.op("lookup")(table.lookup(ctx.spark, Seq(u)).drop("html").collect()).foreach { rows =>
        lookups += ((applied.size, u, rows.toSeq.map(Oracle.ofRow)))
        depthLookupMs.update(depth, depthLookupMs.getOrElse(depth, Vector.empty) :+ (System.nanoTime() - l0) / 1e6)
      }
      if (ph.tracer.isDefined) {
        val files = table.lookupFiles(snap, Seq(u))
        ph.sample("lake.planned_files", files.size.toDouble)
        val b = LakeTable.bucketOf(u, snap.numBuckets)
        val legs = if (snap.deleteFiles.exists(_.bucket == b)) files.map(_.addedVersion).distinct.size else 1
        ph.sample("lake.scan_legs", legs.toDouble)
      }
    }
    val hi = batch.iterator.map(e => Oracle.micros(e.warcTs)).max
    ph.op("slice")(table.readRange(ctx.spark, hi - HourMicros, hi).count())
    if (ph.tracer.isDefined)
      ph.sample("lake.planned_files", table.filesInRange(snap, hi - HourMicros, hi).size.toDouble)
    ph.op("changes")(table.changesBetween(ctx.spark, prevVersion, snap.version).count())
    if (mergeOnRead) {
      depth += 1
      if (depth == CompactEvery) {
        val before = Env.fileSizes(table.root)
        if (ph.op("compact")(CdcIngest.compact(ctx.spark, table)).isEmpty) return false
        ph.sample("written_bytes", Env.newBytes(before, Env.fileSizes(table.root)).toDouble)
        depth = 0
      }
    }
    true
  }

  def check(ctx: Ctx, phases: Seq[Phase]): Seq[String] = {
    val tableProblems = Cdc.checkTable(ctx, table, applied.toSeq)
    // oracle per distinct commit point; at most five commit points sampled
    val byPoint = lookups.groupBy(_._1).toSeq.sortBy(_._1)
    val step = math.max(1, byPoint.size / 5)
    val lookupProblems = byPoint.indices.filter(_ % step == 0).flatMap { i =>
      val (n, ls) = byPoint(i)
      val expected = FeedGen.expectedState(applied.iterator.take(n)).map { case (u, e) => u -> Oracle.ofEvent(e) }
      ls.flatMap { case (_, u, got) => Cdc.checkLookup(u, got, expected) }
    }
    tableProblems ++ lookupProblems
  }

  def headline(ph: Phase): (Metric, Metric) = {
    val commits = ph.log.of("commit")
    val opMs = ph.log.kinds.flatMap(ph.log.of).sum
    (Metric("op_ms", Stats.median(commits), "ms", commits.size),
      Metric("work_per_s", ph.samples("events").sum / (opMs / 1e3), "1/s", commits.size))
  }

  def report(ph: Phase): Seq[Metric] = {
    val commits = ph.log.of("commit")
    Workload.timing("commit_ms", commits) ++ Workload.timing("lookup_ms", ph.log.of("lookup")) ++
      Workload.timing("slice_ms", ph.log.of("slice")) ++ Workload.timing("changes_ms", ph.log.of("changes")) ++
      Workload.timing("compact_ms", ph.log.of("compact")) ++
      Seq(Metric("write_amplification", ph.samples("written_bytes").sum / ph.samples("input_bytes").sum,
        "ratio", commits.size))
  }

  def layers(ctx: Ctx, ph: Phase, t: Tracer): Map[String, Double] = {
    val commits = ph.spansOf("commit")
    val reads = Seq("lookup", "slice", "changes").flatMap(ph.spansOf)
    val readLayer = Workload.sparkLayer("lake.read", reads, t)
    Workload.sparkLayer("ingest", commits, t) ++ Map(
      "ingest.batch_ms" -> Workload.med(commits.map(_.durationMs)),
      "ingest.compact_ms" -> Workload.med(ph.spansOf("compact").map(_.durationMs)),
      "lake.snapshot_ms" -> Workload.med(ph.spansOf("snapshot").map(_.durationMs)),
      "lake.read_jobs" -> readLayer("lake.read.jobs"),
      "lake.read_tasks" -> readLayer("lake.read.tasks"),
      "lake.read_driver_ms" -> readLayer("lake.read.driver_ms"),
      "lake.read_bytes" -> readLayer("lake.read.input_bytes"),
      "lake.planned_files" -> Workload.med(ph.samples("lake.planned_files")),
      "lake.scan_legs" -> Workload.med(ph.samples("lake.scan_legs")),
      "lake.commit_meta_bytes" -> Workload.med(ph.samples("lake.commit_meta_bytes")),
      "lake.data_files" -> Workload.med(ph.samples("lake.data_files")),
      "lake.delete_files" -> Workload.med(ph.samples("lake.delete_files")),
      "lake.table_bytes" -> Workload.med(ph.samples("lake.table_bytes")),
      "lake.write_amplification" -> ph.samples("written_bytes").sum / ph.samples("input_bytes").sum
    ) ++ Cdc.codecTimes(trickleSegs.toSeq)
  }

  /** Median commit and lookup latency by delete-stack depth (commits since
    * the last compaction). */
  def depthCurve: Seq[(Int, Double, Double)] =
    depthCommitMs.keys.toSeq.sorted.map(d =>
      (d, Workload.med(depthCommitMs(d)), Workload.med(depthLookupMs.getOrElse(d, Vector.empty))))

  override def recordExtra: Map[String, Any] = Map("feed" -> spec.toString,
    "base_segments" -> BaseSegs, "merge_on_read" -> mergeOnRead, "buckets" -> Buckets,
    "compact_every" -> (if (mergeOnRead) CompactEvery else 0), "lookups_per_commit" -> Lookups,
    "depth_curve" -> depthCurve.map { case (d, c, l) => Map("depth" -> d, "commit_ms_p50" -> c, "lookup_ms_p50" -> l) })
}
