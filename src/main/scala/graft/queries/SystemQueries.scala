package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.DecimalType

import graft.codec.RecordCodec
import graft.feed.{FeedGen, FeedSpec}
import graft.ingest.CdcIngest
import graft.ingest.CdcIngest.IngestConfig
import graft.lake.{LakeTable, MaterializedView}
import graft.multimodal.MediaPipeline
import graft.ops.AsofJoin

/** System-level operators: Structured Streaming, multimodal plumbing, and
  * the CDC engine exercised through the harness (SURVEY.md §2.10, §2.11).
  * The cdc_* queries synthesize their own deterministic feed (seed-fixed,
  * FIXTURES.md) AND dump the generator's truth event stream to a fixed
  * parquet path ([[TruthDir]]), so the driver's DuckDB oracle can
  * independently re-fold final state / decode stats / per-bucket lineage
  * with `read_parquet` — every query here is hash-checked, none is
  * rows-only. IngestSpec's serial-oracle comparison gates the same
  * contract in-JVM. */
object SystemQueries {

  /** RAM-backed scratch for query-internal staging (streaming checkpoints,
    * sinks, synthesized feeds, replay tables): this box's /tmp sits on a
    * virtualized disk with high-variance latency (the same measurement that
    * moved [[graft.Bench]]'s shuffle scratch to tmpfs — guide §6 "I/O"),
    * and the streaming state store in particular commits many small delta
    * files per micro-batch, the worst pattern for it. Staging is harness
    * plumbing, not the computation under test — the oracle-checked inputs
    * (TruthDir, MetaRoot, DvRoot, MediaRoot) keep their fixed /tmp paths
    * because the static oracle SQL names them. Falls back to the default
    * tmp dir when /dev/shm is unavailable (a real cluster's local dirs). */
  private val ScratchBase: java.nio.file.Path = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    val base =
      if (Files.isWritable(shm)) shm.resolve("graft-q")
      else java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"), "graft-q")
    Files.createDirectories(base)
    // stale-run sweep: query staging dirs cannot be deleted at query time
    // (the returned DataFrames read from them lazily), so each fresh JVM
    // clears leftovers older than 6 h — bounds tmpfs growth across rounds
    // without racing a concurrently-running sibling JVM
    try {
      val cutoff = System.currentTimeMillis() - 6L * 3600 * 1000
      LakeTable.listDir(base).foreach { p =>
        try if (Files.getLastModifiedTime(p).toMillis < cutoff)
          LakeTable.deleteRecursively(p)
        catch { case _: Exception => () }
      }
    } catch { case _: Exception => () }
    base
  }

  private def tmpDir(prefix: String): java.nio.file.Path =
    Files.createTempDirectory(ScratchBase, prefix)

  /** Run `body` with `spark.sql.shuffle.partitions` DERIVED from the input
    * size instead of the session constant (guide §2.2: size shuffle
    * partitions from the data; the bench session pins cores-many partitions
    * — right for the 16M-event ingest, 32 near-empty tasks per exchange for
    * a KB-sized replay feed or stream slice). partitions =
    * ceil(bytes / target), floor 1, no upper cap — at 100 TB the same rule
    * derives thousands of partitions, so nothing here is tuned to local
    * mode; target bytes is env-tunable (SPARK_GRAFT_SHUFFLE_TARGET_BYTES,
    * default 32 MB). Only callers that EXECUTE their work inside `body`
    * (streaming awaitTermination, engine replays, eager checkpoints) use
    * this — the conf is restored on exit, so a lazy DataFrame that escapes
    * the scope would plan with the session value again. For the streaming
    * queries the value is also the state-store partition count, i.e. the
    * number of per-micro-batch state commits. */
  private def withSizedShuffle[T](s: SparkSession, inputBytes: Long)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val target = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_TARGET_BYTES",
      (32L * 1024 * 1024).toString).toLong
    val n = math.max(1L, (inputBytes + target - 1) / target)
    val prev = s.conf.get(key)
    s.conf.set(key, n.toString)
    try body finally s.conf.set(key, prev)
  }

  /** Total bytes under a path (file or directory, one level). */
  private def sizeOf(path: String): Long = {
    val p = java.nio.file.Paths.get(path)
    try {
      if (Files.isDirectory(p)) LakeTable.listDir(p).map(f =>
        try Files.size(f) catch { case _: Exception => 0L }).sum
      else Files.size(p)
    } catch { case _: Exception => 0L }
  }

  // ---- structured streaming: availableNow replay → windowed aggregation ----
  private def strmHourly(s: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/events.parquet"
    val sch = s.read.parquet(path).schema
    // the file streaming source wants a directory — stage the single
    // parquet file behind a symlink (copy fallback)
    val srcDir = tmpDir("strmsrc")
    val staged = srcDir.resolve("events.parquet")
    try Files.createSymbolicLink(staged, java.nio.file.Paths.get(path))
    catch { case _: Exception => Files.copy(java.nio.file.Paths.get(path), staged) }
    // complete-mode result lands in a parquet sink via foreachBatch
    // (executor-side write, overwritten per micro-batch) instead of the
    // round-1 memory sink, which accumulated the whole result on the driver
    val sinkDir = tmpDir("strmsink").toString
    withSizedShuffle(s, sizeOf(path)) {
      val q = s.readStream.schema(sch).parquet(srcDir.toString)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 6))).cast("double").as("total_value"))
        .select(col("window.start").as("hour_start"), col("event_type"),
          col("n"), col("total_value"))
        .writeStream.outputMode("complete")
        .option("checkpointLocation", tmpDir("strmck").toString)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.write.mode("overwrite").parquet(sinkDir)
        }
        .start()
      q.awaitTermination()
    }
    s.read.parquet(sinkDir)
  }

  // ---- stateful streaming: flatMapGroupsWithState sessionization ----

  /** Per-user open-session state carried across micro-batches. */
  final case class SessionState(startMicros: Long, endMicros: Long, n: Long)
  final case class SessionOut(user_id: Long, session_start: java.sql.Timestamp,
      session_end: java.sql.Timestamp, n_events: Long)

  private val SessionGapMicros: Long = 6L * 3600 * 1000000 // 6h inactivity gap

  /** Sessionize the events table with custom state
    * (`flatMapGroupsWithState`, SURVEY §2.10 "stateful ops"): a session
    * CLOSES when the next event of the same user arrives more than the gap
    * later; closed sessions are emitted in append mode, the open tail stays
    * in the state store (and is never emitted — the oracle mirrors that by
    * dropping each user's last session). The input is staged as 4
    * ts-range part files (one `repartitionByRange` write, parallel — no
    * single-task sorts) drained one file per micro-batch in mtime order,
    * so state genuinely crosses micro-batch boundaries: each batch carries
    * one contiguous time range, ranges arrive ascending, and the in-batch
    * fold sorts its own slice. Session boundaries depend only on the
    * global ts order, never on where the range cuts fall. */
  private def strmSessions(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    // the parquet ts is TIMESTAMP_NTZ — normalize to session-TZ (UTC)
    // timestamp so epoch casts and the Timestamp encoder both apply
    val src = s.read.parquet(s"$dir/events.parquet")
      .select(col("user_id"), col("ts").cast("timestamp").as("ts"), col("event_id"))
    val stage = tmpDir("sessrc")
    src.repartitionByRange(4, col("ts"), col("event_id"))
      .write.mode("overwrite").parquet(stage.toString)
    // part-0000k holds range k: pin ascending mtimes in part-name order so
    // the file stream source delivers the ranges oldest-first
    locally {
      graft.lake.LakeTable.listDir(stage)
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .sortBy(_.getFileName.toString).zipWithIndex.foreach { case (p, k) =>
          Files.setLastModifiedTime(p,
            java.nio.file.attribute.FileTime.fromMillis(1_000_000_000_000L + k * 60000L))
        }
    }
    val sch = src.schema
    val sinkDir = tmpDir("sessout").toString
    withSizedShuffle(s, sizeOf(stage.toString)) {
    val q = s.readStream.schema(sch)
      .option("maxFilesPerTrigger", 1)
      .parquet(stage.toString)
      .as[(Long, java.sql.Timestamp, Long)]
      .map { case (uid, ts, _) =>
        (uid, ts.getTime * 1000 + (ts.getNanos / 1000) % 1000)
      }
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[(Long, Long)], state: GroupState[SessionState]) =>
          // Bounded-constant buffering: the group's batch slice is folded
          // through ONE primitive long array (8 bytes/event, grown by
          // doubling) sorted in place — vs the former it.toSeq.sortBy of
          // per-event objects (~10x the footprint, a real risk for a hot
          // user owning most of a batch). Only timestamps are buffered:
          // the session fold (gap checks, min/max, counts) depends solely
          // on the ts MULTISET, so event order within equal timestamps —
          // the oracle's event_id tie-break — cannot change the result.
          var ts = new Array[Long](256)
          var n = 0
          it.foreach { e =>
            if (n == ts.length) ts = java.util.Arrays.copyOf(ts, n * 2)
            ts(n) = e._2; n += 1
          }
          java.util.Arrays.sort(ts, 0, n)
          val out = Seq.newBuilder[SessionOut]
          var cur = state.getOption
          var i = 0
          while (i < n) {
            val t = ts(i)
            cur match {
              case Some(st) if t - st.endMicros > SessionGapMicros =>
                out += SessionOut(uid,
                  graft.codec.RecordCodec.microsToTimestamp(st.startMicros),
                  graft.codec.RecordCodec.microsToTimestamp(st.endMicros), st.n)
                cur = Some(SessionState(t, t, 1))
              case Some(st) =>
                cur = Some(st.copy(
                  endMicros = math.max(st.endMicros, t), n = st.n + 1))
              case None =>
                cur = Some(SessionState(t, t, 1))
            }
            i += 1
          }
          cur.foreach(state.update)
          out.result().iterator
      }
      .writeStream.outputMode("append")
      .option("checkpointLocation", tmpDir("sessck").toString)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[SessionOut], _: Long) =>
        batch.toDF().write.mode("append").parquet(sinkDir)
      }
      .start()
    q.awaitTermination()
    }
    s.read.parquet(sinkDir)
  }

  /** Write each slice as ONE parquet file into a fresh staging dir,
    * mtime-ordered by index — the file streaming source then drains them
    * as deterministic micro-batches (maxFilesPerTrigger = 1). Harness
    * staging only: a real deployment's source (Kafka / WAL segments)
    * arrives pre-sliced. */
  private def stageSlices(slices: Seq[DataFrame]): java.nio.file.Path = {
    val stage = tmpDir("stg")
    // the slice writes are independent jobs over the same source — submit
    // them concurrently from driver threads (guide §2.6 "overlap
    // independent jobs") instead of paying #slices sequential
    // scan-filter-write barriers; each coalesce(1) job is single-task, so
    // concurrency is what recovers the lost parallelism. mtimes are pinned
    // AFTER all writes land, so drain order is unaffected.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val writes = slices.zipWithIndex.map { case (df, k) => Future {
      val tmp = tmpDir("slice")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val st = Files.list(tmp) // try/finally: the stream holds an open fd
      val moved =
        try {
          val it = st.iterator()
          var done = false
          while (it.hasNext && !done) {
            val p = it.next()
            if (p.getFileName.toString.endsWith(".parquet")) {
              val dst = stage.resolve(f"slice-$k%04d.parquet")
              Files.move(p, dst)
              done = true
            }
          }
          done
        } finally st.close()
      require(moved, s"slice $k produced no parquet part")
    }}
    Await.result(Future.sequence(writes), Duration.Inf)
    (0 until slices.size).foreach { k =>
      Files.setLastModifiedTime(stage.resolve(f"slice-$k%04d.parquet"),
        java.nio.file.attribute.FileTime.fromMillis(
          1_000_000_000_000L + k * 60000L))
    }
    stage
  }

  /** Stream-stream INNER JOIN with an event-time range condition
    * (purchase attribution: every click by the same user in the 24 h
    * window before a purchase). Both sides are real file streams drained
    * one file per micro-batch, each side split by event-id parity, so
    * matches genuinely CROSS micro-batches in both directions — a
    * purchase can arrive before its matching click and vice versa, and
    * the join state must hold both sides until the partner shows up.
    * The 90-day watermark exceeds the feed's span, so no state is evicted
    * mid-replay and the complete, exactly-once result equals the plain
    * relational join — which is the oracle. At 100 TB the watermark tunes
    * to the real attribution horizon (here 24 h), bounding both sides'
    * state to one horizon of events — the property that keeps a
    * stream-stream join runnable on an unbounded feed. */
  private def strmStreamJoin(s: SparkSession, dir: String): DataFrame = {
    val src = s.read.parquet(s"$dir/events.parquet")
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"))
    def halves(t: String) = Seq(
      src.filter(col("event_type") === t && pmod(col("event_id"), lit(2)) === 0),
      src.filter(col("event_type") === t && pmod(col("event_id"), lit(2)) === 1))
    val pDir = stageSlices(halves("purchase"))
    val cDir = stageSlices(halves("click"))
    val sch = src.schema
    def stream(d: java.nio.file.Path) = s.readStream.schema(sch)
      .option("maxFilesPerTrigger", 1).parquet(d.toString)
    val p = stream(pDir).withWatermark("ts", "90 days")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("purchase_ts"))
    val c = stream(cDir).withWatermark("ts", "90 days")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user_id"),
        col("ts").as("click_ts"))
    val joined = p.join(c, expr(
      """user_id = c_user_id AND
        |click_ts >= purchase_ts - INTERVAL 24 HOURS AND
        |click_ts <= purchase_ts""".stripMargin))
      .select(col("purchase_id"), col("user_id"), col("purchase_ts"),
        col("click_id"), col("click_ts"))
    val sinkDir = tmpDir("ssjsink").toString
    withSizedShuffle(s, sizeOf(pDir.toString) + sizeOf(cDir.toString)) {
      val q = joined.writeStream.outputMode("append")
        .option("checkpointLocation", tmpDir("ssjck").toString)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.write.mode("append").parquet(sinkDir)
        }
        .start()
      q.awaitTermination()
    }
    s.read.parquet(sinkDir)
  }

  // ---- event-time watermark: late-data drops under the oracle ----

  /** Number of interleaved micro-batches staged for
    * strm_watermark_drops; also baked into its oracle SQL. */
  private val WmSlices = 4
  private val WmDelay = "2 hours"

  /** Windowed aggregation in APPEND mode under a 2-hour event-time
    * watermark, with the input deliberately delivered OUT of time order so
    * real late data exists: slice k = rows with event_id % 4 == k, drained
    * one file per micro-batch in mtime order (the strm_sessions staging
    * trick). Every slice spans the whole month, so batch 0 already drives
    * the watermark near the global max and batches 1-3 are mostly late.
    * Deterministic end-to-end: batch membership is a pure function of
    * event_id, the watermark sequence is a pure fold over slice maxima,
    * and append-mode emission fires exactly once per window — so DuckDB
    * can replay the entire watermark protocol in SQL (see the oracle) and
    * the driver hash-checks Spark's ACTUAL late-row drop + window-eviction
    * behavior, not a self-description of it.
    *
    * The 4 coalesce(1) slice writes are harness staging, not engine path —
    * a real deployment's source (Kafka / WAL segments) arrives pre-sliced.
    * Streaming state is bounded by the watermark: only windows in the
    * trailing 2-hour horizon stay in the store, exactly the property that
    * makes this runnable over an unbounded 100-TB stream. */
  private def strmWatermarkDrops(s: SparkSession, dir: String): DataFrame = {
    val src = s.read.parquet(s"$dir/events.parquet")
      .select(col("ts").cast("timestamp").as("ts"), col("event_type"),
        col("value"), col("event_id"))
    val stage = stageSlices((0 until WmSlices).map(k =>
      src.filter(pmod(col("event_id"), lit(WmSlices)) === k)))
    val sch = src.schema
    val sinkDir = tmpDir("wmsink").toString
    withSizedShuffle(s, sizeOf(stage.toString)) {
      val q = s.readStream.schema(sch)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage.toString)
        .withWatermark("ts", WmDelay)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 6))).cast("double").as("total_value"))
        .select(col("window.start").as("hour_start"), col("event_type"),
          col("n"), col("total_value"))
        .writeStream.outputMode("append")
        .option("checkpointLocation", tmpDir("wmck").toString)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.write.mode("append").parquet(sinkDir)
        }
        .start()
      q.awaitTermination()
    }
    s.read.parquet(sinkDir)
  }

  /** Exactly-once row dedup of an AT-LEAST-ONCE delivery:
    * `dropDuplicatesWithinWatermark` over a feed staged with genuine
    * redeliveries — micro-batch 0 carries every event, batch 1 re-delivers
    * event_id % 7 == 0, batch 2 re-delivers event_id % 13 == 0 (the
    * at-least-once failure mode of any WAL/binlog tail: a retried fetch
    * replays rows already applied). The dedup key is event_id; Spark keeps
    * one state row per id inside the watermark horizon and drops every
    * cross-batch duplicate. The delay (90 days) exceeds the feed's whole
    * span, so no state is evicted mid-replay and the result is EXACTLY the
    * distinct event set — which is what makes the oracle trivially
    * SQL-expressible (the source's ids are unique, so dedup must return
    * the source verbatim; QueriesSpec asserts the staged input really
    * contained ~19% more rows). At 100 TB the delay is tuned to the
    * source's redelivery horizon (minutes, not the stream's life), so
    * state stays bounded by ids-per-horizon — the same eviction contract
    * strm_watermark_drops pins. Complements the engine's segment-level
    * exactly-once (StreamingIngest contiguous-run watermark): that layer
    * dedups re-sent FILES, this one re-sent ROWS. */
  private def strmDedup(s: SparkSession, dir: String): DataFrame = {
    val src = s.read.parquet(s"$dir/events.parquet")
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("event_type"), col("value"))
    val stage = stageSlices(Seq(
      src, // batch 0: every event
      src.filter(pmod(col("event_id"), lit(7)) === 0), // redelivery 1
      src.filter(pmod(col("event_id"), lit(13)) === 0))) // redelivery 2
    val sinkDir = tmpDir("ddsink").toString
    withSizedShuffle(s, sizeOf(stage.toString)) {
      val q = s.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage.toString)
        .withWatermark("ts", "90 days")
        .dropDuplicatesWithinWatermark("event_id")
        .writeStream.outputMode("append")
        .option("checkpointLocation", tmpDir("ddck").toString)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.write.mode("append").parquet(sinkDir)
        }
        .start()
      q.awaitTermination()
    }
    s.read.parquet(sinkDir)
  }

  // ---- CDC engine through the harness (deterministic synthesized feed) ----
  private val CdcSpec = FeedSpec(seed = 42L, numEvents = 4000, numUrls = 400,
    eventsPerSegment = 1000, evolveAtEvent = 2000)
  private val CdcBuckets = 16

  /** cdc_torn_tail: frames of the TAIL segment that survive the simulated
    * torn append (the tear lands mid-frame right after this many frames).
    * The tail segment carries stream positions [numEvents -
    * eventsPerSegment, numEvents), so the surviving stream prefix is
    * exactly the first [[TornCutSeq]] positions — which the static oracle
    * SQL can select as `seq < TornCutSeq`: a non-duplicate frame at
    * position k has seq = k, and a duplicate frame re-emits an EARLIER
    * event verbatim (seq < its position), so the filter admits only
    * surviving events plus verbatim copies of surviving events, which the
    * LWW fold is idempotent to. */
  private val TornKeep = 500
  private val TornCutSeq = CdcSpec.numEvents - CdcSpec.eventsPerSegment + TornKeep

  /** Fixed location of the replay TRUTH stream: the canonical decoded
    * events as produced by the generator BEFORE binary encoding, dumped to
    * parquet so the driver's DuckDB oracle can read them back with
    * `read_parquet` and independently re-fold the final table state
    * (LWW = `row_number() OVER (PARTITION BY url ORDER BY warc_ts DESC,
    * seq DESC) = 1`, delete winners dropped). That turns the engine's
    * binary decode + salted dedup + MERGE replay into hash-checked oracle
    * queries instead of rows-only self-certification — the reference's J1
    * full-outer validation (data_validator.py:292-337) made
    * machine-checkable. The path must be a compile-time constant because
    * the oracle SQL map is static. */
  val TruthDir = "/tmp/graft-cdc-truth"
  private val TruthGlob = s"$TruthDir/*.parquet"

  /** One truth row per generated change event (html omitted: no oracle
    * reads it — the text byte-identity invariant is carried by `text`). */
  final case class TruthEvent(
      op: String, seq: Long, url: String, warc_ts: java.sql.Timestamp,
      lang: String, text: Option[String], fetch_status: Option[Int],
      content_len: Option[Long], schema_version: Int)

  /** Write the truth stream (+ the engine's bucket assignment of each url —
    * a pure function of the key, so exposing it lets the lineage oracle
    * group by bucket) to [[TruthDir]]. Skip-if-current via a spec
    * fingerprint marker rather than blind overwrite: each of the three
    * cdc_* queries calls this, and an overwrite invalidates the part files
    * under any still-lazy plan reading the directory (observed as
    * FAILED_READ_FILE in the mirror spec). The marker also invalidates a
    * stale dump if the spec or row shape ever changes. */
  private def writeTruth(s: SparkSession): Unit = synchronized {
    val marker = java.nio.file.Paths.get(TruthDir, "_graft_spec")
    val sig = s"$CdcSpec|buckets=$CdcBuckets|shape=v1"
    if (Files.exists(marker) &&
      new String(Files.readAllBytes(marker), "UTF-8") == sig) return
    import s.implicits._
    val rows = FeedGen.events(CdcSpec).map(e => TruthEvent(e.op, e.seq, e.url,
      e.warcTs, e.lang, Option(e.text), e.fetch_status, e.content_len,
      e.schemaVersion)).toSeq
    s.createDataset(rows).toDF()
      .withColumn("bucket", LakeTable.bucketExpr(CdcBuckets))
      .coalesce(1).write.mode("overwrite").parquet(TruthDir)
    Files.write(marker, sig.getBytes("UTF-8"))
  }

  /** Fixed-path MERGE-ON-READ replay table for the metadata-table queries
    * ([[LakeTable.filesDf]]/[[LakeTable.snapshotsDf]]): their DuckDB oracle
    * parses the table's own committed snapshot JSON with `read_json_auto`,
    * so the table must live at a path the static oracle SQL can name.
    * MoR (segmentsPerBatch = 1) so the manifest carries every entry kind —
    * bulk and mor commit strategies, stacked equality-delete files from
    * several versions, and zone-map'd data files. Skip-if-current via the
    * same spec-fingerprint marker discipline as [[writeTruth]]. */
  private val MetaRoot = "/tmp/graft-cdc-metatable"
  private def metaTable(s: SparkSession): LakeTable = synchronized {
    val root = java.nio.file.Paths.get(MetaRoot)
    val marker = root.resolve("_graft_spec")
    // v2: sharded-manifest snapshot format (manifest list + per-bucket
    // manifest files); v3: MoR delta data files are their own equality
    // deletes — regenerate the fixed-path table on format change
    val sig = s"$CdcSpec|buckets=$CdcBuckets|mor-meta-v3"
    if (Files.exists(marker) &&
        new String(Files.readAllBytes(marker), "UTF-8") == sig)
      return LakeTable.load(root.resolve("table").toString)
    LakeTable.deleteRecursively(root)
    Files.createDirectories(root)
    val feedDir = root.resolve("feed").toString
    FeedGen.writeSegments(CdcSpec, feedDir)
    val table = LakeTable.create(root.resolve("table").toString,
      CdcIngest.PagesSchemaV1, numBuckets = CdcBuckets)
    withSizedShuffle(s, sizeOf(feedDir)) {
      CdcIngest.run(s, table, feedDir, IngestConfig(numBuckets = CdcBuckets,
        segmentsPerBatch = 1, mergeOnRead = true))
    }
    Files.write(marker, sig.getBytes("UTF-8"))
    table
  }

  /** Replay the deterministic binary feed into a fresh lake table through
    * the full engine path (decode → salted LWW dedup → MERGE → atomic
    * snapshot commits), multi-batch so cross-batch LWW and tombstones are
    * exercised. */
  private def replayTable(s: SparkSession): LakeTable = {
    val work = tmpDir("cdcq")
    val feedDir = work.resolve("feed").toString
    FeedGen.writeSegments(CdcSpec, feedDir)
    val table = LakeTable.create(work.resolve("table").toString,
      CdcIngest.PagesSchemaV1, numBuckets = CdcBuckets)
    withSizedShuffle(s, sizeOf(feedDir)) {
      CdcIngest.run(s, table, feedDir,
        IngestConfig(numBuckets = CdcBuckets, segmentsPerBatch = 2))
    }
    table
  }

  private def finalState(s: SparkSession, table: LakeTable): DataFrame =
    table.read(s).select(col("url"), col("warc_ts"), col("lang"),
      md5(col("text").cast("binary")).as("text_fp"),
      col("fetch_status"), col("content_len"))

  /** Final live page state after a full engine replay, hash-compared by the
    * driver against DuckDB's independent LWW fold over the truth stream
    * (per-url byte-identity of extracted text via md5 fingerprints — the
    * north rule's invariant). The in-JVM serial-oracle gate lives in
    * IngestSpec; this surface makes the same contract driver-checkable. */
  def cdcReplay(s: SparkSession, dir: String): DataFrame = {
    writeTruth(s)
    val table = replayTable(s)
    finalState(s, table)
  }

  /** Same final-state contract through the STRUCTURED STREAMING front-end
    * (north rule: "Structured Streaming pipeline … foreachBatch MERGE"):
    * the feed directory is tailed with the binaryFile stream source under
    * Trigger.AvailableNow, each micro-batch triggering a contiguous-run
    * engine apply. Must hash-match the SAME DuckDB oracle as the batch
    * replay — exactly-once, out-of-order-delivery handling, and the
    * streaming checkpoint/watermark interplay all collapse into one
    * driver-checkable equality. */
  def cdcStreamReplay(s: SparkSession, dir: String): DataFrame = {
    writeTruth(s)
    val work = tmpDir("cdcs")
    val feedDir = work.resolve("feed").toString
    FeedGen.writeSegments(CdcSpec, feedDir)
    val table = LakeTable.create(work.resolve("table").toString,
      CdcIngest.PagesSchemaV1, numBuckets = CdcBuckets)
    withSizedShuffle(s, sizeOf(feedDir)) {
      graft.ingest.StreamingIngest.run(s, table, feedDir,
        IngestConfig(numBuckets = CdcBuckets, segmentsPerBatch = 2),
        checkpointDir = Some(work.resolve("ckpt").toString))
    }
    finalState(s, table)
  }

  /** Same final-state contract through MERGE-ON-READ trickle commits
    * (Iceberg v2 equality-delete analog): after the first bulk load every
    * batch writes only its changed rows (their own equality deletes), and the
    * read path must reconstruct the identical visible state through the
    * stacked delta anti-joins — hash-checked against the SAME DuckDB LWW
    * oracle as the rewrite replay. A half-way compaction folds the first
    * deltas so the query also proves fold-then-stack composes. */
  def cdcMorReplay(s: SparkSession, dir: String): DataFrame = {
    writeTruth(s)
    val work = tmpDir("cdcmor")
    val feedDir = work.resolve("feed").toString
    FeedGen.writeSegments(CdcSpec, feedDir)
    val table = LakeTable.create(work.resolve("table").toString,
      CdcIngest.PagesSchemaV1, numBuckets = CdcBuckets)
    val cfg = IngestConfig(numBuckets = CdcBuckets, segmentsPerBatch = 1,
      mergeOnRead = true)
    val segs = CdcIngest.listSegments(feedDir, s.sessionState.newHadoopConf())
    withSizedShuffle(s, sizeOf(feedDir)) {
      segs.grouped(cfg.segmentsPerBatch).zipWithIndex.foreach { case (b, i) =>
        CdcIngest.applyBatch(s, table, b, cfg)
        if (i == 1) CdcIngest.compact(s, table) // fold mid-replay, then re-stack
      }
    }
    finalState(s, table)
  }

  /** The WAL crash-recovery contract under the driver oracle: the tail
    * segment is torn mid-frame (producer crash mid-append — the file ends
    * with a frame length prefix and a few payload bytes), repaired by the
    * SAME decision procedure `fsck --repair-tail` runs
    * ([[RecordCodec.planTailRepair]]: truncate to the last fully-valid
    * frame, Kafka log-recovery semantics), and the repaired feed replayed
    * through the full engine. The oracle independently folds LWW over the
    * truth events that survive the cut (`seq < `[[TornCutSeq]] — see its
    * scaladoc for why seq expresses the positional cut exactly), so a
    * repair that keeps too much, too little, or corrupts a kept frame
    * breaks the hash. */
  def cdcTornTail(s: SparkSession): DataFrame = {
    writeTruth(s)
    val work = tmpDir("cdctorn")
    val feedDir = work.resolve("feed").toString
    val paths = FeedGen.writeSegments(CdcSpec, feedDir)
    val tailPath = paths.last
    val bytes = Files.readAllBytes(tailPath)
    val offs = RecordCodec.segmentOffsets(bytes).toVector
    require(offs.size == CdcSpec.eventsPerSegment, s"tail frames: ${offs.size}")
    // end of frame TornKeep-1 = start of frame TornKeep's 4-byte length
    // prefix; the torn file keeps that prefix plus 5 payload bytes
    val boundary = offs(TornKeep)._1 - 4
    val torn = java.util.Arrays.copyOfRange(bytes, 0, boundary + 9)
    Files.write(tailPath, torn)
    val plan = RecordCodec.planTailRepair(torn)
    val (cut, kept) = plan.fold(
      bad => sys.error(s"tail unrepairable at ${bad._1}: ${bad._2}"), identity)
    require(cut == boundary && kept == TornKeep.toLong,
      s"repair plan (cut=$cut kept=$kept) != tear point ($boundary, $TornKeep)")
    Files.write(tailPath, java.util.Arrays.copyOfRange(torn, 0, cut))
    val table = LakeTable.create(work.resolve("table").toString,
      CdcIngest.PagesSchemaV1, numBuckets = CdcBuckets)
    withSizedShuffle(s, sizeOf(feedDir)) {
      CdcIngest.run(s, table, feedDir,
        IngestConfig(numBuckets = CdcBuckets, segmentsPerBatch = 2))
    }
    finalState(s, table)
  }

  /** Fixed-path POSITIONAL deletion-vector replay table (MoR with
    * `deleteVectors = true`, one segment per batch so vectors stack across
    * many commits, never compacted so the stack survives for the oracle).
    * cdc_dv_replay's DuckDB oracle does NOT re-fold the truth stream —
    * it re-applies the deletion-vector contract from the raw on-disk
    * artifacts: read every base parquet file with `filename` +
    * `file_row_number`, anti-join the vector files on (basename, position),
    * drop tombstones. If Spark's vector application and DuckDB's
    * independent one disagree on a single row position, the hash breaks.
    * Base data files and vector files are told apart by the version-scoped
    * name scheme itself (`s########-b*` vs `s########-dv-b*`), which the
    * static SQL can glob. Skip-if-current via the spec-fingerprint marker
    * discipline of [[writeTruth]]/[[metaTable]]. */
  private val DvRoot = "/tmp/graft-cdc-dvtable"
  /** Rename/drop evolution under the driver oracle: replay the first half
    * of the feed, RENAME `lang` → `language` and DROP `html` (both
    * metadata-only commits — zero file rewrites), then replay the second
    * half (which also crosses the v2 additive evolution) through
    * merge-on-read — so the final table mixes base files carrying the OLD
    * physical column name with delta files carrying the new one, stacked
    * under equality deletes. The read must coalesce the alias chain, the
    * ingest must map the decoder's original field names forward, and the
    * result must STILL equal DuckDB's independent LWW fold of the truth
    * stream (with `lang` projected under the new name). A broken alias
    * read nulls `language` for every pre-rename winner; a broken source
    * alignment nulls it for every post-rename one — either breaks the hash. */
  def cdcRenameEvolution(s: SparkSession): DataFrame = {
    writeTruth(s)
    val work = tmpDir("cdcren")
    val feedDir = work.resolve("feed").toString
    FeedGen.writeSegments(CdcSpec, feedDir)
    val table = LakeTable.create(work.resolve("table").toString,
      CdcIngest.PagesSchemaV1, numBuckets = CdcBuckets)
    val cfg = IngestConfig(numBuckets = CdcBuckets, segmentsPerBatch = 1)
    val segs = CdcIngest.listSegments(feedDir, s.sessionState.newHadoopConf())
    val (first, rest) = segs.splitAt(segs.size / 2)
    withSizedShuffle(s, sizeOf(feedDir)) {
      first.foreach(sg => CdcIngest.applyBatch(s, table, Seq(sg), cfg))
      table.renameColumn("lang", "language")
      table.dropColumn("html")
      rest.foreach(sg =>
        CdcIngest.applyBatch(s, table, Seq(sg), cfg.copy(mergeOnRead = true)))
    }
    table.read(s).select(col("url"), col("warc_ts"), col("language"),
      md5(col("text").cast("binary")).as("text_fp"),
      col("fetch_status"), col("content_len"))
  }

  /** Partition-spec (bucket-count) evolution under the driver oracle:
    * replay the first half of the feed at [[CdcBuckets]] buckets, REBUCKET
    * to 2× mid-stream (one distributed rewrite commit — every row hashes
    * to its new home, MoR deltas fold away, the snapshot flips its own
    * `numBuckets`), then replay the second half (which also crosses the v2
    * additive evolution) against the NEW layout. The final state must
    * still equal DuckDB's independent LWW fold of the truth stream: a
    * merge that plans buckets with the stale count sends updates to the
    * wrong files and the per-url winners diverge; a rewrite that drops or
    * duplicates a row breaks the hash outright. */
  def cdcRebucket(s: SparkSession): DataFrame = {
    writeTruth(s)
    val work = tmpDir("cdcrbk")
    val feedDir = work.resolve("feed").toString
    FeedGen.writeSegments(CdcSpec, feedDir)
    val table = LakeTable.create(work.resolve("table").toString,
      CdcIngest.PagesSchemaV1, numBuckets = CdcBuckets)
    val cfg = IngestConfig(numBuckets = CdcBuckets, segmentsPerBatch = 1)
    val segs = CdcIngest.listSegments(feedDir, s.sessionState.newHadoopConf())
    val (first, rest) = segs.splitAt(segs.size / 2)
    withSizedShuffle(s, sizeOf(feedDir)) {
      first.foreach(sg => CdcIngest.applyBatch(s, table, Seq(sg), cfg))
      CdcIngest.rebucket(s, table, CdcBuckets * 2)
      // no config change: applyBatch plans layout from the SNAPSHOT's
      // numBuckets, so the second half lands on the new spec automatically
      rest.foreach(sg => CdcIngest.applyBatch(s, table, Seq(sg), cfg))
    }
    finalState(s, table)
  }

  private def dvTable(s: SparkSession): LakeTable = synchronized {
    val root = java.nio.file.Paths.get(DvRoot)
    val marker = root.resolve("_graft_spec")
    val sig = s"$CdcSpec|buckets=$CdcBuckets|mor-dv-v1"
    if (Files.exists(marker) &&
        new String(Files.readAllBytes(marker), "UTF-8") == sig)
      return LakeTable.load(root.resolve("table").toString)
    LakeTable.deleteRecursively(root)
    Files.createDirectories(root)
    val feedDir = root.resolve("feed").toString
    FeedGen.writeSegments(CdcSpec, feedDir)
    val table = LakeTable.create(root.resolve("table").toString,
      CdcIngest.PagesSchemaV1, numBuckets = CdcBuckets)
    withSizedShuffle(s, sizeOf(feedDir)) {
      CdcIngest.run(s, table, feedDir, IngestConfig(numBuckets = CdcBuckets,
        segmentsPerBatch = 1, mergeOnRead = true, deleteVectors = true))
    }
    Files.write(marker, sig.getBytes("UTF-8"))
    table
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "strm_hourly" -> ((s, dir) => strmHourly(s, dir)),
    "strm_sessions" -> ((s, dir) => strmSessions(s, dir)),
    "strm_watermark_drops" -> ((s, dir) => strmWatermarkDrops(s, dir)),
    "strm_dedup" -> ((s, dir) => strmDedup(s, dir)),
    "strm_stream_join" -> ((s, dir) => strmStreamJoin(s, dir)),

    // multimodal: binary media column → batched typed decode with REAL
    // header parsing (PNG IHDR / JPEG SOF walk / GIF LSD / WAV fmt+data
    // chunk walk; blob fallback); oracle re-parses the same fixture bytes
    // in DuckDB hex arithmetic, including a recursive-CTE JPEG segment walk
    "mm_media_features" -> ((s, dir) => {
      MediaPipeline.extractFeatures(s, MediaPipeline.mediaTable(s, dir))
        .select(col("doc_id"), col("kind"), col("format"), col("n_bytes"),
          col("width"), col("height"), col("n_frames"),
          col("sample_rate"), col("channels"))
    }),

    // multimodal: video frame sampling over a y4m fixed-frame container —
    // header parsed from bytes, FRAME markers verified, every 2nd frame
    // emitted with its unsigned-byte sum; oracle re-walks the same blob
    // in DuckDB hex arithmetic (header scan for the newline byte, chr()
    // reassembly, marker check, per-frame offset sums)
    "mm_frame_sample" -> ((s, dir) =>
      MediaPipeline.sampleVideoFrames(s, MediaPipeline.videoTable(s, dir))),

    // CDC engine end-to-end: hash-checked vs DuckDB's LWW fold of the truth
    // stream (in-JVM serial-oracle gate additionally in IngestSpec)
    "cdc_replay_state" -> ((s, dir) => cdcReplay(s, dir)),

    // the same contract through Structured Streaming (foreachBatch MERGE)
    "cdc_stream_replay" -> ((s, dir) => cdcStreamReplay(s, dir)),
    "cdc_mor_replay" -> ((s, dir) => cdcMorReplay(s, dir)),

    // crash recovery: torn WAL tail → fsck-equivalent repair → replay;
    // oracle folds only the truth prefix that survives the tear
    "cdc_torn_tail" -> ((s, dir) => cdcTornTail(s)),

    // the same contract with POSITIONAL deletion vectors; oracle = DuckDB
    // independently re-applying the vectors to the raw on-disk files
    "cdc_dv_replay" -> ((s, dir) => finalState(s, dvTable(s))),

    // rename/drop schema evolution mid-replay (metadata-only ALTERs; old
    // files keep old physical names, read coalesces the alias chain);
    // oracle = the SAME truth fold with lang projected under the new name
    "cdc_rename_evolution" -> ((s, dir) => cdcRenameEvolution(s)),

    // partition-spec (bucket-count) evolution mid-replay: rebucket 2×
    // between feed halves; oracle = the unchanged truth fold — the layout
    // change must be logically invisible
    "cdc_rebucket" -> ((s, dir) => cdcRebucket(s)),

    // binary WAL decode stats: the codegen'd decode_record path aggregated
    // per (op, schema_version), hash-checked vs DuckDB grouping the truth
    // stream — any decode divergence (field slice, charset, seq/ts order)
    // breaks the hash
    "cdc_decode_stats" -> ((s, dir) => {
      writeTruth(s)
      val work = tmpDir("cdcd")
      val paths = FeedGen.writeSegments(CdcSpec, work.toString).map(_.toString)
      CdcIngest.eventsDf(s, paths)
        .groupBy(col("op"), col("schema_version"))
        .agg(count(lit(1)).as("n"), min(col("seq")).as("min_seq"),
          max(col("seq")).as("max_seq"), countDistinct(col("url")).as("n_urls"))
    }),

    // metadata tables (Iceberg `files` / `snapshots` analogs): the current
    // manifest and the commit history as relations, built manifest-only
    // (zero data IO). The oracle re-parses the SAME committed snapshot
    // JSON with read_json_auto — an independent decode of the commit
    // protocol's on-disk contract, so a mis-serialized manifest field,
    // lost carry-over entry, or wrong addedVersion breaks the hash even
    // when data reads still look right.
    "cdc_meta_files" -> ((s, dir) => metaTable(s).filesDf(s)),
    "cdc_meta_snapshots" -> ((s, dir) => metaTable(s).snapshotsDf(s)),
    "cdc_schema_history" -> ((s, dir) => metaTable(s).schemaHistoryDf(s)),

    // time travel (Iceberg VERSION AS OF): live state at the FIRST committed
    // batch (watermark segment 1 → truth events with seq < cut), read
    // through that snapshot's pre-evolution schema — hash-checked against
    // DuckDB folding only the truth prefix. Catches stale-manifest reads,
    // schema-evolution leakage into old versions, and watermark drift.
    "cdc_time_travel" -> ((s, dir) => {
      writeTruth(s)
      val table = replayTable(s)
      val v1 = table.listVersions().sorted.apply(1)
      table.readAsOf(s, v1)
        .select(col("url"), col("warc_ts"), col("lang"),
          md5(col("text").cast("binary")).as("text_fp"))
    }),

    // manifest-planned time-slice scan (zone maps): compact first so each
    // bucket's files are warc_ts-sorted and split (maxFileRows), then read
    // a fixed 20-minute slice through readRange — the scan plans its file
    // set from the manifest's per-file [tsMin, tsMax] stats (pruning
    // asserted by LakeMaintenanceSpec; at 100 TB "last week's pages" opens
    // last week's files, not the table). Hash-checked vs DuckDB's LWW fold
    // filtered to the same range. Catches wrong footer stats (a file
    // skipped that held an in-range winner loses rows), residual-filter
    // boundary errors, and tombstone leakage into the slice.
    "cdc_time_slice" -> ((s, dir) => {
      writeTruth(s)
      val table = replayTable(s)
      withSizedShuffle(s, sizeOf(table.dataDir.toString)) {
        CdcIngest.compact(s, table, maxFileRows = 8)
      }
      table.readRange(s, SliceLoMicros, SliceHiMicros)
        .select(col("url"), col("warc_ts"), col("lang"),
          md5(col("text").cast("binary")).as("text_fp"))
    }),

    // z-order clustered slice (the generalized-bounds twin of
    // cdc_time_slice): compact under a 2-D Morton layout over
    // (warc_ts, content_len), then read a content_len slice through
    // readColRange — file set planned from the manifest's per-column
    // bounds ON the interleaved sort order (2-D pruning power asserted
    // by ZOrderSpec; here the driver hash-checks that the pruned read
    // still sees exactly the LWW winners in the slice). Catches wrong
    // footer bounds under the z sort, inclusive-edge residual-filter
    // errors, and null leakage (content_len is null on every v1-schema
    // winner — none may appear in the slice).
    "cdc_zorder_slice" -> ((s, dir) => {
      writeTruth(s)
      val table = replayTable(s)
      withSizedShuffle(s, sizeOf(table.dataDir.toString)) {
        CdcIngest.compact(s, table, maxFileRows = 8,
          zOrderBy = Seq("warc_ts", "content_len"))
      }
      table.readColRange(s, "content_len", Some("20000"), Some("40000"))
        .select(col("url"), col("warc_ts"), col("lang"),
          md5(col("text").cast("binary")).as("text_fp"), col("content_len"))
    }),

    // incremental changelog (Iceberg table_changes): per-key visible-state
    // diff between the first and last committed snapshots, classified
    // I/U/D, reading ONLY the buckets whose file sets changed — hash-checked
    // against DuckDB diffing its own prefix fold vs full fold of the truth
    // stream. Catches lost updates, phantom rewrites of untouched buckets,
    // misclassified tombstones, and _seq drift.
    "cdc_changelog" -> ((s, dir) => {
      writeTruth(s)
      val table = replayTable(s)
      val vs = table.listVersions().sorted
      table.changesBetween(s, vs(1), vs.last)
        .select(col("change_op"), col("url"), col("warc_ts"), col("lang"),
          md5(col("text").cast("binary")).as("text_fp"),
          col("fetch_status"), col("content_len"))
    }),

    // manifest-planned point lookup (the serving-layer read path): current
    // live state for a fixed key set, planned driver-side via bucketOf —
    // only the keys' buckets' files are opened (pruning asserted by
    // LakeMaintenanceSpec) — hash-checked against DuckDB folding the truth
    // stream restricted to the same keys. Catches bucket misplanning (a key
    // hashed to the wrong bucket returns nothing) and tombstone leakage.
    "cdc_point_lookup" -> ((s, dir) => {
      writeTruth(s)
      val table = replayTable(s)
      table.lookup(s, LookupUrls)
        .select(col("url"), col("warc_ts"), col("lang"),
          md5(col("text").cast("binary")).as("text_fp"),
          col("fetch_status"), col("content_len"))
    }),

    // lineage contract under the oracle: per-bucket physical row counts as
    // recorded in the committed snapshot MANIFEST (parquet-footer counts —
    // metadata only, no scan) plus live-row counts from the data, both
    // hash-checked against DuckDB independently re-folding the truth stream
    // per bucket. Catches wrong footer accounting, lost/duplicated rows in
    // a bucket, tombstones misfiled as live, and bucket misassignment.
    // per-domain rollup of the live replay state (the Common-Crawl-shaped
    // report a web corpus actually gets sliced by): host extracted from the
    // url, pages/bytes/recency per host. One partial-aggregated groupBy —
    // map-side combine collapses each hot domain inside every task before
    // the shuffle, so the Zipf-skewed hot domain costs one row per task,
    // not one shuffle record per page. Hash-checked vs DuckDB grouping its
    // own LWW fold of the truth stream.
    "cdc_domain_stats" -> ((s, dir) => {
      writeTruth(s)
      val table = replayTable(s)
      table.read(s)
        .groupBy(element_at(split(col("url"), "/"), 3).as("host"))
        .agg(count(lit(1)).as("n_pages"),
          sum(col("content_len")).as("total_bytes"),
          max(col("warc_ts")).as("last_crawl"))
    }),

    "cdc_lineage" -> ((s, dir) => {
      import s.implicits._
      writeTruth(s)
      val table = replayTable(s)
      val snap = table.currentSnapshot()
      val manifest = snap.files.groupBy(_.bucket).toSeq
        .map { case (b, fs) => (b, fs.map(_.rows).sum) }
        .toDF("bucket", "file_rows")
      val live = table.read(s)
        .groupBy(LakeTable.bucketExpr(CdcBuckets).as("bucket"))
        .agg(count(lit(1)).as("live_rows"))
      manifest.join(live, Seq("bucket"), "left")
        .select(col("bucket"), col("file_rows"),
          coalesce(col("live_rows"), lit(0L)).as("live_rows"))
    }),

    // SCD Type 2 history: the change stream folded into a slowly-changing
    // dimension — one row per non-delete event version with its validity
    // interval [valid_from, valid_to) from lead() over the LWW order
    // (warc_ts, seq), open interval = current. Delete events emit no row
    // but CLOSE the prior version's interval (lead is computed before the
    // filter). One window per url partition — the exact shuffle shape of
    // the LWW dedup itself, linear in events. Hash-checked vs DuckDB
    // running the same fold over the truth stream.
    "cdc_scd2" -> ((s, dir) => {
      writeTruth(s)
      val work = tmpDir("cdc2")
      val paths = FeedGen.writeSegments(CdcSpec, work.toString).map(_.toString)
      val w = Window.partitionBy(col("url"))
        .orderBy(col("warc_ts").asc, col("seq").asc)
      CdcIngest.eventsDf(s, paths)
        .withColumn("valid_to", lead(col("warc_ts"), 1).over(w))
        .filter(col("op") =!= "D")
        .select(col("url"), col("seq").as("version_seq"),
          col("warc_ts").as("valid_from"), col("valid_to"),
          col("valid_to").isNull.as("is_current"),
          col("lang"), md5(col("text").cast("binary")).as("text_fp"),
          col("fetch_status"), col("content_len"))
    }),

    // point-in-time state via the AsofJoin operator: every url probed at
    // three fixed event timestamps (the warc_ts of seqs ProbeSeqs — values
    // both engines can derive exactly). A probe whose as-of winner is a
    // delete (or that predates the url's first event) keeps its row with
    // null state — left as-of semantics. The operator shuffles
    // (probes ∪ events) ONCE on url and sorts within partitions; no
    // probe × history pair blow-up (see [[graft.ops.AsofJoin]]).
    "cdc_asof_state" -> ((s, dir) => {
      writeTruth(s)
      val work = tmpDir("cdca")
      val paths = FeedGen.writeSegments(CdcSpec, work.toString).map(_.toString)
      val ev = CdcIngest.eventsDf(s, paths)
        .select(col("url"), col("seq"), col("warc_ts"), col("op"),
          col("lang"), md5(col("text").cast("binary")).as("text_fp"),
          col("fetch_status"), col("content_len"))
      val probeTs = ev.filter(col("seq").isin(ProbeSeqs: _*))
        .select(col("warc_ts").as("probe_ts")).distinct()
      val probes = ev.select(col("url")).distinct()
        .crossJoin(broadcast(probeTs))
      val alive = col("asof").isNotNull && col("asof.op") =!= "D"
      AsofJoin.lastBefore(probes, ev, keys = Seq("url"),
          leftTs = "probe_ts", rightTs = "warc_ts", tieBreak = Seq("seq"),
          payload = Seq("op", "seq", "lang", "text_fp", "fetch_status",
            "content_len"))
        .select(col("url"), col("probe_ts"),
          when(alive, col("asof.seq")).as("state_seq"),
          when(alive, col("asof.lang")).as("lang"),
          when(alive, col("asof.text_fp")).as("text_fp"),
          when(alive, col("asof.fetch_status")).as("fetch_status"),
          when(alive, col("asof.content_len")).as("content_len"))
    }),

    // incremental materialized-view maintenance (the "don't recompute
    // 100 TB" path), exercised through the ENGINE feature
    // [[graft.lake.MaterializedView]]: the per-host MV is seeded by ONE
    // full aggregation of the FIRST committed snapshot, then refreshed
    // version-by-version — each refresh reads only changeDeltas' changed
    // buckets and the prior MV, cost ∝ change volume, never table size,
    // with crash-safe atomic state flips between versions. The driver
    // hash-checks the final MV against DuckDB's FULL recompute over the
    // truth stream: delta classification, pre-image plumbing, evolution
    // null-fill, fold arithmetic, and the MV's own commit protocol all
    // collapse into one equality. max()-style aggregates are NOT
    // delta-maintainable under deletes (no inverse) — deliberately absent
    // here; cdc_domain_stats carries last_crawl on the recompute path.
    "cdc_incr_mview" -> ((s, dir) => {
      writeTruth(s)
      val work = tmpDir("cdcm")
      val feedDir = work.resolve("feed").toString
      FeedGen.writeSegments(CdcSpec, feedDir)
      val table = LakeTable.create(work.resolve("table").toString,
        CdcIngest.PagesSchemaV1, numBuckets = CdcBuckets)
      withSizedShuffle(s, sizeOf(feedDir)) {
        // one commit per segment → 4 snapshot versions → 3 refresh steps
        CdcIngest.run(s, table, feedDir,
          IngestConfig(numBuckets = CdcBuckets, segmentsPerBatch = 1))
        val vs = table.listVersions().sorted
        val mvRoot = work.resolve("mv").toString
        MaterializedView.seed(s, table, mvRoot, Some(vs(1)))
        vs.drop(2).foreach(v => MaterializedView.refresh(s, table, mvRoot, Some(v)))
        MaterializedView.read(s, mvRoot)
      }
    }),

    // the CONTINUOUS form of the same contract: the MV is maintained by
    // the Structured Streaming front-end itself, refreshed after every
    // micro-batch commit (seed on first), and its FINAL content must equal
    // the same DuckDB full recompute — streaming delivery order, per-batch
    // delta folds, and the MV commit protocol all under one hash equality.
    "cdc_stream_mview" -> ((s, dir) => {
      writeTruth(s)
      val work = tmpDir("cdcsm")
      val feedDir = work.resolve("feed").toString
      FeedGen.writeSegments(CdcSpec, feedDir)
      val table = LakeTable.create(work.resolve("table").toString,
        CdcIngest.PagesSchemaV1, numBuckets = CdcBuckets)
      withSizedShuffle(s, sizeOf(feedDir)) {
        graft.ingest.StreamingIngest.run(s, table, feedDir,
          IngestConfig(numBuckets = CdcBuckets, segmentsPerBatch = 2),
          checkpointDir = Some(work.resolve("ckpt").toString),
          mviewRoot = Some(work.resolve("mv").toString))
      }
      MaterializedView.read(s, work.resolve("mv").toString)
    })
  )

  /** Probe sequence numbers for [[cdc_asof_state]]: their warc_ts values
    * are the probe timestamps — exact stream values, so both engines
    * derive identical probes with no timestamp arithmetic. */
  private val ProbeSeqs: Seq[Long] = Seq(999L, 1999L, 2999L)

  /** Highest seq (exclusive) applied by the table's FIRST commit:
    * [[replayTable]] runs with segmentsPerBatch = 2 and segments hold
    * [[CdcSpec.eventsPerSegment]] sequential seqs each, so snapshot v1's
    * watermark (segment 1) covers exactly `seq < 2 * eventsPerSegment`.
    * The time-travel and changelog oracles fold the truth prefix with
    * this cut. */
  private val V1CutSeq: Long = CdcSpec.eventsPerSegment.toLong * 2

  /** Fixed 20-minute slice for the zone-map scan query: feed timestamps
    * run 1 s per event from [[FeedGen.BaseEpochMillis]] (2020-01-01T00:00Z),
    * so [00:20, 00:40) covers events k ∈ [1200, 2400) plus any late-slice
    * outliers LWW demoted. Inclusive-micros bounds; the oracle states the
    * same range as half-open timestamp literals. */
  private val SliceLoMicros: Long = (FeedGen.BaseEpochMillis + 1200L * 1000L) * 1000L
  private val SliceHiMicros: Long = (FeedGen.BaseEpochMillis + 2400L * 1000L) * 1000L - 1L

  /** Fixed key set for the point-lookup query — deterministic urls from the
    * feed's own universe (a mix of hot-domain, cold, and high-index keys;
    * some may be deleted or never inserted at this spec, which the lookup
    * must surface as absent rows, not wrong rows). */
  private val LookupUrls: Seq[String] =
    Seq(0, 7, 20, 33, 199, 399).map(i => FeedGen.urlOf(CdcSpec, i))

  private def sqlUrlList: String = LookupUrls.map(u => s"'$u'").mkString(", ")

  /** Shared oracle for BOTH replay surfaces (batch + streaming): the
    * engine's final table state must equal DuckDB's LWW fold of the truth
    * stream regardless of which front-end drove the merge. */
  private val ReplayStateSql: String =
    s"""WITH w AS (SELECT *,
       |  ROW_NUMBER() OVER (PARTITION BY url ORDER BY warc_ts DESC, seq DESC) AS rn
       |  FROM read_parquet('$TruthGlob'))
       |SELECT url, warc_ts, lang, md5(text) AS text_fp, fetch_status, content_len
       |FROM w WHERE rn = 1 AND op <> 'D'""".stripMargin

  val oracles: Map[String, String] = Map(
    "strm_hourly" ->
      """SELECT date_trunc('hour', ts) AS hour_start, event_type, COUNT(*) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "strm_sessions" ->
      """WITH l AS (
        |  SELECT user_id, ts, event_id,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pts
        |  FROM events),
        |f AS (SELECT *,
        |  CASE WHEN pts IS NULL OR epoch_us(ts) - epoch_us(pts) > 21600000000 THEN 1 ELSE 0 END AS brk
        |  FROM l),
        |s AS (SELECT *,
        |  SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                 ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM f),
        |g AS (SELECT user_id, sid, MIN(ts) AS session_start, MAX(ts) AS session_end,
        |        COUNT(*) AS n_events
        |      FROM s GROUP BY 1, 2)
        |SELECT user_id, session_start, session_end, n_events FROM g
        |WHERE sid < (SELECT MAX(sid) FROM g g2 WHERE g2.user_id = g.user_id)""".stripMargin,
    // watermark protocol replayed in SQL: batch b = event_id % 4 (the
    // staged slice order); the watermark IN EFFECT during batch b is the
    // max event time of batches <= b-2, floored to Spark's millisecond
    // watermark precision, minus the 2h delay (NULL = -inf). The TWO-batch
    // lag is Spark's measured micro-batch mechanics: batch b's watermark
    // is planned before batch b-1's event-time stats are folded into the
    // tracker, so stats take effect one batch later than they were seen
    // (verified empirically: the lag-1 oracle diverges, lag-2 matches
    // row-for-row at both SFs). A row is DROPPED when its 1h window's end
    // is not past that watermark (the window's state was already
    // evicted); a window is EMITTED (once, append mode) iff its end is at
    // or below the FINAL watermark — AvailableNow keeps running no-data
    // batches until the watermark stabilizes at global-max - delay. The
    // result is the aggregate of kept rows over emitted windows — Spark's
    // actual drop + eviction behavior, derived independently.
    "strm_watermark_drops" ->
      """WITH e AS (SELECT ts, event_type, value,
        |    CAST(event_id % 4 AS INT) AS b,
        |    date_trunc('hour', ts) + INTERVAL 1 HOUR AS wend
        |  FROM events),
        |bm AS (SELECT b, MAX(ts) AS bmax FROM e GROUP BY b),
        |wmk AS (SELECT b,
        |    date_trunc('milliseconds', MAX(bmax) OVER (ORDER BY b
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING))
        |      - INTERVAL 2 HOUR AS wm
        |  FROM bm),
        |fin AS (SELECT date_trunc('milliseconds', MAX(ts))
        |    - INTERVAL 2 HOUR AS wm_final FROM e),
        |kept AS (SELECT e.* FROM e JOIN wmk USING (b)
        |  WHERE wmk.wm IS NULL OR e.wend > wmk.wm)
        |SELECT date_trunc('hour', ts) AS hour_start, event_type,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM kept, fin
        |WHERE kept.wend <= fin.wm_final
        |GROUP BY 1, 2""".stripMargin,

    // exactly-once dedup: ids are unique at the source and every staged
    // redelivery lands inside the watermark horizon, so the deduped
    // stream must equal the source verbatim — any surviving duplicate or
    // lost row breaks the hash
    "strm_dedup" ->
      "SELECT event_id, ts, event_type, value FROM events",

    // stream-stream join: with no mid-replay eviction the complete
    // exactly-once result equals the plain relational range join
    "strm_stream_join" ->
      """SELECT p.event_id AS purchase_id, p.user_id AS user_id,
        |  p.ts AS purchase_ts, c.event_id AS click_id, c.ts AS click_ts
        |FROM events p JOIN events c ON c.user_id = p.user_id
        |  AND p.event_type = 'purchase' AND c.event_type = 'click'
        |  AND c.ts >= p.ts - INTERVAL 24 HOUR AND c.ts <= p.ts""".stripMargin,

    // y4m frame sampling re-walked byte-for-byte in SQL: newline scan at
    // byte-pair alignment finds the header, chr() reassembles it for the
    // W/H regex, every frame's FRAME\n marker is VERIFIED as hex
    // '4652414D450A' (an unverifiable frame yields no row — divergence
    // shows as a hash mismatch, not silence), and the sampled frames'
    // unsigned-byte sums are summed pair-by-pair from the hex image.
    // Fixed-bound generate_series + j < bound filters (DuckDB disallows
    // correlated table-function parameters); caps 63/255 dominate the
    // fixture's nf ≤ 7 and frame size ≤ 150.
    "mm_frame_sample" ->
      s"""WITH v AS (SELECT doc_id, hex(media) AS h,
         |    CAST(octet_length(media) AS BIGINT) AS n
         |  FROM read_parquet('${MediaPipeline.MediaRoot}/video.parquet/*.parquet')),
         |hl AS (SELECT doc_id, h, n,
         |    (SELECT MIN(j) FROM generate_series(0, 63) AS g(j)
         |     WHERE substr(h, 2*j + 1, 2) = '0A') AS nl
         |  FROM v),
         |hdr AS (SELECT doc_id, h, n, nl,
         |    (SELECT string_agg(chr(CAST('0x' || substr(h, 2*j + 1, 2) AS INT)), ''
         |                       ORDER BY j)
         |     FROM generate_series(0, 63) AS g(j) WHERE j < nl) AS header
         |  FROM hl WHERE nl IS NOT NULL),
         |dims AS (SELECT doc_id, h, n, nl,
         |    CAST(regexp_extract(header, 'YUV4MPEG2 W(\\d+) H(\\d+)', 1) AS INT) AS width,
         |    CAST(regexp_extract(header, 'YUV4MPEG2 W(\\d+) H(\\d+)', 2) AS INT) AS height
         |  FROM hdr WHERE header LIKE 'YUV4MPEG2 %'),
         |geo AS (SELECT doc_id, h, nl, width, height,
         |    width * height * 3 // 2 AS fs,
         |    6 + width * height * 3 // 2 AS stride,
         |    CAST((n - nl - 1) // (6 + width * height * 3 // 2) AS INT) AS nf
         |  FROM dims WHERE width > 0 AND height > 0),
         |frames AS (SELECT doc_id, h, width, height, nf, fs,
         |    g.f AS frame_idx, nl + 1 + g.f * stride + 6 AS base
         |  FROM geo JOIN generate_series(0, 63) AS g(f) ON g.f < nf
         |  WHERE substr(h, 2*(nl + 1 + g.f * stride) + 1, 12) = '4652414D450A')
         |SELECT doc_id, width, height, nf AS n_frames,
         |  CAST(frame_idx AS INT) AS frame_idx,
         |  CAST((SELECT SUM(CAST('0x' || substr(h, 2*(base + j) + 1, 2) AS INT))
         |        FROM generate_series(0, 255) AS g(j) WHERE j < fs) AS BIGINT) AS byte_sum
         |FROM frames WHERE frame_idx % 2 = 0""".stripMargin,

    // the oracle re-parses the fixture's BINARY payloads independently:
    // magic sniff, PNG IHDR BE32 dims, GIF LSD LE16 dims, WAV fmt/data
    // LE fields, and a recursive-CTE walk of the JPEG segment chain to
    // SOF — hex(media) + substring arithmetic, no engine code involved.
    // byte o (0-based) lives at hex position 2*o+1; BE fields concatenate
    // hex in place, LE fields concatenate bytes reversed.
    "mm_media_features" ->
      s"""WITH RECURSIVE m AS (
         |  SELECT doc_id, kind, hex(media) AS h,
         |         CAST(octet_length(media) AS BIGINT) AS n
         |  FROM read_parquet('${MediaPipeline.MediaRoot}/media.parquet/*.parquet')),
         |fmt AS (
         |  SELECT *, CASE
         |    WHEN substr(h, 1, 16) = '89504E470D0A1A0A' THEN 'png'
         |    WHEN substr(h, 1, 4) = 'FFD8' THEN 'jpeg'
         |    WHEN substr(h, 1, 8) = '47494638'
         |         AND substr(h, 9, 4) IN ('3961', '3761') THEN 'gif'
         |    WHEN substr(h, 1, 8) = '52494646'
         |         AND substr(h, 17, 8) = '57415645' THEN 'wav'
         |    ELSE 'blob' END AS format
         |  FROM m),
         |jw AS (
         |  SELECT doc_id, h, 2 AS o FROM fmt WHERE format = 'jpeg'
         |  UNION ALL
         |  SELECT doc_id, h, o + 2 + CAST('0x' || substr(h, 2*(o+2)+1, 4) AS INT)
         |  FROM jw
         |  WHERE substr(h, 2*o+1, 2) = 'FF' AND 2*o < length(h)
         |    AND substr(h, 2*(o+1)+1, 2) NOT IN
         |      ('C0','C1','C2','C3','C5','C6','C7','C9','CA','CB','CD','CE','CF','D9')),
         |jdim AS (
         |  SELECT doc_id,
         |    CAST('0x' || substr(h, 2*(o+7)+1, 4) AS INT) AS width,
         |    CAST('0x' || substr(h, 2*(o+5)+1, 4) AS INT) AS height
         |  FROM jw
         |  WHERE substr(h, 2*(o+1)+1, 2) IN
         |    ('C0','C1','C2','C3','C5','C6','C7','C9','CA','CB','CD','CE','CF'))
         |SELECT f.doc_id, f.kind, f.format, f.n AS n_bytes,
         |  CAST(CASE f.format
         |    WHEN 'png' THEN CAST('0x' || substr(f.h, 33, 8) AS BIGINT)
         |    WHEN 'jpeg' THEN jdim.width
         |    WHEN 'gif' THEN CAST('0x' || substr(f.h, 15, 2) || substr(f.h, 13, 2) AS INT)
         |    WHEN 'wav' THEN 0
         |    ELSE f.n % 640 END AS INT) AS width,
         |  CAST(CASE f.format
         |    WHEN 'png' THEN CAST('0x' || substr(f.h, 41, 8) AS BIGINT)
         |    WHEN 'jpeg' THEN jdim.height
         |    WHEN 'gif' THEN CAST('0x' || substr(f.h, 19, 2) || substr(f.h, 17, 2) AS INT)
         |    WHEN 'wav' THEN 0
         |    ELSE (f.n * 7) % 480 END AS INT) AS height,
         |  CAST(CASE f.format
         |    WHEN 'wav' THEN
         |      -- data-chunk byte size (LE32 at 40) over block align (LE16
         |      -- at 32) = sample-frame count; '//' is integer division
         |      CAST('0x' || substr(f.h, 87, 2) || substr(f.h, 85, 2) ||
         |           substr(f.h, 83, 2) || substr(f.h, 81, 2) AS BIGINT)
         |      // CAST('0x' || substr(f.h, 67, 2) || substr(f.h, 65, 2) AS BIGINT)
         |    WHEN 'blob' THEN f.n % 16
         |    ELSE 1 END AS INT) AS n_frames,
         |  CAST(CASE f.format WHEN 'wav' THEN
         |    CAST('0x' || substr(f.h, 55, 2) || substr(f.h, 53, 2) ||
         |         substr(f.h, 51, 2) || substr(f.h, 49, 2) AS BIGINT)
         |    ELSE 0 END AS INT) AS sample_rate,
         |  CAST(CASE f.format WHEN 'wav' THEN
         |    CAST('0x' || substr(f.h, 47, 2) || substr(f.h, 45, 2) AS INT)
         |    ELSE 0 END AS INT) AS channels
         |FROM fmt f LEFT JOIN jdim ON jdim.doc_id = f.doc_id""".stripMargin,

    // cdc_*: the oracle input is the truth event stream the query dumps to
    // TruthDir (see writeTruth) — read back via read_parquet, so DuckDB
    // re-derives final state / decode stats / per-bucket lineage with zero
    // engine code involved.
    "cdc_replay_state" -> ReplayStateSql,
    "cdc_stream_replay" -> ReplayStateSql,
    // rebucket mid-replay: identical truth fold — bucket layout is
    // physical only, so the oracle is byte-for-byte the replay oracle
    "cdc_rebucket" -> ReplayStateSql,
    // rename evolution: identical truth fold, lang under its current name
    "cdc_rename_evolution" ->
      s"""WITH w AS (SELECT *,
         |  ROW_NUMBER() OVER (PARTITION BY url ORDER BY warc_ts DESC, seq DESC) AS rn
         |  FROM read_parquet('$TruthGlob'))
         |SELECT url, warc_ts, lang AS language, md5(text) AS text_fp,
         |  fetch_status, content_len
         |FROM w WHERE rn = 1 AND op <> 'D'""".stripMargin,

    // the torn-tail replay folds ONLY the surviving stream prefix (see
    // TornCutSeq's scaladoc for the seq-expresses-position argument)
    "cdc_torn_tail" ->
      s"""WITH w AS (SELECT *,
         |  ROW_NUMBER() OVER (PARTITION BY url ORDER BY warc_ts DESC, seq DESC) AS rn
         |  FROM read_parquet('$TruthGlob') WHERE seq < $TornCutSeq)
         |SELECT url, warc_ts, lang, md5(text) AS text_fp, fetch_status, content_len
         |FROM w WHERE rn = 1 AND op <> 'D'""".stripMargin,
    // merge-on-read replay must reconstruct the SAME final state
    "cdc_mor_replay" -> ReplayStateSql,
    // deletion-vector replay: NOT the truth fold — DuckDB re-applies the
    // positional-delete contract to the engine's own on-disk files (base
    // rows keyed by (basename, file_row_number), vector files anti-joined,
    // tombstones dropped); a single mis-recorded or mis-applied position
    // breaks the hash
    "cdc_dv_replay" ->
      s"""WITH base AS (
         |  SELECT url, warc_ts, lang, text, fetch_status, content_len, _deleted,
         |         regexp_extract(filename, '[^/]+$$') AS fname,
         |         file_row_number AS pos
         |  FROM read_parquet('$DvRoot/table/data/s????????-b*.parquet',
         |                    union_by_name=true, filename=true,
         |                    file_row_number=true)),
         |dv AS (SELECT _dfname, _dpos
         |       FROM read_parquet('$DvRoot/table/data/s????????-dv-b*.parquet'))
         |SELECT url,
         |  -- engine files carry TIMESTAMP_MICROS adjusted-to-UTC (DuckDB:
         |  -- TIMESTAMPTZ); strip to naive UTC to match the Spark dump
         |  warc_ts AT TIME ZONE 'UTC' AS warc_ts,
         |  lang, md5(text) AS text_fp, fetch_status, content_len
         |FROM base b
         |WHERE NOT _deleted
         |  AND NOT EXISTS (SELECT 1 FROM dv WHERE _dfname = b.fname AND _dpos = b.pos)""".stripMargin,
    "cdc_decode_stats" ->
      s"""SELECT op, schema_version, COUNT(*) AS n, MIN(seq) AS min_seq,
         |  MAX(seq) AS max_seq, COUNT(DISTINCT url) AS n_urls
         |FROM read_parquet('$TruthGlob') GROUP BY 1, 2""".stripMargin,

    // metadata tables: DuckDB independently parses the committed snapshot
    // JSON (the manifest LIST) and the per-bucket manifest files it names
    // (read_json_auto over both), traversing the same two-level
    // sharded-manifest contract the engine reads — and must reproduce the
    // engine's files / snapshots relations field-for-field
    "cdc_meta_files" ->
      s"""WITH snaps AS (
         |  SELECT * FROM read_json_auto('$MetaRoot/table/snapshots/v*.json',
         |                               union_by_name=true)),
         |cur AS (SELECT * FROM snaps
         |        WHERE version = (SELECT max(version) FROM snaps)),
         |refs AS (SELECT unnest(manifests, recursive := true) FROM cur),
         |mans AS (
         |  SELECT * FROM read_json_auto('$MetaRoot/table/manifests/m-*.json',
         |                               filename=true, union_by_name=true)),
         |live AS (SELECT m.* FROM mans m
         |         JOIN refs r ON ends_with(m.filename, r.path)),
         |d AS (SELECT unnest(files, recursive := true) FROM live),
         |del AS (SELECT unnest(deleteFiles, recursive := true) FROM live)
         |SELECT 'data' AS kind, path, CAST(bucket AS BIGINT) AS bucket,
         |  "rows", sizeBytes AS size_bytes, addedVersion AS added_version,
         |  tsMinMicros AS ts_min_micros, tsMaxMicros AS ts_max_micros
         |FROM d
         |UNION ALL
         |SELECT 'delete', path, CAST(bucket AS BIGINT), "rows", sizeBytes,
         |  addedVersion, NULL, NULL
         |FROM del""".stripMargin,
    "cdc_meta_snapshots" ->
      s"""WITH snaps AS (
         |  SELECT * FROM read_json_auto('$MetaRoot/table/snapshots/v*.json',
         |                               union_by_name=true)),
         |refs AS (SELECT version AS sv,
         |                unnest(manifests, recursive := true) FROM snaps),
         |mans AS (
         |  SELECT filename,
         |    CAST(len(coalesce(files, [])) AS BIGINT) AS nf,
         |    CAST(coalesce(list_sum(list_transform(files, f -> f."rows")), 0)
         |         AS BIGINT) AS dr,
         |    CAST(len(coalesce(deleteFiles, [])) AS BIGINT) AS nd,
         |    CAST(coalesce(list_sum(list_transform(deleteFiles, f -> f."rows")), 0)
         |         AS BIGINT) AS delr
         |  FROM read_json_auto('$MetaRoot/table/manifests/m-*.json',
         |                      filename=true, union_by_name=true)),
         |per AS (SELECT sv, sum(nf) AS nf, sum(dr) AS dr,
         |               sum(nd) AS nd, sum(delr) AS delr
         |        FROM refs JOIN mans ON ends_with(mans.filename, refs.path)
         |        GROUP BY sv)
         |SELECT s.version, s.batchId AS batch_id,
         |  s.parentVersion AS parent_version,
         |  s.watermarkSegment AS watermark_segment,
         |  CAST(s.numBuckets AS BIGINT) AS num_buckets,
         |  CAST(coalesce(per.nf, 0) AS BIGINT) AS n_data_files,
         |  CAST(coalesce(per.dr, 0) AS BIGINT) AS data_rows,
         |  CAST(coalesce(per.nd, 0) AS BIGINT) AS n_delete_files,
         |  CAST(coalesce(per.delr, 0) AS BIGINT) AS delete_rows,
         |  coalesce(s.metrics.strategy, '') AS strategy
         |FROM snaps s LEFT JOIN per ON per.sv = s.version""".stripMargin,
    // schema-evolution audit trail: DuckDB parses each committed
    // snapshot's serialized schemaJson (a JSON string inside the snapshot
    // JSON — json_transform re-parses it) and re-derives per version the
    // column count and the columns added vs the parent snapshot, so the
    // additive-evolution on-disk contract sits under the hash gate
    "cdc_schema_history" ->
      s"""WITH snaps AS (
         |  SELECT * FROM read_json_auto('$MetaRoot/table/snapshots/v*.json',
         |                               union_by_name=true)),
         |sch AS (SELECT version, batchId, parentVersion,
         |  list_transform(json_transform(schemaJson,
         |    '{"fields":[{"name":"VARCHAR"}]}').fields, f -> f.name) AS cols
         |  FROM snaps)
         |SELECT s.version, s.batchId AS batch_id,
         |  CAST(len(s.cols) AS BIGINT) AS n_columns,
         |  coalesce(array_to_string(list_sort(list_filter(s.cols,
         |    c -> NOT list_contains(coalesce(p.cols, []), c))), ','), '')
         |    AS added_columns
         |FROM sch s LEFT JOIN sch p ON s.parentVersion = p.version""".stripMargin,
    // time travel: the same LWW fold restricted to the truth prefix the
    // first commit covers (seq < V1CutSeq), pre-evolution column set only
    "cdc_time_travel" ->
      s"""WITH w AS (SELECT *,
         |  ROW_NUMBER() OVER (PARTITION BY url ORDER BY warc_ts DESC, seq DESC) AS rn
         |  FROM read_parquet('$TruthGlob') WHERE seq < $V1CutSeq)
         |SELECT url, warc_ts, lang, md5(text) AS text_fp
         |FROM w WHERE rn = 1 AND op <> 'D'""".stripMargin,

    // time slice: the full LWW fold filtered to the fixed 20-minute range —
    // the engine's manifest-planned readRange must see exactly the winners
    // whose warc_ts lands in the slice, no matter which files it pruned
    "cdc_time_slice" ->
      s"""WITH w AS (SELECT *,
         |  ROW_NUMBER() OVER (PARTITION BY url ORDER BY warc_ts DESC, seq DESC) AS rn
         |  FROM read_parquet('$TruthGlob'))
         |SELECT url, warc_ts, lang, md5(text) AS text_fp
         |FROM w WHERE rn = 1 AND op <> 'D'
         |  AND warc_ts >= TIMESTAMP '2020-01-01 00:20:00'
         |  AND warc_ts < TIMESTAMP '2020-01-01 00:40:00'""".stripMargin,

    // z-order slice: the same LWW fold bounded on content_len (inclusive
    // both ends, exactly readColRange's residual filter) — the engine's
    // manifest-planned read over the Morton layout must see exactly these
    // winners no matter which files its per-column bounds pruned
    "cdc_zorder_slice" ->
      s"""WITH w AS (SELECT *,
         |  ROW_NUMBER() OVER (PARTITION BY url ORDER BY warc_ts DESC, seq DESC) AS rn
         |  FROM read_parquet('$TruthGlob'))
         |SELECT url, warc_ts, lang, md5(text) AS text_fp, content_len
         |FROM w WHERE rn = 1 AND op <> 'D'
         |  AND content_len BETWEEN 20000 AND 40000""".stripMargin,

    // changelog: DuckDB diffs its own prefix fold (seq < V1CutSeq) against
    // the full fold — I = not-visible-before/live-after, U = live in both
    // with a different winning seq, D = live-before/delete-winner-after.
    // Payload is the full-fold winner's, nulled for D exactly as the
    // engine's tombstone rows null it (warc_ts kept).
    "cdc_changelog" ->
      s"""WITH t AS (SELECT * FROM read_parquet('$TruthGlob')),
         |s1 AS (SELECT * FROM (SELECT *,
         |  ROW_NUMBER() OVER (PARTITION BY url ORDER BY warc_ts DESC, seq DESC) AS rn
         |  FROM t WHERE seq < $V1CutSeq) WHERE rn = 1),
         |s2 AS (SELECT * FROM (SELECT *,
         |  ROW_NUMBER() OVER (PARTITION BY url ORDER BY warc_ts DESC, seq DESC) AS rn
         |  FROM t) WHERE rn = 1),
         |j AS (SELECT s2.url AS url, s2.warc_ts AS warc_ts, s2.lang AS lang,
         |    s2.text AS text, s2.fetch_status AS fetch_status,
         |    s2.content_len AS content_len, s2.seq AS seq2, s1.seq AS seq1,
         |    (s1.url IS NOT NULL AND s1.op <> 'D') AS live1,
         |    (s2.op <> 'D') AS live2
         |  FROM s2 LEFT JOIN s1 ON s1.url = s2.url)
         |SELECT change_op, url, warc_ts, lang, text_fp, fetch_status, content_len
         |FROM (SELECT
         |    CASE WHEN NOT live1 AND live2 THEN 'I'
         |         WHEN live1 AND live2 AND seq2 <> seq1 THEN 'U'
         |         WHEN live1 AND NOT live2 THEN 'D' END AS change_op,
         |    url, warc_ts,
         |    CASE WHEN live2 THEN lang END AS lang,
         |    CASE WHEN live2 THEN md5(text) END AS text_fp,
         |    CASE WHEN live2 THEN fetch_status END AS fetch_status,
         |    CASE WHEN live2 THEN content_len END AS content_len
         |  FROM j) WHERE change_op IS NOT NULL""".stripMargin,

    // point lookup: the same LWW fold restricted to the fixed key set —
    // live winners only, exactly what the bucket-planned read must return
    "cdc_point_lookup" ->
      s"""WITH w AS (SELECT *,
         |  ROW_NUMBER() OVER (PARTITION BY url ORDER BY warc_ts DESC, seq DESC) AS rn
         |  FROM read_parquet('$TruthGlob') WHERE url IN ($sqlUrlList))
         |SELECT url, warc_ts, lang, md5(text) AS text_fp, fetch_status, content_len
         |FROM w WHERE rn = 1 AND op <> 'D'""".stripMargin,

    "cdc_lineage" ->
      s"""WITH w AS (SELECT *,
         |  ROW_NUMBER() OVER (PARTITION BY url ORDER BY warc_ts DESC, seq DESC) AS rn
         |  FROM read_parquet('$TruthGlob'))
         |SELECT bucket, COUNT(*) AS file_rows,
         |  CAST(SUM(CASE WHEN op <> 'D' THEN 1 ELSE 0 END) AS BIGINT) AS live_rows
         |FROM w WHERE rn = 1 GROUP BY bucket""".stripMargin,

    // per-domain rollup of the same LWW fold: host = 3rd '/'-segment of the
    // url (https://host/...), summed over live winners only
    "cdc_domain_stats" ->
      s"""WITH w AS (SELECT *,
         |  ROW_NUMBER() OVER (PARTITION BY url ORDER BY warc_ts DESC, seq DESC) AS rn
         |  FROM read_parquet('$TruthGlob'))
         |SELECT string_split(url, '/')[3] AS host, COUNT(*) AS n_pages,
         |  CAST(SUM(content_len) AS BIGINT) AS total_bytes,
         |  MAX(warc_ts) AS last_crawl
         |FROM w WHERE rn = 1 AND op <> 'D' GROUP BY 1""".stripMargin,

    // SCD2: the identical lead() fold over the truth stream — delete
    // events close intervals (lead computed before the op filter)
    "cdc_scd2" ->
      s"""WITH t AS (SELECT *,
         |  LEAD(warc_ts) OVER (PARTITION BY url ORDER BY warc_ts, seq) AS valid_to
         |  FROM read_parquet('$TruthGlob'))
         |SELECT url, seq AS version_seq, warc_ts AS valid_from, valid_to,
         |  (valid_to IS NULL) AS is_current, lang, md5(text) AS text_fp,
         |  fetch_status, content_len
         |FROM t WHERE op <> 'D'""".stripMargin,

    // as-of: DuckDB may materialize the (probe, earlier-event) pairs and
    // rank them — it is the oracle, not the scale path. Winner = greatest
    // (warc_ts, seq) at or before the probe; delete winners and
    // never-inserted urls keep the probe row with null state.
    "cdc_asof_state" ->
      s"""WITH t AS (SELECT * FROM read_parquet('$TruthGlob')),
         |pt AS (SELECT DISTINCT warc_ts AS probe_ts FROM t
         |       WHERE seq IN (${ProbeSeqs.mkString(", ")})),
         |p AS (SELECT u.url, pt.probe_ts
         |      FROM (SELECT DISTINCT url FROM t) u CROSS JOIN pt),
         |c AS (SELECT p.url, p.probe_ts, t.op, t.seq, t.lang,
         |        md5(t.text) AS text_fp, t.fetch_status, t.content_len,
         |        ROW_NUMBER() OVER (PARTITION BY p.url, p.probe_ts
         |          ORDER BY t.warc_ts DESC, t.seq DESC) AS rn
         |      FROM p JOIN t ON t.url = p.url AND t.warc_ts <= p.probe_ts),
         |w AS (SELECT * FROM c WHERE rn = 1)
         |SELECT p.url, p.probe_ts,
         |  CASE WHEN w.op <> 'D' THEN w.seq END AS state_seq,
         |  CASE WHEN w.op <> 'D' THEN w.lang END AS lang,
         |  CASE WHEN w.op <> 'D' THEN w.text_fp END AS text_fp,
         |  CASE WHEN w.op <> 'D' THEN w.fetch_status END AS fetch_status,
         |  CASE WHEN w.op <> 'D' THEN w.content_len END AS content_len
         |FROM p LEFT JOIN w ON w.url = p.url AND w.probe_ts = p.probe_ts""".stripMargin,

    // incremental MV: the oracle is the FULL recompute over the truth
    // stream's LWW fold — equality proves the engine's version-by-version
    // delta fold (changeDeltas pre/post-images) reconstructed it exactly.
    // COALESCE(content_len, 0) mirrors the engine's 0-fill (pre-evolution
    // rows have no content_len); SUM(BIGINT) is HUGEINT in DuckDB → cast.
    "cdc_incr_mview" ->
      s"""WITH w AS (SELECT *,
         |  ROW_NUMBER() OVER (PARTITION BY url ORDER BY warc_ts DESC, seq DESC) AS rn
         |  FROM read_parquet('$TruthGlob'))
         |SELECT string_split(url, '/')[3] AS host, COUNT(*) AS n_pages,
         |  CAST(SUM(COALESCE(content_len, 0)) AS BIGINT) AS total_bytes
         |FROM w WHERE rn = 1 AND op <> 'D' GROUP BY 1""".stripMargin,

    // the streaming-maintained MV must land on the identical full
    // recompute — shared oracle with the batch incremental form
    "cdc_stream_mview" ->
      s"""WITH w AS (SELECT *,
         |  ROW_NUMBER() OVER (PARTITION BY url ORDER BY warc_ts DESC, seq DESC) AS rn
         |  FROM read_parquet('$TruthGlob'))
         |SELECT string_split(url, '/')[3] AS host, COUNT(*) AS n_pages,
         |  CAST(SUM(COALESCE(content_len, 0)) AS BIGINT) AS total_bytes
         |FROM w WHERE rn = 1 AND op <> 'D' GROUP BY 1""".stripMargin
  )
}
