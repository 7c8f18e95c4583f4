package graft

import graft.feed.{FeedGen, FeedSpec}
import graft.ingest.{CdcIngest, StreamingIngest}
import graft.ingest.CdcIngest.IngestConfig
import graft.lake.LakeTable

/** Structured Streaming foreachBatch MERGE front-end (north rule §2.10):
  * availableNow drain, micro-batch splitting, checkpointed resume. */
class StreamingIngestSpec extends SparkTestBase {

  private def oracleCount(spec: FeedSpec): Int =
    FeedGen.expectedState(FeedGen.events(spec)).size

  test("streaming availableNow drain matches the serial oracle") {
    val spec = FeedSpec(seed = 31L, numEvents = 3000, numUrls = 300,
      eventsPerSegment = 300, evolveAtEvent = 1500)
    val feed = tmpDir("sfeed")
    FeedGen.writeSegments(spec, feed)
    val table = LakeTable.create(tmpDir("stbl"), CdcIngest.PagesSchemaV1, 8)
    // maxFilesPerTrigger=3 forces several micro-batches within one drain
    val nBatches = StreamingIngest.run(spark, table, feed,
      IngestConfig(numBuckets = 8), maxFilesPerTrigger = Some(3))
    // micro-batch granularity under availableNow is source-internal and
    // varies with listing timing — correctness below is what's asserted
    assert(nBatches >= 1, s"expected at least one micro-batch, got $nBatches")
    assert(table.read(spark).count() == oracleCount(spec))
    assert(table.currentSnapshot().watermarkSegment == 9)
    assert(table.currentSnapshot().schema.fieldNames.contains("fetch_status"))
  }

  test("a trigger facing a backlog chunks it by segmentsPerBatch like the batch front-end") {
    val spec = FeedSpec(seed = 33L, numEvents = 2000, numUrls = 200,
      eventsPerSegment = 200, evolveAtEvent = -1) // 10 segments, all pending
    val feed = tmpDir("sfeed-chunk")
    FeedGen.writeSegments(spec, feed)
    val table = LakeTable.create(tmpDir("stbl-chunk"), CdcIngest.PagesSchemaV1, 8)
    // one availableNow drain over the whole 10-segment backlog with
    // segmentsPerBatch=3: the engine must commit ⌈10/3⌉ = 4 snapshots —
    // NOT one unbounded batch — so the config's batch-size bound holds
    // and the commit history matches CdcIngest.run's for the same config
    StreamingIngest.run(spark, table, feed,
      IngestConfig(numBuckets = 8, segmentsPerBatch = 3))
    val versions = table.listVersions().sorted
    assert(versions.size >= 5, // v0 create + 4 chunk commits
      s"backlog applied as too few commits: $versions")
    val watermarks = versions.map(v => table.readSnapshot(v).watermarkSegment)
    assert(watermarks.contains(2L) && watermarks.contains(5L) &&
      watermarks.contains(8L) && watermarks.contains(9L),
      s"chunk boundaries not at 3-segment strides: $watermarks")
    assert(table.read(spark).count() == oracleCount(spec))
  }

  test("continuous mview maintenance tracks the streamed table to its final version") {
    import org.apache.spark.sql.functions._
    import graft.lake.MaterializedView
    val spec = FeedSpec(seed = 41L, numEvents = 3000, numUrls = 300,
      eventsPerSegment = 300, evolveAtEvent = 1500)
    val feed = tmpDir("mvsfeed")
    FeedGen.writeSegments(spec, feed)
    val table = LakeTable.create(tmpDir("mvstbl"), CdcIngest.PagesSchemaV1, 8)
    val mv = tmpDir("mvsroot")
    // several micro-batches → the MV is seeded on the first and rolled
    // forward from change deltas on every later one
    StreamingIngest.run(spark, table, feed, IngestConfig(numBuckets = 8),
      maxFilesPerTrigger = Some(3), mviewRoot = Some(mv))
    assert(MaterializedView.appliedVersion(mv)
      .contains(table.currentSnapshot().version))
    val t = table.read(spark)
    val bytes = if (t.columns.contains("content_len"))
      coalesce(col("content_len"), lit(0L)) else lit(0L)
    val want = t.groupBy(element_at(split(col("url"), "/"), 3).as("host"))
      .agg(count(lit(1)).as("n_pages"), sum(bytes).as("total_bytes"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val got = MaterializedView.read(spark, mv)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want, "streamed MV diverges from full recompute of the final table")
  }

  test("checkpointed resume: second run applies only newly landed segments") {
    val small = FeedSpec(seed = 37L, numEvents = 1000, numUrls = 200, eventsPerSegment = 250)
    val big = small.copy(numEvents = 2000)
    val feed = tmpDir("sfeed2")
    FeedGen.writeSegments(small, feed)
    val table = LakeTable.create(tmpDir("stbl2"), CdcIngest.PagesSchemaV1, 8)
    val ckpt = tmpDir("sckpt")
    StreamingIngest.run(spark, table, feed, IngestConfig(numBuckets = 8),
      checkpointDir = Some(ckpt))
    val v1 = table.currentSnapshot().version
    assert(table.currentSnapshot().watermarkSegment == 3)
    // same seed, more events → identical first 4 segments + 4 new ones
    FeedGen.writeSegments(big, feed)
    StreamingIngest.run(spark, table, feed, IngestConfig(numBuckets = 8),
      checkpointDir = Some(ckpt))
    assert(table.currentSnapshot().watermarkSegment == 7)
    assert(table.currentSnapshot().version > v1)
    assert(table.read(spark).count() == oracleCount(big))
    // third run with nothing new: no state change
    val v2 = table.currentSnapshot().version
    StreamingIngest.run(spark, table, feed, IngestConfig(numBuckets = 8),
      checkpointDir = Some(ckpt))
    assert(table.currentSnapshot().version == v2)
  }

  test("out-of-order micro-batch delivery (reversed mtimes) loses nothing") {
    // FileStreamSource orders files by modification time — reversing the
    // mtimes makes it deliver segments in REVERSE id order across the
    // maxFilesPerTrigger=3 micro-batches. The listing-driven foreachBatch
    // must still apply everything exactly once, in order.
    import java.nio.file.{Files, Paths}
    import java.nio.file.attribute.FileTime
    val spec = FeedSpec(seed = 43L, numEvents = 3000, numUrls = 300,
      eventsPerSegment = 300, evolveAtEvent = 1500)
    val feed = tmpDir("sfeed4")
    val paths = FeedGen.writeSegments(spec, feed)
    paths.zipWithIndex.foreach { case (p, i) =>
      Files.setLastModifiedTime(p, FileTime.fromMillis(2_000_000_000_000L - i * 60_000L))
    }
    val table = LakeTable.create(tmpDir("stbl4"), CdcIngest.PagesSchemaV1, 8)
    StreamingIngest.run(spark, table, feed,
      IngestConfig(numBuckets = 8), maxFilesPerTrigger = Some(3))
    assert(table.read(spark).count() == oracleCount(spec))
    assert(table.currentSnapshot().watermarkSegment == 9)
  }

  test("segment landing late (hole on disk) is applied by a later run") {
    import java.nio.file.{Files, StandardCopyOption}
    val spec = FeedSpec(seed = 47L, numEvents = 1200, numUrls = 150, eventsPerSegment = 300)
    val feed = tmpDir("sfeed5")
    val paths = FeedGen.writeSegments(spec, feed) // segments 0..3
    val hole = paths(2)
    val aside = hole.resolveSibling("held-back.tmp")
    Files.move(hole, aside, StandardCopyOption.ATOMIC_MOVE)
    val table = LakeTable.create(tmpDir("stbl5"), CdcIngest.PagesSchemaV1, 8)
    StreamingIngest.run(spark, table, feed, IngestConfig(numBuckets = 8))
    // only the contiguous prefix {0,1} may be applied; 3 stays pending
    assert(table.currentSnapshot().watermarkSegment == 1)
    Files.move(aside, hole, StandardCopyOption.ATOMIC_MOVE)
    StreamingIngest.run(spark, table, feed, IngestConfig(numBuckets = 8))
    assert(table.currentSnapshot().watermarkSegment == 3)
    assert(table.read(spark).count() == oracleCount(spec))
  }

  test("applyBatch rejects a batch with an internal segment gap") {
    val spec = FeedSpec(seed = 53L, numEvents = 1200, numUrls = 150, eventsPerSegment = 300)
    val feed = tmpDir("sfeed6")
    val paths = FeedGen.writeSegments(spec, feed)
    val table = LakeTable.create(tmpDir("stbl6"), CdcIngest.PagesSchemaV1, 8)
    val gappy = Seq(0L, 1L, 3L).map(i => i -> paths(i.toInt).toString)
    val ex = intercept[IllegalArgumentException] {
      CdcIngest.applyBatch(spark, table, gappy, IngestConfig(numBuckets = 8))
    }
    assert(ex.getMessage.contains("gap inside batch"))
  }

  test("replayed micro-batch is a no-op thanks to the table watermark") {
    // simulate checkpoint loss: rerun the SAME feed with a fresh checkpoint;
    // Spark re-delivers all files, the lake watermark makes it idempotent
    val spec = FeedSpec(seed = 41L, numEvents = 1000, numUrls = 100, eventsPerSegment = 250)
    val feed = tmpDir("sfeed3")
    FeedGen.writeSegments(spec, feed)
    val table = LakeTable.create(tmpDir("stbl3"), CdcIngest.PagesSchemaV1, 8)
    StreamingIngest.run(spark, table, feed, IngestConfig(numBuckets = 8))
    val v1 = table.currentSnapshot().version
    StreamingIngest.run(spark, table, feed, IngestConfig(numBuckets = 8)) // fresh ckpt
    assert(table.currentSnapshot().version == v1, "re-delivery must not re-apply")
    assert(table.read(spark).count() == oracleCount(spec))
  }

  test("a run without a checkpoint dir deletes its own; a caller's dir stays") {
    import java.nio.file.{Files, Paths}
    val spec = FeedSpec(seed = 59L, numEvents = 600, numUrls = 100, eventsPerSegment = 300)
    val feed = tmpDir("sfeed7")
    FeedGen.writeSegments(spec, feed)
    val table = LakeTable.create(tmpDir("stbl7"), CdcIngest.PagesSchemaV1, 8)
    // the default checkpoint goes to /dev/shm, or the JVM temp dir without it
    def defaultCkpts(): Set[java.nio.file.Path] =
      Seq("/dev/shm", System.getProperty("java.io.tmpdir")).map(Paths.get(_))
        .filter(Files.isDirectory(_)).flatMap(LakeTable.listDir)
        .filter(_.getFileName.toString.startsWith("graft-stream-ckpt")).toSet
    val before = defaultCkpts()
    StreamingIngest.run(spark, table, feed, IngestConfig(numBuckets = 8))
    assert(table.currentSnapshot().watermarkSegment == 1)
    val left = defaultCkpts() -- before
    assert(left.isEmpty, s"default checkpoint dirs left behind: $left")
    val ckpt = tmpDir("sckpt7")
    FeedGen.writeSegments(spec.copy(numEvents = 900), feed)
    StreamingIngest.run(spark, table, feed, IngestConfig(numBuckets = 8),
      checkpointDir = Some(ckpt))
    assert(table.currentSnapshot().watermarkSegment == 2)
    assert(Files.isDirectory(Paths.get(ckpt, "offsets")),
      "a caller-supplied checkpoint must survive the run")
  }
}
