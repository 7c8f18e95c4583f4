package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.feed.{FeedGen, FeedSpec}
import graft.ingest.CdcIngest
import graft.ingest.CdcIngest.IngestConfig
import graft.lake.LakeTable
import graft.model.ChangeEvent

/** End-to-end replay correctness vs the serial oracle (SURVEY.md §5 item 2),
  * exactly-once (item 3) and schema evolution (item 4). */
class IngestSpec extends SparkTestBase {

  private def mkTable(buckets: Int = 8): LakeTable =
    LakeTable.create(tmpDir("laketbl"), CdcIngest.PagesSchemaV1, buckets)

  private def mkFeed(spec: FeedSpec): String = {
    val dir = tmpDir("feed")
    FeedGen.writeSegments(spec, dir)
    dir
  }

  /** Assert engine final state == serial oracle, row-for-row, with the
    * byte-identical-text invariant (full-outer-join classification per
    * data_validator.py:292-337 replaced by exceptAll both ways). */
  private def assertMatchesOracle(table: LakeTable, spec: FeedSpec): Unit = {
    import spark.implicits._
    val expected = FeedGen.expectedState(FeedGen.events(spec))
    val exp = expected.values.toSeq
      .map(e => (e.url, e.warcTs, e.html, e.text, e.lang))
      .toDF("url", "warc_ts", "html", "text", "lang")
    val got = table.read(spark).select("url", "warc_ts", "html", "text", "lang")
    assert(got.count() == expected.size, "live row count mismatch")
    assert(got.exceptAll(exp).isEmpty, "engine rows not in oracle")
    assert(exp.exceptAll(got).isEmpty, "oracle rows not in engine")
    // byte-identical text invariant, checked on UTF-8 bytes explicitly
    val gotBytes = got.select(col("url"), encode(col("text"), "UTF-8").as("tb"))
      .as[(String, Array[Byte])].collect().toMap
    expected.foreach { case (url, e) =>
      assert(java.util.Arrays.equals(gotBytes(url),
        if (e.text == null) null else e.text.getBytes("UTF-8")),
        s"text bytes differ for $url")
    }
  }

  test("e2e: replay matches serial oracle (dups, deletes, late, skew)") {
    val spec = FeedSpec(seed = 7L, numEvents = 6000, numUrls = 500,
      eventsPerSegment = 500, hotDomainWeight = 0.6)
    val table = mkTable()
    val feed = mkFeed(spec)
    val snaps = CdcIngest.run(spark, table, feed, IngestConfig(numBuckets = 8, segmentsPerBatch = 3))
    assert(snaps.size == 4) // 12 segments / 3 per batch
    assertMatchesOracle(table, spec)
  }

  test("e2e: 150-segment bulk batch (bounded driver-side hint scan) matches oracle") {
    // exercises the grouped (64-way) segment-header scan across multiple
    // groups plus the key-pass parallelism floor on a wide shallow feed —
    // the shape of a 100k-segment backfill, scaled down
    val spec = FeedSpec(seed = 11L, numEvents = 15000, numUrls = 1500,
      eventsPerSegment = 100, evolveAtEvent = 7500)
    val table = mkTable()
    val feed = mkFeed(spec)
    val snaps = CdcIngest.run(spark, table, feed,
      IngestConfig(numBuckets = 8, segmentsPerBatch = 500))
    assert(snaps.size == 1, "expected ONE bulk batch over all 150 segments")
    assertMatchesOracle(table, spec)
  }

  test("e2e: batch size does not change the result (1 seg/batch vs all-at-once)") {
    val spec = FeedSpec(seed = 11L, numEvents = 3000, numUrls = 300, eventsPerSegment = 300)
    val t1 = mkTable(); val t2 = mkTable()
    val feed = mkFeed(spec)
    CdcIngest.run(spark, t1, feed, IngestConfig(numBuckets = 8, segmentsPerBatch = 1))
    CdcIngest.run(spark, t2, feed, IngestConfig(numBuckets = 8, segmentsPerBatch = 100))
    val a = t1.read(spark); val b = t2.read(spark)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    assertMatchesOracle(t1, spec)
  }

  test("exactly-once: re-running ingest after completion is a no-op") {
    val spec = FeedSpec(seed = 3L, numEvents = 1000, numUrls = 100, eventsPerSegment = 250)
    val table = mkTable()
    val feed = mkFeed(spec)
    CdcIngest.run(spark, table, feed, IngestConfig(numBuckets = 8, segmentsPerBatch = 2))
    val v1 = table.currentSnapshot().version
    val again = CdcIngest.run(spark, table, feed, IngestConfig(numBuckets = 8, segmentsPerBatch = 2))
    assert(again.isEmpty, "no pending segments → no new snapshots")
    assert(table.currentSnapshot().version == v1)
    assertMatchesOracle(table, spec)
  }

  test("listSegments goes through the Hadoop FS API: file: URI lists like a bare path") {
    val spec = FeedSpec(seed = 23L, numEvents = 1000, numUrls = 100, eventsPerSegment = 250)
    val feed = mkFeed(spec)
    val bare = CdcIngest.listSegments(feed)
    val uri = CdcIngest.listSegments(s"file:$feed")
    assert(bare.nonEmpty, "bare-path listing must see the feed")
    assert(uri.map(_._1) == bare.map(_._1),
      "a file: scheme URI must list the same segments as the bare path " +
        "(the java.nio lister silently saw an empty feed for any URI scheme)")
    assert(CdcIngest.listSegments(s"file:$feed-nonexistent").isEmpty)
    // and the batch driver loop ingests through the URI form end-to-end
    val table = mkTable()
    CdcIngest.run(spark, table, s"file:$feed",
      IngestConfig(numBuckets = 8, segmentsPerBatch = 2))
    assertMatchesOracle(table, spec)
  }

  test("exactly-once: crash between data write and commit, then resume") {
    val spec = FeedSpec(seed = 5L, numEvents = 2000, numUrls = 200, eventsPerSegment = 500)
    val table = mkTable()
    val feed = mkFeed(spec)
    val segs = CdcIngest.listSegments(feed)
    val cfg = IngestConfig(numBuckets = 8, segmentsPerBatch = 2)
    CdcIngest.applyBatch(spark, table, segs.take(2), cfg)
    val committedV = table.currentSnapshot().version
    // crash mid-batch 2: data files written, snapshot NOT committed
    intercept[CdcIngest.CrashInjected] {
      CdcIngest.applyBatch(spark, table, segs.slice(2, 4), cfg, crashBeforeCommit = true)
    }
    assert(table.currentSnapshot().version == committedV, "torn batch must be invisible")
    assert(table.orphanFiles().nonEmpty, "crash leaves orphan data files only")
    // resume from checkpoint — run() picks up from the watermark
    CdcIngest.run(spark, table, feed, cfg)
    assertMatchesOracle(table, spec)
  }

  test("schema evolution: v2 columns appear mid-stream, old rows null-filled") {
    import spark.implicits._
    val spec = FeedSpec(seed = 13L, numEvents = 2000, numUrls = 400,
      eventsPerSegment = 500, evolveAtEvent = 1000, deleteRatio = 0.0, lateRatio = 0.0)
    val table = mkTable()
    val feed = mkFeed(spec)
    CdcIngest.run(spark, table, feed, IngestConfig(numBuckets = 8, segmentsPerBatch = 1))
    val snap = table.currentSnapshot()
    assert(snap.schema.fieldNames.toSet ==
      Set("url", "warc_ts", "html", "text", "lang", "fetch_status", "content_len"))
    val df = table.read(spark)
    val expected = FeedGen.expectedState(FeedGen.events(spec))
    // winners from the v1 era → null evolved cols; v2 era → exact values
    val gotExtra = df.select($"url", $"fetch_status".cast("string"), $"content_len".cast("string"))
      .as[(String, String, String)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    expected.foreach { case (url, e) =>
      val (fs, cl) = gotExtra(url)
      if (e.schemaVersion >= 2) {
        assert(fs == e.fetch_status.get.toString, s"fetch_status for $url")
        assert(cl == e.content_len.get.toString, s"content_len for $url")
      } else {
        assert(fs == null && cl == null, s"v1-era row for $url must have null evolved cols")
      }
    }
    assertMatchesOracle(table, spec)
  }

  test("bucket pruning: untouched buckets' files are carried, not rewritten") {
    val spec = FeedSpec(seed = 17L, numEvents = 2000, numUrls = 500, eventsPerSegment = 1000)
    val table = mkTable(buckets = 16)
    val feed = mkFeed(spec)
    val segs = CdcIngest.listSegments(feed)
    val cfg = IngestConfig(numBuckets = 16, segmentsPerBatch = 1)
    CdcIngest.applyBatch(spark, table, Seq(segs.head), cfg)
    val snap1 = table.currentSnapshot()
    val digest1 = snap1.files.map(f => f.path ->
      java.util.Arrays.hashCode(Files.readAllBytes(table.root.resolve(f.path)))).toMap
    // second batch touches a subset of buckets (same urls universe, so most
    // buckets are touched — craft a tiny targeted batch instead)
    val one = ChangeEvent("U", 999999L, FeedGen.urlOf(spec, 0),
      graft.codec.RecordCodec.microsToTimestamp(FeedGen.BaseEpochMillis * 1000L + 1L),
      Array[Byte](1), "tiny", "en", 1, None, None)
    val tinyDir = tmpDir("tinyseg")
    Files.write(Paths.get(tinyDir, "segment-000001.bin"),
      graft.codec.RecordCodec.frameSegment(Iterator(graft.codec.RecordCodec.encode(one))))
    CdcIngest.applyBatch(spark, table, Seq(1L -> s"$tinyDir/segment-000001.bin"), cfg)
    val snap2 = table.currentSnapshot()
    val touchedBucket = (0 until 16).find { b =>
      snap2.files.filter(_.bucket == b).map(_.path) != snap1.files.filter(_.bucket == b).map(_.path)
    }
    assert(touchedBucket.isDefined, "exactly one bucket should change")
    val untouched = snap2.files.filterNot(_.bucket == touchedBucket.get)
    untouched.foreach { f =>
      assert(digest1.contains(f.path), s"untouched file ${f.path} must be carried by reference")
      assert(digest1(f.path) ==
        java.util.Arrays.hashCode(Files.readAllBytes(table.root.resolve(f.path))),
        s"untouched file ${f.path} must be byte-identical")
    }
    assert(snap2.metrics("touchedBuckets") == 1L, "only one bucket touched")
  }

  test("seq filter: dense range uses a bitmap, sparse falls back to the hash set; both exact") {
    val rnd = new scala.util.Random(11)
    // dense: winners drawn from a contiguous range → bitmap
    val dense = Array.fill(5000)(rnd.nextInt(20000).toLong + 100).distinct
    val fDense = CdcIngest.seqFilterOf(Seq(dense), dense.length, 100L, 20099L)
    assert(fDense.isInstanceOf[CdcIngest.SeqRangeBits])
    // sparse: values spread over a huge range → hash set
    val sparse = Array.fill(500)(math.abs(rnd.nextLong()) / 2)
    val fSparse = CdcIngest.seqFilterOf(
      Seq(sparse), sparse.length, sparse.min, sparse.max)
    assert(fSparse.isInstanceOf[CdcIngest.LongSet])
    for (f <- Seq(fDense -> dense, fSparse -> sparse)) {
      val (filter, vals) = f
      vals.foreach(v => assert(filter.contains(v), s"missing $v"))
      val present = vals.toSet
      var miss = 0
      (0 until 10000).foreach { _ =>
        val probe = vals(rnd.nextInt(vals.length)) + rnd.nextInt(7) - 3
        if (!present.contains(probe)) { miss += 1; assert(!filter.contains(probe)) }
      }
      assert(miss > 0, "negative probes never exercised")
    }
  }

  test("dedup fallback (winner count over cap) matches the broadcast path") {
    val spec = FeedSpec(seed = 71L, numEvents = 3000, numUrls = 500,
      eventsPerSegment = 600, evolveAtEvent = 1500, duplicateRatio = 0.1)
    val paths = graft.feed.FeedGen.writeSegments(spec, tmpDir("ddfb")).map(_.toString)
    val (a, at, asv) = CdcIngest.dedupViaKeyBroadcast(spark, paths, 8)
    // cap of 1 forces the relational-join fallback; results must be equal
    val (b, bt, bsv) = CdcIngest.dedupViaKeyBroadcast(spark, paths, 8,
      maxCollectedKeys = 1)
    assert(asv == bsv && asv == 2,
      s"key-pass schema-version stat: broadcast=$asv fallback=$bsv (feed evolves to v2)")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "fallback winners differ from broadcast winners")
    assert((at._2, at._3) == (bt._2, bt._3), "seq ranges differ")
    assert(at._1 == bt._1, "event totals differ")
  }

  test("compaction: fewer files, identical content; tombstone GC by horizon") {
    import spark.implicits._
    val spec = FeedSpec(seed = 79L, numEvents = 2000, numUrls = 300,
      eventsPerSegment = 200, deleteRatio = 0.2)
    val feed = mkFeed(spec)
    val table = LakeTable.create(tmpDir("ctab"), CdcIngest.PagesSchemaV1, 8)
    // 1 segment per batch → 10 commits → many small files per bucket
    CdcIngest.run(spark, table, feed, IngestConfig(numBuckets = 8, segmentsPerBatch = 1))
    val before = table.currentSnapshot()
    // byte-array columns compare by reference in Row — hash them for set compare
    def content(): Set[org.apache.spark.sql.Row] = table.read(spark)
      .select(col("url"), col("warc_ts"), md5(col("html")).as("html_fp"),
        col("text"), col("lang"))
      .collect().toSet
    val contentBefore = content()
    val snap1 = CdcIngest.compact(spark, table)
    // the MERGE already rewrites whole buckets (1 file/bucket), so the
    // count stays ≤ numBuckets; compaction must never increase it
    assert(snap1.files.size <= 8, s"expected ≤1 file/bucket, got ${snap1.files.size}")
    assert(snap1.files.size <= before.files.size)
    assert(snap1.watermarkSegment == before.watermarkSegment)
    assert(content() == contentBefore, "content must not change")
    assertMatchesOracle(table, spec)
    // tombstones survive a plain compact…
    val physical = LakeTable.SeqCol
    def tombstones(): Long = spark.read
      .schema(table.physicalSchema(table.currentSnapshot()))
      .parquet(table.currentSnapshot().files.map(f =>
        table.root.resolve(f.path).toString): _*)
      .filter(col(LakeTable.DeletedCol)).count()
    val nTomb = tombstones()
    assert(nTomb > 0, "feed with deletes must leave tombstones")
    // …and are dropped by a horizon in the future of all data
    CdcIngest.compact(spark, table,
      tombstoneBefore = Some(java.sql.Timestamp.valueOf("2100-01-01 00:00:00")))
    assert(tombstones() == 0)
    assert(content() == contentBefore)
  }

  test("extreme skew: 99% of events on one domain still dedups correctly") {
    val spec = FeedSpec(seed = 23L, numEvents = 4000, numUrls = 200,
      hotDomainWeight = 0.99, eventsPerSegment = 1000)
    val table = mkTable()
    CdcIngest.run(spark, table, mkFeed(spec), IngestConfig(numBuckets = 8, saltBuckets = 8))
    assertMatchesOracle(table, spec)
  }

  test("mixed WAL formats: a v2 (CRC-less) and v3 feed replays to the oracle state") {
    import graft.codec.RecordCodec
    val spec = FeedSpec(seed = 53L, numEvents = 2000, numUrls = 200, eventsPerSegment = 500)
    val feed = tmpDir("mixfeed")
    // rewrite segments 0-1 in legacy format 2 (an old producer's files),
    // leave 2-3 as FeedGen wrote them (format 3, per-record CRC)
    FeedGen.writeSegments(spec, feed)
    FeedGen.events(spec).grouped(spec.eventsPerSegment).zipWithIndex
      .take(2).foreach { case (chunk, segId) =>
        val maxSv = chunk.iterator.map(_.schemaVersion).max
        Files.write(Paths.get(feed, f"segment-$segId%06d.bin"),
          RecordCodec.frameSegment(chunk.iterator.map(RecordCodec.encode),
            maxSv, withCrc = false))
      }
    val segs = (0 until 4).map(i => Paths.get(feed, f"segment-$i%06d.bin"))
    assert(!RecordCodec.segmentHasCrc(Files.readAllBytes(segs(0))))
    assert(RecordCodec.segmentHasCrc(Files.readAllBytes(segs(3))))
    val table = mkTable()
    CdcIngest.run(spark, table, feed, IngestConfig(numBuckets = 8, segmentsPerBatch = 2))
    assertMatchesOracle(table, spec)
  }

  test("corrupt winner record fails the batch before anything commits") {
    import graft.codec.RecordCodec
    // distinct-url inserts → every record is an LWW winner and passes the
    // integrity gate in the payload decode
    def inserts(host: String, seq0: Long) = (0 until 300).map { i =>
      ChangeEvent(ChangeEvent.OpInsert, seq0 + i, s"https://$host/p/$i",
        RecordCodec.microsToTimestamp(1577836800000000L + i * 1000000L),
        Array[Byte](1, 2), s"text $i", "en", RecordCodec.SchemaV1, None, None)
    }
    val feed = tmpDir("crfeed")
    val seg = RecordCodec.frameSegment(
      inserts("c.example.com", 0L).iterator.map(RecordCodec.encode))
    // flip a byte INSIDE record 100's free text — only the CRC can see this
    val (off, len) = RecordCodec.segmentOffsets(seg).drop(100).next()
    seg(off + len - 2) = (seg(off + len - 2) ^ 0x20).toByte
    Files.write(Paths.get(feed, "segment-000000.bin"), seg)
    val table = mkTable()
    val before = table.currentSnapshot().version
    val thrown = intercept[Throwable] {
      CdcIngest.run(spark, table, feed, IngestConfig(numBuckets = 8))
    }
    def hasCorrupt(t: Throwable): Boolean =
      t != null && (t.isInstanceOf[RecordCodec.CorruptRecordException] ||
        Option(t.getMessage).exists(_.contains("CRC mismatch")) ||
        hasCorrupt(t.getCause))
    assert(hasCorrupt(thrown), s"unexpected failure: $thrown")
    // fail-fast means fail-CLEAN: no snapshot advanced, nothing committed
    assert(table.currentSnapshot().version == before)
    assert(table.read(spark).count() == 0)

    // the same segment as a merge-on-read trickle batch onto a seeded table
    val morFeed = tmpDir("crmorfeed")
    Files.write(Paths.get(morFeed, "segment-000000.bin"), RecordCodec.frameSegment(
      inserts("s.example.com", 1000L).iterator.map(RecordCodec.encode)))
    val morConf = IngestConfig(numBuckets = 8, segmentsPerBatch = 1, mergeOnRead = true)
    val seeded = mkTable()
    CdcIngest.run(spark, seeded, morFeed, morConf)
    Files.write(Paths.get(morFeed, "segment-000001.bin"), seg)
    def tree(): Set[String] = {
      val st = Files.walk(seeded.root)
      try st.iterator().asScala.map(p => seeded.root.relativize(p).toString).toSet
      finally st.close()
    }
    val seededVersion = seeded.currentSnapshot().version
    val seededTree = tree()
    val morThrown = intercept[Throwable] {
      CdcIngest.run(spark, seeded, morFeed, morConf)
    }
    assert(hasCorrupt(morThrown), s"unexpected trickle failure: $morThrown")
    assert(seeded.currentSnapshot().version == seededVersion)
    assert(tree() == seededTree, "the failed trickle batch wrote files")
  }

  test("schema evolution: a v2 event that loses LWW widens the schema on every path") {
    import graft.codec.RecordCodec
    val t0 = 1577836800000000L
    // one url: its only v2 event is older than a v1 event, so v1 wins
    val batch = Seq(
      ChangeEvent(ChangeEvent.OpUpdate, 5000L, "https://e.example.com/evolved",
        RecordCodec.microsToTimestamp(t0), null, "v2 text", "en",
        RecordCodec.SchemaV2, Some(200), Some(1234L)),
      ChangeEvent(ChangeEvent.OpUpdate, 5001L, "https://e.example.com/evolved",
        RecordCodec.microsToTimestamp(t0 + 1000000L), null, "v1 text", "en",
        RecordCodec.SchemaV1, None, None))
    def segment(evs: Seq[ChangeEvent]): Array[Byte] = RecordCodec.frameSegment(
      evs.iterator.map(RecordCodec.encode), evs.map(_.schemaVersion).max)
    // bulk: the batch is the first load of an empty table
    val bulkFeed = tmpDir("evbulk")
    Files.write(Paths.get(bulkFeed, "segment-000000.bin"), segment(batch))
    val bulk = mkTable()
    val bulkSnap = CdcIngest.run(spark, bulk, bulkFeed, IngestConfig(numBuckets = 8)).last
    assert(bulkSnap.metrics("strategy") == "bulk")
    assert(bulkSnap.schema.fieldNames.contains("fetch_status"))
    // trickle: the same batch onto a seeded v1 table, rewrite and MoR
    val base = (0 until 2000).map { i =>
      ChangeEvent(ChangeEvent.OpInsert, i.toLong, s"https://b.example.com/p/$i",
        RecordCodec.microsToTimestamp(t0 + i), null, s"base text $i", "en",
        RecordCodec.SchemaV1, None, None)
    }
    for ((mor, strategy) <- Seq(false -> "pruned", true -> "mor")) {
      val feed = tmpDir("evtrickle")
      Files.write(Paths.get(feed, "segment-000000.bin"), segment(base))
      Files.write(Paths.get(feed, "segment-000001.bin"), segment(batch))
      val table = mkTable()
      val snap = CdcIngest.run(spark, table, feed,
        IngestConfig(numBuckets = 8, segmentsPerBatch = 1, mergeOnRead = mor)).last
      assert(snap.metrics("strategy") == strategy)
      assert(snap.schema == bulkSnap.schema, s"$strategy schema differs from bulk")
      val row = table.read(spark).filter(col("url") === "https://e.example.com/evolved")
        .select("text", "fetch_status").head()
      assert(row.getString(0) == "v1 text" && row.isNullAt(1))
    }
  }

  test("lineage + metrics metadata tables are populated and consistent") {
    val spec = FeedSpec(seed = 29L, numEvents = 2000, numUrls = 300, eventsPerSegment = 500)
    val table = mkTable()
    CdcIngest.run(spark, table, mkFeed(spec), IngestConfig(numBuckets = 8, segmentsPerBatch = 2))
    val lin = table.lineage(spark)
    val met = table.metrics(spark)
    assert(lin.count() > 0)
    assert(met.filter(col("batch_id") =!= "create")
      .agg(sum("events")).head.getLong(0) == spec.numEvents)
    // per-bucket lineage rows of the final snapshot sum to the table's raw row count
    val lastV = table.currentSnapshot().version
    val linLast = lin.filter(col("snapshot_version") === lastV)
    assert(linLast.count() > 0)
    // watermark resumability: metrics' last watermark == #segments - 1
    val wm = met.agg(max("watermark_segment")).head.getLong(0)
    assert(wm == (spec.numEvents / spec.eventsPerSegment) - 1)
  }
}
