package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.feed.{FeedGen, FeedSpec}
import graft.ingest.CdcIngest
import graft.ingest.CdcIngest.IngestConfig
import graft.lake.LakeTable

/** Merge-on-read trickle commits (Iceberg v2 equality-delete analog):
  * changed-rows-only writes whose delta data files are also the commit's
  * equality-delete entries (same path, bucket and rows — so `filesDf` may
  * list one path as both `data` and `delete`), delete-aware reads through
  * every reader built on readRaw, compaction folding the deltas, and the
  * write-amplification bound that motivates the whole feature. */
class MergeOnReadSpec extends SparkTestBase {

  /** Heavy-churn feed: many updates/deletes per url, so MoR deltas stack. */
  private val spec = FeedSpec(seed = 33L, numEvents = 3000, numUrls = 300,
    eventsPerSegment = 500)

  private def replay(spec: FeedSpec, mor: Boolean, buckets: Int = 8): LakeTable = {
    val feed = tmpDir("morfeed")
    FeedGen.writeSegments(spec, feed)
    val table = LakeTable.create(tmpDir("mortbl"), CdcIngest.PagesSchemaV1, buckets)
    CdcIngest.run(spark, table, feed,
      IngestConfig(numBuckets = buckets, segmentsPerBatch = 1, mergeOnRead = mor))
    table
  }

  private def state(table: LakeTable): Set[(String, java.sql.Timestamp, String, String)] =
    table.read(spark).select("url", "warc_ts", "text", "lang").collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getString(2), r.getString(3))).toSet

  test("MoR replay equals the serial oracle; deltas from multiple commits stack") {
    val table = replay(spec, mor = true)
    val snap = table.currentSnapshot()
    assert(snap.deleteFiles.nonEmpty, "trickle commits must leave equality-delete files")
    assert(snap.metrics("strategy") == "mor")
    assert(snap.deleteFiles.map(_.addedVersion).distinct.size >= 2,
      "delete files from several MoR commits should coexist in the manifest")
    // base files from the first (bulk) load are still referenced untouched
    assert(snap.files.map(_.addedVersion).distinct.size >= 3)
    val expected = FeedGen.expectedState(FeedGen.events(spec))
    assert(state(table) == expected.values.map(e => (e.url, e.warcTs, e.text, e.lang)).toSet)
    // and it matches the rewrite replay of the same feed row-for-row
    assert(state(table) == state(replay(spec, mor = false)))
  }

  test("MoR writes are batch-bounded, never bucket-bounded") {
    // mostly-insert feed so the base grows much larger than any one batch
    val big = FeedSpec(seed = 34L, numEvents = 3000, numUrls = 2500,
      eventsPerSegment = 500)
    val table = replay(big, mor = true)
    val last = table.currentSnapshot()
    val addedRows = last.files.filter(_.addedVersion == last.version).map(_.rows).sum
    val delRows = last.deleteFiles.filter(_.addedVersion == last.version).map(_.rows).sum
    assert(addedRows > 0 && addedRows <= big.eventsPerSegment,
      s"MoR commit wrote $addedRows rows for a ${big.eventsPerSegment}-event batch")
    assert(delRows == addedRows, "every changed row ships exactly one delete key")
    val total = table.read(spark).count()
    assert(total > 3L * addedRows,
      s"table ($total rows) should dwarf the MoR write ($addedRows rows) — " +
        "a rewrite would have rewritten every touched bucket")
  }

  test("compaction folds the deltas mid-replay; later MoR batches re-stack cleanly") {
    val feed = tmpDir("morfold")
    FeedGen.writeSegments(spec, feed)
    val table = LakeTable.create(tmpDir("morfoldtbl"), CdcIngest.PagesSchemaV1, 8)
    val cfg = IngestConfig(numBuckets = 8, segmentsPerBatch = 1, mergeOnRead = true)
    val (firstHalf, rest) = CdcIngest.listSegments(feed).splitAt(3)
    firstHalf.foreach(sg => CdcIngest.applyBatch(spark, table, Seq(sg), cfg))
    assert(table.currentSnapshot().deleteFiles.nonEmpty)
    val midState = state(table)
    CdcIngest.compact(spark, table)
    val folded = table.currentSnapshot()
    assert(folded.deleteFiles.isEmpty, "compaction must fold and drop delete files")
    assert(folded.files.forall(_.addedVersion == folded.version))
    assert(state(table) == midState, "fold must not change visible state")
    rest.foreach(sg => CdcIngest.applyBatch(spark, table, Seq(sg), cfg))
    assert(table.currentSnapshot().deleteFiles.nonEmpty, "post-fold MoR re-stacks")
    val expected = FeedGen.expectedState(FeedGen.events(spec))
    assert(state(table) == expected.values.map(e => (e.url, e.warcTs, e.text, e.lang)).toSet)
  }

  test("metadata tables mirror the manifest: files entries and commit history") {
    val table = replay(spec, mor = true)
    val snap = table.currentSnapshot()
    // files: one row per manifest entry, data + delete, field-for-field
    val rows = table.filesDf(spark).collect()
    assert(rows.length == snap.files.size + snap.deleteFiles.size)
    // keyed by (kind, path): a MoR delta path is both a data and a delete row
    val byPath = rows.map(r => (r.getString(0), r.getString(1)) -> r).toMap
    snap.files.foreach { f =>
      val r = byPath(("data", f.path))
      assert(r.getString(0) == "data" && r.getLong(2) == f.bucket &&
        r.getLong(3) == f.rows && r.getLong(5) == f.addedVersion)
      assert(Option(r.get(6)).map(_.asInstanceOf[Long]) == f.tsMinMicros)
    }
    snap.deleteFiles.foreach { d =>
      val r = byPath(("delete", d.path))
      assert(r.getString(0) == "delete" && r.getLong(3) == d.rows &&
        r.getLong(5) == d.addedVersion && r.isNullAt(6))
    }
    // history: create, bulk first load, then mor trickle commits
    val hist = table.snapshotsDf(spark).orderBy("version").collect()
    assert(hist.map(_.getLong(0)).toSeq == table.listVersions().sorted)
    assert(hist.map(_.getString(9)).toSeq.drop(1) ==
      "bulk" +: Seq.fill(hist.length - 2)("mor"))
    assert(hist.last.getLong(8) ==  snap.deleteFiles.map(_.rows).sum)
  }

  test("a MoR commit's delete entries are its own delta files; maintenance leaves no debris") {
    val feed = tmpDir("morcontract")
    FeedGen.writeSegments(spec, feed)
    val table = LakeTable.create(tmpDir("morcontracttbl"), CdcIngest.PagesSchemaV1, 8)
    val cfg = IngestConfig(numBuckets = 8, segmentsPerBatch = 1, mergeOnRead = true)
    def debris(): Seq[String] = {
      val st = java.nio.file.Files.walk(table.root)
      try st.iterator().asScala.map(p => table.root.relativize(p).toString)
        .filter(rel => rel.contains("-del-") || rel.split('/').exists(_.startsWith(".tmp-")))
        .toSeq
      finally st.close()
    }
    val morCommits = CdcIngest.listSegments(feed).map { sg =>
      val snap = CdcIngest.applyBatch(spark, table, Seq(sg), cfg)
      assert(debris().isEmpty, s"v${snap.version} left side files behind")
      val isMor = snap.metrics("strategy") == "mor"
      if (isMor) {
        val newData = snap.files.filter(_.addedVersion == snap.version)
          .map(f => (f.path, f.bucket, f.rows))
        val newDels = snap.deleteFiles.filter(_.addedVersion == snap.version)
          .map(d => (d.path, d.bucket, d.rows))
        assert(newData.nonEmpty && newDels.sorted == newData.sorted,
          s"v${snap.version}: delete entries must be exactly the new data files")
      }
      isMor
    }.count(identity)
    assert(morCommits >= 2)
    CdcIngest.compact(spark, table)
    table.expireSnapshots(1)
    // gc has nothing to sweep: expiry removed every path it unreferenced
    assert(table.orphanFiles().isEmpty && table.orphanManifests().isEmpty)
    val live = table.currentSnapshot()
    (live.files.map(_.path) ++ live.deleteFiles.map(_.path)).foreach(p =>
      assert(java.nio.file.Files.exists(table.root.resolve(p)), s"live $p is gone"))
    assert(debris().isEmpty)
    val expected = FeedGen.expectedState(FeedGen.events(spec))
    assert(state(table) == expected.values.map(e => (e.url, e.warcTs, e.text, e.lang)).toSet)
  }

  test("streaming front-end replays MoR trickle commits to the serial oracle") {
    // the resumed-tail shape MoR exists for: a base load, then new WAL
    // segments landing between drains — each wave must commit changed rows
    // + delete keys instead of rewriting its touched buckets (same seed +
    // growing numEvents → identical segment prefix, so each run's listing
    // sees only a contiguous tail of new segments)
    val feed = tmpDir("morstreamfeed")
    val table = LakeTable.create(tmpDir("morstreamtbl"), CdcIngest.PagesSchemaV1, 8)
    val cfg = IngestConfig(numBuckets = 8, mergeOnRead = true)
    val ckpt = tmpDir("morstreamckpt")
    Seq(500, 1500, 3000).foreach { n =>
      FeedGen.writeSegments(spec.copy(numEvents = n), feed)
      graft.ingest.StreamingIngest.run(spark, table, feed, cfg,
        checkpointDir = Some(ckpt))
    }
    val snap = table.currentSnapshot()
    assert(snap.deleteFiles.nonEmpty, "streamed trickle commits must be MoR")
    assert(snap.metrics("strategy") == "mor")
    assert(snap.deleteFiles.map(_.addedVersion).distinct.size >= 2,
      "each streamed wave should stack its own delete files")
    val expected = FeedGen.expectedState(FeedGen.events(spec))
    assert(state(table) == expected.values.map(e => (e.url, e.warcTs, e.text, e.lang)).toSet)
  }

  test("lookup, time travel and time-slice reads are delete-aware") {
    val table = replay(spec, mor = true)
    val expected = FeedGen.expectedState(FeedGen.events(spec))
    // point lookup through stacked deltas
    val keys = expected.keys.toSeq.sorted.take(4)
    val got = table.lookup(spark, keys).select("url", "text").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == keys.map(u => (u, expected(u).text)).toSet)
    // time travel to a mid-replay MoR version: prefix serial oracle
    // (segmentsPerBatch = 1 → version v has applied segments 0..v-1)
    val v = 4L
    val prefix = FeedGen.expectedState(
      FeedGen.events(spec).take(4 * spec.eventsPerSegment))
    val gotV = table.readAsOf(spark, v).select("url", "warc_ts", "text").collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getString(2))).toSet
    assert(gotV == prefix.values.map(e => (e.url, e.warcTs, e.text)).toSet)
    // zone-map range read applies deletes too: equality vs full-scan filter
    val lo = (FeedGen.BaseEpochMillis + 500L * 1000L) * 1000L
    val hi = (FeedGen.BaseEpochMillis + 2500L * 1000L) * 1000L
    def inst(us: Long) = java.time.Instant.ofEpochSecond(us / 1000000L, us % 1000000L * 1000L)
    val ranged = table.readRange(spark, lo, hi)
      .select("url", "warc_ts").collect().map(r => (r.getString(0), r.getTimestamp(1))).toSet
    val full = table.read(spark)
      .filter(col("warc_ts") >= lit(inst(lo)) && col("warc_ts") <= lit(inst(hi)))
      .select("url", "warc_ts").collect().map(r => (r.getString(0), r.getTimestamp(1))).toSet
    assert(ranged == full && ranged.nonEmpty)
  }
}
