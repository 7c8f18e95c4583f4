package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.feed.{FeedGen, FeedSpec}
import graft.ingest.CdcIngest
import graft.ingest.CdcIngest.IngestConfig
import graft.lake.LakeTable

/** The one manifest-backed scan ([[LakeTable.scan]]) that every lake read
  * goes through: its file list is the manifest's, its `_av` column the
  * entry's `addedVersion`, and the parquet reader's `_metadata` columns,
  * null-filling, upcasting and column pruning work through it as through
  * a listed parquet read. */
class ManifestScanSpec extends SparkTestBase {

  private val aqe = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}

  /** A table with the first `segs` segments of `spec` applied one per
    * batch, and the feed dir. */
  private def replay(spec: FeedSpec, cfg: IngestConfig,
      segs: Int = Int.MaxValue): (LakeTable, String) = {
    val feed = tmpDir("msfeed")
    val paths = FeedGen.writeSegments(spec, feed)
    val table = LakeTable.create(tmpDir("mstbl"), CdcIngest.PagesSchemaV1, 8)
    paths.take(segs).zipWithIndex.foreach { case (p, i) =>
      CdcIngest.applyBatch(spark, table, Seq(i.toLong -> p.toString), cfg)
    }
    (table, feed)
  }

  private def oracle(spec: FeedSpec, events: Int): Map[String, graft.model.ChangeEvent] =
    FeedGen.expectedState(FeedGen.events(spec).take(events))

  test("DV reads: _metadata file identity and row positions come through the scan") {
    val spec = FeedSpec(seed = 111L, numEvents = 2000, numUrls = 250, eventsPerSegment = 500)
    val (table, _) = replay(spec, IngestConfig(mergeOnRead = true, deleteVectors = true))
    val snap = table.currentSnapshot()
    assert(snap.deleteFiles.nonEmpty && snap.files.map(_.addedVersion).distinct.size >= 3)
    val perFile = table.scan(spark, LakeTable.physicalSchema(snap.schema), snap.files)
      .groupBy(col("_metadata.file_name"), col("_av"))
      .agg(count(lit(1)), max(col("_metadata.row_index")))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val expected = snap.files.map { f =>
      java.nio.file.Paths.get(f.path).getFileName.toString -> (f.addedVersion, f.rows, f.rows - 1)
    }.toMap
    assert(perFile == expected)
    val live = table.read(spark).select("url", "warc_ts", "text").collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getString(2))).toSet
    assert(live == oracle(spec, spec.numEvents).values.map(e => (e.url, e.warcTs, e.text)).toSet)
  }

  test("rename aliases, time travel across an additive evolution, and a promoted column") {
    val spec = FeedSpec(seed = 112L, numEvents = 3000, numUrls = 300,
      eventsPerSegment = 500, evolveAtEvent = 1500)
    val cfg = IngestConfig(segmentsPerBatch = 1, mergeOnRead = true)
    val (table, feed) = replay(spec, cfg, segs = 3)
    val pre = table.currentSnapshot().version
    assert(!table.currentSnapshot().schema.fieldNames.contains("fetch_status"))
    table.renameColumn("lang", "language")
    CdcIngest.run(spark, table, feed, cfg)
    table.promoteColumn("fetch_status", LongType)
    val snap = table.currentSnapshot()
    assert(snap.schema("fetch_status").dataType == LongType)
    assert(snap.files.exists(_.addedVersion <= pre) && snap.deleteFiles.nonEmpty,
      "pre-rename base files and stacked deletes must both be read")
    val now = table.read(spark).select("url", "language", "fetch_status").collect()
      .map(r => (r.getString(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet
    assert(now == oracle(spec, spec.numEvents).values
      .map(e => (e.url, e.lang, e.fetch_status.map(_.toLong))).toSet)
    // the pre-evolution version reads through its own, narrower schema
    val old = table.readAsOf(spark, pre)
    assert(old.schema.fieldNames.toSeq == CdcIngest.PagesSchemaV1.fieldNames.toSeq)
    assert(old.select("url", "lang").collect().map(r => (r.getString(0), r.getString(1))).toSet ==
      oracle(spec, 1500).values.map(e => (e.url, e.lang)).toSet)
  }

  test("an empty selection is an empty frame with the read schema") {
    val table = LakeTable.create(tmpDir("msempty"), CdcIngest.PagesSchemaV1, 4)
    val snap = table.currentSnapshot()
    val df = table.readFiles(spark, LakeTable.physicalSchema(snap.schema), Seq.empty, Seq.empty)
    assert(df.schema.map(f => f.name -> f.dataType) ==
      LakeTable.physicalSchema(snap.schema).map(f => f.name -> f.dataType))
    assert(df.count() == 0)
    assert(table.read(spark).count() == 0 && table.lookup(spark, Seq("https://x/")).count() == 0)
  }

  test("changesBetween's from-side scan reads only the key and system columns") {
    val spec = FeedSpec(seed = 113L, numEvents = 1500, numUrls = 200, eventsPerSegment = 500)
    val (table, _) = replay(spec, IngestConfig(mergeOnRead = true))
    val v = table.currentSnapshot().version
    val df = table.changesBetween(spark, v - 1, v)
    assert(df.count() > 0)
    val dataScans = aqe.collect(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec if s.relation.dataSchema.fieldNames.contains(LakeTable.SeqCol) =>
        s.requiredSchema.fieldNames.toSet
    }
    assert(dataScans.size == 2, s"expected one data scan per side: $dataScans")
    assert(dataScans.contains(Set("url", LakeTable.SeqCol, LakeTable.DeletedCol)),
      s"the from side must read only url, _seq and _deleted: $dataScans")
    assert(dataScans.exists(_.contains("text")), s"the to side reads the payload: $dataScans")
  }
}
