package graft

import org.apache.spark.sql.functions._

import graft.feed.{FeedGen, FeedSpec}
import graft.ingest.CdcIngest
import graft.ingest.CdcIngest.IngestConfig
import graft.lake.{DeleteFileEntry, LakeTable}

/** Positional deletion vectors (Iceberg v3 / Delta DV analog): MoR trickle
  * commits that record the exact (file, row) positions they supersede
  * instead of equality keys — vector minimality (each position recorded at
  * most once ever), delete-aware reads, mixed equality+positional stacks,
  * compaction folding, and serial-oracle equality. */
class DeleteVectorSpec extends SparkTestBase {

  /** Heavy-churn feed: many updates/deletes per url, so vectors stack. */
  private val spec = FeedSpec(seed = 91L, numEvents = 3000, numUrls = 300,
    eventsPerSegment = 500)

  private def replay(spec: FeedSpec, cfg: IngestConfig => IngestConfig): LakeTable = {
    val feed = tmpDir("dvfeed")
    FeedGen.writeSegments(spec, feed)
    val table = LakeTable.create(tmpDir("dvtbl"), CdcIngest.PagesSchemaV1, 8)
    CdcIngest.run(spark, table, feed,
      cfg(IngestConfig(numBuckets = 8, segmentsPerBatch = 1)))
    table
  }

  private def state(table: LakeTable): Set[(String, java.sql.Timestamp, String, String)] =
    table.read(spark).select("url", "warc_ts", "text", "lang").collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getString(2), r.getString(3))).toSet

  test("DV replay equals the serial oracle; vectors from multiple commits stack") {
    val table = replay(spec, _.copy(mergeOnRead = true, deleteVectors = true))
    val snap = table.currentSnapshot()
    val dvs = snap.deleteFiles
    assert(dvs.nonEmpty && dvs.forall(_.kind == DeleteFileEntry.Positional),
      "DV trickle commits must leave only positional delete files")
    assert(snap.metrics("strategy") == "mor-dv")
    assert(dvs.map(_.addedVersion).distinct.size >= 2,
      "vectors from several commits should coexist in the manifest")
    assert(snap.files.map(_.addedVersion).distinct.size >= 3,
      "base files from earlier commits must carry over by reference")
    val expected = FeedGen.expectedState(FeedGen.events(spec))
    assert(state(table) == expected.values.map(e => (e.url, e.warcTs, e.text, e.lang)).toSet)
    // and it matches the equality-delete MoR replay of the same feed
    val eqTwin = replay(spec, _.copy(mergeOnRead = true))
    assert(state(table) == state(eqTwin))
  }

  test("vectors are minimal: no position is ever recorded twice, and each names a real row") {
    val table = replay(spec, _.copy(mergeOnRead = true, deleteVectors = true))
    val snap = table.currentSnapshot()
    val dv = spark.read.schema(LakeTable.DvFileSchema)
      .parquet(snap.deleteFiles.map(f => table.root.resolve(f.path).toString): _*)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(dv.nonEmpty)
    assert(dv.length == dv.distinct.length,
      "a physical position must be recorded at most once across ALL commits")
    // every vector entry points at a real (file, row) that exists on disk
    val byFile = snap.files.map(f =>
      java.nio.file.Paths.get(f.path).getFileName.toString -> f.rows).toMap
    dv.foreach { case (fname, pos) =>
      val rows = byFile.getOrElse(fname, fail(s"vector names unknown file $fname"))
      assert(pos >= 0 && pos < rows, s"position $pos out of range for $fname ($rows rows)")
    }
    // recorded count == dead-row count: live rows + vector rows = physical rows
    val physical = snap.files.map(_.rows).sum
    val live = table.read(spark).count() +
      table.readRaw(spark, snap).filter(col(LakeTable.DeletedCol)).count()
    assert(physical - dv.length == live,
      "vectors must account for exactly the superseded physical rows")
  }

  test("mixed stacks: equality commits then vector commits read correctly") {
    val feed = tmpDir("dvmixfeed")
    FeedGen.writeSegments(spec, feed)
    val table = LakeTable.create(tmpDir("dvmixtbl"), CdcIngest.PagesSchemaV1, 8)
    val eqCfg = IngestConfig(numBuckets = 8, segmentsPerBatch = 1, mergeOnRead = true)
    val dvCfg = eqCfg.copy(deleteVectors = true)
    val (firstHalf, rest) = CdcIngest.listSegments(feed).splitAt(3)
    firstHalf.foreach(sg => CdcIngest.applyBatch(spark, table, Seq(sg), eqCfg))
    rest.foreach(sg => CdcIngest.applyBatch(spark, table, Seq(sg), dvCfg))
    val kinds = table.currentSnapshot().deleteFiles.map(_.kind).distinct.sorted
    assert(kinds == Seq(DeleteFileEntry.Equality, DeleteFileEntry.Positional),
      s"both delete formats must coexist, got $kinds")
    val expected = FeedGen.expectedState(FeedGen.events(spec))
    assert(state(table) == expected.values.map(e => (e.url, e.warcTs, e.text, e.lang)).toSet)
    // a vector commit records only rows that were visible before it: no
    // prior vector covers them and no newer equality delete hides them
    def positions(df: org.apache.spark.sql.DataFrame): Set[(String, Long)] =
      df.collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val dvCommits = table.listVersions().sorted.map(table.readSnapshot)
      .filter(_.metrics.get("strategy").contains("mor-dv"))
    assert(dvCommits.size == rest.size)
    dvCommits.foreach { s =>
      val parent = table.readSnapshot(s.parentVersion)
      val (vecs, eqs) = parent.deleteFiles.partition(_.kind == DeleteFileEntry.Positional)
      val eqKeys = table.scan(spark, LakeTable.DeleteFileSchema, eqs)
        .select(col("url").as("_k"), col("_av").as("_kv"))
      val unhidden = positions(table.scan(spark,
          LakeTable.physicalSchema(parent.schema), parent.files)
        .select(col("_metadata.file_name").as("_f"), col("_metadata.row_index").as("_p"),
          col("url"), col("_av"))
        .join(eqKeys, col("url") === col("_k") && col("_kv") > col("_av"), "left_anti")
        .select("_f", "_p"))
      val visible = unhidden --
        positions(table.scan(spark, LakeTable.DvFileSchema, vecs).select("_dfname", "_dpos"))
      val recorded = positions(table.scan(spark, LakeTable.DvFileSchema,
        s.deleteFiles.filter(_.addedVersion == s.version)).select("_dfname", "_dpos"))
      assert(recorded.nonEmpty, s"v${s.version} recorded no vector")
      assert(recorded.subsetOf(visible),
        s"v${s.version} recorded rows that were not visible: ${(recorded -- visible).take(5)}")
    }
  }

  test("compaction folds vectors back to pure base; later DV batches re-stack") {
    val feed = tmpDir("dvfoldfeed")
    FeedGen.writeSegments(spec, feed)
    val table = LakeTable.create(tmpDir("dvfoldtbl"), CdcIngest.PagesSchemaV1, 8)
    val cfg = IngestConfig(numBuckets = 8, segmentsPerBatch = 1,
      mergeOnRead = true, deleteVectors = true)
    val (firstHalf, rest) = CdcIngest.listSegments(feed).splitAt(3)
    firstHalf.foreach(sg => CdcIngest.applyBatch(spark, table, Seq(sg), cfg))
    assert(table.currentSnapshot().deleteFiles.nonEmpty)
    val midState = state(table)
    CdcIngest.compact(spark, table)
    val folded = table.currentSnapshot()
    assert(folded.deleteFiles.isEmpty, "compaction must fold and drop the vectors")
    assert(state(table) == midState, "fold must not change visible state")
    rest.foreach(sg => CdcIngest.applyBatch(spark, table, Seq(sg), cfg))
    assert(table.currentSnapshot().deleteFiles
      .forall(_.kind == DeleteFileEntry.Positional), "post-fold DV re-stacks")
    val expected = FeedGen.expectedState(FeedGen.events(spec))
    assert(state(table) == expected.values.map(e => (e.url, e.warcTs, e.text, e.lang)).toSet)
  }

  test("streaming front-end replays DV trickle commits to the serial oracle") {
    // resumed-tail shape: base load, then new WAL segments between drains —
    // each wave must stack positional vectors, never rewrite its buckets
    val feed = tmpDir("dvstreamfeed")
    val table = LakeTable.create(tmpDir("dvstreamtbl"), CdcIngest.PagesSchemaV1, 8)
    val cfg = IngestConfig(numBuckets = 8, mergeOnRead = true, deleteVectors = true)
    val ckpt = tmpDir("dvstreamckpt")
    Seq(500, 1500, 3000).foreach { n =>
      FeedGen.writeSegments(spec.copy(numEvents = n), feed)
      graft.ingest.StreamingIngest.run(spark, table, feed, cfg,
        checkpointDir = Some(ckpt))
    }
    val snap = table.currentSnapshot()
    assert(snap.deleteFiles.nonEmpty &&
      snap.deleteFiles.forall(_.kind == DeleteFileEntry.Positional),
      "streamed trickle commits must stack positional vectors")
    assert(snap.metrics("strategy") == "mor-dv")
    val expected = FeedGen.expectedState(FeedGen.events(spec))
    assert(state(table) == expected.values.map(e => (e.url, e.warcTs, e.text, e.lang)).toSet)
  }

  test("time travel below a DV commit ignores later vectors") {
    val table = replay(spec, _.copy(mergeOnRead = true, deleteVectors = true))
    val versions = table.listVersions().sorted
    // the base load is the first version with data: no vectors apply yet
    val baseV = versions.find(v => table.readSnapshot(v).files.nonEmpty).get
    val v1 = table.readAsOf(spark, baseV).count()
    val v1Snap = table.readSnapshot(baseV)
    assert(v1Snap.deleteFiles.isEmpty)
    assert(v1 > 0 && v1 <= v1Snap.files.map(_.rows).sum)
    // each later version's visible state is a valid LWW fold prefix:
    // monotone watermark, exactly one live row per url
    versions.foreach { v =>
      val df = table.readAsOf(spark, v)
      assert(df.groupBy("url").count().filter(col("count") > 1).isEmpty,
        s"duplicate live url at v$v")
    }
  }
}
