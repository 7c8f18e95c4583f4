package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.feed.{FeedGen, FeedSpec}
import graft.ingest.CdcIngest
import graft.ingest.CdcIngest.IngestConfig
import graft.lake.LakeTable

/** Write-audit-publish (Iceberg WAP analog): a batch is fully written and
  * parked where readers cannot see it, audited on its would-be-visible
  * state, then published (link(2) claim, same as any commit) or discarded
  * (candidate's own files deleted, carried-over parent files untouched). */
class WapSpec extends SparkTestBase {

  private val spec = FeedSpec(seed = 81L, numEvents = 2000, numUrls = 300,
    eventsPerSegment = 500)

  private def setup(): (LakeTable, String) = {
    val feed = tmpDir("wapfeed")
    FeedGen.writeSegments(spec, feed)
    val table = LakeTable.create(tmpDir("waptbl"), CdcIngest.PagesSchemaV1, 8)
    // publish the first segment normally so staging works against a base
    CdcIngest.applyBatch(spark, table,
      CdcIngest.listSegments(feed).take(1), IngestConfig(numBuckets = 8))
    (table, feed)
  }

  private def state(df: org.apache.spark.sql.DataFrame): Set[(String, java.sql.Timestamp)] =
    df.select("url", "warc_ts").collect()
      .map(r => (r.getString(0), r.getTimestamp(1))).toSet

  test("staged batches are invisible until published; publish serves them atomically") {
    val (table, feed) = setup()
    val v1State = state(table.read(spark))
    val cfg = IngestConfig(numBuckets = 8, segmentsPerBatch = 1)
    val staged = CdcIngest.stageNext(spark, table, feed, cfg).get
    assert(staged.version == 2L && staged.watermarkSegment == 1L)
    // readers (current, lookup, metadata) still serve v1
    assert(table.currentSnapshot().version == 1L)
    assert(state(table.read(spark)) == v1State)
    assert(table.listVersions().max == 1L)
    // idempotent re-stage of the same batch
    assert(CdcIngest.stageNext(spark, table, feed, cfg).get.batchId == staged.batchId)
    // audit passes on the engine's invariants
    assert(CdcIngest.auditStaged(spark, table).isEmpty)
    val published = table.publishStaged()
    assert(published.version == 2L && table.currentSnapshot().version == 2L)
    assert(table.stagedSnapshot().isEmpty)
    // the published state equals a straight replay of the same prefix
    val twin = LakeTable.create(tmpDir("waptwin"), CdcIngest.PagesSchemaV1, 8)
    CdcIngest.listSegments(feed).take(2).foreach(sg =>
      CdcIngest.applyBatch(spark, twin, Seq(sg), IngestConfig(numBuckets = 8)))
    assert(state(table.read(spark)) == state(twin.read(spark)))
  }

  test("discard deletes exactly the candidate's files and the WAL position is untouched") {
    val (table, feed) = setup()
    val before = table.currentSnapshot()
    val staged = CdcIngest.stageNext(spark, table, feed,
      IngestConfig(numBuckets = 8, segmentsPerBatch = 1)).get
    val addedPaths = staged.files.filter(_.addedVersion == staged.version).map(_.path)
    assert(addedPaths.nonEmpty)
    // GC between stage and publish must not eat the candidate
    assert(table.orphanFiles().isEmpty)
    val dropped = table.discardStaged()
    assert(dropped.size == addedPaths.size)
    addedPaths.foreach(p => assert(!java.nio.file.Files.exists(table.root.resolve(p))))
    before.files.foreach(f =>
      assert(java.nio.file.Files.exists(table.root.resolve(f.path)),
        "carried-over parent files must survive a discard"))
    assert(table.orphanFiles().isEmpty, "discard must leave no orphans")
    // the batch can be re-derived and published after a discard
    val again = CdcIngest.stageNext(spark, table, feed,
      IngestConfig(numBuckets = 8, segmentsPerBatch = 1)).get
    assert(again.version == staged.version)
    assert(CdcIngest.auditStaged(spark, table).isEmpty)
    table.publishStaged()
    assert(table.currentSnapshot().watermarkSegment == 1L)
  }

  test("discarding a staged MoR candidate deletes and reports each path once") {
    val (table, feed) = setup()
    val staged = CdcIngest.stageNext(spark, table, feed,
      IngestConfig(numBuckets = 8, segmentsPerBatch = 1, mergeOnRead = true)).get
    assert(staged.metrics("strategy") == "mor")
    val addedPaths = (staged.files.filter(_.addedVersion == staged.version).map(_.path) ++
      staged.deleteFiles.filter(_.addedVersion == staged.version).map(_.path)).distinct
    assert(addedPaths.nonEmpty)
    val dropped = table.discardStaged()
    assert(dropped.map(_.toString).sorted ==
      addedPaths.map(p => table.root.resolve(p).toString).sorted)
    addedPaths.foreach(p => assert(!java.nio.file.Files.exists(table.root.resolve(p))))
    assert(table.orphanFiles().isEmpty, "discard must leave no orphans")
  }

  test("publish refuses when the table advanced past the candidate's parent") {
    val (table, feed) = setup()
    CdcIngest.stageNext(spark, table, feed,
      IngestConfig(numBuckets = 8, segmentsPerBatch = 1))
    // out-of-band commit advances the table (same content, new version)
    table.rollback(table.currentSnapshot().version)
    val e = intercept[IllegalArgumentException](table.publishStaged())
    assert(e.getMessage.contains("advanced"))
    table.discardStaged() // recovery path
    assert(table.stagedSnapshot().isEmpty && table.orphanFiles().isEmpty)
  }

  test("a normal ingest refuses while a candidate is staged (WAP serial gate)") {
    val (table, feed) = setup()
    CdcIngest.stageNext(spark, table, feed,
      IngestConfig(numBuckets = 8, segmentsPerBatch = 1))
    // before this gate, the commit computed the SAME next version, its
    // same-name ATOMIC_MOVE silently replaced the staged data files, and a
    // later discardStaged deleted the committed snapshot's live data
    val e = intercept[IllegalStateException](CdcIngest.applyBatch(
      spark, table, CdcIngest.listSegments(feed).slice(1, 2),
      IngestConfig(numBuckets = 8)))
    assert(e.getMessage.contains("staged candidate"))
    // recovery: discard, then the same batch ingests normally and the
    // final state equals a straight replay of the same prefix
    table.discardStaged()
    CdcIngest.applyBatch(spark, table,
      CdcIngest.listSegments(feed).slice(1, 2), IngestConfig(numBuckets = 8))
    val twin = LakeTable.create(tmpDir("waptwin2"), CdcIngest.PagesSchemaV1, 8)
    CdcIngest.listSegments(feed).take(2).foreach(sg =>
      CdcIngest.applyBatch(spark, twin, Seq(sg), IngestConfig(numBuckets = 8)))
    assert(state(table.read(spark)) == state(twin.read(spark)))
    assert(table.orphanFiles().isEmpty)
  }

  test("staged files carry unique -w name tags so commit names can never collide") {
    val (table, feed) = setup()
    val staged = CdcIngest.stageNext(spark, table, feed,
      IngestConfig(numBuckets = 8, segmentsPerBatch = 1)).get
    val added = staged.files.filter(_.addedVersion == staged.version).map(_.path)
    assert(added.nonEmpty)
    added.foreach(p => assert(p.contains("-w"),
      s"staged file $p must carry a unique -w tag"))
  }

  test("discard never deletes a path referenced by a committed snapshot") {
    val (table, _) = setup()
    val committed = table.currentSnapshot()
    val victim = committed.files.head
    // a hostile/corrupted candidate claiming a committed file as its own
    val bogus = committed.copy(version = committed.version + 1,
      parentVersion = committed.version, batchId = "bogus",
      files = committed.files.map(f =>
        if (f eq victim) f.copy(addedVersion = committed.version + 1) else f))
    table.stage(bogus)
    table.discardStaged()
    assert(java.nio.file.Files.exists(table.root.resolve(victim.path)),
      "committed data must survive a hostile discard")
  }

  test("a second concurrent staging attempt at a different version is refused") {
    val (table, feed) = setup()
    CdcIngest.stageNext(spark, table, feed, IngestConfig(numBuckets = 8, segmentsPerBatch = 1))
    val bogus = table.stagedSnapshot().get.copy(version = 99L, batchId = "rogue")
    val e = intercept[IllegalStateException](table.stage(bogus))
    assert(e.getMessage.contains("already exists"))
  }

  test("stage runs commit's evolution gate: no resurrection, declared renames pass") {
    val (table, _) = setup()
    def candidate(batchId: String, schema: StructType, renames: Map[String, Seq[String]]) = {
      val cur = table.currentSnapshot()
      cur.copy(version = cur.version + 1, parentVersion = cur.version, batchId = batchId,
        schemaJson = schema.json, lineage = Seq.empty, renames = renames)
    }
    def names(dir: java.nio.file.Path) = LakeTable.listDir(dir).map(_.getFileName.toString).toSet
    // (a) re-adding a dropped column would surface the dead values its old
    // files still carry: refused before any staged JSON or manifest lands
    val dropped = table.dropColumn("lang")
    val (snapsBefore, mansBefore) = (names(table.snapshotsDir), names(table.manifestsDir))
    intercept[IllegalArgumentException](table.stage(candidate("readd-lang",
      dropped.schema.add(StructField("lang", StringType)), dropped.renames)))
    assert(table.stagedSnapshot().isEmpty)
    assert(names(table.snapshotsDir) == snapsBefore && names(table.manifestsDir) == mansBefore)
    // (b) a declared rename stages, and publish serves the new name
    val texts = table.read(spark).select("url", "text").collect().map(r => (r(0), r(1))).toSet
    val renamed = StructType(dropped.schema.fields.map(f =>
      if (f.name == "text") f.copy(name = "body") else f))
    table.stage(candidate("rename-text-body", renamed, dropped.renames + ("body" -> Seq("text"))))
    assert(table.stagedSnapshot().map(_.batchId).contains("rename-text-body"))
    table.publishStaged()
    val after = table.read(spark)
    assert(after.columns.contains("body") && !after.columns.contains("text"))
    assert(after.select("url", "body").collect().map(r => (r(0), r(1))).toSet == texts)
  }
}
