package graft.lake

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One committed table version. `files` carries bucket + row count per data
  * file — the manifest is what makes MERGE-time partition (bucket) pruning
  * possible without a metastore (SURVEY.md §4 "partition pruning").
  *
  * Lineage fields (per north rule): segment offset range applied by the
  * batch, per-bucket row counts, commit snapshot id, and batch metrics.
  */
/** One data file in a snapshot manifest. `tsMinMicros`/`tsMaxMicros` are
  * file-level zone-map statistics for `warc_ts` (micros since epoch,
  * min/max over non-null values), harvested from the parquet footer during
  * the commit-time footer read — no extra Spark job. `None` means
  * "unbounded" (legacy manifests, files written before the stats landed,
  * or footers without usable statistics): such files are always kept by
  * [[LakeTable.filesInRange]], so the feature degrades to a full plan,
  * never a wrong one. */
/** Per-file column bounds (Iceberg lower/upper-bounds analog), harvested
  * from the parquet footer at move time — zero extra IO. `typ` is the
  * comparison domain: "long" (INT32/INT64), "double" (FLOAT/DOUBLE) or
  * "string" (UTF-8 BINARY; values over 64 chars are not recorded — a
  * min/max of full document texts would bloat the manifest for columns
  * that no one range-filters). Files whose footer lacks usable statistics
  * for a column simply omit it and are never pruned on it. */
final case class ColStat(typ: String, min: String, max: String)

final case class DataFileEntry(path: String, bucket: Int, rows: Long, sizeBytes: Long = 0L,
    tsMinMicros: Option[Long] = None, tsMaxMicros: Option[Long] = None,
    addedVersion: Long = 0L, colStats: Map[String, ColStat] = Map.empty)

/** A merge-on-read delete file, in one of two formats:
  *
  *   - `kind = "equality"` (Iceberg v2 equality-delete analog): a parquet
  *     file read for its `url` keys only — the ingest writer records a MoR
  *     commit's own delta data files here, so one path can be both a data
  *     and a delete entry. At read time it removes matching keys from every
  *     data file with a STRICTLY OLDER `addedVersion` — the same commit's
  *     own data file (equal version) is exempt, so a MoR commit's new
  *     winners survive their own delete keys. Legacy data files parse with
  *     addedVersion 0 and are therefore subject to every delete file,
  *     which is correct: they predate all MoR commits.
  *   - `kind = "positional"` (Iceberg v3 deletion-vector / Delta DV
  *     analog): a parquet file of exact (`_dfname`, `_dpos`) row positions
  *     superseded by the commit. No version arithmetic at read time — a
  *     vector can never reference its own commit's files because positions
  *     are computed from the files that existed BEFORE the commit.
  *
  * The `kind` field is serialized only when positional, so pre-existing
  * snapshot JSON (and the fixed-path metadata-table oracle that re-parses
  * it) is byte-for-byte unchanged. */
final case class DeleteFileEntry(path: String, bucket: Int, rows: Long,
    sizeBytes: Long, addedVersion: Long,
    kind: String = DeleteFileEntry.Equality)

object DeleteFileEntry {
  val Equality = "equality"
  val Positional = "positional"
}

/** One entry of a snapshot's manifest LIST (Iceberg manifest-list analog):
  * a content-addressed, immutable per-bucket manifest file holding that
  * bucket's data/delete entries. The snapshot JSON carries only these refs
  * — O(buckets), not O(files) — so a trickle commit serializes and writes
  * ONLY the touched buckets' manifests (unchanged buckets re-reference the
  * parent's manifest by path), and a reader re-parses only manifests it
  * has not seen (they are immutable, so caching by path is always safe). */
final case class ManifestRef(path: String, bucket: Int,
    dataFiles: Int, deleteFiles: Int)

final case class Snapshot(
    version: Long,
    batchId: String,
    parentVersion: Long,
    watermarkSegment: Long, // highest WAL segment id applied (-1 = none)
    schemaJson: String,
    numBuckets: Int,
    files: Seq[DataFileEntry],
    lineage: Seq[Map[String, Any]],
    metrics: Map[String, Any],
    deleteFiles: Seq[DeleteFileEntry] = Seq.empty,
    // Iceberg field-ID rename analog: current column name → its former
    // PHYSICAL names, most recent first (a→b→c records c → [b, a]). Data
    // files written before a rename keep the old physical column; the read
    // path coalesces the alias chain back into the current name, so a
    // rename is a metadata-only commit that never rewrites a file.
    renames: Map[String, Seq[String]] = Map.empty,
    // physical names of DROPPED columns (incl. their alias chains). Files
    // on disk still carry these columns, so re-adding such a name would
    // silently resurrect dropped data — the commit gate refuses it.
    retired: Seq[String] = Seq.empty,
    // populated on read of sharded snapshots / by commit; derived, never
    // authored by callers (commit ignores and recomputes it)
    manifests: Seq[ManifestRef] = Seq.empty) {
  def schema: StructType = DataType.fromJson(schemaJson).asInstanceOf[StructType]
}

/** Iceberg-style lake table implemented on plain parquet + JSON snapshot
  * manifests committed by atomic rename (write-temp → `Files.move(ATOMIC_MOVE)`).
  * Replaces the reference's overwrite-only sinks (migrator.py:456-463) with
  * versioned, exactly-once commits:
  *   - a snapshot file `snapshots/v%012d.json` IS the commit point — data
  *     files not referenced by a committed snapshot are invisible (torn
  *     writes leave only orphans, never a torn table);
  *   - re-committing the same batchId is detected and skipped (idempotent);
  *   - additive schema evolution = a new snapshot with a widened schemaJson;
  *     old files are read through the current schema (missing columns → null).
  *
  * Layout: `root/snapshots/v*.json`, `root/data/<file>.parquet`.
  * Rows carry system columns `_seq` (last-writer binlog position) and
  * `_deleted` (tombstone — keeps late, older events losing across batches).
  */
final class LakeTable(val root: Path) {
  import LakeTable._

  def snapshotsDir: Path = root.resolve("snapshots")
  def dataDir: Path = root.resolve("data")
  def manifestsDir: Path = root.resolve("manifests")

  /** Parsed-manifest cache. Manifest files are content-addressed and
    * immutable, so a cache entry can never go stale; it turns the
    * O(total files) manifest parse into O(new manifests) for every read
    * after the first (trickle commits re-reference almost everything).
    * Bounded defensively — at the bound the table has ~100k DISTINCT
    * manifests parsed through one driver, far past any sandbox run. */
  private val manifestCache =
    new java.util.concurrent.ConcurrentHashMap[
      String, (Seq[DataFileEntry], Seq[DeleteFileEntry])]()
  private def cacheManifest(rel: String,
      v: (Seq[DataFileEntry], Seq[DeleteFileEntry])): Unit = {
    if (manifestCache.size > 100000) manifestCache.clear()
    manifestCache.put(rel, v)
  }

  /** Load one manifest file's entries (cache-first). */
  private def loadManifest(rel: String): (Seq[DataFileEntry], Seq[DeleteFileEntry]) = {
    val hit = manifestCache.get(rel)
    if (hit != null) return hit
    val node = Mapper.readTree(Files.readAllBytes(root.resolve(rel)))
    val fs = Option(node.get("files")).toSeq
      .flatMap(_.elements().asScala.map(parseDataEntry))
    val ds = Option(node.get("deleteFiles")).toSeq
      .flatMap(_.elements().asScala.map(parseDeleteEntry))
    val v = (fs, ds)
    cacheManifest(rel, v)
    v
  }

  def currentSnapshot(): Snapshot = {
    val versions = listVersions()
    require(versions.nonEmpty, s"no snapshots in $snapshotsDir")
    readSnapshot(versions.max)
  }

  /** Directory listing materialized eagerly with the stream CLOSED — this
    * runs on every snapshot load / commit gate / metadata query, so a
    * dropped stream would leak an fd per call until the driver hits
    * EMFILE on a long trickle-ingest run. Delegates to the engine-wide
    * [[LakeTable.listDir]]. */
  private def listDirEntries(dir: Path): Seq[Path] = LakeTable.listDir(dir)

  def listVersions(): Seq[Long] =
    listDirEntries(snapshotsDir)
      .map(_.getFileName.toString)
      .collect { case SnapName(v) => v.toLong }

  def readSnapshot(version: Long): Snapshot =
    parseSnapshot(Files.readAllBytes(snapPath(version)))

  private def parseDataEntry(f: com.fasterxml.jackson.databind.JsonNode): DataFileEntry =
    DataFileEntry(f.get("path").asText(), f.get("bucket").asInt(), f.get("rows").asLong(),
      Option(f.get("sizeBytes")).map(_.asLong()).getOrElse(0L),
      Option(f.get("tsMinMicros")).map(_.asLong()),
      Option(f.get("tsMaxMicros")).map(_.asLong()),
      Option(f.get("addedVersion")).map(_.asLong()).getOrElse(0L),
      Option(f.get("colStats")).map { cs =>
        cs.fields().asScala.map { e =>
          e.getKey -> ColStat(e.getValue.get("t").asText(),
            e.getValue.get("min").asText(), e.getValue.get("max").asText())
        }.toMap
      }.getOrElse(Map.empty))

  private def parseDeleteEntry(f: com.fasterxml.jackson.databind.JsonNode): DeleteFileEntry =
    DeleteFileEntry(f.get("path").asText(), f.get("bucket").asInt(),
      f.get("rows").asLong(), f.get("sizeBytes").asLong(),
      f.get("addedVersion").asLong(),
      Option(f.get("kind")).map(_.asText()).getOrElse(DeleteFileEntry.Equality))

  private def parseManifestRefs(node: com.fasterxml.jackson.databind.JsonNode): Seq[ManifestRef] =
    Option(node.get("manifests")).toSeq.flatMap(_.elements().asScala.map { m =>
      ManifestRef(m.get("path").asText(), m.get("bucket").asInt(),
        m.get("dataFiles").asInt(), m.get("deleteFiles").asInt())
    })

  private def parseSnapshot(bytes: Array[Byte]): Snapshot = {
    val node = Mapper.readTree(bytes)
    // sharded format (current writer): the snapshot carries a manifest
    // LIST; entries live in immutable per-bucket manifest files, loaded
    // through the cache (bounded parallel for a cold many-bucket read).
    // Legacy inline format (pre-shard snapshots) still parses below.
    val refs = parseManifestRefs(node)
    val (files, deleteFiles) =
      if (refs.nonEmpty || node.get("files") == null) {
        import scala.concurrent.{Await, Future}
        import scala.concurrent.duration.Duration
        import scala.concurrent.ExecutionContext.Implicits.global
        val loaded = refs.iterator.grouped(64).flatMap { g =>
          Await.result(
            Future.sequence(g.map(r => Future(loadManifest(r.path)))),
            Duration.Inf)
        }.toSeq
        (loaded.flatMap(_._1), loaded.flatMap(_._2))
      } else (
        node.get("files").elements().asScala.map(parseDataEntry).toSeq,
        Option(node.get("deleteFiles")).toSeq.flatMap(
          _.elements().asScala.map(parseDeleteEntry)))
    Snapshot(
      version = node.get("version").asLong(),
      batchId = node.get("batchId").asText(),
      parentVersion = node.get("parentVersion").asLong(),
      watermarkSegment = node.get("watermarkSegment").asLong(),
      schemaJson = node.get("schemaJson").asText(),
      numBuckets = node.get("numBuckets").asInt(),
      files = files,
      lineage = node.get("lineage").elements().asScala.map(jsonToMap).toSeq,
      metrics = jsonToMap(node.get("metrics")),
      deleteFiles = deleteFiles,
      renames = Option(node.get("renames")).map(_.fields().asScala.map { e =>
        e.getKey -> e.getValue.elements().asScala.map(_.asText()).toSeq
      }.toMap).getOrElse(Map.empty),
      retired = Option(node.get("retired")).map(
        _.elements().asScala.map(_.asText()).toSeq).getOrElse(Seq.empty),
      manifests = refs)
  }

  /** Just the manifest LIST of a committed version — an O(buckets) parse
    * that never opens a manifest file (the commit fast path's view of its
    * parent). Empty for legacy inline snapshots or a missing version. */
  private def manifestRefsOf(version: Long): Seq[ManifestRef] =
    if (version < 0 || !Files.exists(snapPath(version))) Seq.empty
    else parseManifestRefs(Mapper.readTree(Files.readAllBytes(snapPath(version))))

  private def jsonToMap(n: com.fasterxml.jackson.databind.JsonNode): Map[String, Any] =
    n.fields().asScala.map { e =>
      val v = e.getValue
      e.getKey -> (if (v.isIntegralNumber) v.asLong()
                   else if (v.isFloatingPointNumber) v.asDouble()
                   else v.asText(): Any)
    }.toMap

  private def snapPath(version: Long): Path =
    snapshotsDir.resolve(f"v$version%012d.json")

  /** Write (or re-reference) the per-bucket manifest files for `snap` and
    * return its manifest list — the Iceberg manifest-list analog that
    * bounds per-commit driver work by TOUCHED buckets, not total files:
    *
    *   - a bucket whose entry group is unchanged from the parent snapshot
    *     re-references the parent's manifest file by path, with NO
    *     serialization (entry equality against the cached parent group;
    *     carried entries are the same objects, so the compare is O(n)
    *     reference-equality fast paths);
    *   - a changed bucket serializes its group to canonical compact JSON
    *     whose sha-256 prefix names the file (content-addressed), so an
    *     identical group anywhere in history — rollback, idempotent
    *     replay, a racing twin commit — resolves to the same immutable
    *     file and skips the write.
    *
    * Manifests are written BEFORE the snapshot's link(2) claim: a crash or
    * lost version race leaves only unreferenced manifest files (invisible
    * to every reader; swept by [[orphanManifests]]), never a torn commit. */
  private def writeManifests(snap: Snapshot): Seq[ManifestRef] = {
    val byBucketF = snap.files.groupBy(_.bucket)
    val byBucketD = snap.deleteFiles.groupBy(_.bucket)
    val parent = manifestRefsOf(snap.parentVersion).map(r => r.bucket -> r).toMap
    Files.createDirectories(manifestsDir)
    (byBucketF.keySet ++ byBucketD.keySet).toSeq.sorted.map { b =>
      val fs = byBucketF.getOrElse(b, Seq.empty).sortBy(_.path)
      val ds = byBucketD.getOrElse(b, Seq.empty).sortBy(_.path)
      val reuse = parent.get(b).filter { r =>
        manifestCache.get(r.path) match {
          case null       => false
          case (pfs, pds) => pfs == fs && pds == ds
        }
      }
      reuse.getOrElse {
        val bytes = LakeTable.renderManifest(b, fs, ds).getBytes("UTF-8")
        val hash = java.security.MessageDigest.getInstance("SHA-256")
          .digest(bytes).take(16).map("%02x".format(_)).mkString
        val rel = s"manifests/m-$hash.json"
        val p = root.resolve(rel)
        if (!Files.exists(p)) {
          val tmp = manifestsDir.resolve(s".tmp-${java.util.UUID.randomUUID()}")
          Files.write(tmp, bytes)
          // content-addressed: EEXIST means another writer just landed the
          // IDENTICAL bytes — not a conflict, unlike the version claim
          try Files.createLink(p, tmp)
          catch {
            case _: java.nio.file.FileAlreadyExistsException => ()
            case _: UnsupportedOperationException =>
              try Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE)
              catch { case _: java.nio.file.FileAlreadyExistsException => () }
          }
          Files.deleteIfExists(tmp)
        }
        cacheManifest(rel, (fs, ds))
        ManifestRef(rel, b, fs.size, ds.size)
      }
    }
  }

  /** Atomic commit. Returns the committed snapshot — which is `snap` on
    * success, or the already-committed identical snapshot when the same
    * batchId raced/was replayed (idempotent re-commit, SURVEY.md §2.10). */
  def commit(snap: Snapshot, allowSchemaRegression: Boolean = false): Snapshot = {
    // Fail-closed evolution gate: the new snapshot's schema must be an
    // additive/promotable evolution of the current one (no dropped columns,
    // no narrowing). Throws the typed SchemaEvolutionException otherwise.
    // [[rollback]] is the one caller allowed through: restoring a
    // pre-evolution snapshot legitimately restores its narrower schema.
    if (!allowSchemaRegression && listVersions().nonEmpty) {
      val cur = currentSnapshot()
      if (cur.version < snap.version && cur.schemaJson != snap.schemaJson) {
        // View the current schema through the new snapshot's DECLARED
        // renames (immediate former name → current name) and drops
        // (retired physical names), then require the remainder to be a
        // plain additive/promotable evolution. An undeclared drop or
        // rename still fails closed exactly as before.
        val fwd = snap.renames.collect {
          case (to, formers) if formers.nonEmpty => formers.head -> to
        }
        val adjusted = StructType(cur.schema.fields.flatMap { f =>
          if (snap.retired.contains(f.name) &&
              !snap.schema.fieldNames.contains(f.name)) None
          else fwd.get(f.name) match {
            case Some(to) if !cur.schema.fieldNames.contains(to) =>
              Some(f.copy(name = to))
            case _ => Some(f)
          }
        })
        graft.schema.SchemaValidator.requireCompatible(adjusted, snap.schema)
        // resurrection guard: a genuinely NEW column must not reuse a
        // physical name that old data files still carry (a dropped
        // column or a live rename alias) — reading it would silently
        // surface dead data under the new column
        val ghosts = snap.renames.values.flatten.toSet ++ snap.retired
        snap.schema.fieldNames.filterNot(adjusted.fieldNames.contains)
          .find(ghosts.contains).foreach { n =>
            throw new IllegalArgumentException(
              s"cannot add column '$n': data files may still carry a " +
                "dropped/renamed physical column of that name — pick a " +
                "fresh name (Iceberg avoids this with field IDs; plain " +
                "parquet name-based reads cannot)")
          }
      }
    }
    val refs = writeManifests(snap)
    val json = renderSnapshot(snap, refs)
    val tmp = snapshotsDir.resolve(s".tmp-${java.util.UUID.randomUUID()}.json")
    Files.write(tmp, json.getBytes("UTF-8"))
    // Claim the version with createLink (link(2)), NOT a rename: on POSIX,
    // rename(2) — what Files.move(ATOMIC_MOVE) compiles to — silently
    // REPLACES an existing target, so a lost version race would clobber
    // the other writer's snapshot instead of throwing. link(2) is atomic
    // AND fails with EEXIST, which is the exactly-once/optimistic-
    // concurrency primitive both the idempotent re-commit and tryCommit
    // rely on. Falls back to move only where hard links are unsupported
    // (documented non-POSIX limitation, SURVEY §7.0).
    try {
      try Files.createLink(snapPath(snap.version), tmp)
      catch {
        case _: UnsupportedOperationException =>
          Files.move(tmp, snapPath(snap.version), StandardCopyOption.ATOMIC_MOVE)
      }
      Files.deleteIfExists(tmp)
      snap.copy(manifests = refs)
    } catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        Files.deleteIfExists(tmp)
        val existing = readSnapshot(snap.version)
        require(existing.batchId == snap.batchId,
          s"commit conflict at v${snap.version}: ${existing.batchId} != ${snap.batchId}")
        existing
    }
  }

  /** [[commit]] that reports a LOST VERSION RACE as None instead of
    * throwing — the optimistic-concurrency primitive for maintenance jobs
    * (compaction, GC) racing the ingest writer: the caller re-reads the
    * new current snapshot, revalidates what it rewrote, and retries at the
    * next version (see CdcIngest.compact's rebase loop). Idempotent
    * re-commits of the same batchId still return Some; schema-evolution
    * violations still throw their typed exception. */
  def tryCommit(snap: Snapshot): Option[Snapshot] =
    try Some(commit(snap))
    catch { case _: IllegalArgumentException => None }

  // ---- write-audit-publish (Iceberg WAP analog) ----------------------
  //
  // A STAGED snapshot is a fully-written commit candidate parked under a
  // name the readers' version glob cannot see (`staged-v…json` fails the
  // `v(\d+).json` pattern), so its data files are on disk and auditable
  // while every reader — read, lookup, time travel, changelog, MVs —
  // still serves the parent version. `publishStaged` turns it into the
  // real commit with the same link(2) claim; `discardStaged` deletes the
  // candidate and exactly the data/delete files it added (carried-over
  // parent files are untouched). At 100 TB this is how a batch gets
  // quality-gated without readers ever seeing a bad version, and without
  // writing the batch twice.

  private def stagedDir: Path = snapshotsDir
  private def stagedPath(version: Long): Path =
    stagedDir.resolve(f"staged-v$version%012d.json")

  /** Park a fully-built snapshot as the staged candidate. Same evolution
    * gate and same idempotency contract as [[commit]] (re-staging the same
    * batchId is a no-op; a DIFFERENT candidate at the same version throws).
    * Only one staged version can exist at a time — WAP is a serial gate. */
  def stage(snap: Snapshot): Snapshot = {
    if (listVersions().nonEmpty) {
      val cur = currentSnapshot()
      if (cur.version < snap.version && cur.schemaJson != snap.schemaJson)
        graft.schema.SchemaValidator.requireCompatible(cur.schema, snap.schema)
    }
    stagedSnapshot().filter(_.version != snap.version).foreach { s =>
      throw new IllegalStateException(
        s"a staged snapshot already exists at v${s.version} " +
          "(publish or discard it first)")
    }
    val refs = writeManifests(snap)
    val json = renderSnapshot(snap, refs)
    val tmp = snapshotsDir.resolve(s".tmp-${java.util.UUID.randomUUID()}.json")
    Files.write(tmp, json.getBytes("UTF-8"))
    try {
      try Files.createLink(stagedPath(snap.version), tmp)
      catch {
        case _: UnsupportedOperationException =>
          Files.move(tmp, stagedPath(snap.version), StandardCopyOption.ATOMIC_MOVE)
      }
      Files.deleteIfExists(tmp)
      snap.copy(manifests = refs)
    } catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        Files.deleteIfExists(tmp)
        val existing = parseSnapshot(Files.readAllBytes(stagedPath(snap.version)))
        require(existing.batchId == snap.batchId,
          s"stage conflict at v${snap.version}: ${existing.batchId} != ${snap.batchId}")
        existing
    }
  }

  /** The current staged candidate, if any. */
  def stagedSnapshot(): Option[Snapshot] = {
    if (!Files.isDirectory(stagedDir)) return None
    val st = Files.list(stagedDir)
    val names = try st.iterator().asScala.map(_.getFileName.toString)
      .filter(n => n.startsWith("staged-v") && n.endsWith(".json")).toSeq
    finally st.close()
    names.sorted.lastOption.map(n =>
      parseSnapshot(Files.readAllBytes(stagedDir.resolve(n))))
  }

  /** Promote the staged candidate to the real commit. Fails if the table
    * advanced past the candidate's parent since it was staged (the batch
    * must be re-derived against the new current — WAP is single-writer). */
  def publishStaged(): Snapshot = {
    val snap = stagedSnapshot().getOrElse(
      throw new IllegalStateException("nothing staged"))
    val cur = currentSnapshot()
    require(cur.version == snap.parentVersion,
      s"cannot publish staged v${snap.version}: table advanced to " +
        s"v${cur.version} past its parent v${snap.parentVersion}")
    val committed = commit(snap)
    Files.deleteIfExists(stagedPath(snap.version))
    committed
  }

  /** Drop the staged candidate and exactly the files IT added (entries
    * with `addedVersion == staged version`); carried-over parent files
    * stay. Returns the deleted data-file paths. */
  def discardStaged(): Seq[Path] = {
    val snap = stagedSnapshot().getOrElse(
      throw new IllegalStateException("nothing staged"))
    // Never delete a path a COMMITTED snapshot references (same walk
    // orphanFiles does): if an out-of-band commit ever landed files under
    // the candidate's names (impossible for candidates staged with unique
    // -w tags, but cheap to guarantee by construction), those paths now
    // carry live data and discarding the candidate must not destroy it.
    val committedSnaps = listVersions().map(readSnapshot)
    val committedRefs = committedSnaps
      .flatMap(s => s.files.map(_.path) ++ s.deleteFiles.map(_.path)).toSet
    // a MoR delta path is listed as both a data and a delete entry
    val added = (snap.files.filter(_.addedVersion == snap.version).map(_.path) ++
      snap.deleteFiles.filter(_.addedVersion == snap.version).map(_.path))
      .distinct.filterNot(committedRefs.contains)
    // the candidate's own manifests go too — but content-addressed
    // manifests for UNTOUCHED buckets are shared with the parent and stay
    val committedMans = committedSnaps.flatMap(_.manifests.map(_.path)).toSet
    val stagedOnlyMans = snap.manifests.map(_.path).filterNot(committedMans.contains)
    // manifest first: a crash mid-discard leaves only invisible orphans
    Files.deleteIfExists(stagedPath(snap.version))
    stagedOnlyMans.foreach(rel => Files.deleteIfExists(root.resolve(rel)))
    added.map { rel =>
      val p = root.resolve(rel)
      Files.deleteIfExists(p)
      p
    }
  }

  /** Schema including system columns, as stored in data files. */
  def physicalSchema(s: Snapshot): StructType =
    StructType(s.schema.fields ++ Array(
      StructField(SeqCol, LongType, nullable = false),
      StructField(DeletedCol, BooleanType, nullable = false)))

  /** Read raw rows (incl. tombstones + system cols) of the given buckets;
    * `buckets = None` reads everything. Missing evolved columns in old
    * files are null-filled by the explicit read schema. Merge-on-read
    * delete files are applied (see [[readFiles]]), so every reader built
    * on this — [[read]], [[readAsOf]], [[lookup]], [[changesBetween]],
    * [[changeDeltas]] — sees one visible row per key regardless of how
    * many MoR deltas are stacked. */
  def readRaw(spark: SparkSession, snap: Snapshot, buckets: Option[Set[Int]] = None): DataFrame = {
    val (sel, dels) = buckets match {
      case Some(bs) => (snap.files.filter(f => bs.contains(f.bucket)),
        snap.deleteFiles.filter(d => bs.contains(d.bucket)))
      case None => (snap.files, snap.deleteFiles)
    }
    readFiles(spark, physicalSchema(snap), sel, dels, snap.renames)
  }

  /** Read an explicit data-file selection through `schema`, applying
    * merge-on-read delete files of both kinds:
    *
    *   - equality: a delete file at `addedVersion` dv removes its keys from
    *     every data file with `addedVersion < dv` (never from its own
    *     commit's data file). Between compactions only a handful of
    *     distinct addedVersions exist, so the union below has few legs.
    *   - positional (deletion vectors): an anti-join on the exact
    *     (`file_name`, `row_index`) pairs the vectors name — no version
    *     arithmetic and no key-width cost (file identity comes free from
    *     the parquet reader's `_metadata` columns, selected per scan leg).
    *
    * Either delete side is trickle-sized and broadcast (under
    * [[BroadcastDeleteRows]] rows) so the data side stays a plain scan —
    * no shuffle is added to any read path. Compaction folds the deltas and
    * clears the delete files, which is the maintenance lever that bounds
    * both stacks. */
  def readFiles(spark: SparkSession, schema: StructType,
      sel: Seq[DataFileEntry], dels: Seq[DeleteFileEntry],
      renames: Map[String, Seq[String]] = Map.empty): DataFrame = {
    // Rename-aware wrapper (zero-cost when no live rename touches this
    // schema): files written before a rename carry the OLD physical column
    // name and null-fill the current one, so the read widens its schema
    // with the alias chain and coalesces it back into the current name —
    // any file populates at most one link of the chain. Alias fields use
    // the CURRENT (possibly promoted) type: the parquet reader performs
    // the same scan-upcast it does for the current name.
    val live = renames.filter { case (cur, _) => schema.fieldNames.contains(cur) }
    if (live.nonEmpty) {
      val aliasFields = live.toSeq.sortBy(_._1).flatMap { case (cur, formers) =>
        formers.map(a => StructField(a, schema(cur).dataType, nullable = true))
      }
      val wide = StructType(schema.fields ++ aliasFields)
      return readFiles(spark, wide, sel, dels).select(schema.fields.map { f =>
        live.get(f.name) match {
          case Some(formers) => coalesce((f.name +: formers).map(col): _*).as(f.name)
          case None          => col(f.name)
        }
      }.toSeq: _*)
    }
    if (sel.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    val selBuckets = sel.map(_.bucket).toSet
    val minAv = sel.map(_.addedVersion).min
    val (pos0, eq0) = dels.partition(_.kind == DeleteFileEntry.Positional)
    val eqDels = eq0.filter(d => selBuckets.contains(d.bucket) && d.addedVersion > minAv)
    // a vector never references its own commit's files, so bucket overlap
    // is the only applicability test positional deletes need
    val posDels = pos0.filter(d => selBuckets.contains(d.bucket))
    if (eqDels.isEmpty && posDels.isEmpty)
      return spark.read.schema(schema).parquet(sel.map(f => root.resolve(f.path).toString): _*)
    def leg(fs: Seq[DataFileEntry], av: Long): DataFrame = {
      var df = spark.read.schema(schema)
        .parquet(fs.map(f => root.resolve(f.path).toString): _*)
      if (posDels.nonEmpty)
        df = df.withColumn("_fname", col("_metadata.file_name"))
          .withColumn("_pos", col("_metadata.row_index"))
      if (eqDels.nonEmpty) df = df.withColumn("_av", lit(av))
      df
    }
    var data =
      if (eqDels.isEmpty) leg(sel, 0L)
      else sel.groupBy(_.addedVersion).toSeq
        .map { case (av, fs) => leg(fs, av) }.reduce(_ unionByName _)
    if (posDels.nonEmpty) {
      val dv = spark.read.schema(LakeTable.DvFileSchema)
        .parquet(posDels.map(f => root.resolve(f.path).toString): _*)
      val small = posDels.map(_.rows).sum <= LakeTable.BroadcastDeleteRows
      data = data.join(if (small) broadcast(dv) else dv,
          data("_fname") === dv("_dfname") && data("_pos") === dv("_dpos"),
          "left_anti")
        .drop("_fname", "_pos")
    }
    if (eqDels.nonEmpty) {
      val delDf = eqDels.groupBy(_.addedVersion).toSeq.map { case (dv, fs) =>
        spark.read.schema(LakeTable.DeleteFileSchema)
          .parquet(fs.map(f => root.resolve(f.path).toString): _*)
          .select(col("url").as("_durl")).withColumn("_dv", lit(dv))
      }.reduce(_ unionByName _)
      val small = eqDels.map(_.rows).sum <= LakeTable.BroadcastDeleteRows
      data = data.join(if (small) broadcast(delDf) else delDf,
          data("url") === col("_durl") && col("_dv") > col("_av"), "left_anti")
        .drop("_av")
    }
    data
  }

  /** Live rows, user schema only (tombstones and system columns dropped). */
  def read(spark: SparkSession): DataFrame = {
    val snap = currentSnapshot()
    val cols = snap.schema.fieldNames.map(col).toSeq
    readRaw(spark, snap).filter(!col(DeletedCol)).select(cols: _*)
  }

  /** Time-travel read: live rows exactly as of the given committed snapshot
    * version, through THAT snapshot's schema (a version before an additive
    * evolution has the narrower column set — Iceberg `VERSION AS OF`
    * semantics). Snapshot manifests are immutable and data files are never
    * mutated in place, so this is a plain manifest-driven scan of the old
    * file set; cost is identical to a current-version read of the same data. */
  def readAsOf(spark: SparkSession, version: Long): DataFrame = {
    val snap = readSnapshot(version)
    val cols = snap.schema.fieldNames.map(col).toSeq
    readRaw(spark, snap).filter(!col(DeletedCol)).select(cols: _*)
  }

  /** Buckets whose data-file sets differ between two snapshots. A bucket
    * with an identical (path, rows) file list cannot contain a logical
    * change — MERGE rewrites every touched bucket's files under new
    * version-scoped names — so [[changesBetween]] never has to read it.
    * (Compaction also renames files, making an untouched bucket *look*
    * changed; the diff then correctly yields zero rows for it.) */
  def changedBuckets(from: Snapshot, to: Snapshot): Set[Int] = {
    def byBucket(s: Snapshot): Map[Int, Seq[(String, Long)]] =
      (s.files.map(f => (f.bucket, (f.path, f.rows))) ++
        s.deleteFiles.map(d => (d.bucket, (d.path, d.rows))))
        .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val a = byBucket(from)
    val b = byBucket(to)
    (a.keySet ++ b.keySet).filter(k => a.get(k) != b.get(k))
  }

  /** Incremental changelog between two committed versions (Iceberg
    * `table_changes` analog): one row per key whose VISIBLE state differs,
    * classified `I` (absent-or-tombstoned before, live after), `U` (live in
    * both with a different winning `_seq`), `D` (live before, tombstoned
    * after). Payload columns come from the `to` side (the tombstone row's
    * nulled payload for `D`), read through the `to` snapshot's schema.
    *
    * Scale shape: only [[changedBuckets]] are read on BOTH sides — a batch
    * touching 1% of buckets diffs 1% of the table regardless of total size —
    * and the join is a bucket-colocated full-outer on the key (both sides
    * share the url-hash layout, so AQE plans a shuffle on url that
    * repartitions only the changed buckets' rows). */
  def changesBetween(spark: SparkSession, fromVersion: Long, toVersion: Long): DataFrame = {
    require(fromVersion <= toVersion, s"fromVersion $fromVersion > toVersion $toVersion")
    val s1 = readSnapshot(fromVersion)
    val s2 = readSnapshot(toVersion)
    val changed = changedBuckets(s1, s2)
    val old = readRaw(spark, s1, Some(changed))
      .select(col("url"), col(SeqCol).as("_seq_old"), col(DeletedCol).as("_del_old"))
    val neu = readRaw(spark, s2, Some(changed))
    val payload = s2.schema.fieldNames.filterNot(_ == "url").toSeq
    val j = neu.join(old, Seq("url"), "full_outer")
    val liveOld = col("_seq_old").isNotNull && !col("_del_old")
    val liveNew = col(SeqCol).isNotNull && !col(DeletedCol)
    val changeOp = when(!liveOld && liveNew, lit("I"))
      .when(liveOld && liveNew && col(SeqCol) =!= col("_seq_old"), lit("U"))
      .when(liveOld && !liveNew, lit("D"))
    j.withColumn("change_op", changeOp)
      .filter(col("change_op").isNotNull)
      .select(col("change_op") +: col("url") +: payload.map(col): _*)
  }

  /** Incremental changelog WITH pre-images (Delta Lake CDF
    * `update_preimage`/`update_postimage` analog): one row per key whose
    * visible state differs between the two committed versions, carrying
    * `change_op` (`I`/`U`/`D`) plus every payload column twice —
    * `<c>_before` (the `from`-side live value; null for `I`) and
    * `<c>_after` (the `to`-side live value; null for `D`). This is the
    * delta shape downstream INCREMENTAL consumers need: a materialized
    * aggregate can be maintained from (before, after) pairs alone —
    * `U` contributes `after − before`, `I` contributes `+after`, `D`
    * contributes `−before` — without ever rescanning the table
    * (see the `cdc_incr_mview` harness query).
    *
    * Pre-images across an additive schema evolution are null-filled: a
    * column that did not exist in the `from` snapshot's schema has a null
    * `_before` (typed to the `to` schema), exactly Iceberg/Delta read-time
    * semantics for old files. Scale shape is [[changesBetween]]'s: only
    * [[changedBuckets]] are read on either side, and the full-outer key
    * join shuffles only the changed buckets' rows — delta cost is
    * proportional to change volume, never table size. Reference analog:
    * the row-level before/after compare of `data_validator.py:292-337`,
    * emitted as a consumable stream instead of a report. */
  def changeDeltas(spark: SparkSession, fromVersion: Long, toVersion: Long): DataFrame = {
    require(fromVersion <= toVersion, s"fromVersion $fromVersion > toVersion $toVersion")
    val s1 = readSnapshot(fromVersion)
    val s2 = readSnapshot(toVersion)
    val changed = changedBuckets(s1, s2)
    val payload = s2.schema.fieldNames.filterNot(_ == "url").toSeq
    val oldHas = s1.schema.fieldNames.toSet
    val old = readRaw(spark, s1, Some(changed)).select(
      col("url") +: col(SeqCol).as("_seq_old") +: col(DeletedCol).as("_del_old") +:
        payload.map { c =>
          val v = if (oldHas(c)) col(c)
                  else lit(null).cast(s2.schema(c).dataType)
          v.as(s"${c}_before")
        }: _*)
    val neu = readRaw(spark, s2, Some(changed)).select(
      col("url") +: col(SeqCol) +: col(DeletedCol) +:
        payload.map(c => col(c).as(s"${c}_after")): _*)
    val j = neu.join(old, Seq("url"), "full_outer")
    val liveOld = col("_seq_old").isNotNull && !col("_del_old")
    val liveNew = col(SeqCol).isNotNull && !col(DeletedCol)
    val changeOp = when(!liveOld && liveNew, lit("I"))
      .when(liveOld && liveNew && col(SeqCol) =!= col("_seq_old"), lit("U"))
      .when(liveOld && !liveNew, lit("D"))
    // null the non-live side's images so a tombstone's stale payload can
    // never leak into a consumer's delta arithmetic
    j.withColumn("change_op", changeOp)
      .filter(col("change_op").isNotNull)
      .select(col("change_op") +: col("url") +:
        (payload.map(c => when(liveOld, col(s"${c}_before")).as(s"${c}_before")) ++
          payload.map(c => when(liveNew, col(s"${c}_after")).as(s"${c}_after"))): _*)
  }

  /** Per-commit lineage rows across all snapshots → the `_lineage` metadata
    * table (north rule: per-partition offset ranges, row counts, snapshot ids). */
  def lineage(spark: SparkSession): DataFrame = {
    import spark.implicits._
    listVersions().sorted.flatMap { v =>
      val s = readSnapshot(v)
      s.lineage.map { m =>
        (s.version, s.batchId,
          m.getOrElse("bucket", -1L).toString.toLong,
          m.getOrElse("rows", 0L).toString.toLong,
          m.getOrElse("segFrom", -1L).toString.toLong,
          m.getOrElse("segTo", -1L).toString.toLong)
      }
    }.toDF("snapshot_version", "batch_id", "bucket", "rows", "seg_from", "seg_to")
  }

  /** Per-commit metrics rows → the `_metrics` metadata table. */
  def metrics(spark: SparkSession): DataFrame = {
    import spark.implicits._
    listVersions().sorted.map { v =>
      val s = readSnapshot(v)
      def g(k: String): Long = s.metrics.get(k).map(_.toString.toDouble.toLong).getOrElse(0L)
      (s.version, s.batchId, g("events"), g("upserts"), g("deletes"),
        g("durationMs"), s.watermarkSegment)
    }.toDF("snapshot_version", "batch_id", "events", "upserts", "deletes",
      "duration_ms", "watermark_segment")
  }

  /** Iceberg `files` metadata-table analog: one row per manifest entry of
    * the current snapshot — data files AND equality-delete files — built
    * entirely from the committed manifest (a metadata-only query: zero
    * data-file IO, O(files) driver rows). Exposing the manifest as a
    * relation is what lets an operator ask "which buckets are long-tail?",
    * "how deep is the delete stack?", "what does the zone-map coverage
    * look like?" with plain SQL instead of reading 100 TB. The DuckDB
    * oracle parses the same snapshot JSON independently, so the commit
    * protocol's on-disk contract itself sits under the oracle's hash check.
    * A merge-on-read delta file is its commit's equality-delete file too,
    * so a `delete` row may share its path and size with a `data` row:
    * `size_bytes` does not add up across kinds. */
  def filesDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val s = currentSnapshot()
    val data = s.files.map(f => ("data", f.path, f.bucket.toLong, f.rows,
      f.sizeBytes, f.addedVersion, f.tsMinMicros, f.tsMaxMicros))
    val dels = s.deleteFiles.map(d => ("delete", d.path, d.bucket.toLong, d.rows,
      d.sizeBytes, d.addedVersion, None: Option[Long], None: Option[Long]))
    (data ++ dels).toDF("kind", "path", "bucket", "rows", "size_bytes",
      "added_version", "ts_min_micros", "ts_max_micros")
  }

  /** Iceberg `snapshots`/`history` metadata-table analog: one row per
    * committed version with its commit strategy (bulk / pruned rewrite /
    * mor) and file/row footprint — the table's whole history as a
    * relation, again manifest-only. */
  def snapshotsDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    listVersions().sorted.map { v =>
      val s = readSnapshot(v)
      (s.version, s.batchId, s.parentVersion, s.watermarkSegment,
        s.numBuckets.toLong, s.files.size.toLong, s.files.map(_.rows).sum,
        s.deleteFiles.size.toLong, s.deleteFiles.map(_.rows).sum,
        s.metrics.get("strategy").map(_.toString).getOrElse(""))
    }.toDF("version", "batch_id", "parent_version", "watermark_segment",
      "num_buckets", "n_data_files", "data_rows", "n_delete_files",
      "delete_rows", "strategy")
  }

  /** Schema-evolution history (Iceberg `metadata_log_entries`-style audit
    * trail): one row per committed version with its column count and the
    * columns ADDED relative to its parent snapshot — "when did
    * content_len appear, and in which commit?". The schema travels in
    * every snapshot JSON, so this is manifest-only driver arithmetic
    * (zero data-file IO), and the DuckDB oracle re-derives the same
    * relation by parsing each snapshot's serialized schemaJson
    * independently — putting the evolution contract itself (additive
    * only; a version never silently drops or retypes a column) under the
    * driver's hash gate. */
  def schemaHistoryDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val snaps = listVersions().sorted.map(readSnapshot)
    val byV = snaps.map(s => s.version -> s).toMap
    snaps.map { s =>
      val cols = s.schema.fieldNames.toSeq
      val parentCols = byV.get(s.parentVersion)
        .map(_.schema.fieldNames.toSet).getOrElse(Set.empty[String])
      val added = cols.filterNot(parentCols).sorted
      (s.version, s.batchId, cols.size.toLong, added.mkString(","))
    }.toDF("version", "batch_id", "n_columns", "added_columns")
  }

  /** Manifest-planned point lookup: current live rows for the given keys,
    * reading ONLY the data files of the buckets the keys hash into (the
    * serving-layer read path of a key-bucketed lake table: at 100 TB /
    * B buckets a k-key lookup opens at most k buckets' files, never the
    * table). Bucket ids come from [[LakeTable.bucketOf]] — the driver-side
    * twin of [[LakeTable.bucketExpr]] — so planning needs no Spark job;
    * the residual `url IN (...)` filter is pushed to the parquet scan. */
  def lookup(spark: SparkSession, urls: Seq[String]): DataFrame = {
    val snap = currentSnapshot()
    val cols = snap.schema.fieldNames.map(col).toSeq
    readRaw(spark, snap, Some(lookupBuckets(snap, urls)))
      .filter(col("url").isin(urls: _*) && !col(DeletedCol))
      .select(cols: _*)
  }

  private def lookupBuckets(snap: Snapshot, urls: Seq[String]): Set[Int] =
    urls.map(u => LakeTable.bucketOf(u, snap.numBuckets)).toSet

  /** The exact file set [[lookup]] will read — exposed so callers (and the
    * pruning spec) can assert the planned scan, Iceberg `planFiles` style. */
  def lookupFiles(snap: Snapshot, urls: Seq[String]): Seq[DataFileEntry] = {
    val bs = lookupBuckets(snap, urls)
    snap.files.filter(f => bs.contains(f.bucket))
  }

  /** The file set a `warc_ts ∈ [loMicros, hiMicros]` scan must read,
    * planned from the manifest's per-file zone maps (Iceberg
    * `planFiles`-with-stats analog): a file is skipped only when its
    * recorded [tsMin, tsMax] provably cannot intersect the range; files
    * without stats are always kept. Pure manifest arithmetic — no Spark
    * job, no footer opens. */
  def filesInRange(snap: Snapshot, loMicros: Long, hiMicros: Long): Seq[DataFileEntry] =
    snap.files.filter { f =>
      (f.tsMinMicros, f.tsMaxMicros) match {
        case (Some(mn), Some(mx)) => mx >= loMicros && mn <= hiMicros
        case _                    => true // unbounded: never skip
      }
    }

  /** Time-slice scan: current live rows whose `warc_ts` lies in
    * `[loMicros, hiMicros]` (inclusive, micros since epoch), reading ONLY
    * the files [[filesInRange]] plans. On a time-sorted-compacted table
    * (see `CdcIngest.compact`) the per-bucket files partition the ts range,
    * so at 100 TB "last week's pages" opens last week's files instead of
    * the table; the residual timestamp predicate is pushed to the parquet
    * scan for row-group pruning inside the kept files. NULL `warc_ts`
    * never matches (SQL predicate semantics). */
  def readRange(spark: SparkSession, loMicros: Long, hiMicros: Long): DataFrame = {
    val snap = currentSnapshot()
    val cols = snap.schema.fieldNames.map(col).toSeq
    def inst(us: Long) = java.time.Instant.ofEpochSecond(
      Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L)
    val sel = filesInRange(snap, loMicros, hiMicros)
    // delete keys apply per url, so every delete file of the selected
    // buckets applies even when some of its bucket's data files are pruned
    // (bucket SET, not a per-delete-file scan of the selection — trickle
    // tables stack hundreds of delete files against thousands of data
    // files and the quadratic filter was pure driver planning waste)
    val selBuckets = sel.iterator.map(_.bucket).toSet
    val raw = readFiles(spark, physicalSchema(snap), sel,
      snap.deleteFiles.filter(d => selBuckets(d.bucket)), snap.renames)
    raw.filter(!col(DeletedCol) &&
        col("warc_ts") >= lit(inst(loMicros)) && col("warc_ts") <= lit(inst(hiMicros)))
      .select(cols: _*)
  }

  private def statCompare(typ: String, a: String, b: String): Int =
    LakeTable.statOrder(typ, a, b)

  /** Manifest-only file pruning on ANY column with harvested bounds (the
    * generalized twin of [[filesInRange]]'s warc_ts zone maps — Iceberg's
    * lower/upper-bounds planning): keep files whose [min,max] for `column`
    * overlaps [lo,hi] (None = unbounded side). A file with no recorded
    * stat for the column is ALWAYS kept — pruning degrades to correct,
    * never to wrong. Pruning has teeth only when the data is clustered on
    * the column (see compact's `clusterBy`): time-sorted files scatter
    * e.g. `lang` across every file, clustered ones give each file a tight
    * range. Bounds are passed in the stat's string domain ("long" /
    * "double" stats compare numerically). */
  def filesInColRange(snap: Snapshot, column: String,
      lo: Option[String], hi: Option[String]): Seq[DataFileEntry] = {
    // pre-rename files record their stat under the old PHYSICAL name —
    // consult the alias chain so renamed columns keep pruning; a file with
    // no stat under any name stays un-pruned (degrades to correct)
    val names = column +: snap.renames.getOrElse(column, Seq.empty)
    snap.files.filter { f =>
      names.iterator.flatMap(n => f.colStats.get(n)).nextOption().forall { st =>
        lo.forall(l => statCompare(st.typ, st.max, l) >= 0) &&
          hi.forall(h => statCompare(st.typ, st.min, h) <= 0)
      }
    }
  }

  /** Predicate-pruned live read on a stats-carrying column: plan the file
    * set from the manifest ([[filesInColRange]]), then apply the residual
    * filter row-wise. Not for `warc_ts` (use [[readRange]] — its stat is
    * micros, not the column's external type). */
  def readColRange(spark: SparkSession, column: String,
      lo: Option[String], hi: Option[String]): DataFrame = {
    val snap = currentSnapshot()
    val cols = snap.schema.fieldNames.map(col).toSeq
    val sel = filesInColRange(snap, column, lo, hi)
    val selBuckets = sel.iterator.map(_.bucket).toSet
    val raw = readFiles(spark, physicalSchema(snap), sel,
      snap.deleteFiles.filter(d => selBuckets(d.bucket)), snap.renames)
    val dt = snap.schema(column).dataType
    val c = col(column)
    val live = raw.filter(!col(DeletedCol))
    val bounded = (lo, hi) match {
      case (Some(l), Some(h)) => live.filter(c >= lit(l).cast(dt) && c <= lit(h).cast(dt))
      case (Some(l), None)    => live.filter(c >= lit(l).cast(dt))
      case (None, Some(h))    => live.filter(c <= lit(h).cast(dt))
      case (None, None)       => live
    }
    bounded.select(cols: _*)
  }

  /** Expire old snapshots (Iceberg `expire_snapshots` analog): keep the
    * newest `keepLast` versions, delete the older manifests, then delete
    * data files referenced ONLY by expired snapshots. A file shared with any
    * retained snapshot survives, so retained reads (including [[readAsOf]]
    * within the retention window) are byte-identical before and after; time
    * travel to an expired version fails on its missing manifest. Expiration
    * is metadata-first: a crash after the manifest deletes leaves only
    * orphan data files (invisible, re-collectable), never a torn table.
    * @return (expired versions, deleted data-file paths) */
  /** Iceberg type-promotion analog (ALTER TABLE … TYPE): widen a column
    * along the promotion matrix as a METADATA-ONLY commit. The file set is
    * untouched — existing files keep their narrower physical type and
    * Spark 4's parquet reader upcasts them at scan time — while every
    * later merge writes the widened type, so a table converges to the new
    * physical type through normal compaction. Restricted to the widenings
    * the vectorized reader performs natively (integral ladder + float→
    * double); promotions that need a data rewrite (→decimal, →string,
    * date→timestamp) are refused with a rewrite hint rather than silently
    * committing an unreadable schema. At 100 TB this is the difference
    * between an O(1) DDL and rewriting the table. */
  def promoteColumn(name: String, to: DataType): Snapshot = {
    val cur = currentSnapshot()
    val field = cur.schema.fields.find(_.name == name).getOrElse(
      throw new NoSuchElementException(
        s"no column '$name' (have: ${cur.schema.fieldNames.mkString(", ")})"))
    import org.apache.spark.sql.types._
    val scanUpcastable = (field.dataType, to) match {
      case (a, b) if a == b => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case _ => false
    }
    require(graft.schema.TypeMapper.promotable(field.dataType, to),
      s"cannot promote $name: ${field.dataType.simpleString} -> " +
        s"${to.simpleString} is not in the promotion matrix")
    require(scanUpcastable,
      s"promotion $name: ${field.dataType.simpleString} -> ${to.simpleString} " +
        "needs a data rewrite (compact/rebucket after casting), not a " +
        "metadata-only commit — the parquet reader cannot upcast it in place")
    val widened = StructType(cur.schema.fields.map(f =>
      if (f.name == name) f.copy(dataType = to) else f))
    commit(Snapshot(
      version = cur.version + 1, batchId = s"promote-$name-${to.simpleString}",
      parentVersion = cur.version, watermarkSegment = cur.watermarkSegment,
      schemaJson = widened.json, numBuckets = cur.numBuckets,
      files = cur.files, lineage = Seq.empty,
      metrics = Map[String, Any]("events" -> 0L, "upserts" -> 0L, "deletes" -> 0L),
      deleteFiles = cur.deleteFiles, renames = cur.renames, retired = cur.retired))
  }

  // ---- rename / drop evolution (Iceberg field-ID analog) -------------

  /** Columns the CDC engine itself keys on: `url` is the merge/delete-file
    * identity and `warc_ts` the LWW order + zone-map column — renaming or
    * dropping either would silently break every existing delete file and
    * manifest stat, so both are structural and refused. */
  private val StructuralCols = Set("url", "warc_ts")

  /** Rename a column as a METADATA-ONLY commit (Iceberg `ALTER TABLE …
    * RENAME COLUMN` analog — zero file rewrites at any scale). Existing
    * files keep the old physical column; the snapshot records the alias
    * chain and every read coalesces it back (see [[readFiles]]). Incoming
    * batches that still produce the old source name are mapped forward by
    * the ingest path. The old name stays reserved — a later column may not
    * reuse it (commit-gate resurrection guard). */
  def renameColumn(from: String, to: String): Snapshot = {
    val cur = currentSnapshot()
    require(!StructuralCols.contains(from),
      s"'$from' is structural to the CDC engine (merge key / LWW order) and cannot be renamed")
    require(cur.schema.fieldNames.contains(from),
      s"no column '$from' (have: ${cur.schema.fieldNames.mkString(", ")})")
    require(to.nonEmpty && to.head.isLetter &&
        to.forall(c => c.isLetterOrDigit || c == '_'),
      s"invalid column name '$to' (want [A-Za-z][A-Za-z0-9_]*)")
    require(!cur.schema.fieldNames.contains(to), s"column '$to' already exists")
    val ghosts = cur.renames.values.flatten.toSet ++ cur.retired
    require(!ghosts.contains(to),
      s"'$to' is a retired/alias physical name still present in data files")
    val renamed = StructType(cur.schema.fields.map(f =>
      if (f.name == from) f.copy(name = to) else f))
    commit(Snapshot(
      version = cur.version + 1, batchId = s"rename-$from-$to",
      parentVersion = cur.version, watermarkSegment = cur.watermarkSegment,
      schemaJson = renamed.json, numBuckets = cur.numBuckets,
      files = cur.files, lineage = Seq.empty,
      metrics = Map[String, Any]("events" -> 0L, "upserts" -> 0L, "deletes" -> 0L),
      deleteFiles = cur.deleteFiles,
      renames = (cur.renames - from) +
        (to -> (from +: cur.renames.getOrElse(from, Seq.empty))),
      retired = cur.retired))
  }

  /** Drop a column as a METADATA-ONLY commit (Iceberg `ALTER TABLE … DROP
    * COLUMN` analog). Files are untouched — readers simply stop selecting
    * the column — and all its physical names (the column plus its rename
    * alias chain) are RETIRED so no later add can resurrect the dead data
    * still sitting in old files. Time travel to a pre-drop version reads
    * the column normally (each snapshot carries its own schema). */
  def dropColumn(name: String): Snapshot = {
    val cur = currentSnapshot()
    require(!StructuralCols.contains(name),
      s"'$name' is structural to the CDC engine (merge key / LWW order) and cannot be dropped")
    require(cur.schema.fieldNames.contains(name),
      s"no column '$name' (have: ${cur.schema.fieldNames.mkString(", ")})")
    require(cur.schema.fields.length > StructuralCols.size,
      "refusing to drop: table would be left with only structural columns")
    val narrowed = StructType(cur.schema.fields.filterNot(_.name == name))
    commit(Snapshot(
      version = cur.version + 1, batchId = s"drop-$name",
      parentVersion = cur.version, watermarkSegment = cur.watermarkSegment,
      schemaJson = narrowed.json, numBuckets = cur.numBuckets,
      files = cur.files, lineage = Seq.empty,
      metrics = Map[String, Any]("events" -> 0L, "upserts" -> 0L, "deletes" -> 0L),
      deleteFiles = cur.deleteFiles,
      renames = cur.renames - name,
      retired = (cur.retired ++ (name +: cur.renames.getOrElse(name, Seq.empty))).distinct))
  }

  // ---- named refs (Iceberg tag analog) ------------------------------

  def refsDir: Path = root.resolve("refs")

  /** Tag a committed version with an immutable name (Iceberg tag analog):
    * an audit/rollback anchor that [[expireSnapshots]] must retain. Claimed
    * with the same link(2) discipline as version files, so a tag can never
    * be silently re-pointed — re-tagging the same name at the same version
    * is an idempotent no-op, at a different version an error. */
  def tag(name: String, version: Long): Unit = {
    require(name.nonEmpty && name.forall(c => c.isLetterOrDigit || c == '-' || c == '_'),
      s"tag name must be [A-Za-z0-9_-]+, got '$name'")
    readSnapshot(version) // throws if the version does not exist
    Files.createDirectories(refsDir)
    val tmp = refsDir.resolve(s".tmp-${java.util.UUID.randomUUID()}")
    Files.write(tmp, version.toString.getBytes("UTF-8"))
    try {
      try Files.createLink(refsDir.resolve(name), tmp)
      catch {
        case _: UnsupportedOperationException =>
          Files.move(tmp, refsDir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
      }
      Files.deleteIfExists(tmp)
    } catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        Files.deleteIfExists(tmp)
        val existing = tags()(name)
        require(existing == version,
          s"tag '$name' already points at v$existing (tags are immutable)")
    }
  }

  def tags(): Map[String, Long] =
    if (!Files.isDirectory(refsDir)) Map.empty
    else {
      val st = Files.list(refsDir)
      try st.iterator().asScala
        .filterNot(_.getFileName.toString.startsWith("."))
        .map(p => p.getFileName.toString ->
          new String(Files.readAllBytes(p), "UTF-8").trim.toLong)
        .toMap
      finally st.close()
    }

  /** Resolve a version number or tag name to a version. */
  def resolveVersion(ref: String): Long =
    if (ref.nonEmpty && ref.forall(_.isDigit)) ref.toLong
    else tags().getOrElse(ref,
      throw new NoSuchElementException(s"no tag named '$ref'" +
        (if (tags().isEmpty) " (no tags exist)" else s"; tags: ${tags().keys.mkString(", ")}")))

  /** Iceberg rollback analog: commit a NEW snapshot whose content — file
    * set (data + delete), schema, bucket count AND watermark — is an exact
    * copy of `toVersion`'s, so both the visible state and the ingest
    * resume point return to that version while history stays intact
    * (nothing is deleted; "roll forward" is just another rollback).
    * Re-ingesting afterwards replays the WAL tail above the restored
    * watermark and converges to the oracle state again (spec-pinned).
    * Restoring a pre-evolution schema is the one legitimate schema
    * regression, so the commit's evolution gate is bypassed explicitly. */
  def rollback(toVersion: Long): Snapshot = {
    val target = readSnapshot(toVersion)
    val cur = currentSnapshot()
    require(toVersion <= cur.version,
      s"cannot roll back to v$toVersion: table is at v${cur.version}")
    commit(Snapshot(
      version = cur.version + 1,
      batchId = s"rollback-to-v$toVersion",
      parentVersion = cur.version,
      watermarkSegment = target.watermarkSegment,
      schemaJson = target.schemaJson,
      numBuckets = target.numBuckets,
      files = target.files,
      lineage = Seq.empty,
      metrics = Map[String, Any]("events" -> 0L, "upserts" -> 0L,
        "deletes" -> 0L, "rolledBackTo" -> toVersion),
      deleteFiles = target.deleteFiles,
      renames = target.renames, retired = target.retired),
      allowSchemaRegression = true)
  }

  def expireSnapshots(keepLast: Int): (Seq[Long], Seq[Path]) = {
    require(keepLast >= 1, s"keepLast must retain the current snapshot, got $keepLast")
    val versions = listVersions().sorted
    val tagged = tags().values.toSet
    val (expireByAge, keepByAge) =
      versions.splitAt(math.max(0, versions.size - keepLast))
    // tagged versions are retention anchors (Iceberg semantics): they and
    // their files survive any age-based expiration until the tag is removed
    val expire = expireByAge.filterNot(tagged.contains)
    val keep = keepByAge ++ expireByAge.filter(tagged.contains)
    val expireSnaps = expire.map(readSnapshot)
    val keepSnaps = keep.map(readSnapshot) ++ stagedSnapshot()
    def dataPaths(s: Snapshot): Seq[String] =
      s.files.map(_.path) ++ s.deleteFiles.map(_.path)
    val keptFiles = keepSnaps.flatMap(dataPaths).toSet
    val doomed = expireSnaps.flatMap(dataPaths).distinct.filterNot(keptFiles.contains)
    // manifest files referenced ONLY by expired snapshots go with them
    // (content-addressed manifests shared with any retained snapshot —
    // the common case for untouched buckets — survive)
    val keptMans = keepSnaps.flatMap(_.manifests.map(_.path)).toSet
    val doomedMans = expireSnaps.flatMap(_.manifests.map(_.path))
      .distinct.filterNot(keptMans.contains)
    expire.foreach(v => Files.deleteIfExists(snapPath(v)))
    doomedMans.foreach(rel => Files.deleteIfExists(root.resolve(rel)))
    val deleted = doomed.sorted.map { rel =>
      val p = root.resolve(rel)
      Files.deleteIfExists(p)
      p
    }
    (expire, deleted)
  }

  /** Data files not referenced by any snapshot (orphans from crashed batches).
    * Safe to delete; exposed for tests/GC. */
  def orphanFiles(): Seq[Path] = {
    // staged candidates count as referenced: GC running between stage and
    // publish must never eat the candidate's files
    val referenced = (listVersions().map(readSnapshot) ++ stagedSnapshot())
      .flatMap(s => s.files.map(_.path) ++ s.deleteFiles.map(_.path)).toSet
    if (!Files.isDirectory(dataDir)) Seq.empty
    else listDirEntries(dataDir)
      .filter(p => !referenced.contains(root.relativize(p).toString))
  }

  /** Manifest files not referenced by any committed or staged snapshot —
    * debris from crashed or lost-race commits (manifests are written
    * before the version claim). Invisible to every reader; safe to
    * delete. Swept by the gc CLI alongside [[orphanFiles]]. */
  def orphanManifests(): Seq[Path] = {
    val referenced = (listVersions().map(readSnapshot) ++ stagedSnapshot())
      .flatMap(_.manifests.map(_.path)).toSet
    if (!Files.isDirectory(manifestsDir)) Seq.empty
    else listDirEntries(manifestsDir)
      .filter(p => !p.getFileName.toString.startsWith("."))
      .filter(p => !referenced.contains(root.relativize(p).toString))
  }

  /** Root-level `.tmp-*` spill directories whose ENTIRE tree is older
    * than `olderThanMs` — crash debris from a writer killed between its
    * Spark output and [[graft.ingest.CdcIngest]]'s move-into-place (which
    * deletes the tmp dir on success). Invisible to every reader, but at
    * scale a single abandoned dir is a whole batch rewrite of dead bytes,
    * and neither [[orphanFiles]] (dataDir only) nor [[orphanManifests]]
    * sweeps the root. The age guard is the NEWEST mtime anywhere in the
    * tree, not the root dir's own: Spark task output lands in nested
    * subdirectories (`_temporary/attempt…/`) and never touches the root
    * dir's mtime, so a root-only guard would call a >1h-old dir stale
    * while a long-running live job is still writing into it. A tree that
    * mutates mid-walk (entry vanishes) is by definition live and is kept —
    * `Files.walk`'s iterator surfaces such races as
    * `java.io.UncheckedIOException` (a RuntimeException), so BOTH
    * exception shapes classify as live. Default age is 24 h (lake-engine
    * practice: Iceberg's remove_orphan_files defaults to 3 days; a live
    * writer queued behind a busy scheduler can legitimately go >1 h with
    * no mtime update), operator-tunable via the gc CLI's --older-than-hours. */
  def staleTmpDirs(olderThanMs: Long = 24L * 60 * 60 * 1000): Seq[Path] = {
    val cutoff = System.currentTimeMillis() - olderThanMs
    listDirEntries(root)
      .filter(p => Files.isDirectory(p) &&
        p.getFileName.toString.startsWith(".tmp-"))
      .filter { d =>
        try {
          val st = Files.walk(d)
          val newest =
            try st.iterator().asScala
              .map(p => Files.getLastModifiedTime(p).toMillis).max
            finally st.close()
          newest < cutoff
        } catch { // mutating → live
          case _: java.io.IOException | _: java.io.UncheckedIOException => false
        }
      }
  }
}

object LakeTable {
  val SeqCol = "_seq"
  val DeletedCol = "_deleted"
  val BucketCol = "_bucket"
  /** Total order within one [[ColStat]] comparison domain. Strings compare
    * in unsigned UTF-8 BYTE order — the order the parquet footer's binary
    * min/max stats were selected in AND the order Spark's residual filter
    * compares UTF8String values in. `String.compareTo` (UTF-16 code units)
    * diverges from both for supplementary characters vs U+E000–U+FFFF,
    * which would let [[filesInColRange]] silently prune a file that
    * contains matching rows. */
  def statOrder(typ: String, a: String, b: String): Int = typ match {
    case "long"   => java.lang.Long.compare(a.toLong, b.toLong)
    case "double" => java.lang.Double.compare(a.toDouble, b.toDouble)
    case _ => java.util.Arrays.compareUnsigned(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
  /** Read schema of an equality-delete file: just the key. */
  val DeleteFileSchema: StructType =
    StructType(Seq(StructField("url", StringType, nullable = false)))
  /** Read schema of a positional deletion-vector file: the superseded
    * row's data-file BASENAME (version-scoped names are unique within a
    * table, and basenames survive a table move) and its 0-based row index
    * as the parquet reader reports it (`_metadata.row_index`). */
  val DvFileSchema: StructType = StructType(Seq(
    StructField("_dfname", StringType, nullable = false),
    StructField("_dpos", LongType, nullable = false)))
  /** Delete sets at or under this many keys are broadcast in the read-time
    * anti-join (≈100 B/url → ≤200 MB); larger stacks fall back to a
    * relational anti-join and signal that compaction is overdue. */
  val BroadcastDeleteRows: Long = 2000000L
  private val SnapName = raw"v(\d+)\.json".r
  private[lake] val Mapper = new ObjectMapper()

  /** Eager fd-safe directory listing — `Files.list` holds a directory fd
    * until close(), so dropping the stream leaks one per call. The ONE
    * shared listing utility for the engine (table internals, ingest's
    * move-into-place, bench/query fixtures) so an fd-handling fix lands
    * everywhere at once. */
  def listDir(dir: Path): Seq[Path] = {
    val st = Files.list(dir)
    try st.iterator().asScala.toVector
    finally st.close()
  }

  /** Recursive delete with the walk stream CLOSED; no-op when `p` is
    * absent (so a path that vanished between listing and deletion — e.g.
    * a gc sweep racing a writer's own cleanup — is not an error). The
    * same tolerance extends to races INSIDE the tree: an entry vanishing
    * mid-walk surfaces as `UncheckedIOException` from the walk iterator,
    * and concurrent creation makes the reverse-order `deleteIfExists`
    * throw `DirectoryNotEmptyException` — either means a racer owns (part
    * of) the tree, so this delete skips what it lost and returns instead
    * of aborting the caller's whole sweep (MainIngest `gc --delete`
    * deletes many dirs in one pass). Non-race I/O failures (permissions,
    * read-only fs) still propagate. */
  def deleteRecursively(p: Path): Unit = {
    val all =
      try {
        if (!Files.exists(p)) return
        val st = Files.walk(p)
        try st.iterator().asScala.toVector finally st.close()
      } catch {
        // tree mutated under the walk → a live writer owns it; leave it
        case _: java.io.UncheckedIOException => return
        case _: java.nio.file.NoSuchFileException => return
      }
    all.reverse.foreach { q =>
      try Files.deleteIfExists(q)
      catch {
        // a racer re-populated this dir after we deleted its (old)
        // children — its contents are not ours to remove
        case _: java.nio.file.DirectoryNotEmptyException => ()
      }
    }
  }

  /** Bucket assignment — pure function of the key so it never needs to be
    * stored: `pmod(hash(url), numBuckets)` (north rule's salted url-hash
    * partitioning of the lake layout). Uses Spark's murmur3 `hash` so that
    * when the MERGE join runs with `repartition(numBuckets, url)`, Spark's
    * HashPartitioning index EQUALS the bucket id — the join output is
    * already bucket-clustered and the write needs no extra shuffle. */
  def bucketExpr(numBuckets: Int): org.apache.spark.sql.Column =
    pmod(hash(col("url")), lit(numBuckets)).cast("int")

  /** Driver-side twin of [[bucketExpr]]: the bucket id of one key, computed
    * without a Spark job (Spark's Murmur3 with the `hash()` seed 42). Lets
    * point lookups plan their file set straight from the manifest. Equality
    * with [[bucketExpr]] is pinned by LakeMaintenanceSpec. */
  def bucketOf(url: String, numBuckets: Int): Int = {
    val h = org.apache.spark.sql.catalyst.expressions.Murmur3HashFunction
      .hash(org.apache.spark.unsafe.types.UTF8String.fromString(url),
        org.apache.spark.sql.types.StringType, 42L).toInt
    ((h % numBuckets) + numBuckets) % numBuckets
  }

  def create(rootDir: String, schema: StructType, numBuckets: Int): LakeTable = {
    val root = Paths.get(rootDir)
    Files.createDirectories(root.resolve("snapshots"))
    Files.createDirectories(root.resolve("data"))
    val t = new LakeTable(root)
    t.commit(Snapshot(
      version = 0L, batchId = "create", parentVersion = -1L,
      watermarkSegment = -1L, schemaJson = schema.json, numBuckets = numBuckets,
      files = Seq.empty, lineage = Seq.empty, metrics = Map.empty))
    t
  }

  def load(rootDir: String): LakeTable = new LakeTable(Paths.get(rootDir))

  private def renderDataEntry(
      fn: com.fasterxml.jackson.databind.node.ObjectNode, f: DataFileEntry): Unit = {
    fn.put("path", f.path); fn.put("bucket", f.bucket); fn.put("rows", f.rows)
    fn.put("sizeBytes", f.sizeBytes)
    f.tsMinMicros.foreach(fn.put("tsMinMicros", _))
    f.tsMaxMicros.foreach(fn.put("tsMaxMicros", _))
    fn.put("addedVersion", f.addedVersion)
    if (f.colStats.nonEmpty) {
      val cs = fn.putObject("colStats")
      f.colStats.toSeq.sortBy(_._1).foreach { case (c, st) =>
        val o = cs.putObject(c)
        o.put("t", st.typ); o.put("min", st.min); o.put("max", st.max)
      }
    }
  }

  private def renderDeleteEntry(
      fn: com.fasterxml.jackson.databind.node.ObjectNode, f: DeleteFileEntry): Unit = {
    fn.put("path", f.path); fn.put("bucket", f.bucket); fn.put("rows", f.rows)
    fn.put("sizeBytes", f.sizeBytes); fn.put("addedVersion", f.addedVersion)
    if (f.kind != DeleteFileEntry.Equality) fn.put("kind", f.kind)
  }

  /** Canonical (compact, key-order-stable, entries path-sorted by the
    * caller) manifest content — its bytes are the identity the sha-256
    * content address is computed over. */
  def renderManifest(bucket: Int,
      fs: Seq[DataFileEntry], ds: Seq[DeleteFileEntry]): String = {
    val node = Mapper.createObjectNode()
    node.put("bucket", bucket)
    val files = node.putArray("files")
    fs.foreach(f => renderDataEntry(files.addObject(), f))
    if (ds.nonEmpty) {
      val dels = node.putArray("deleteFiles")
      ds.foreach(d => renderDeleteEntry(dels.addObject(), d))
    }
    Mapper.writeValueAsString(node)
  }

  /** Snapshot JSON: every scalar commit field plus the manifest LIST —
    * O(buckets) entries naming the per-bucket manifest files — never the
    * O(total files) inline entry arrays the pre-shard format carried. */
  def renderSnapshot(s: Snapshot, refs: Seq[ManifestRef]): String = {
    val node = Mapper.createObjectNode()
    node.put("version", s.version)
    node.put("batchId", s.batchId)
    node.put("parentVersion", s.parentVersion)
    node.put("watermarkSegment", s.watermarkSegment)
    node.put("schemaJson", s.schemaJson)
    node.put("numBuckets", s.numBuckets)
    val ms = node.putArray("manifests")
    refs.foreach { r =>
      val mn = ms.addObject()
      mn.put("path", r.path); mn.put("bucket", r.bucket)
      mn.put("dataFiles", r.dataFiles); mn.put("deleteFiles", r.deleteFiles)
    }
    val lin = node.putArray("lineage")
    s.lineage.foreach { m =>
      val ln = lin.addObject()
      m.foreach { case (k, v) => putAny(ln, k, v) }
    }
    val met = node.putObject("metrics")
    s.metrics.foreach { case (k, v) => putAny(met, k, v) }
    // rename/drop evolution state — serialized only when present, so every
    // pre-rename snapshot (and the byte-stable metadata-table oracles that
    // re-parse it) is unchanged
    if (s.renames.nonEmpty) {
      val rn = node.putObject("renames")
      s.renames.toSeq.sortBy(_._1).foreach { case (cur, formers) =>
        val arr = rn.putArray(cur)
        formers.foreach(arr.add)
      }
    }
    if (s.retired.nonEmpty) {
      val ra = node.putArray("retired")
      s.retired.foreach(ra.add)
    }
    Mapper.writerWithDefaultPrettyPrinter().writeValueAsString(node)
  }

  private def putAny(n: com.fasterxml.jackson.databind.node.ObjectNode, k: String, v: Any): Unit =
    v match {
      case l: Long   => n.put(k, l)
      case i: Int    => n.put(k, i.toLong)
      case d: Double => n.put(k, d)
      case other     => n.put(k, String.valueOf(other))
    }
}
