package graft

import org.apache.spark.sql.SparkSession

import graft.feed.{FeedGen, FeedSpec}
import graft.ingest.CdcIngest
import graft.ingest.CdcIngest.IngestConfig
import graft.lake.LakeTable

/** spark-submit entry point for the CDC engine (the reference's
  * run_migration.py / cli.py analog, SURVEY.md §3 E1-E2).
  *
  * Usage:
  *   MainIngest gen    <feedDir> <numEvents> <numUrls> [eventsPerSegment] [evolveAt]
  *   MainIngest init   <tableDir> [numBuckets]
  *   MainIngest ingest <tableDir> <feedDir> [segmentsPerBatch] [saltBuckets]
  *   MainIngest show   <tableDir>
  *
  * `ingest` is resumable: the checkpoint is the committed snapshot
  * watermark; re-running after completion is a no-op.
  */
object MainIngest {

  private def requireVersions(table: graft.lake.LakeTable, vs: Long*): Unit = {
    val have = table.listVersions().toSet
    vs.filterNot(have).foreach { v =>
      System.err.println(
        s"no snapshot v$v; available: v${have.toSeq.sorted.mkString(", v")}")
      sys.exit(2)
    }
  }

  def usage(): Nothing = {
    System.err.println(
      """usage:
        |  MainIngest gen    <feedDir> <numEvents> <numUrls> [eventsPerSegment] [evolveAtEvent]
        |  MainIngest init   <tableDir> [numBuckets]
        |  MainIngest ingest <tableDir> <feedDir> [segmentsPerBatch] [saltBuckets] [maxFileRows] [--mor [--dv]]
        |  MainIngest stream <tableDir> <feedDir> [checkpointDir] [mviewDir] [--mor [--dv]]
        |  MainIngest compact <tableDir> [--cluster col,col | --zorder col,col] [tombstoneHorizonIso] [minFilesPerBucket] [maxFileRows]
        |  MainIngest rebucket <tableDir> <newBuckets> [maxFileRows]
        |  MainIngest expire  <tableDir> <keepLastSnapshots>
        |  MainIngest lookup  <tableDir> <url> [url...]
        |  MainIngest slice   <tableDir> <fromIso> <toIso>
        |  MainIngest asof    <tableDir> <version|tag>
        |  MainIngest stage   <tableDir> <feedDir> [segmentsPerBatch]
        |  MainIngest audit   <tableDir>
        |  MainIngest publish <tableDir>
        |  MainIngest discard <tableDir>
        |  MainIngest where   <tableDir> <column> <lo|-> <hi|->
        |  MainIngest promote <tableDir> <column> <ddlType>
        |  MainIngest rename-column <tableDir> <from> <to>
        |  MainIngest drop-column   <tableDir> <column>
        |  MainIngest tag     <tableDir> <name> [version]
        |  MainIngest tags    <tableDir>
        |  MainIngest rollback <tableDir> <version|tag>
        |  MainIngest gc      <tableDir> [--delete] [--older-than-hours=N]
        |  MainIngest changes <tableDir> <fromVersion> <toVersion>
        |  MainIngest deltas  <tableDir> <fromVersion> <toVersion>
        |  MainIngest mview   <tableDir> <mvDir>
        |  MainIngest fsck    <feedDir> [--deep] [--repair-tail]
        |  MainIngest export <tableDir> <outDir> [json|csv|parquet] [--checksums]
        |  MainIngest files   <tableDir>
        |  MainIngest history <tableDir>
        |  MainIngest show   <tableDir>
        |  MainIngest run      <registry.json> [manifestPath]
        |  MainIngest validate <registry.json>
        |  MainIngest list     <registry.json>
        |  MainIngest parse-copybook <file.cpy>
        |  MainIngest parse-ddl      <file.sql|.ddl>
        |  MainIngest parse-dcl      <file.dcl>""".stripMargin)
    sys.exit(2)
  }

  private def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val b = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"))
      .appName("graft-cdc-ingest")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      // set before the context starts, so its startup INFO lines are
      // suppressed too (a setLogLevel after getOrCreate comes too late)
      .config("spark.log.level", "WARN")
    // local-cluster[N,c,mem] mode: separate executor JVMs need the repo
    // classes on their classpath (and module opens on JDK 17)
    sys.env.get("SPARK_GRAFT_EXEC_CP").foreach { cp =>
      b.config("spark.executor.extraClassPath", cp)
    }
    sys.env.get("SPARK_GRAFT_EXEC_OPTS").foreach { o =>
      b.config("spark.executor.extraJavaOptions", o)
    }
    b.getOrCreate()
  }

  def main(args: Array[String]): Unit = args.toList match {
    case "gen" :: feedDir :: n :: u :: rest =>
      val perSeg = rest.headOption.map(_.toInt).getOrElse(1000)
      val evolveAt = rest.drop(1).headOption.map(_.toInt).getOrElse(-1)
      val spec = FeedSpec(numEvents = n.toInt, numUrls = u.toInt,
        eventsPerSegment = perSeg, evolveAtEvent = evolveAt)
      val paths = FeedGen.writeSegments(spec, feedDir)
      println(s"wrote ${paths.size} segments (${spec.numEvents} events) to $feedDir")

    case "init" :: tableDir :: rest =>
      val buckets = rest.headOption.map(_.toInt).getOrElse(32)
      LakeTable.create(tableDir, CdcIngest.PagesSchemaV1, buckets)
      println(s"created table at $tableDir with $buckets buckets")

    case "ingest" :: tableDir :: feedDir :: rest0 =>
      val mor = rest0.contains("--mor")
      val dv = rest0.contains("--dv")
      val rest = rest0.filterNot(a => a == "--mor" || a == "--dv")
      val perBatch = rest.headOption.map(_.toInt).getOrElse(4)
      val salt = rest.drop(1).headOption.map(_.toInt).getOrElse(16)
      val maxFileRows = rest.drop(2).headOption.map(_.toLong).getOrElse(0L)
      val spark = session()
      val table = LakeTable.load(tableDir)
      val before = table.currentSnapshot()
      val t0 = System.nanoTime()
      val snaps = CdcIngest.run(spark, table, feedDir,
        IngestConfig(numBuckets = before.numBuckets, saltBuckets = salt,
          segmentsPerBatch = perBatch, maxFileRows = maxFileRows,
          mergeOnRead = mor, deleteVectors = dv))
      val secs = (System.nanoTime() - t0) / 1e9
      if (snaps.isEmpty)
        println(s"nothing to do: table already at segment ${before.watermarkSegment}")
      else {
        val events = snaps.map(_.metrics.get("events").map(_.toString.toDouble.toLong).getOrElse(0L)).sum
        println(f"applied ${snaps.size} batches, $events events in $secs%.2f s " +
          f"(${events / secs}%.0f events/s); table now at v${snaps.last.version}, " +
          s"segment ${snaps.last.watermarkSegment}")
      }
      spark.stop()

    // Structured Streaming front-end: drains the WAL dir via availableNow
    // foreachBatch MERGE (resumable through the checkpoint dir)
    case "stream" :: tableDir :: feedDir :: rest0 =>
      val mor = rest0.contains("--mor")
      val dv = rest0.contains("--dv")
      val rest = rest0.filterNot(a => a == "--mor" || a == "--dv")
      val ckpt = rest.headOption
      val mv = rest.drop(1).headOption
      val spark = session()
      val table = graft.lake.LakeTable.load(tableDir)
      val cfg = IngestConfig(numBuckets = table.currentSnapshot().numBuckets,
        mergeOnRead = mor, deleteVectors = dv)
      val n = graft.ingest.StreamingIngest.run(spark, table, feedDir, cfg,
        checkpointDir = ckpt, mviewRoot = mv)
      val snap = table.currentSnapshot()
      println(s"streamed $n micro-batches; table now at v${snap.version}, " +
        s"segment ${snap.watermarkSegment}" +
        mv.map(r => s"; mview at v${graft.lake.MaterializedView
          .appliedVersion(r).getOrElse(-1L)}").getOrElse(""))
      spark.stop()

    // per-bucket file rewrite + optional tombstone GC (late-data horizon).
    // minFilesPerBucket scopes the rewrite to the SMALL-FILE LONG TAIL:
    // only buckets holding at least that many files are rewritten — the
    // routine maintenance shape at scale, where a full-table rewrite of
    // well-compacted buckets would be 100 TB of wasted IO.
    case "compact" :: tableDir :: rest0 =>
      // --cluster col[,col]: clustering sort order for the rewrite (the
      // lever that makes generalized column-bound pruning effective)
      val clusterBy = rest0.sliding(2).collectFirst {
        case Seq("--cluster", cols) => cols.split(',').toSeq.filter(_.nonEmpty)
      }.getOrElse(Seq.empty)
      // --zorder col,col: multi-dimensional clustering — every named
      // column's zone maps prune at once (see ZOrder.zvalue)
      val zOrderBy = rest0.sliding(2).collectFirst {
        case Seq("--zorder", cols) => cols.split(',').toSeq.filter(_.nonEmpty)
      }.getOrElse(Seq.empty)
      val rest = Seq("--cluster", "--zorder").foldLeft(rest0) { (r, flag) =>
        val i = r.indexOf(flag)
        if (i < 0) r else r.patch(i, Nil, 2)
      }
      // numeric args: first = minFilesPerBucket, second = maxFileRows; any
      // non-numeric arg must be an ISO-8601 horizon (parse fails LOUDLY —
      // a mistyped horizon must never be silently reinterpreted)
      val nums = rest.filter(a => a.nonEmpty && a.forall(_.isDigit))
      val horizon = rest.filterNot(nums.contains).headOption.map(h =>
        java.sql.Timestamp.from(java.time.Instant.parse(h)))
      // parse as Long first: an epoch-millis value overflows Int and must
      // hit the friendly range error below, not a NumberFormatException
      val minFiles = nums.headOption.map(a => BigInt(a))
      val maxFileRows = nums.drop(1).headOption.map(_.toLong).getOrElse(0L)
      minFiles.filter(k => k < 2 || k > 100000).foreach { k =>
        System.err.println(s"minFilesPerBucket $k out of range [2, 100000] " +
          "(an epoch-millis horizon? pass ISO-8601, e.g. 2020-01-01T00:00:00Z)")
        sys.exit(2)
      }
      val spark = session()
      val table = LakeTable.load(tableDir)
      val cur = table.currentSnapshot()
      val before = cur.files.size
      // long-tail selection counts DATA + EQUALITY-DELETE files: a stacked
      // MoR delete chain is the same read-amplification as small files
      // (every read of the bucket opens the whole stack), so minFiles also
      // triggers the minor compaction that folds it
      val buckets = minFiles.map { k =>
        (cur.files.map(_.bucket) ++ cur.deleteFiles.map(_.bucket))
          .groupBy(identity).collect { case (b, bs) if bs.size >= k => b }.toSet
      }
      buckets.filter(_.isEmpty).foreach { _ =>
        println(s"nothing to do: no bucket has >= ${minFiles.get} files " +
          "(data + delete)")
        spark.stop(); sys.exit(0)
      }
      val snap = CdcIngest.compact(spark, table, horizon, buckets, maxFileRows,
        clusterBy = clusterBy, zOrderBy = zOrderBy)
      println(s"compacted $before -> ${snap.files.size} files at v${snap.version}" +
        buckets.map(bs => s" (${bs.size} long-tail buckets)").getOrElse("") +
        horizon.map(h => s" (tombstones before $h dropped)").getOrElse("") +
        (if (clusterBy.nonEmpty) s" (clustered by ${clusterBy.mkString(",")})" else "") +
        (if (zOrderBy.nonEmpty) s" (z-ordered by ${zOrderBy.mkString(",")})" else ""))
      spark.stop()

    // partition-spec evolution: grow (or shrink) the url-hash bucket count;
    // each snapshot carries its own numBuckets, so readers/lookups/merges
    // switch layouts from the manifest — no flag day
    case "rebucket" :: tableDir :: newBuckets :: rest =>
      val maxFileRows = rest.headOption.map(_.toLong).getOrElse(0L)
      val spark = session()
      val table = LakeTable.load(tableDir)
      val before = table.currentSnapshot().numBuckets
      val snap = CdcIngest.rebucket(spark, table, newBuckets.toInt, maxFileRows)
      println(s"rebucketed $before -> ${snap.numBuckets} buckets " +
        s"(${snap.files.size} files) at v${snap.version}")
      spark.stop()

    // snapshot retention (Iceberg expire_snapshots analog) — pure metadata
    // + file deletes, no Spark session needed
    case "expire" :: tableDir :: keep :: Nil =>
      val table = LakeTable.load(tableDir)
      val (versions, files) = table.expireSnapshots(keepLast = keep.toInt)
      println(s"expired ${versions.size} snapshots " +
        s"(${versions.headOption.getOrElse("-")}..${versions.lastOption.getOrElse("-")}), " +
        s"deleted ${files.size} data files; " +
        s"retained: v${table.listVersions().sorted.mkString(", v")}")

    // manifest-planned point lookup: opens only the keys' buckets' files
    case "lookup" :: tableDir :: url :: more =>
      val spark = session()
      val table = LakeTable.load(tableDir)
      val keys = url :: more
      val planned = table.lookupFiles(table.currentSnapshot(), keys)
      println(s"planned ${planned.size} files in " +
        s"${planned.map(_.bucket).distinct.size} buckets for ${keys.size} keys")
      table.lookup(spark, keys).show(keys.size, 80)
      spark.stop()

    // zone-map time slice: live rows with warc_ts in [fromIso, toIso],
    // file set planned from the manifest's per-file [tsMin, tsMax] stats —
    // on a time-sorted-compacted table this opens the slice's files, not
    // the table (the "last week's pages" read path at 100 TB)
    case "slice" :: tableDir :: fromIso :: toIso :: Nil =>
      val spark = session()
      val table = LakeTable.load(tableDir)
      def micros(iso: String): Long = {
        val i = java.time.Instant.parse(iso)
        i.getEpochSecond * 1000000L + i.getNano / 1000L
      }
      val (lo, hi) = (micros(fromIso), micros(toIso))
      val snap = table.currentSnapshot()
      val planned = table.filesInRange(snap, lo, hi)
      println(s"planned ${planned.size} of ${snap.files.size} files for " +
        s"[$fromIso, $toIso]")
      val df = table.readRange(spark, lo, hi)
      println(s"${df.count()} live rows in slice")
      df.orderBy("warc_ts").show(10, 60)
      spark.stop()

    // time travel: read the table as of a committed snapshot version,
    // through that snapshot's own schema (Iceberg VERSION AS OF analog)
    case "asof" :: tableDir :: ref :: Nil =>
      val spark = session()
      val table = LakeTable.load(tableDir)
      val version = table.resolveVersion(ref) // version number or tag name
      requireVersions(table, version)
      val df = table.readAsOf(spark, version)
      println(s"v$version: ${df.count()} live rows, " +
        s"schema [${df.schema.fieldNames.mkString(", ")}]")
      df.show(10, 60)
      spark.stop()

    // write-audit-publish (Iceberg WAP analog): stage the next batch where
    // readers cannot see it, audit its would-be-visible state, then
    // publish or discard — a quality gate with no bad version ever served
    case "stage" :: tableDir :: feedDir :: rest =>
      val spark = session()
      val table = LakeTable.load(tableDir)
      val cfg = IngestConfig(numBuckets = table.currentSnapshot().numBuckets,
        segmentsPerBatch = rest.headOption.map(_.toInt).getOrElse(5))
      graft.ingest.CdcIngest.stageNext(spark, table, feedDir, cfg) match {
        case Some(s) => println(s"staged v${s.version} through segment " +
          s"${s.watermarkSegment} (readers still serve v${s.parentVersion}) " +
          "— audit then publish/discard")
        case None => println("nothing to stage: feed fully applied")
      }
      spark.stop()

    case "audit" :: tableDir :: Nil =>
      val spark = session()
      val table = LakeTable.load(tableDir)
      val errs = graft.ingest.CdcIngest.auditStaged(spark, table)
      if (errs.isEmpty) println("audit PASSED — publish to serve it")
      else {
        errs.foreach(e => println(s"audit FAILED: $e"))
        spark.stop(); sys.exit(1)
      }
      spark.stop()

    case "publish" :: tableDir :: Nil =>
      val table = LakeTable.load(tableDir)
      val snap = table.publishStaged()
      println(s"published v${snap.version}; readers now serve it")

    case "discard" :: tableDir :: Nil =>
      val table = LakeTable.load(tableDir)
      val dropped = table.discardStaged()
      println(s"discarded staged candidate (${dropped.size} files removed)")

    // manifest-planned predicate read over the generalized column bounds:
    // `where <t> <col> <lo> <hi>` ('-' = unbounded side); prints the
    // pruning ratio so the clustering payoff is visible operationally
    case "where" :: tableDir :: column :: lo :: hi :: Nil =>
      val spark = session()
      val table = LakeTable.load(tableDir)
      val snap = table.currentSnapshot()
      if (!snap.schema.fieldNames.contains(column)) {
        System.err.println(s"no such column '$column'; table has: " +
          snap.schema.fieldNames.mkString(", "))
        spark.stop(); sys.exit(2)
      }
      def b(s: String) = if (s == "-") None else Some(s)
      val sel = table.filesInColRange(snap, column, b(lo), b(hi))
      println(s"manifest pruning: ${sel.size} of ${snap.files.size} files planned")
      val df = table.readColRange(spark, column, b(lo), b(hi))
      println(s"rows: ${df.count()}")
      df.show(10, 60)
      spark.stop()

    // type promotion (ALTER TABLE … TYPE): metadata-only widening along
    // the promotion matrix; old files upcast at scan time
    case "promote" :: tableDir :: column :: ddlType :: Nil =>
      val table = LakeTable.load(tableDir)
      val to = org.apache.spark.sql.types.DataType.fromDDL(ddlType)
      val before = table.currentSnapshot().schema(column).dataType.simpleString
      val snap = table.promoteColumn(column, to)
      println(s"promoted $column: $before -> ${to.simpleString} at v${snap.version} " +
        "(metadata-only; existing files upcast at scan time)")

    // rename/drop evolution (ALTER TABLE … RENAME/DROP COLUMN): metadata-
    // only commits; old files keep their physical columns and readers map
    // them through the snapshot's alias chain
    case "rename-column" :: tableDir :: from :: to :: Nil =>
      val table = LakeTable.load(tableDir)
      val snap = table.renameColumn(from, to)
      println(s"renamed $from -> $to at v${snap.version} (metadata-only; " +
        "pre-rename files read through the alias chain)")

    case "drop-column" :: tableDir :: column :: Nil =>
      val table = LakeTable.load(tableDir)
      val snap = table.dropColumn(column)
      println(s"dropped $column at v${snap.version} (metadata-only; the " +
        "physical name is retired — time travel to earlier versions still reads it)")

    // immutable named refs (Iceberg tag analog): audit/rollback anchors
    // that `expire` retains regardless of age
    case "tag" :: tableDir :: name :: rest if rest.size <= 1 =>
      val table = LakeTable.load(tableDir)
      val v = rest.headOption.map(_.toLong)
        .getOrElse(table.currentSnapshot().version)
      table.tag(name, v)
      println(s"tagged v$v as '$name'")

    case "tags" :: tableDir :: Nil =>
      val table = LakeTable.load(tableDir)
      val ts = table.tags().toSeq.sortBy(_._2)
      if (ts.isEmpty) println("no tags")
      else ts.foreach { case (n, v) => println(s"$n -> v$v") }

    // Iceberg rollback analog: restore a version's content + watermark as
    // a NEW commit (history intact; later WAL segments re-apply on the
    // next ingest)
    case "rollback" :: tableDir :: ref :: Nil =>
      val table = LakeTable.load(tableDir)
      val v = table.resolveVersion(ref)
      requireVersions(table, v)
      val snap = table.rollback(v)
      println(s"rolled back to v$v as v${snap.version}; " +
        s"watermark segment ${snap.watermarkSegment}")

    // orphan-file GC (Iceberg remove_orphan_files analog): data files not
    // referenced by ANY snapshot — crashed batches, lost compaction races
    case "gc" :: tableDir :: rest if rest.forall(a =>
        a == "--delete" || a.startsWith("--older-than-hours=")) =>
      val table = LakeTable.load(tableDir)
      val orphans = table.orphanFiles() ++ table.orphanManifests()
      // abandoned .tmp-* spill dirs, age-guarded (default 24 h; an
      // operator who KNOWS no writer is live can pass a lower
      // --older-than-hours — see LakeTable.staleTmpDirs)
      val hours = rest.collectFirst {
        case a if a.startsWith("--older-than-hours=") =>
          a.stripPrefix("--older-than-hours=").toLong
      }.getOrElse(24L)
      val tmpDirs = table.staleTmpDirs(hours * 60L * 60 * 1000)
      if (orphans.isEmpty && tmpDirs.isEmpty) println("no orphan files")
      else if (rest.contains("--delete")) {
        orphans.foreach(p => java.nio.file.Files.deleteIfExists(p))
        // shared fd-safe recursive delete; no-op if a dir vanished
        // between the staleTmpDirs() listing and this sweep
        tmpDirs.foreach(LakeTable.deleteRecursively)
        println(s"deleted ${orphans.size} orphan files, " +
          s"${tmpDirs.size} stale tmp dirs")
      } else {
        orphans.foreach(p => println(s"orphan: $p"))
        tmpDirs.foreach(p => println(s"stale tmp dir: $p"))
        println(s"${orphans.size} orphan files + ${tmpDirs.size} stale tmp " +
          "dirs (re-run with --delete to remove)")
      }

    // incremental changelog: I/U/D diff between two committed versions,
    // reading only buckets whose file sets changed (table_changes analog)
    case "changes" :: tableDir :: fromV :: toV :: Nil =>
      val spark = session()
      val table = LakeTable.load(tableDir)
      requireVersions(table, fromV.toLong, toV.toLong)
      val df = table.changesBetween(spark, fromV.toLong, toV.toLong)
      val byOp = df.groupBy("change_op").count().collect()
        .map(r => s"${r.getString(0)}=${r.getLong(1)}").sorted.mkString(", ")
      println(s"changes v$fromV -> v$toV: $byOp")
      df.orderBy("url").show(10, 60)
      spark.stop()

    // WAL integrity check: walk every segment's framing (and with --deep,
    // decode + canonically re-encode every record) and report the first
    // corrupt byte offset per file. Driver-side only — no Spark session;
    // ingest itself stays fail-fast, this locates the damage to excise.
    case "fsck" :: feedDir :: rest =>
      val deep = rest.contains("--deep")
      val repairTail = rest.contains("--repair-tail")
      val conf = new org.apache.hadoop.conf.Configuration()
      val segs = CdcIngest.listSegments(feedDir, conf)
      if (segs.isEmpty) { println(s"no segments under $feedDir"); sys.exit(2) }
      val tailId = segs.map(_._1).max
      var bad = 0
      var records = 0L
      segs.foreach { case (id, path) =>
        val p = new org.apache.hadoop.fs.Path(path)
        val fs = p.getFileSystem(conf)
        val len = fs.getFileStatus(p).getLen
        // sanity bound BEFORE allocating: a >=2 GiB "segment" would turn
        // len.toInt negative and crash the very tool meant to diagnose it
        if (len > (1L << 30)) {
          bad += 1
          println(f"segment $id%6d CORRUPT: size $len%d bytes exceeds the " +
            "1 GiB segment sanity bound — not a WAL segment")
        } else {
        val bytes = new Array[Byte](len.toInt)
        val in = fs.open(p)
        try in.readFully(0L, bytes) finally in.close()
        graft.codec.RecordCodec.verifySegment(bytes, deep) match {
          case Right(n) =>
            records += n
            println(f"segment $id%6d OK ($n%d records)")
          case Left((off, msg)) if repairTail && id == tailId =>
            // torn write on the WAL tail (producer crashed mid-append):
            // truncate to the end of the last fully-valid frame — Kafka
            // log-recovery semantics. Only the TAIL may be repaired this
            // way; damage in the middle of the WAL means lost history and
            // must be re-fetched from the source, never papered over.
            // The decision procedure is RecordCodec.planTailRepair — the
            // same one the cdc_torn_tail oracle query drives.
            graft.codec.RecordCodec.planTailRepair(bytes, deep) match {
              case Right((cut, n)) =>
                // truncate IN PLACE: the repaired content is a strict
                // prefix of the file, so a crash mid-operation leaves a
                // valid-or-again-repairable tail — no delete/rename
                // window that could lose the whole segment
                val truncated =
                  try fs.truncate(p, cut.toLong)
                  catch { case _: Exception => false }
                if (!truncated) {
                  val out = fs.create(p, true)
                  try out.write(bytes, 0, cut) finally out.close()
                }
                records += n
                println(f"segment $id%6d REPAIRED: truncated at byte $cut%d " +
                  f"($n%d records kept) — was: $msg")
              case Left((o2, m2)) =>
                // no valid prefix, or deep-only damage strictly before the
                // tear: report, never crash the run, never repair blindly
                bad += 1
                println(f"segment $id%6d CORRUPT at byte $o2%d: $m2")
            }
          case Left((off, msg)) =>
            bad += 1
            val hint =
              if (repairTail && id != tailId) " (mid-WAL damage — re-fetch; only the tail is repairable)"
              else ""
            println(f"segment $id%6d CORRUPT at byte $off%d: $msg$hint")
        }
        }
      }
      println(s"fsck${if (deep) " --deep" else ""}: ${segs.size} segments, " +
        s"$records records, $bad corrupt")
      if (bad > 0) sys.exit(1)

    // incrementally maintained materialized view: seed on first call (one
    // full aggregation), roll forward from change deltas on every later
    // call — refresh cost ∝ change volume since last refresh, crash-safe
    // atomic state flips, resumable like the table itself
    case "mview" :: tableDir :: mvRoot :: Nil =>
      import graft.lake.MaterializedView
      val spark = session()
      val table = LakeTable.load(tableDir)
      MaterializedView.appliedVersion(mvRoot) match {
        case None =>
          val v = MaterializedView.seed(spark, table, mvRoot)
          println(s"seeded mview at table v$v " +
            s"(${MaterializedView.read(spark, mvRoot).count()} hosts)")
        case Some(_) =>
          val (from, to) = MaterializedView.refresh(spark, table, mvRoot)
          if (from == to) println(s"nothing to do: mview already at v$to")
          else println(s"refreshed mview v$from -> v$to " +
            s"(${MaterializedView.read(spark, mvRoot).count()} hosts)")
      }
      spark.stop()

    // change-data-feed WITH pre/post-images (Delta CDF analog) — the delta
    // shape incremental consumers (downstream MV maintenance) subscribe to
    case "deltas" :: tableDir :: fromV :: toV :: Nil =>
      val spark = session()
      val table = LakeTable.load(tableDir)
      requireVersions(table, fromV.toLong, toV.toLong)
      val df = table.changeDeltas(spark, fromV.toLong, toV.toLong)
      val byOp = df.groupBy("change_op").count().collect()
        .map(r => s"${r.getString(0)}=${r.getLong(1)}").sorted.mkString(", ")
      println(s"deltas v$fromV -> v$toV: $byOp")
      df.select("change_op", "url", "warc_ts_before", "warc_ts_after",
          "lang_before", "lang_after")
        .orderBy("url").show(10, 40)
      spark.stop()

    // multi-format snapshot export + run manifest (reference K1-K3/K7 parity)
    case "export" :: tableDir :: outDir :: rest =>
      import graft.lake.Exporter
      val fmt = rest.headOption.getOrElse("json") match {
        case "csv" => Exporter.Csv
        case "parquet" => Exporter.Parquet
        case _ => Exporter.Json
      }
      val spark = session()
      val table = LakeTable.load(tableDir)
      val r = Exporter.export(spark, table.read(spark), outDir, fmt, "pages",
        withChecksums = rest.contains("--checksums"))
      val manifest = Exporter.writeManifest(outDir, Seq(r))
      println(s"exported ${r.rows} rows to ${r.path} in ${r.durationMs} ms; manifest: $manifest")
      spark.stop()

    // ---- registry-driven multi-table apply (settings.py / db2_to_json.py
    // dependency-order analog; SURVEY.md §3 CLI parity) ----
    case "run" :: regPath :: rest =>
      import graft.config.Registry
      val reg = Registry.fromFile(regPath)
      val (ok, errors) = reg.validate()
      if (!ok) {
        System.err.println("registry validation failed:")
        errors.foreach(e => System.err.println(s"  - $e"))
        sys.exit(1)
      }
      val spark = session()
      val results = Registry.runAll(spark, reg, manifestPath = rest.headOption)
      results.foreach { r =>
        val v = r.countValidation.map(c =>
          s" count=${c.actual}/${c.expected}${if (c.passed) " OK" else " FAIL"}")
          .getOrElse("")
        println(f"${r.name}%-24s batches=${r.batches} events=${r.events} " +
          f"rows=${r.rows} watermark=${r.watermark} ${r.durationMs} ms$v")
      }
      spark.stop()
      if (!results.forall(_.passed)) sys.exit(1)

    case "validate" :: regPath :: Nil =>
      val reg = graft.config.Registry.fromFile(regPath)
      val (ok, errors) = reg.validate()
      if (ok) println(s"registry OK: ${reg.feeds.size} feeds, apply order: " +
        reg.applyOrder.map(_.name).mkString(" -> "))
      else {
        println("registry validation failed:")
        errors.foreach(e => println(s"  - $e"))
        sys.exit(1)
      }

    case "list" :: regPath :: Nil =>
      val reg = graft.config.Registry.fromFile(regPath)
      reg.feeds.foreach { f =>
        val deps = if (f.dependsOn.isEmpty) "" else s" dependsOn=${f.dependsOn.mkString(",")}"
        val exp = f.expectedCount.map(c => s" expected=$c±${f.tolerancePct}%").getOrElse("")
        println(f"${f.name}%-24s feed=${f.feedDir} table=${f.tableDir}$deps$exp  ${f.description}")
      }
      println(s"total: ${reg.feeds.size} feeds")

    // ---- schema-source inspection (cli.py:125-167 parity) ----
    case "parse-copybook" :: path :: Nil =>
      import graft.schema.Copybook
      val root = Copybook.parse(new String(
        java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8"))
      println(s"record length: ${Copybook.recordLength(root)} bytes")
      println(f"${"offset"}%6s ${"len"}%4s  field")
      Copybook.layout(root).foreach { s =>
        val idx = if (s.index >= 0) s"[${s.index}]" else ""
        val pic = s.field.pic.map { p =>
          val kind = if (p.alpha) "X" else if (p.signed) "S9" else "9"
          val scale = if (p.scale > 0) s" scale=${p.scale}" else ""
          s"PIC $kind(${p.length})$scale ${s.field.usage}"
        }.getOrElse("")
        println(f"${s.offset}%6d ${s.field.unitLength}%4d  ${s.path}$idx  $pic")
      }
      println("\nSpark schema:")
      Copybook.toSparkSchema(root).fields.foreach(f =>
        println(s"  ${f.name}: ${f.dataType.simpleString}"))

    case "parse-ddl" :: path :: Nil =>
      import graft.schema.DdlParser
      val sql = new String(
        java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8")
      DdlParser.parseScript(sql).foreach { t =>
        println(s"table ${t.name}")
        t.columns.foreach(c => println(
          f"  ${c.name}%-24s ${c.sqlType}%-18s ${if (c.nullable) "" else "NOT NULL"}"))
        if (t.primaryKey.nonEmpty) println(s"  PK: ${t.primaryKey.mkString(", ")}")
        t.foreignKeys.foreach { case (cols, ref) =>
          println(s"  FK: (${cols.mkString(", ")}) -> $ref") }
        println("  Spark schema:")
        t.schema.fields.foreach(f =>
          println(s"    ${f.name}: ${f.dataType.simpleString}" +
            (if (f.nullable) "" else " NOT NULL")))
      }

    case "parse-dcl" :: path :: Nil =>
      import graft.schema.DclParser
      val r = DclParser.parseFile(path)
      println(s"table ${r.tableName} (${r.columnCount} columns)")
      r.columns.foreach(c => println(
        f"  ${c.name}%-24s ${c.sqlType}%-18s ${if (c.nullable) "" else "NOT NULL"}"))
      println("  host variables:")
      r.hostVars.foreach(v => println(
        f"    ${v.level}%02d ${v.name}%-28s ${v.pic.getOrElse("")}%-18s -> ${v.sqlColumn.getOrElse("?")}"))
      println("  Spark schema:")
      r.sparkSchema.fields.foreach(f =>
        println(s"    ${f.name}: ${f.dataType.simpleString}" +
          (if (f.nullable) "" else " NOT NULL")))

    // Iceberg metadata-table analogs: the current manifest (`files`) and
    // the commit history (`history`) as relations — manifest-only, no
    // data-file IO, so both are instant even on a huge table
    case "files" :: tableDir :: Nil =>
      val spark = session()
      val table = LakeTable.load(tableDir)
      table.filesDf(spark).orderBy("kind", "bucket", "path").show(10000, false)
      spark.stop()

    case "history" :: tableDir :: Nil =>
      val spark = session()
      val table = LakeTable.load(tableDir)
      table.snapshotsDf(spark).orderBy("version").show(10000, false)
      spark.stop()

    case "show" :: tableDir :: Nil =>
      val spark = session()
      val table = LakeTable.load(tableDir)
      val snap = table.currentSnapshot()
      println(s"snapshot v${snap.version} batch=${snap.batchId} " +
        s"watermark=${snap.watermarkSegment} files=${snap.files.size} " +
        s"schema=${snap.schema.fieldNames.mkString(",")}")
      val df = table.read(spark)
      println(s"live rows: ${df.count()}")
      df.orderBy("url").show(5, 60)
      println("-- lineage (last 5) --")
      table.lineage(spark).orderBy(org.apache.spark.sql.functions.desc("snapshot_version")).show(5)
      println("-- metrics --")
      table.metrics(spark).show(20)
      spark.stop()

    case _ => usage()
  }
}
