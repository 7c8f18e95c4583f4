package graft.ingest

import java.nio.file.{Files, Path, StandardCopyOption}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.codec.RecordCodec
import graft.lake.{DataFileEntry, LakeTable, Snapshot}
import graft.model.ChangeEvent

/** The CDC / incremental-ingest engine (north rule core; SURVEY.md §7.1 #5).
  *
  * Per micro-batch of WAL segments:
  *  1. decode — one segment scan (one task per segment, capped) feeds the
  *     native Catalyst `decode_record` expression (codegen'd, JVM-native;
  *     replaces the reference's Python UDF decode, encoding.py:279-306);
  *  2. in-batch LWW dedup, winner = max_by (warc_ts, seq) — SURVEY.md §2.6.
  *     Every batch ends in ONE aggregation, [[lwwDedup]]: one url-hash
  *     exchange, one groupBy(url). A bulk batch (large next to the table)
  *     first runs a key-only pass that decides the winners and decodes only
  *     their records ([[dedupViaKeyBroadcast]]), so the aggregation sees
  *     one row per url plus at-least-once copies; a trickle batch feeds it
  *     every decoded event;
  *  3. additive schema evolution — v2 records promote `extra` entries to
  *     typed columns; the table schema widens, old rows read as null
  *     (schema_validator.py:116-128 promotion semantics);
  *  4. MERGE — full-outer join against ONLY the touched buckets' files
  *     (manifest-driven partition pruning); last-writer-wins vs the target
  *     on (warc_ts, _seq); deletes become tombstones so later-arriving
  *     older versions still lose. A merge-on-read commit writes only the
  *     changed rows; with deletion vectors it also writes the positions
  *     of the target rows they matched, taken from the same join;
  *  5. atomic commit — data files + snapshot + checkpoint watermark +
  *     per-bucket lineage + metrics all become visible via ONE atomic
  *     rename of the snapshot JSON (exactly-once; idempotent on replay).
  *
  * Scale notes (100 TB): parallelism of decode = #segments; the only
  * shuffles are the dedup's url hash (preceded, on a bulk batch, by the
  * key pass's combined key rows) and the merge target's url hash. Hot keys
  * are bounded before that exchange: on the bulk path the key pass's
  * map-side combiner folds each url to one row per task before any
  * payload moves; a trickle batch is at most `segmentsPerBatch` segments
  * ([[run]], [[StreamingIngest]]) and, without merge-on-read, under a
  * quarter of the table's bytes, which caps any one url's group.
  * Every bucket-aligned exchange hashes url into P partitions,
  * P a divisor of `numBuckets` sized to the cluster and the data
  * ([[alignedPartitions]]), so partition = bucket mod P: each bucket
  * lands whole in one task and the merge output is written with no
  * post-join shuffle. A merge-on-read target is not forced through that
  * exchange: the optimizer broadcasts it, or co-partitions it to the
  * winners' url hash when it is too large to broadcast.
  * Read amplification is bounded by bucket pruning: untouched buckets are
  * carried into the new snapshot by reference, never rewritten.
  */
object CdcIngest {

  final case class IngestConfig(
      /** Not read by the engine: every write takes the snapshot's `numBuckets`. */
      numBuckets: Int = 32,
      segmentsPerBatch: Int = 4,
      // Target rows per data file (0 = unlimited). At 100 TB a bucket is
      // tens of GB; without a cap the merge writes ONE file per bucket —
      // a single writer task, an unsplittable scan unit, and an object-
      // store PUT far above multipart sweet spots. With a cap Spark's
      // maxRecordsPerFile rolls each bucket into bounded files; the
      // resulting multi-file buckets are what the `compact ... minFiles`
      // small-file maintenance path re-clusters (time-sorted) later.
      maxFileRows: Long = 0L,
      // Merge-on-read trickle commits (Iceberg v2 equality-delete analog):
      // instead of rewriting every touched bucket's files, a trickle batch
      // writes ONLY its changed rows, and those delta files double as the
      // commit's equality-delete key set; readers anti-join the (small,
      // broadcast) keys against older data files, and compaction folds the
      // deltas back to pure base. At 100 TB this turns a 1000-event batch
      // touching 500 buckets from a ~500-bucket rewrite into ~1000 rows of
      // writes — the write-amplification lever; the read-time cost is one
      // broadcast anti-join until the next compaction. Only the first load
      // into an empty table takes the full-merge path; every later batch,
      // whatever its size, is a merge-on-read commit.
      mergeOnRead: Boolean = false,
      // With mergeOnRead: write POSITIONAL deletion vectors (Iceberg v3 /
      // Delta DV analog) instead of equality-delete keys — the commit
      // records the exact (file, row) positions it supersedes. Write cost:
      // the merge's target read also reads each row's file name and row
      // index, and a second write of the changed rows' matched positions
      // from the same persisted frame; read benefit: the delete anti-join
      // keys on (file, pos) with no per-row key equality against stacked
      // predicates and no addedVersion arithmetic, and vectors stay
      // MINIMAL (the target holds only visible rows, so each physical
      // position is recorded at most once, ever). The two formats coexist
      // in one manifest; compaction folds both.
      deleteVectors: Boolean = false)

  /** User-facing v1 schema of the pages lake table (BASELINE.json:input_hint). */
  val PagesSchemaV1: StructType = StructType(Seq(
    StructField("url", StringType, nullable = false),
    StructField("warc_ts", TimestampType, nullable = true),
    StructField("html", BinaryType, nullable = true),
    StructField("text", StringType, nullable = true),
    StructField("lang", StringType, nullable = true)))

  private val sparkTypeOf: Map[String, DataType] =
    Map("int" -> IntegerType, "bigint" -> LongType)

  /** Injected by tests between data-file write and snapshot commit. */
  final class CrashInjected extends RuntimeException("injected crash before commit")

  // -------------------------------------------------------------------
  // 1. segment scan + decode
  // -------------------------------------------------------------------

  /** The one segment fan-out every ingest read runs on. NOT
    * spark.read.format("binaryFile"): that source packs small segment
    * files into 128MB partitions (spark.sql.files.maxPartitionBytes), which
    * serializes decode for typical WAL segment sizes and destroys scaling.
    * Instead the path list is distributed — by default one task per
    * segment, capped at 4x the cluster width — and each task reads its
    * segments through the Hadoop FS API (any Spark-supported filesystem)
    * via the executor-local [[SegmentCache]] (`retain` as there). `read`
    * gets one task's (path, bytes) pairs, lazily. */
  private def segmentScan[T: Encoder](
      spark: SparkSession,
      segmentPaths: Seq[String],
      tasks: Option[Int] = None,
      retain: Boolean = false)(
      read: Iterator[(String, Array[Byte])] => Iterator[T]): Dataset[T] = {
    val n = tasks.getOrElse(
      math.min(segmentPaths.size, spark.sparkContext.defaultParallelism * 4))
    val confBc = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(
        spark.sessionState.newHadoopConf()))
    spark.createDataset(segmentPaths)(Encoders.STRING)
      .repartition(math.max(1, n))
      .mapPartitions(ps => read(ps.map(p =>
        (p, SegmentCache.bytes(p, confBc.value.value, retain)))))
  }

  /** Decode a frame's `rec` column with the native Catalyst
    * `decode_record` expression (codegen'd; no ChangeEvent object, no
    * Encoder round-trip — [[graft.codec.RecordDecodeExpr]]) into the lake
    * event columns; the frame's other columns are dropped. */
  private def decodeRecords(recs: DataFrame): DataFrame = {
    graft.codec.RecordDecodeExpr.register(recs.sparkSession)
    recs.select(expr("decode_record(rec)").as("e")).select(col("e.*"))
  }

  /** Every event of the segments, decoded, with lake column names. Each
    * record is CRC-verified as the segment is read
    * ([[RecordCodec.readSegment]]). */
  def eventsDf(spark: SparkSession, segmentPaths: Seq[String]): DataFrame = {
    import spark.implicits._
    decodeRecords(segmentScan(spark, segmentPaths)(
      _.flatMap { case (_, bytes) => RecordCodec.readSegment(bytes) }).toDF("rec"))
  }

  private def readFile(p: String, conf: org.apache.hadoop.conf.Configuration): Array[Byte] = {
    val path = new org.apache.hadoop.fs.Path(p)
    val fs = path.getFileSystem(conf)
    val in = fs.open(path)
    try {
      val len = fs.getFileStatus(path).getLen.toInt
      val buf = new Array[Byte](len)
      in.readFully(0, buf)
      buf
    } finally in.close()
  }

  /** Executor-local segment byte cache, fusing the key pass's read with the
    * payload pass's re-read of the same segment ("fuse the duplicate
    * segment reads" — the two passes cannot be one job because the global
    * winner set must exist before payload filtering, but when the two
    * tasks land on the same executor the bytes are read once). Soft
    * references: the JVM reclaims entries under memory pressure, and a
    * payload-pass miss (other executor, eviction) just re-reads — graceful
    * on a real cluster where co-location is best-effort. */
  private[ingest] object SegmentCache {
    private val cache =
      new java.util.concurrent.ConcurrentHashMap[String, java.lang.ref.SoftReference[Array[Byte]]]()
    /** read-through; `retain=true` populates the cache for a later pass,
      * `retain=false` consumes (removes) the entry. */
    def bytes(p: String, conf: org.apache.hadoop.conf.Configuration,
        retain: Boolean): Array[Byte] = {
      val ref = if (retain) cache.get(p) else cache.remove(p)
      val hit = if (ref != null) ref.get() else null
      if (hit != null) hit
      else {
        val b = readFile(p, conf)
        if (retain) cache.put(p, new java.lang.ref.SoftReference(b))
        b
      }
    }
  }

  /** Per-url key aggregate from the map-side combiner: 128-bit url hash,
    * LWW winner (ts, seq), events folded, min/max seq seen, max schema
    * version seen (rides the key rows so the batch's evolution decision
    * needs NO driver-side segment-header reads — see applyBatch). */
  final case class KeyAgg(h1: Long, h2: Long, wts: Long, wseq: Long,
      n: Long, mn: Long, mx: Long, sv: Int)

  /** Open-addressing (h1,h2)→(wts,wseq,n,mn,mx) map over parallel primitive
    * arrays — the map-side combiner of the key pass. Zero allocation per
    * event (no boxing, no byte-array copies: the url is identified by its
    * in-place 128-bit hash), grows by doubling at 70% load. */
  private[ingest] final class KeyCombiner(initialCap: Int = 1 << 14) {
    private var cap = Integer.highestOneBit(math.max(16, initialCap) * 2 - 1) * 2
    private var mask = cap - 1
    private var h1s = new Array[Long](cap)
    private var h2s = new Array[Long](cap)
    private var wts = new Array[Long](cap)
    private var wseq = new Array[Long](cap)
    private var ns = new Array[Long](cap) // 0 = empty slot
    private var mns = new Array[Long](cap)
    private var mxs = new Array[Long](cap)
    private var svs = new Array[Int](cap)
    private var count = 0

    def add(h1: Long, h2: Long, ts: Long, seq: Long, sv: Int): Unit = {
      var i = (java.lang.Long.hashCode(h1) * 0x9e3779b9) & mask
      while (ns(i) != 0 && (h1s(i) != h1 || h2s(i) != h2)) i = (i + 1) & mask
      if (ns(i) == 0) {
        h1s(i) = h1; h2s(i) = h2; wts(i) = ts; wseq(i) = seq
        ns(i) = 1L; mns(i) = seq; mxs(i) = seq; svs(i) = sv
        count += 1
        if (count * 10L >= cap * 7L) grow()
      } else {
        ns(i) += 1
        if (ts > wts(i) || (ts == wts(i) && seq > wseq(i))) { wts(i) = ts; wseq(i) = seq }
        if (seq < mns(i)) mns(i) = seq
        if (seq > mxs(i)) mxs(i) = seq
        if (sv > svs(i)) svs(i) = sv
      }
    }

    private def grow(): Unit = {
      val (oh1, oh2, ots, oseq, ons, omn, omx, osv) =
        (h1s, h2s, wts, wseq, ns, mns, mxs, svs)
      cap *= 2; mask = cap - 1
      h1s = new Array[Long](cap); h2s = new Array[Long](cap)
      wts = new Array[Long](cap); wseq = new Array[Long](cap)
      ns = new Array[Long](cap); mns = new Array[Long](cap); mxs = new Array[Long](cap)
      svs = new Array[Int](cap)
      var j = 0
      while (j < ons.length) {
        if (ons(j) != 0) {
          var i = (java.lang.Long.hashCode(oh1(j)) * 0x9e3779b9) & mask
          while (ns(i) != 0) i = (i + 1) & mask
          h1s(i) = oh1(j); h2s(i) = oh2(j); wts(i) = ots(j); wseq(i) = oseq(j)
          ns(i) = ons(j); mns(i) = omn(j); mxs(i) = omx(j); svs(i) = osv(j)
        }
        j += 1
      }
    }

    def result: Iterator[KeyAgg] = (0 until cap).iterator
      .filter(ns(_) != 0)
      .map(i => KeyAgg(h1s(i), h2s(i), wts(i), wseq(i), ns(i), mns(i), mxs(i), svs(i)))
  }

  /** Key pass with map-side combining: one task folds its segments into a
    * [[KeyCombiner]] and emits ONE row per distinct url seen by the task —
    * shuffle volume is bounded by per-task distinct urls, not events, and
    * no per-event object is allocated (vs the former per-event
    * (urlBytes, seq, ts) rows). Hot keys need no salt: the reduce side
    * sees at most #tasks rows per url by construction. Also populates the
    * executor-local [[SegmentCache]] for the payload pass.
    *
    * Task granularity is DATA-determined ([[SegmentsPerKeyTask]]), never
    * cluster-determined: sizing tasks by `defaultParallelism` made the
    * combine ratio — and therefore the total shuffle volume — grow with
    * the cluster (measured: 3.7M vs 2.3M shuffled key rows for the same
    * 4M-event feed at 8 vs 2 cores), the exact anti-scaling pattern a
    * 1000-executor run cannot afford. Fixed granularity keeps per-task
    * combine state bounded (~25 segs ≈ 500k events ≈ ≤16 MB of combiner
    * arrays) and shuffle volume invariant across cluster sizes. */
  private def keyStats(spark: SparkSession, segmentPaths: Seq[String]): Dataset[KeyAgg] = {
    import spark.implicits._
    // floor at min(#segments, cluster width): a small bulk batch (fewer
    // than SegmentsPerKeyTask segments) would otherwise run the key pass as
    // ONE task regardless of cluster size. The floor keeps small batches
    // parallel while large batches stay data-bounded (shuffle volume
    // invariant across cluster sizes — the scaling property that matters).
    val tasks = math.max(
      (segmentPaths.size + SegmentsPerKeyTask - 1) / SegmentsPerKeyTask,
      math.min(segmentPaths.size, spark.sparkContext.defaultParallelism))
    segmentScan(spark, segmentPaths, Some(tasks), retain = true) { segs =>
      val combiner = new KeyCombiner()
      segs.foreach { case (_, bytes) =>
        RecordCodec.segmentOffsets(bytes).foreach { case (off, _) =>
          combiner.add(
            RecordCodec.urlHashAt(bytes, off, 42L),
            RecordCodec.urlHashAt(bytes, off, 0x9747b28cL),
            RecordCodec.tsMicrosAt(bytes, off),
            RecordCodec.seqAt(bytes, off),
            RecordCodec.svAt(bytes, off))
        }
      }
      combiner.result
    }
  }

  private val SegmentsPerKeyTask = 25

  /** Broadcast winner-seq membership filter. */
  sealed trait SeqFilter extends Serializable { def contains(v: Long): Boolean }

  /** Minimal open-addressing long set (no boxing, no per-entry objects) —
    * the general-purpose [[SeqFilter]] for sparse/huge seq ranges. */
  final class LongSet(capacityHint: Int) extends SeqFilter {
    private val cap = Integer.highestOneBit(math.max(16, capacityHint * 2) - 1) * 2
    private val mask = cap - 1
    private val slots = new Array[Long](cap)
    private val used = new Array[Boolean](cap)
    def add(v: Long): Unit = {
      var i = (java.lang.Long.hashCode(v) * 0x9e3779b9) & mask
      while (used(i) && slots(i) != v) i = (i + 1) & mask
      slots(i) = v; used(i) = true
    }
    def contains(v: Long): Boolean = {
      var i = (java.lang.Long.hashCode(v) * 0x9e3779b9) & mask
      while (used(i)) { if (slots(i) == v) return true; i = (i + 1) & mask }
      false
    }
  }

  /** Bitmap over the batch's [minSeq, maxSeq] range — WAL seqs are dense
    * by construction, so 1 bit per seq beats the hash set by ~16x in
    * broadcast bytes (16M-event batch: 2 MB bitmap vs ~36 MB set) and the
    * membership test is one cache-friendly bit probe. Chosen whenever the
    * range is dense enough (see [[seqFilterOf]]); a resumed feed with a
    * giant sparse gap falls back to [[LongSet]]. */
  final class SeqRangeBits(base: Long, words: Array[Long]) extends SeqFilter {
    def contains(v: Long): Boolean = {
      val off = v - base
      off >= 0 && off < (words.length.toLong << 6) &&
        ((words((off >>> 6).toInt) >>> (off & 63).toInt) & 1L) == 1L
    }
  }

  private[graft] def seqFilterOf(
      packed: Seq[Array[Long]], nWinners: Long, mn: Long, mx: Long): SeqFilter = {
    val range = if (mx >= mn) mx - mn + 1 else 0L
    // bitmap words = range/64; LongSet costs ~2.25 longs per winner —
    // prefer the bitmap up to a 4x size allowance (it also probes faster)
    if (range > 0 && range <= math.max(1L, nWinners) * 576L &&
        range < (Int.MaxValue.toLong << 6)) {
      val words = new Array[Long](((range + 63) >>> 6).toInt)
      packed.foreach { a =>
        var i = 0
        while (i < a.length) {
          val off = a(i) - mn
          words((off >>> 6).toInt) |= 1L << (off & 63).toInt
          i += 1
        }
      }
      new SeqRangeBits(mn, words)
    } else {
      val set = new LongSet(math.min(nWinners, Int.MaxValue.toLong).toInt)
      packed.foreach { a =>
        var i = 0
        while (i < a.length) { set.add(a(i)); i += 1 }
      }
      set
    }
  }

  /** Bulk pre-filter in front of [[lwwDedup]]: LWW winners are decided on
    * a key-only pass (the map-side [[KeyCombiner]] — zero per-event
    * allocation, shuffle volume bounded by per-task distinct urls), the
    * winner seq-set (one entry per url in the batch) is collected to the
    * driver and broadcast, and the payload pass filters records by seq
    * BEFORE copying or decoding them — losers never materialize anywhere.
    * Above `maxCollectedKeys` winners the payload pass joins the events
    * against the persisted key aggregation instead of a driver-side set —
    * the key aggregation is never recomputed. Segment bytes are read once
    * per pass at most: the key pass populates the executor-local
    * [[SegmentCache]] and the payload pass consumes it.
    * Returns (the decoded records that passed the winner filter —
    * at-least-once copies of a winner share its seq and all pass, so the
    * caller still runs [[lwwDedup]] — (events, minSeq, maxSeq), max schema
    * version seen in the batch — from the key rows, so the caller's
    * evolution decision needs no driver-side segment reads). The key job
    * and the winner collect run before this returns; the payload pass is
    * lazy. */
  def dedupViaKeyBroadcast(
      spark: SparkSession,
      segmentPaths: Seq[String],
      maxCollectedKeys: Int = 4000000): (DataFrame, (Long, Long, Long), Int) = {
    import spark.implicits._
    val winnerKeys = keyStats(spark, segmentPaths)
      .groupBy(col("h1"), col("h2"))
      .agg(max_by(struct(col("wts"), col("wseq")), struct(col("wts"), col("wseq"))).as("_w"),
        sum(col("n")).as("_n"), min(col("mn")).as("_mn"), max(col("mx")).as("_mx"),
        max(col("sv")).as("_sv"))
      .select(col("_w.wseq").as("wseq"), col("_n"), col("_mn"), col("_mx"), col("_sv"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // ONE fused job materializes the cache AND collects the per-partition
    // packed winner seqs + subtotals: the former count() round-trip (a
    // second full pass over the cached aggregation plus a job barrier —
    // ~1 s of per-batch driver-serial wall at the 16M-event bench feed)
    // is now the sum of the packed sizes. Driver memory stays bounded
    // WITHOUT knowing the global count up front: each partition packs at
    // most ~2x its uniform share of maxCollectedKeys (url-hash
    // partitioning is uniform by construction) and emits a null sentinel
    // beyond that, which routes to the relational fallback below exactly
    // as an over-cap count did.
    val nParts = math.max(1, winnerKeys.rdd.getNumPartitions)
    val capPerPart = math.max(65536L, 2L * maxCollectedKeys / nParts)
    val packed = winnerKeys.as[(Long, Long, Long, Long, Int)]
      .mapPartitions { it =>
        val buf = new scala.collection.mutable.ArrayBuilder.ofLong
        var over = false
        var n = 0L; var ev = 0L
        var mn = Long.MaxValue; var mx = Long.MinValue; var sv = 0
        it.foreach { case (wseq, en, rmn, rmx, rsv) =>
          n += 1
          if (!over && n > capPerPart) { over = true; buf.clear() }
          if (!over) buf += wseq
          ev += en
          if (rmn < mn) mn = rmn
          if (rmx > mx) mx = rmx
          if (rsv > sv) sv = rsv
        }
        Iterator.single((if (over) null else buf.result(), n, ev, mn, mx, sv))
      }.collect()
    val nWinners = packed.map(_._2).sum
    val overCap = nWinners > maxCollectedKeys || packed.exists(_._1 == null)
    var ev = 0L; var mn = Long.MaxValue; var mx = Long.MinValue; var maxSv = 0
    packed.foreach { case (_, _, pev, pmn, pmx, psv) =>
      ev += pev
      if (pmn < mn) mn = pmn
      if (pmx > mx) mx = pmx
      if (psv > maxSv) maxSv = psv
    }

    val winners = if (!overCap) {
      // packed long[]s: 8 B/key transferred (vs ~100+ B for boxed tuple
      // rows: at 4M keys the driver transient drops from ~400 MB of
      // object churn to 32 MB of flat arrays), global totals folded from
      // #partitions subtotals — all already in hand from the fused job.
      winnerKeys.unpersist()
      val setBc = spark.sparkContext.broadcast(seqFilterOf(
        packed.iterator.map(_._1).filter(_ != null).toSeq, nWinners, mn, mx))
      // payload pass: test each seq in place against the broadcast set
      // (dereferenced INSIDE the task — a `set.contains` closure made on
      // the driver would serialize the whole set into every task binary)
      // and copy out only the winners' record slices
      decodeRecords(segmentScan(spark, segmentPaths)(_.flatMap {
        case (p, bytes) =>
          val keep = setBc.value
          val hasCrc = RecordCodec.segmentHasCrc(bytes)
          RecordCodec.segmentOffsets(bytes)
            .filter { case (off, _) => keep.contains(RecordCodec.seqAt(bytes, off)) }
            .map { case (off, len) =>
              // integrity gate: no byte enters the table unverified
              if (hasCrc && !RecordCodec.crcMatchesAt(bytes, off, len))
                throw new RecordCodec.CorruptRecordException(
                  s"winner record CRC mismatch in $p at offset $off")
              java.util.Arrays.copyOfRange(bytes, off, off + len)
            }
      }).toDF("rec"))
    } else {
      // huge-batch fallback: relational join of the (CRC-verified) events
      // against the persisted winner-seq aggregation — bounded driver
      // memory, key aggregation reused (stays cached until LRU eviction;
      // at ~32B/row that is the price of not recomputing the key pass)
      val recs = segmentScan(spark, segmentPaths)(_.flatMap { case (_, bytes) =>
        RecordCodec.readSegment(bytes).map(r => (RecordCodec.seqAt(r, 0), r))
      }).toDF("seq", "rec")
      decodeRecords(
        recs.join(winnerKeys.select(col("wseq")), col("seq") === col("wseq")))
    }
    (winners, (ev, mn, mx), maxSv)
  }

  // -------------------------------------------------------------------
  // 2. LWW dedup
  // -------------------------------------------------------------------

  /** One winner row per url: max by (warc_ts, seq) — the one LWW
    * aggregation of both ingest paths. Adds bookkeeping columns `_n`
    * (events folded) and `_sv` (max schema version seen over ALL folded
    * events). One exchange: `repartition(urlPartitions, url)` satisfies the
    * groupBy(url) distribution and, with `urlPartitions` a divisor of the
    * bucket count ([[alignedPartitions]]), is also the bucket alignment
    * (partition = bucket mod `urlPartitions`) — pinned by PlanSpec. Hot
    * keys are bounded before this call: see the header's scale notes. */
  def lwwDedup(events: DataFrame, urlPartitions: Int): DataFrame =
    events
      .repartition(urlPartitions, col("url"))
      .groupBy(col("url"))
      .agg(
        max_by(struct(events.columns.filterNot(_ == "url").map(col).toSeq: _*),
          struct(col("warc_ts"), col("seq"))).as("_w"),
        count(lit(1)).as("_n"),
        max(col("schema_version")).as("_sv"))
      // `url` is the grouping key itself, not carried in `_w`: the output
      // then keeps HashPartitioning(url, urlPartitions), so a join against
      // it (also through a cache) adds no exchange on this side
      .select(events.columns.map(c =>
        if (c == "url") col("url") else col(s"_w.$c").as(c)).toSeq :+
        col("_n") :+ col("_sv"): _*)

  // -------------------------------------------------------------------
  // batch apply
  // -------------------------------------------------------------------

  /** Apply one batch of WAL segments (inclusive id range) to the table.
    * Returns the committed snapshot. Idempotent: a batch at or below the
    * table watermark is skipped; a replayed commit of the same version+batch
    * resolves to the already-committed snapshot. */
  def applyBatch(
      spark: SparkSession,
      table: LakeTable,
      segments: Seq[(Long, String)],
      config: IngestConfig = IngestConfig(),
      crashBeforeCommit: Boolean = false,
      stageOnly: Boolean = false): Snapshot = {
    require(segments.nonEmpty, "empty batch")
    val t0 = System.nanoTime()
    val trace = sys.env.get("SPARK_GRAFT_TRACE").contains("1")
    var tMark = t0
    def mark(phase: String): Unit = if (trace) {
      val now = System.nanoTime()
      System.err.println(f"[trace] $phase%-18s ${(now - tMark) / 1e9}%7.3f s")
      tMark = now
    }
    val snap = table.currentSnapshot()
    mark("read-snapshot")
    // WAP is a serial gate: a normal commit while a candidate is staged
    // would (a) advance the table so publishStaged can only refuse, and
    // (b) before staged files carried unique name tags, silently replace
    // them via same-name ATOMIC_MOVE — after which the documented recovery
    // path (discardStaged) deleted the COMMITTED snapshot's live data.
    // Fail fast instead: the operator must publish or discard first.
    if (!stageOnly) table.stagedSnapshot().foreach { s =>
      throw new IllegalStateException(
        s"refusing to commit while a staged candidate exists at v${s.version} " +
          s"(batch ${s.batchId}): publish or discard it first")
    }
    // Staged data/delete files get a unique name tag (as compaction does
    // with -c<uuid>) so they can NEVER collide with a commit's s{v}-…
    // names even if the serial gate above is bypassed out-of-band.
    val wapTag =
      if (stageOnly) s"-w${java.util.UUID.randomUUID().toString.take(8)}" else ""
    val segFrom = segments.map(_._1).min
    val segTo = segments.map(_._1).max
    if (segTo <= snap.watermarkSegment) return snap // already applied
    require(segFrom == snap.watermarkSegment + 1,
      s"gap in WAL: table at segment ${snap.watermarkSegment}, batch starts at $segFrom")
    // An internal hole (e.g. {0,1,3}) would advance the watermark past the
    // missing segment and silently drop it when it later arrives — reject.
    locally {
      val ids = segments.map(_._1).toSet
      val missing = (segFrom to segTo).filterNot(ids.contains)
      require(missing.isEmpty,
        s"gap inside batch: segments $segFrom..$segTo missing ${missing.mkString(",")}")
    }
    val batchId = s"seg$segFrom-$segTo"
    val numBuckets = snap.numBuckets
    val hconf = spark.sessionState.newHadoopConf()

    // Status-only driver size scan: the schema-evolution decision now
    // rides the key pass itself (max schema version folded into the key
    // rows — see KeyAgg), so the former per-segment header READ — ~800
    // driver-serial file opens per bulk batch at the 16M-event bench
    // feed — reduces to metadata-only status calls for the size test.
    val batchBytes = LakeTable.driverFanOut(segments) { case (_, p) =>
      val hp = new org.apache.hadoop.fs.Path(p)
      hp.getFileSystem(hconf).getFileStatus(hp).getLen
    }.sum

    // Adaptive merge strategy: a bulk batch (comparable in size to the
    // table) touches ~every bucket — the pre-pass to find touched buckets
    // costs more than it saves, so merge against the full table in ONE job
    // with observe() stats. A trickle batch keeps the pruned two-job path.
    mark("segment-sizes")
    val tableBytes = snap.files.map(_.sizeBytes).sum
    // every bucket-aligned exchange of this commit hashes url into `parts`
    // partitions; batch + table bytes bound what the merge can touch
    val parts = alignedPartitions(spark, numBuckets, batchBytes + tableBytes)
    // merge-on-read only makes sense against an existing base: the first
    // load into an empty table is a plain full write either way
    val mor = config.mergeOnRead && snap.files.nonEmpty
    val bulk = !mor &&
      (snap.files.isEmpty || tableBytes == 0L || batchBytes * 4L >= tableBytes)

    def evolvedSchema(maxSv: Int): StructType =
      if (maxSv >= RecordCodec.SchemaV2) {
        // a v2 column that was RENAMED is already present under its current
        // name (its old name is a live alias — incoming rows map forward
        // through alignToRenames); one that was DROPPED stays dropped
        val ghosts = snap.renames.values.flatten.toSet ++ snap.retired
        val missing = RecordCodec.V2Columns.filter { case (n, _) =>
          !snap.schema.fieldNames.contains(n) && !ghosts.contains(n)
        }
        if (missing.isEmpty) snap.schema
        else StructType(snap.schema.fields ++ missing.map {
          case (n, t) => StructField(n, sparkTypeOf(t), nullable = true)
        })
      } else snap.schema


    def readTarget(files: Seq[DataFileEntry], schema: StructType,
        positions: Boolean = false): DataFrame =
      table.readFiles(spark, LakeTable.physicalSchema(schema), files, snap.deleteFiles,
        snap.renames, positions)

    /** Map incoming source columns forward through the table's rename
      * chain: the decoder always emits the ORIGINAL event-field names, so
      * a renamed table column claims the first former name present in the
      * source frame (Iceberg name-mapping analog). Dropped columns need no
      * mapping — the schema projection simply never selects them. */
    def alignToRenames(src: DataFrame): DataFrame =
      snap.renames.foldLeft(src) { case (df, (cur, formers)) =>
        if (df.columns.contains(cur)) df
        else formers.find(df.columns.contains) match {
          case Some(f) => df.withColumnRenamed(f, cur)
          case None    => df
        }
      }

    val newVersion = snap.version + 1

    // the one LWW aggregation: a bulk batch feeds it only the records that
    // passed the key pass's winner filter (keyStats' map-side combiner
    // bounds hot keys before any payload moves), a trickle batch every event
    val (keyPass, deduped) = {
      val paths = segments.map(_._2)
      val (events, kp) =
        if (bulk) {
          val (filtered, seqStats, maxSv) = dedupViaKeyBroadcast(spark, paths)
          mark("key-pass")
          (filtered, Some((seqStats, maxSv)))
        } else (eventsDf(spark, paths), None)
      (kp, lwwDedup(events, parts))
    }

    /** merge inputs are hashed by url into `parts` partitions, so each
      * bucket's rows sit in one partition (`_bucket mod parts ==
      * partition id`) and NO post-join shuffle is needed. */
    def writeMerged(merged: DataFrame, bloomNdv: Long = RowGroupBloomNdv): Seq[DataFileEntry] = {
      val files = writeBucketFiles(spark, table, merged, numBuckets, parts, newVersion,
        wapTag, config.maxFileRows, bloomNdv = bloomNdv)
      mark("merge+write+move")
      files
    }

    val (newSchema, newFiles, carried, carriedDels, newDels, lineageRows, statsMap) =
      keyPass match {
      case Some(((evTotal, mnSeq, mxSeq), maxSv)) =>
        // ---- bulk path: single job, full-table merge, observe() stats ----
        val obs = org.apache.spark.sql.Observation(s"ingest-$batchId")
        // evolution decision from the key pass's own sv statistics — the
        // eager key job has already run by this point
        val schema = evolvedSchema(maxSv)
        val dataCols = schema.fieldNames.toSeq
        val src = alignToRenames(deduped.drop("_n", "_sv"))
          .observe(obs,
            count(lit(1)).as("winners"),
            sum(when(col("op") === ChangeEvent.OpDelete, 1L).otherwise(0L)).as("deletes"))
        val tgt = readTarget(snap.files, schema)
          .repartition(parts, col("url"))
        val files = writeMerged(mergeLww(src, tgt, dataCols))
        val m = obs.get
        val lineage = files.groupBy(_.bucket).toSeq.map { case (b, fs) =>
          Map[String, Any]("bucket" -> b.toLong, "rows" -> fs.map(_.rows).sum,
            "segFrom" -> segFrom, "segTo" -> segTo)
        }
        val stats = Map[String, Any](
          "events" -> evTotal,
          "upserts" -> (m("winners").asInstanceOf[Long] - m("deletes").asInstanceOf[Long]),
          "deletes" -> m("deletes").asInstanceOf[Long],
          "minSeq" -> mnSeq,
          "maxSeq" -> mxSeq,
          "touchedBuckets" -> files.map(_.bucket).distinct.size.toLong,
          "strategy" -> "bulk")
        // full-table merge folds every stacked MoR delta: no delete files survive
        (schema, files, Seq.empty[DataFileEntry],
          Seq.empty[graft.lake.DeleteFileEntry], Seq.empty[graft.lake.DeleteFileEntry],
          lineage, stats)
      case None =>
        // ---- pruned path: pre-pass finds touched buckets, merge reads
        // only their files; untouched buckets carry over by reference ----
        val winners = deduped
          .withColumn(LakeTable.BucketCol, LakeTable.bucketExpr(numBuckets))
          .persist(StorageLevel.MEMORY_AND_DISK)
        try {
          val stats = winners.groupBy(col(LakeTable.BucketCol)).agg(
            count(lit(1)).as("winners"),
            sum(when(col("op") === ChangeEvent.OpDelete, 1L).otherwise(0L)).as("deletes"),
            sum(col("_n")).as("events"),
            // over ALL events, not just winners: a batch whose only v2
            // event loses LWW still widens the schema, as on the bulk path
            max(col("_sv")).as("maxSv"),
            min(col("seq")).as("minSeq"),
            max(col("seq")).as("maxSeq")).collect()
          mark("stats+cache")
          val touched = stats.map(_.getAs[Int](LakeTable.BucketCol)).toSet
          val maxSv = if (stats.isEmpty) 1 else stats.map(_.getAs[Int]("maxSv")).max
          val schema = evolvedSchema(maxSv)
          val dataCols = schema.fieldNames.toSeq
          // not repartitioned here: the MoR join lets the optimizer
          // broadcast the target (or co-partition it to the winners'
          // url hash); the rewrite below aligns it explicitly. A vector
          // commit reads each target row's position with it.
          val dv = mor && config.deleteVectors
          val target = readTarget(
            snap.files.filter(f => touched.contains(f.bucket)), schema, positions = dv)
          val src = alignToRenames(winners.drop("_n", "_sv", LakeTable.BucketCol))
          val (files, carriedFiles, carriedDels2, newDels2, strategy) =
            if (mor) {
              // ---- merge-on-read: write ONLY the rows the batch changed;
              // every existing file carries over by reference. The url bloom
              // is sized to a delta file: ~2× the winners per touched bucket
              val winnerRows = stats.map(_.getAs[Long]("winners")).sum
              val deltaNdv = math.max(MinDeltaBloomNdv,
                2L * winnerRows / math.max(1, touched.size))
              val changed = morChangedRows(src, target, dataCols, positions = dv)
              if (dv) {
                // the data write and the vector write read one persisted frame
                val cached = changed.persist(StorageLevel.MEMORY_AND_DISK)
                try {
                  val dataFiles = writeMerged(
                    cached.drop("_dfname", "_dpos"), deltaNdv)
                  (dataFiles, snap.files, snap.deleteFiles,
                    writeDeletionVectors(spark, table, cached, numBuckets, parts,
                      newVersion, wapTag, deltaNdv), "mor-dv")
                } finally cached.unpersist()
              } else {
                // a delta file holds exactly the commit's changed keys, so it
                // is also the commit's equality-delete file (read url-only;
                // `_dv > _av` keeps it from hiding its own rows)
                val dataFiles = writeMerged(changed, deltaNdv)
                (dataFiles, snap.files, snap.deleteFiles,
                  dataFiles.map(f => graft.lake.DeleteFileEntry(
                    f.path, f.bucket, f.rows, f.sizeBytes, newVersion)), "mor")
              }
            } else {
              val fs = writeMerged(
                mergeLww(src, target.repartition(parts, col("url")), dataCols))
              // the rewrite folded the touched buckets' deltas into base
              (fs, snap.files.filterNot(f => touched.contains(f.bucket)),
                snap.deleteFiles.filterNot(d => touched.contains(d.bucket)),
                Seq.empty[graft.lake.DeleteFileEntry], "pruned")
            }
          val lineage = stats.toSeq.map { r =>
            Map[String, Any](
              "bucket" -> r.getAs[Int](LakeTable.BucketCol).toLong,
              "rows" -> files.filter(_.bucket == r.getAs[Int](LakeTable.BucketCol)).map(_.rows).sum,
              "upserts" -> (r.getAs[Long]("winners") - r.getAs[Long]("deletes")),
              "deletes" -> r.getAs[Long]("deletes"),
              "minSeq" -> r.getAs[Long]("minSeq"),
              "maxSeq" -> r.getAs[Long]("maxSeq"),
              "segFrom" -> segFrom,
              "segTo" -> segTo)
          }
          val statsMap = Map[String, Any](
            "events" -> stats.map(_.getAs[Long]("events")).sum,
            "upserts" -> (stats.map(_.getAs[Long]("winners")).sum -
              stats.map(_.getAs[Long]("deletes")).sum),
            "deletes" -> stats.map(_.getAs[Long]("deletes")).sum,
            "touchedBuckets" -> touched.size.toLong,
            "strategy" -> strategy)
          (schema, files, carriedFiles, carriedDels2, newDels2, lineage, statsMap)
        } finally winners.unpersist()
      }

    if (crashBeforeCommit) throw new CrashInjected
    val metrics = statsMap + ("durationMs" -> (System.nanoTime() - t0) / 1000000L)
    val out = Snapshot(
      version = newVersion, batchId = batchId, parentVersion = snap.version,
      watermarkSegment = segTo, schemaJson = newSchema.json,
      numBuckets = numBuckets, files = carried ++ newFiles,
      lineage = lineageRows, metrics = metrics,
      deleteFiles = carriedDels ++ newDels,
      renames = snap.renames, retired = snap.retired)
    // write-audit-publish: park the candidate where readers cannot see it;
    // the caller audits it and then publishes or discards (LakeTable WAP)
    if (stageOnly) table.stage(out) else table.commit(out)
  }

  /** WAP step 1: derive and STAGE the next pending batch (the first of
    * [[pendingBatches]]) without committing it. Returns None when nothing
    * is pending. */
  def stageNext(
      spark: SparkSession,
      table: LakeTable,
      feedDir: String,
      config: IngestConfig = IngestConfig()): Option[Snapshot] =
    pendingBatches(spark, table, feedDir, config.segmentsPerBatch).headOption.map { run =>
      table.stagedSnapshot() match {
        // idempotent re-stage short-circuit: re-deriving the same batch
        // would silently re-move identical-content files under the staged
        // manifest (benign, but the manifest's recorded sizes could drift
        // by a few parquet-encoding bytes) — return the candidate instead
        case Some(s) if s.batchId == s"seg${run.head._1}-${run.last._1}" => s
        case _ => applyBatch(spark, table, run, config, stageOnly = true)
      }
    }

  /** WAP step 2: audit the staged candidate's VISIBLE state (live rows as
    * a reader would see them after publish) without publishing. Checks the
    * engine's own invariants — exactly one live row per url, key columns
    * never null/blank, live count consistent with the parent state and the
    * batch's recorded upsert/delete metrics where derivable. Returns the
    * failures (empty = audit passed). */
  def auditStaged(spark: SparkSession, table: LakeTable): Seq[String] = {
    import org.apache.spark.sql.functions._
    val snap = table.stagedSnapshot().getOrElse(
      throw new IllegalStateException("nothing staged"))
    val live = table.readRaw(spark, snap).filter(!col(LakeTable.DeletedCol))
    val agg = live.select(
      count(lit(1)).as("n"),
      countDistinct(col("url")).as("urls"),
      sum(when(col("url").isNull || trim(col("url")) === "", 1L)
        .otherwise(0L)).as("null_urls"),
      sum(when(col("warc_ts").isNull, 1L).otherwise(0L)).as("null_ts"))
      .collect().head
    val errs = scala.collection.mutable.ArrayBuffer.empty[String]
    if (agg.getLong(0) != agg.getLong(1))
      errs += s"duplicate keys: ${agg.getLong(0)} live rows, ${agg.getLong(1)} distinct urls"
    if (agg.getLong(2) != 0L) errs += s"${agg.getLong(2)} null/blank urls"
    if (agg.getLong(3) != 0L) errs += s"${agg.getLong(3)} null warc_ts"
    graft.schema.SchemaValidator.compare(
      table.currentSnapshot().schema, snap.schema) match {
      case r if !r.isCompatible => errs += s"schema regression: ${r.summary}"
      case _ =>
    }
    errs.toSeq
  }

  /** Compact the table: rewrite every bucket's files into one file per
    * bucket (Iceberg `rewrite_data_files` analog — trickle batches leave a
    * long tail of small files that inflate scan/planning cost at scale),
    * optionally dropping tombstones older than `tombstoneBefore`. Dropping
    * a tombstone is safe ONLY under the caller's late-data contract: no
    * future event may carry warc_ts earlier than the horizon (the same
    * promise a streaming watermark makes) — an unbounded-late feed must
    * pass None and keep its tombstones. Logical content is otherwise
    * unchanged; committed as a normal snapshot (current watermark), so a
    * crashed compaction is invisible and a replayed one idempotent.
    * `buckets` scopes the rewrite to a subset (small-file cleanup touches
    * only the long-tail buckets, not 100 TB); commit is OPTIMISTIC — a
    * racing writer costs a rebase-retry that abandons exactly the buckets
    * the racer rewrote (see the loop below), never a stop-the-world lock.
    *
    * Compacted files are time-clustered: rows are sorted by `warc_ts`
    * within each bucket (the within-bucket analog of an Iceberg table sort
    * order). The bucket layout hashes on url, so an unsorted bucket file's
    * every parquet row group spans the whole table's time range and a
    * time-range query reads all of them; after sorted compaction the row
    * groups' warc_ts min/max stats are disjoint, and Spark's pushed
    * `warc_ts` range filters skip everything outside the window at the
    * footer level — at 100 TB that turns "last week's pages" from a full
    * scan into a row-group-pruned one. Sortedness is pinned by
    * LakeMaintenanceSpec; one in-task sort at write time is the only cost. */
  def compact(
      spark: SparkSession,
      table: LakeTable,
      tombstoneBefore: Option[java.sql.Timestamp] = None,
      buckets: Option[Set[Int]] = None,
      maxFileRows: Long = 0L,
      beforeCommit: () => Unit = () => (),
      // Clustering columns (Iceberg rewrite sort-order analog): sort each
      // bucket by these BEFORE the time sort, so with a maxFileRows split
      // every rolled file covers a tight range of the cluster key and the
      // manifest's generalized column bounds (filesInColRange) actually
      // prune — on a time-sorted-only layout a key like `lang` spans every
      // file and zone maps on it are vacuous.
      clusterBy: Seq[String] = Seq.empty,
      // Z-order clustering (Delta OPTIMIZE ZORDER analog): interleave the
      // named columns' bits (see ZOrder.zvalue) so EVERY named dimension's
      // zone maps prune at once — a linear clusterBy gives the leading
      // column tight bounds and scatters the rest. Mutually exclusive with
      // clusterBy (they prescribe conflicting physical orders).
      zOrderBy: Seq[String] = Seq.empty): Snapshot = {
    require(clusterBy.isEmpty || zOrderBy.isEmpty,
      "clusterBy and zOrderBy prescribe conflicting sort orders; pick one")
    val snap = table.currentSnapshot()
    val targetBuckets = buckets.getOrElse((0 until snap.numBuckets).toSet)
    val srcFiles = snap.files.filter(f => targetBuckets(f.bucket))
    val physical = LakeTable.physicalSchema(snap.schema)
    // delete-aware read: compaction FOLDS stacked merge-on-read deltas —
    // the rewritten buckets come out as pure base and their equality-delete
    // files drop out of the new snapshot below
    val all = table.readFiles(spark, physical, srcFiles, snap.deleteFiles, snap.renames)
    val kept = tombstoneBefore match {
      case Some(h) => all.filter(!col(LakeTable.DeletedCol) || col("warc_ts") >= lit(h))
      case None    => all
    }
    // unique name tag: a racing ingest commits the same version number
    // with un-tagged names, so tagged compaction files can never collide
    val newFiles = writeBucketFiles(spark, table, kept, snap.numBuckets,
      alignedPartitions(spark, snap.numBuckets, srcFiles.map(_.sizeBytes).sum),
      snap.version + 1, "-c" + java.util.UUID.randomUUID().toString.take(8),
      maxFileRows, Some(
        if (zOrderBy.nonEmpty) Seq(graft.lake.ZOrder.zvalue(kept, snap.schema, zOrderBy))
        else clusterBy.map(col)))
    beforeCommit() // test seam: inject a racing writer here

    // Optimistic-concurrency commit (Iceberg rewrite_data_files
    // partial-progress analog): if another writer committed since `snap`
    // was read, ABANDON every bucket it touched — its rewrite already
    // superseded ours and blindly replacing it would lose data — rebase
    // the untouched buckets' compacted files onto the new current
    // snapshot, and retry. Abandoned/raced replacement files are deleted,
    // never left as orphans. The ingest writer itself stays single-writer
    // per table (WAL order); this protocol is what lets MAINTENANCE run
    // concurrently with it at scale instead of stopping the world.
    var attempts = 0
    while (true) {
      val cur = table.currentSnapshot()
      val keep =
        if (cur.version == snap.version) targetBuckets
        else targetBuckets -- table.changedBuckets(snap, cur)
      val keptNew = newFiles.filter(f => keep(f.bucket))
      def drop(fs: Seq[graft.lake.DataFileEntry]): Unit =
        fs.foreach(f => java.nio.file.Files.deleteIfExists(table.root.resolve(f.path)))
      if (keep.isEmpty) { // every target bucket was rewritten under us
        drop(newFiles)
        return cur
      }
      val out = Snapshot(
        version = cur.version + 1,
        batchId = s"compact-v${snap.version}-r$attempts",
        parentVersion = cur.version, watermarkSegment = cur.watermarkSegment,
        schemaJson = cur.schemaJson, numBuckets = cur.numBuckets,
        files = cur.files.filterNot(f => keep(f.bucket)) ++ keptNew,
        lineage = Seq.empty,
        metrics = Map[String, Any](
          "events" -> 0L, "upserts" -> 0L, "deletes" -> 0L,
          "compactedFrom" -> srcFiles.size.toLong,
          "compactedTo" -> keptNew.size.toLong,
          "abandonedBuckets" -> (targetBuckets.size - keep.size).toLong),
        // compacted buckets' MoR deltas are folded into the rewrite: their
        // delete files leave the manifest (abandoned buckets keep theirs)
        deleteFiles = cur.deleteFiles.filterNot(d => keep(d.bucket)),
        renames = cur.renames, retired = cur.retired)
      table.tryCommit(out) match {
        case Some(committed) =>
          drop(newFiles.filterNot(f => keep(f.bucket)))
          return committed
        case None =>
          attempts += 1
          if (attempts >= 5) {
            drop(newFiles)
            throw new IllegalStateException(
              s"compaction lost the commit race $attempts times; giving up")
          }
      }
    }
    sys.error("unreachable")
  }

  /** Re-bucket the table to a new url-hash bucket count (Iceberg
    * partition-spec evolution analog). At scale the bucket count must grow
    * with the data — a fixed count eventually makes every bucket file an
    * unsplittable multi-GB unit and every merge task a straggler — and
    * because each snapshot carries its OWN `numBuckets`, readers, time
    * travel, point lookups, and later merges all pick up the new layout
    * from the manifest with no code-level flag day: `readAsOf` a
    * pre-evolution version still plans with the old count, the current
    * snapshot plans with the new one.
    *
    * One full rewrite (read every live+tombstone row, hash to the new
    * layout, time-sorted within buckets like [[compact]]), committed
    * through the optimistic claim. Unlike compaction there is NO partial
    * rebase across a racing writer — bucket ids mean different things in
    * the two layouts — so a lost race deletes the new files and aborts;
    * the caller retries in a quiet window. `maxFileRows` bounds output
    * file size exactly as at ingest. */
  def rebucket(
      spark: SparkSession,
      table: LakeTable,
      newBuckets: Int,
      maxFileRows: Long = 0L): Snapshot = {
    val snap = table.currentSnapshot()
    require(newBuckets > 0, s"newBuckets must be positive, got $newBuckets")
    require(newBuckets != snap.numBuckets,
      s"table already has ${snap.numBuckets} buckets")
    // delete-aware read: the full rewrite folds any stacked MoR deltas, so
    // the new layout starts with pure base files and no delete files
    val newFiles = writeBucketFiles(spark, table,
      table.readFiles(spark, LakeTable.physicalSchema(snap.schema), snap.files, snap.deleteFiles,
        snap.renames),
      newBuckets, alignedPartitions(spark, newBuckets, snap.files.map(_.sizeBytes).sum),
      snap.version + 1, "-rb" + java.util.UUID.randomUUID().toString.take(8),
      maxFileRows, Some(Seq.empty))
    val out = Snapshot(
      version = snap.version + 1, batchId = s"rebucket-v${snap.version}-b$newBuckets",
      parentVersion = snap.version, watermarkSegment = snap.watermarkSegment,
      schemaJson = snap.schemaJson, numBuckets = newBuckets,
      files = newFiles, lineage = Seq.empty,
      metrics = Map[String, Any](
        "events" -> 0L, "upserts" -> 0L, "deletes" -> 0L,
        "rebucketFrom" -> snap.numBuckets.toLong,
        "rebucketTo" -> newBuckets.toLong),
      renames = snap.renames, retired = snap.retired)
    table.tryCommit(out) match {
      case Some(committed) => committed
      case None =>
        newFiles.foreach(f =>
          java.nio.file.Files.deleteIfExists(table.root.resolve(f.path)))
        throw new IllegalStateException(
          "rebucket lost the commit race; retry in a quiet window " +
            "(no partial rebase is possible across bucket layouts)")
    }
  }

  /** MERGE INTO semantics over a full-outer join on the key: source row wins
    * iff it is strictly newer by (warc_ts, seq); a winning delete leaves a
    * tombstone row (url, warc_ts, _seq, _deleted=true, payload nulls). */
  private[ingest] def mergeLww(source: DataFrame, target: DataFrame, dataCols: Seq[String]): DataFrame = {
    val s = source.alias("s")
    val t = target.alias("t")
    val joined = t.join(s, col("t.url") === col("s.url"), "full_outer")
    val tgtPresent = col(s"t.${LakeTable.SeqCol}").isNotNull
    val srcPresent = col("s.seq").isNotNull
    val srcWins = srcPresent && (!tgtPresent ||
      struct(col("s.warc_ts"), col("s.seq")) > struct(col("t.warc_ts"), col(s"t.${LakeTable.SeqCol}")))
    val isDel = col("s.op") === lit(ChangeEvent.OpDelete)
    val outCols =
      coalesce(col("s.url"), col("t.url")).as("url") +:
        dataCols.filterNot(_ == "url").map { c =>
          val srcVal = // a winning delete keeps its warc_ts, nulls the payload
            if (c == "warc_ts") col("s.warc_ts")
            else when(isDel, lit(null)).otherwise(col(s"s.$c"))
          when(srcWins, srcVal).otherwise(col(s"t.$c")).as(c)
        } :+
        when(srcWins, col("s.seq")).otherwise(col(s"t.${LakeTable.SeqCol}")).as(LakeTable.SeqCol) :+
        when(srcWins, isDel).otherwise(coalesce(col(s"t.${LakeTable.DeletedCol}"), lit(false)))
          .as(LakeTable.DeletedCol)
    joined.select(outCols: _*)
  }

  /** The merge-on-read twin of [[mergeLww]]: ONLY the rows the batch
    * changes, with the identical win predicate — a source row survives iff
    * it is strictly newer by (warc_ts, seq) than the key's current visible
    * row (or the key is new). Losing source rows and unchanged target rows
    * produce nothing, which is exactly the write-amplification win: the
    * output is bounded by the batch, never by the touched buckets' size.
    * A winning delete becomes a tombstone row (payload nulls, warc_ts
    * kept), preserving the cross-batch late-loser semantics of the
    * rewrite path verbatim. With `positions`, the target carries the
    * [[LakeTable.readFiles]] position columns, and each changed row keeps
    * its matched target row's position as `_dfname`/`_dpos` (null for a
    * new key): the row a deletion vector must supersede. */
  private[ingest] def morChangedRows(source: DataFrame, target: DataFrame,
      dataCols: Seq[String], positions: Boolean = false): DataFrame = {
    val s = source.alias("s")
    val t = target.alias("t")
    val joined = s.join(t, col("s.url") === col("t.url"), "left_outer")
    val tgtPresent = col(s"t.${LakeTable.SeqCol}").isNotNull
    val srcWins = !tgtPresent ||
      struct(col("s.warc_ts"), col("s.seq")) >
        struct(col("t.warc_ts"), col(s"t.${LakeTable.SeqCol}"))
    val isDel = col("s.op") === lit(ChangeEvent.OpDelete)
    joined.filter(srcWins).select(
      col("s.url").as("url") +:
        dataCols.filterNot(_ == "url").map { c =>
          (if (c == "warc_ts") col("s.warc_ts")
           else when(isDel, lit(null)).otherwise(col(s"s.$c"))).as(c)
        } :+
        col("s.seq").as(LakeTable.SeqCol) :+
        isDel.as(LakeTable.DeletedCol) :++
        (if (positions) Seq(col(s"t.${LakeTable.FileNameCol}").as("_dfname"),
          col(s"t.${LakeTable.RowIndexCol}").as("_dpos"))
        else Nil): _*)
  }

  /** The partition count of every bucket-aligned exchange: the smallest
    * divisor of `numBuckets` that is at least `max(parallelism,
    * ceil(bytes / advisoryBytes))`, or `numBuckets` when none is. Because
    * it divides `numBuckets`, `pmod(hash(url), numBuckets) mod P ==
    * pmod(hash(url), P)`: each bucket still lands in exactly one
    * partition. A small commit on a small cluster runs one task per core
    * instead of `numBuckets` near-empty ones; at scale the bytes term
    * brings P back to `numBuckets`, so large tables keep their
    * parallelism. */
  private[graft] def alignedPartitions(
      numBuckets: Int, parallelism: Int, bytes: Long, advisoryBytes: Long): Int = {
    val want = math.max(parallelism.toLong, (bytes + advisoryBytes - 1) / advisoryBytes)
    (1 to numBuckets).find(d => numBuckets % d == 0 && d >= want).getOrElse(numBuckets)
  }

  /** [[alignedPartitions]] for this session: the cluster width and the
    * AQE advisory partition size, for a job that touches at most `bytes`. */
  private def alignedPartitions(spark: SparkSession, numBuckets: Int, bytes: Long): Int =
    alignedPartitions(numBuckets, spark.sparkContext.defaultParallelism, bytes,
      spark.sessionState.conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES))

  /** The one lake data-file writer (bulk, pruned and MoR ingest writes,
    * compaction, rebucket): adds `_bucket`, writes bucket-partitioned
    * parquet with a `url` bloom ([[withUrlBloom]]), INT64-micros `warc_ts`
    * ([[withMicrosTimestamps]]) and at most `maxFileRows` rows per file
    * (0 = unlimited), then moves the files in ([[moveDataFiles]]).
    * `partitions` divides `numBuckets` ([[alignedPartitions]]), so a url
    * hash into `partitions` puts each bucket in one partition (partition
    * = bucket mod `partitions`) and every touched bucket gets one file
    * (or its `maxFileRows` rolls). `sortKeys = None` takes `rows` as
    * already hashed that way (merge output); a rewrite passes `Some(keys)`
    * and gets one repartition by url into `partitions` and one
    * within-partition sort by `_bucket`, `keys`, `warc_ts`, `url` — the
    * leading `_bucket` satisfies the partitioned write's required
    * ordering, so the writer adds no sort of its own. */
  private def writeBucketFiles(
      spark: SparkSession,
      table: LakeTable,
      rows: DataFrame,
      numBuckets: Int,
      partitions: Int,
      version: Long,
      nameTag: String,
      maxFileRows: Long,
      sortKeys: Option[Seq[Column]] = None,
      bloomNdv: Long = RowGroupBloomNdv): Seq[DataFileEntry] = {
    val bucketed = rows.withColumn(LakeTable.BucketCol, LakeTable.bucketExpr(numBuckets))
    val laid = sortKeys.fold(bucketed)(keys => bucketed
      .repartition(partitions, col("url"))
      .sortWithinPartitions(
        (col(LakeTable.BucketCol) +: keys) ++ Seq(col("warc_ts"), col("url")): _*))
    val tmpDir = table.root.resolve(s".tmp-${java.util.UUID.randomUUID()}")
    val w = withUrlBloom(laid.write, bloomNdv)
      .partitionBy(LakeTable.BucketCol).mode("overwrite")
    withMicrosTimestamps(spark) {
      (if (maxFileRows > 0) w.option("maxRecordsPerFile", maxFileRows) else w)
        .parquet(tmpDir.toString)
    }
    moveDataFiles(spark, table, tmpDir, version, nameTag)
  }

  /** Record the exact (file, row) positions a MoR-DV commit supersedes
    * (Iceberg v3 deletion-vector / Delta DV analog): the `_dfname`/`_dpos`
    * of every `changed` row that matched a target row ([[morChangedRows]]
    * with positions). The target is the touched buckets' visible rows, so
    * each position is the one row of its url that no prior delete hides,
    * and no position is ever recorded twice: without that, a hot url
    * updated every batch would re-record its long-dead base-file position
    * each time and the vector stack would grow O(batches). Each vector
    * row keeps its `url`, which places it in its bucket; the write goes
    * through [[writeBucketFiles]] like the data write. Returns the new
    * vector files, bucket-partitioned like every delete file. */
  private def writeDeletionVectors(
      spark: SparkSession,
      table: LakeTable,
      changed: DataFrame,
      numBuckets: Int,
      partitions: Int,
      newVersion: Long,
      nameTag: String,
      bloomNdv: Long): Seq[graft.lake.DeleteFileEntry] =
    writeBucketFiles(spark, table,
      changed.filter(col("_dfname").isNotNull).select("url", "_dfname", "_dpos"),
      numBuckets, partitions, newVersion, s"$nameTag-dv", maxFileRows = 0L,
      bloomNdv = bloomNdv)
      .map(f => graft.lake.DeleteFileEntry(f.path, f.bucket, f.rows, f.sizeBytes,
        newVersion, kind = graft.lake.DeleteFileEntry.Positional))

  /** Move spark's partitioned output ([[writeBucketFiles]]) into the
    * table's data dir under version-scoped names; row
    * counts come from parquet footers (metadata only — no extra Spark
    * job). `nameTag` must be non-empty for any write that can RACE the
    * ingest path to the same target version (compaction): two writers
    * producing the same `s{v}-b{b}-{i}` name silently replace each
    * other's file via POSIX rename, and the loser's cleanup then deletes
    * the winner's live data. */
  private def moveDataFiles(
      spark: SparkSession, table: LakeTable, tmpDir: Path, version: Long,
      nameTag: String = ""): Seq[DataFileEntry] = {
    val conf = spark.sessionState.newHadoopConf()
    val bucketDirs = LakeTable.listDir(tmpDir)
      .filter(p => p.getFileName.toString.startsWith(s"${LakeTable.BucketCol}="))
    // parallel: footer reads are ~10ms each and there can be hundreds of
    // buckets — serial moves were showing up as per-batch driver stalls
    val entries = LakeTable.driverFanOut(bucketDirs) { bd =>
      val bucket = bd.getFileName.toString.stripPrefix(s"${LakeTable.BucketCol}=").toInt
      val parts = LakeTable.listDir(bd)
        .filter(_.getFileName.toString.endsWith(".parquet")).sortBy(_.toString)
      parts.zipWithIndex.map { case (p, i) =>
        val name = f"s$version%08d$nameTag%s-b$bucket%05d-$i%03d.parquet"
        val dest = table.dataDir.resolve(name)
        Files.move(p, dest, StandardCopyOption.ATOMIC_MOVE)
        val (rows, tsRange, colStats) = parquetFooterAll(dest, conf)
        DataFileEntry(table.root.relativize(dest).toString, bucket, rows, Files.size(dest),
          tsRange.map(_._1), tsRange.map(_._2), addedVersion = version,
          colStats = colStats)
      }
    }.flatten
    LakeTable.deleteRecursively(tmpDir)
    entries
  }

  /** One footer open → (row count, warc_ts zone map, generalized column
    * bounds). The zone map is the min/max of `warc_ts` over non-null
    * values across all row groups, usable only when the column is written
    * as INT64 TIMESTAMP_MICROS (see [[withMicrosTimestamps]] — Spark's
    * default INT96 carries no statistics). Any row group without a
    * statistics object degrades the whole file to `None` (unbounded —
    * always scanned), never to a wrong bound; all-null row groups simply
    * contribute nothing. The generalized bounds ([[graft.lake.ColStat]],
    * the Iceberg lower/upper-bounds analog) are harvested for every
    * primitive leaf column EXCEPT warc_ts (specialized above), system
    * columns, and strings over 64 chars (a min/max of document texts would
    * bloat the manifest for columns no one range-filters). Any row group
    * with a missing statistics object degrades that column to absent —
    * never to a wrong bound. */
  def parquetFooterAll(p: Path, conf: org.apache.hadoop.conf.Configuration)
      : (Long, Option[(Long, Long)], Map[String, graft.lake.ColStat]) = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val in = org.apache.parquet.hadoop.util.HadoopInputFile
      .fromPath(new org.apache.hadoop.fs.Path(p.toUri), conf)
    val rd = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val rows = rd.getRecordCount
      var mn = Long.MaxValue
      var mx = Long.MinValue
      var usable = true
      // per-column accumulators: typ, min, max; dropped on first bad block
      val acc = scala.collection.mutable.Map.empty[String, graft.lake.ColStat]
      val dead = scala.collection.mutable.Set.empty[String]
      val skip = Set("warc_ts", LakeTable.SeqCol, LakeTable.DeletedCol)
      rd.getFooter.getBlocks.asScala.foreach { block =>
        block.getColumns.asScala.find(_.getPath.toDotString == "warc_ts") match {
          case Some(cc)
              if cc.getPrimitiveType.getPrimitiveTypeName == INT64 =>
            val st = cc.getStatistics
            if (st == null) usable = false
            else if (st.hasNonNullValue) {
              mn = math.min(mn, st.genericGetMin.asInstanceOf[java.lang.Long].longValue())
              mx = math.max(mx, st.genericGetMax.asInstanceOf[java.lang.Long].longValue())
            } // all-null row group: contributes nothing, stays usable
          case _ => usable = false // absent column or INT96: no zone map
        }
        block.getColumns.asScala.foreach { cc =>
          val name = cc.getPath.toDotString
          if (!skip(name) && !dead(name) && cc.getPath.size == 1) {
            val pt = cc.getPrimitiveType
            val isStr = pt.getLogicalTypeAnnotation
              .isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation]
            // An INT32/INT64 with a logical annotation (timestamp micros,
            // date, int-backed decimal, unsigned int) stores PHYSICAL
            // values whose domain differs from the external Spark type
            // that readColRange casts user bounds into — recording them as
            // "long" would compare micros/days/unscaled values against
            // user-domain bounds and silently prune files that contain
            // matching rows. Only unannotated or signed-int annotations
            // keep the plain-integer domain; everything else records no
            // stat, so pruning degrades to correct, never to wrong.
            val plainInt = pt.getLogicalTypeAnnotation match {
              case null => true
              case a: LogicalTypeAnnotation.IntLogicalTypeAnnotation => a.isSigned
              case _ => false
            }
            val st = cc.getStatistics
            val typ = pt.getPrimitiveTypeName match {
              case INT32 | INT64 if plainInt => Some("long")
              case FLOAT | DOUBLE => Some("double")
              case BINARY if isStr => Some("string")
              case _ => None
            }
            (typ, Option(st)) match {
              case (Some(t), Some(s)) if s.hasNonNullValue =>
                val (lo, hi) = t match {
                  case "long" => (s.genericGetMin.asInstanceOf[Number].longValue.toString,
                    s.genericGetMax.asInstanceOf[Number].longValue.toString)
                  case "double" => (s.genericGetMin.asInstanceOf[Number].doubleValue.toString,
                    s.genericGetMax.asInstanceOf[Number].doubleValue.toString)
                  case _ =>
                    (s.genericGetMin.asInstanceOf[org.apache.parquet.io.api.Binary]
                      .toStringUsingUTF8,
                      s.genericGetMax.asInstanceOf[org.apache.parquet.io.api.Binary]
                        .toStringUsingUTF8)
                }
                if (t == "string" && (lo.length > 64 || hi.length > 64)) {
                  dead += name; acc.remove(name)
                } else acc.get(name) match {
                  case None => acc(name) = graft.lake.ColStat(t, lo, hi)
                  case Some(prev) =>
                    def lower(a: String, b: String) =
                      if (LakeTable.statOrder(t, a, b) <= 0) a else b
                    def upper(a: String, b: String) =
                      if (LakeTable.statOrder(t, a, b) >= 0) a else b
                    acc(name) = graft.lake.ColStat(t,
                      lower(prev.min, lo), upper(prev.max, hi))
                }
              case (Some(_), Some(s)) if !s.hasNonNullValue => // all-null block: nothing
              case _ => dead += name; acc.remove(name)
            }
          }
        }
      }
      (rows, if (usable && mn <= mx) Some((mn, mx)) else None, acc.toMap)
    } finally rd.close()
  }

  /** Parquet split-block bloom filters on `url` for every lake DATA write
    * (all of them go through [[writeBucketFiles]]). At 100 TB a bucket's
    * files hold many row groups, and the pushed `url IN (...)` residual of
    * a point lookup can then skip every row group whose bloom misses — the
    * row-group-level twin of the manifest's bucket planning. parquet-mr
    * evaluates blooms during its row-group filtering, so nothing is needed
    * on the read side. NDV is sized to the ROW GROUP (the bloom's scope),
    * not the table: a ~128 MB row group of pages holds low-10^5 urls
    * ([[RowGroupBloomNdv]]). A merge-on-read delta file is far smaller and
    * is also read as its commit's equality-delete key set, bloom included,
    * so that write passes an ndv derived from the batch's winner count. */
  private def withUrlBloom(
      w: org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row],
      ndv: Long)
      : org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row] =
    w.option("parquet.bloom.filter.enabled#url", "true")
      .option("parquet.bloom.filter.expected.ndv#url", ndv.toString)

  private val RowGroupBloomNdv = 100000L
  private val MinDeltaBloomNdv = 128L

  /** Run `body` (which must EXECUTE its write actions, not just plan them)
    * with parquet timestamps written as INT64 TIMESTAMP_MICROS instead of
    * Spark's default INT96: INT96 is deprecated, statistics-less (so no
    * zone maps and no parquet row-group pruning on `warc_ts`), and larger
    * on disk. Session-scoped set/restore — [[writeBucketFiles]] is the
    * only caller. */
  private def withMicrosTimestamps[T](spark: SparkSession)(body: => T): T = {
    val key = "spark.sql.parquet.outputTimestampType"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "TIMESTAMP_MICROS")
    try body finally spark.conf.set(key, prev)
  }

  // -------------------------------------------------------------------
  // driver loop: resumable from checkpoint (= the snapshot watermark)
  // -------------------------------------------------------------------

  private val SegName = raw"segment-(\d+)\.bin".r

  /** List `feedDir` for WAL segments through the Hadoop FileSystem API —
    * shared by the batch driver loop and [[StreamingIngest]] — so any
    * scheme Spark can read (file:, hdfs:, s3a:, …) lists correctly; the
    * former java.nio listing silently saw an EMPTY feed for non-local
    * schemes, turning every distributed-deployment ingest into a no-op. */
  def listSegments(
      feedDir: String,
      conf: org.apache.hadoop.conf.Configuration =
        new org.apache.hadoop.conf.Configuration()): Seq[(Long, String)] = {
    val path = new org.apache.hadoop.fs.Path(feedDir)
    val fs = path.getFileSystem(conf)
    if (!fs.exists(path)) Seq.empty
    else fs.listStatus(path).toSeq.flatMap { st =>
      st.getPath.getName match {
        case SegName(id) => Some(id.toLong -> st.getPath.toString)
        case _           => None
      }
    }.sortBy(_._1)
  }

  /** The pending work of every front-end ([[run]], [[stageNext]],
    * [[StreamingIngest]]): the segments of `feedDir` that directly follow
    * the table's watermark, in chunks of `segmentsPerBatch`. The run stops
    * at the first missing segment; the segments after it wait until it
    * lands, so no batch is ever planned across a hole. */
  private[ingest] def pendingBatches(spark: SparkSession, table: LakeTable,
      feedDir: String, segmentsPerBatch: Int): Seq[Seq[(Long, String)]] = {
    require(segmentsPerBatch > 0, s"segmentsPerBatch must be positive, got $segmentsPerBatch")
    val watermark = table.currentSnapshot().watermarkSegment
    listSegments(feedDir, spark.sessionState.newHadoopConf())
      .dropWhile(_._1 <= watermark).zipWithIndex
      .takeWhile { case ((id, _), i) => id == watermark + 1 + i }
      .map(_._1).grouped(segmentsPerBatch).toSeq
  }

  /** Ingest the WAL segments that follow the table's checkpoint, in
    * batches ([[pendingBatches]]). Safe to call repeatedly / after a
    * crash: the watermark in the latest committed snapshot is the
    * checkpoint. Returns committed snapshots. */
  def run(
      spark: SparkSession,
      table: LakeTable,
      feedDir: String,
      config: IngestConfig = IngestConfig()): Seq[Snapshot] =
    pendingBatches(spark, table, feedDir, config.segmentsPerBatch)
      .map(applyBatch(spark, table, _, config))
}
