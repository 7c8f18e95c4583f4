package graft

import org.apache.spark.sql.functions._

import graft.feed.{FeedGen, FeedSpec}
import graft.ingest.CdcIngest
import graft.ingest.CdcIngest.IngestConfig
import graft.lake.{LakeTable, Snapshot}

/** The partition count of bucket-aligned exchanges
  * (`CdcIngest.alignedPartitions`) and the file layout it must keep: with
  * P a divisor of the bucket count, partition = bucket mod P, so every
  * write still makes one file per touched bucket. */
class AlignedPartitionsSpec extends SparkTestBase {

  private val Mb64 = 64L << 20

  private def p(numBuckets: Int, cores: Int, bytes: Long = 0L): Int =
    CdcIngest.alignedPartitions(numBuckets, cores, bytes, Mb64)

  test("the partition count always divides the bucket count") {
    for (n <- 1 to 130; cores <- Seq(1, 2, 3, 4, 6, 8, 32, 200);
         bytes <- Seq(0L, 1L, 5 * Mb64, 100L * Mb64, 1L << 50)) {
      val got = CdcIngest.alignedPartitions(n, cores, bytes, Mb64)
      assert(n % got == 0, s"$got does not divide $n (cores $cores, bytes $bytes)")
      // and it is the smallest such divisor that meets the floor, if any
      val want = math.max(cores.toLong, (bytes + Mb64 - 1) / Mb64)
      val smaller = (1 until got).filter(d => n % d == 0 && d >= want)
      assert(smaller.isEmpty, s"$n buckets, cores $cores, bytes $bytes: $got, yet $smaller qualify")
    }
  }

  test("the cluster width picks the smallest divisor at or above it") {
    assert(p(16, 4) == 4)
    assert(p(16, 6) == 8)
    assert(p(64, 4) == 4)
    assert(p(12, 5) == 6)
  }

  test("a prime bucket count or one below the core count keeps every bucket its own partition") {
    assert(p(7, 4) == 7)
    assert(p(13, 4) == 13)
    assert(p(2, 4) == 2)
    assert(p(3, 8) == 3)
  }

  test("the bytes term raises the count and caps it at the bucket count") {
    assert(p(16, 4, 5 * Mb64) == 8)
    assert(p(16, 4, 16 * Mb64) == 16)
    assert(p(16, 4, 16 * Mb64 + 1) == 16)
    assert(p(64, 4, 1L << 50) == 64) // 100 TB-class table: full bucket parallelism
  }

  test("P < numBuckets: every write adds one file per touched bucket, rows in their file's bucket") {
    // 16 buckets on local[4] (P = 4), then rebucket to 8 (P = 4); no file cap
    val spec = FeedSpec(seed = 61L, numEvents = 3000, numUrls = 1500, eventsPerSegment = 50)
    val feed = tmpDir("alfeed")
    val segs = FeedGen.writeSegments(spec, feed).zipWithIndex
      .map { case (path, i) => i.toLong -> path.toString }
    val events = FeedGen.events(spec).toVector
    def bucketsOf(batch: Seq[(Long, String)], n: Int): Set[Int] =
      batch.flatMap { case (i, _) =>
        events.slice(i.toInt * spec.eventsPerSegment, (i.toInt + 1) * spec.eventsPerSegment)
      }.map(e => LakeTable.bucketOf(e.url, n)).toSet
    val table = LakeTable.create(tmpDir("altbl"), CdcIngest.PagesSchemaV1, 16)

    /** The files `snap` added: one per bucket, exactly `expected` buckets
      * (or a subset, where losing events write nothing), and every row in
      * its file's bucket. */
    def assertLayout(name: String, snap: Snapshot, expected: Set[Int],
        subset: Boolean = false): Unit = {
      val added = snap.files.filter(_.addedVersion == snap.version)
      assert(added.nonEmpty, s"$name added no files")
      val perBucket = added.groupBy(_.bucket)
      assert(perBucket.forall(_._2.size == 1),
        s"$name: more than one file in buckets ${perBucket.filter(_._2.size > 1).keys}")
      if (subset) assert(perBucket.keySet.subsetOf(expected), s"$name wrote outside $expected")
      else assert(perBucket.keySet == expected,
        s"$name wrote buckets ${perBucket.keySet.toSeq.sorted}, expected ${expected.toSeq.sorted}")
      val bucketOfFile = added.map(f => table.root.resolve(f.path).getFileName.toString -> f.bucket).toMap
      val wrong = spark.read
        .parquet(added.map(f => table.root.resolve(f.path).toString): _*)
        .select(col("_metadata.file_name"), LakeTable.bucketExpr(snap.numBuckets).as("b"))
        .distinct().collect()
        .filter(r => bucketOfFile(r.getString(0)) != r.getInt(1))
      assert(wrong.isEmpty, s"$name: rows outside their file's bucket: ${wrong.toSeq}")
    }

    val bulk = CdcIngest.applyBatch(spark, table, segs.take(50), IngestConfig())
    assert(bulk.metrics("strategy") == "bulk")
    assertLayout("bulk", bulk, bucketsOf(segs.take(50), 16))
    val pruned = CdcIngest.applyBatch(spark, table, segs.slice(50, 51), IngestConfig())
    assert(pruned.metrics("strategy") == "pruned")
    assertLayout("pruned", pruned, bucketsOf(segs.slice(50, 51), 16))
    val mor = CdcIngest.applyBatch(spark, table, segs.slice(51, 52),
      IngestConfig(mergeOnRead = true))
    assert(mor.metrics("strategy") == "mor")
    assertLayout("mor", mor, bucketsOf(segs.slice(51, 52), 16), subset = true)
    val before = table.currentSnapshot().files.map(_.bucket).toSet
    assertLayout("compact", CdcIngest.compact(spark, table), before)
    val rows = table.readRaw(spark, table.currentSnapshot())
      .select("url").collect().map(_.getString(0))
    assertLayout("rebucket", CdcIngest.rebucket(spark, table, 8),
      rows.map(LakeTable.bucketOf(_, 8)).toSet)
  }
}
