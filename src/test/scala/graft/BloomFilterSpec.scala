package graft

import scala.jdk.CollectionConverters._

import org.apache.parquet.column.values.bloomfilter.BloomFilter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType}

import graft.feed.{FeedGen, FeedSpec}
import graft.ingest.CdcIngest
import graft.ingest.CdcIngest.IngestConfig
import graft.lake.LakeTable

/** Parquet split-block bloom filters on `url` in every lake data write:
  * the row-group-level twin of the manifest's bucket planning. A point
  * lookup's pushed `url IN (...)` residual lets parquet-mr skip row groups
  * whose bloom misses — at 100 TB that is the difference between reading
  * one row group and reading a whole multi-GB bucket file. */
class BloomFilterSpec extends SparkTestBase {

  private val spec = FeedSpec(seed = 51L, numEvents = 2000, numUrls = 400,
    eventsPerSegment = 500)

  private def bloomOf(table: LakeTable, path: String): Option[(BloomFilter, Long)] = {
    val conf = spark.sessionState.newHadoopConf()
    val in = HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(table.root.resolve(path).toUri), conf)
    val rd = ParquetFileReader.open(in)
    try {
      val block = rd.getFooter.getBlocks.asScala.head
      val col = block.getColumns.asScala
        .find(_.getPath.toDotString == "url").get
      if (col.getBloomFilterOffset < 0) None
      else Some((rd.getBloomFilterDataReader(block).readBloomFilter(col),
        block.getRowCount))
    } finally rd.close()
  }

  /** The `warc_ts` column's parquet type in a data file's footer. */
  private def warcTsType(table: LakeTable, path: String): PrimitiveType = {
    val in = HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(
      table.root.resolve(path).toUri), spark.sessionState.newHadoopConf())
    val rd = ParquetFileReader.open(in)
    try rd.getFooter.getFileMetaData.getSchema.getType(Seq("warc_ts"): _*).asPrimitiveType
    finally rd.close()
  }

  test("ingest, compaction and rebucket all write url blooms; membership is sound") {
    val feed = tmpDir("bloomfeed")
    FeedGen.writeSegments(spec, feed)
    val table = LakeTable.create(tmpDir("bloomtbl"), CdcIngest.PagesSchemaV1, 8)
    val segs = CdcIngest.listSegments(feed)
    val cap = 20L

    /** The writer contract on every data file the latest commit added: a
      * url bloom, INT64 TIMESTAMP(MICROS) `warc_ts` with its zone map in
      * the manifest, and at most `cap` rows where a cap was set. */
    def assertNewFiles(capped: Boolean): Unit = {
      val snap = table.currentSnapshot()
      val added = snap.files.filter(_.addedVersion == snap.version)
      assert(added.nonEmpty, s"v${snap.version} added no data files")
      added.foreach { f =>
        assert(bloomOf(table, f.path).isDefined, s"${f.path} has no url bloom filter")
        val ts = warcTsType(table, f.path)
        assert(ts.getPrimitiveTypeName == PrimitiveType.PrimitiveTypeName.INT64 &&
          ts.getLogicalTypeAnnotation == LogicalTypeAnnotation.timestampType(
            true, LogicalTypeAnnotation.TimeUnit.MICROS), s"${f.path} warc_ts is $ts")
        assert(f.tsMinMicros.isDefined && f.tsMaxMicros.isDefined,
          s"${f.path} has no warc_ts zone map in the manifest")
        if (capped) assert(f.rows <= cap, s"${f.path} holds ${f.rows} rows > cap $cap")
      }
    }

    // bulk load, a capped second batch, then a merge-on-read trickle commit
    CdcIngest.applyBatch(spark, table, segs.take(2), IngestConfig(numBuckets = 8))
    assertNewFiles(capped = false)
    CdcIngest.applyBatch(spark, table, segs.slice(2, 3),
      IngestConfig(numBuckets = 8, maxFileRows = cap))
    assertNewFiles(capped = true)
    val mor = CdcIngest.applyBatch(spark, table, segs.slice(3, 4),
      IngestConfig(numBuckets = 8, mergeOnRead = true))
    assert(mor.metrics("strategy") == "mor")
    assertNewFiles(capped = false)

    def assertBloomsSound(): Unit = {
      val snap = table.currentSnapshot()
      val urlsByBucket = table.read(spark).select("url").collect()
        .map(_.getString(0)).groupBy(u => LakeTable.bucketOf(u, snap.numBuckets))
      snap.files.foreach { f =>
        val (bloom, _) = bloomOf(table, f.path).getOrElse(
          fail(s"${f.path} has no url bloom filter"))
        // no false negatives: every live url of the file's bucket that this
        // file could hold must hit (the file may hold only a subset; testing
        // the whole bucket's urls is only valid on single-file buckets)
        if (snap.files.count(_.bucket == f.bucket) == 1)
          urlsByBucket.getOrElse(f.bucket, Array.empty).foreach { u =>
            assert(bloom.findHash(bloom.hash(Binary.fromString(u))),
              s"present url $u missed by ${f.path}'s bloom")
          }
      }
      // discriminating: absent keys mostly miss (fpp ~1%; allow 10/100)
      val (bloom, _) = bloomOf(table, snap.files.head.path).get
      val misses = (0 until 100).count(i =>
        !bloom.findHash(bloom.hash(Binary.fromString(s"https://absent-$i.example/nope"))))
      assert(misses >= 90, s"only $misses/100 absent keys missed — bloom is vacuous")
    }

    assertBloomsSound() // ingest-written files (multi-file buckets: presence only)
    CdcIngest.compact(spark, table) // single-file buckets: full soundness check
    assertNewFiles(capped = false)
    assertBloomsSound()
    CdcIngest.rebucket(spark, table, 16)
    assertNewFiles(capped = false)
    assertBloomsSound()
    CdcIngest.rebucket(spark, table, 8, maxFileRows = cap)
    assertNewFiles(capped = true)
    assertBloomsSound()

    // lookup stays correct through bloom-filtered row-group reads
    val expected = FeedGen.expectedState(FeedGen.events(spec))
    val keys = expected.keys.toSeq.sorted.take(5)
    val got = table.lookup(spark, keys).select("url", "text").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == keys.map(u => (u, expected(u).text)).toSet)
  }
}
