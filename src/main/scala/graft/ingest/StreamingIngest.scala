package graft.ingest

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.ingest.CdcIngest.IngestConfig
import graft.lake.LakeTable

/** Structured Streaming front-end for the engine (north rule: "Structured
  * Streaming pipeline … foreachBatch MERGE"; SURVEY.md §2.10).
  *
  * The WAL directory is tailed with the file streaming source
  * (`binaryFile` — new `segment-*.bin` files are discovered as they land);
  * each micro-batch's file list is handed to [[CdcIngest.applyBatch]],
  * which performs decode → LWW dedup → MERGE → atomic snapshot
  * commit.
  *
  * Exactly-once holds under BOTH coordination layers:
  *  - Spark's streaming checkpoint tracks which files were seen;
  *  - the lake table's own watermark makes any replayed batch a no-op
  *    (applyBatch skips batches at or below the committed watermark), so a
  *    crash between sink commit and checkpoint write cannot double-apply.
  *
  * Micro-batch delivery order is NOT trusted: `FileStreamSource` orders
  * files by modification time with an arbitrary tie-break, so one batch can
  * carry segments {0,1,3} while {2} lands in the next. Each micro-batch is
  * therefore treated purely as a *trigger*: the feed directory is re-listed
  * and the contiguous run of segments above the table watermark is applied.
  * Segments beyond a hole stay on disk and are picked up by a later trigger
  * (or the final drain check), so out-of-order delivery can never lose data
  * — [[CdcIngest.applyBatch]] additionally rejects any batch whose id set
  * has an internal gap. Restart safety comes from the lake watermark, not
  * the Spark checkpoint: the listing is reproducible from disk and replayed
  * triggers are no-ops below the watermark.
  */
object StreamingIngest {

  /** Run a streaming ingest over `feedDir`. With [[Trigger.AvailableNow]]
    * (the default) this drains everything currently in the directory and
    * stops — the replay-from-WAL shape; a processing-time trigger tails the
    * directory indefinitely. Returns the number of micro-batches applied.
    * Without a `checkpointDir` the run checkpoints to a temp dir of its
    * own and deletes it once the query has stopped; a caller's dir is
    * left in place for the next run to resume from. */
  def run(
      spark: SparkSession,
      table: LakeTable,
      feedDir: String,
      config: IngestConfig = IngestConfig(),
      checkpointDir: Option[String] = None,
      trigger: Trigger = Trigger.AvailableNow(),
      maxFilesPerTrigger: Option[Int] = None,
      mviewRoot: Option[String] = None): Long = {
    val ckpt = checkpointDir.getOrElse {
      // default checkpoints to tmpfs when present: the streaming commit log
      // fsyncs many small files per micro-batch — the worst pattern for
      // this box's slow virtualized /tmp (callers with durability needs
      // pass an explicit checkpointDir, as the cdc_stream_* queries do)
      val shm = java.nio.file.Paths.get("/dev/shm")
      val base = if (Files.isWritable(shm)) shm
        else java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
      Files.createTempDirectory(base, "graft-stream-ckpt").toString
    }
    try {
      var batches = 0L
      // the binaryFile source's fixed schema, required explicitly for streams
      val binaryFileSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("path", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("modificationTime", org.apache.spark.sql.types.TimestampType),
        org.apache.spark.sql.types.StructField("length", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("content", org.apache.spark.sql.types.BinaryType)))
      val reader = spark.readStream.format("binaryFile")
        .schema(binaryFileSchema)
        .option("pathGlobFilter", "segment-*.bin")
      maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n.toString))
      val files = reader.load(feedDir)
        .select(col("path")) // content stays in the source; applyBatch re-reads
      val query = files.writeStream
        .queryName("graft-cdc-ingest")
        .option("checkpointLocation", ckpt)
        .trigger(trigger)
        .foreachBatch { (batchDf: org.apache.spark.sql.DataFrame, batchId: Long) =>
          // The batch content is only a trigger; the authoritative work list
          // is a fresh directory listing filtered to the contiguous run above
          // the lake watermark (delivery order across micro-batches is not
          // monotone in segment id — see scaladoc).
          batchDf.select(count(lit(1))).collect() // force the source to advance
          if (applyContiguous(spark, table, feedDir, config)) batches += 1
          mviewRoot.foreach(r => refreshMview(spark, table, r))
        }
        .start()
      try query.awaitTermination() finally query.stop()
      // AvailableNow stops after draining what the SOURCE saw; a segment that
      // landed mid-drain may still be waiting on disk — apply the remainder.
      if (trigger == Trigger.AvailableNow()) {
        while (applyContiguous(spark, table, feedDir, config)) batches += 1
        mviewRoot.foreach(r => refreshMview(spark, table, r))
      }
      batches
    } finally if (checkpointDir.isEmpty)
      LakeTable.deleteRecursively(java.nio.file.Paths.get(ckpt))
  }

  /** Continuous downstream maintenance: after each micro-batch commit, roll
    * the materialized view forward from that batch's change deltas (seed on
    * first sight). MV durability is independent of the stream — a crash
    * between table commit and MV flip just means the next trigger's refresh
    * covers two versions instead of one (the delta fold composes), so the
    * MV needs no coordination with the streaming checkpoint. */
  private def refreshMview(
      spark: SparkSession, table: LakeTable, mvRoot: String): Unit = {
    import graft.lake.MaterializedView
    if (MaterializedView.appliedVersion(mvRoot).isEmpty)
      MaterializedView.seed(spark, table, mvRoot)
    else MaterializedView.refresh(spark, table, mvRoot)
  }

  /** Apply the contiguous run of on-disk segments above the table
    * watermark (if any) in the batch front-end's chunks
    * ([[CdcIngest.pendingBatches]]) — a trigger that finds a 10k-segment
    * backlog must NOT hand the whole backlog to applyBatch as one
    * unbounded batch: the config's memory/shuffle bound would be silently
    * void and the commit history (one snapshot per N segments) would
    * diverge from the batch front-end's for the same config. Returns true
    * if any batch was applied. Crash-safe at every chunk boundary: each
    * applyBatch commits its own watermark, so a kill mid-backlog resumes
    * at the next chunk. */
  private def applyContiguous(
      spark: SparkSession,
      table: LakeTable,
      feedDir: String,
      config: IngestConfig): Boolean = {
    val batches = CdcIngest.pendingBatches(spark, table, feedDir, config.segmentsPerBatch)
    batches.foreach(CdcIngest.applyBatch(spark, table, _, config))
    batches.nonEmpty
  }
}
