package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

import graft.feed.{FeedGen, FeedSpec}
import graft.ingest.CdcIngest
import graft.ingest.CdcIngest.IngestConfig
import graft.lake.LakeTable

/** Physical-plan property guards: the 100-TB scale story lives in plan
  * SHAPE (pushdown, broadcast, shuffle count, no cartesian blowups), and
  * those properties regress silently — a plan that quietly grows an extra
  * exchange or loses a pushed filter still returns correct rows at test SF.
  * Each assertion here pins a claim made in SURVEY.md §4 / BENCH.md. */
class PlanSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  /** Full formatted explain of the FINAL (post-AQE) plan — `toString`
    * truncates long fields like ReadSchema, and AQE hides exchanges
    * inside QueryStage wrappers, so string-level assertions go through
    * the formatted explain of the materialized plan. */
  private def planString(df: DataFrame): String = {
    df.collect() // materialize so AQE finalizes its plan
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
  }

  /** Count data-movement exchanges (hash/range/single-partition) in the
    * final plan; broadcast exchanges are excluded — broadcasting a small
    * side is the DESIRED plan, not a shuffle. */
  private def shuffleCount(plan: String): Int = {
    // count only the FINAL (post-AQE) plan — the formatted explain repeats
    // every node in its "Initial Plan" section; the negative lookbehind is
    // load-bearing: tree headers print as "BroadcastExchange (9)", whose
    // TAIL would otherwise match (a broadcast is the desired plan, not a
    // shuffle)
    val finalOnly = plan.split(raw"\+- == Initial Plan ==").head
    raw"(?<!Broadcast)Exchange \(\d+\)".r.findAllIn(finalOnly).length
  }

  test("q02: filter and projection are pushed into the parquet scan") {
    val plan = planString(SparkEntry.queries("q02_filter_project")(spark, sf))
    assert(plan.contains("PushedFilters: ["), s"no pushed filters in:\n$plan")
    assert(plan.contains("IsNotNull") || plan.contains("GreaterThan"),
      s"expected pushed predicates in:\n$plan")
    // column pruning: the scan must not read the full 16-column lineitem
    assert(plan.contains("ReadSchema:"), "no ReadSchema in plan")
    assert(!plan.contains("l_comment"),
      s"untouched column l_comment read by the scan:\n$plan")
  }

  test("q03: small dimension joins are broadcast, not shuffled") {
    val plan = planString(SparkEntry.queries("q03_join_broadcast")(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join in:\n$plan")
  }

  test("dedup pair generators never plan a cartesian/nested-loop join") {
    Seq("dd_minhash_pairs", "dd_ngram_jaccard", "dd_embed_cosine").foreach { q =>
      val plan = planString(SparkEntry.queries(q)(spark, sf))
      assert(!plan.contains("CartesianProduct"), s"$q plans a cartesian product")
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"$q plans a nested-loop join")
    }
  }

  private val aqe = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}

  /** Every plan `run` executes, in order, each with the output path of
    * the parquet write it issues ("" for none): a marker write before and
    * one after bound the listener events that belong to `run`. */
  private def executedPlans(run: () => Unit): Seq[(String, SparkPlan)] = {
    import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    import org.apache.spark.sql.util.QueryExecutionListener
    val plans = new LinkedBlockingQueue[(String, SparkPlan)]()
    // the write command runs inside AQE's final plan (a result query stage)
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        val out = aqe.collectFirst(qe.executedPlan) { case w: DataWritingCommandExec => w.cmd }
          .collect { case i: InsertIntoHadoopFsRelationCommand => i.outputPath.toString }
        plans.put((out.getOrElse(""), qe.executedPlan))
      }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    def upToMarker(): Seq[(String, SparkPlan)] = {
      val marker = tmpDir("marker")
      spark.range(1).write.mode("overwrite").parquet(marker)
      Iterator.continually(Option(plans.poll(30, TimeUnit.SECONDS))
          .getOrElse(fail("marker write not captured")))
        .takeWhile(!_._1.endsWith(marker)).toSeq
    }
    spark.listenerManager.register(listener)
    try { upToMarker(); run(); upToMarker() }
    finally spark.listenerManager.unregister(listener)
  }

  /** The executed plan of the first parquet write `run` issues. */
  private def writePlan(run: () => Unit): SparkPlan =
    executedPlans(run).collectFirst { case (out, plan) if out.nonEmpty => plan }
      .getOrElse(fail("no write captured"))

  private def shuffles(plan: SparkPlan): Seq[ShuffleExchangeExec] =
    aqe.collect(plan) { case e: ShuffleExchangeExec => e }

  /** The exchange's partitioning when it hashes `url` alone — a
    * bucket-aligned exchange. */
  private def urlHash(e: ShuffleExchangeExec): Option[HashPartitioning] =
    e.outputPartitioning match {
      case h: HashPartitioning if h.expressions.map {
          case a: Attribute => a.name
          case x => x.sql
        } == Seq("url") => Some(h)
      case _ => None
    }

  test("lwwDedup plans exactly one exchange: hashpartitioning(url, n), REPARTITION_BY_NUM") {
    import spark.implicits._
    import org.apache.spark.sql.execution.exchange.REPARTITION_BY_NUM
    val events = (1 to 1000)
      .map(i => (s"https://d${i % 7}.example.com/p/$i", i.toLong,
        new java.sql.Timestamp(1577836800000L + i), i % 3))
      .toDF("url", "seq", "warc_ts", "schema_version")
    // ONE exchange: the repartition(n, url) satisfies the groupBy(url)
    // distribution and doubles as the bucket alignment, so neither the
    // aggregation nor a downstream bucket-partitioned write adds another
    val df = CdcIngest.lwwDedup(events, urlPartitions = 8)
    val plan = planString(df)
    val n = shuffleCount(plan)
    assert(n == 1, s"expected exactly 1 exchange, found $n:\n$plan")
    val ex = shuffles(df.queryExecution.executedPlan)
    assert(ex.size == 1 && urlHash(ex.head).exists(_.numPartitions == 8) &&
      ex.head.shuffleOrigin == REPARTITION_BY_NUM,
      s"expected hashpartitioning(url, 8) from repartition:\n$plan")
    assert(!plan.contains("_salt"), s"a salt column is back:\n$plan")
  }

  test("merge path: bucket-aligned inputs add no exchange after the join") {
    import org.apache.spark.sql.execution.datasources.WriteFilesExec
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec}
    import org.apache.spark.sql.catalyst.optimizer.BuildRight
    import org.apache.spark.sql.internal.SQLConf
    // 50-event (~9 KB) segments: one is small next to the table, so it
    // takes the pruned/MoR path; a run of 99 is large enough for the bulk
    // path against the 16 seeded bucket files (~2 MB, url blooms included)
    val spec = FeedSpec(seed = 3L, numEvents = 5300, numUrls = 1500,
      eventsPerSegment = 50)
    val dir = tmpDir("planfeed")
    val segs = FeedGen.writeSegments(spec, dir).zipWithIndex
      .map { case (p, i) => i.toLong -> p.toString }
    val table = LakeTable.create(tmpDir("plantbl"), CdcIngest.PagesSchemaV1, 16)
    // 16 buckets on local[4] with KB-sized inputs: P = 4 < numBuckets
    val p = CdcIngest.alignedPartitions(16, spark.sparkContext.defaultParallelism,
      1L, spark.sessionState.conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES))
    assert(p == 4, s"expected P = 4 on local[4], got $p")
    // seed the table: a first load has an empty target, which AQE drops
    CdcIngest.applyBatch(spark, table, segs.take(1), IngestConfig())
    /** The nodes between the write and the first join below it. */
    def aboveJoin(n: SparkPlan): Seq[SparkPlan] = n match {
      case _: BaseJoinExec => Nil
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        aboveJoin(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => q +: aboveJoin(q.plan)
      case _ => n +: n.children.flatMap(aboveJoin)
    }
    def commit(name: String, batch: Seq[(Long, String)], strategy: String,
        cfg: IngestConfig): BaseJoinExec = {
      val plan = writePlan(() => CdcIngest.applyBatch(spark, table, batch, cfg))
      assert(table.currentSnapshot().metrics("strategy") == strategy,
        s"$name: took ${table.currentSnapshot().metrics("strategy")}")
      val write = aqe.collectFirst(plan) { case w: WriteFilesExec => w }
        .getOrElse(fail(s"$name: no WriteFiles in:\n$plan"))
      val join = aqe.collectFirst(write) { case j: BaseJoinExec => j }
        .getOrElse(fail(s"$name: no join under the write:\n$plan"))
      assert(!aboveJoin(write).exists(_.isInstanceOf[ShuffleExchangeExec]),
        s"$name: an exchange sits between the join and the write:\n$plan")
      shuffles(plan).flatMap(urlHash).foreach(h =>
        assert(h.numPartitions == p, s"$name: aligned exchange $h, expected $p:\n$plan"))
      join
    }
    // bulk: both inputs hashed into P
    val bulk = commit("bulk", segs.slice(1, 100), "bulk", IngestConfig())
    assert(Seq(bulk.left, bulk.right).forall(s => shuffles(s).flatMap(urlHash).size == 1),
      s"bulk: each merge input must be hashed by url once:\n$bulk")
    // pruned: the cached winners are already hashed; the target is hashed into P
    val pruned = commit("pruned", segs.slice(100, 101), "pruned", IngestConfig())
    assert(shuffles(pruned.left).flatMap(urlHash).size == 1 && shuffles(pruned.right).isEmpty,
      s"pruned: only the target may be hashed:\n$pruned")
    // MoR: the optimizer broadcasts the target — no shuffle on either side
    val mor = commit("mor", segs.slice(101, 102), "mor", IngestConfig(mergeOnRead = true))
    assert(mor.isInstanceOf[BroadcastHashJoinExec] &&
      mor.asInstanceOf[BroadcastHashJoinExec].buildSide == BuildRight,
      s"mor: the target is not the broadcast side:\n$mor")
    assert(aqe.collect(mor.right) { case b: BroadcastExchangeExec => b }.nonEmpty &&
      shuffles(mor).isEmpty, s"mor: the target must be broadcast, not shuffled:\n$mor")
    // MoR with broadcasts off: the target is co-partitioned to the
    // winners' url hash, once; the cached winners are not re-shuffled
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    val shuffled = try commit("mor, no broadcast", segs.slice(102, 103), "mor",
      IngestConfig(mergeOnRead = true))
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    val tgt = shuffles(shuffled.right)
    assert(tgt.size == 1 && urlHash(tgt.head).exists(_.numPartitions == p),
      s"mor, no broadcast: the target needs exactly one hashpartitioning(url, $p):\n$shuffled")
    assert(shuffles(shuffled.left).isEmpty,
      s"mor, no broadcast: the winners were re-shuffled:\n$shuffled")
    // the committed files are bucket-clustered: every physical row sits in
    // a file named for its bucket
    val snap = table.currentSnapshot()
    val physical = spark.read.parquet(snap.files.map(f => table.root.resolve(f.path).toString): _*)
    val misplaced = physical
      .select(col("_metadata.file_name"), LakeTable.bucketExpr(16).as("b")).distinct().collect()
      .filterNot(r => r.getString(0).contains(f"-b${r.getInt(1)}%05d-"))
    assert(misplaced.isEmpty, s"rows outside their file's bucket: ${misplaced.toSeq}")
    // and the per-file rows from footers sum to the physical row count
    assert(snap.files.map(_.rows).sum == physical.count())
  }

  test("compaction and rebucket writes: one shuffle and one _bucket-led sort each") {
    import org.apache.spark.sql.execution.SortExec
    val spec = FeedSpec(seed = 5L, numEvents = 1000, numUrls = 200, eventsPerSegment = 500)
    val dir = tmpDir("rwplanfeed")
    FeedGen.writeSegments(spec, dir)
    val table = LakeTable.create(tmpDir("rwplantbl"), CdcIngest.PagesSchemaV1, 8)
    CdcIngest.run(spark, table, dir, IngestConfig(numBuckets = 8, segmentsPerBatch = 1))
    Seq[(String, () => Unit)](
        "compact" -> (() => CdcIngest.compact(spark, table)),
        "rebucket" -> (() => CdcIngest.rebucket(spark, table, 16))).foreach {
      case (name, rewrite) =>
        val plan = writePlan(rewrite)
        val sorts = aqe.collect(plan) { case s: SortExec => s }
        assert(shuffles(plan).size == 1,
          s"$name: expected 1 shuffle, found ${shuffles(plan).size}:\n$plan")
        assert(sorts.size == 1, s"$name: expected 1 sort, found ${sorts.size}:\n$plan")
        val keys = sorts.head.sortOrder.map(_.child match {
          case a: Attribute => a.name
          case e => e.sql
        })
        assert(keys == Seq(LakeTable.BucketCol, "warc_ts", "url"), s"$name sorts by $keys")
    }
  }

  test("DV read: positional vectors apply as a broadcast anti-join, zero shuffles") {
    val spec = FeedSpec(seed = 92L, numEvents = 2000, numUrls = 300,
      eventsPerSegment = 500)
    val dir = tmpDir("dvplanfeed")
    FeedGen.writeSegments(spec, dir)
    val table = LakeTable.create(tmpDir("dvplantbl"), CdcIngest.PagesSchemaV1, 8)
    CdcIngest.run(spark, table, dir, IngestConfig(numBuckets = 8,
      segmentsPerBatch = 1, mergeOnRead = true, deleteVectors = true))
    assert(table.currentSnapshot().deleteFiles.nonEmpty)
    val plan = planString(table.read(spark))
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"vector application must be a broadcast anti-join:\n$plan")
    val n = shuffleCount(plan)
    assert(n == 0, s"a delete-aware read must add no shuffle, found $n:\n$plan")
  }

  test("MoR reads: one data scan for any number of versions, one scan per delete kind") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val spec = FeedSpec(seed = 93L, numEvents = 3000, numUrls = 300, eventsPerSegment = 500)
    val dir = tmpDir("scanplanfeed")
    val segs = FeedGen.writeSegments(spec, dir).zipWithIndex
      .map { case (p, i) => i.toLong -> p.toString }
    val table = LakeTable.create(tmpDir("scanplantbl"), CdcIngest.PagesSchemaV1, 8)
    val mor = IngestConfig(mergeOnRead = true)
    // a bulk base, three stacked equality-delete commits, one vector commit
    segs.take(4).foreach(sg => CdcIngest.applyBatch(spark, table, Seq(sg), mor))
    CdcIngest.applyBatch(spark, table, segs.slice(4, 5), mor.copy(deleteVectors = true))
    val snap = table.currentSnapshot()
    assert(snap.files.map(_.addedVersion).distinct.size >= 4 &&
      snap.deleteFiles.map(_.kind).distinct.size == 2, "setup: stacked versions of both kinds")
    /** (data, equality, vector) scans in the final plan */
    def scans(df: DataFrame): (Int, Int, Int) = {
      df.collect()
      val kinds = aqe.collect(df.queryExecution.executedPlan) {
        case s: FileSourceScanExec => s.relation.dataSchema.fieldNames.toSeq
      }
      (kinds.count(_.contains(LakeTable.SeqCol)), kinds.count(_ == Seq("url")),
        kinds.count(_.contains("_dfname")))
    }
    assert(scans(table.read(spark)) == ((1, 1, 1)), "read")
    // a key whose bucket holds delete files of both kinds
    val both = snap.deleteFiles.groupBy(_.bucket).collect {
      case (b, ds) if ds.map(_.kind).distinct.size == 2 => b
    }.toSet
    val url = FeedGen.events(spec).map(_.url)
      .find(u => both(LakeTable.bucketOf(u, 8))).getOrElse(fail("no bucket with both kinds"))
    assert(scans(table.lookup(spark, Seq(url))) == ((1, 1, 1)), "lookup")
  }

  test("DV commit: one scan of the touched data files and one of the prior vectors") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val spec = FeedSpec(seed = 94L, numEvents = 1500, numUrls = 300, eventsPerSegment = 500)
    val dir = tmpDir("dvscanfeed")
    val segs = FeedGen.writeSegments(spec, dir).zipWithIndex
      .map { case (p, i) => i.toLong -> p.toString }
    val table = LakeTable.create(tmpDir("dvscantbl"), CdcIngest.PagesSchemaV1, 8)
    val cfg = IngestConfig(mergeOnRead = true, deleteVectors = true)
    // a bulk base, then a first vector commit
    segs.take(2).foreach(sg => CdcIngest.applyBatch(spark, table, Seq(sg), cfg))
    assert(table.currentSnapshot().deleteFiles.map(_.bucket).distinct.size == 8,
      "setup: every bucket holds a prior vector")
    val plans = executedPlans(() => CdcIngest.applyBatch(spark, table, segs.slice(2, 3), cfg))
      .map(_._2)
    assert(table.currentSnapshot().metrics("strategy") == "mor-dv")
    // a persisted frame is read by several jobs but computed once: count
    // the scans of its plan once
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[AnyRef, java.lang.Boolean]())
    def scans(plan: SparkPlan): Seq[FileSourceScanExec] = aqe.flatMap(plan) {
      case s: FileSourceScanExec => Seq(s)
      case m: InMemoryTableScanExec if seen.add(m.relation.cacheBuilder) =>
        scans(m.relation.cachedPlan)
      case _ => Nil
    }
    val (vectors, data) = plans.flatMap(scans)
      .partition(_.relation.location.inputFiles.forall(_.contains("-dv-")))
    assert((data.size, vectors.size) == ((1, 1)),
      s"(data, vector) scans: ${(data.size, vectors.size)}\n${plans.mkString("\n")}")
  }

  test("dd_url_canon: per-row canonicalization + one aggregation, no joins") {
    val plan = planString(SparkEntry.queries("dd_url_canon")(spark, sf))
    assert(!plan.contains("Join"), s"url canon must not join:\n$plan")
    val n = shuffleCount(plan)
    // one shuffle for the group-by; countDistinct(raw_url) legitimately
    // plans as a two-level aggregate (second level re-keys on canon only)
    assert(n <= 2, s"url canon grew extra exchanges ($n):\n$plan")
  }

  test("dd_substring_dedup: window-hash dedup is map-side combined, never a pair blow-up") {
    val plan = planString(SparkEntry.queries("dd_substring_dedup")(spark, sf))
    // the dup-window join must stay a hash join on the window-hash key —
    // a cartesian/nested-loop here is the all-pairs suffix comparison the
    // bounded-window design exists to avoid
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"pair blow-up crept into the window-hash join:\n$plan")
    // the window-count groupBy must partially aggregate before its
    // shuffle: each task collapses its repeats of a window hash locally,
    // so the exchange carries (hash, count) rows, not one row per window
    assert(plan.toLowerCase.contains("partial"),
      s"no partial aggregation before the window-hash shuffle in:\n$plan")
  }

  test("q23_funnel: window and groupBy share one user_id exchange") {
    val plan = planString(SparkEntry.queries("q23_funnel")(spark, sf))
    val n = shuffleCount(plan)
    assert(n == 1, s"funnel must reuse the window's partitioning, found $n:\n$plan")
  }

  test("ta_repetition: pure per-row projection — zero exchanges") {
    val plan = planString(SparkEntry.queries("ta_repetition")(spark, sf))
    val n = shuffleCount(plan)
    assert(n == 0, s"per-row repetition signals must not shuffle, found $n:\n$plan")
  }

  test("dd_decontaminate: held-out shingle set is broadcast; one corpus sweep") {
    val plan = planString(SparkEntry.queries("dd_decontaminate")(spark, sf))
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"held-out semi-join is not broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"decontamination plans a product join:\n$plan")
  }

  test("dd_bloom_decontaminate: probe is a zero-shuffle, zero-join per-row pass") {
    // the filter enters the plan as a 16 KB bitset literal; the returned
    // probe must be embarrassingly parallel — no exchange, no join of any
    // kind (the held-side aggregation runs eagerly at build time and is
    // bounded: ONE collected row of m/32 words)
    val plan = planString(SparkEntry.queries("dd_bloom_decontaminate")(spark, sf))
    val n = shuffleCount(plan)
    assert(n == 0, s"bloom probe must not shuffle, found $n:\n$plan")
    assert(!plan.contains("Join"), s"bloom probe must not join:\n$plan")
  }

  test("ta_pmi_cooccur: support-floored candidates, map-combined counts, no product join") {
    val plan = planString(SparkEntry.queries("ta_pmi_cooccur")(spark, sf))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"pmi plans a product join:\n$plan")
    // both count passes partially aggregate before their exchanges
    val finalOnly = plan.split(raw"\+- == Initial Plan ==").head
    val partials = raw"HashAggregate".r.findAllIn(finalOnly).length
    assert(partials >= 4, s"expected map-side combines around the count shuffles:\n$plan")
  }

  test("ta_entropy: exactly two exchanges — the final groupBy reuses the window's doc_id partitioning") {
    val plan = planString(SparkEntry.queries("ta_entropy")(spark, sf))
    val n = shuffleCount(plan)
    assert(n == 2,
      s"expected (doc_id,w) + doc_id exchanges only — the groupBy(doc_id) must reuse the window partitioning, found $n:\n$plan")
  }

  test("ta_corpus_filter: composition never plans a cartesian/nested-loop join") {
    val plan = planString(SparkEntry.queries("ta_corpus_filter")(spark, sf))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"corpus filter plans a product join:\n$plan")
  }

  test("cdc_domain_stats: hot-domain rollup is partially aggregated before its shuffle") {
    val plan = planString(SparkEntry.queries("cdc_domain_stats")(spark, sf))
    // two HashAggregate nodes around one exchange = map-side combine: the
    // Zipf-hot domain is collapsed to one row per task before shuffling
    val aggs = raw"HashAggregate \(\d+\)".r.findAllIn(
      plan.split(raw"\+- == Initial Plan ==").head).length
    assert(aggs >= 2, s"expected partial+final aggregation, found $aggs:\n$plan")
  }

  test("ann queries: probes/queries are broadcast (index side never shuffles to them)") {
    val plan = planString(SparkEntry.queries("ann_ivf_topk")(spark, sf))
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"IVF probe join is not broadcast:\n$plan")
  }

  test("ann_filtered_topk: the metadata predicate is the join KEY, probes broadcast") {
    val plan = planString(SparkEntry.queries("ann_filtered_topk")(spark, sf))
    // label equi-match must reach the join as a key (hash-matched before
    // any distance work), not a post-join filter over an all-pairs product
    assert(plan.contains("BroadcastHashJoin"),
      s"filtered search lost its label-keyed broadcast join:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"filtered search degenerated to scan-then-filter over all pairs:\n$plan")
  }

  test("q21_rollup: grouping sets expand into ONE partial-aggregated pass") {
    val plan = planString(SparkEntry.queries("q21_rollup")(spark, sf))
    assert(plan.contains("Expand"), s"no grouping-set Expand in:\n$plan")
    assert(shuffleCount(plan) == 1,
      s"rollup should be one exchange (partial agg before, final after):\n$plan")
  }

  test("q22_pivot: fixed-domain pivot is one groupBy — no domain-discovery pass") {
    val df = SparkEntry.queries("q22_pivot")(spark, sf)
    val plan = planString(df)
    assert(shuffleCount(plan) == 1, s"pivot should be one exchange:\n$plan")
    // a pivot without the fixed value list runs a distinct-values job first;
    // the fixed list keeps it to a single aggregate over the scan
    assert(!plan.contains("CollectLimit"), s"unexpected collect in:\n$plan")
  }

  test("ta_sample_topk_agg: partial aggregation before the stratum shuffle") {
    val plan = planString(SparkEntry.queries("ta_sample_topk_agg")(spark, sf))
    assert(shuffleCount(plan) == 1, s"bounded top-k should be one exchange:\n$plan")
    // the typed Aggregator must run map-side (partial_boundedtopk) so the
    // exchange carries <=k rows per stratum per task, not the whole corpus
    assert(plan.toLowerCase.contains("partial"),
      s"no partial aggregation before the shuffle in:\n$plan")
  }

  test("ta_hll_distinct: sketch is partially aggregated — one exchange carries registers, not rows") {
    val plan = planString(SparkEntry.queries("ta_hll_distinct")(spark, sf))
    assert(shuffleCount(plan) == 1,
      s"HLL should be one exchange (partial sketches before, merge after):\n$plan")
    // the typed Aggregator must run map-side so the exchange ships one
    // 2 KB register array per (lang, task), never the corpus rows
    assert(plan.toLowerCase.contains("partial"),
      s"no partial sketch aggregation before the shuffle in:\n$plan")
  }

  test("ta_cms_freq: sketch is partially aggregated — one exchange carries counter matrices, not tokens") {
    val plan = planString(SparkEntry.queries("ta_cms_freq")(spark, sf))
    assert(shuffleCount(plan) == 1,
      s"CMS should be one exchange (partial sketches before, merge after):\n$plan")
    // the typed Aggregator must run map-side so the exchange ships one
    // 32 KB counter matrix per (lang, task), never the token rows
    assert(plan.toLowerCase.contains("partial"),
      s"no partial sketch aggregation before the shuffle in:\n$plan")
  }

  test("ta_inverted_index: two map-combinable exchanges, no count-distinct Expand") {
    val plan = planString(SparkEntry.queries("ta_inverted_index")(spark, sf))
    assert(shuffleCount(plan) == 2,
      s"inverted index should be exactly (term,doc) + (term) exchanges:\n$plan")
    // countDistinct would plan an Expand (row multiplication before the
    // shuffle); the two-phase groupBy shape must never regress into it
    assert(!plan.contains("Expand"), s"count-distinct Expand crept in:\n$plan")
    val aggs = raw"HashAggregate \(\d+\)".r.findAllIn(
      plan.split(raw"\+- == Initial Plan ==").head).length
    assert(aggs >= 4, s"expected partial+final at both levels, found $aggs:\n$plan")
  }

  test("ta_tfidf: the df-truncated vocab joins back as a broadcast, never a shuffle join") {
    val plan = planString(SparkEntry.queries("ta_tfidf")(spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      s"idf join is not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"vocab join regressed to a shuffle/cartesian join:\n$plan")
  }

  test("ta_index_search: the query relation drives the postings via broadcast joins") {
    val plan = planString(SparkEntry.queries("ta_index_search")(spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      s"posting-list probe is not broadcast-driven:\n$plan")
    // the only tolerable non-broadcast join is none at all: the ≤6-row
    // query relation must never shuffle the postings against themselves
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"postings joined by shuffle/cartesian instead of broadcast probes:\n$plan")
  }

  test("ta_bm25_search: broadcast probes, and norms ride the postings without an extra exchange") {
    val plan = planString(SparkEntry.queries("ta_bm25_search")(spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      s"BM25 probe is not broadcast-driven:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"BM25 probe regressed to a shuffle/cartesian join:\n$plan")
    // len lives in the postings groupBy key — there must be no join back
    // to the documents table for doc lengths (count the scans downstream
    // of the checkpointed postings: the probe side reuses one relation)
    assert(!plan.contains("Exchange hashpartitioning(doc_id"),
      s"doc-length join-back exchange crept in:\n$plan")
  }

  test("q25_hotkey_join: both paths compile as intended — broadcast for hot keys, shuffle for cold") {
    val plan = planString(SparkEntry.queries("q25_hotkey_join")(spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      s"hot path is not a broadcast join:\n$plan")
    assert(plan.contains("SortMergeJoin"),
      s"cold path lost its shuffle-join shape (merge hint ignored?):\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian crept in:\n$plan")
  }

  test("q26_gap_islands: both windows and the groupBy share one user_id exchange") {
    val plan = planString(SparkEntry.queries("q26_gap_islands")(spark, sf))
    val n = shuffleCount(plan)
    assert(n == 1,
      s"sessionizer must reuse the window's user_id partitioning, found $n:\n$plan")
  }

  test("q27_range_self_join: bucketed equi-join — sort-merge on (user, bucket), never a nested loop") {
    val plan = planString(SparkEntry.queries("q27_range_self_join")(spark, sf))
    assert(plan.contains("SortMergeJoin"),
      s"interval join lost its equi-join shape (merge hint ignored?):\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"interval join degenerated to a per-user nested loop:\n$plan")
  }

  test("dd_kmeans_cluster: K centroid rows broadcast to a linear scan — no shuffle join") {
    val plan = planString(SparkEntry.queries("dd_kmeans_cluster")(spark, sf))
    // the K-row centroid relation joins as a broadcast nested loop (no
    // key — every vector scores every centroid); anything shuffling the
    // corpus to the centroids would be the wrong plan at any scale
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"centroids are not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"kmeans shuffles the corpus to a K-row relation:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian crept in:\n$plan")
  }

  test("dd_semdedup: pair generation is an equi-join on cluster — never corpus all-pairs") {
    val plan = planString(SparkEntry.queries("dd_semdedup")(spark, sf))
    assert(!plan.contains("CartesianProduct"),
      s"semdedup degenerated to corpus all-pairs:\n$plan")
    // the ONLY nested-loop join allowed is the K-row centroid broadcast
    // inside the kmeans assignment, which appears twice in the final plan
    // because the assignment subtree is referenced by both sides of the
    // dup left-join (no caching — recomputing a K-row broadcast is
    // cheaper than persisting the corpus). A THIRD nested loop would mean
    // the pair join lost its cluster equi key and degenerated to an
    // all-pairs product under the cosine residual.
    val finalOnly = plan.split(raw"\+- == Initial Plan ==").head
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(finalOnly).length
    assert(bnlj == 2,
      s"expected exactly the twice-referenced centroid broadcast, found $bnlj:\n$plan")
    // and the pair/join-back joins do carry keys
    assert("BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin".r
      .findAllIn(finalOnly).nonEmpty, s"no keyed join found:\n$plan")
  }

  test("AsofJoin plans zero joins and one key shuffle (union + window, no pair blow-up)") {
    import spark.implicits._
    val right = (0 until 100).map(i => (s"k${i % 7}", i.toLong, i.toLong, s"v$i"))
      .toDF("k", "ts", "seq", "v")
    val left = (0 until 30).map(i => (s"k${i % 7}", i.toLong * 3))
      .toDF("k", "pts")
    val plan = planString(graft.ops.AsofJoin.lastBefore(
      left, right, Seq("k"), "pts", "ts", Seq("seq"), Seq("v")))
    assert(!plan.contains("Join"),
      s"asof must not plan ANY join (probe × history blow-up):\n$plan")
    assert(shuffleCount(plan) <= 2,
      s"asof should shuffle each side once onto the key, found more:\n$plan")
    assert(plan.contains("Window"), s"no window in asof plan:\n$plan")
  }

  test("ta_seq_pack: hierarchical prefix sum — corpus windows partition by blk, one tiny global stage") {
    // NOTE: the formatted explain prints exchange DISTRIBUTIONS in the
    // trailing node-details section ("(9) Exchange / Arguments: …"), not
    // in the tree — partitioning assertions search the whole string,
    // tree-shape assertions (joins) search the final tree only
    val plan = planString(SparkEntry.queries("ta_seq_pack")(spark, sf))
    val finalOnly = plan.split(raw"\+- == Initial Plan ==").head
    // the corpus-sized window must be partitioned by blk — a global
    // (unpartitioned) window over doc_id would funnel the whole corpus
    // through one partition, the exact plan this query exists to avoid
    assert(plan.contains("hashpartitioning(blk"),
      s"big-side window not partitioned by blk:\n$plan")
    // the ONLY single-partition stage is the cumsum over the n/64-row
    // block-subtotal table (one exchange node; the details section lists
    // it once per tree it appears in — final + initial = at most 2)
    val singles = raw"Arguments: SinglePartition".r.findAllIn(plan).length
    assert(singles >= 1 && singles <= 2,
      s"expected the single tiny SinglePartition exchange, found $singles:\n$plan")
    // and the corpus relation never repartitions on doc identity
    assert(!plan.contains("hashpartitioning(doc_id"),
      s"corpus side repartitioned on doc_id:\n$plan")
    // the base-offset table must come back as a broadcast, not a shuffle
    assert(finalOnly.contains("BroadcastHashJoin"),
      s"blk_base join-back must broadcast:\n$plan")
  }

  test("ta_mix_rebalance: rate table broadcasts; corpus side never shuffles on data size") {
    val plan = planString(SparkEntry.queries("ta_mix_rebalance")(spark, sf))
    val finalOnly = plan.split(raw"\+- == Initial Plan ==").head
    assert(finalOnly.contains("BroadcastHashJoin"),
      s"per-lang rate join must broadcast:\n$plan")
    // allowed exchanges are lang-level aggregations (|langs| rows); the
    // corpus relation itself must reach the join without repartitioning,
    // so no exchange may hash on doc-identity columns
    assert(!plan.contains("hashpartitioning(doc_id"),
      s"corpus side repartitioned on doc_id:\n$plan")
    assert(!finalOnly.contains("CartesianProduct"),
      s"cartesian product in mix plan:\n$plan")
  }
}
