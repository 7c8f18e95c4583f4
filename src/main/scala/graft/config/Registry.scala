package graft.config

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}

import org.apache.spark.sql.SparkSession

import graft.ingest.CdcIngest
import graft.ingest.CdcIngest.IngestConfig
import graft.lake.LakeTable
import graft.validate.Validators

/** Feed/table registry with dependency-ordered multi-table apply —
  * capability parity with /root/reference/mf_spark/config/settings.py:270-348
  * (dataset registry with expected counts + validation options) and
  * /root/reference/db2/scripts/db2_to_json.py:58-72 (tables exported in
  * dependency order, parents first). Independent design: an immutable JSON
  * document, Kahn topological sort with deterministic tie-break, and the
  * expected-count validation wired into the per-run manifest.
  */
final case class FeedDef(
    name: String,
    tableDir: String,
    feedDir: String,
    numBuckets: Int = 32,
    segmentsPerBatch: Int = 4,
    expectedCount: Option[Long] = None,
    tolerancePct: Double = 0.0,
    dependsOn: Seq[String] = Seq.empty,
    description: String = "")

final case class Registry(feeds: Seq[FeedDef]) {

  def byName: Map[String, FeedDef] = feeds.map(f => f.name -> f).toMap

  /** Configuration validation (settings.py:231-266 analog): unique names,
    * resolvable dependencies, no dependency cycles, feed dirs readable. */
  def validate(): (Boolean, Seq[String]) = {
    val errors = Seq.newBuilder[String]
    val dupes = feeds.groupBy(_.name).collect { case (n, fs) if fs.size > 1 => n }
    dupes.foreach(n => errors += s"duplicate feed name: $n")
    val names = feeds.map(_.name).toSet
    for (f <- feeds; d <- f.dependsOn if !names.contains(d))
      errors += s"${f.name}: unknown dependency '$d'"
    for (f <- feeds if !Files.isDirectory(Paths.get(f.feedDir)))
      errors += s"${f.name}: feed dir not found: ${f.feedDir}"
    try applyOrder
    catch { case e: IllegalArgumentException => errors += e.getMessage }
    val es = errors.result()
    (es.isEmpty, es)
  }

  /** Dependency order, parents first (Kahn's algorithm; ties broken by name
    * so the order is stable). Throws on a cycle. */
  def applyOrder: Seq[FeedDef] = {
    val defs = byName
    var inDeg = feeds.map(f => f.name -> f.dependsOn.count(defs.contains)).toMap
    val children = feeds
      .flatMap(f => f.dependsOn.filter(defs.contains).map(_ -> f.name))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val order = Seq.newBuilder[FeedDef]
    var ready = inDeg.collect { case (n, 0) => n }.toSeq.sorted
    var done = Set.empty[String]
    while (ready.nonEmpty) {
      val n = ready.head
      ready = ready.tail
      done += n
      order += defs(n)
      children.getOrElse(n, Seq.empty).foreach { c =>
        inDeg += c -> (inDeg(c) - 1)
        if (inDeg(c) == 0) ready = (ready :+ c).sorted
      }
    }
    require(done.size == feeds.size,
      s"dependency cycle among: ${feeds.map(_.name).filterNot(done).sorted.mkString(", ")}")
    order.result()
  }
}

object Registry {

  private val Mapper = new ObjectMapper()

  def fromJson(json: String): Registry = {
    val root = Mapper.readTree(json)
    val arr = root.get("feeds") match {
      case a: ArrayNode => a
      case _ => throw new IllegalArgumentException("registry: missing 'feeds' array")
    }
    import scala.jdk.CollectionConverters._
    val feeds = arr.elements().asScala.map { n =>
      def str(k: String): Option[String] = Option(n.get(k)).map(_.asText())
      def req(k: String): String = str(k).getOrElse(
        throw new IllegalArgumentException(s"registry feed: missing '$k'"))
      FeedDef(
        name = req("name"),
        tableDir = req("tableDir"),
        feedDir = req("feedDir"),
        numBuckets = Option(n.get("numBuckets")).map(_.asInt()).getOrElse(32),
        segmentsPerBatch = Option(n.get("segmentsPerBatch")).map(_.asInt()).getOrElse(4),
        expectedCount = Option(n.get("expectedCount")).map(_.asLong()),
        tolerancePct = Option(n.get("tolerancePct")).map(_.asDouble()).getOrElse(0.0),
        dependsOn = Option(n.get("dependsOn")).map(
          _.elements().asScala.map(_.asText()).toSeq).getOrElse(Seq.empty),
        description = str("description").getOrElse(""))
    }.toSeq
    Registry(feeds)
  }

  def fromFile(path: String): Registry =
    fromJson(new String(Files.readAllBytes(Paths.get(path)), "UTF-8"))

  /** Outcome of applying one feed of a registry run. */
  final case class FeedResult(
      name: String,
      batches: Int,
      events: Long,
      rows: Long,
      watermark: Long,
      countValidation: Option[Validators.CountCheck],
      durationMs: Long) {
    def passed: Boolean = countValidation.forall(_.passed)
  }

  /** Apply every feed in dependency order: init the lake table if absent,
    * resume-ingest the feed (no-op when already at the watermark), then run
    * the expected-count validation. Returns per-feed results; writes a JSON
    * run manifest when `manifestPath` is set. */
  def runAll(spark: SparkSession, reg: Registry,
      manifestPath: Option[String] = None): Seq[FeedResult] = {
    val results = reg.applyOrder.map { f =>
      val t0 = System.nanoTime()
      val table =
        if (Files.isDirectory(Paths.get(f.tableDir, "snapshots")))
          LakeTable.load(f.tableDir)
        else LakeTable.create(f.tableDir, CdcIngest.PagesSchemaV1, f.numBuckets)
      val snaps = CdcIngest.run(spark, table, f.feedDir,
        IngestConfig(numBuckets = table.currentSnapshot().numBuckets,
          segmentsPerBatch = f.segmentsPerBatch))
      val events = snaps.flatMap(_.metrics.get("events"))
        .map(_.toString.toDouble.toLong).sum
      val live = table.read(spark)
      val check = f.expectedCount.map(exp =>
        Validators.validateCount(live, exp, f.tolerancePct))
      FeedResult(f.name, snaps.size, events,
        rows = check.map(_.actual).getOrElse(live.count()),
        watermark = table.currentSnapshot().watermarkSegment,
        countValidation = check,
        durationMs = (System.nanoTime() - t0) / 1000000L)
    }
    manifestPath.foreach(p => writeManifest(p, results))
    results
  }

  private def writeManifest(path: String, results: Seq[FeedResult]): Unit = {
    val root = Mapper.createObjectNode()
    root.put("passed", results.forall(_.passed))
    val arr = root.putArray("feeds")
    results.foreach { r =>
      val n = arr.addObject()
      n.put("name", r.name)
      n.put("batches", r.batches)
      n.put("events", r.events)
      n.put("rows", r.rows)
      n.put("watermark", r.watermark)
      n.put("duration_ms", r.durationMs)
      r.countValidation.foreach { c =>
        val v = n.putObject("count_validation")
        v.put("expected", c.expected)
        v.put("actual", c.actual)
        v.put("tolerance_pct", c.tolerancePct)
        v.put("passed", c.passed)
      }
    }
    Files.write(Paths.get(path),
      Mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(root))
  }
}
