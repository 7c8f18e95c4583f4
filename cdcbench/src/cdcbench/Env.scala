package cdcbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Session, scratch space, machine record and output helpers. */
object Env {

  val cores: Int = Runtime.getRuntime.availableProcessors()

  /** The settings `graft.MainIngest` builds its session with, so the numbers
    * describe what an operator runs; only the scratch location is added. */
  def sessionSettings(localDir: String): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cores]",
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.ui.enabled" -> "false",
    "spark.local.dir" -> localDir)

  def session(settings: Seq[(String, String)]): SparkSession = {
    val b = SparkSession.builder().appName("cdcbench")
    settings.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def loadAvg(): Seq[Double] = try {
    Files.readString(Paths.get("/proc/loadavg")).trim.split("\\s+").take(3).map(_.toDouble).toSeq
  } catch { case _: Exception => Seq.empty }

  def memTotalKb(): Long = try {
    Files.readAllLines(Paths.get("/proc/meminfo")).asScala
      .collectFirst { case l if l.startsWith("MemTotal:") => l.split("\\s+")(1).toLong }
      .getOrElse(-1L)
  } catch { case _: Exception => -1L }

  def runRecord(spark: SparkSession, settings: Seq[(String, String)],
      extra: Map[String, Any]): Map[String, Any] = Map(
    "nproc" -> cores,
    "mem_total_kb" -> memTotalKb(),
    "jdk" -> System.getProperty("java.version"),
    "spark" -> spark.version,
    "scala" -> scala.util.Properties.versionNumberString,
    "session" -> settings.toMap,
    "jvm_args" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq
  ) ++ extra

  /** Bytes of every regular file under `dir`, keyed by relative path. */
  def fileSizes(dir: Path): Map[String, Long] =
    if (!Files.isDirectory(dir)) Map.empty
    else {
      val st = Files.walk(dir)
      try st.iterator().asScala.filter(p => Files.isRegularFile(p))
        .map(p => dir.relativize(p).toString -> Files.size(p)).toMap
      finally st.close()
    }

  /** Bytes of files present in `after` but not in `before` (files under a
    * lake table are immutable and never reuse a name). */
  def newBytes(before: Map[String, Long], after: Map[String, Long],
      under: String => Boolean = _ => true): Long =
    after.iterator.collect { case (k, v) if !before.contains(k) && under(k) => v }.sum

  def deleteTree(p: Path): Unit = if (Files.exists(p)) graft.lake.LakeTable.deleteRecursively(p)

  // ---- JSON ----
  def json(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => json(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case Some(x) => json(x)
    case None => "null"
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ": " + json(x) }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ", ", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
