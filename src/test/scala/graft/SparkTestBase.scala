package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local SparkSession for all suites (lazy singleton — Spark
  * session startup dominates test time otherwise). */
object SparkTestBase {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-tests")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.adaptive.enabled", "true")
    .getOrCreate()

  /** The dirs [[SparkTestBase.tmpDir]] made in this JVM, deleted at its exit. */
  private val ownDirs = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
  sys.addShutdownHook(ownDirs.forEach { p =>
    try graft.lake.LakeTable.deleteRecursively(p) catch { case _: Exception => () }
  })

  def tmpDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    ownDirs.add(d)
    d.toString
  }
}

abstract class SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkTestBase.spark
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** A fresh dir under `java.io.tmpdir`, deleted when the JVM exits. */
  def tmpDir(prefix: String): String = SparkTestBase.tmpDir(prefix)
}
