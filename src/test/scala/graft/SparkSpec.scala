package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for suites (one per JVM — sbt forks one test JVM). */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      // production posture for the crawl engine's pipelined commit: its
      // background pool shares task slots, so every engine test exercises
      // the genuinely-concurrent commit path
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** Temporary dirs of the test JVM, deleted by one shutdown hook when it
  * exits. A child JVM a test launches gets its dirs from the parent, which
  * waits for it, so it has finished before they go.
  */
object TmpDirs {
  private val created = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()

  /** A new temporary dir, deleted at JVM exit together with the sibling
    * files named after it (`<dir>.<suffix>`, e.g. a child JVM's log). */
  def create(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    created.add(dir)
    dir.toString
  }

  private def deleteRec(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRec))
    f.delete()
  }

  Runtime.getRuntime.addShutdownHook(new Thread(() => created.forEach { dir =>
    Option(dir.getParent.toFile.listFiles()).foreach(_.iterator
      .filter(_.getName.startsWith(s"${dir.getFileName}."))
      .foreach(deleteRec))
    deleteRec(dir.toFile)
  }))
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  def tmpDir(prefix: String): String = TmpDirs.create(prefix)
}
