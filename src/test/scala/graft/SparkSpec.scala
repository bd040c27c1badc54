package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.Outcome
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM, forked by sbt). */
object TestSpark {
  lazy val spark: SparkSession = {
    // graft's session defaults as builder confs; the extension itself is
    // left out, so no spec gets its optimizer rule unasked
    val s = SparkSession.builder()
      .config(GraftSession.defaults)
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // the local file system every graft session gets from GraftExtensions
    graft.sources.NioLocalFileSystem.install(s.sparkContext)
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  private val testDirs = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()

  /** A fresh temp directory, removed when the running test ends. */
  protected def tempDir(prefix: String): java.nio.file.Path = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    testDirs.add(dir)
    dir
  }

  /** Run `body` in a fresh [[tempDir]]. */
  protected def withTempDir[T](prefix: String)(body: java.nio.file.Path => T): T =
    body(tempDir(prefix))

  override protected def withFixture(test: NoArgTest): Outcome =
    try super.withFixture(test)
    finally Iterator.continually(testDirs.poll()).takeWhile(_ != null)
      .foreach(graft.ops.FixtureDirs.rmTree)
}
