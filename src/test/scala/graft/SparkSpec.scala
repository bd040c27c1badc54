package graft

import org.apache.spark.sql.SparkSession
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
    // the checkpoint manager every graft session gets from GraftExtensions
    graft.streaming.LocalCheckpointFileManager.install(s.sparkContext)
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  /** Run `body` in a fresh temp directory, removed afterwards. */
  protected def withTempDir[T](prefix: String)(body: java.nio.file.Path => T): T = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    try body(dir)
    finally graft.ops.FixtureDirs.rmTree(dir)
  }
}
