package graft

import java.io.File

import org.apache.hadoop.fs.{FileContext, Path}
import org.apache.spark.sql.SparkSession

/** Builds a session the way the streaming benchmark's harness does (the
  * builder plus graft's extension, nothing else) in a fresh JVM, and
  * prints the classes its `file:` `FileSystem` and `FileContext` resolve
  * to. `NioLocalFileSystemSpec` runs it. Arguments: a scratch directory,
  * then any `key=value` builder confs. */
object NioLocalFileSystemProbe {
  def main(args: Array[String]): Unit = {
    val work = args(0)
    val builder = SparkSession.builder()
      .master("local[1]")
      .appName("graft-fs-probe")
      .config("spark.sql.shuffle.partitions", "1")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    args.tail.map(_.split("=", 2)).foreach { case Array(k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    try {
      val conf = spark.sessionState.newHadoopConf()
      val dir = new Path(new File(work).toURI)
      println(s"fs=${dir.getFileSystem(conf).getClass.getName}")
      println(s"fc=${FileContext.getFileContext(dir.toUri, conf).getDefaultFileSystem.getClass.getName}")
    } finally spark.stop()
  }
}
