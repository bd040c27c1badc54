package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Crash-safe directory publish for on-disk snapshots (the CDC snapshot,
  * the streaming-dedup signature index). The naive delete(live) +
  * rename(next, live) swap has a window where the LIVE data is gone: a
  * crash between the two calls loses the snapshot, and a restarting
  * consumer that "initializes if missing" silently resurrects the
  * initial state while the checkpoint says all batches committed
  * (review finding). Protocol here:
  *
  *  1. caller writes the next generation to `dir__next` (Spark write ⇒
  *     `_SUCCESS` marker on completion),
  *  2. [[publish]] renames live → `dir__old`, `dir__next` → live,
  *     then deletes `dir__old`;
  *  3. [[recover]] repairs any crash window: the live dir is only ever
  *     renamed away AFTER a COMPLETE next generation exists, so if live
  *     is missing, a `_SUCCESS`-complete `dir__next` is the committed
  *     truth and is renamed in. Stray `dir__old`/incomplete `dir__next`
  *     are dropped.
  *
  * Every window leaves at least one complete generation on disk. A real
  * deployment gets this from the table format's commit protocol
  * (Delta/Iceberg); this is the minimal filesystem equivalent.
  * [[compact]] runs the whole protocol for an append-only parquet index.
  */
object SnapshotSwap {
  private def fs(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  def nextPath(dir: String): String = dir.stripSuffix("/") + "__next"
  private def oldPath(dir: String): String = dir.stripSuffix("/") + "__old"

  private def isComplete(spark: SparkSession, p: Path): Boolean = {
    val f = fs(spark, p)
    f.exists(p) && f.exists(new Path(p, "_SUCCESS"))
  }

  /** Publish a fully written `dir__next` as `dir`. Call only after the
    * next-generation write completed (Spark wrote `_SUCCESS`).
    */
  def publish(spark: SparkSession, dir: String): Unit = {
    val live = new Path(dir)
    val next = new Path(nextPath(dir))
    val old = new Path(oldPath(dir))
    val f = fs(spark, live)
    require(isComplete(spark, next),
      s"publish: next generation $next is missing or incomplete")
    f.delete(old, true)
    if (f.exists(live))
      require(f.rename(live, old), s"publish: retire failed: $live -> $old")
    require(f.rename(next, live), s"publish: swap failed: $next -> $live")
    f.delete(old, true)
  }

  /** Repair an interrupted publish. Returns true iff `dir` exists after
    * recovery (false = genuinely uninitialized).
    */
  def recover(spark: SparkSession, dir: String): Boolean = {
    val live = new Path(dir)
    val next = new Path(nextPath(dir))
    val old = new Path(oldPath(dir))
    val f = fs(spark, live)
    if (f.exists(live)) {
      // crash after the swap: clean up stragglers
      f.delete(old, true); f.delete(next, true)
      true
    } else if (isComplete(spark, next)) {
      // crash between retire and swap: the complete next gen is truth
      require(f.rename(next, live), s"recover: swap failed: $next -> $live")
      f.delete(old, true)
      true
    } else if (f.exists(old)) {
      // live was retired, next is incomplete/missing: next was complete
      // when retire ran, so this state is unreachable by the protocol —
      // restore the retired generation rather than lose data
      f.delete(next, true)
      require(f.rename(old, live), s"recover: restore failed: $old -> $live")
      true
    } else {
      f.delete(next, true)
      false
    }
  }

  /** Compact the parquet index at `dir` into `numFiles` files: repair an
    * interrupted publish, check that the index holds exactly `columns`
    * (in any order), keep `keep(index)` — the caller's retention filter
    * and `distinct()` — write it to [[nextPath]] and [[publish]] it. A
    * crash at any point leaves a complete index generation. Run only
    * while nothing appends to the index: an append landing between the
    * read and the publish would be dropped by the swap. Returns (rows
    * before, rows after).
    */
  private[graft] def compact(spark: SparkSession, dir: String, columns: Seq[String],
                             numFiles: Int)(keep: DataFrame => DataFrame): (Long, Long) = {
    recover(spark, dir)
    val idx = spark.read.parquet(dir)
    require(idx.columns.sorted.sameElements(columns.sorted),
      s"index must be (${columns.mkString(", ")}); got ${idx.columns.mkString(",")}")
    val before = idx.count()
    keep(idx).repartition(numFiles).write.mode("overwrite").parquet(nextPath(dir))
    val after = spark.read.parquet(nextPath(dir)).count()
    publish(spark, dir)
    (before, after)
  }
}
