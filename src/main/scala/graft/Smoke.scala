package graft

/** Mirrors the driver's t1 smoke: SparkEntry.entry must return >0 rows on
  * sf0.001. Run: sbt "runMain graft.Smoke".
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(4)
    val df = SparkEntry.entry(spark)
    val n = df.count()
    df.show(5, truncate = false)
    println(s"[smoke] entry rows=$n " + (if (n > 0) "PASS" else "FAIL"))
    spark.stop()
  }
}
