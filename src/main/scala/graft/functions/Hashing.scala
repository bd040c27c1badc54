package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Deterministic 60-bit hashes shared by the dedup/fingerprint operators.
  *
  * Built on md5 rather than Spark's murmur `hash()` so the DuckDB oracle
  * can compute the identical value (`('0x' || substr(md5(x),1,15))::BIGINT`):
  * the first 15 hex chars of the md5 digest as a non-negative 60-bit Long.
  * md5 is codegen'd in Spark; at scale this is one digest per value on the
  * map side, no shuffle implications.
  */
object Hashing {

  /** 60-bit hash of a string column, identical in Spark and DuckDB. */
  def hash64(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Same hash as a Spark SQL expression fragment (for use inside
    * higher-order-function lambdas where Column trees can't reach).
    */
  def hash64Expr(e: String): String =
    s"CAST(conv(substr(md5($e), 1, 15), 16, 10) AS BIGINT)"

  /** Same hash computed JVM-side (for plan-time constants like LSH
    * hyperplane coefficients): first 15 hex chars of md5 as a Long.
    */
  def hash64Jvm(s: String): Long = {
    val dig = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (dig(i) & 0xffL); i += 1 }
    v >>> 4
  }

  /** Full md5 hex digest JVM-side — equals Spark's `md5()` / DuckDB's
    * `md5()` on the same string (used where executor code must agree
    * with plan-side digests, e.g. streaming decontamination).
    */
  def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString
}
