package graft.oracle

/** DuckDB forms shared by every oracle family. */
object DuckSql {

  /** `n` hex digits of md5(`e`) from digit `from` (1-based), as a BIGINT. */
  def md5Bits(e: String, from: Int, n: Int): String =
    s"('0x' || substr(md5($e), $from, $n))::BIGINT"

  /** `Hashing.hash64`: the first 15 hex digits of md5 as a BIGINT. */
  def hash64(e: String): String = md5Bits(e, 1, 15)

  /** The 1-based positions 1..`n` as column `i` of a lateral table. */
  def positions(n: String, i: String = "i"): String = s"unnest(range(1, $n + 1)) AS ix($i)"

  /** The space tokens of `text`, as `TextOps.tokenizeSpace` splits them. */
  val words: String = "string_split(text, ' ')"

  /** A strict left fold from 0.0 over a DOUBLE list: the one IEEE sum
    * order both engines share (an unordered SUM() depends on the
    * partitioning). */
  def foldSum(list: String): String =
    s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), $list), (acc, x) -> acc + x)"

  /** Aggregate: `x` summed over the group in `by` order (see [[foldSum]]). */
  def orderedSum(x: String, by: String): String = foldSum(s"list($x ORDER BY $by)")

  /** The dot product of the first `n` entries of two DOUBLE lists,
    * folded in index order. The lambda variable is `li`, so callers may
    * name an outer column `i`. */
  def dot(a: String, b: String, n: Int = 64): String =
    foldSum(s"list_transform(range(1, ${n + 1}), li -> $a[CAST(li AS INT)] * $b[CAST(li AS INT)])")

  /** ‖a − b‖² composed as (a·a − 2·a·b) + b·b, the Spark side's order. */
  def sqDist(a: String, b: String, n: Int): String =
    s"(${dot(a, a, n)} - 2.0 * ${dot(a, b, n)}) + ${dot(b, b, n)}"

  /** `cols` of the rows of `from` whose `row_number()` within `partition`
    * (none: the whole input) in `order` is at most `k`; `cols` may read
    * the rank under the name `rank`. */
  def topK(cols: String, from: String, partition: String, order: String,
           k: Int, rank: String = "rn"): String = {
    val over = if (partition.isEmpty) s"ORDER BY $order"
               else s"PARTITION BY $partition ORDER BY $order"
    s"""SELECT $cols FROM (
       |  SELECT *, row_number() OVER ($over) AS $rank
       |  FROM $from)
       |WHERE $rank <= $k""".stripMargin
  }
}
