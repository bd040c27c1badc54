package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew mitigation (SURVEY.md §4.2 / the 100 TB checklist): salting for
  * joins whose key distribution is hot. AQE's skew-join handles sort-merge
  * skew adaptively at runtime; explicit salting is the deterministic
  * planner-level tool when the hot keys are known or AQE can't kick in
  * (e.g. shuffle-hash joins, streaming joins).
  *
  * Mechanics: the dim side is replicated `salts`× (one copy per salt
  * value); the fact side assigns each ROW a salt from row-level entropy —
  * never from the join key alone, which would keep the hot key on one
  * reducer. The join key becomes (key, salt), spreading a hot key over
  * `salts` reducers. Result set is IDENTICAL to the unsalted join, so the
  * DuckDB oracle is the plain join.
  */
object SkewOps {

  /** Inner equi-join of fact⋈dim on `key`, salted `salts` ways.
    * `saltSource` must be a fact-side column (or expression) with
    * row-level entropy, e.g. an id column — `pmod(hash(saltSource), salts)`
    * spreads each hot key's rows uniformly.
    */
  def saltedJoin(fact: DataFrame, dim: DataFrame, key: String,
                 saltSource: Column, salts: Int = 16): DataFrame = {
    val saltedFact = fact.withColumn("__salt",
      pmod(hash(saltSource), lit(salts)))
    val saltedDim = dim.withColumn("__salt",
      explode(sequence(lit(0), lit(salts - 1))))
    saltedFact.join(saltedDim.hint("shuffle_hash"), Seq(key, "__salt"))
      .drop("__salt")
  }

  /** Join-key SKEW diagnostic — the measurement that decides whether
    * [[saltedJoin]] (or AQE skew-join) is needed at all, and with what
    * salt factor. One row summarizing the key distribution of `df[key]`:
    * key count, row count, min/max rows per key, mean rows per key, the
    * skew factor (max/mean — >8–16 on a shuffle-hash join means one
    * reducer does that multiple of the average work), and the salt count
    * that would level the hottest key back to ~mean
    * (`recommended_salt = ceil(skew_factor)` — exactly the `salts`
    * argument of [[saltedJoin]]).
    *
    * Scale shape: groupBy(key).count is ONE shuffle with full map-side
    * partial aggregation; the summary pass aggregates the key-sized
    * frame (partial-agg to a single row — no second meaningful
    * shuffle). The derived doubles are a fixed IEEE sequence over exact
    * int64s, so the row hash-matches DuckDB.
    */
  def skewReport(df: DataFrame, key: String): DataFrame = {
    // nullif: on an EMPTY frame n_keys = 0 and the coalesced n_rows = 0 —
    // the double 0/0 would be NaN, not NULL; nullif keeps the degenerate
    // summary stats NULL (mean/skew/salt undefined) while BOTH counters
    // read 0 (ADVICE r7: a consumer reading n_rows as a count NPE'd on
    // the asymmetric NULL).
    val mean = col("n_rows").cast("double") /
      nullif(col("n_keys").cast("double"), lit(0.0))
    df.groupBy(col(key)).agg(count(lit(1)).as("per_key"))
      .agg(
        count(lit(1)).as("n_keys"),
        coalesce(sum("per_key"), lit(0L)).cast("long").as("n_rows"),
        min("per_key").as("min_per_key"),
        max("per_key").as("max_per_key"))
      .select(
        lit(key).as("key_col"),
        col("n_keys"), col("n_rows"), col("min_per_key"), col("max_per_key"),
        mean.as("mean_per_key"),
        (col("max_per_key").cast("double") / mean).as("skew_factor"),
        ceil(col("max_per_key").cast("double") / mean).cast("long")
          .as("recommended_salt"))
  }

}
