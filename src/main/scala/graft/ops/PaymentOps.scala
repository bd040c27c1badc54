package graft.ops

import graft.functions.{native, PaymentJsonKernel}
import graft.model.ExchangeRates
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The payments pipeline operators — F1 (JSON decode), F2 (currency
  * enrichment), F3 (suspicious routing predicate), F4 (JSON encode) from
  * SURVEY.md §2.3, re-expressed Spark-first.
  *
  * Reference behavior (lenses-topology-example-microservice/.../
  * PaymentsService.java):
  *  - :52      Jackson decode; :54-56 malformed records printed + dropped
  *  - :100-103 applyExchangeRate — BigDecimal rate lookup × amount
  *  - :94-97   route to suspicious topic when converted amount < 10000
  *             (strict <; both sinks receive the suspicious record)
  *  - :92-93   Jackson encode, Kafka key = currency
  *
  * All four are pure `DataFrame => DataFrame` composable stages built from
  * Catalyst expressions — built-ins plus one native decode kernel, no
  * UDFs — so predicate pushdown, column pruning and whole-stage codegen
  * apply end to end.
  */
object PaymentOps {

  /** Wire schema of a payment JSON document (amount in integer cents):
    * `currency` string, `amount` and `ts` longs — the struct
    * [[decodePayment]]'s native kernel produces. */
  val paymentSchema: StructType = PaymentJsonKernel.wireType

  /** Type of a looked-up rate, as [[ExchangeRates.ratesDF]] declares it. */
  private val RateType = DecimalType(18, 6)

  /** Deterministically derive a payments feed from the `orders` table so the
    * batch pipeline has a reproducible input the DuckDB oracle can rebuild:
    * currency by orderkey mod 5, amount = totalprice in cents, plus a
    * sprinkling of malformed records (every 97th key) to exercise F1's
    * drop-on-malformed path. Column `value` mirrors a Kafka record value.
    */
  def syntheticPaymentsJson(orders: DataFrame): DataFrame = {
    val currency = element_at(
      array(ExchangeRates.currencies.map(lit): _*),
      (col("o_orderkey") % 5 + 1).cast("int"))
    val cents = round(col("o_totalprice") * 100, 0).cast("long")
    // o_orderdate is TIMESTAMP_NTZ in the parquet; session TZ is pinned to
    // UTC, so the cast makes unix_millis agree with DuckDB's epoch_ms.
    val ts = unix_millis(col("o_orderdate").cast("timestamp"))
    val json = concat(
      lit("{\"currency\":\""), currency,
      lit("\",\"amount\":"), cents.cast("string"),
      lit(",\"ts\":"), ts.cast("string"), lit("}"))
    orders.select(
      col("o_orderkey").as("k"),
      when(col("o_orderkey") % 97 === 0, lit("not a json payload"))
        .otherwise(json).as("value"))
  }

  /** F1 — JSON decode with malformed-drop (PaymentsService.java:52-56).
    * Output `(k, currency, amount, ts)`. Each record is decoded once, by
    * [[decodePayment]]: the native kernel parses the canonical wire form
    * and hands every other record to `from_json`. The decoded struct
    * feeds an `inline` generator, and Catalyst does not push a filter on
    * generator output below the `Generate`, so the `currency IS NOT NULL`
    * filter cannot grow a second decode of its own. The decode holds no
    * interpreted-only expression, so the `Generate` runs in the scan's
    * whole-stage codegen stage. PERMISSIVE `from_json` turns null and
    * malformed input into an all-null row, which that filter drops — the
    * reference's print-and-drop, silently (drops = input rows − output
    * rows).
    */
  def jsonDecode(jsonDF: DataFrame): DataFrame =
    jsonDF
      .select(col("k"), inline(array(decodePayment(col("value")))))
      .filter(col("currency").isNotNull)

  /** One record's decode, equal to `from_json(value, paymentSchema)` on
    * every input: [[graft.functions.PaymentJson]]'s fast path for the
    * canonical form `{"currency":"…","amount":<int>,"ts":<int>}`, with
    * that very `from_json` called only for anything else (null,
    * malformed, reordered, escaped, whitespace, …). The `from_json` is
    * held by the kernel, not planned as an expression of its own. */
  def decodePayment(value: Column): Column = native.paymentJson(value)

  /** The static rates dimension (CurrencyExchangeRepo.java:15-24's
    * HashMap), collected on the driver and turned into a codegen'd
    * `CASE currency WHEN c THEN CAST(rate AS DECIMAL(18,6)) ... END` over
    * the `currency` column. Unknown and null currencies get a null rate.
    * Build it once per dimension and reuse it across frames.
    * Fails loudly on a null currency or rate, and on a duplicated
    * currency, which a join would have turned into duplicated payments.
    */
  def rateLookup(rates: DataFrame): Column = {
    val entries = rates.select(col("currency"), col("rate").cast(RateType)).collect()
      .map(r => (r.getString(0), r.getDecimal(1))).toSeq
    require(entries.forall { case (c, r) => c != null && r != null },
      "rates: a currency or rate is null")
    val dups = entries.groupBy(_._1).collect { case (c, es) if es.size > 1 => c }.toSeq.sorted
    require(dups.isEmpty,
      s"rates: duplicated currency ${dups.mkString(", ")}; the lookup needs one rate per currency")
    entries.map { case (c, r) => (col("currency") === c, lit(r).cast(RateType)) } match {
      case Seq() => lit(null).cast(RateType)
      case (hit, v) +: rest => rest.foldLeft(when(hit, v)) { case (acc, (h, x)) => acc.when(h, x) }
    }
  }

  /** Adds the looked-up `rate` and drops payments without one: the
    * semantics of an inner join against the dimension. */
  private def withRate(payments: DataFrame, rate: Column): DataFrame =
    payments.withColumn("rate", rate).filter(col("rate").isNotNull)

  /** F2 — currency conversion (PaymentsService.java:100-103) through
    * [[rateLookup]]: adds `rate` and `converted` (cents, exact decimal
    * multiply rounded half-up ≙ BigDecimal.multiply) and drops payments
    * whose currency has no rate. The dimension is collected once per
    * call; no join, no exchange, the fact side is never shuffled.
    */
  def convert(payments: DataFrame, rates: DataFrame): DataFrame =
    withRate(payments, rateLookup(rates))
      .withColumn("converted", round(col("amount") * col("rate"), 0).cast("long"))

  /** F2 alternative — the reference's literal semantics: a per-record
    * HashMap lookup (CurrencyExchangeRepo.java:22-24) as a typed Dataset
    * map over a broadcast variable. Same results as [[convert]], which
    * stays the default: Catalyst sees its CASE lookup and codegens it,
    * while a closure is opaque. This is the template
    * for genuinely imperative per-row enrichment (model inference, codec
    * calls) where no relational form exists.
    */
  def convertMapSide(spark: org.apache.spark.sql.SparkSession,
                     payments: DataFrame): DataFrame = {
    import spark.implicits._
    val rates = spark.sparkContext.broadcast(
      graft.model.ExchangeRates.rates.map { case (c, r) => c -> r }.toMap)
    payments.select("k", "currency", "amount", "ts")
      .as[(Long, String, Long, Long)]
      .mapPartitions { it =>
        val m = rates.value
        it.flatMap { case (k, currency, amount, ts) =>
          m.get(currency).map { rate =>
            // BigDecimal multiply + HALF_UP ≙ exact decimal round, matching
            // convert's round(amount * rate, 0)
            val conv = new java.math.BigDecimal(amount).multiply(rate)
              .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()
            (k, currency, amount, ts, conv)
          }
        }
      }
      .toDF("k", "currency", "amount", "ts", "converted")
  }

  /** F2 decimal variant — the reference's literal BigDecimal semantics
    * end-to-end (PaymentsService.java:102 multiplies exact BigDecimals):
    * the converted amount stays a DECIMAL, never rounded to cents.
    * Scales are chosen so the product is EXACT under Spark's decimal
    * multiply rules: amount cents DECIMAL(12,0) × rate DECIMAL(18,6) →
    * DECIMAL(31,6), inside the 38-digit budget, zero precision loss —
    * then widened to DECIMAL(38,6) for a stable output type. A blanket
    * DECIMAL(38,18) on BOTH operands would be the opposite of fidelity:
    * 38+38+1 digits overflows the budget and Spark's precision-loss rule
    * silently truncates the scale — the spec demonstrates both that trap
    * and this path's exactness at the 1.313558 × 1.9e6-scale boundary
    * (SURVEY §7 risk 1). Amounts ≥ 10^12 cents overflow the (12,0) cast
    * LOUDLY under ANSI mode rather than drifting.
    */
  def convertDecimal(payments: DataFrame, rates: DataFrame): DataFrame =
    withRate(payments, rateLookup(rates))
      .withColumn("converted_dec",
        (col("amount").cast(DecimalType(12, 0)) * col("rate"))
          .cast(DecimalType(38, 6)))
      .select("k", "currency", "amount", "ts", "converted_dec")

  /** F3 — suspicious-payment predicate: converted amount < 10,000 units
    * (strict; PaymentsService.java:94-97 routes on the CONVERTED amount).
    * Amounts are cents here, so the threshold is 10_000 * 100.
    */
  val suspicious: Column = col("converted") < 10000L * 100

  /** F4 — JSON encode with Kafka key = currency
    * (PaymentsService.java:92-93). Spark's to_json is compact
    * (no spaces), fields in struct order.
    */
  def jsonEncode(converted: DataFrame): DataFrame =
    converted.select(encoded: _*)

  /** F4 plus F3's flag: `(key, value, is_suspicious)`, the one frame the
    * streaming fan-out pins per batch and both of its sinks read. */
  def jsonEncodeRouted(converted: DataFrame): DataFrame =
    converted.select(encoded :+ suspicious.as("is_suspicious"): _*)

  private def encoded: Seq[Column] = Seq(
    col("currency").as("key"),
    to_json(struct(col("currency"), col("converted").as("amount"),
      col("ts"))).as("value"))

  /** The full batch pipeline: decode → convert → route. Returns the
    * converted stream with an `is_suspicious` flag rather than two separate
    * outputs — the streaming fan-out (two Kafka sinks from one pass) is
    * [[graft.streaming.StreamingOps.paymentsFanout]].
    */
  def pipeline(spark: SparkSession, orders: DataFrame): DataFrame = {
    val decoded = jsonDecode(syntheticPaymentsJson(orders))
    convert(decoded, ExchangeRates.ratesDF(spark))
      .withColumn("is_suspicious", suspicious)
  }
}
