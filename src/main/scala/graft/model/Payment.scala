package graft.model

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Payment data model, mirroring the reference's 3-field POJO
  * (reference: lenses-topology-example-microservice/src/main/java/io/lenses/
  * topology/example/microservice/Payment.java:5-42 — currency, amount,
  * timestamp).
  *
  * Amounts are carried as integer cents (`Long`) in the relational surface so
  * that currency conversion is exact integer/decimal arithmetic — the
  * reference uses `BigDecimal.multiply` (PaymentsService.java:102), i.e.
  * exact decimal semantics, which `Long` cents × `DecimalType` rate
  * reproduces without float drift (SURVEY.md §7 risk 1).
  */
case class Payment(currency: String, amountCents: Long, timestamp: Long)

object ExchangeRates {
  /** The five static rates from the reference's in-memory dimension table
    * (CurrencyExchangeRepo.java:12-20). A 5-row dim: compiled into an
    * in-expression lookup ([[graft.ops.PaymentOps.rateLookup]]), so the
    * fact side is never shuffled and never joined.
    */
  val rates: Seq[(String, java.math.BigDecimal)] = Seq(
    "GBP" -> new java.math.BigDecimal("1.00"),
    "USD" -> new java.math.BigDecimal("1.313558"),
    "EUR" -> new java.math.BigDecimal("1.144073"),
    "CAN" -> new java.math.BigDecimal("1.702642"),
    "CHF" -> new java.math.BigDecimal("1.303682")
  )

  val currencies: Seq[String] = rates.map(_._1)

  /** Rates as a DataFrame with DecimalType(18,6) — exact multiply semantics. */
  def ratesDF(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    rates.map { case (c, r) => (c, r) }.toDF("currency", "rate")
      .select(col("currency"), col("rate").cast("decimal(18,6)").as("rate"))
  }

  /** Same dimension as inline SQL for the DuckDB oracle. */
  def ratesSql: String =
    rates.map { case (c, r) => s"('$c', CAST(${r.toPlainString} AS DECIMAL(18,6)))" }
      .mkString("(VALUES ", ", ", ") AS rates(currency, rate)")
}
