package graft.oracle

import graft.model.ExchangeRates

/** The payments pipeline (F1-F4) in DuckDB: the synthetic JSON feed is
  * rebuilt from `orders` with the same strings as
  * `PaymentOps.syntheticPaymentsJson`, then parsed back with
  * `json_extract`, so the oracle runs the same encode→decode loop as the
  * Spark path.
  */
object PaymentOracles {

  /** The rates dimension as inline SQL (`rates(currency, rate)`). */
  private val ratesSql: String =
    ExchangeRates.rates
      .map { case (c, r) => s"('$c', CAST(${r.toPlainString} AS DECIMAL(18,6)))" }
      .mkString("(VALUES ", ", ", ") AS rates(currency, rate)")

  /** The synthetic feed `(k, value)`: identical strings to
    * `PaymentOps.syntheticPaymentsJson`. */
  private def syntheticPaymentsJsonSql: String = {
    val currencies = ExchangeRates.currencies
      .map(c => s"'$c'").mkString("[", ", ", "]")
    s"""SELECT o_orderkey AS k,
       |  CASE WHEN o_orderkey % 97 = 0 THEN 'not a json payload'
       |       ELSE '{"currency":"' || ($currencies)[CAST(o_orderkey % 5 + 1 AS INT)] ||
       |            '","amount":' || CAST(CAST(round(o_totalprice * 100, 0) AS BIGINT) AS VARCHAR) ||
       |            ',"ts":' || CAST(epoch_ms(o_orderdate) AS VARCHAR) || '}'
       |  END AS value
       |FROM orders""".stripMargin
  }

  private val decodedCte =
    s"""WITH synth AS ($syntheticPaymentsJsonSql),
       |decoded AS (
       |  SELECT k,
       |    json_extract_string(value, '$$.currency') AS currency,
       |    CAST(json_extract(value, '$$.amount') AS BIGINT) AS amount,
       |    CAST(json_extract(value, '$$.ts') AS BIGINT) AS ts
       |  FROM synth WHERE json_valid(value)
       |)""".stripMargin

  private val convertedCte =
    s"""$decodedCte,
       |converted AS (
       |  SELECT k, d.currency, amount, ts,
       |    CAST(round(amount * rate, 0) AS BIGINT) AS converted
       |  FROM decoded d JOIN $ratesSql ON d.currency = rates.currency
       |)""".stripMargin

  val decodeOracle: String = s"$decodedCte SELECT * FROM decoded"

  /** Serves both the join and the map-side conversion: they compute the
    * same values. */
  val convertOracle: String = s"$convertedCte SELECT * FROM converted"

  val suspiciousOracle: String =
    s"$convertedCte SELECT * FROM converted WHERE converted < 1000000"

  val convertDecimalOracle: String =
    s"""$decodedCte
       |SELECT k, d.currency, amount, ts,
       |  CAST(CAST(CAST(amount AS DECIMAL(12,0)) * rate AS DECIMAL(38,6))
       |    AS VARCHAR) AS converted_dec
       |FROM decoded d JOIN $ratesSql ON d.currency = rates.currency""".stripMargin

  val encodeOracle: String =
    s"""$convertedCte
       |SELECT currency AS key,
       |  '{"currency":"' || currency || '","amount":' || CAST(converted AS VARCHAR) ||
       |  ',"ts":' || CAST(ts AS VARCHAR) || '}' AS value
       |FROM converted""".stripMargin

  val pipelineOracle: String =
    s"""$convertedCte
       |SELECT k, currency, amount, ts, converted,
       |  converted < 1000000 AS is_suspicious
       |FROM converted""".stripMargin
}
