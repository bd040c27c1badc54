package graft

import graft.model.ExchangeRates
import graft.ops.PaymentOps
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{broadcast, col, round}
import org.apache.spark.sql.types.DecimalType
import org.scalacheck.{Gen, Prop}
import org.scalacheck.Test.{check, Parameters}

/** SURVEY.md §5.2: malformed-JSON drop, missing-currency routing,
  * strict suspicious threshold, encode∘decode identity.
  */
class PaymentOpsSpec extends SparkSpec {
  import spark.implicits._

  private def jsonRow(k: Long, v: String) = (k, v)

  test("F1 malformed JSON records are dropped, valid ones decoded") {
    val df = Seq(
      jsonRow(1, """{"currency":"USD","amount":500,"ts":42}"""),
      jsonRow(2, "not a json payload"),
      jsonRow(3, """{"broken": true"""),
      jsonRow(4, """{"currency":"EUR","amount":9,"ts":7}""")
    ).toDF("k", "value")
    val out = PaymentOps.jsonDecode(df).collect()
    assert(out.map(_.getAs[Long]("k")).sorted.toSeq == Seq(1L, 4L))
  }

  test("F2 missing-currency payments are routed out (inner join), not NPE") {
    // The reference would NPE at PaymentsService.java:102 on an unknown
    // currency; we define: drop from the converted stream (rejects route).
    val payments = Seq((1L, "USD", 100L, 0L), (2L, "XXX", 100L, 0L))
      .toDF("k", "currency", "amount", "ts")
    val out = PaymentOps.convert(payments, ExchangeRates.ratesDF(spark))
    assert(out.select("k").as[Long].collect().toSeq == Seq(1L))
  }

  test("F3 suspicious threshold is strict: converted == 10000 units is NOT suspicious") {
    // threshold 10000 currency units = 1_000_000 cents, strict < per
    // PaymentsService.java:95
    val payments = Seq(
      (1L, "GBP", 1000000L, 0L),  // == threshold → not suspicious
      (2L, "GBP", 999999L, 0L),   // < threshold → suspicious
      (3L, "GBP", 1000001L, 0L)
    ).toDF("k", "currency", "amount", "ts")
    val conv = PaymentOps.convert(payments, ExchangeRates.ratesDF(spark))
    val susp = conv.filter(PaymentOps.suspicious).select("k").as[Long].collect().toSeq
    assert(susp == Seq(2L))
  }

  test("F2 conversion is exact decimal multiply (GBP rate 1.00 is identity)") {
    val payments = Seq((1L, "GBP", 123456789L, 0L)).toDF("k", "currency", "amount", "ts")
    val out = PaymentOps.convert(payments, ExchangeRates.ratesDF(spark))
    assert(out.select("converted").as[Long].head() == 123456789L)
  }

  test("F4∘F1 encode-decode identity on arbitrary payments (property)") {
    val currencyGen = Gen.oneOf(ExchangeRates.currencies)
    val payGen = for {
      c <- currencyGen; a <- Gen.chooseNum(0L, 2000000L); t <- Gen.chooseNum(0L, 1.7e12.toLong)
    } yield (c, a, t)
    val prop = Prop.forAll(Gen.nonEmptyListOf(payGen)) { pays =>
      val df = pays.zipWithIndex
        .map { case ((c, a, t), i) => (i.toLong, c, a, t) }
        .toDF("k", "currency", "amount", "ts")
      val conv = PaymentOps.convert(df, ExchangeRates.ratesDF(spark))
      val encoded = PaymentOps.jsonEncode(conv)
        .withColumn("k", org.apache.spark.sql.functions.monotonically_increasing_id())
      val decoded = PaymentOps.jsonDecode(encoded.select(col("k"), col("value")))
      // decode(encode(x)) preserves currency + converted amount rows
      val back = decoded.select("currency", "amount").as[(String, Long)].collect().sorted.toSeq
      val expect = conv.select("currency", "converted").as[(String, Long)].collect().sorted.toSeq
      decoded.count() == df.count() && back == expect
    }
    val result = check(Parameters.default.withMinSuccessfulTests(10), prop)
    assert(result.passed, result.status.toString)
  }

  /** The broadcast-join formulation of F2 that the CASE lookup replaced,
    * kept here only as the oracle: `converted`, `converted_dec` and the
    * suspicious flag of every payment whose currency joins the rates. */
  private def joinOracle(payments: DataFrame, rates: DataFrame): DataFrame =
    payments.join(broadcast(rates), "currency")
      .withColumn("converted", round(col("amount") * col("rate"), 0).cast("long"))
      .withColumn("converted_dec",
        (col("amount").cast(DecimalType(12, 0)) * col("rate")).cast(DecimalType(38, 6)))

  private def rows(df: DataFrame, cols: String*): Seq[Row] =
    df.select(cols.map(col): _*).collect().toSeq.sortBy(_.getLong(0))

  test("F2 rate lookup matches the broadcast-join oracle row for row (property)") {
    // amounts on both sides of the 10,000.00 threshold in every currency
    val boundary = ExchangeRates.rates.flatMap { case (_, r) =>
      val at = new java.math.BigDecimal(1000000).divide(r, 0, java.math.RoundingMode.FLOOR).longValue
      (at - 1) to (at + 2)
    }
    val amountGen: Gen[Option[Long]] = Gen.frequency(
      1 -> Gen.const(None),
      3 -> Gen.oneOf(boundary).map(Some(_)),
      3 -> Gen.chooseNum(-999999999999L, 999999999999L).map(Some(_)))
    val currencyGen: Gen[Option[String]] = Gen.frequency(
      8 -> Gen.oneOf(ExchangeRates.currencies).map(Some(_)),
      1 -> Gen.oneOf("XXX", "gbp", "").map(Some(_)),
      1 -> Gen.const(None))
    val payGen = Gen.zip(currencyGen, amountGen, Gen.chooseNum(0L, 1.7e12.toLong))
    // the full dimension most of the time, else any subset of it (empty too)
    val ratesGen = Gen.frequency(
      3 -> Gen.const(ExchangeRates.rates),
      1 -> Gen.someOf(ExchangeRates.rates).map(_.toSeq))
    val prop = Prop.forAll(Gen.nonEmptyListOf(payGen), ratesGen) { (pays, dim) =>
      val payments = pays.zipWithIndex
        .map { case ((c, a, t), i) => (i.toLong, c, a, t) }
        .toDF("k", "currency", "amount", "ts")
      val rates = dim.toDF("currency", "rate")
        .select(col("currency"), col("rate").cast(DecimalType(18, 6)).as("rate"))
      val oracle = joinOracle(payments, rates).withColumn("s", PaymentOps.suspicious)
      val conv = PaymentOps.convert(payments, rates).withColumn("s", PaymentOps.suspicious)
      val base = Seq("k", "currency", "amount", "ts")
      rows(conv, base ++ Seq("rate", "converted", "s"): _*) ==
        rows(oracle, base ++ Seq("rate", "converted", "s"): _*) &&
        rows(PaymentOps.convertDecimal(payments, rates), base :+ "converted_dec": _*) ==
          rows(oracle, base :+ "converted_dec": _*)
    }
    val result = check(Parameters.default.withMinSuccessfulTests(20), prop)
    assert(result.passed, result.status.toString)
  }

  test("F2 rate lookup rejects a duplicated currency, naming it") {
    val payments = Seq((1L, "EUR", 100L, 0L)).toDF("k", "currency", "amount", "ts")
    val rates = ExchangeRates.ratesDF(spark)
      .union(Seq(("EUR", new java.math.BigDecimal("2.0"))).toDF("currency", "rate")
        .select(col("currency"), col("rate").cast(DecimalType(18, 6))))
    // the join would have emitted the EUR payment twice
    assert(joinOracle(payments, rates).count() == 2)
    for (f <- Seq[DataFrame => DataFrame](PaymentOps.convert(_, rates),
                                          PaymentOps.convertDecimal(_, rates))) {
      val e = intercept[IllegalArgumentException](f(payments))
      assert(e.getMessage.contains("duplicated currency EUR"), e.getMessage)
    }
    // null entries are rejected too, rather than silently matching nothing
    val nullRate = Seq(("GBP", None: Option[java.math.BigDecimal])).toDF("currency", "rate")
    intercept[IllegalArgumentException](PaymentOps.convert(payments, nullRate))
  }
}
