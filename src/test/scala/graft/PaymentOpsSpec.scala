package graft

import graft.functions.PaymentJsonKernel
import graft.model.ExchangeRates
import graft.ops.PaymentOps
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{array, broadcast, col, from_json, inline, round}
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.unsafe.types.UTF8String
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

  // ---------------------------------------------------------------
  // F1 decode kernel vs from_json
  // ---------------------------------------------------------------

  private def canonical(c: String, a: Any, t: Any): String =
    s"""{"currency":"$c","amount":$a,"ts":$t}"""

  /** Records the kernel must leave to `from_json`, one per way of leaving
    * the canonical form. */
  private val adversarial: Seq[String] = Seq(
    """{ "currency":"GBP","amount":1,"ts":2}""",
    """{"currency" : "GBP", "amount" : 1, "ts" : 2}""",
    canonical("GBP", 1, 2) + "\n",
    "\t" + canonical("GBP", 1, 2),
    canonical("GBP", 1, 2) + " ",
    canonical("GBP", 1, 2) + "x",
    canonical("GBP", 1, 2) + "}",
    """{"amount":1,"currency":"GBP","ts":2}""",
    """{"ts":2,"amount":1,"currency":"GBP"}""",
    """{"currency":"GBP","amount":1}""",
    """{"amount":1,"ts":2}""",
    "{}",
    """{"currency":"GBP","amount":1,"ts":2,"x":1}""",
    """{"x":"y","currency":"GBP","amount":1,"ts":2}""",
    """{"currency":"GBP","amount":1,"ts":2,"amount":7}""",
    """{"currency":"GBP","currency":"EUR","amount":1,"ts":2}""",
    canonical("GBP", "01", 2), canonical("GBP", "00", 2), canonical("GBP", 1, "-01"),
    canonical("GBP", "-0", 2), canonical("GBP", 1, "-00"),
    canonical("GBP", Long.MaxValue, 2), canonical("GBP", Long.MinValue, 2),
    canonical("GBP", "9223372036854775808", 2), canonical("GBP", 1, "-9223372036854775809"),
    canonical("GBP", "1234567890123456789", 2), canonical("GBP", "12345678901234567890", 2),
    canonical("GBP", "-1000000000000000000", 2),
    canonical("GBP", "1.5", 2), canonical("GBP", "1e3", 2), canonical("GBP", "1E3", 2),
    canonical("GBP", 1, "-2.0e-1"), canonical("GBP", "1.0", 2), canonical("GBP", "+5", 2),
    canonical("A\\\"B", 1, 2), canonical("A\\\\B", 1, 2), canonical("\\u0047BP", 1, 2),
    canonical("G\\/P", 1, 2),
    canonical("G\u0001P", 1, 2), canonical("G\tP", 1, 2), canonical("G\nP", 1, 2),
    canonical("G\u007fP", 1, 2),
    canonical("\u00e9", 1, 2), canonical("\u20ac", 1, 2), canonical("\ud83d\ude00", 1, 2),
    """{"currençy":"GBP","amount":1,"ts":2}""", """{"Currency":"GBP","amount":1,"ts":2}""",
    canonical("GBP", "\"123\"", 2), canonical("GBP", 1, "\"5\""),
    canonical("GBP", "null", 2), """{"currency":null,"amount":1,"ts":2}""",
    canonical("GBP", 1, 2).dropRight(1), canonical("GBP", 1, 2).take(13),
    "", " ", "null", "[1,2]", "\"str\"", "123", "not a json payload")

  test("F1 decode kernel: canonical records decode natively, every other form falls back") {
    val pays = Seq(("GBP", 999999L, 1L), ("", 0L, 0L), ("a b/~!", -5L, 123456789012345678L),
      ("USD", -999999999999999999L, 999999999999999999L))
    for ((c, a, t) <- pays) {
      val r = PaymentJsonKernel.decode(UTF8String.fromString(canonical(c, a, t)))
      assert(r != null && r.getUTF8String(0).toString == c && r.getLong(1) == a &&
        r.getLong(2) == t, canonical(c, a, t))
    }
    for (v <- adversarial)
      assert(PaymentJsonKernel.decode(UTF8String.fromString(v)) == null, v)
  }

  private val printable: Gen[String] = Gen.frequency(
    3 -> Gen.oneOf(ExchangeRates.currencies),
    1 -> Gen.listOf(Gen.oneOf((' ' to '~').filter(ch => ch != '"' && ch != '\\'))).map(_.mkString))
  private val wireInt: Gen[Long] = Gen.frequency(
    2 -> Gen.chooseNum(-999999999999999999L, 999999999999999999L),
    2 -> Gen.chooseNum(-1000L, 1000L),
    1 -> Gen.const(0L))
  private val recordGen: Gen[Option[String]] = for {
    c <- printable; a <- wireInt; t <- wireInt
    v <- Gen.frequency(
      4 -> Gen.const(Some(canonical(c, a, t))),
      4 -> Gen.oneOf(adversarial).map(Some(_)),
      2 -> Gen.oneOf(
        s"""{"amount":$a,"currency":"$c","ts":$t}""",
        s"""{"currency":"$c", "amount":$a,"ts":$t}""",
        s"""{"currency":"$c","amount":$a,"ts":$t,"amount":$t}""",
        canonical(c, s"0$a", t), canonical(c, s"$a.5", t), canonical(c, s"${a}e1", t),
        canonical(c, s"\"$a\"", t), canonical(c + "\u00e9", a, t), canonical(c + "\\n", a, t),
        canonical(c, a, s"$t$t")).map(Some(_)),
      1 -> Gen.choose(0, 60).map(n => Some(canonical(c, a, t).take(n))),
      1 -> Gen.const(None))
  } yield v

  /** Runs `f` with SQL confs set, restoring the previous values. */
  private def withConfs[T](kv: (String, String)*)(f: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally old.foreach { case (k, o) => o.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  for ((mode, wholeStage) <- Seq("NO_CODEGEN" -> "false", "CODEGEN_ONLY" -> "true"))
    test(s"F1 decode kernel equals from_json row for row, $mode (property)") {
      withConfs("spark.sql.codegen.factoryMode" -> mode,
                "spark.sql.codegen.wholeStage" -> wholeStage) {
        val prop = Prop.forAll(Gen.listOfN(200, recordGen)) { values =>
          // an RDD source, so the optimizer cannot evaluate the projection itself
          val df = spark.sparkContext.parallelize(values.zipWithIndex.map { case (v, i) => (i.toLong, v) }, 3)
            .toDF("k", "value")
          val both = df.select(col("k"), PaymentOps.decodePayment(col("value")).as("kernel"),
            from_json(col("value"), PaymentOps.paymentSchema).as("oracle"))
          val mismatches = both.collect().filter(r => r.get(1) != r.get(2))
          val decoded = PaymentOps.jsonDecode(df)
          val oracle = df.select(col("k"), inline(array(from_json(col("value"), PaymentOps.paymentSchema))))
            .filter(col("currency").isNotNull)
          mismatches.isEmpty &&
            rows(decoded, "k", "currency", "amount", "ts") == rows(oracle, "k", "currency", "amount", "ts")
        }
        val result = check(Parameters.default.withMinSuccessfulTests(8), prop)
        assert(result.passed, result.status.toString)
      }
    }
}
