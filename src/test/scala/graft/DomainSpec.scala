package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.functions.Domain

/** Branch-level tests for the domain expressions — exercising the arms
  * the fixture data never reaches (most importantly the ×10⁻⁶
  * rebase-glitch correction, whose ratio window no synthetic row hits).
  */
class DomainSpec extends AnyFunSuite {

  import SparkTestSession.spark
  import spark.implicits._

  test("tokenPriceDisp: all four arms of the price chain") {
    // (p_prices, p_ohlcv, exponent) → expected price
    val rows = Seq(
      // glitch: ratio 1e6 ∈ [1e5,1e7], exponent 6 → prices/1e6
      (Some(2.0e6), Some(2.0), Some(6), 2.0),
      // ratio in window but exponent ≠ 6 → raw prices wins
      (Some(2.0e6), Some(2.0), Some(7), 2.0e6),
      // ratio below window → prices wins untouched
      (Some(50.0), Some(2.0), Some(6), 50.0),
      // null exponent coalesces to 6 → glitch applies
      (Some(3.0e6), Some(3.0), None, 3.0),
      // no prices → ohlcv fallback
      (None, Some(1.5), Some(6), 1.5),
      // nothing → 0
      (None, None, Some(6), 0.0))
    val df = rows.map { case (p1, p2, e, want) =>
      (p1.getOrElse(Double.NaN), p1.isDefined,
        p2.getOrElse(Double.NaN), p2.isDefined,
        e.getOrElse(-1), e.isDefined, want)
    }.toDF("p1v", "p1d", "p2v", "p2d", "ev", "ed", "want")
      .select(
        when(col("p1d"), col("p1v")).as("p1"),
        when(col("p2d"), col("p2v")).as("p2"),
        when(col("ed"), col("ev")).as("exp"),
        col("want"))
    val got = df.select(
      Domain.tokenPriceDisp(col("p1"), col("p2"), col("exp")).as("price"),
      col("want")).as[(Double, Double)].collect()
    got.foreach { case (price, want) => assert(price == want) }
  }

  test("tokenPriceDisp: a zero OHLCV price with the price projected " +
      "several times raises no DIVIDE_BY_ZERO") {
    // a11's shape: p2 is a one-day click average that can be exactly 0.0,
    // and the price feeds three projected columns, so Catalyst shares the
    // ratio subexpression across them, outside the `pOhlcv > 0` guard
    val df = Seq((1L, 5.0, 0.0), (2L, 2.0e6, 2.0), (3L, 7.0, -1.0))
      .toDF("k", "p1", "p2").repartition(1)
    val price = Domain.tokenPriceDisp(col("p1"), col("p2"), lit(6))
    val got = df.select(col("k"), price.as("a"), (price * 2d).as("b"),
        (price * 3d).as("c"))
      .as[(Long, Double, Double, Double)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, 5.0, 10.0, 15.0), (2L, 2.0, 4.0, 6.0),
      (3L, 7.0, 14.0, 21.0)))
  }

  test("securityScore: clamping and branch arithmetic") {
    def score(mint: Boolean, cap: Boolean, top10: Double, creator: Double,
              holders: Int, minted: Boolean, days: Double): Int =
      Seq((mint, cap, top10, creator, holders, minted, days))
        .toDF("m", "c", "t", "cr", "h", "fm", "d")
        .select(Domain.securityScore(col("m"), col("c"), col("t"),
          col("cr"), col("h"), col("fm"), col("d")).as("s"))
        .as[Int].head()
    // worst case clamps to 1: 100-12-8-20-18-8 = 34 … still ≥1, pile on:
    assert(score(true, true, 80, 30, 50, false, 0) ==
      math.max(1, 100 - 12 - 8 - 20 - 18 - 8))
    // best case: 100+4+4+0+5+4+6 = 123 → clamped to 99
    assert(score(false, false, 10, 0, 20000, true, 365) == 99)
    // mid: not mintable(+4), top10<30(+4), creator 5(+3), holders 500(-4),
    // fully minted(+4), age 100d(+4) → 115 → 99; verify a non-clamped mid:
    assert(score(true, false, 40, 15, 500, false, 10) ==
      100 - 12 - 6 - 10 - 4)
  }

  test("pairFee: dash variant and unparseable bps fall back") {
    val got = Seq("xyk-25", "xyk_abc", "XYK", "weird")
      .toDF("t").select(Domain.pairFee(col("t"))).as[Double].collect()
    assert(got.toSeq == Seq(0.0025, 0.003, 0.0001, 0.003))
  }

  test("normalizePair edge: dash-less and uzig-only strings") {
    def np(s: String): (String, String) = {
      val r = Seq(s).toDF("p")
        .select(Domain.normalizePair(col("p")).as("n"))
        .select(col("n.base"), col("n.quote")).as[(String, String)].head()
      r
    }
    assert(np("abc") == ("abc", ""))       // no dash → (whole, '')
    assert(np("uzig-") == ("uzig", ""))    // empty other side → unchanged
    assert(np("a-uzig") == ("a", "uzig"))
    assert(np("uzig-b") == ("b", "uzig"))
    assert(np("a-b-c") == ("a", "b-c"))    // split at FIRST dash
  }
}
