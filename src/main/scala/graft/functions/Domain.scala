package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Domain expression library — the reference's UDF-shaped pure functions
  * (SURVEY §2.10 F1-F5, F9, F11, F12 and the A11 price chain) as Column
  * expressions. All codegen-friendly when/coalesce/regexp chains; no UDFs,
  * so they inline into whole-stage codegen wherever they are used.
  */
object Domain {

  /** F1: trade direction — offer==quote means the signer paid quote to buy
    * base (reference core/parse.js:35).
    */
  def classifyDirection(offerDenom: Column, quoteDenom: Column): Column =
    when(offerDenom === quoteDenom, "buy").otherwise("sell")

  /** Split "x-y" at the FIRST dash; no dash → (whole, '')
    * (reference core/parse.js:28-29).
    */
  def splitPairFirst(pair: Column): Column =
    when(instr(pair, "-") === 0, pair)
      .otherwise(substring_index(pair, "-", 1))

  def splitPairSecond(pair: Column): Column =
    when(instr(pair, "-") === 0, lit(""))
      .otherwise(substr(pair, instr(pair, "-") + 1, length(pair)))

  /** F2: pair normalization — force `uzig` onto the quote side
    * (reference core/parse.js:71-76). Returns struct(base, quote).
    */
  def normalizePair(pair: Column): Column = {
    val x = splitPairFirst(pair)
    val y = splitPairSecond(pair)
    when(x === "uzig" && y =!= "", struct(y.as("base"), lit("uzig").as("quote")))
      .when(y === "uzig" && x =!= "", struct(x.as("base"), lit("uzig").as("quote")))
      .otherwise(struct(x.as("base"), y.as("quote")))
  }

  /** F3: raw base units → display units (reference core/parse.js:36). */
  def toDisp(amountBase: Column, exp: Column): Column =
    amountBase / pow(lit(10d), coalesce(exp, lit(0)))

  /** F4: price of base in ZIG from pool reserves, exponent-aware
    * (reference core/prices.js:69-92): (Rq/10^6)/(Rb/10^baseExp); null
    * unless both reserves are positive.
    */
  def priceFromReserves(rq: Column, rb: Column, baseExp: Column): Column =
    when(rq > 0d && rb > 0d,
      (rq / lit(1e6)) / (rb / pow(lit(10d), baseExp)))

  /** F5: pool fee from pair type (reference api/routes/swap.js:21-32):
    * xyk→1bp, concentrated→100bp, xyk_<bps>/xyk-<bps>→bps/10⁴, else 30bp.
    */
  def pairFee(pairType: Column): Column = {
    val t = lower(pairType)
    val bps = regexp_extract(t, "xyk[_-](\\d+)", 1)
    when(pairType.isNull, 0.003d)
      .when(t === "xyk", 0.0001d)
      .when(t === "concentrated", 0.01d)
      .when(bps =!= "", bps.cast("double") / 10000d)
      .otherwise(0.003d)
  }

  /** F9: trade size class (reference api/routes/trades.js:222-226):
    * worth<1000 shrimp, ≤10000 shark, else whale.
    */
  def tradeClass(worth: Column): Column =
    when(worth < 1000d, "shrimp")
      .when(worth <= 10000d, "shark")
      .otherwise("whale")

  /** F12: worth basis — ZIG-leg display amount preferred, else quote-leg
    * notional × price (reference api/routes/trades.js:216-220,353-388).
    */
  def worth(zigLegDisp: Column, quoteDisp: Column, quotePrice: Column): Column =
    coalesce(zigLegDisp, quoteDisp * quotePrice)

  /** A11: token display price with the ×10⁻⁶ rebase-glitch correction
    * (reference jobs/matrix-rollups.js:268-290): when both the trades-side
    * price and the 60m-avg OHLCV price exist, their ratio sits in
    * [1e5,1e7] and the token has the 6-decimal exponent, the trades price
    * is a rebasing artifact — scale it down; otherwise prefer trades
    * price, then OHLCV price, then 0. The ratio's divisor is null unless
    * positive, so the ratio is null (and the arm not taken) unless both
    * prices exist and the OHLCV price is positive. A guard ANDed beside
    * the division would not do: subexpression elimination evaluates a
    * repeated subexpression (`between` alone repeats the ratio) before the
    * `&&` short-circuits, and under ANSI a zero divisor then raises
    * DIVIDE_BY_ZERO.
    */
  def tokenPriceDisp(pPrices: Column, pOhlcv: Column, exponent: Column): Column =
    when((pPrices / when(pOhlcv > 0d, pOhlcv)).between(100000d, 10000000d) &&
        coalesce(exponent, lit(6)) === 6,
      pPrices / 1000000d)
      .when(pPrices.isNotNull, pPrices)
      .when(pOhlcv.isNotNull, pOhlcv)
      .otherwise(0d)

  /** F11: security risk score (reference api/routes/tokens.js:1104-1143):
    * start at 100, apply rule penalties/bonuses, round, clamp [1,99].
    * NOTE the `holders >= 50000` branch is dead in the reference (the
    * `>= 10000` arm matches first) — reproduced faithfully.
    */
  def securityScore(isMintable: Column, canChangeCap: Column,
                    top10PctOfMax: Column, creatorPctOfMax: Column,
                    holdersCount: Column, fullyMinted: Column,
                    daysAlive: Column): Column = {
    val mint = when(isMintable, -12).otherwise(4)
    val cap = when(canChangeCap, -8).otherwise(0)
    val top10 = when(top10PctOfMax >= 75d, -20)
      .when(top10PctOfMax >= 50d, -12)
      .when(top10PctOfMax >= 30d, -6)
      .otherwise(4)
    val creator = when(creatorPctOfMax >= 25d, -18)
      .when(creatorPctOfMax >= 10d, -10)
      .when(creatorPctOfMax > 0d, 3)
      .otherwise(0)
    val holders = when(holdersCount < 100, -8)
      .when(holdersCount < 1000, -4)
      .when(holdersCount >= 10000, 5)
      .otherwise(0)
    val minted = when(!isMintable && fullyMinted, 4).otherwise(0)
    val age = when(daysAlive >= 180d, 6)
      .when(daysAlive >= 90d, 4)
      .when(daysAlive >= 30d, 2)
      .otherwise(0)
    val score = lit(100) + mint + cap + top10 + creator + holders + minted + age
    greatest(lit(1), least(lit(99), round(score, 0).cast("int")))
  }
}
