package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Cross-engine deterministic rounding.
  *
  * `ROUND(double, s)` is ENGINE-DEFINED at representation-ambiguous half
  * boundaries: Spark rounds the double's shortest decimal repr HALF_UP
  * (`BigDecimal.valueOf`), DuckDB rounds a limited-precision rendering
  * (observed: `round(-3.4012499999999997, 4)` → -3.4013 — it snaps to
  * the 15-digit print "-3.40125" and rounds away from zero, where Spark
  * reads the full repr "-3.4012499999999997" and rounds toward). An
  * exact DECIMAL sum divided by a row count lands on such boundaries
  * often — the sf1.0 x37 knife row was Σlp = -91.833750 over 27 tokens
  * = exactly -3.401250 — so any final ROUND over a decimal/integer
  * quotient is a latent cross-engine divergence.
  *
  * [[detRound]] is defined by IEEE-754 arithmetic alone —
  * floor(x·10^s + 0.5) / 10^s in doubles — so identical input doubles
  * produce identical output on EVERY engine; [[detRoundSql]] spells the
  * same three operations for the DuckDB oracle. Halves round toward +∞
  * (floor-based): a deterministic convention, not decimal HALF_UP.
  * Nulls pass through. |x|·10^s must stay below 2^53 for the floor to
  * be exact — true for every bounded statistic this engine rounds. */
object NumericFunctions {

  def detRound(c: Column, scale: Int): Column = {
    require(scale >= 0 && scale <= 15, s"detRound scale out of range: $scale")
    val p = math.pow(10.0, scale.toDouble) // exact double for scale ≤ 15
    floor(c * lit(p) + lit(0.5)).cast("double") / lit(p)
  }

  /** The exact Shannon-entropy fold over per-term counts `c`, as two
    * halves. [[entropyTermSum]] is the aggregate S = Σ round(c·ln c, 6)
    * in DECIMAL(18,6): each term is rounded before it is summed, so the
    * sum is exact and order-free. [[entropyFromSum]] finishes
    * H = round(ln n − S/n, 4) in nats from the total count n. */
  def entropyTermSum(c: Column): Column =
    sum(round(c * log(c.cast("double")), 6).cast("decimal(18,6)"))

  /** See [[entropyTermSum]]. */
  def entropyFromSum(n: Column, s: Column): Column =
    round(log(n.cast("double")) - s.cast("double") / n, 4)

  /** The oracle-side spelling of [[detRound]] — the SAME three IEEE ops
    * (multiply, add 0.5, floor) so both engines compute bit-identical
    * results from bit-identical inputs. The power of ten is written in
    * exponent form (`1.0e4`): dotted literals like `10000.0` parse as
    * DECIMAL in both SQL dialects and would drag the division into
    * decimal arithmetic; exponent literals are DOUBLE in both. */
  def detRoundSql(expr: String, scale: Int): String = {
    require(scale >= 0 && scale <= 15, s"detRound scale out of range: $scale")
    val p = s"1.0e$scale"
    s"FLOOR(($expr) * $p + 0.5) / $p"
  }
}
