package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{floor, lit}

/** Cross-engine portable fixed-point rounding.
  *
  * `round(x, n)` is NOT an IEEE-754 primitive, and engines implement it
  * differently: Spark rounds the double's EXACT binary expansion via
  * BigDecimal HALF_UP, DuckDB scales by 10^n and rounds the product.
  * On boundary values — an x whose exact binary expansion sits just
  * below `…d5` while `x·10^n` rounds up to it (2.675 is the classic:
  * its double is 2.67499999…) — the engines disagree by one unit of
  * the rounded digit, which is a full hash-gate miss. Round 7's driver
  * run proved this in production (`agg_hll_distinct` /
  * `agg_hist_quantiles` went red on exactly this; the sketch gates now
  * run pure integer arithmetic, see [[graft.ops.Sketch]]).
  *
  * `fx(x, n) = floor(x·10^n + 0.5) / 10^n` removes the hazard for
  * values that must STAY doubles: multiply, add, floor, divide are
  * each single exactly-rounded IEEE-754 primitives (10^n is exactly
  * representable for n ≤ 22), so bit-identical input produces
  * bit-identical output on every engine — there is no library rounding
  * mode left to disagree on, only one arithmetic path. The `+ 0.5`
  * makes it HALF-UP in the common case (values land where classic
  * rounding puts them — cosine of identical vectors is 1.0, not
  * 0.999999 — and hand-computed spec constants hold); the boundary
  * cases where it differs from BigDecimal-exact rounding are decided
  * identically by both engines, which is the property the gates need.
  * (This does NOT defend against upstream divergence — libm `ln`/`exp`
  * stay banned from gated paths regardless, same as before. Multi-term
  * SUMS of pinned doubles are order-sensitive in the last ulp — run
  * them through DECIMAL, as the logprob and ADC aggregates do.)
  *
  * [[fxSql]] is the DuckDB twin for NEW oracle strings (interpolated
  * the way `Fnv.duckdbSql` is). The existing oracle corpus spells the
  * idiom inline; `PortableSpec`'s oracle scan enforces the contract
  * over ALL of them — no `round(` anywhere, and every floor-scale
  * multiply carries its `+ 0.5` — so a hand-typed copy cannot drift.
  */
object Portable {
  /** Half-up at `n` decimals: floor(x·10^n + 0.5)/10^n. */
  def fx(c: Column, n: Int): Column = {
    val p = math.pow(10, n)
    floor(c * lit(p) + lit(0.5)) / lit(p)
  }

  /** Scalar twin of the Column [[fx]], for driver-side code that must
    * rank exactly as a Spark plan would. Spark's `floor` returns BIGINT,
    * so the floored value passes through a `Long` before the divide:
    * NaN becomes 0 and ±∞ saturate at the `Long` range, which a plain
    * `math.floor(x) / p` would not reproduce. `PortableSpec` pins this
    * twin to the Column form bit for bit. */
  def fx(x: Double, n: Int): Double = {
    val p = math.pow(10, n)
    math.floor(x * p + 0.5).toLong / p
  }

  /** Half-up to a whole number: floor(x + 0.5) — the n = 0 case.
    * Spark's floor returns BIGINT; cast DuckDB's to match when the
    * value is hashed. */
  def fxInt(c: Column): Column = floor(c + lit(0.5))

  /** DuckDB twin of [[fx]] for oracle SQL interpolation. */
  def fxSql(e: String, n: Int): String =
    s"floor(($e) * 1e$n + 0.5) / 1e$n"

  /** DuckDB twin of [[fxInt]] (emits BIGINT to match Spark's floor). */
  def fxIntSql(e: String): String = s"floor(($e) + 0.5)::BIGINT"
}
