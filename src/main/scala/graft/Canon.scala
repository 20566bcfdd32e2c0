package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Canonicalization helpers for oracle (DuckDB) hash-parity.
  *
  * Floating-point summation order varies across shuffle partitions, so a
  * plain `sum(double)` is not reproducible between Spark's partial/final
  * aggregation and DuckDB's sequential scan. Casting each addend to an
  * exact DECIMAL before summing makes the sum order-independent and
  * bit-identical in both engines; the final cast back to DOUBLE is exact
  * for our magnitudes. This mirrors the determinism discipline of the
  * reference's dedup/exactly-once machinery
  * (celeborn: client/src/main/java/org/apache/celeborn/client/read/CelebornInputStream.java:864-899),
  * re-expressed at the numeric level.
  */
object Canon {
  /** Order-independent sum of a double column: exact decimal accumulate,
    * result as double. `scale` must cover the addends' decimal places. */
  def dsum(c: Column, scale: Int = 2): Column =
    sum(c.cast(DecimalType(28, scale))).cast("double")

  /** Order-independent sum of arbitrary double terms — the moment sums
    * (x, x², x·y) of the correlation and regression operators: each
    * addend is rounded to 12 decimal places and accumulated exactly in
    * decimal(38,12). The oracle side is CAST(SUM(CAST(t AS
    * DECIMAL(38,12))) AS DOUBLE). */
  def exactSum(c: Column): Column =
    sum(c.cast("decimal(38,12)")).cast("double")

  /** Deterministic average: exact decimal sum divided by count, rounded.
    * (Spark's avg(double) merges partial sums in partition order — not
    * reproducible against a sequential oracle.) */
  def davg(c: Column, scale: Int = 2, outScale: Int = 4): Column =
    round(dsum(c, scale) / count(lit(1)), outScale)

  /** SQL fragment equivalents for the DuckDB oracle side. */
  def sqlDsum(expr: String, scale: Int = 2): String =
    s"CAST(SUM(CAST($expr AS DECIMAL(28,$scale))) AS DOUBLE)"
  def sqlDavg(expr: String, scale: Int = 2, outScale: Int = 4): String =
    s"ROUND(${sqlDsum(expr, scale)} / COUNT(*), $outScale)"

  /** The moment sum of the correlation and regression oracles: `expr`
    * accumulated as DECIMAL(38,12), so the sum is order-independent,
    * and read back as a double. */
  def sqlMomentSum(expr: String): String =
    s"CAST(SUM(CAST($expr AS DECIMAL(38,12))) AS DOUBLE)"

  /** The five bivariate moment sums of columns x and y (sx, sy, sxx,
    * syy, sxy), one indented select line each. */
  val sqlXyMoments: String =
    Seq("x" -> "sx", "y" -> "sy", "x * x" -> "sxx", "y * y" -> "syy", "x * y" -> "sxy")
      .map { case (e, name) => s"    ${sqlMomentSum(e)} AS $name" }.mkString(",\n")

  // ------------------------------------------------------- paired longs
  // Exact decimal sums without decimal AGGREGATION buffers (r13h found
  // Spark's DECIMAL(38,12) sum path — JavaBigDecimal per row inside the
  // hash agg — 7-27x off DuckDB's int128 per core; a paired-longs
  // prototype measured 4-7.5x recovery, bit-identical).
  //
  // Theorem (exactness): let each term t be an exact multiple of 10^-s
  // with |t|·10^s < 2^63. Then u = t·10^s is an exact long; writing
  // u = hi·2^30 + lo with hi = u >> 30 (arithmetic shift = floor
  // division, correct for negatives) and lo = u & (2^30 - 1) ∈ [0, 2^30)
  // gives Σu = (Σhi)·2^30 + Σlo as plain long sums, provided
  //   Σlo  <  2^30 · rows-per-group           (< 2^63 up to ~8.6e9 rows)
  //   |Σhi| ≤ (max|u|/2^30 + 1) · rows-per-group  (caller-checked bound).
  // Recombining in DECIMAL once per group yields the same exact rational
  // Σt the decimal(38,12) accumulate computes, so the final cast to
  // DOUBLE is the same correctly-rounded value — the DuckDB oracle SQL
  // keeps its plain CAST(SUM(CAST(t AS DECIMAL)) AS DOUBLE) form.
  //
  // Each call site owes the scaladoc a value-bound proof: term scale ≤ s
  // (so t·10^s is integral — decimals of scale ≤ s qualify; doubles only
  // when their decimal(·,s) rounding is the intended semantic), plus the
  // |u| and Σhi bounds at the target corpus size.

  /** The scaled-integer term u = t·10^scale as a long. Decimal inputs of
    * scale ≤ `scale` convert exactly; double inputs are first rounded to
    * `scale` decimal places (HALF_UP — identical to the decimal-sum
    * path's cast, so substituting preserves bit-parity). The
    * (36−scale, scale) cast keeps the ·10^scale product inside
    * precision 38 (no silent precision-loss rescale); it bounds inputs
    * to 10^(36−2·scale) integer digits — far above the 2^63/10^scale
    * long bound the caller must prove anyway. Scale 0 is a plain long
    * cast (TRUNCATING for doubles): pass integral values only. */
  def pterm(c: Column, scale: Int): Column =
    if (scale == 0) c.cast("long")
    // the 10^scale factor must be a TIGHT decimal(scale+1, 0) literal:
    // lit(Long) would promote to decimal(20,0) and push the product
    // past precision 38, where Spark's precision-loss rule trims the
    // scale to 6 — silently rounding any scale > 6 term (caught by the
    // q121 oracle)
    else (c.cast(DecimalType(36 - scale, scale)) *
      lit(new java.math.BigDecimal(BigInt(10).pow(scale).bigInteger)))
      .cast("long")

  private def tenNeg(scale: Int): Column =
    lit(new java.math.BigDecimal(java.math.BigInteger.ONE, scale))

  /** Single-long exact sum: for sites whose PER-GROUP Σ|u| provably fits
    * a long (high-cardinality keys / bounded groups). One codegen long
    * sum replaces the decimal accumulate; result as double. */
  def psum1(c: Column, scale: Int): Column =
    (sum(pterm(c, scale)) * tenNeg(scale)).cast("double")

  /** Paired-longs aggregate columns for one exact sum of pre-scaled
    * integer column `u` (from [[pterm]]): emits `<name>__hi` and
    * `<name>__lo`. Combine with [[psumDecimal]]/[[psumDouble]] in a
    * post-aggregation select. */
  def psumAggs(u: Column, name: String): Seq[Column] =
    Seq(sum(shiftright(u, 30)).as(s"${name}__hi"),
      sum(u.bitwiseAND(lit((1L << 30) - 1))).as(s"${name}__lo"))

  /** Recombined exact sum Σt = ((Σhi)·2^30 + Σlo)·10^-scale as a
    * DECIMAL(38 − s, scale) — for downstream folds that must stay
    * decimal (window cumulations). NULL-transparent: an all-NULL group
    * leaves both halves NULL and the recombine NULL, like the decimal
    * sum. The integer Σu is cast down to precision 37−scale before the
    * ·10^-scale multiply so the product's precision stays ≤ 38 — past
    * 38 Spark's precision-loss rule would silently trim any scale > 6
    * to 6 dp. This adds the (mild) bound Σ|u| < 10^(37−scale) to the
    * caller's proof obligations. */
  def psumDecimal(name: String, scale: Int): Column =
    (col(s"${name}__hi").cast(DecimalType(38, 0)) * lit(1L << 30) +
      col(s"${name}__lo"))
      .cast(DecimalType(37 - scale, 0)) * tenNeg(scale)

  /** One exact, order-independent per-group sum of `c`, named `name`:
    * the aggregate columns to pass to `agg`, and the column that turns
    * them into the DECIMAL sum after it. `pairedScale = Some(s)` takes
    * the paired-longs path ([[psumAggs]] of [[pterm]]`(c, s)`,
    * recombined by [[psumDecimal]]; the caller owes its bounds); `None`
    * a plain `sum(c.cast(decimal))`, which needs no recombining. */
  def exactDecimalSum(c: Column, name: String, decimal: String,
      pairedScale: Option[Int]): (Seq[Column], Column) = pairedScale match {
    case Some(sc) => (psumAggs(pterm(c, sc), name), psumDecimal(name, sc))
    case None => (Seq(sum(c.cast(decimal)).as(name)), col(name))
  }

  /** Recombined exact sum as DOUBLE — the drop-in replacement for
    * `sum(t.cast(decimal)).cast("double")`. */
  def psumDouble(name: String, scale: Int): Column =
    psumDecimal(name, scale).cast("double")
}
