package graft.util

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Cross-engine determinism helpers (SURVEY.md §7.2 rule book).
  *
  * The driver hash-compares Spark parquet output against DuckDB running the
  * declared oracle SQL, so every aggregate must be bit-identical across both
  * engines:
  *
  *  - `SUM(double)` is addition-order-dependent → cast RAW 2-dp money
  *    columns to DECIMAL(18,2) first (exact, associative, hash-stable),
  *    do any arithmetic in decimal, sum exactly, and cast the final value
  *    to DOUBLE (correctly-rounded in both engines).
  *  - Averages: exact decimal sum cast to double, divided by the count in
  *    IEEE double — identical bits on both engines, no rounding needed.
  *  - Genuinely-double scalar math (ln, percentile interpolation) → round
  *    to a few decimal places on both sides.
  *  - Every declared query ends in a total-order ORDER BY (unique key as
  *    final tie-break): the driver hashes ordered content.
  *
  * Each Spark helper has a paired SQL-text twin used to build the DuckDB
  * oracle, so the two dialects can never drift apart silently.
  */
object Det {

  /** Exact 2-dp decimal view of a raw money/quantity column. */
  def dec(c: Column): Column = c.cast(DecimalType(18, 2))
  def decSql(c: String): String = s"CAST($c AS DECIMAL(18,2))"

  /** Hash-stable SUM of a raw double column, emitted as DOUBLE. */
  def dsum(c: Column): Column = sum(dec(c)).cast("double")
  def dsumSql(c: String): String =
    s"CAST(SUM(CAST($c AS DECIMAL(18,2))) AS DOUBLE)"

  /** Hash-stable SUM of an already-exact decimal expression. */
  def dsumExpr(c: Column): Column = sum(c).cast("double")

  /** Hash-stable AVG: exact decimal sum → double, IEEE-divided by count. */
  def davg(c: Column): Column = dsum(c) / count(c)
  def davgSql(c: String): String = s"${dsumSql(c)} / COUNT($c)"

  /** Round a genuinely-double value for cross-engine compare. Residual
    * risk (ADVICE r1): Spark rounds via BigDecimal-of-shortest-repr
    * HALF_UP while DuckDB rounds the binary double, so an input within
    * ~1 ulp of a .5·10⁻⁶ boundary could flip — measure-zero on fixture
    * data and accepted; values feeding a RANK are rounded first on both
    * sides so ranks cannot diverge even if a 7th decimal ever did. */
  def r6(c: Column): Column = round(c, 6)
  def r4(c: Column): Column = round(c, 4)

  /** LET-BINDING for expression trees: evaluate `value` ONCE per row and
    * reuse it everywhere `body` references it, spelled as the
    * single-element-transform idiom `element_at(transform(array(v),
    * x => body(x)), 1)` — the lambda variable is bound to the evaluated
    * value, not to the expression.
    *
    * Why it exists (r8s4, measured): higher-order functions run on the
    * INTERPRETED expression path (no whole-stage codegen, no common-
    * subexpression elimination), so a subexpression referenced inside a
    * lambda re-evaluates on EVERY lambda invocation — a gram builder
    * spelled `transform(seq, i => element_at(split(text), i))` re-splits
    * the document once per element_at call, turning linear work
    * quadratic-ish. `let(split(text))(tk => transform(seq, i =>
    * element_at(tk, i)))` restores one split per row
    * (winnowFingerprints: 5.9 s → ~1 s at sf0.1). Same trick both
    * engines understand — DuckDB's twin is
    * `list_transform([v], x -> body)[1]` — though the oracles usually
    * sidestep it with CTE materialization instead. */
  def let(value: Column)(body: Column => Column): Column =
    element_at(transform(array(value), body), 1)
}
