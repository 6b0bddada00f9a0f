package graft.core

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.{col, count, expr, lit}

/** The one content-fingerprint aggregate every memo layer keys by
  * ([[Memo]] keys / CacheStore manifests).
  *
  * Form: order-independent per-row xxhash64, combined as
  * `bit_xor ∥ sum` — BOTH aggregates, because each one's blind spot is
  * the other's strength. xor + count alone lets two same-count inputs
  * whose differing rows occur in even multiplicity collide (pairwise
  * cancellation: x ⊕ x = 0); an additive sum does not cancel under
  * that regime, and conversely the xor catches the additive
  * rearrangements a sum is blind to. A collision now needs BOTH a
  * zero xor-difference and a zero sum-difference — back to the
  * generic 2⁻⁶⁴-per-aggregate regime with no structured failure mode.
  *
  * The sum runs over `decimal(38,0)` casts: under ANSI mode a Long sum
  * of 2⁶³-range hashes is an overflow ERROR (the reason
  * ConnectedComponents.checksum is xor-only), while decimal(38)
  * overflows only past ~10¹⁹ rows. `concat_ws` makes the result a
  * null-safe STRING: empty input → "".
  */
object Fingerprint {
  /** Single-expression form. NOTE: `xxhash64($cols)` appears under both
    * aggregates and aggregate codegen does NOT subexpression-eliminate
    * across them — measured 1.6× slower than [[key]]'s pre-projected
    * hash at 50M rows. Kept for tiny keying scans (id columns, ≤HVG
    * rows) and persisted CacheStore/DataStore keys. */
  def sqlExpr(cols: String): String =
    s"concat_ws('_', bit_xor(xxhash64($cols)), " +
      s"sum(cast(xxhash64($cols) as decimal(38,0))))"

  /** The session-scoped memo key of `df`'s content over `cols` (a SQL
    * column list): `"<session>:<x>_<n>"`, or `"<session>:empty"` for no
    * rows, where `x` is the xor ∥ sum above and `n` the row count. One
    * pass: each row hashes ONCE (the hash is projected to a column, then
    * aggregated — bit-equal to [[sqlExpr]]), and the `extra` aggregates
    * ride the same scan. Returns the key and the row `(n, extra*)`.
    * Callers append every parameter that shapes the memoized value.
    */
  def key(df: DataFrame, cols: String, extra: Column*): (String, Row) = {
    val r = df.select(col("*"), expr(s"xxhash64($cols)").as("_fph"))
      .agg(count(lit(1)), extra :+ expr("concat_ws('_', bit_xor(_fph), " +
        "sum(cast(_fph as decimal(38,0))))"): _*).head()
    val x = r.getString(r.length - 1)
    val session = System.identityHashCode(df.sparkSession)
    (if (x.isEmpty) s"$session:empty" else s"$session:${x}_${r.getLong(0)}",
      Row.fromSeq(r.toSeq.init))
  }
}
