package graft.io

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Morton (Z-order) curve value for two non-negative integer dimensions —
  * the multi-column file-clustering key behind Iceberg/Delta's `ZORDER BY`:
  * sorting rows by the interleaved-bit value keeps files tight on BOTH
  * dimensions at once, so [[SnapshotTable.readRange]]'s per-file min/max
  * pruning bites on either column. A linear `sortBy(a, b)` clusters only
  * the prefix column — a range scan on `b` then touches every file; the
  * z-curve trades a small loss of `a`-locality for `b` going from "no
  * pruning" to "√-factor pruning" (asserted in SnapshotTableSpec, measured
  * in BENCH.md, "Snapshot format vs plain parquet: composed daily churn").
  *
  * Built entirely from codegen'd built-ins (shiftleft + bitwise and/or) —
  * the classic magic-number bit-spread, 6 ops per dimension, no UDF.
  * Domain: both inputs must lie in `[0, 2^31)` (cast/offset/rank-bucket
  * wider domains first — Iceberg likewise z-orders a fixed-width
  * representation, not raw values).
  */
object ZOrder {

  /** Spread the low 32 bits of `x` to the even bit positions of a long. */
  private def part1by1(x: Column): Column = {
    var v = x.bitwiseAND(lit(0x00000000FFFFFFFFL))
    v = v.bitwiseOR(shiftleft(v, 16)).bitwiseAND(lit(0x0000FFFF0000FFFFL))
    v = v.bitwiseOR(shiftleft(v, 8)).bitwiseAND(lit(0x00FF00FF00FF00FFL))
    v = v.bitwiseOR(shiftleft(v, 4)).bitwiseAND(lit(0x0F0F0F0F0F0F0F0FL))
    v = v.bitwiseOR(shiftleft(v, 2)).bitwiseAND(lit(0x3333333333333333L))
    v.bitwiseOR(shiftleft(v, 1)).bitwiseAND(lit(0x5555555555555555L))
  }

  /** Interleaved z-value of `(a, b)`: bit i of `a` lands at position 2i,
    * bit i of `b` at 2i+1. Monotone in each dimension when the other is
    * fixed; inputs outside `[0, 2^31)` would wrap the sign bit. */
  def zValue(a: Column, b: Column): Column =
    part1by1(a.cast("long")).bitwiseOR(shiftleft(part1by1(b.cast("long")), 1))
}
