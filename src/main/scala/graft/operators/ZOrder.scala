package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Z-order (Morton-curve) clustering key over two integral dimensions —
  * the public Delta/Iceberg `OPTIMIZE ZORDER BY` idea: rows sorted by the
  * interleaved-bit key land in files that cover small hyper-rectangles of
  * the (a, b) space instead of thin slabs of one dimension, so manifest
  * min/max stats ([[graft.sources.TxLogTable.candidateFiles]]) prune scans
  * on EITHER column. Linear clustering (plain sort by a, then b) gives
  * perfect pruning on `a` and none on `b`; the z-curve trades a little of
  * `a`'s locality for locality in both — the right layout when a 100 TB
  * table serves range queries on two independent keys (user × time,
  * tenant × id).
  *
  * Everything here is a deterministic per-row expression (codegen, no
  * shuffle); the one shuffle in a z-order rewrite is the
  * `repartitionByRange` on the computed key.
  */
object ZOrder {

  val Bits = 16

  /** Scale an integral column to the [0, 2^Bits) grid over [mn, mx].
    * The subtraction runs in DOUBLE from the start: `c - mn` in Long
    * overflows once the span exceeds the Long range (mn strongly negative,
    * values strongly positive), yielding negative cells the upper clamp
    * never catches. Both ends are clamped anyway — out-of-range values
    * (possible only through caller error, since mn/mx come from the same
    * snapshot) degrade to edge cells instead of corrupting the curve. The
    * double rounding is deterministic and grid-cell precision is all a
    * clustering key needs.
    */
  def gridCell(c: Column, mn: Long, mx: Long): Column =
    if (mx <= mn) lit(0L)
    else least(
      lit(((1L << Bits) - 1).toDouble),
      greatest(lit(0.0),
        (c.cast("double") - lit(mn.toDouble)) / lit(spanOf(mn, mx)) *
          lit(((1L << Bits) - 1).toDouble))).cast("long")

  // (mx - mn) in DOUBLE without the Long-subtraction overflow
  private def spanOf(mn: Long, mx: Long): Double = mx.toDouble - mn.toDouble

  /** Grid resolution for an N-dimensional curve: the interleaved key
    * must fit a non-negative Long, so each dimension gets
    * `min(16, 63/N)` bits — 16²=2 dims keep the classic resolution,
    * 3 dims get 16 (48 bits), 4 get 15, 6 get 10. Resolution loss is
    * benign for a CLUSTERING key (cells just get coarser); dimension
    * count beyond ~4 wastes the curve anyway (locality dilutes
    * exponentially — the same guidance Delta gives for ZORDER BY).
    */
  def bitsFor(n: Int): Int = math.min(Bits, 63 / math.max(1, n))

  /** N-way Morton interleave over `bits` low bits of each column: bit i
    * of column j lands at position i·N + j (for N=2, bit i of the first
    * column goes to 2i and of the second to 2i+1 — the classic Morton
    * code). A fixed OR-chain of shifts — straight-line long arithmetic
    * under whole-stage codegen, no shuffle.
    */
  def interleaveN(cols: Seq[Column], bits: Int): Column = {
    val n = cols.size
    cols.zipWithIndex.foldLeft(lit(0L)) { case (acc, (c, j)) =>
      (0 until bits).foldLeft(acc) { (a, i) =>
        a.bitwiseOR(
          shiftleft(c.bitwiseAND(lit(1L << i)), i * (n - 1) + j))
      }
    }
  }

  /** The z-value over N dimensions, each scaled to its committed
    * [min, max] range at [[bitsFor]] resolution. */
  def zValueN(dims: Seq[(Column, Long, Long)]): Column = {
    val bits = bitsFor(dims.size)
    val mask = lit((1L << bits) - 1)
    interleaveN(dims.map { case (c, mn, mx) =>
      // gridCell scales to the 16-bit grid; shift down to this curve's
      // per-dim resolution (drop the low bits, keep the high ones —
      // cell ORDER is what the curve needs)
      shiftright(gridCell(c, mn, mx), Bits - bits).bitwiseAND(mask)
    }, bits)
  }

  /** Order-preserving 7-byte-prefix encoding of a string column into a
    * non-negative Long — the Column twin of
    * `graft.sources.TxLogTable.strEncFloor` (first 7 UTF-8 bytes,
    * big-endian, zero-padded): `hex` of the truncated binary, right-padded
    * to 14 hex digits, parsed base-16. Pure codegen'd built-ins, so a
    * string dimension rides the same Morton curve as an integral one and
    * the resulting files' `:spre:` stats prune string ranges
    * ([[graft.sources.TxLogTable.snapshotWhere]]).
    */
  def strEnc(c: Column): Column =
    conv(rpad(substring(hex(c.cast("binary")), 1, 14), 14, "0"), 16, 10)
      .cast("long")
}
