package graft.core

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The packed argmin key hi·2⁴⁰ + id: ascending key order is (hi asc, id
  * asc), so "best score, then smallest id" is a plain `min` (or a KMV
  * bottom-k) over one long, unpacked by exact integer arithmetic. The
  * cosine keys and their stream twin, the grouped top-k, keep-longest
  * canonicals and the LPA vote all pack with it; the oracle SQL spells the
  * same constant.
  */
private[graft] object PackedKey {
  val Shift: Long = 1L << 40
  def pack(hi: Column, id: Column): Column = hi * lit(Shift) + id
  def pack(hi: Long, id: Long): Long = hi * Shift + id
  def idOf(pk: Column): Column = pk % lit(Shift)
  def hiOf(pk: Column): Column = call_function("div", pk, lit(Shift))

  /** (min, max) of `id`, 0 over zero rows: the aggregate pair a caller
    * adds to its one bounded collect for [[requireIdsFit]]. */
  def idRange(id: Column): Seq[Column] =
    Seq(coalesce(min(id), lit(0L)), coalesce(max(id), lit(0L)))

  /** Every id in [0, bound), loud instead of a silently corrupt unpack. */
  def requireIdsFit(op: String, lo: Long, hi: Long, bound: Long): Unit =
    require(lo >= 0L && hi < bound,
      s"$op packed key needs ids in [0, 2^${java.lang.Long.numberOfTrailingZeros(bound)}); " +
        s"got id range [$lo, $hi]")
}
