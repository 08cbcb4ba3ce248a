package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order (Morton) curve values — the multi-dimensional clustering key
  * behind lakehouse `OPTIMIZE ZORDER BY` (Delta/Iceberg): interleaving
  * the bits of two dimension keys makes rows close in EITHER dimension
  * land close on the curve, so a range-partitioned, z-sorted layout gives
  * parquet min/max row-group pruning on BOTH columns from one physical
  * order — where a plain sort prunes only its leading column.
  *
  * Pure integer bit arithmetic on built-in expressions (codegen'd for
  * free, no custom Expression needed) with the identical operator tree
  * restatable in ANSI SQL — the z-values themselves are oracle-checked
  * (q94). 16 bits per dimension: coarser than the full key is exactly
  * right for clustering (the curve orders row GROUPS, not rows).
  */
object ZOrder {

  /** Classic bit-spread: 16 significant bits of `c` spaced to every other
    * position of a 32-bit lane. */
  private def spread16(c: Column): Column = {
    val x0 = c.cast("long").bitwiseAND(lit(65535L))
    val x1 = x0.bitwiseOR(shiftleft(x0, 8)).bitwiseAND(lit(16711935L))
    val x2 = x1.bitwiseOR(shiftleft(x1, 4)).bitwiseAND(lit(252645135L))
    val x3 = x2.bitwiseOR(shiftleft(x2, 2)).bitwiseAND(lit(858993459L))
    x3.bitwiseOR(shiftleft(x3, 1)).bitwiseAND(lit(1431655765L))
  }

  /** Interleaved z-value of two dimension keys (a in even bits, b odd). */
  def zValue2(a: Column, b: Column): Column =
    spread16(a).bitwiseOR(shiftleft(spread16(b), 1))

  /** Z-ordered layout: range-partition on the z-value (file boundaries
    * cut the curve into contiguous segments) and sort inside each file,
    * so every file covers a tight z-range — i.e. a tight box in BOTH
    * dimensions — and per-column min/max statistics prune it for 2-D
    * box predicates. The z column itself is dropped before the write:
    * it is derivable, and the statistics that matter are the dimension
    * columns' own. The clustered frame commits through [[Snapshot]] like
    * every other seed, so a failed layout write leaves readers on the
    * previous version; returns a reader over the committed files.
    */
  def seedZOrdered(df: DataFrame, dstPath: String, a: Column, b: Column,
                   nFiles: Int): DataFrame = {
    val z = df.withColumn("_z", zValue2(a, b))
    Snapshot.commit(z.repartitionByRange(nFiles, z("_z"))
      .sortWithinPartitions("_z")
      .drop("_z"), dstPath)
  }
}
