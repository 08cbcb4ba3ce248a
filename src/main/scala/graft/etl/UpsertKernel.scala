package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** The incremental-upsert kernel — the one nontrivial algorithm in the
  * reference (`CloudSQLWriter.update_table_via_upsert`,
  * `pyopenetl/operations.py:515-609`, staged merge at `:688-730`), restated
  * as a pure relational program (SURVEY.md §2.4):
  *
  * {{{
  * delta   = src where deltaCol >= asOf - lookback      // operations.py:539-540
  * merged  = old anti-join delta on pk  UNION  delta    // ON CONFLICT DO UPDATE, operations.py:716-723
  * result  = merged semi-join src on pk                 // delete reconciliation, operations.py:556-596
  * }}}
  *
  * Scale notes (100 TB design point): both joins shuffle on `pk` only; with
  * the delta typically much smaller than the snapshot, AQE will broadcast the
  * delta side of the anti-join. On a real lakehouse table this kernel is the
  * `MERGE INTO` seam (Delta/Iceberg); over raw parquet it rewrites output —
  * the same semantics, minus file-level pruning.
  *
  * The `asOf` timestamp is an explicit parameter: the reference's
  * `NOW() - INTERVAL` (`operations.py:539`) is nondeterministic; declared
  * queries pass a literal.
  */
object UpsertKernel {

  /** Thrown when the delta re-types a column the destination already has —
    * the one schema drift no null-fill can paper over. Mirrors the
    * reference's fail-loud posture on unmappable types
    * (`operations.py:262-266`), but names the offending columns instead of
    * surfacing an opaque analysis error. `target` says which delta: the
    * batch merge's, or the table root a [[Snapshot.commitDelta]] refused.
    */
  final class SchemaDriftException(val drifted: Seq[(String, String, String)],
                                   val target: String = "upsert delta")
      extends IllegalArgumentException(
        s"$target re-types existing column(s): " +
          drifted.map { case (n, o, d) => s"$n: $o -> $d" }.mkString(", ") +
          " — cast the delta explicitly (TypeNormalizer) before merging")

  /** The re-typing policy, stated once for every path that lands a delta
    * on a stored table ([[merge]] and [[Snapshot.commitDelta]]): throws
    * [[SchemaDriftException]] if `delta` gives a column of `stored` a
    * different type. Added and dropped columns pass (they null-fill), and
    * so does nullability: a parquet read types every nested element and
    * field nullable, whatever its writer declared.
    */
  def checkDrift(stored: StructType, delta: StructType,
                 target: String = "upsert delta"): Unit = {
    val storedTypes = stored.map(f => f.name -> nullable(f.dataType)).toMap
    val drifted = delta.flatMap { f =>
      storedTypes.get(f.name).collect {
        case t if t != nullable(f.dataType) =>
          (f.name, t.simpleString, f.dataType.simpleString)
      }
    }
    if (drifted.nonEmpty) throw new SchemaDriftException(drifted, target)
  }

  private def nullable(t: DataType): DataType = t match {
    case ArrayType(e, _)  => ArrayType(nullable(e), containsNull = true)
    case MapType(k, v, _) => MapType(nullable(k), nullable(v),
      valueContainsNull = true)
    case StructType(fs)   => StructType(fs.map(f =>
      f.copy(dataType = nullable(f.dataType), nullable = true)))
    case other            => other
  }

  /** W14 (`operations.py:716-723`): `INSERT … ON CONFLICT (pk) DO UPDATE` ≙
    * keep every old row whose pk is absent from the delta, then add the delta.
    * `unionByName` makes the reference's strict column-order requirement
    * (`operations.py:522-526`) order-insensitive — a deliberate improvement.
    *
    * Schema-drift policy (documented contract, tested in UpsertKernelSpec):
    *  - column ADDED by the delta → kept; pre-existing rows null-fill;
    *  - column DROPPED by the delta → kept; delta rows null-fill
    *    (additive drift never loses data — the posture a long-running
    *    ingest needs when upstream schemas evolve mid-stream);
    *  - column RE-TYPED by the delta → [[SchemaDriftException]] naming the
    *    drifted columns ([[checkDrift]]: silent coercion corrupts; the
    *    caller decides the cast). The pk must exist on both sides.
    */
  def merge(old: DataFrame, delta: DataFrame, pk: String): DataFrame = {
    require(delta.columns.contains(pk) && old.columns.contains(pk),
      s"upsert pk '$pk' must exist on both sides")
    checkDrift(old.schema, delta.schema)
    old.join(delta.select(pk), Seq(pk), "left_anti")
      .unionByName(delta, allowMissingColumns = true)
  }

  /** Delete detection (`operations.py:556-574`, documented intent — the
    * reference swaps table↔connection, see SURVEY.md §2.1 quirks):
    * dest pks EXCEPT source pks.
    */
  def deletedIds(dest: DataFrame, src: DataFrame, pk: String): DataFrame =
    dest.select(pk).except(src.select(pk))

  /** Full kernel: delta filter → merge → delete-reconcile. */
  def upsert(old: DataFrame, src: DataFrame, pk: String, deltaCol: String,
             asOf: Column, lookbackHours: Int): DataFrame = {
    val delta = src.filter(
      col(deltaCol) >= asOf - expr(s"INTERVAL $lookbackHours HOURS"))
    // semi-join src == anti-join deletedIds (operations.py:591-596), one pass
    merge(old, delta, pk).join(src.select(pk), Seq(pk), "left_semi")
  }

  /** Kernel plus the reference's JSON stats report
    * (`operations.py:601-609`: rows_added / rows_deleted), computed with
    * `observe` so no extra actions are needed at 100 TB.
    */
  def upsertWithStats(old: DataFrame, src: DataFrame, pk: String,
                      deltaCol: String, asOf: Column, lookbackHours: Int)
      : DataFrame =
    upsert(old, src, pk, deltaCol, asOf, lookbackHours)
      .observe("upsert_stats", count(lit(1)).as("rows_result"))

  /** PK-uniqueness invariant — the Spark stand-in for the reference's
    * UNIQUE constraint (`operations.py:346-352`); Spark has no constraints,
    * so the upsert precondition is asserted as a query.
    */
  def duplicatePks(df: DataFrame, pk: String): DataFrame =
    df.groupBy(col(pk)).agg(count(lit(1)).as("n"))
      .filter(col("n") > 1)
}
