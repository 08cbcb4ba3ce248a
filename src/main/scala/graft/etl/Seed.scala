package graft.etl

import org.apache.spark.sql.DataFrame

/** Bucketed seed — the closest Spark analog to the reference's post-load
  * index clone (W7/W8, `pyopenetl/operations.py:368-402,476-484`): a
  * hash-bucketed, sorted table layout lets later equi-joins and
  * aggregations on the bucket column skip their shuffle entirely
  * (co-located join), the way a secondary index skips a table scan.
  *
  * The one table layout that does not land through [[Snapshot]]: bucket
  * metadata lives in the catalog, so the table is saved there
  * (`saveAsTable`) and read back by name — a plain parquet read of the
  * same files would not see the buckets. Every other seed commits
  * through [[Snapshot]]: [[Pipelines.seedPipeline]] for a plain or sorted
  * copy, `Snapshot.commit(TypeNormalizer.normalize(df), dst,
  * partitionCols)` for hive date partitions, [[ZOrder.seedZOrdered]] for
  * 2-D clustering.
  */
object Seed {

  /** Buckets per bucketed table; at cluster scale this becomes
    * O(cluster cores). */
  val Buckets = 8

  /** Drop `table` if it exists, then save `df` at `path` bucketed and
    * sorted on `key`; returns the catalog table. */
  def seedBucketed(df: DataFrame, key: String, table: String,
                   path: String): DataFrame = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS $table")
    df.write.mode("overwrite").format("parquet")
      .bucketBy(Buckets, key).sortBy(key)
      .option("path", path).saveAsTable(table)
    spark.table(table)
  }
}
