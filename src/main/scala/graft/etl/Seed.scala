package graft.etl

import graft.sources.ParquetSchema
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Snapshot seed — `CloudSQLWriter.seed_table`
  * (`pyopenetl/operations.py:404-474`): drop dest, chunk-read source, create
  * dest from the first chunk's schema, append each chunk, clone indexes.
  * In Spark the whole ceremony is one declarative line: the chunk loop is
  * partition parallelism, create-after-drop is `mode("overwrite")` (atomic
  * via the file-commit protocol, replacing the reference's per-chunk
  * transaction at `operations.py:181`), and the parquet footer carries the
  * schema (replacing `get_postgres_table_schema`, `operations.py:233-287`).
  *
  * The reference's post-load index clone (`operations.py:368-402,476-484`)
  * has no Spark analog (no secondary indexes); the physical-layout
  * equivalent is writing sorted/bucketed so scans prune — `sortCols` gives
  * min/max-pruned parquet row groups at 100 TB.
  */
object Seed {
  def seed(spark: SparkSession, srcPath: String, dstPath: String,
           sortCols: Seq[String] = Nil): Unit = {
    val df  = TypeNormalizer.normalize(ParquetSchema.read(spark, srcPath))
    val out = if (sortCols.nonEmpty) df.sortWithinPartitions(sortCols.map(df(_)): _*) else df
    out.write.mode("overwrite").parquet(dstPath)
  }

  def readBack(spark: SparkSession, dstPath: String): DataFrame =
    ParquetSchema.read(spark, dstPath)

  /** Hive-style partitioned seed — the other half of the reference's
    * index-clone analog (W7/W8, operations.py:368-402) for time-series
    * tables: `partitionBy(partCol)` lays one directory per partition value,
    * so a filter on `partCol` prunes whole directories at planning time
    * (the scan's `PartitionFilters`) before a single file is opened — the
    * first thing a 100 TB date-partitioned events table needs. `partCol`
    * should be low-cardinality (a date, not a timestamp): each distinct
    * value is a directory, and 10^6 tiny partitions is its own pathology.
    * Commits through [[Snapshot]] like every pipeline destination, so a
    * killed writer never leaves the table half-deleted.
    */
  def seedPartitioned(df: DataFrame, dstPath: String, partCol: String)
      : DataFrame =
    Snapshot.commit(TypeNormalizer.normalize(df), dstPath,
      partitionCols = Seq(partCol))

  /** Bucketed seed — the closest Spark analog to the reference's post-load
    * index clone (W7/W8, operations.py:368-402): a hash-bucketed, sorted
    * table layout lets later equi-joins and aggregations on the bucket
    * column skip their shuffle entirely (co-located join), the way a
    * secondary index skips a table scan.
    */
  def seedBucketed(spark: SparkSession, srcPath: String, table: String,
                   bucketCol: String, nBuckets: Int): DataFrame = {
    TypeNormalizer.normalize(ParquetSchema.read(spark, srcPath))
      .write.mode("overwrite").format("parquet")
      .bucketBy(nBuckets, bucketCol).sortBy(bucketCol)
      .saveAsTable(table)
    spark.table(table)
  }
}
