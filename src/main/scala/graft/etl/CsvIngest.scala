package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Dirty-CSV ingest — `seed_from_remote_csv`
  * (`pyopenetl/operations.py:486-513`) and the tar-of-CSVs flatfile loader
  * (`operations.py:634-686`). The reference chunk-loops `pd.read_csv`
  * (hardcoded 200k rows, `operations.py:495`) and materializes whole files
  * in pandas (`operations.py:676`) — its scalability cliff. Spark's CSV
  * source is splittable: one call, distributed scan. A clean CSV table
  * lands through [[Pipelines.flatfilePipeline]] (schema inferred on a
  * sample by [[graft.sources.CsvSource]], committed through [[Snapshot]]);
  * this object holds the quarantining read for files with malformed rows.
  */
object CsvIngest {

  /** The two sides of a quarantined read, sharing one parse cache. Call
    * [[release]] once both sides are consumed — the cache backs BOTH
    * frames (unpersisting either result frame would not free it), and a
    * driver looping over many loads would otherwise pin every parsed
    * dataset until the session dies.
    */
  final case class QuarantinedCsv(clean: DataFrame, quarantined: DataFrame,
                                  private val shared: DataFrame) {
    def release(): Unit = { shared.unpersist(); () }
  }

  /** Dirty-CSV ingest: rows that don't parse against the declared schema
    * land whole in a quarantine column instead of aborting the scan or
    * silently nulling — the reference's `errors="coerce"` posture
    * (operations.py:120-128) extended to row shape, and the only viable
    * posture on a 100 TB crawl where some malformed rows are certain.
    * The caller decides whether quarantine volume fails the load, then
    * calls [[QuarantinedCsv.release]].
    */
  def readCsvQuarantined(spark: SparkSession, schemaDdl: String,
                         paths: String*): QuarantinedCsv =
    readCsvQuarantined(spark, schemaDdl, header = true, paths: _*)

  /** `header = false` for headerless part-file layouts (a distributed
    * writer emits many files; a header row per file would be swallowed
    * from each). */
  def readCsvQuarantined(spark: SparkSession, schemaDdl: String,
                         header: Boolean, paths: String*): QuarantinedCsv = {
    import org.apache.spark.sql.functions.col
    val schema = org.apache.spark.sql.types.StructType.fromDDL(schemaDdl)
      .add("_corrupt_record", org.apache.spark.sql.types.StringType)
    val all = spark.read
      .option("header", header.toString)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .schema(schema)
      .csv(paths: _*)
      // the cache is load-bearing, not an optimization: Spark disallows
      // projecting ONLY the internal corrupt-record column from a live
      // CSV scan (the quarantine side), and it also keeps the
      // clean/quarantine split from re-parsing the files
      .cache()
    QuarantinedCsv(
      all.filter(col("_corrupt_record").isNull).drop("_corrupt_record"),
      all.filter(col("_corrupt_record").isNotNull)
        .select(col("_corrupt_record").as("raw_line")),
      all)
  }
}
