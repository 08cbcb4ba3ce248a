package graft.etl

import graft.sources.{CsvSource, Source}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** The three user-facing pipelines (`pyopenetl/pipelines.py`), re-expressed
  * as orchestration functions over the tested kernels. The reference's
  * writer-type validation (P0, pipelines.py:17-32) is subsumed by the sealed
  * [[Source]] ADT — invalid wiring does not typecheck.
  *
  * These are the ETL layer's landing paths: every table they produce is
  * normalized ([[TypeNormalizer]]) and committed through [[Snapshot]], the
  * reference's per-write transaction (operations.py:181). A parquet seed
  * is `seedPipeline(spark, ParquetSource(path), dst)`; a single CSV table
  * is one entry of [[flatfilePipeline]].
  */
object Pipelines {

  /** SeedPipeline.execute (pipelines.py:35-70 → seed_table,
    * operations.py:404-474): snapshot copy, schema carried by parquet,
    * chunk loop ≙ partition parallelism, post-load index clone ≙ sorted
    * write. Committed through [[Snapshot]], so a crashed seed never
    * clobbers an existing destination.
    */
  def seedPipeline(spark: SparkSession, src: Source, destPath: String,
                   sortCols: Seq[String] = Nil): DataFrame = {
    val df  = TypeNormalizer.normalize(src.read(spark))
    val out = if (sortCols.nonEmpty)
      df.sortWithinPartitions(sortCols.map(df(_)): _*) else df
    Snapshot.commit(out, destPath)
  }

  /** UpdatePipeline.execute (pipelines.py:73-115 → update_table_via_upsert,
    * operations.py:515-609): delta-window upsert + delete reconciliation
    * against the current destination snapshot, then a crash-atomic
    * [[Snapshot]] commit — the reference's per-chunk transaction
    * (operations.py:181) restored at snapshot granularity. The merged plan
    * reads the committed `_v<N>` directory and writes `_v<N+1>`, so the
    * old two-phase staging copy (which existed only to break the
    * read-your-own-overwrite cycle) is gone: one write instead of two, and
    * a crash at any point leaves readers on the old complete snapshot.
    * `asOf` is explicit (never wall-clock — operations.py:539 quirk).
    */
  def updatePipeline(spark: SparkSession, src: Source, destPath: String,
                     pk: String, deltaCol: String, asOf: Column,
                     lookbackHours: Int = 1): DataFrame = {
    val source = TypeNormalizer.normalize(src.read(spark))
    val old    = Snapshot.read(spark, destPath)
    val result = UpsertKernel.upsert(old, source, pk, deltaCol, asOf,
      lookbackHours)
    Snapshot.commit(result, destPath)
  }

  /** CrunchbaseFlatfilePipeline.execute (pipelines.py:118-127 →
    * ingest_crunchbase_flatfiles, operations.py:634-686): multi-CSV bulk
    * load given already-extracted files — each target lands as its own
    * table. The tarball front door is [[flatfilePipelineFromTar]].
    */
  def flatfilePipeline(spark: SparkSession,
                       targets: Map[String, Seq[String]],
                       destRoot: String): Map[String, DataFrame] =
    targets.map { case (table, csvPaths) =>
      table -> Snapshot.commit(
        TypeNormalizer.normalize(CsvSource(csvPaths).read(spark)),
        s"$destRoot/$table")
    }

  /** The full W13 shape (operations.py:648-683): a `.tar.gz` bulk export
    * of CSVs → one table per targeted member. The reference's
    * `tf.getnames()` + extractall + per-file pandas load becomes: parse
    * the archive in-engine ([[graft.sources.TarGz]]), list member names
    * (metadata-sized collect ≙ `getnames()`), and commit each target
    * through the same normalize+snapshot path as every other ingest.
    * Member naming mirrors the reference: `organizations.csv` →
    * `cb_organizations` (operations.py:670). The archive is parsed ONCE —
    * members cache serialized across the per-target reads, released when
    * done (the reference's `del df; gc.collect()` loop, made structural).
    * The download step is [[Fetch.downloadAuthed]]; [[crunchbasePipeline]]
    * composes the two into the reference's full behavior.
    */
  def flatfilePipelineFromTar(spark: SparkSession, tarGzPath: String,
                              targetTables: Seq[String], destRoot: String,
                              tablePrefix: String = "cb_")
      : Map[String, DataFrame] = {
    import spark.implicits._
    val entries = graft.sources.TarGz.entries(spark, tarGzPath)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    try {
      val names = entries.select("entry_name").as[String].collect()
      names.iterator.map { name =>
        val table =
          tablePrefix + name.split('/').last.split('.').head
        name -> table
      }.filter { case (_, t) => targetTables.contains(t) }
        .map { case (name, table) =>
          val df = graft.sources.TarGz.csvTable(spark, entries, name)
          table -> Snapshot.commit(TypeNormalizer.normalize(df),
            s"$destRoot/$table")
        }.toMap
    } finally entries.unpersist(blocking = false)
  }

  /** The complete `ingest_crunchbase_flatfiles` behavior
    * (operations.py:648-683): fetch the export archive with the secret
    * API key, then parse + load the targeted members in-engine. `https`
    * against the real endpoint; `file://` in the offline harness. */
  def crunchbasePipeline(spark: SparkSession, exportUrl: String,
                         secrets: graft.sources.SecretProvider,
                         secretName: String, workDir: String,
                         destRoot: String,
                         targetTables: Seq[String] = Seq(
                           "cb_organizations", "cb_ipos",
                           "cb_acquisitions", "cb_funding_rounds"))
      : Map[String, DataFrame] = {
    val local = Fetch.downloadAuthed(exportUrl,
      s"$workDir/bulk_export.tar.gz", secrets, secretName)
    flatfilePipelineFromTar(spark, local.toString, targetTables, destRoot)
  }
}
