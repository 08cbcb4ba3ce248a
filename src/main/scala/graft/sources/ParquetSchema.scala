package graft.sources

import java.io.FileNotFoundException

import scala.util.Try
import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.ParquetFileWriter.{
  PARQUET_COMMON_METADATA_FILE, PARQUET_METADATA_FILE}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.{
  ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.graftbridge.SchemaBridge
import org.apache.spark.sql.types.StructType

/** Parquet reads that take the schema from one footer on the driver.
  *
  * The reference takes a table's schema from the catalog
  * (`get_postgres_table_schema`, `pyopenetl/operations.py:233-287`); here
  * the parquet footer is the catalog. `spark.read.parquet(path)` infers
  * that schema with a Spark job even when it reads a single footer
  * (`SchemaMergeUtils.mergeSchemasInParallel` always runs one), which
  * would cost every table, source and snapshot-directory read a job before
  * its query runs. [[read]] reads the same footer on the driver instead
  * and hands the schema to `spark.read.schema(...)`, which still discovers
  * and types hive partition columns from the paths.
  *
  * The schema is the one Spark's non-merging inference returns: the same
  * file pick (`_common_metadata`, else `_metadata`, else the first data
  * file by path, hidden names skipped) and Spark's own footer conversion
  * under the session's settings. Wherever the footer cannot decide — a
  * missing or glob path, a directory without a data file, an unreadable
  * footer, a session that merges schemas — the read is Spark's own, so
  * it raises Spark's error (`PATH_NOT_FOUND`, `UNABLE_TO_INFER_SCHEMA`).
  * [[readDirs]] reads several directories as one relation, one such
  * footer each, folded under Spark's own schema merge.
  */
object ParquetSchema {

  /** `spark.read.parquet(path)`, without the schema-inference job. */
  def read(spark: SparkSession, path: String): DataFrame =
    of(spark, path) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None         => spark.read.parquet(path)
    }

  /** `spark.read.option("mergeSchema", "true").parquet(dirs: _*)` over
    * directories that each hold one write, without the inference job.
    * Each directory's schema is the one [[read]] takes; they fold in
    * order under Spark's own parquet merge (`StructType.merge`, the rule
    * `mergeSchema` folds footers with), so a column some directories lack
    * null-fills in their rows and a column two directories type
    * irreconcilably fails the read, naming it. Where a footer cannot
    * decide for some directory, or the session merges schemas itself,
    * the read is Spark's own merging read.
    *
    * The relation is the one that read resolves to — an
    * `InMemoryFileIndex` over `dirs`, hive partitions discovered and
    * typed below each — built directly rather than through `DataSource`,
    * whose path checks cost a thread pool per read and log `All paths
    * were ignored` for a list of `_`-prefixed directories.
    */
  def readDirs(spark: SparkSession, dirs: Seq[String]): DataFrame = {
    require(dirs.nonEmpty, "readDirs needs at least one directory")
    val schemas = dirs.map(of(spark, _))
    if (schemas.contains(None))
      spark.read.option("mergeSchema", "true").parquet(dirs: _*)
    else {
      val hadoopConf = spark.sessionState.newHadoopConf()
      val roots = dirs.map { d =>
        val p = new Path(d)
        p.getFileSystem(hadoopConf).makeQualified(p)
      }
      val schema = merged(spark, dirs.zip(schemas.flatten))
      val index = new InMemoryFileIndex(spark, roots, Map.empty, Some(schema))
      // DataSource's split: partition columns typed by the index, the
      // data schema the rest, every column nullable
      val parts = index.partitionSchema
      val resolver = spark.sessionState.conf.resolver
      val data = StructType(schema.filterNot(f =>
        parts.exists(p => resolver(p.name, f.name))))
      spark.baseRelationToDataFrame(HadoopFsRelation(index, parts,
        SchemaBridge.asNullable(data), None, new ParquetFileFormat,
        Map.empty)(spark))
    }
  }

  /** `schemas` folded in order under Spark's parquet merge; a column that
    * no merge reconciles fails the fold, naming it and its directory. */
  private def merged(spark: SparkSession, schemas: Seq[(String, StructType)])
      : StructType = {
    val caseSensitive = spark.sessionState.conf.caseSensitiveAnalysis
    def merge(a: StructType, b: StructType) =
      SchemaBridge.merge(a, b, caseSensitive)
    schemas.tail.foldLeft(schemas.head._2) { case (acc, (dir, schema)) =>
      try merge(acc, schema)
      catch {
        case NonFatal(e) =>
          val clashes = schema.fields
            .filter(f => Try(merge(acc, StructType(Seq(f)))).isFailure)
            .map(f => s"${f.name} (${f.dataType.simpleString} in $dir)")
          throw new IllegalArgumentException(
            "cannot read the directories as one relation: column(s) " +
              s"${clashes.mkString(", ")} re-typed against the directories " +
              s"before it: ${e.getMessage}", e)
      }
    }
  }

  /** The data schema (partition columns excluded) Spark would infer for
    * `path`, or None where only Spark's own inference can tell. */
  private[sources] def of(spark: SparkSession, path: String)
      : Option[StructType] = {
    val conf = spark.sessionState.conf
    if (conf.isParquetSchemaMergingEnabled) None
    else {
      val hadoopConf = spark.sessionState.newHadoopConf()
      val p = new Path(path)
      pick(p.getFileSystem(hadoopConf), p).flatMap { file =>
        try {
          val footer = ParquetFooterReader.readFooter(
            HadoopInputFile.fromStatus(file, hadoopConf), SKIP_ROW_GROUPS)
          Some(ParquetFileFormat.readSchemaFromFooter(
            new Footer(file.getPath, footer),
            new ParquetToSparkSchemaConverter(conf)))
        } catch { case NonFatal(_) => None }
      }
    }
  }

  /** The file whose footer Spark's inference reads: among the leaf files
    * sorted by path, `_common_metadata`, else `_metadata`, else the first
    * data file. */
  private def pick(fs: FileSystem, path: Path): Option[FileStatus] = {
    val root =
      try fs.getFileStatus(path)
      catch { case _: FileNotFoundException => return None }
    val files =
      (if (root.isDirectory) leafFiles(fs, root.getPath) else Seq(root))
        .sortBy(_.getPath.toString)
    def named(n: String) = files.find(_.getPath.getName == n)
    named(PARQUET_COMMON_METADATA_FILE)
      .orElse(named(PARQUET_METADATA_FILE))
      .orElse(files.find { f =>
        val n = f.getPath.getName
        n != PARQUET_COMMON_METADATA_FILE && n != PARQUET_METADATA_FILE
      })
  }

  /** A directory's files and, below it, the files of its hive partition
    * directories (`k=v`): the files Spark's file index offers inference. */
  private def leafFiles(fs: FileSystem, dir: Path): Seq[FileStatus] =
    fs.listStatus(dir).toSeq
      .filterNot(s => hidden(s.getPath.getName))
      .flatMap { s =>
        if (!s.isDirectory) Seq(s)
        else if (s.getPath.getName.contains("=")) leafFiles(fs, s.getPath)
        else Nil
      }

  /** Spark's rule for names its file index skips
    * (`HadoopFSUtils.shouldFilterOutPathName`): `_` and `.` prefixes and
    * in-flight copies, except hive `_k=v` directories and the parquet
    * summary files. */
  private def hidden(name: String): Boolean =
    ((name.startsWith("_") && !name.contains("=")) ||
      name.startsWith(".") || name.endsWith("._COPYING_")) &&
      !name.startsWith(PARQUET_COMMON_METADATA_FILE) &&
      !name.startsWith(PARQUET_METADATA_FILE)
}
