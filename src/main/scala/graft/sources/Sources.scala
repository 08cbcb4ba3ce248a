package graft.sources

import org.apache.spark.sql.{DataFrame, DataFrameReader, SparkSession}

/** Source/sink endpoint ADT — the compile-time restatement of the
  * reference's runtime connection dispatch (`pyopenetl/connections.py`:
  * `PostgresConnection` :42, `HerokuConnection` :92, `CloudSQLConnection`
  * :140, `BQConnection` :177, and the isinstance guards at
  * `operations.py:70-95, 307-309` / `pipelines.py:17-32`). A sealed trait
  * makes illegal reader/writer pairings unrepresentable instead of raising
  * `TypeError` at runtime (P0, `pipelines.py:29-32`).
  *
  * Each case maps to a `DataFrameReader` option bundle. JDBC bundles carry
  * the reference's streaming knobs: `fetchsize` ≙ the server-side cursor
  * (`stream_results`, connections.py:58,84), `partitionColumn/numPartitions`
  * ≙ chunked parallel scan (the 100k-row chunk loop at operations.py:39-51,
  * parallelized). Credentials come from a [[SecretProvider]] — the
  * Secret-Manager fetch (connections.py:23-39) abstracted to config.
  */
sealed trait Source {
  def read(spark: SparkSession): DataFrame
}

/** Parquet lake path — the harness's stand-in for warehouse tables. */
final case class ParquetSource(path: String) extends Source {
  def read(spark: SparkSession): DataFrame = ParquetSchema.read(spark, path)
}

/** Schema-inferred CSV (W10/W13 ingest shape). */
final case class CsvSource(paths: Seq[String], header: Boolean = true)
    extends Source {
  def read(spark: SparkSession): DataFrame =
    spark.read.option("header", header.toString)
      .option("inferSchema", "true").csv(paths: _*)
}

/** CSV member of a tar(.gz) archive as a [[Source]] — the in-engine
  * equivalent of extract-then-[[CsvSource]] (W13's untar step,
  * operations.py:654-660, parsed by [[TarGz]] instead of a driver-side
  * extractall). `entryName` selects one member; schema is inferred like
  * [[CsvSource]] (W10 parity). */
final case class TarCsvSource(tarPath: String, entryName: String,
                              header: Boolean = true) extends Source {
  def read(spark: SparkSession): DataFrame =
    TarGz.csvTable(spark, TarGz.entries(spark, tarPath), entryName, header)
}

/** JSON-lines source (events.props-style payloads as whole files). */
final case class JsonSource(path: String) extends Source {
  def read(spark: SparkSession): DataFrame = spark.read.json(path)
}

/** ORC lake path — the other columnar warehouse format Spark ships a
  * vectorized reader for; same pushdown/pruning contract as parquet, so
  * a reference user on an ORC-backed warehouse plugs in unchanged. */
final case class OrcSource(path: String) extends Source {
  def read(spark: SparkSession): DataFrame = spark.read.orc(path)
}

/** Avro landing path — the ROW-major interchange format (the
  * Kafka/schema-registry wire shape a streaming ingest lands in before
  * compaction to a columnar lake). Spark 4 bundles the Avro datasource
  * classes inside spark-sql but this distribution's services file does
  * not register the "avro" shortname, so the provider loads by class
  * name — the same `DataSource.lookupDataSource` path, no extra
  * dependency. Directory partition pruning still applies on read; row
  * formats carry no column statistics, so value predicates evaluate
  * post-scan (q274 documents both in its plan). */
final case class AvroSource(path: String) extends Source {
  def read(spark: SparkSession): DataFrame =
    spark.read.format(AvroSource.Provider).load(path)
}
object AvroSource {
  val Provider = "org.apache.spark.sql.avro.AvroFileFormat"
}

/** Whole-file binary source — the multimodal ingest edge: each matched
  * file becomes one row of (path, modificationTime, length, content),
  * feeding payloads straight into the `Multimodal` decode/resize/feature
  * path without any driver-side file walking. `pathGlobFilter` narrows by
  * extension; `maxBytes` fails loudly on files that would not fit an
  * executor task (a 100 GB stray video must be caught, not OOM a task):
  * the check runs as a metadata-only pre-scan — `content` is pruned from
  * the required schema, so no file byte is read to find offenders — and
  * the main scan never materializes an oversized row.
  */
final case class BinaryFileSource(
    path: String,
    globFilter: Option[String] = None,
    maxBytes: Long = 512L << 20) extends Source {
  def read(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.functions.col
    // ONE load() backs both the pre-scan and the returned frame: the
    // DataFrame caches its file index, so the directory is LISTed once —
    // on an object store LIST is the expensive call, and a second load()
    // would repeat it for every read
    val base = spark.read.format("binaryFile")
    val df = globFilter.fold(base)(g => base.option("pathGlobFilter", g))
      .load(path)
    val oversized = df.select("path", "length")
      .filter(col("length") > maxBytes).limit(3).collect()
    if (oversized.nonEmpty)
      throw new IllegalArgumentException(
        s"binary files exceed maxBytes=$maxBytes: " +
          oversized.map(r => s"${r.getString(0)} (${r.getLong(1)}B)")
            .mkString(", "))
    df
  }
}

/** JDBC endpoint ≙ PostgresConnection/CloudSQLConnection option bundles
  * (connections.py:42-174). `readReplica` mirrors the Heroku
  * follower-for-reads routing (connections.py:118-121).
  *
  * Executed path: JdbcRoundTripSpec drives this source against embedded
  * Derby (ships with Spark) — seed, partitioned read-back, and the
  * Derby-sourced upsert all run through a real JDBC connection; nothing
  * here is construction-only. A partitioned scan needs the full stride
  * spec (`partitionColumn` + `lowerBound`/`upperBound` + `numPartitions`
  * — Spark refuses a column without bounds), mirroring how the
  * reference's chunk loop needs a total row order to page through
  * (operations.py:39-51).
  */
final case class JdbcSource(
    url: String,
    table: String,
    user: String,
    secretName: String,
    secrets: SecretProvider,
    fetchSize: Int = 100000,           // ≙ stream_results server cursor
    partitionColumn: Option[String] = None,
    lowerBound: Option[Long] = None,
    upperBound: Option[Long] = None,
    numPartitions: Int = 32,
    readReplica: Option[String] = None) extends Source {

  def configure(spark: SparkSession): DataFrameReader = {
    val base = spark.read.format("jdbc")
      .option("url", readReplica.getOrElse(url))
      .option("dbtable", table)
      .option("user", user)
      .option("password", secrets.get(secretName))
      .option("fetchsize", fetchSize.toString)
    partitionColumn match {
      case Some(c) =>
        require(lowerBound.isDefined && upperBound.isDefined,
          "partitionColumn requires lowerBound and upperBound " +
            "(Spark's JDBC stride spec)")
        base.option("partitionColumn", c)
          .option("lowerBound", lowerBound.get.toString)
          .option("upperBound", upperBound.get.toString)
          .option("numPartitions", numPartitions.toString)
      case None => base
    }
  }

  def read(spark: SparkSession): DataFrame = configure(spark).load()
}

/** BigQuery endpoint ≙ BQConnection (connections.py:177-212): the reference
  * opens `bigquery://{project}` with `stream_results` toggling read-side
  * chunking. Spark's public spark-bigquery connector expresses the same
  * surface as a format bundle: `parentProject` ≙ the constructor's
  * `project`, the Storage Read API streams are the `stream_results=True`
  * path (always-on in the connector), `viewsEnabled` +
  * `materializationDataset` cover reading views (the client() seam).
  * Credentials resolve through [[SecretProvider]] like every connection —
  * never hard-coded.
  *
  * Offline contract: `configure` fully assembles the reader; `load()` only
  * works where the connector jar + a live endpoint exist (same harness rule
  * as [[JdbcSource]] — construction is tested, connectivity is not).
  */
final case class BigQuerySource(
    project: String,
    table: String,                       // "dataset.table"
    credentialsSecret: Option[String] = None,
    secrets: SecretProvider = MapSecretProvider(Map.empty),
    viewsEnabled: Boolean = false,
    materializationDataset: Option[String] = None) extends Source {

  def configure(spark: SparkSession): DataFrameReader = {
    val base = spark.read.format("bigquery")
      .option("parentProject", project)
      .option("table", table)
      .option("viewsEnabled", viewsEnabled.toString)
    val withMat = materializationDataset match {
      case Some(d) => base.option("materializationDataset", d)
      case None => base
    }
    credentialsSecret match {
      case Some(s) => withMat.option("credentials", secrets.get(s))
      case None => withMat
    }
  }

  def read(spark: SparkSession): DataFrame = configure(spark).load()
}

/** JDBC sink ≙ the reference's bulk append write (W2,
  * operations.py:130-212): `write_from_dataframe` COPYs CSV chunks into a
  * pre-existing table. `batchSize` ≙ the `chunksize` buffer,
  * `numPartitions` caps concurrent connections (the chunk loop,
  * parallelized), `truncate=false` + SaveMode.Append ≙ `if_exists="append"`
  * against an existing schema. `mode = Overwrite` is the seed shape (W5
  * create-table-from-df + W6 drop, operations.py:312-366: drop/recreate,
  * then load). Executed against embedded Derby in JdbcRoundTripSpec —
  * same contract as [[JdbcSource]].
  */
final case class JdbcSink(
    url: String,
    table: String,
    user: String,
    secretName: String,
    secrets: SecretProvider,
    batchSize: Int = 100000,             // ≙ COPY chunk size
    numPartitions: Int = 8,
    isolationLevel: String = "READ_COMMITTED",
    mode: org.apache.spark.sql.SaveMode = org.apache.spark.sql.SaveMode.Append) {

  def configure(df: DataFrame): org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row] =
    df.write.format("jdbc")
      .mode(mode)
      .option("url", url)
      .option("dbtable", table)
      .option("user", user)
      .option("password", secrets.get(secretName))
      .option("batchsize", batchSize.toString)
      .option("numPartitions", numPartitions.toString)
      .option("isolationLevel", isolationLevel)
      .option("truncate", "false")

  def write(df: DataFrame): Unit = configure(df).save()
}

/** Credential lookup seam (C1, connections.py:23-39): the engine never
  * hard-codes secrets; providers resolve them from config/env at run time.
  */
trait SecretProvider {
  def get(name: String): String
}

final case class EnvSecretProvider(prefix: String = "") extends SecretProvider {
  def get(name: String): String =
    sys.env.getOrElse(prefix + name,
      throw new IllegalArgumentException(s"secret not found: $prefix$name"))
}

final case class MapSecretProvider(m: Map[String, String]) extends SecretProvider {
  def get(name: String): String = m.getOrElse(name,
    throw new IllegalArgumentException(s"secret not found: $name"))
}

/** Versioned secret backend with the reference's latest-version
  * resolution (connections.py:23-39: `access_secret_version` on
  * `projects/{p}/secrets/{name}/versions/latest`): secrets carry
  * monotonically increasing integer versions, the default read resolves
  * `latest` = highest version, and pinned historical versions stay
  * readable (rotation never breaks an in-flight pipeline holding a pin).
  *
  * Layout: `<root>/<name>/<version>` files; payloads are UTF-8 bytes
  * returned verbatim (the payload IS the secret — no trimming). Any
  * secret-manager service maps onto this shape; the filesystem backend
  * makes the semantics executable offline.
  */
final case class FileSecretProvider(root: String) extends SecretProvider {
  import java.io.File
  import java.nio.charset.StandardCharsets.UTF_8
  import java.nio.file.Files

  /** `/versions/latest` read — the reference's default. */
  def get(name: String): String =
    getVersion(name, versions(name).maxOption.getOrElse(
      throw new IllegalArgumentException(s"secret not found: $name")))

  /** Pinned-version read (`/versions/<n>`). */
  def getVersion(name: String, version: Long): String = {
    val f = new File(new File(root, name), version.toString)
    if (!f.isFile)
      throw new IllegalArgumentException(
        s"secret not found: $name/versions/$version")
    new String(Files.readAllBytes(f.toPath), UTF_8)
  }

  /** Rotation: add a payload as the next version and return its number. */
  def addVersion(name: String, payload: String): Long = {
    val next = versions(name).maxOption.getOrElse(0L) + 1
    val d = new File(root, name)
    d.mkdirs()
    Files.write(new File(d, next.toString).toPath, payload.getBytes(UTF_8))
    next
  }

  private def versions(name: String): Seq[Long] =
    Option(new File(root, name).list()).toSeq.flatten
      .flatMap(_.toLongOption)
}
