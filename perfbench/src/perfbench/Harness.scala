package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Checkpoints, SparkEntry}
import graft.etl.{CsvIngest, Pipelines, Snapshot}
import graft.sources.{MapSecretProvider, ParquetSource}
import graft.streaming.StreamingOps

/** The JVM side of the benchmark: one workload, one client, closed loop.
  *
  *   Harness <workload> <inputDir> <seconds> <trace 0|1> <cores> <out.json>
  *
  * Inputs come from `perfbench/gen.py` (`<inputDir>/manifest.json` and the
  * files beside it); this side only runs the program under test and
  * records what it saw. Every op is a call into a public function of the
  * repo (SparkEntry.queries, Pipelines.*, Snapshot.*, StreamingOps.*,
  * CsvIngest.*), timed from outside. Checking the answers against the
  * generator's expected state happens in `perfbench/run.py`.
  *
  * In a traced run (trace=1) every op records spans and the listeners'
  * counters; its cycle times against an untraced run's are the tracing
  * overhead.
  */
object Harness {

  /** A workload after its set-up: one cycle of ops, the cycle counts it
    * needs and allows, and the end-of-run observations. */
  final case class Workload(cycle: () => Unit, minCycles: Int = 1,
                            maxCycles: Int = Int.MaxValue,
                            finish: () => Unit = () => ())

  /** One timed call; `detail` is a JSON value the check reads (or null). */
  final case class Op(kind: String, name: String, cycle: Int, seconds: Double,
                      ok: Boolean, detail: String = "null")

  final class Run(val spark: SparkSession, val tracer: Tracer,
                  val traceRun: Boolean) {
    val ops = mutable.ArrayBuffer.empty[Op]
    val cycles = mutable.ArrayBuffer.empty[Double]
    val observations = mutable.ArrayBuffer.empty[(String, String)]
    val errors = mutable.ArrayBuffer.empty[String]

    def observe(key: String, json: String): Unit = observations += (key -> json)

    /** Time one op; a throw is a failed op, recorded and not rethrown. */
    def op[T](kind: String, name: String, span: String)(body: => T): Option[T] =
      timed(kind, name, span, (_: T) => "null")(body)

    /** An op whose result is the JSON its check reads. */
    def checkedOp(kind: String, name: String, span: String)(body: => String)
        : Option[String] =
      timed(kind, name, span, (r: String) => r)(body)

    private def timed[T](kind: String, name: String, span: String,
                         detail: T => String)(body: => T): Option[T] = {
      val t0 = System.nanoTime()
      try {
        val r = tracer.span(span)(body)
        ops += Op(kind, name, tracer.cycle, (System.nanoTime() - t0) / 1e9,
          ok = true, detail(r))
        Some(r)
      } catch {
        case e: Throwable if scala.util.control.NonFatal(e) =>
          ops += Op(kind, name, tracer.cycle, (System.nanoTime() - t0) / 1e9,
            ok = false)
          errors += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}"
          None
      }
    }

    /** Closed loop: whole cycles until `seconds` have passed (at least
      * `minCycles`, at most `maxCycles`). */
    def loop(seconds: Double, minCycles: Int, maxCycles: Int)(cycle: () => Unit)
        : Unit = {
      val start = System.nanoTime()
      var i = 0
      def elapsed = (System.nanoTime() - start) / 1e9
      while (i < maxCycles && (i < minCycles || elapsed < seconds)) {
        i += 1
        tracer.cycle = i
        val t0 = System.nanoTime()
        cycle()
        cycles += (System.nanoTime() - t0) / 1e9
      }
    }
  }

  def session(cores: Int, localDir: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .withExtensions(new graft.functions.GraftExtensions)
      // the same plan-shaping settings graft.Bench runs the suite with
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "8k")
      .config("spark.io.compression.codec", "lz4")
      .config("spark.local.dir", localDir)
      .config("spark.hadoop.hadoop.tmp.dir", s"$localDir/hadoop")
      .config("spark.sql.warehouse.dir", s"$localDir/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$localDir/streaming")
      .getOrCreate()

  def main(args: Array[String]): Unit = {
    val Array(workload, inputDir, secondsArg, traceArg, coresArg, outPath) = args
    val seconds = secondsArg.toDouble
    val cores = coresArg.toInt
    val localDir = s"$inputDir/spark-local"
    Files.createDirectories(Paths.get(localDir))
    val manifest = org.json4s.jackson.JsonMethods.parse(
      Files.readString(Paths.get(s"$inputDir/manifest.json")))
    // set-up is measured several times: start a session and run a first
    // job, stop it; the last session is the one the workload runs on
    val starts = (1 to 3).map { i =>
      val t0 = System.nanoTime()
      val s = session(cores, localDir)
      s.sparkContext.setLogLevel("ERROR")
      s.range(1000).selectExpr("sum(id)").collect()
      val dt = (System.nanoTime() - t0) / 1e9
      if (i < 3) s.stop()
      dt
    }
    val spark = SparkSession.active
    val tracer = new Tracer(spark.sparkContext)
    val traceRun = traceArg == "1"
    val recorder = new Recorder(tracer)
    if (traceRun) recorder.register(spark)
    val run = new Run(spark, tracer, traceRun)
    val w0 = System.nanoTime()
    val w: Workload = workload match {
      case "query_mix"       => QueryMix(run, inputDir, manifest)
      case "etl_update"      => EtlUpdate(run, inputDir, manifest)
      case "ingest_flatfile" => IngestFlatfile(run, inputDir, manifest)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val warmup = (System.nanoTime() - w0) / 1e9
    run.ops.clear() // warm-up ops are set-up, not samples; errors stay
    val t0 = System.nanoTime()
    tracer.enabled = traceRun
    run.loop(seconds, w.minCycles, w.maxCycles)(w.cycle)
    tracer.enabled = false
    val measured = (System.nanoTime() - t0) / 1e9
    w.finish()
    org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
    import Json._
    val out = obj(Seq(
      "session_start_s" -> arr(starts.map(num)),
      "warmup_s" -> num(warmup),
      "measured_s" -> num(measured),
      "cycles" -> arr(run.cycles.map(num)),
      "ops" -> arr(run.ops.map(o => obj(Seq("kind" -> str(o.kind),
        "name" -> str(o.name), "cycle" -> o.cycle.toString,
        "s" -> num(o.seconds), "ok" -> o.ok.toString,
        "detail" -> o.detail)))),
      "observations" -> obj(run.observations),
      "errors" -> arr(run.errors.map(str)),
      "trace" -> (if (traceRun) recorder.json() else "null")))
    Files.writeString(Paths.get(outPath), out)
    spark.stop()
  }

  // ----------------------------------------------------------- helpers

  def jsonStrings(m: org.json4s.JValue, key: String): Seq[String] = {
    import org.json4s._
    (m \ key) match {
      case JArray(xs) => xs.collect { case JString(s) => s }
      case _ => Nil
    }
  }

  def jsonInt(m: org.json4s.JValue, key: String): Long = {
    import org.json4s._
    (m \ key) match {
      case JInt(v) => v.toLong
      case JLong(v) => v
      case other => throw new IllegalArgumentException(s"manifest $key: $other")
    }
  }

  /** Order-independent fingerprint of a result, computed by the engine
    * alongside the run itself (`Dataset.observe`): the row count and, per
    * column (lower-cased name), nulls plus a type-wise summary: numeric
    * and time values as double sums (`sum`, and `abs` for the tolerance
    * scale), strings as CRC-32 and UTF-8 length sums, booleans as a true
    * count, arrays as element counts and numeric element sums.
    * `perfbench/stats.py` computes the same summary from any engine's
    * rows, which is how the recorded answers are held against DuckDB. */
  def fingerprintAggs(schema: StructType): Seq[org.apache.spark.sql.Column] = {
    def num(c: org.apache.spark.sql.Column, n: String) =
      Seq(sum(c.cast(DoubleType)).as(s"$n|sum"), sum(abs(c.cast(DoubleType))).as(s"$n|abs"))
    count(lit(1)).as("rows") +: schema.fields.toSeq.flatMap { f =>
      val c = col(s"`${f.name}`")
      val n = f.name.toLowerCase
      count(when(c.isNull, 1)).as(s"$n|nulls") +: (f.dataType match {
        case _: NumericType => num(c, n)
        case TimestampType | TimestampNTZType => num(unix_micros(c.cast(TimestampType)), n)
        case DateType => num(unix_date(c), n)
        case BooleanType => Seq(count(when(c, 1)).as(s"$n|true"))
        case StringType => Seq(sum(crc32(c.cast(BinaryType))).as(s"$n|crc"),
          sum(octet_length(c)).as(s"$n|chars"))
        case ArrayType(et, _) =>
          sum(size(c)).as(s"$n|items") +: (et match {
            case _: NumericType => num(aggregate(c, lit(0.0),
              (a, x) => a + coalesce(x.cast(DoubleType), lit(0.0))), n)
            case _ => Nil
          })
        case _ => Nil
      })
    }
  }

  /** Run `df` through the noop sink with its fingerprint observed; returns
    * the fingerprint as JSON. */
  def noopWithFingerprint(df: DataFrame): String = {
    val obs = org.apache.spark.sql.Observation()
    val aggs = fingerprintAggs(df.schema)
    df.observe(obs, aggs.head, aggs.tail: _*)
      .write.format("noop").mode("overwrite").save()
    Json.obj(obs.get.toSeq.sortBy(_._1).map { case (k, v) =>
      k -> (v match {
        case null => "null"
        case d: Double => Json.num(d)
        case x => x.toString
      })
    })
  }

  def duSize(root: Path): Long =
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def deleteTree(root: Path): Unit =
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.iterator.asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }
}

/** query_mix: the frozen query list (see perfbench/spec.json) over the
  * generated fixture through the noop sink, in the seed's order, each
  * query a batch job that waits for its result. Set-up primes the engine
  * with the reference rows only; the measured pass then runs every other
  * query for the first time in the session, its codegen included, as a
  * fresh batch job would. The short reference rows run `RefPasses` times
  * in the pass, so their per-query median is not one sample's noise.
  * Every timed execution carries its result's fingerprint for the check. */
object QueryMix {
  import Harness._

  val RefPasses = 3

  /** The query module each declared query belongs to. */
  private val moduleOf: Map[String, String] = Seq(
    graft.etl.EtlQueries, graft.ops.RelationalQueries, graft.ops.ScalarQueries,
    graft.ops.EventQueries, graft.ops.GraphQueries, graft.llm.TextQueries,
    graft.llm.CorpusQueries, graft.llm.DedupQueries,
    graft.llm.QualityClassifier, graft.llm.ZipfContracts,
    graft.llm.SimilarityQueries, graft.llm.Multimodal)
    .flatMap { m =>
      val name = m.getClass.getName.stripPrefix("graft.").stripSuffix("$")
      m.queries.keys.map(_ -> name)
    }.toMap

  def apply(run: Run, inputDir: String, manifest: org.json4s.JValue): Workload = {
    val spark = run.spark
    val fixture = s"$inputDir/fixture"
    val order = jsonStrings(manifest, "query_order")
    val groups = (manifest \ "query_groups").values
      .asInstanceOf[Map[String, List[String]]]
    val kindOf = groups.toSeq.flatMap { case (g, qs) => qs.map(_ -> g) }.toMap
    val all = SparkEntry.queries
    // the oracle SQL of the listed rows, for perfbench/record_expected.py
    Files.writeString(Paths.get(s"$inputDir/oracle_sql.json"), Json.obj(
      order.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> Json.str(_)))))
    // primer: the reference rows once, in a fixed order, so the engine's
    // shared JIT warm-up is paid in set-up, not by whichever query the
    // seed puts first
    groups("ref").foreach { q =>
      Checkpoints.freeingAfter(spark)(noopWithFingerprint(all(q)(spark, fixture)))
    }
    val ref = order.filter(kindOf(_) == "ref")
    val pass = order ++ Seq.fill(RefPasses - 1)(ref).flatten
    Workload(cycle = () => pass.foreach { q =>
      val module = moduleOf.getOrElse(q, "unknown")
      run.checkedOp(kindOf(q), q, "checkpoints.freeingAfter") {
        Checkpoints.freeingAfter(spark) {
          run.tracer.span(s"queries.$module.$q") {
            noopWithFingerprint(all(q)(spark, fixture))
          }
        }
      }
    })
  }
}

/** etl_update: one cycle is one hour of the reference's UpdatePipeline
  * (U), the streaming upsert of that hour's changes (D) and a read of D. */
object EtlUpdate {
  import Harness._

  private val HourUs = 3600L * 1000000L

  def apply(run: Run, inputDir: String, manifest: org.json4s.JValue): Workload = {
    val spark = run.spark
    val hours = jsonInt(manifest, "hours").toInt
    val t0us = jsonInt(manifest, "t0_us")
    val etl = s"$inputDir/etl"
    def src(h: Int) = f"$etl/src/v$h%03d"
    def change(h: Int) = Paths.get(f"$etl/changes/h$h%03d.parquet")
    val schema = spark.read.parquet(change(1).toString).schema
    val u = s"$etl/dest/U"
    val d = s"$etl/dest/D"
    val stream = Paths.get(s"$etl/dest/stream")
    val checkpoint = s"$etl/dest/checkpoint"

    def answerOf(df: DataFrame): String = {
      val r = df.agg(count(lit(1)), sum(col("event_id")), sum(col("user_id")),
        sum(round(col("value") * 100).cast("long")),
        sum(unix_seconds(col("ts")))).collect()(0)
      Json.arr((0 until 5).map(i => if (r.isNullAt(i)) "null" else r.getLong(i).toString))
    }

    def hour(h: Int): Unit = {
      val asOf = expr(s"timestamp_micros(${t0us + h * HourUs}L)")
      run.op("update", "update", "etl.updatePipeline") {
        Pipelines.updatePipeline(spark, ParquetSource(src(h)), u,
          "event_id", "ts", asOf, lookbackHours = 1)
      }
      Files.copy(change(h), stream.resolve(change(h).getFileName),
        StandardCopyOption.REPLACE_EXISTING)
      run.op("stream_upsert", "stream_upsert", "streaming.upsertSink") {
        StreamingOps.upsertSink(spark.readStream.schema(schema).parquet(stream.toString),
          d, "event_id", "ts")
          .option("checkpointLocation", checkpoint).start()
          .awaitTermination()
      }
      val depth = Snapshot.currentDeltaCount(spark, d)
      val got = run.op("read", "read", "etl.Snapshot.read")(answerOf(Snapshot.read(spark, d)))
      run.observe(s"read_$h", Json.obj(Seq("cycle" -> run.tracer.cycle.toString,
        "depth" -> depth.toString, "answer" -> got.getOrElse("null"))))
    }

    // set-up: both roots hold the base version; hour 1 warms up, the
    // other hours are measured
    Pipelines.seedPipeline(spark, ParquetSource(src(0)), u)
    Snapshot.commit(spark.read.parquet(src(0)), d)
    Files.createDirectories(stream)
    var h = 1
    hour(h)
    // the measured hours are fixed (the generator sizes them from the run
    // length), so every run of a commit walks the same stack depths
    Workload(
      cycle = () => { h += 1; hour(h) },
      minCycles = hours - h, maxCycles = hours - h,
      finish = () => {
        // space amplification (traced runs): what the two protocol roots
        // hold on disk against the final tables written once as plain parquet
        val (onDisk, once) = if (!run.traceRun) (0L, 0L) else {
          val plain = s"$etl/dest/plain"
          Snapshot.read(spark, u).write.mode("overwrite").parquet(s"$plain/U")
          Snapshot.read(spark, d).write.mode("overwrite").parquet(s"$plain/D")
          val sizes = (duSize(Paths.get(u)) + duSize(Paths.get(d)),
            duSize(Paths.get(s"$plain/U")) + duSize(Paths.get(s"$plain/D")))
          deleteTree(Paths.get(plain))
          sizes
        }
        run.observe("final", Json.obj(Seq("hour" -> h.toString,
          "cycle" -> run.tracer.cycle.toString,
          "u_answer" -> answerOf(Snapshot.read(spark, u)),
          "disk_bytes" -> onDisk.toString, "plain_bytes" -> once.toString)))
      })
  }
}

/** ingest_flatfile: one cycle loads the tar.gz export through the
  * Crunchbase pipeline, reads the dirty CSV drops with quarantine, and
  * seeds a table from parquet. Each load's committed shape is recorded
  * for the check. */
object IngestFlatfile {
  import Harness._

  def apply(run: Run, inputDir: String, manifest: org.json4s.JValue): Workload = {
    val spark = run.spark
    val ing = s"$inputDir/ingest"
    val served = s"$ing/served/bulk_export.tar.gz"
    val secret = (manifest \ "secret_name").values.toString
    val ddl = (manifest \ "csv_ddl").values.toString
    val drops = {
      val s = Files.list(Paths.get(s"$ing/drops"))
      try s.iterator.asScala.map(_.toString).toSeq.sorted finally s.close()
    }
    val tables = (manifest \ "expected_tables").values
      .asInstanceOf[Map[String, Map[String, Any]]]

    def cycle(tag: String, record: Boolean): Unit = {
      val dest = s"$ing/dest/$tag"
      val loaded = run.op("flatfile", "flatfile", "etl.crunchbasePipeline") {
        Pipelines.crunchbasePipeline(spark, s"file://$served",
          MapSecretProvider(Map(secret -> "perfbench")), secret,
          s"$ing/work/$tag", s"$dest/cb", tables.keys.toSeq.sorted)
      }
      val csv = run.op("csv", "csv", "etl.readCsvQuarantined") {
        val q = CsvIngest.readCsvQuarantined(spark, ddl, drops: _*)
        try (q.clean.count(), q.quarantined.count()) finally q.release()
      }
      val seeded = run.op("seed", "seed", "etl.seedPipeline") {
        Pipelines.seedPipeline(spark, ParquetSource(s"$ing/lake/lineitem.parquet"),
          s"$dest/seed")
      }
      if (record) {
        val flat = loaded.fold("null") { m =>
          Json.obj(m.toSeq.sortBy(_._1).map { case (t, df) =>
            val nullCols = tables.get(t).toSeq
              .flatMap(_.getOrElse("nulls", Map.empty).asInstanceOf[Map[String, Any]].keys)
              .filter(df.columns.contains).sorted
            val aggs = count(lit(1)) +: nullCols.map(c => count(when(col(c).isNull, 1)))
            val r = df.agg(aggs.head, aggs.tail: _*).collect()(0)
            t -> Json.obj(Seq(
              "rows" -> r.getLong(0).toString,
              "schema" -> Json.arr(df.schema.fields.toSeq.map(f =>
                Json.arr(Seq(Json.str(f.name), Json.str(f.dataType.simpleString))))),
              "nulls" -> Json.obj(nullCols.zipWithIndex.map { case (c, i) =>
                c -> r.getLong(i + 1).toString })))
          })
        }
        run.observe(s"cycle_${run.tracer.cycle}", Json.obj(Seq(
          "flatfile" -> flat,
          "csv" -> csv.fold("null") { case (c, q) => Json.arr(Seq(c.toString, q.toString)) },
          "seed_rows" -> seeded.fold("null")(_.count().toString))))
      }
    }

    cycle("warmup", record = false)
    deleteTree(Paths.get(s"$ing/dest/warmup"))
    Workload(cycle = () => cycle("main", record = true))
  }
}
