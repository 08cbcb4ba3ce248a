package graft.etl

import graft.{Tables, TestSpark}
import graft.sources._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The three reference pipelines (pipelines.py) as orchestration functions,
  * plus the source-ADT seams.
  */
class PipelinesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("seed pipeline snapshots a parquet source") {
    val dst = s"/tmp/graft-test-pipe-seed-${System.nanoTime()}"
    val out = Pipelines.seedPipeline(spark,
      ParquetSource(s"${TestSpark.Sf}/region.parquet"), dst)
    assert(out.count() == 5)
  }

  test("update pipeline applies delta and reconciles deletions in place") {
    val dst = s"/tmp/graft-test-pipe-upd-${System.nanoTime()}"
    val ev = Tables.t(spark, TestSpark.Sf, "events")
    // destination = old snapshot (events before the 20th)
    ev.filter(col("ts") < expr("TIMESTAMP '2024-01-20 00:00:00'"))
      .write.parquet(dst)
    // source lost all event_id % 10 == 0 rows
    val srcPath = s"/tmp/graft-test-pipe-src-${System.nanoTime()}"
    ev.filter(col("event_id") % 10 =!= 0).write.parquet(srcPath)
    val out = Pipelines.updatePipeline(spark, ParquetSource(srcPath), dst,
      "event_id", "ts", expr("TIMESTAMP '2024-01-20 00:00:00'"), 48)
    // matches the oracle-checked q04 kernel on the same inputs
    val expected = graft.SparkEntry.queries("q04_upsert_kernel")(spark, TestSpark.Sf)
    assert(out.count() == expected.count())
    assert(out.filter(col("event_id") % 10 === 0).count() == 0)
  }

  test("flatfile pipeline loads multiple CSV tables") {
    val root = s"/tmp/graft-test-pipe-flat-${System.nanoTime()}"
    val csvN = s"$root-csv-nation"
    val csvR = s"$root-csv-region"
    Tables.t(spark, TestSpark.Sf, "nation")
      .write.option("header", "true").csv(csvN)
    Tables.t(spark, TestSpark.Sf, "region")
      .write.option("header", "true").csv(csvR)
    val out = Pipelines.flatfilePipeline(spark,
      Map("cb_nation" -> Seq(csvN), "cb_region" -> Seq(csvR)), root)
    assert(out("cb_nation").count() == 25)
    assert(out("cb_region").count() == 5)
  }

  /** Build a real .tar.gz the way `tarfile` would — ustar headers, octal
    * size, 512-byte blocks, two zero blocks at the end — so the parser is
    * exercised against the actual wire format, not a mock. */
  private def writeTarGz(path: String, members: Seq[(String, String)]): Unit = {
    val out = new java.util.zip.GZIPOutputStream(
      new java.io.FileOutputStream(path))
    def block(bytes: Array[Byte]): Array[Byte] =
      java.util.Arrays.copyOf(bytes, ((bytes.length + 511) / 512) * 512)
    members.foreach { case (name, text) =>
      val data = text.getBytes("UTF-8")
      val h = new Array[Byte](512)
      def put(off: Int, s: String): Unit =
        System.arraycopy(s.getBytes("UTF-8"), 0, h, off, s.length)
      put(0, name)
      put(100, "0000644 "); put(108, "0000000 "); put(116, "0000000 ")
      put(124, f"${data.length}%011o ")   // size, octal
      put(136, "00000000000 ")            // mtime
      java.util.Arrays.fill(h, 148, 156, ' '.toByte) // checksum blanks
      h(156) = '0'                             // regular file
      put(257, "ustar "); put(263, "00")  // magic + version
      val cksum = h.map(b => b & 0xff).sum
      put(148, f"$cksum%06o  ")
      out.write(h); out.write(block(data))
    }
    out.write(new Array[Byte](1024)) // end-of-archive
    out.close()
  }

  test("tar.gz flatfile pipeline ingests targeted members in-engine (W13)") {
    val root = s"/tmp/graft-test-pipe-tar-${System.nanoTime()}"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
    val tar = s"$root/bulk_export.tar.gz"
    writeTarGz(tar, Seq(
      "organizations.csv" -> "org_id,name\n1,acme\n2,globex\n3,initech\n",
      "ipos.csv"          -> "ipo_id,org_id,amount\n10,1,5.5\n11,3,2.25\n",
      "skipped.csv"       -> "a,b\n1,2\n"))   // present but not targeted
    val out = Pipelines.flatfilePipelineFromTar(spark, tar,
      Seq("cb_organizations", "cb_ipos"), root)
    assert(out.keySet == Set("cb_organizations", "cb_ipos"))
    assert(out("cb_organizations").count() == 3)
    // header-driven schema + TypeNormalizer ran: numeric column is numeric
    val ipos = Snapshot.read(spark, s"$root/cb_ipos")
    assert(ipos.count() == 2)
    assert(ipos.schema("amount").dataType !=
      org.apache.spark.sql.types.StringType)
    assert(ipos.filter(col("org_id") === 3).select("amount")
      .collect()(0).get(0).toString.toDouble == 2.25)
  }

  test("crunchbase pipeline end-to-end: fetch (file://) -> untar -> tables") {
    val root = s"/tmp/graft-test-pipe-cb-${System.nanoTime()}"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
    val export = s"$root/served/bulk_export.tar.gz"
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$root/served"))
    writeTarGz(export, Seq(
      "organizations.csv" -> "org_id,name\n1,acme\n2,globex\n",
      "funding_rounds.csv" -> "round_id,org_id,usd\n5,1,9.75\n"))
    // file:// exercises the whole path except the TLS socket; the auth
    // param resolves through the SecretProvider seam exactly as https
    // would (file URLs ignore the query string, which is the point —
    // the secret must never be needed to make the offline path work)
    val out = Pipelines.crunchbasePipeline(spark,
      s"file://$export",
      MapSecretProvider(Map("crunchbase-api-key" -> "k")),
      "crunchbase-api-key", s"$root/work", root,
      Seq("cb_organizations", "cb_funding_rounds"))
    assert(out.keySet == Set("cb_organizations", "cb_funding_rounds"))
    assert(out("cb_organizations").count() == 2)
    assert(out("cb_funding_rounds").count() == 1)
    // query-param assembly is deterministic and encoded
    assert(Fetch.withQuery("https://x/y", Map("b" -> "2 3", "a" -> "1")) ==
      "https://x/y?a=1&b=2+3")
  }

  test("tar parser streams members lazily and handles >1-block payloads") {
    val root = s"/tmp/graft-test-tar-parse-${System.nanoTime()}"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
    val big = (1 to 200).map(i => s"$i,row$i").mkString("h1,h2\n", "\n", "\n")
    writeTarGz(s"$root/multi.tar.gz", Seq(
      "big.csv" -> big, "tiny.csv" -> "x\n1\n"))
    val entries = TarGz.entries(spark, s"$root/multi.tar.gz")
    assert(entries.count() == 2)
    val got = entries.orderBy(col("entry_name")).collect()
    assert(got.map(_.getString(1)).sameElements(Array("big.csv", "tiny.csv")))
    assert(new String(got(0).getAs[Array[Byte]]("content"), "UTF-8") == big)
    // and the Source front door parses one member directly
    val df = TarCsvSource(s"$root/multi.tar.gz", "big.csv").read(spark)
    assert(df.count() == 200)
  }

  test("tar parser round-trips arbitrary member sets (names, sizes, bytes)") {
    // deterministic generator sweep: member counts 0..6, sizes straddling
    // the 512-byte block boundary (0, 1, 511, 512, 513, multi-block),
    // names with dirs-like slashes — every member must come back with
    // exactly its bytes, in order
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val memberGen = for {
      name <- Gen.oneOf(Gen.stringOfN(6, Gen.alphaChar),
        Gen.stringOfN(3, Gen.alphaChar).map(s => s"dir/$s.csv"))
      size <- Gen.oneOf(0, 1, 100, 511, 512, 513, 1500)
      seed <- Gen.choose(0, 255)
    } yield (name, Array.tabulate(size)(i => ((i * 31 + seed) % 256).toByte))
    val setGen = Gen.choose(0, 6).flatMap(n => Gen.listOfN(n, memberGen))
      .map(ms => ms.zipWithIndex.map { case ((n, b), i) => (s"$i-$n", b) })
    val root = s"/tmp/graft-test-tar-prop-${System.nanoTime()}"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
    (0 until 10).foreach { i =>
      val members = setGen.apply(Gen.Parameters.default, Seed(i.toLong)).get
      val tar = s"$root/t$i.tar.gz"
      val out = new java.util.zip.GZIPOutputStream(
        new java.io.FileOutputStream(tar))
      members.foreach { case (name, data) =>
        val h = new Array[Byte](512)
        def put(off: Int, s: String): Unit =
          System.arraycopy(s.getBytes("UTF-8"), 0, h, off, s.length)
        put(0, name); put(100, "0000644 "); put(108, "0000000 ")
        put(116, "0000000 "); put(124, f"${data.length}%011o ")
        put(136, "00000000000 ")
        java.util.Arrays.fill(h, 148, 156, ' '.toByte)
        h(156) = '0'; put(257, "ustar "); put(263, "00")
        put(148, f"${h.map(b => b & 0xff).sum}%06o  ")
        out.write(h)
        out.write(java.util.Arrays.copyOf(data,
          ((data.length + 511) / 512) * 512))
      }
      out.write(new Array[Byte](1024)); out.close()
      val got = TarGz.entries(spark, tar)
        .collect().map(r =>
          (r.getString(1), r.getAs[Array[Byte]]("content"))).toMap
      assert(got.keySet == members.map(_._1).toSet)
      members.foreach { case (name, data) =>
        assert(java.util.Arrays.equals(got(name), data),
          s"member $name bytes differ (case $i)")
      }
    }
  }

  test("tar parser handles GNU long names and multi-archive globs") {
    val root = s"/tmp/graft-test-tar-gnu-${System.nanoTime()}"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
    // archive 1: a >100-char member name via the GNU 'L' extension (an
    // 'L' pseudo-entry carries the real name as its data)
    val longName = ("very/" * 25) + "deep.csv" // 133 chars
    val out = new java.util.zip.GZIPOutputStream(
      new java.io.FileOutputStream(s"$root/a.tar.gz"))
    def header(name: String, size: Int, typ: Byte): Array[Byte] = {
      val h = new Array[Byte](512)
      def put(off: Int, s: String): Unit =
        System.arraycopy(s.getBytes("UTF-8"), 0, h, off, s.length)
      put(0, name.take(100)); put(100, "0000644 "); put(108, "0000000 ")
      put(116, "0000000 "); put(124, f"$size%011o "); put(136, "00000000000 ")
      java.util.Arrays.fill(h, 148, 156, ' '.toByte)
      h(156) = typ; put(257, "ustar "); put(263, "00")
      put(148, f"${h.map(b => b & 0xff).sum}%06o  ")
      h
    }
    def block(b: Array[Byte]) =
      java.util.Arrays.copyOf(b, ((b.length + 511) / 512) * 512)
    val nameBytes = longName.getBytes("UTF-8")
    out.write(header("././@LongLink", nameBytes.length, 'L'))
    out.write(block(nameBytes))
    val data = "h\n1\n".getBytes("UTF-8")
    out.write(header("ignored-short-name", data.length, '0'))
    out.write(block(data))
    out.write(new Array[Byte](1024)); out.close()
    // archive 2: a plain member, to prove the glob fans out per-archive
    writeTarGz(s"$root/b.tar.gz", Seq("plain.csv" -> "h\n2\n"))

    val all = TarGz.entries(spark, s"$root/*.tar.gz")
    assert(all.count() == 2)
    val names = all.select("entry_name").collect().map(_.getString(0)).toSet
    assert(names == Set(longName, "plain.csv"))
  }

  test("tar CSV split is quote-aware: embedded newlines survive to the parser") {
    // RFC-4180 quoted fields with embedded newlines (Crunchbase description
    // columns) must arrive as one record, not torn rows
    val csv = "org_id,name,description\n" +
      "1,acme,\"line one\nline two\"\n" +
      "2,globex,\"has \"\"quotes\"\" and\na break\"\n" +
      "3,initech,plain\n"
    val recs = TarGz.splitCsvRecords(csv).toList
    assert(recs == List(
      "org_id,name,description",
      "1,acme,\"line one\nline two\"",
      "2,globex,\"has \"\"quotes\"\" and\na break\"",
      "3,initech,plain"))
    // and end-to-end through the tar pipeline: 3 data rows, newline intact
    val root = s"/tmp/graft-test-tar-quote-${System.nanoTime()}"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
    writeTarGz(s"$root/q.tar.gz", Seq("organizations.csv" -> csv))
    val out = Pipelines.flatfilePipelineFromTar(spark, s"$root/q.tar.gz",
      Seq("cb_organizations"), root)
    assert(out("cb_organizations").count() == 3)
    val desc = out("cb_organizations")
      .filter(col("org_id") === 1).select("description")
      .collect()(0).getString(0)
    assert(desc == "line one\nline two")
    // CRLF terminators split identically
    assert(TarGz.splitCsvRecords("a,b\r\n1,\"x\r\ny\"\r\n").toList ==
      List("a,b", "1,\"x\r\ny\""))
  }

  test("tar parser honors pax 'x' extended headers (path= long names)") {
    // Python tarfile writes PAX by default (3.8+): a >100-char name arrives
    // as an 'x' pseudo-entry whose data holds "len path=<name>\n", and the
    // following regular entry carries only the truncated raw name
    val root = s"/tmp/graft-test-tar-pax-${System.nanoTime()}"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
    val longName = ("pax-dir/" * 16) + "organizations.csv" // 145 chars
    def paxRecord(key: String, value: String): Array[Byte] = {
      // length field counts the whole record including itself + newline
      val body = s" $key=$value\n"
      var len = body.length + 1
      while ((len.toString.length + body.length) != len)
        len = len.toString.length + body.length
      s"$len$body".getBytes("UTF-8")
    }
    def header(name: String, size: Int, typ: Byte): Array[Byte] = {
      val h = new Array[Byte](512)
      def put(off: Int, s: String): Unit =
        System.arraycopy(s.getBytes("UTF-8"), 0, h, off, s.length)
      put(0, name.take(100)); put(100, "0000644 "); put(108, "0000000 ")
      put(116, "0000000 "); put(124, f"$size%011o "); put(136, "00000000000 ")
      java.util.Arrays.fill(h, 148, 156, ' '.toByte)
      h(156) = typ; put(257, "ustar "); put(263, "00")
      put(148, f"${h.map(b => b & 0xff).sum}%06o  ")
      h
    }
    def block(b: Array[Byte]) =
      java.util.Arrays.copyOf(b, ((b.length + 511) / 512) * 512)
    val data = "org_id,name\n7,paxco\n".getBytes("UTF-8")
    val pax = paxRecord("path", longName) ++ paxRecord("size",
      data.length.toString)
    val out = new java.util.zip.GZIPOutputStream(
      new java.io.FileOutputStream(s"$root/pax.tar.gz"))
    out.write(header("PaxHeaders.0/organizations.csv", pax.length, 'x'))
    out.write(block(pax))
    out.write(header(longName.take(100), data.length, '0'.toByte))
    out.write(block(data))
    out.write(new Array[Byte](1024)); out.close()

    val entries = TarGz.entries(spark, s"$root/pax.tar.gz")
    val names = entries.select("entry_name").collect().map(_.getString(0))
    assert(names.sameElements(Array(longName)), "pax path= must win")
    // and the full pipeline matches on the pax-restored basename
    val tables = Pipelines.flatfilePipelineFromTar(spark,
      s"$root/pax.tar.gz", Seq("cb_organizations"), root)
    assert(tables("cb_organizations").count() == 1)
  }

  test("tar parser: plain .tar passes through; truncation fails loudly") {
    val root = s"/tmp/graft-test-tar-edge-${System.nanoTime()}"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
    // plain (uncompressed) tar: same bytes as writeTarGz minus the gzip
    val gz = s"$root/a.tar.gz"
    writeTarGz(gz, Seq("m.csv" -> "x\n7\n"))
    val plainBytes = {
      val in = new java.util.zip.GZIPInputStream(
        new java.io.FileInputStream(gz))
      try in.readAllBytes() finally in.close()
    }
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$root/a.tar"), plainBytes)
    assert(TarGz.entries(spark, s"$root/a.tar").count() == 1)
    assert(TarCsvSource(s"$root/a.tar", "m.csv").read(spark).count() == 1)
    // truncated mid-member: a silent partial ingest would be data loss —
    // the parser must surface the failure, not return fewer rows
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$root/torn.tar"),
      java.util.Arrays.copyOf(plainBytes, 600)) // header + partial data
    intercept[org.apache.spark.SparkException] {
      TarGz.entries(spark, s"$root/torn.tar").count()
    }
  }

  test("json source round-trips rows through JSON lines") {
    val dir = s"/tmp/graft-test-json-${System.nanoTime()}"
    val nation = Tables.t(spark, TestSpark.Sf, "nation")
    nation.write.json(dir)
    val back = JsonSource(dir).read(spark)
    assert(back.count() == 25)
    assert(back.columns.sorted.sameElements(nation.columns.sorted))
  }

  test("orc source round-trips rows through ORC files") {
    val dir = s"/tmp/graft-test-orc-${System.nanoTime()}"
    val nation = Tables.t(spark, TestSpark.Sf, "nation")
    nation.write.orc(dir)
    val back = OrcSource(dir).read(spark)
    assert(back.count() == 25)
    assert(back.columns.sorted.sameElements(nation.columns.sorted))
  }

  test("avro source round-trips rows through Avro files") {
    val dir = s"/tmp/graft-test-avro-${System.nanoTime()}"
    val nation = Tables.t(spark, TestSpark.Sf, "nation")
    nation.write.format(AvroSource.Provider).save(dir)
    val back = AvroSource(dir).read(spark)
    assert(back.count() == 25)
    assert(back.columns.sorted.sameElements(nation.columns.sorted))
    // value fidelity, not just mechanics: same rows come back
    assert(back.orderBy("n_nationkey").collect().map(_.getString(1)).toSeq ==
      nation.orderBy("n_nationkey").collect().map(_.getString(1)).toSeq)
  }

  test("binary-file source feeds whole files into the multimodal decoder") {
    val dir = s"/tmp/graft-test-bin-${System.nanoTime()}"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    // one real PNG (via the JDK encoder), one text file the glob excludes
    val img = new java.awt.image.BufferedImage(
      20, 10, java.awt.image.BufferedImage.TYPE_INT_RGB)
    javax.imageio.ImageIO.write(img, "png", new java.io.File(s"$dir/a.png"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/skip.txt"), "not an image")

    val files = BinaryFileSource(dir, globFilter = Some("*.png")).read(spark)
    assert(files.count() == 1)
    val meta = graft.llm.Multimodal.decodeMeta(
      files.select(monotonically_increasing_id().as("doc_id"),
        col("content").as("payload")))
      .collect()(0)
    assert(meta.getString(3) == "png")
    assert((meta.getLong(4), meta.getLong(5)) == (20L, 10L))
  }

  test("binary-file source fails loudly past the per-file size bound") {
    val dir = s"/tmp/graft-test-bin-big-${System.nanoTime()}"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/big.bin"),
      Array.fill[Byte](1024)(1))
    // the metadata pre-scan rejects at read() time, naming the offender —
    // before any content byte is materialized
    val e = intercept[IllegalArgumentException] {
      BinaryFileSource(dir, maxBytes = 100L).read(spark)
    }
    assert(e.getMessage.contains("big.bin"))
    // raising the bound admits the same file
    assert(BinaryFileSource(dir, maxBytes = 10000L).read(spark).count() == 1)
  }

  test("jdbc source configures the full option bundle without connecting") {
    val src = JdbcSource(
      url = "jdbc:postgresql://example.invalid:5432/db",
      table = "events",
      user = "reader",
      secretName = "db_password",
      secrets = MapSecretProvider(Map("db_password" -> "hunter2")),
      partitionColumn = Some("event_id"),
      lowerBound = Some(0L), upperBound = Some(1000000L),
      readReplica = Some("jdbc:postgresql://replica.invalid:5432/db"))
    // construction + option resolution must work offline; load() would need
    // a live endpoint
    src.configure(spark)
    // a partition column WITHOUT the stride bounds is refused loudly —
    // the bug the Derby round-trip surfaced (Spark rejects it at load)
    assertThrows[IllegalArgumentException](
      src.copy(lowerBound = None, upperBound = None).configure(spark))
  }

  test("bigquery source configures the full option bundle without connecting") {
    val src = BigQuerySource(
      project = "example-project",
      table = "analytics.events",
      credentialsSecret = Some("bq_key"),
      secrets = MapSecretProvider(Map("bq_key" -> "base64-key")),
      viewsEnabled = true,
      materializationDataset = Some("scratch"))
    // construction + option resolution offline (C5, connections.py:177-212);
    // load() needs the connector jar + a live endpoint
    src.configure(spark)
  }

  test("jdbc sink configures the append writer without connecting") {
    val sink = JdbcSink(
      url = "jdbc:postgresql://example.invalid:5432/db",
      table = "events_out",
      user = "writer",
      secretName = "db_password",
      secrets = MapSecretProvider(Map("db_password" -> "hunter2")),
      batchSize = 50000)
    // the write side of W2 (operations.py:130-212): writer assembles
    // offline; save() would need a live endpoint
    val df = Tables.t(spark, TestSpark.Sf, "region")
    sink.configure(df)
  }

  test("fetch failures redact the query string (no credential in message)") {
    val missing = s"file:///tmp/graft-no-such-${System.nanoTime()}.tar.gz"
    val e = intercept[java.io.IOException] {
      Fetch.downloadAuthed(missing, s"/tmp/graft-dl-${System.nanoTime()}",
        graft.sources.MapSecretProvider(Map("k" -> "sekret-value")), "k")
    }
    assert(!e.getMessage.contains("sekret-value"))
    assert(e.getMessage.contains("<redacted>"))
    assert(Fetch.redacted("https://x/y?user_key=abc") == "https://x/y?<redacted>")
    assert(Fetch.redacted("https://x/y") == "https://x/y")
  }

  test("secret providers resolve and fail loudly") {
    assert(MapSecretProvider(Map("a" -> "b")).get("a") == "b")
    intercept[IllegalArgumentException] {
      MapSecretProvider(Map.empty).get("missing")
    }
  }
}
