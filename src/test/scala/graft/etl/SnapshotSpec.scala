package graft.etl

import java.nio.charset.StandardCharsets.UTF_8

import graft.TestSpark
import org.apache.hadoop.fs.Path
import org.apache.spark.TestListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType,
  StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** Crash-atomicity of the versioned snapshot commit: a writer killed
  * between any two phases must leave readers on a complete snapshot
  * (the reference's transactional write, operations.py:181, at snapshot
  * granularity). Each "kill" is simulated by reproducing on disk exactly
  * the state the protocol passes through.
  */
class SnapshotSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def df(n: Int) = {
    import spark.implicits._
    (1 to n).map(i => (i.toLong, s"row$i")).toDF("id", "payload")
  }

  private def freshRoot() = s"/tmp/graft-test-snap-${System.nanoTime()}"

  private def fs = new Path("/tmp").getFileSystem(
    spark.sparkContext.hadoopConfiguration)

  /** The schema a commit recorded for one directory. */
  private def recorded(dir: String): StructType = {
    val in = fs.open(new Path(dir, "_schema.json"))
    try DataType.fromJson(new String(in.readAllBytes(), UTF_8))
      .asInstanceOf[StructType]
    finally in.close()
  }

  /** What schema inference says about the same directory. */
  private def inferred(dir: String): StructType =
    spark.read.parquet(dir).schema

  /** Spark jobs started while `body` runs, counted after the listener bus
    * has delivered every event (before and after, so no earlier job
    * leaks in and no job of `body` is missed). */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        n.incrementAndGet(); ()
      }
    }
    TestListenerBridge.drainListeners(sc)
    sc.addSparkListener(l)
    try { body; TestListenerBridge.drainListeners(sc) }
    finally sc.removeSparkListener(l)
    n.get
  }

  test("commit round-trips and bumps the version") {
    val root = freshRoot()
    Snapshot.commit(df(5), root)
    assert(Snapshot.currentVersion(spark, root).contains(1L))
    Snapshot.commit(df(7), root)
    assert(Snapshot.currentVersion(spark, root).contains(2L))
    assert(Snapshot.read(spark, root).count() == 7)
  }

  test("kill during the snapshot write: readers stay on the old version") {
    val root = freshRoot()
    Snapshot.commit(df(5), root)
    // phase-1 crash state: a partial _v2 (one stray non-parquet file, no
    // _SUCCESS, pointer untouched) — exactly what a killed executor leaves
    val fs = new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val partial = new Path(root, "_v2/part-00000.parquet")
    val out = fs.create(partial, true)
    out.write("torn bytes, not parquet".getBytes(UTF_8)); out.close()

    assert(Snapshot.currentVersion(spark, root).contains(1L))
    assert(Snapshot.read(spark, root).count() == 5)
    // recovery: the next commit skips the orphan version and GCs it
    Snapshot.commit(df(9), root)
    assert(Snapshot.currentVersion(spark, root).contains(3L))
    assert(Snapshot.read(spark, root).count() == 9)
    assert(!fs.exists(new Path(root, "_v2")))
  }

  test("kill between pointer-temp write and rename: reader unaffected") {
    val root = freshRoot()
    Snapshot.commit(df(5), root)
    val fs = new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    // phase-2 crash state: complete _v2 exists, pointer temp written but
    // never renamed over _current
    Snapshot.commit(df(8), root) // produce a real _v2...
    val tmp = new Path(root, "_current.tmp")
    val o = fs.create(tmp, true); o.write("99".getBytes(UTF_8)); o.close()

    // the stray temp never shadows the committed pointer
    assert(Snapshot.currentVersion(spark, root).contains(2L))
    assert(Snapshot.read(spark, root).count() == 8)
    // and the next commit just rolls forward past it
    Snapshot.commit(df(3), root)
    assert(Snapshot.read(spark, root).count() == 3)
  }

  test("GC keeps the previous version for in-flight readers, drops older") {
    val root = freshRoot()
    Snapshot.commit(df(1), root)
    Snapshot.commit(df(2), root)
    Snapshot.commit(df(3), root)
    val fs = new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new Path(root, "_v1")))
    assert(fs.exists(new Path(root, "_v2"))) // reader grace window
    assert(fs.exists(new Path(root, "_v3")))
  }

  test("retain=N widens the time-travel window to N bases (policy knob)") {
    val root = freshRoot()
    Snapshot.commit(df(1), root, retain = 3)
    Snapshot.commit(df(2), root, retain = 3)
    Snapshot.commit(df(3), root, retain = 3)
    Snapshot.commit(df(4), root, retain = 3)
    // newest 3 committed bases readable, each as of its final state
    assert(Snapshot.versions(spark, root) == Seq(2L, 3L, 4L))
    assert(Snapshot.readVersion(spark, root, 2L).count() == 2)
    assert(Snapshot.readVersion(spark, root, 3L).count() == 3)
    assert(Snapshot.readVersion(spark, root, 4L).count() == 4)
    // v1 is outside the window: data dir GC'd, marker gone, loud failure
    val e = intercept[IllegalArgumentException] {
      Snapshot.readVersion(spark, root, 1L)
    }
    assert(e.getMessage.contains("not retained"))
    // narrowing the policy back to the default shrinks the window again
    Snapshot.commit(df(5), root)
    assert(Snapshot.versions(spark, root) == Seq(4L, 5L))
  }

  test("readVersion time-travels across the retained window") {
    val root = freshRoot()
    Snapshot.commit(df(5), root)
    Snapshot.commit(df(7), root)
    // both retained versions readable, each as of ITS final state
    assert(Snapshot.versions(spark, root) == Seq(1L, 2L))
    assert(Snapshot.readVersion(spark, root, 1L).count() == 5)
    assert(Snapshot.readVersion(spark, root, 2L).count() == 7)
    // next commit rolls the window: v1 is GC'd and fails loudly, naming
    // what IS readable
    Snapshot.commit(df(9), root)
    assert(Snapshot.versions(spark, root) == Seq(2L, 3L))
    val e = intercept[IllegalArgumentException] {
      Snapshot.readVersion(spark, root, 1L)
    }
    assert(e.getMessage.contains("not retained"))
    assert(Snapshot.readVersion(spark, root, 2L).count() == 7)
  }

  test("readVersion of a past base folds the deltas that base carried") {
    import spark.implicits._
    val root = freshRoot()
    Snapshot.commit(df(3), root) // v1 = rows 1..3
    // two deltas on v1: update row 1, add row 10
    Snapshot.commitDelta(Seq((1L, "patched")).toDF("id", "payload"),
      root, "id")
    Snapshot.commitDelta(Seq((10L, "new")).toDF("id", "payload"),
      root, "id")
    Snapshot.commit(df(2), root) // v2 supersedes everything
    // as-of v1 = base ⊎ its deltas (4 rows, patch applied), not raw v1
    val v1 = Snapshot.readVersion(spark, root, 1L)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(v1.toSeq == Seq((1L, "patched"), (2L, "row2"), (3L, "row3"),
      (10L, "new")))
    assert(Snapshot.read(spark, root).count() == 2)
  }

  test("legacy plain-parquet roots read through and upgrade on commit") {
    val root = freshRoot()
    df(4).write.parquet(root) // pre-protocol destination layout
    assert(Snapshot.read(spark, root).count() == 4)
    Snapshot.commit(df(6), root)
    assert(Snapshot.currentVersion(spark, root).contains(1L))
    assert(Snapshot.read(spark, root).count() == 6)
    // the pre-protocol top-level files are gone: a reader still on the old
    // contract fails loudly instead of silently reading the frozen
    // pre-upgrade snapshot forever
    val fs = new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.listStatus(new Path(root))
      .forall(_.getPath.getName.startsWith("_")))
  }

  test("partitioned commit lays the version out hive-partitioned") {
    import spark.implicits._
    val root = freshRoot()
    val data = Seq((1L, "a"), (2L, "b"), (3L, "a")).toDF("id", "grp")
    Snapshot.commit(data, root, partitionCols = Seq("grp"))
    val fs = new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new Path(root, "_v1/grp=a")))
    assert(Snapshot.read(spark, root).count() == 3)
  }

  test("commitDelta stacks deltas; read folds latest-wins per pk") {
    import spark.implicits._
    val root = freshRoot()
    Snapshot.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "payload"), root)
    Snapshot.commitDelta(
      Seq((2L, "b2"), (3L, "c")).toDF("id", "payload"), root, "id")
    Snapshot.commitDelta(Seq((3L, "c2")).toDF("id", "payload"), root, "id")
    assert(Snapshot.currentVersion(spark, root).contains(1L))
    assert(Snapshot.currentDeltaCount(spark, root) == 2L)
    val out = Snapshot.read(spark, root).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(out.toSeq == Seq((1L, "a"), (2L, "b2"), (3L, "c2")))
  }

  test("delta commit is O(batch): the base version's files are untouched") {
    import spark.implicits._
    val root = freshRoot()
    Snapshot.commit(df(100), root)
    val fs = new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val before = fs.listStatus(new Path(root, "_v1"))
      .map(s => (s.getPath.getName, s.getModificationTime, s.getLen)).toSet
    Snapshot.commitDelta(Seq((1L, "upd")).toDF("id", "payload"), root, "id")
    val after = fs.listStatus(new Path(root, "_v1"))
      .map(s => (s.getPath.getName, s.getModificationTime, s.getLen)).toSet
    assert(before == after) // no O(table) rewrite on the delta path
    assert(Snapshot.read(spark, root).count() == 100)
  }

  test("the delta stack compacts into a new base at the threshold") {
    import spark.implicits._
    val root = freshRoot()
    Snapshot.commit(Seq((0L, "base")).toDF("id", "payload"), root)
    (1 to Snapshot.CompactThreshold.toInt).foreach { i =>
      Snapshot.commitDelta(
        Seq((i.toLong, s"d$i")).toDF("id", "payload"), root, "id")
    }
    // the threshold-th delta triggered compaction: new base, empty stack
    assert(Snapshot.currentVersion(spark, root).contains(2L))
    assert(Snapshot.currentDeltaCount(spark, root) == 0L)
    assert(Snapshot.read(spark, root).count() == 1 + Snapshot.CompactThreshold)
    // the old stack dies with its base at the next base commit
    Snapshot.commit(df(2), root)
    val fs = new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new Path(root, "_v1")))
    assert(!fs.exists(new Path(root, "_v1_d1")))
  }

  test("compaction preserves the base's hive-partition layout and pk") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val root = freshRoot()
    val base = (1 to 10).map(i =>
      (i.toLong, if (i % 2 == 0) "a" else "b", s"v$i"))
      .toDF("id", "grp", "payload")
    Snapshot.commit(base, root, partitionCols = Seq("grp"))
    (1 to Snapshot.CompactThreshold).foreach { i =>
      Snapshot.commitDelta(
        Seq((i.toLong, "a", s"upd$i")).toDF("id", "grp", "payload"),
        root, "id")
    }
    // folded into a new base, still hive-partitioned on grp
    assert(Snapshot.currentVersion(spark, root).contains(2L))
    assert(Snapshot.currentDeltaCount(spark, root) == 0L)
    val fs = new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new Path(root, "_v2/grp=a")))
    // deltas won: every id <= threshold reads back as its update
    val upd = Snapshot.read(spark, root).filter(col("id") === 2L).collect()
    assert(upd.map(_.getAs[String]("payload")).toSeq == Seq("upd2"))
    // the pk survived compaction: a drifting pk still fails loudly
    intercept[IllegalArgumentException] {
      Snapshot.commitDelta(
        Seq((1L, "a", "x")).toDF("id", "grp", "payload"), root, "grp")
    }
  }

  test("kill between delta write and pointer swap: torn delta invisible, " +
       "retry recovers by overwrite") {
    import spark.implicits._
    val root = freshRoot()
    Snapshot.commit(df(3), root)
    // crash state: _v1_d1 written (torn) but the pointer still names 0
    // deltas — readers must not see it
    val fs = new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val torn = new Path(root, "_v1_d1/part-00000.parquet")
    val o = fs.create(torn, true)
    o.write("torn bytes, not parquet".getBytes(UTF_8)); o.close()
    assert(Snapshot.currentDeltaCount(spark, root) == 0L)
    assert(Snapshot.read(spark, root).count() == 3)
    // the retried delta commit lands on the SAME index, replacing the
    // torn directory whole — read folds only committed data
    Snapshot.commitDelta(Seq((99L, "x")).toDF("id", "payload"), root, "id")
    assert(Snapshot.currentDeltaCount(spark, root) == 1L)
    assert(Snapshot.read(spark, root).count() == 4)
  }

  test("commitDelta on a legacy plain-parquet root upgrades without " +
       "dropping the legacy rows") {
    import spark.implicits._
    val root = freshRoot()
    df(4).write.parquet(root) // pre-protocol layout, no pointer
    Snapshot.commitDelta(Seq((99L, "x")).toDF("id", "payload"), root, "id")
    assert(Snapshot.read(spark, root).count() == 5)
    assert(Snapshot.currentVersion(spark, root).contains(1L))
  }

  test("a delta with a different pk than the stack's fails loudly") {
    import spark.implicits._
    val root = freshRoot()
    Snapshot.commit(df(2), root)
    Snapshot.commitDelta(Seq((9L, "x")).toDF("id", "payload"), root, "id")
    intercept[IllegalArgumentException] {
      Snapshot.commitDelta(
        Seq((9L, "x")).toDF("id", "payload"), root, "payload")
    }
  }

  test("concurrent base commits: one winner, the loser fails loudly and " +
       "the winner's data survives") {
    val root = freshRoot()
    Snapshot.commit(df(5), root)
    // writer A passes its data-write phase, then writer B commits fully,
    // then A reaches its pointer swap — A must detect B and fail, not
    // blind-overwrite B's committed pointer
    intercept[Snapshot.ConcurrentCommitException] {
      Snapshot.commitHooked(df(7), root, Nil,
        beforeSwap = () => { Snapshot.commit(df(9), root); () })
    }
    assert(Snapshot.read(spark, root).count() == 9) // B's commit intact
    // the loser's orphan version dir is GC'd by the next commit
    Snapshot.commit(df(2), root)
    assert(Snapshot.read(spark, root).count() == 2)
  }

  test("delta schema drift across the stack null-fills at read") {
    import spark.implicits._
    val root = freshRoot()
    Snapshot.commit(Seq((1L, "a")).toDF("id", "payload"), root)
    Snapshot.commitDelta(
      Seq((2L, "b", 42L)).toDF("id", "payload", "extra"), root, "id")
    val out = Snapshot.read(spark, root).orderBy("id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(2)) None else Some(r.getLong(2))))
    assert(out.toSeq == Seq((1L, None), (2L, Some(42L))))
  }

  test("a missing committed version fails loudly, not with wrong data") {
    val root = freshRoot()
    Snapshot.commit(df(2), root)
    val fs = new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(root, "_v1"), true)
    intercept[IllegalArgumentException] { Snapshot.read(spark, root) }
  }

  test("each committed directory records the schema inference gives") {
    import spark.implicits._
    val root = freshRoot()
    Snapshot.commit(df(3), root)
    assert(recorded(s"$root/_v1") == inferred(s"$root/_v1"))
    // deltas that add a column, then drop one
    Snapshot.commitDelta(
      Seq((4L, "d", 7L)).toDF("id", "payload", "extra"), root, "id")
    Snapshot.commitDelta(Seq(5L).toDF("id"), root, "id")
    Seq("_v1_d1", "_v1_d2").foreach { d =>
      assert(recorded(s"$root/$d") == inferred(s"$root/$d"), d)
    }
    assert(recorded(s"$root/_v1_d1").fieldNames.contains("extra"))
    assert(recorded(s"$root/_v1_d2").fieldNames.toSeq == Seq("id"))
    // the spark-written schema file is no data file: reads see the rows
    assert(Snapshot.read(spark, root).count() == 5)
  }

  test("a hive-partitioned commit records the inferred partition types") {
    import spark.implicits._
    val root = freshRoot()
    // a string partition column with numeric-looking values: inference
    // types it int, and the recorded schema must say the same so reads
    // through it match reads that infer
    val data = Seq((1L, "10", "a"), (2L, "20", "b"), (3L, "10", "c"))
      .toDF("id", "bucket", "payload")
    Snapshot.commit(data, root, partitionCols = Seq("bucket"))
    val dir = s"$root/_v1"
    assert(inferred(dir)("bucket").dataType == IntegerType)
    assert(recorded(dir) == inferred(dir))
    val got = Snapshot.read(spark, root)
    assert(got.schema == inferred(dir))
    assert(got.collect().toSet == spark.read.parquet(dir).collect().toSet)
  }

  test("directories without a schema file read by inference, same rows") {
    import spark.implicits._
    val root = freshRoot()
    Snapshot.commit(df(4), root)
    Snapshot.commitDelta(Seq((2L, "b2")).toDF("id", "payload"), root, "id")
    Snapshot.commitDelta(
      Seq((9L, "n", 1L)).toDF("id", "payload", "extra"), root, "id")
    def rows() = Snapshot.read(spark, root).orderBy("id").collect().toSeq
    val before = rows()
    // a root committed before schema files existed
    val files = fs.globStatus(new Path(root, "_v*/_schema.json"))
    assert(files.length == 3)
    files.foreach(st => fs.delete(st.getPath, false))
    assert(rows() == before)
    assert(Snapshot.read(spark, root).schema ==
      StructType(Seq(StructField("id", LongType),
        StructField("payload", StringType), StructField("extra", LongType))))
  }

  test("a retried delta commit replaces a torn directory's schema file") {
    import spark.implicits._
    val root = freshRoot()
    Snapshot.commit(df(3), root)
    // crash state: _v1_d1 holds torn data and a stale schema file, and
    // the pointer still names 0 deltas
    val torn = fs.create(new Path(root, "_v1_d1/part-00000.parquet"), true)
    torn.write("torn bytes, not parquet".getBytes(UTF_8)); torn.close()
    val stale = fs.create(new Path(root, "_v1_d1/_schema.json"), true)
    stale.write(StructType(Seq(StructField("stale", StringType))).json
      .getBytes(UTF_8))
    stale.close()
    assert(Snapshot.read(spark, root).count() == 3)
    Snapshot.commitDelta(
      Seq((99L, "x", 1.5)).toDF("id", "payload", "w"), root, "id")
    val dir = s"$root/_v1_d1"
    assert(recorded(dir) == inferred(dir))
    assert(recorded(dir).fieldNames.toSeq == Seq("id", "payload", "w"))
    assert(Snapshot.read(spark, root).count() == 4)
  }

  test("snapshot reads launch no jobs; a delta commit adds one " +
       "inference job to its writes") {
    import spark.implicits._
    val root = freshRoot()
    Snapshot.commit(df(10), root)
    (1 to 3).foreach { i =>
      Snapshot.commitDelta(
        Seq((i.toLong, s"d$i")).toDF("id", "payload"), root, "id")
    }
    // building the merged view over base + 3 deltas: no inference jobs
    assert(jobsDuring { Snapshot.read(spark, root) } == 0)
    assert(jobsDuring { Snapshot.readVersion(spark, root, 1L) } == 0)
    // a commit costs exactly what writing its rows costs, plus one job
    // for the schema it records
    val delta = Seq((20L, "e")).toDF("id", "payload")
    val writes = jobsDuring {
      delta.write.mode("overwrite").parquet(s"${freshRoot()}-plain")
    }
    assert(writes >= 1)
    assert(jobsDuring { Snapshot.commitDelta(delta, root, "id") } ==
      writes + 1)
    assert(Snapshot.read(spark, root).count() == 11)
  }
}
