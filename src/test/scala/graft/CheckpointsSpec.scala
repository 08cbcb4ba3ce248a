package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the two load-bearing properties of [[Checkpoints.free]]:
  * a checkpoint's blocks really are released (bounded storage for
  * iterative kernels), and a frame merely DERIVED from a checkpoint is
  * a no-op (freeing through the tree once tore edge-list blocks out from
  * under later PageRank rounds — CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND).
  */
class CheckpointsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("free releases a checkpointed frame's cached blocks") {
    val ck = Seq(1L, 2L, 3L).toDF("x").localCheckpoint()
    assert(ck.count() == 3)
    val rddId = ck.queryExecution.analyzed
      .asInstanceOf[org.apache.spark.sql.execution.LogicalRDD].rdd.id
    assert(spark.sparkContext.getRDDStorageInfo.exists(_.id == rddId),
      "precondition: checkpoint blocks should be cached")
    Checkpoints.free(ck)
    // blocking=false: wait for the async removal to land
    val deadline = System.currentTimeMillis() + 10000
    def live = spark.sparkContext.getRDDStorageInfo.exists(i =>
      i.id == rddId && i.numCachedPartitions > 0)
    while (live && System.currentTimeMillis() < deadline)
      Thread.sleep(100)
    assert(!live, "checkpoint blocks were not released")
  }

  test("free is a no-op on a frame derived from a checkpoint") {
    val ck = Seq(1L, 2L, 3L, 4L).toDF("x").localCheckpoint()
    val derived = ck.filter(col("x") > 1).select((col("x") * 2).as("y"))
    Checkpoints.free(derived) // must NOT free ck's blocks
    Thread.sleep(500)
    // the checkpoint (lineage-truncated) is still fully readable
    assert(ck.count() == 4)
    assert(derived.count() == 3)
    Checkpoints.free(ck)
  }

  test("roll materializes the next round before freeing the previous") {
    var r = Seq(1L).toDF("v").localCheckpoint()
    (1 to 3).foreach { _ =>
      r = Checkpoints.roll(r.select((col("v") + 1).as("v")), r)
    }
    assert(r.as[Long].head() == 4L)
  }

  test("freeingAfter releases exactly the RDDs the body persisted") {
    val sc = spark.sparkContext
    val outside = Seq(1L, 2L).toDF("x").localCheckpoint() // pre-existing
    val outsideId = outside.queryExecution.analyzed
      .asInstanceOf[org.apache.spark.sql.execution.LogicalRDD].rdd.id
    var insideId = -1
    val n = Checkpoints.freeingAfter(spark) {
      val ck = Seq(3L, 4L, 5L).toDF("x").localCheckpoint()
      insideId = ck.queryExecution.analyzed
        .asInstanceOf[org.apache.spark.sql.execution.LogicalRDD].rdd.id
      ck.count()
    }
    assert(n == 3)
    val deadline = System.currentTimeMillis() + 10000
    def live(id: Int) = sc.getPersistentRDDs.contains(id)
    while (live(insideId) && System.currentTimeMillis() < deadline)
      Thread.sleep(100)
    assert(!live(insideId), "body's checkpoint was not released")
    assert(live(outsideId), "pre-existing checkpoint must survive")
    assert(outside.count() == 2)
    Checkpoints.free(outside)
  }

  test("no program code checkpoints outside Checkpoints") {
    // a direct localCheckpoint escapes spark.graft.checkpoint.reliable
    val sites = SourceGuard.sites(Seq("src/main/scala"), "localCheckpoint(",
      exempt = "Checkpoints.scala")
    assert(sites.isEmpty, s"checkpoint with Checkpoints.ckpt: $sites")
  }

  test("reliable mode: ckpt matches the local path, roll works, free is a no-op") {
    val key = "spark.graft.checkpoint.reliable"
    def file(df: DataFrame) =
      df.queryExecution.analyzed.asInstanceOf[LogicalRDD].rdd.getCheckpointFile
    def onDisk(df: DataFrame) =
      file(df).exists(p => Files.isDirectory(Paths.get(new java.net.URI(p))))
    val df = spark.range(0, 100).select((col("id") % 7).as("k"), col("id"))
    val local = Checkpoints.ckpt(df)
    assert(file(local).isEmpty, "precondition: the default is block-backed")
    val localRows = local.collect().toSet
    Checkpoints.free(local)
    // the edge-list variant keeps its local blocks serialized
    val ser = Checkpoints.ckptSerialized(df)
    val level = ser.queryExecution.analyzed.asInstanceOf[LogicalRDD].rdd
      .getStorageLevel
    assert(file(ser).isEmpty && !level.deserialized && level.useDisk, level)
    Checkpoints.free(ser)
    val dir = Files.createTempDirectory("graft-ckpt-")
    spark.sparkContext.setCheckpointDir(dir.toString)
    val before = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    try {
      val ck = Checkpoints.ckpt(df)
      assert(onDisk(ck),
        s"ckpt should write a reliable checkpoint under $dir, got ${file(ck)}")
      assert(ck.collect().toSet == localRows)
      val serCk = Checkpoints.ckptSerialized(df)
      assert(onDisk(serCk), s"ckptSerialized wrote ${file(serCk)}")
      assert(serCk.collect().toSet == localRows)

      var r = Checkpoints.ckpt(Seq(1L).toDF("v"))
      (1 to 3).foreach { _ =>
        r = Checkpoints.roll(r.select((col("v") + 1).as("v")), r)
      }
      assert(onDisk(r))
      assert(r.as[Long].head() == 4L)

      Checkpoints.free(ck)
      assert(ck.collect().toSet == localRows)
      assert(onDisk(ck))
    } finally {
      before match {
        case Some(v) => spark.conf.set(key, v)
        case None    => spark.conf.unset(key)
      }
      val walk = Files.walk(dir)
      try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => Files.delete(p))
      finally walk.close()
    }
  }
}
