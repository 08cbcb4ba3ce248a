package graft.etl

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ZOrderSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("zValue2 interleaves bits (a even, b odd)") {
    import spark.implicits._
    // a=5 (101) -> bits at positions 0,4; b=3 (011) -> bits at 1,3
    // z = 1 + 16 + 2 + 8 = 27
    val z = Seq((5L, 3L)).toDF("a", "b")
      .select(ZOrder.zValue2(col("a"), col("b")).as("z"))
      .head().getLong(0)
    assert(z == 27L)
    // dimension order matters: swapped inputs give the transposed curve
    val zs = Seq((3L, 5L)).toDF("a", "b")
      .select(ZOrder.zValue2(col("a"), col("b")).as("z"))
      .head().getLong(0)
    assert(zs == 39L) // 3 even-spread (1+4=5... bits 0,1 -> pos 0,2) + 5 odd
  }

  test("seedZOrdered cuts the curve into non-overlapping per-file z-ranges") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_zorder").toString + "/orders_z"
    val orders = spark.read.parquet(s"${TestSpark.Sf}/orders.parquet")
    val a = col("o_custkey")
    val b = datediff(to_date(col("o_orderdate")), lit("1992-01-01"))
    ZOrder.seedZOrdered(orders, dir, a, b, nFiles = 8)

    val back = Snapshot.read(spark, dir)
      .withColumn("z", ZOrder.zValue2(a, b))
      .withColumn("f", input_file_name())
    val ranges = back.groupBy(col("f"))
      .agg(min(col("z")).as("zmin"), max(col("z")).as("zmax"))
      .orderBy(col("zmin"))
      .collect()
    assert(ranges.length > 1, "expected multiple files")
    ranges.sliding(2).foreach { case Array(lo, hi) =>
      assert(lo.getAs[Long]("zmax") <= hi.getAs[Long]("zmin"),
        s"overlapping z-ranges: $lo vs $hi")
    }
    // round trip is lossless
    assert(back.count() == orders.count())
  }
}
