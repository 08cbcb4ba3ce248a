package graft.etl

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

case class Row0(id: Long, ts: java.sql.Timestamp, v: String)

/** Unit spec for the upsert kernel (SURVEY.md §2.4) on handcrafted frames:
  * empty delta (the reference short-circuits at operations.py:705),
  * all-deleted, conflicting PKs, idempotence.
  */
class UpsertKernelSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  private val asOf = expr("TIMESTAMP '2024-01-10 00:00:00'")

  private def frame(rows: (Long, String, String)*) =
    rows.map { case (i, t, v) => Row0(i, ts(t), v) }.toDF("id", "ts", "v")

  test("merge prefers delta rows on pk conflict") {
    val old   = frame((1L, "2024-01-01 00:00:00", "old1"), (2L, "2024-01-01 00:00:00", "old2"))
    val delta = frame((2L, "2024-01-09 12:00:00", "new2"), (3L, "2024-01-09 12:00:00", "new3"))
    val out = UpsertKernel.merge(old, delta, "id")
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(2)))
    assert(out.toSeq == Seq((1L, "old1"), (2L, "new2"), (3L, "new3")))
  }

  test("empty delta leaves surviving rows unchanged") {
    val old = frame((1L, "2024-01-01 00:00:00", "a"), (2L, "2024-01-02 00:00:00", "b"))
    val src = old  // nothing newer than the window, nothing deleted
    val out = UpsertKernel.upsert(old, src, "id", "ts", asOf, 1)
    assert(out.orderBy("id").collect().map(_.getString(2)).toSeq == Seq("a", "b"))
  }

  test("rows deleted at source are reconciled away") {
    val old = frame((1L, "2024-01-01 00:00:00", "a"), (2L, "2024-01-02 00:00:00", "b"))
    val src = frame((1L, "2024-01-01 00:00:00", "a")) // id=2 deleted upstream
    val out = UpsertKernel.upsert(old, src, "id", "ts", asOf, 24)
    assert(out.collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("upsert is idempotent and preserves pk uniqueness") {
    val old = frame((1L, "2024-01-01 00:00:00", "a"), (2L, "2024-01-02 00:00:00", "b"))
    val src = frame(
      (2L, "2024-01-09 23:00:00", "b2"), (3L, "2024-01-09 23:30:00", "c"))
    val once  = UpsertKernel.upsert(old, src, "id", "ts", asOf, 24)
    val twice = UpsertKernel.upsert(once, src, "id", "ts", asOf, 24)
    assert(once.orderBy("id").collect().toSeq ==
           twice.orderBy("id").collect().toSeq)
    assert(UpsertKernel.duplicatePks(once, "id").isEmpty)
  }

  test("upsertWithStats reports the result row count via observe") {
    val old = frame((1L, "2024-01-01 00:00:00", "a"))
    val src = frame((1L, "2024-01-01 00:00:00", "a"), (2L, "2024-01-09 23:00:00", "b"))
    val out = UpsertKernel.upsertWithStats(old, src, "id", "ts", asOf, 24)
    assert(out.count() == 2)
    val plain = UpsertKernel.upsert(old, src, "id", "ts", asOf, 24)
    assert(out.orderBy("id").collect().toSeq ==
      plain.orderBy("id").collect().toSeq)
  }

  test("schema drift: a column ADDED by the delta null-fills old rows") {
    val old   = frame((1L, "2024-01-01 00:00:00", "a"))
    val delta = frame((2L, "2024-01-09 00:00:00", "b"))
      .withColumn("extra", lit(42L))
    val out = UpsertKernel.merge(old, delta, "id").orderBy("id")
      .collect().map(r => (r.getLong(0), if (r.isNullAt(3)) None else Some(r.getLong(3))))
    assert(out.toSeq == Seq((1L, None), (2L, Some(42L))))
  }

  test("schema drift: a column DROPPED by the delta null-fills delta rows") {
    val old   = frame((1L, "2024-01-01 00:00:00", "a"))
    val delta = frame((2L, "2024-01-09 00:00:00", "b")).drop("v")
    val out = UpsertKernel.merge(old, delta, "id").orderBy("id")
      .collect().map(r => (r.getLong(0), Option(r.getString(2))))
    assert(out.toSeq == Seq((1L, Some("a")), (2L, None)))
  }

  test("schema drift: a RE-TYPED column fails loudly, naming the column") {
    val old   = frame((1L, "2024-01-01 00:00:00", "a"))
    val delta = frame((2L, "2024-01-09 00:00:00", "7"))
      .withColumn("v", col("v").cast("long"))
    val e = intercept[UpsertKernel.SchemaDriftException] {
      UpsertKernel.merge(old, delta, "id")
    }
    assert(e.getMessage.contains("v: string -> bigint"))
  }

  test("schema drift: nested nullability alone is not a re-type") {
    import org.apache.spark.sql.types._
    val stored = StructType(Seq(StructField("tok", ArrayType(LongType))))
    UpsertKernel.checkDrift(stored, StructType(Seq(StructField("tok",
      ArrayType(LongType, containsNull = false), nullable = false))))
    intercept[UpsertKernel.SchemaDriftException] {
      UpsertKernel.checkDrift(stored,
        StructType(Seq(StructField("tok", ArrayType(IntegerType)))))
    }
  }

  test("a delta missing the pk column fails loudly") {
    val old   = frame((1L, "2024-01-01 00:00:00", "a"))
    val delta = frame((2L, "2024-01-09 00:00:00", "b")).drop("id")
    intercept[IllegalArgumentException] {
      UpsertKernel.merge(old, delta, "id")
    }
  }

  test("deletedIds is dest-minus-src (the documented intent, not the " +
       "reference's swapped-connection bug)") {
    val dest = frame((1L, "2024-01-01 00:00:00", "a"), (2L, "2024-01-01 00:00:00", "b"))
    val src  = frame((2L, "2024-01-01 00:00:00", "b"), (3L, "2024-01-01 00:00:00", "c"))
    val ids = UpsertKernel.deletedIds(dest, src, "id").collect().map(_.getLong(0))
    assert(ids.toSeq == Seq(1L))
  }
}
