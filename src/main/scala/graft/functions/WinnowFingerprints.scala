package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.ExprBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Winnowing fingerprints in ONE scan-local pass (the rolling-hash
  * fingerprint scheme of Schleimer/Wilkerson/Aiken 2003): hash every
  * 3-token shingle, keep the minimum of each full sliding window of
  * `window` shingles, return the distinct minima ascending-sorted.
  *
  * The declarative spelling (posexplode → rows-frame window min →
  * collect_set) fans each document out to ~n_tokens rows and shuffles
  * them twice on doc_id; the fingerprint is a per-document scalar, so
  * this expression computes it inside the row — zero extra rows, zero
  * shuffles, O(tokens × window) with window fixed at 4.
  *
  * Bit-compatible with the declarative form: tokens split on a single
  * space (Spark `split` keeps interior empties), shingles joined with a
  * space, hashed with Spark's own xxhash64 (seed 42) via
  * [[XxHash64Function]] — asserted hash-for-hash in the spec. Documents
  * with fewer than `window` full shingles return an empty array (the
  * caller filters, mirroring the declarative query's filter).
  */
case class WinnowFingerprints(child: Expression, window: Int)
    extends UnaryExpression {

  require(window >= 1, "window must be >= 1")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"expected string input, got ${child.dataType}")

  def fingerprint(u: UTF8String): GenericArrayData = {
    // -1 limit keeps trailing empties, matching graft.llm.Tokens.words
    val parts = u.toString.split(" ", -1)
    val nsh = parts.length - 2
    if (nsh < window) return new GenericArrayData(Array.emptyLongArray)
    val h = new Array[Long](nsh)
    var i = 0
    while (i < nsh) {
      val shingle = parts(i) + " " + parts(i + 1) + " " + parts(i + 2)
      h(i) = XxHash64Function.hash(
        UTF8String.fromString(shingle), StringType, 42L)
      i += 1
    }
    val mins = new java.util.TreeSet[java.lang.Long]()
    var p = 0
    while (p <= nsh - window) {
      var m = h(p)
      var j = 1
      while (j < window) { if (h(p + j) < m) m = h(p + j); j += 1 }
      mins.add(m)
      p += 1
    }
    val out = new Array[Long](mins.size)
    val it = mins.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    new GenericArrayData(out)
  }

  override def nullSafeEval(input: Any): Any =
    fingerprint(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("winnow", this,
      classOf[WinnowFingerprints].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $self.fingerprint($c);")
  }

  override protected def withNewChildInternal(
      newChild: Expression): WinnowFingerprints = copy(child = newChild)
}

object WinnowFingerprints {
  def winnow(text: Column, window: Int): Column =
    ExprBridge.column(
      WinnowFingerprints(ExprBridge.expression(text), window))
}
