package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.ExprBridge
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** MinHash LSH band hashes in ONE scan-local pass: tokenize, hash each
  * token once, update all `numHashes` lane minima per token, then fold
  * each band's lanes into its band hash — `O(tokens × lanes)` work with a
  * single traversal and zero intermediate arrays.
  *
  * The declarative spelling (`DedupQueries.signatures` + `bands`) builds
  * the hashed-token array, then runs `numHashes` separate
  * `array_min(transform(...))` lambdas over it — 32 full array traversals
  * per document through interpreted higher-order functions — and any
  * later per-lane reference risks CollapseProject re-evaluating the whole
  * pipeline per reference. Fusing collapses all of it into one codegen'd
  * call per row; the consumer explodes the returned array with
  * `posexplode`, whose generator input is evaluated exactly once per row.
  *
  * Bit-compatible with the declarative form (asserted hash-for-hash in
  * FusedExprPropertiesSpec):
  *  - tokens split on a single space, trailing empties kept
  *    ([[graft.llm.Tokens.words]]);
  *  - token hash = SQL `xxhash64(tok)` (seed 42);
  *  - lane i's value = SQL `xxhash64(i, th)` = hash chained over an int
  *    literal then the token hash — the int-literal stage is a per-lane
  *    constant, precomputed once;
  *  - lane minimum over tokens (`array_min`); the declarative form's
  *    `array_distinct` is dropped as a no-op — duplicate tokens cannot
  *    change a minimum;
  *  - band b's hash = SQL `xxhash64(sig_{b*r}, ..., sig_{b*r+r-1})`,
  *    the same left-to-right seed chain.
  */
case class MinHashBands(child: Expression, numHashes: Int, bands: Int)
    extends UnaryExpression {

  require(numHashes >= 1 && bands >= 1 && numHashes % bands == 0,
    "numHashes must be a positive multiple of bands")

  private val rowsPerBand = numHashes / bands

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"expected string input, got ${child.dataType}")

  // SQL xxhash64(i, th) hashes the int literal first with seed 42, then
  // the token hash with the result — the first stage per lane is constant
  @transient private lazy val laneSeeds: Array[Long] =
    Array.tabulate(numHashes)(i =>
      XxHash64Function.hash(i, IntegerType, 42L))

  def bandHashes(u: UTF8String): GenericArrayData = {
    // -1 limit keeps trailing empties, matching graft.llm.Tokens.words
    val parts = u.toString.split(" ", -1)
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var t = 0
    while (t < parts.length) {
      val th = XxHash64Function.hash(
        UTF8String.fromString(parts(t)), StringType, 42L)
      var i = 0
      while (i < numHashes) {
        val v = XxHash64Function.hash(th, LongType, laneSeeds(i))
        if (v < mins(i)) mins(i) = v
        i += 1
      }
      t += 1
    }
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var s = 42L
      var j = 0
      while (j < rowsPerBand) {
        s = XxHash64Function.hash(mins(b * rowsPerBand + j), LongType, s)
        j += 1
      }
      out(b) = s
      b += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(input: Any): Any =
    bandHashes(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("minhashBands", this,
      classOf[MinHashBands].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $self.bandHashes($c);")
  }

  override protected def withNewChildInternal(
      newChild: Expression): MinHashBands = copy(child = newChild)
}

object MinHashBands {
  def minhashBands(text: Column, numHashes: Int, bands: Int): Column =
    ExprBridge.column(
      MinHashBands(ExprBridge.expression(text), numHashes, bands))
}
