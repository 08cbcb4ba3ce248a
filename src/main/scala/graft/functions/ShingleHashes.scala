package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.ExprBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The distinct ascending-sorted xxhash64 set of a document's k-token
  * shingles, computed in ONE scan-local pass — the tokenization front of
  * every shingle-based operator (n-gram Jaccard near-dup q50, benchmark
  * decontamination q87).
  *
  * The declarative spelling
  * `array_sort(array_distinct(transform(sequence(1, size(tok) - k + 1),
  * i -> xxhash64(array_join(slice(tok, i, k), " ")))))` re-slices the
  * token array and re-joins a fresh string per shingle through
  * interpreted higher-order functions — the dominant stage cost at sf0.1.
  * Here the text splits once and each shingle string is built and hashed
  * directly.
  *
  * Bit-compatible with that spelling (asserted hash-for-hash in
  * FusedExprPropertiesSpec): tokens split on a single space with trailing
  * empties kept, shingles joined with a space, hashed with Spark's own
  * xxhash64 (seed 42). Documents with fewer than k tokens return an
  * empty array (callers filter, mirroring the declarative query).
  */
case class ShingleHashes(child: Expression, k: Int)
    extends UnaryExpression {

  require(k >= 1, "shingle width must be >= 1")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"expected string input, got ${child.dataType}")

  def shingles(u: UTF8String): GenericArrayData = {
    // -1 limit keeps trailing empties, matching graft.llm.Tokens.words
    val parts = u.toString.split(" ", -1)
    val n = parts.length - k + 1
    if (n <= 0) return new GenericArrayData(Array.emptyLongArray)
    val set = new java.util.TreeSet[java.lang.Long]()
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < n) {
      sb.setLength(0)
      var j = 0
      while (j < k) {
        if (j > 0) sb.append(' ')
        sb.append(parts(i + j))
        j += 1
      }
      set.add(XxHash64Function.hash(
        UTF8String.fromString(sb.toString), StringType, 42L))
      i += 1
    }
    val out = new Array[Long](set.size)
    val it = set.iterator()
    var m = 0
    while (it.hasNext) { out(m) = it.next(); m += 1 }
    new GenericArrayData(out)
  }

  override def nullSafeEval(input: Any): Any =
    shingles(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("shingleHashes", this,
      classOf[ShingleHashes].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $self.shingles($c);")
  }

  override protected def withNewChildInternal(
      newChild: Expression): ShingleHashes = copy(child = newChild)
}

object ShingleHashes {
  def shingleHashes(text: Column, k: Int): Column =
    ExprBridge.column(ShingleHashes(ExprBridge.expression(text), k))

  def positionalShingleHashes(text: Column, k: Int): Column =
    ExprBridge.column(
      PositionalShingleHashes(ExprBridge.expression(text), k))
}

/** [[ShingleHashes]] WITH positions: one hash per start offset, in
  * document order, duplicates kept — element i (0-based) is the hash of
  * the k-token shingle starting at token i+1. The substring-grain dedup
  * (q285) needs the offset of every occurrence to mark removal
  * intervals, which the distinct-sorted set form erases. Hashing is
  * bit-identical to [[ShingleHashes]] (same split / join / seed-42
  * xxhash64 — asserted in FusedExprPropertiesSpec), so the two forms
  * agree on WHICH shingles a document contains.
  */
case class PositionalShingleHashes(child: Expression, k: Int)
    extends UnaryExpression {

  require(k >= 1, "shingle width must be >= 1")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"expected string input, got ${child.dataType}")

  def shingles(u: UTF8String): GenericArrayData = {
    val parts = u.toString.split(" ", -1)
    val n = parts.length - k + 1
    if (n <= 0) return new GenericArrayData(Array.emptyLongArray)
    val out = new Array[Long](n)
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < n) {
      sb.setLength(0)
      var j = 0
      while (j < k) {
        if (j > 0) sb.append(' ')
        sb.append(parts(i + j))
        j += 1
      }
      out(i) = XxHash64Function.hash(
        UTF8String.fromString(sb.toString), StringType, 42L)
      i += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(input: Any): Any =
    shingles(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("posShingleHashes", this,
      classOf[PositionalShingleHashes].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $self.shingles($c);")
  }

  override protected def withNewChildInternal(
      newChild: Expression): PositionalShingleHashes = copy(child = newChild)
}
