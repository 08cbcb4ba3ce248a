package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.ExprBridge
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Token n-gram occurrence statistics of a document in ONE scan-local
  * pass: total n-grams, distinct n-grams, the top n-gram's occurrence
  * count, and how many n-grams occur exactly once. Together these carry
  * the Gopher repetition signals (Rae et al. 2021 §A1.1): top-n-gram
  * share = top·n / tokens, duplicate-n-gram fraction =
  * (total − singletons) / total.
  *
  * The declarative spelling builds the n-gram string array, then
  * re-aggregates it once per statistic (and per-distinct-token for the
  * top count — O(L·D)); here one split and one hash-count pass serve all
  * four. Tokenization matches [[graft.llm.Tokens.words]] (trailing
  * empties kept), n-grams join on a single space — identical strings to
  * the HOF spelling, asserted on random corpora in
  * FusedExprPropertiesSpec. Documents with fewer than n tokens return
  * (0, 0, 0, 0).
  */
case class NGramStats(child: Expression, n: Int)
    extends UnaryExpression {

  require(n >= 1, "n-gram width must be >= 1")

  override def dataType: DataType = StructType(Seq(
    StructField("total", LongType, nullable = false),
    StructField("distinct", LongType, nullable = false),
    StructField("top", LongType, nullable = false),
    StructField("singletons", LongType, nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"expected string input, got ${child.dataType}")

  def stats(u: UTF8String): InternalRow = {
    // -1 limit keeps trailing empties, matching graft.llm.Tokens.words
    val parts = u.toString.split(" ", -1)
    val total = parts.length - n + 1
    if (total <= 0) return InternalRow(0L, 0L, 0L, 0L)
    val counts = new java.util.HashMap[String, Long](total * 2)
    val sb = new java.lang.StringBuilder
    var top = 0L
    var i = 0
    while (i < total) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(parts(i + j))
        j += 1
      }
      val c = counts.merge(sb.toString, 1L, java.lang.Long.sum)
      if (c > top) top = c
      i += 1
    }
    var singletons = 0L
    val it = counts.values().iterator()
    while (it.hasNext) if (it.next() == 1L) singletons += 1
    InternalRow(total.toLong, counts.size.toLong, top, singletons)
  }

  override def nullSafeEval(input: Any): Any =
    stats(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("ngramStats", this,
      classOf[NGramStats].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $self.stats($c);")
  }

  override protected def withNewChildInternal(
      newChild: Expression): NGramStats = copy(child = newChild)
}

object NGramStats {
  def ngramStats(text: Column, n: Int): Column =
    ExprBridge.column(NGramStats(ExprBridge.expression(text), n))
}
