package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The text policies every text operator shares, each stated once: the
  * whitespace tokenizer, the hashed token set the sorted-intersect
  * kernels read, the stopword list, the heuristic quality gate and the
  * clean pass. Change a policy here and every query, stream and tool
  * follows. The JVM kernels that tokenize inside one expression
  * (ShingleHashes, WinnowFingerprints, MinHashBands, NGramStats) must
  * split exactly as [[words]] does.
  */
object Tokens {

  /** Whitespace tokens: split on each single space, so a run of spaces
    * yields empty tokens and a leading or trailing space an empty edge
    * token. */
  def words(text: Column): Column = split(text, " ")

  /** The ascending-sorted distinct 64-bit hashes of `tok` — the input
    * [[graft.functions.SortedIntersectCount]] and
    * [[TextQueries.prefixJaccardPairs]] require: set sizes and overlaps
    * are preserved (64-bit collisions negligible) and two sorted arrays
    * intersect in one allocation-free two-pointer walk. */
  def hashedSet(tok: Column): Column =
    array_sort(array_distinct(transform(tok, (t: Column) => xxhash64(t))))

  /** `(doc_id, source, tok)`: each document's [[hashedSet]] of [[words]]. */
  def tokenSets(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"),
      hashedSet(words(col("text"))).as("tok"))

  val Stopwords: Seq[String] = Seq("the", "a", "of", "and", "to")

  /** The heuristic quality gate over a token array: token, stopword and
    * distinct counts as doubles, their ratios, and the score
    * 0.5·distinct_ratio + 0.5·(1 − stopword_ratio). Every input is an
    * exact integer, so each ratio is one IEEE division and the score one
    * fixed tree — bit-identical in any engine that states it the same. */
  final class Gate private[Tokens] (tok: Column) {
    lazy val nTok: Column  = size(tok).cast("double")
    lazy val nStop: Column = size(filter(tok, (t: Column) =>
      t.isInCollection(Stopwords))).cast("double")
    lazy val nDist: Column = size(array_distinct(tok)).cast("double")
    def stopRatio: Column = nStop / nTok
    def distinctRatio: Column = nDist / nTok
    def quality: Column =
      distinctRatio * lit(0.5) + (lit(1.0) - stopRatio) * lit(0.5)
  }

  def gate(tok: Column): Gate = new Gate(tok)

  /** Whitespace runs collapsed to one space, then trimmed. Whitespace is
    * the EXPLICIT class [ \t\n\f\r]: `\s` diverges between Java regex
    * (which includes U+000B) and RE2. */
  def collapse(text: Column): Column =
    trim(regexp_replace(text, "[ \\t\\n\\f\\r]+", " "))

  /** Markup-ish tags replaced by a space, then [[collapse]]d. */
  def untagged(text: Column): Column =
    collapse(regexp_replace(text, "<[^>]*>", " "))

  /** The canonical normalize pass before dedup and tokenization:
    * [[untagged]], lowercased. */
  def clean(text: Column): Column = lower(untagged(text))
}
