package graft.llm

import graft.{SourceGuard, TestSpark}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[Tokens]] states each text policy once: what the helpers compute, and
  * a drift guard that fails on a restated copy anywhere else in the
  * program. */
class TokensSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // Spark's split(<col>, " "), or split(text, ' ') inside SQL text; a
  // Scala String's .split(" ") is not a column
  private val SplitOnSpace = """(?<![.\w])split\(.*,\s*(" "|' ')\s*\)""".r
  private val HashedSetSpelling = "array_sort(array_distinct(transform("
  private val StopwordLiteral = """"the", "a", "of", "and", "to""""

  private def outsideTokens(hit: String => Boolean) =
    SourceGuard.sitesWhere(Seq("src/main/scala"), exempt = "Tokens.scala")(hit)

  test("words keeps empty tokens; hashedSet is the sorted distinct hashes") {
    val row = Seq("b a  b ").toDF("text")
      .select(Tokens.words(col("text")).as("w"),
        Tokens.hashedSet(Tokens.words(col("text"))).as("h"),
        array_sort(array_distinct(
          array(xxhash64(lit("a")), xxhash64(lit("b")), xxhash64(lit("")))))
          .as("expected"))
      .head()
    assert(row.getSeq[String](0) == Seq("b", "a", "", "b", ""))
    assert(row.getSeq[Long](1) == row.getSeq[Long](2))
  }

  test("gate scores 0.5 distinct ratio + 0.5 (1 - stopword ratio)") {
    // 5 tokens, 4 distinct, 3 of them stopwords ("the" twice, "of")
    val g = Tokens.gate(Tokens.words(col("text")))
    val row = Seq("the cat of the dog").toDF("text")
      .select(g.nTok, g.nStop, g.nDist, g.quality).head()
    assert((row.getDouble(0), row.getDouble(1), row.getDouble(2)) ==
      ((5.0, 3.0, 4.0)))
    assert(row.getDouble(3) == 4.0 / 5.0 * 0.5 + (1.0 - 3.0 / 5.0) * 0.5)
  }

  test("clean strips tags, collapses whitespace, trims and lowercases") {
    val row = Seq(" A<b>B</b>\t\tC \n").toDF("text")
      .select(Tokens.clean(col("text"))).head()
    assert(row.getString(0) == "a b c")
  }

  test("the tokenizer guard sees a split in Column code and in SQL text") {
    val restated = Seq(
      """val tok = split(col("text"), " ")""",
      """  transform(sequence(0, size(split(text, ' ')) - 1),""")
    restated.foreach(l => assert(SplitOnSpace.findFirstIn(l).isDefined, l))
    val notTokenizers = Seq(
      """s.split(",").map(_.trim)""", """name.split('/').last""",
      """SELECT STRING_SPLIT(text, ' ') AS tok""")
    notTokenizers.foreach(l => assert(SplitOnSpace.findFirstIn(l).isEmpty, l))
  }

  test("no text policy is restated outside Tokens") {
    val splits = outsideTokens(SplitOnSpace.findFirstIn(_).isDefined)
    assert(splits.isEmpty, s"tokenize with Tokens.words: $splits")
    val sets = outsideTokens(_.contains(HashedSetSpelling))
    assert(sets.isEmpty, s"hash token sets with Tokens.hashedSet: $sets")
    val stops = outsideTokens(_.contains(StopwordLiteral))
    assert(stops.isEmpty, s"read the stopword list from Tokens.Stopwords: $stops")
  }
}
