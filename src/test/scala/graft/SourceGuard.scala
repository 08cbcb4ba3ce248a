package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Source scans for the drift guards (`GraftSessionSpec`,
  * `CheckpointsSpec`, `ParquetSchemaSpec`, `llm.TokensSpec`,
  * `etl.SnapshotSpec`): where a call or a call chain appears in code. */
object SourceGuard {

  /** `file:line` of every line under `roots` that contains `call` and is
    * not a comment line, skipping files named `exempt`. */
  def sites(roots: Seq[String], call: String, exempt: String): Seq[String] =
    sitesWhere(roots, exempt)(_.contains(call))

  /** `file:line` of every non-comment line under `roots` that `hit`
    * accepts (given the trimmed line), skipping files named `exempt`. */
  def sitesWhere(roots: Seq[String], exempt: String)
                (hit: String => Boolean): Seq[String] =
    for {
      f <- roots.flatMap(scalaFiles)
      if f.getFileName.toString != exempt
      (line, i) <- Files.readAllLines(f).asScala.toSeq.zipWithIndex
      code = line.trim
      // scaladoc and line comments show usage, they run nothing
      if !code.startsWith("*") && !code.startsWith("//")
      if hit(code)
    } yield s"$f:${i + 1}"

  /** `file:line` of every `.read` builder chain under `roots` that ends in
    * `.<format>(`, through any `format`, `schema`, `option` and `options`
    * links (line breaks between them allowed), skipping files named
    * `exempt`; comment lines are skipped as in [[sites]]. */
  def readSites(roots: Seq[String], format: String,
                exempt: String): Seq[String] =
    for {
      f <- roots.flatMap(scalaFiles)
      if f.getFileName.toString != exempt
      line <- readLines(Files.readAllLines(f).asScala.toSeq, format)
    } yield s"$f:$line"

  /** `DataFrameReader`'s builder calls: the links of a read chain. */
  private val ReaderLinks = Set("format", "schema", "option", "options")

  /** The 1-based lines of `lines` where a [[readSites]] chain starts. */
  def readLines(lines: Seq[String], format: String): Seq[Int] = {
    val code = lines.map { l =>
      val t = l.trim
      if (t.startsWith("*") || t.startsWith("//")) "" else l
    }.mkString("\n")
    val link = """\s*\.\s*([A-Za-z_][A-Za-z0-9_]*)\s*\(""".r
    /** Past the `)` closing the `(` just before `i`. */
    def close(i: Int): Int = {
      var depth = 1
      var j = i
      while (j < code.length && depth > 0) {
        if (code(j) == '(') depth += 1
        else if (code(j) == ')') depth -= 1
        j += 1
      }
      j
    }
    def reaches(i: Int): Boolean =
      link.findPrefixMatchOf(code.substring(i)).exists { m =>
        m.group(1) == format ||
          (ReaderLinks(m.group(1)) && reaches(close(i + m.end)))
      }
    """\.read(?![A-Za-z0-9_])(?!\s*\()""".r.findAllMatchIn(code)
      .map(_.end).filter(reaches)
      .map(i => code.substring(0, i).count(_ == '\n') + 1).toSeq
  }

  private def scalaFiles(root: String): Seq[Path] = {
    val dir = Paths.get(root)
    assert(Files.isDirectory(dir),
      s"$root not found from ${Paths.get("").toAbsolutePath}")
    val walk = Files.walk(dir)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }
}
