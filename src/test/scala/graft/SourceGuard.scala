package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Source scans for the drift guards (`GraftSessionSpec`,
  * `CheckpointsSpec`, `ParquetSchemaSpec`, `llm.TokensSpec`,
  * `etl.SnapshotSpec`): where a call appears in code. */
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

  private def scalaFiles(root: String): Seq[Path] = {
    val dir = Paths.get(root)
    assert(Files.isDirectory(dir),
      s"$root not found from ${Paths.get("").toAbsolutePath}")
    val walk = Files.walk(dir)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }
}
