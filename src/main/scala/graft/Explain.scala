package graft

import java.nio.file.{Files, Paths}

/** Dev tool: dump `explain("formatted")` for every declared query so plans
  * can be reviewed for pushdown/broadcast/shuffle shape (the 100 TB design
  * review the builder prompt requires). Usage:
  * runMain graft.Explain <sfDir> <outFile> [queryName...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir  = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out    = if (args.length > 1) args(1) else "/tmp/explains.txt"
    val only   = args.drop(2).toSet
    // the session Bench runs, so the dumped plans are the benched plans
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only(n) }
      .foreach { case (name, fn) =>
        sb.append(s"\n==================== $name ====================\n")
        try sb.append(fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
        catch { case e: Throwable => sb.append(s"ERROR: ${e.getMessage}\n") }
      }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"wrote $out")
    spark.stop()
  }
}
