// Dev scratch (r14): per-JOB wall/task-time breakdown of one declared
// query — attributes a multi-action query's cost (iterative kernels,
// eager checkpoints, contract baselines) to its individual Spark jobs,
// which a whole-query timing cannot see. Run:
//   sbt "runMain graft.tools.ProfileJobs q302_lsh_index_snapshot [...]"
package graft.tools

import graft.{GraftSession, SparkEntry}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted}
import scala.collection.mutable

object ProfileJobs {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    case class Job(id: Int, var desc: String = "", var start: Long = 0L,
                   var end: Long = 0L, var taskMs: Long = 0L,
                   var stages: Int = 0,
                   var stageDetail: List[String] = Nil)
    val jobs = mutable.LinkedHashMap.empty[Int, Job]
    val stageToJob = mutable.Map.empty[Int, Int]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        val j = Job(e.jobId,
          props.flatMap(p => Option(p.getProperty("spark.job.description")))
            .orElse(props.flatMap(p => Option(p.getProperty("callSite.short"))))
            .getOrElse(""), e.time)
        jobs.synchronized { jobs(e.jobId) = j }
        e.stageIds.foreach(sid =>
          stageToJob.synchronized { stageToJob(sid) = e.jobId })
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.synchronized { jobs.get(e.jobId).foreach(_.end = e.time) }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val sid = e.stageInfo.stageId
        stageToJob.synchronized { stageToJob.get(sid) }.foreach { jid =>
          jobs.synchronized {
            jobs.get(jid).foreach { j =>
              val ms = e.stageInfo.taskMetrics.executorRunTime
              j.taskMs += ms
              j.stages += 1
              if (ms > 300)
                j.stageDetail = j.stageDetail :+
                  f"s$sid:${e.stageInfo.numTasks}t/${ms / 1e3}%.1fs"
            }
          }
        }
      }
    }
    args.foreach { name =>
      val fn = SparkEntry.queries(name)
      // warm pass (codegen/JIT) at the smallest fixture, unprofiled
      try graft.Checkpoints.freeingAfter(spark) {
        fn(spark, "/root/testdata/sf0.001")
          .write.format("noop").mode("overwrite").save()
      } catch { case e: Throwable =>
        System.err.println(s"warm-up $name failed: ${e.getMessage}")
      }
      jobs.clear(); stageToJob.clear()
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      graft.Checkpoints.freeingAfter(spark) {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      }
      val total = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.removeSparkListener(listener)
      Thread.sleep(200) // let the listener bus drain
      println(s"==== $name: total ${f"$total%.2f"} s, ${jobs.size} jobs ====")
      jobs.values.foreach { j =>
        val wall = (j.end - j.start) / 1e3
        println(f"  job ${j.id}%3d wall ${wall}%7.2f s  " +
          f"taskTime ${j.taskMs / 1e3}%8.2f s  stages ${j.stages}%2d  " +
          s"${j.stageDetail.mkString(" ")} ${j.desc.take(80)}")
      }
    }
    spark.stop()
  }
}
