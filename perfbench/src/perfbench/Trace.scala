package perfbench

import scala.collection.mutable

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate,
  SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Span recorder for the traced run. A span is one call boundary the
  * harness crosses (a workload op, a query, a checkpoint scope); it tags
  * every Spark job started inside it with `pb-<span id>`, so the engine's
  * work is attributed to the innermost call that caused it, whichever
  * thread (streaming, broadcast) ends up running the job. Times are
  * wall-clock microseconds, the clock Spark's own events carry. Spans stay
  * in memory until the run writes them out. */
final class Tracer(sc: SparkContext) {
  private val nano0 = System.nanoTime()
  private val micro0 = System.currentTimeMillis() * 1000L
  def nowUs: Long = micro0 + (System.nanoTime() - nano0) / 1000L

  final class Span(val id: Int, val parent: Int, val name: String,
                   val start: Long, val cycle: Int) {
    var end: Long = -1L
  }

  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  /** Off in untraced cycles: `span` is then a plain call. */
  var enabled = false
  var cycle = 0

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = new Span(spans.size + 1, stack.headOption.fold(0)(_.id), name,
        nowUs, cycle)
      spans += s
      stack = s :: stack
      val tag = Tracer.TagPrefix + s.id
      sc.addJobTag(tag)
      try body
      finally {
        s.end = nowUs
        sc.removeJobTag(tag)
        stack = stack.tail
      }
    }
}

object Tracer {
  val TagPrefix = "pb-"

  /** The innermost span among a job's tags (child ids exceed parents'). */
  def owner(tags: Iterable[String]): Int =
    tags.iterator.filter(_.startsWith(TagPrefix))
      .map(_.stripPrefix(TagPrefix).toInt).maxOption.getOrElse(0)
}

/** The engine-side listeners of a traced run: a SparkListener (jobs,
  * stages, tasks, SQL executions, AQE re-plans, RDD blocks), a
  * QueryExecutionListener (planning phases) and a StreamingQueryListener
  * (micro-batch progress). Counters are keyed by the owning span; events
  * that carry no tag (planning, progress, blocks) are kept with their
  * time and attributed to spans by interval when the run is summarised. */
final class Recorder(tracer: Tracer) extends SparkListener {
  val counters = mutable.HashMap.empty[Int, mutable.HashMap[String, Double]]
  /** (owner span, start µs, end µs) of every tagged job */
  val jobs = mutable.ArrayBuffer.empty[(Int, Long, Long)]
  /** (time µs, planning seconds) per SQL execution */
  val planning = mutable.ArrayBuffer.empty[(Long, Double)]
  /** (time µs, addBatch, walCommit, queryPlanning, triggerExecution) s */
  val progress = mutable.ArrayBuffer.empty[(Long, Double, Double, Double, Double)]
  /** (time µs, live RDD-block bytes, 1 if a block was added) */
  val blocks = mutable.ArrayBuffer.empty[(Long, Long, Int)]

  private val jobOwner = mutable.HashMap.empty[Int, (Int, Long)]
  private val stageOwner = mutable.HashMap.empty[Int, Int]
  private val stageSubmit = mutable.HashMap.empty[(Int, Int), Long]
  private val execOwner = mutable.HashMap.empty[Long, Int]
  private val liveBlocks = mutable.HashMap.empty[String, Long]
  private var liveBytes = 0L

  private def add(owner: Int, key: String, v: Double): Unit =
    if (owner > 0) {
      val m = counters.getOrElseUpdate(owner, mutable.HashMap.empty)
      m(key) = m.getOrElse(key, 0.0) + v
    }

  private def max(owner: Int, key: String, v: Double): Unit =
    if (owner > 0) {
      val m = counters.getOrElseUpdate(owner, mutable.HashMap.empty)
      m(key) = math.max(m.getOrElse(key, 0.0), v)
    }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tags = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.job.tags")))
      .fold(Seq.empty[String])(_.split(",").toSeq)
    val owner = Tracer.owner(tags)
    if (owner > 0) {
      jobOwner(e.jobId) = (owner, e.time * 1000L)
      e.stageIds.foreach(stageOwner(_) = owner)
      add(owner, "jobs", 1)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobOwner.remove(e.jobId).foreach { case (owner, start) =>
      jobs += ((owner, start, e.time * 1000L))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      val si = e.stageInfo
      stageOwner.get(si.stageId).foreach { owner =>
        stageSubmit((si.stageId, si.attemptNumber())) =
          si.submissionTime.getOrElse(System.currentTimeMillis())
        add(owner, "stages", 1)
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOwner.get(e.stageId).foreach { owner =>
      val info = e.taskInfo
      add(owner, "tasks", 1)
      if (e.reason != Success) add(owner, "tasks_failed", 1)
      stageSubmit.get((e.stageId, e.stageAttemptId)).foreach { t =>
        add(owner, "task_wait_s", math.max(0L, info.launchTime - t) / 1e3)
      }
      max(owner, "max_task_s", info.duration / 1e3)
      val m = e.taskMetrics
      if (m != null) {
        add(owner, "task_run_s", m.executorRunTime / 1e3)
        add(owner, "task_cpu_s", m.executorCpuTime / 1e9)
        add(owner, "gc_s", m.jvmGCTime / 1e3)
        add(owner, "shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        add(owner, "shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
        add(owner, "shuffle_fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
        add(owner, "spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
        add(owner, "input_rows", m.inputMetrics.recordsRead)
        add(owner, "input_bytes", m.inputMetrics.bytesRead)
        add(owner, "output_rows", m.outputMetrics.recordsWritten)
        add(owner, "output_bytes", m.outputMetrics.bytesWritten)
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
    synchronized {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD) {
        val id = b.blockId.name
        val size = b.memSize + b.diskSize
        val prev = liveBlocks.getOrElse(id, 0L)
        if (size > 0) liveBlocks(id) = size else liveBlocks.remove(id)
        liveBytes += size - prev
        blocks += ((tracer.nowUs, liveBytes, if (prev == 0 && size > 0) 1 else 0))
      }
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        val owner = Tracer.owner(s.jobTags)
        if (owner > 0) {
          execOwner(s.executionId) = owner
          add(owner, "executions", 1)
        }
      case u: SparkListenerSQLAdaptiveExecutionUpdate =>
        execOwner.get(u.executionId).foreach(add(_, "aqe_updates", 1))
      case _ => ()
    }
  }

  /** Planning phases of each SQL execution, from its QueryPlanningTracker. */
  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = Recorder.this.synchronized {
      val ph = qe.tracker.phases
      val plan = Seq("analysis", "optimization", "planning")
        .flatMap(ph.get).map(_.durationMs).sum / 1e3
      val at = ph.values.map(_.endTimeMs).maxOption
        .getOrElse(System.currentTimeMillis())
      planning += ((at * 1000L, plan))
    }
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit =
      record(qe)
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Recorder.this.synchronized {
        val p = e.progress
        def d(k: String): Double =
          Option(p.durationMs.get(k)).fold(0.0)(_.doubleValue / 1e3)
        val at = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L
        progress += ((at, d("addBatch"), d("walCommit"), d("queryPlanning"),
          d("triggerExecution")))
      }
  }

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  /** Everything recorded, as one JSON object (call after the listener
    * bus has drained). */
  def json(): String = synchronized {
    import Json._
    obj(Seq(
      "spans" -> arr(tracer.spans.map(s => arr(Seq(s.id.toString,
        s.parent.toString, str(s.name), s.start.toString, s.end.toString,
        s.cycle.toString)))),
      "jobs" -> arr(jobs.map { case (o, a, b) => arr(Seq(o, a, b).map(_.toString)) }),
      "counters" -> obj(counters.toSeq.sortBy(_._1).map { case (o, m) =>
        o.toString -> obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> num(v) })
      }),
      "planning" -> arr(planning.map { case (t, p) => arr(Seq(t.toString, num(p))) }),
      "progress" -> arr(progress.map { case (t, a, w, q, x) =>
        arr(t.toString +: Seq(a, w, q, x).map(num)) }),
      "blocks" -> arr(blocks.map { case (t, b, n) =>
        arr(Seq(t.toString, b.toString, n.toString)) })))
  }
}

/** Minimal JSON writer for the harness's result file. */
object Json {
  def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
