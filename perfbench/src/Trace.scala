package perfbench

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Spark counters summed over the jobs that ran inside one span. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskMs = 0L
  var planMs = 0L
  var inputBytes = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L

  def +=(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; taskMs += o.taskMs
    planMs += o.planMs; inputBytes += o.inputBytes; shuffleReadBytes += o.shuffleReadBytes
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
  }
}

/** One timed call into a layer. Times are nanoseconds since the tracer
  * started; `parent` is the id of the enclosing span, -1 at the top.
  */
final case class Span(id: Int, name: String, parent: Int, runId: String,
    start: Long, var end: Long = -1L, counters: Counters = new Counters) {
  def seconds: Double = (end - start) / 1e9
}

/** Spans around the benchmark's calls into each layer, plus the Spark
  * counters of the jobs each span ran. A job is attributed through its job
  * group, which [[span]] sets to the innermost open span; planning phases
  * are attributed by their start time, since query-execution callbacks
  * arrive on the listener thread without the caller's job group. Spans are
  * kept in memory and written out by [[json]] when the run ends.
  *
  * Spans nest on one thread only: the benchmark is a closed loop with one
  * client, so there is never more than one open chain.
  */
final class Tracer(spark: SparkSession, runId: String) extends Spans {
  private val lock = new Object
  private val t0 = System.nanoTime()
  private val wallAtStart = System.currentTimeMillis()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val planEvents = mutable.ArrayBuffer.empty[(Long, Long)] // (start ns, ms)

  private val groupPrefix = s"perfbench-$runId-"

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      group.filter(_.startsWith(groupPrefix)).foreach { g =>
        val id = g.stripPrefix(groupPrefix).toInt
        spans(id).counters.jobs += 1
        e.stageIds.foreach(s => stageSpan(s) = id)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      stageSpan.get(e.stageInfo.stageId).foreach(id => spans(id).counters.stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val m = e.taskMetrics
      for (id <- stageSpan.get(e.stageId) if m != null) {
        val c = spans(id).counters
        c.tasks += 1
        c.taskMs += m.executorRunTime
        c.inputBytes += m.inputMetrics.bytesRead
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases.values
      if (phases.nonEmpty) lock.synchronized {
        // phase times are wall-clock ms; move the earliest start onto the
        // tracer's clock so it can be matched against span intervals
        val startMs = phases.map(_.startTimeMs).min
        planEvents += (((startMs - wallAtStart) * 1000000L, phases.map(_.durationMs).sum))
      }
    }
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  /** Run `body` as a span named `name`; its Spark jobs carry the span's
    * job group. The group of the enclosing span is restored afterwards.
    */
  def span[T](name: String)(body: => T): T = {
    val sc = spark.sparkContext
    val s = lock.synchronized {
      val s = Span(spans.size, name, open.headOption.map(_.id).getOrElse(-1), runId,
        System.nanoTime() - t0)
      spans += s
      s
    }
    open = s :: open
    sc.setJobGroup(groupPrefix + s.id, name, interruptOnCancel = false)
    try body
    finally {
      s.end = System.nanoTime() - t0
      open = open.tail
      open.headOption match {
        case Some(p) => sc.setJobGroup(groupPrefix + p.id, p.name, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Wait for every queued listener event, then attribute planning time. */
  def finish(): Unit = {
    ListenerDrain.drain(spark.sparkContext)
    lock.synchronized {
      for ((at, ms) <- planEvents) {
        val covering = spans.filter(s => s.start <= at && at < s.end)
        if (covering.nonEmpty) covering.maxBy(_.start).counters.planMs += ms
      }
      planEvents.clear()
    }
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  def all: Seq[Span] = lock.synchronized(spans.toList)

  /** Counters of a span and every span below it. */
  def inclusive(root: Span): Counters = {
    val byParent = all.groupBy(_.parent)
    val out = new Counters
    def walk(s: Span): Unit = { out += s.counters; byParent.getOrElse(s.id, Nil).foreach(walk) }
    walk(root)
    out
  }

  def json: String = all.map { s =>
    val c = s.counters
    Json.obj(Seq(
      "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "run_id" -> s.runId,
      "start_s" -> s.start / 1e9, "end_s" -> s.end / 1e9,
      "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
      "task_s" -> c.taskMs / 1e3, "plan_s" -> c.planMs / 1e3,
      "input_mb" -> c.inputBytes / 1e6, "shuffle_read_mb" -> c.shuffleReadBytes / 1e6,
      "shuffle_write_mb" -> c.shuffleWriteBytes / 1e6, "spill_mb" -> c.spillBytes / 1e6))
  }.mkString("[\n", ",\n", "\n]")
}
