package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** A timed interval around one call into a layer of the engine. Spans
  * of one workload iteration share `iter`; `parent` is 0 for the
  * iteration's root span.
  */
final case class Span(id: Int, name: String, parent: Int, iter: Int,
                      startMs: Long, endMs: Long, wallNs: Long)

/** Work Spark did on behalf of one span, summed over its jobs, stages
  * and tasks (times in ms, sizes in bytes).
  */
final class Counters {
  var jobs, stages, oneTaskStages, tasks = 0L
  var execRunMs, shuffleWrite, shuffleRead, spill, bytesRead, bytesWritten = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  val jobIntervals = mutable.ArrayBuffer[(Long, Long)]()

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; oneTaskStages += o.oneTaskStages
    tasks += o.tasks; execRunMs += o.execRunMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    spill += o.spill; bytesRead += o.bytesRead; bytesWritten += o.bytesWritten
    analysisMs += o.analysisMs; optimizationMs += o.optimizationMs
    planningMs += o.planningMs; jobIntervals ++= o.jobIntervals
  }
}

/** Records spans around the benchmark's calls into the engine and,
  * while attached, the events Spark's public listener interfaces
  * report: jobs, stages and tasks (SparkListener), query-planning
  * phases (QueryExecutionListener) and micro-batch durations
  * (StreamingQueryListener). Each event is attributed to the span
  * that caused it: jobs carry the submitting thread's span id as a
  * local property; events without one (streaming micro-batches run on
  * the stream's own thread) go to the innermost span open at the time.
  * Everything stays in memory until [[write]].
  */
final class Recorder(spark: SparkSession) {
  import Recorder.{Job, Task}
  private val sc = spark.sparkContext
  private val SpanKey = "perfbench.span"

  private val spans = mutable.ArrayBuffer[Span]()
  private var open: List[(Int, String, Long, Long)] = Nil
  private var nextId = 1
  @volatile private var attached = false

  private val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Job]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val stageTasks = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Int)]()
  private val tasks = new java.util.concurrent.ConcurrentLinkedQueue[Task]()
  private val phases = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Long)]()
  /** durationMs of each micro-batch that carried input rows. */
  val streamBatches = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Long]]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val sp = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey))).map(_.toInt)
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
      jobs.add(Job(e.jobId, sp, e.time, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.asScala.find(_.id == e.jobId).foreach(_.endMs = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stageTasks.add((e.stageInfo.stageId, e.stageInfo.numTasks))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) tasks.add(Task(e.stageId, m.executorRunTime,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit =
      qe.tracker.phases.foreach { case (n, p) => phases.add((n, p.startTimeMs, p.endTimeMs)) }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.numInputRows > 0)
        streamBatches.add(e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
  }

  def attach(): Unit = if (!attached) {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    attached = true
  }

  /** Detach and wait until every event already posted has been seen. */
  def detach(): Unit = if (attached) {
    org.apache.spark.PerfbenchDrain(sc)
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    attached = false
  }

  /** Run `body` inside a span named `name` when attached; otherwise
    * just run it.
    */
  def span[T](name: String, iter: Int)(body: => T): T =
    if (!attached) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.map(_._1).getOrElse(0)
      open = (id, name, System.currentTimeMillis(), System.nanoTime()) :: open
      sc.setLocalProperty(SpanKey, id.toString)
      try body
      finally {
        val (_, _, s0, n0) = open.head
        spans += Span(id, name, parent, iter, s0, System.currentTimeMillis(),
                      System.nanoTime() - n0)
        open = open.tail
        sc.setLocalProperty(SpanKey, open.headOption.map(_._1.toString).orNull)
      }
    }

  def allSpans: Seq[Span] = spans.toSeq

  /** Innermost recorded span containing time `t` (ms). */
  private def at(t: Long): Option[Int] =
    spans.filter(s => s.startMs <= t && t <= s.endMs).maxByOption(s => (s.startMs, s.id)).map(_.id)

  /** Per-span counters (own events only, not children's). Call after
    * [[detach]].
    */
  def counters(): Map[Int, Counters] = {
    val out = mutable.Map[Int, Counters]()
    def of(id: Int) = out.getOrElseUpdate(id, new Counters)
    val jobSpan = mutable.Map[Int, Int]()
    jobs.asScala.foreach { j =>
      j.span.orElse(at(j.startMs)).foreach { s =>
        jobSpan(j.id) = s
        val c = of(s)
        c.jobs += 1
        c.jobIntervals += ((j.startMs, if (j.endMs < 0) j.startMs else j.endMs))
      }
    }
    def stageSpan(st: Int) = Option(stageJob.get(st)).flatMap(j => jobSpan.get(j))
    stageTasks.asScala.foreach { case (st, n) =>
      stageSpan(st).foreach { s =>
        val c = of(s)
        c.stages += 1
        if (n == 1) c.oneTaskStages += 1
      }
    }
    tasks.asScala.foreach { t =>
      stageSpan(t.stageId).foreach { s =>
        val c = of(s)
        c.tasks += 1; c.execRunMs += t.runMs; c.shuffleWrite += t.shufW
        c.shuffleRead += t.shufR; c.spill += t.spill
        c.bytesRead += t.in; c.bytesWritten += t.out
      }
    }
    phases.asScala.foreach { case (n, s0, s1) =>
      at(s0).foreach { s =>
        val c = of(s)
        n match {
          case "analysis" => c.analysisMs += s1 - s0
          case "optimization" => c.optimizationMs += s1 - s0
          case "planning" => c.planningMs += s1 - s0
          case _ => ()
        }
      }
    }
    out.toMap
  }

  /** Spans and their counters as JSON, for offline inspection. */
  def write(path: java.nio.file.Path): Unit = {
    val cs = counters()
    val rows = spans.sortBy(_.id).map { s =>
      val c = cs.getOrElse(s.id, new Counters)
      Json.obj(Seq(
        "id" -> Json.num(s.id), "name" -> Json.str(s.name),
        "parent" -> Json.num(s.parent), "iter" -> Json.num(s.iter),
        "start_ms" -> Json.num(s.startMs), "end_ms" -> Json.num(s.endMs),
        "wall_ms" -> Json.num(s.wallNs / 1e6), "jobs" -> Json.num(c.jobs),
        "tasks" -> Json.num(c.tasks), "exec_run_ms" -> Json.num(c.execRunMs),
        "shuffle_write_b" -> Json.num(c.shuffleWrite),
        "shuffle_read_b" -> Json.num(c.shuffleRead),
        "bytes_read_b" -> Json.num(c.bytesRead),
        "bytes_written_b" -> Json.num(c.bytesWritten)))
    }
    java.nio.file.Files.write(path, rows.mkString("[\n", ",\n", "\n]\n").getBytes("UTF-8"))
  }
}

object Recorder {
  private final case class Job(id: Int, span: Option[Int], startMs: Long,
                               stageIds: Seq[Int], var endMs: Long = -1L)
  private final case class Task(stageId: Int, runMs: Long, shufW: Long,
                                shufR: Long, spill: Long, in: Long, out: Long)

  /** Milliseconds of GC the JVM has done so far, over all collectors. */
  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime max 0L).sum

  /** (steal, total) jiffies of all CPUs so far, from /proc/stat; zeros
    * where that file does not exist. Steal is time the hypervisor gave
    * this machine's CPUs to someone else.
    */
  def cpuJiffies(): (Long, Long) =
    try {
      val f = scala.io.Source.fromFile("/proc/stat")
      try {
        val xs = f.getLines().next().split("\\s+").drop(1).map(_.toLong)
        (if (xs.length > 7) xs(7) else 0L, xs.sum)
      } finally f.close()
    } catch { case _: Exception => (0L, 0L) }

  /** Heap in use after a full collection, in MB: what the session retains. */
  def liveHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}
