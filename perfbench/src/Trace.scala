package perfbench

import graft.checkpoint.{Checkpointer, LocalCheckpointer}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One traced interval. Times are System.nanoTime values. */
final case class Span(id: Long, name: String, parent: Long, start: Long,
                      var end: Long = -1L)

/** Spark work attributed to one span: counters summed over its tasks. */
final class Counters {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var taskCpuNs = 0L; var taskRunMs = 0L
  var shuffleWriteB = 0L; var shuffleReadB = 0L; var spillB = 0L
  val taskRunTimes: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer.empty

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskCpuNs += o.taskCpuNs; taskRunMs += o.taskRunMs
    shuffleWriteB += o.shuffleWriteB; shuffleReadB += o.shuffleReadB
    spillB += o.spillB; taskRunTimes ++= o.taskRunTimes
  }

  /** Slowest task over the median task (1.0 for an even stage). */
  def taskSkew: Double =
    if (taskRunTimes.isEmpty) 0.0
    else {
      val s = taskRunTimes.sorted
      val med = math.max(Stats.median(s.map(_.toDouble).toSeq), 1.0)
      s.last / med
    }
}

/**
 * Benchmark-side tracer. Spans are kept in memory and written as JSON
 * lines when the run ends. While a span is open the driver thread's job
 * group is the span id, so the listener attributes every job, stage and
 * task to the innermost span that caused it. Jobs started without a
 * group (none expected) fall back to the innermost span containing their
 * start time.
 */
final class Tracer(val runId: String, sc: SparkContext) extends SparkListener {
  // listener timestamps are wall-clock millis; spans use nanoTime
  private val clockOffsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private val nextId = new AtomicLong(1)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil

  private final class Job(val group: Option[Long], val start: Long, var end: Long)
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stageTasks = new ConcurrentHashMap[Int, Counters]()
  private val completedStages = ConcurrentHashMap.newKeySet[Int]()

  def span[A](name: String)(body: => A): A = {
    val parent = stack.headOption.map(_.id).getOrElse(0L)
    val s = Span(nextId.getAndIncrement(), name, parent, System.nanoTime())
    spans.synchronized(spans += s)
    stack = s :: stack
    sc.setJobGroup(s.id.toString, name, interruptOnCancel = false)
    try body
    finally {
      s.end = System.nanoTime()
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(p.id.toString, p.name, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Blocks until the listener has seen every event posted so far. */
  def drain(): Unit = org.apache.spark.ListenerBusDrain(sc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).flatMap(_.toLongOption)
    jobs.put(e.jobId, new Job(group, e.time * 1000000L + clockOffsetNs, -1L))
    e.stageIds.foreach(st => stageJob.putIfAbsent(st, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time * 1000000L + clockOffsetNs)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    completedStages.add(e.stageInfo.stageId)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val c = stageTasks.computeIfAbsent(e.stageId, _ => new Counters)
      c.synchronized {
        c.tasks += 1
        c.taskCpuNs += m.executorCpuTime
        c.taskRunMs += m.executorRunTime
        c.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        c.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
        c.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
        c.taskRunTimes += m.executorRunTime
      }
    }
  }

  def allSpans: Seq[Span] = spans.synchronized(spans.toList)

  /** Innermost span owning a job: its group, else by start time. */
  private def owner(j: Job, byId: Map[Long, Span], ordered: Seq[Span]): Option[Long] =
    j.group.filter(byId.contains).orElse(ordered.reverseIterator
      .find(s => s.start <= j.start && (s.end < 0 || j.start <= s.end)).map(_.id))

  /** Counters per span, own work only (children not included). */
  def selfCounters(): Map[Long, Counters] = {
    drain()
    val ordered = allSpans.sortBy(_.start)
    val byId = ordered.map(s => s.id -> s).toMap
    val out = mutable.HashMap.empty[Long, Counters]
    def of(id: Long) = out.getOrElseUpdate(id, new Counters)
    val jobOwner = jobs.asScala.toMap.flatMap { case (jid, j) =>
      owner(j, byId, ordered).map(jid -> _) }
    jobOwner.values.foreach(of(_).jobs += 1)
    stageJob.asScala.foreach { case (st, jid) =>
      jobOwner.get(jid).foreach { sid =>
        if (completedStages.contains(st)) of(sid).stages += 1
        Option(stageTasks.get(st)).foreach(c => c.synchronized(of(sid).add(c)))
      }
    }
    out.toMap
  }

  /** Counters per span including every descendant span. */
  def inclusiveCounters(): Map[Long, Counters] = {
    val self = selfCounters()
    val children = allSpans.groupBy(_.parent)
    def incl(id: Long): Counters = {
      val c = new Counters
      self.get(id).foreach(c.add)
      children.getOrElse(id, Nil).foreach(ch => c.add(incl(ch.id)))
      c
    }
    allSpans.map(s => s.id -> incl(s.id)).toMap
  }

  /** Seconds of `s` during which no Spark job was running. */
  def driverOnlySeconds(s: Span): Double = {
    val iv = jobs.asScala.values.toSeq
      .map(j => (math.max(j.start, s.start), math.min(if (j.end < 0) s.end else j.end, s.end)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L; var curA = -1L; var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    (s.end - s.start - covered) / 1e9
  }

  /** Span duration minus the part of it its child spans cover. */
  def selfSeconds(s: Span): Double = {
    val kids = allSpans.filter(_.parent == s.id).map(k => k.end - k.start).sum
    (s.end - s.start - kids) / 1e9
  }

  /** Spans (with self time and own counters) as JSON lines. */
  def jsonLines(): Seq[String] = {
    val self = selfCounters()
    allSpans.sortBy(_.start).map { s =>
      val c = self.getOrElse(s.id, new Counters)
      Json.obj(Seq(
        "run_id" -> runId, "span_id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "start_ns" -> s.start, "end_ns" -> s.end,
        "wall_s" -> (s.end - s.start) / 1e9, "self_s" -> selfSeconds(s),
        "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
        "task_cpu_s" -> c.taskCpuNs / 1e9, "task_run_s" -> c.taskRunMs / 1e3,
        "shuffle_write_mb" -> c.shuffleWriteB / 1048576.0,
        "shuffle_read_mb" -> c.shuffleReadB / 1048576.0,
        "spill_mb" -> c.spillB / 1048576.0))
    }
  }
}

/** Wraps `body` in a span when tracing, and runs it bare otherwise. */
final class Scope(val tracer: Option[Tracer]) {
  def apply[A](name: String)(body: => A): A = tracer match {
    case Some(t) => t.span(name)(body)
    case None => body
  }

  /** The checkpointer handed to T2KPipeline.run: LocalCheckpointer, with
    * each stage in a `stage.<name>` span when tracing. Not durable, like
    * LocalCheckpointer, so the pipeline keeps its barrier elision. */
  def checkpointer: Checkpointer = tracer match {
    case None => LocalCheckpointer
    case Some(t) => new Checkpointer {
      def apply(name: String, df: => DataFrame): DataFrame =
        t.span(s"stage.$name")(LocalCheckpointer(name, df))
    }
  }
}
