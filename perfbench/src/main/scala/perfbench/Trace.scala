package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One timed layer call: nanoTime bounds, enclosing span, op id. */
final case class Span(id: Int, name: String, start: Long, end: Long,
                      parent: Int, op: Long) {
  def seconds: Double = (end - start) / 1e9
}

/**
 * Benchmark-side tracing: spans around layer calls, kept in memory and
 * written out when the run ends. Spans nest by call order on the driver
 * thread; a span's self time is its duration minus its children's.
 * Disabled, a span is a plain call.
 */
final class Tracer(var enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var nextId = 0
  var op: Long = -1L

  def apply[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack.push(id)
      val t0 = System.nanoTime()
      try f
      finally {
        stack.pop()
        spans += Span(id, name, t0, System.nanoTime(), parent, op)
      }
    }

  def all: Seq[Span] = spans.toSeq

  /** Self seconds per span name: duration minus direct children. */
  def selfSeconds: Map[String, Double] = {
    val childNs = spans.groupMapReduce(_.parent)(s => s.end - s.start)(_ + _)
    spans.groupMapReduce(_.name)(s =>
      (s.end - s.start - childNs.getOrElse(s.id, 0L)) / 1e9)(_ + _)
  }

  def write(path: Path): Unit = {
    val lines = spans.sortBy(_.start).map { s =>
      s"""{"id":${s.id},"name":"${s.name}","start_ns":${s.start},"end_ns":${s.end},"parent":${s.parent},"op":${s.op}}"""
    }
    Files.write(path, lines.mkString("", "\n", "\n").getBytes(UTF_8))
  }
}

/** Task-level totals for one job group (or for everything). */
final class TaskTotals {
  var jobs = 0L
  var tasks = 0L
  var taskMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var gcMs = 0L
  def taskSeconds: Double = taskMs / 1e3
  def shuffleMb: Double = shuffleWriteBytes / 1048576.0
}

/**
 * SparkListener counting jobs, tasks, executor run time, shuffle write,
 * spill and GC — in total and per job group (the benchmark sets a group
 * around each board entry). Task durations are kept per stage for the
 * skew figure. Events arrive on the listener bus; drain it
 * ([[org.apache.spark.perfbench.ListenerBusDrain]]) before reading.
 */
final class JobStats extends SparkListener {
  private val GroupKey = "spark.jobGroup.id"
  private var total = new TaskTotals
  private val groups = mutable.HashMap.empty[String, TaskTotals]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val stageTasks = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).map(_.getProperty(GroupKey)).orNull
    total.jobs += 1
    if (g != null) groups.getOrElseUpdate(g, new TaskTotals).jobs += 1
    e.stageIds.foreach(stageGroup(_) = g)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val g = stageGroup.getOrElse(e.stageId, null)
    val targets = Seq(total) ++ Option(g).map(groups.getOrElseUpdate(_, new TaskTotals))
    targets.foreach { t =>
      t.tasks += 1
      if (m != null) {
        t.taskMs += m.executorRunTime
        t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        t.spillBytes += m.diskBytesSpilled
        t.gcMs += m.jvmGCTime
      }
    }
    stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
  }

  def reset(): Unit = synchronized {
    total = new TaskTotals
    groups.clear()
    stageTasks.clear()
  }

  def totals: TaskTotals = synchronized(total)
  def group(g: String): TaskTotals = synchronized(groups.getOrElse(g, new TaskTotals))

  /** Worst stage's max ÷ median task time, over stages with ≥ 2 tasks. */
  def taskSkew: Double = synchronized {
    val ratios = stageTasks.values.filter(_.size >= 2).map { d =>
      val s = d.sorted
      s.last.toDouble / math.max(1L, s(s.size / 2))
    }
    if (ratios.isEmpty) 1.0 else ratios.max
  }
}

/** Micro-batch record from one StreamingQueryProgress. */
final case class BatchProgress(batchId: Long, endMs: Long, rows: Long,
                               durations: Map[String, Long])

/** StreamingQueryListener keeping every progress event of the run. */
final class StreamStats extends StreamingQueryListener {
  private val batches = mutable.ArrayBuffer.empty[BatchProgress]

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    val dur = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    // commit instant = trigger start + trigger execution (includes the
    // commit-log write); independent of listener-bus delivery delay
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli
    batches += BatchProgress(p.batchId, start + dur.getOrElse("triggerExecution", 0L),
      p.numInputRows, dur)
  }

  def reset(): Unit = synchronized(batches.clear())
  def all: Seq[BatchProgress] = synchronized(batches.toSeq)
}
