package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Cumulative Spark work, read from the public listener bus. The
  * difference of two [[Work]] snapshots is the work done in between.
  */
final case class Work(jobs: Long, taskMs: Long, shuffleBytes: Long,
                      outBytes: Long, outRecords: Long) {
  def -(o: Work): Work = Work(jobs - o.jobs, taskMs - o.taskMs,
    shuffleBytes - o.shuffleBytes, outBytes - o.outBytes, outRecords - o.outRecords)
}

final class Counters extends SparkListener {
  private val starts = mutable.Map.empty[Int, Long]
  private val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
  private var work = Work(0, 0, 0, 0, 0)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    starts(e.jobId) = e.time
    work = work.copy(jobs = work.jobs + 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    starts.remove(e.jobId).foreach(s => intervals += ((s, e.time)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
    synchronized {
      work = Work(work.jobs, work.taskMs + m.executorRunTime,
        work.shuffleBytes + m.shuffleWriteMetrics.bytesWritten,
        work.outBytes + m.outputMetrics.bytesWritten,
        work.outRecords + m.outputMetrics.recordsWritten)
    }
  }

  def snap(): Work = synchronized(work)

  /** Milliseconds of `[from, to]` during which at least one job ran. */
  def jobCoveredMs(from: Long, to: Long): Long = synchronized {
    val clipped = intervals.iterator
      .map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }.toSeq.sortBy(_._1)
    var covered = 0L
    var end = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s >= end) { covered += e - s; end = e }
      else if (e > end) { covered += e - end; end = e }
    }
    covered
  }
}

/** Cumulative `addBatch` milliseconds of every streaming trigger, from
  * the public progress events.
  */
final class StreamProgress extends StreamingQueryListener {
  private var addBatchMs = 0L
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    Option(e.progress.durationMs.get("addBatch")).foreach(ms => addBatchMs += ms.longValue)
  }
  def snap(): Long = synchronized(addBatchMs)
}

/** One timed region: a call into a layer, made by the benchmark. */
final case class Span(id: Int, parent: Int, op: Int, name: String, startMs: Long,
                      wallS: Double, work: Work, jobBusyS: Double,
                      attrs: Map[String, Double]) {
  /** Wall time no job covered: driver-side work of the layer. */
  def driverS: Double = math.max(0.0, wallS - jobBusyS)
}

/** Spans and counters of a traced run, kept in memory and written out
  * when the run ends. Spans nest through a stack; `op` groups the spans
  * of one closed-loop operation.
  */
final class Tracer(spark: SparkSession) {
  val counters = new Counters
  val stream = new StreamProgress
  spark.sparkContext.addSparkListener(counters)
  spark.streams.addListener(stream)

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0
  var op: Int = -1

  def drain(): Unit = org.apache.spark.BenchBus.drain(spark.sparkContext)

  def span[A](name: String)(body: => A): A = spanWith(name)(body)(_ => Map.empty)

  /** Time `body` as span `name`; `attrs` adds counts known only after it ran. */
  def spanWith[A](name: String)(body: => A)(attrs: A => Map[String, Double]): A = {
    drain()
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val before = counters.snap()
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try {
      val out = body
      val wall = (System.nanoTime() - t0) / 1e9
      drain()
      val endMs = startMs + (wall * 1000).toLong
      spans += Span(id, parent, op, name, startMs, wall, counters.snap() - before,
        counters.jobCoveredMs(startMs, endMs) / 1000.0, attrs(out))
      out
    } finally stack = stack.tail
  }

  def all: Seq[Span] = spans.toSeq
  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  def toJson: Seq[Any] = spans.toSeq.map { s =>
    Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
      "start_ms" -> s.startMs, "wall_s" -> s.wallS, "job_busy_s" -> s.jobBusyS,
      "jobs" -> s.work.jobs, "task_s" -> s.work.taskMs / 1000.0,
      "shuffle_bytes" -> s.work.shuffleBytes, "output_bytes" -> s.work.outBytes,
      "output_records" -> s.work.outRecords) ++ s.attrs
  }
}
