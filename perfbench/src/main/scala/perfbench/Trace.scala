package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters the listeners attach to one span. */
final class Counters {
  var jobs, stages, tasks, actions, outputFiles = 0L
  var taskRunMs, taskCpuNs, gcMs, fetchWaitMs = 0L
  var shuffleWriteB, shuffleReadB, spillB = 0L
  var inputB, inputRows, outputB, outputRows = 0L
  var planMs = 0.0
  val jobIntervals = ArrayBuffer.empty[(Long, Long)] // epoch ms

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; actions += o.actions
    outputFiles += o.outputFiles; taskRunMs += o.taskRunMs
    taskCpuNs += o.taskCpuNs; gcMs += o.gcMs; fetchWaitMs += o.fetchWaitMs
    shuffleWriteB += o.shuffleWriteB; shuffleReadB += o.shuffleReadB
    spillB += o.spillB; inputB += o.inputB; inputRows += o.inputRows
    outputB += o.outputB; outputRows += o.outputRows; planMs += o.planMs
    jobIntervals ++= o.jobIntervals
  }
}

/** One call into a layer, made by the benchmark. Times are epoch nanos
  * (epoch-anchored so they line up with listener event times).
  */
final case class Span(id: Int, parent: Int, op: Long, layer: String,
    name: String, start: Long, var end: Long = -1L) {
  def dur: Long = end - start
}

/** In-memory spans around every call the benchmark makes into a layer,
  * plus the listeners whose counters are attached to those spans. Spans
  * are kept in memory and written out once, when the run ends.
  *
  * Attribution: a span's id is set as a local property of the client
  * thread, so every Spark job it launches carries it; task and stage
  * counters follow their job. A QueryExecution is attributed through its
  * SQL execution id, which its jobs also carry.
  */
final class Trace(spark: SparkSession) {
  private val sc: SparkContext = spark.sparkContext
  private val SpanKey = "perfbench.span"
  private val t0Nanos = System.nanoTime()
  private val t0EpochNanos = System.currentTimeMillis() * 1000000L

  /** Epoch-anchored monotonic nanos. */
  def now(): Long = t0EpochNanos + (System.nanoTime() - t0Nanos)

  @volatile var enabled = false
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  var op = 0L

  private val counters = new ConcurrentHashMap[Int, Counters]()
  private def countersOf(span: Int): Counters =
    counters.computeIfAbsent(span, _ => new Counters)
  private val jobSpan = new ConcurrentHashMap[Int, Int]()
  private val jobStart = new ConcurrentHashMap[Int, Long]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val execSpan = new ConcurrentHashMap[Long, Int]()
  private val pendingQe = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Counters)]()
  val streamBatches = new java.util.concurrent.atomic.AtomicLong()
  val streamBatchMs = new java.util.concurrent.atomic.AtomicLong()

  def span[T](layer: String, name: String)(f: => T): T =
    if (!enabled) f
    else {
      val s = Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), op,
        layer, name, now())
      spans += s
      stack = s :: stack
      sc.setLocalProperty(SpanKey, s.id.toString)
      sc.setJobDescription(s"$layer:$name")
      try f
      finally {
        s.end = now()
        stack = stack.tail
        sc.setLocalProperty(SpanKey, stack.headOption.map(_.id.toString).orNull)
        sc.setJobDescription(stack.headOption.map(p => s"${p.layer}:${p.name}").orNull)
      }
    }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val sp = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
        .map(_.toInt).getOrElse(-1)
      jobSpan.put(e.jobId, sp)
      e.stageIds.foreach(st => stageSpan.putIfAbsent(st, sp))
      Option(e.properties)
        .flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
        .foreach(x => execSpan.putIfAbsent(x.toLong, sp))
      jobStart.put(e.jobId, e.time)
      val c = countersOf(sp)
      c.synchronized { c.jobs += 1 }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val c = countersOf(jobSpan.getOrDefault(e.jobId, -1))
      val start = jobStart.getOrDefault(e.jobId, e.time)
      c.synchronized { c.jobIntervals += ((start, e.time)) }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val c = countersOf(stageSpan.getOrDefault(e.stageInfo.stageId, -1))
      c.synchronized { c.stages += 1 }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val c = countersOf(stageSpan.getOrDefault(e.stageId, -1))
      c.synchronized {
        c.tasks += 1
        if (m != null) {
          c.taskRunMs += m.executorRunTime
          c.taskCpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.spillB += m.diskBytesSpilled + m.memoryBytesSpilled
          c.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
          c.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
          c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          c.inputB += m.inputMetrics.bytesRead
          c.inputRows += m.inputMetrics.recordsRead
          c.outputB += m.outputMetrics.bytesWritten
          c.outputRows += m.outputMetrics.recordsWritten
          // a file write task writes one file per output partition it holds
          if (m.outputMetrics.bytesWritten > 0) c.outputFiles += 1
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val c = new Counters
      c.actions = 1
      c.planMs = Seq("analysis", "optimization", "planning")
        .flatMap(p => qe.tracker.phases.get(p)).map(_.durationMs.toDouble).sum
      pendingQe.add((qe.id, c))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      streamBatches.incrementAndGet()
      streamBatchMs.addAndGet(
        Option(e.progress.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L))
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Turn tracing on or off for the next pass: listeners are only
    * registered while it is on, so untraced passes pay nothing for them.
    */
  def setEnabled(on: Boolean): Unit = if (on != enabled) {
    if (on) {
      sc.addSparkListener(sparkListener)
      spark.listenerManager.register(qeListener)
      spark.streams.addListener(streamListener)
    } else {
      settle()
      sc.removeSparkListener(sparkListener)
      spark.listenerManager.unregister(qeListener)
      spark.streams.removeListener(streamListener)
    }
    enabled = on
  }

  /** Listener events are delivered asynchronously; wait until the
    * counters stop moving before reading them.
    */
  def settle(): Unit = {
    def snapshot = (counters.values.asScala.map(c => c.synchronized(c.tasks + c.jobs)).sum,
      pendingQe.size)
    var prev = snapshot
    var stable = 0
    while (stable < 3) {
      Thread.sleep(50)
      val cur = snapshot
      if (cur == prev) stable += 1 else { stable = 0; prev = cur }
    }
  }

  /** Counters of every span. A query execution that ran no job has no
    * span id to follow; its counters go to the unattributed span -1.
    */
  def spanCounters(): Map[Int, Counters] = {
    var e = pendingQe.poll()
    while (e != null) {
      val (id, c) = e
      val target = countersOf(execSpan.getOrDefault(id, -1))
      target.synchronized(target.add(c))
      e = pendingQe.poll()
    }
    counters.asScala.toMap
  }
}

object Trace {
  /** Length of the union of intervals (any unit). */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(x => x._2 >= x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
