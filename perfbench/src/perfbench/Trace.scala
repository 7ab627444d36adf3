package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Counters one SparkListener folds per span: everything the `exec`
  * layer reports. Task-level fields come from TaskEnd metrics. */
final class ExecCounters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var failedTasks = 0L
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var recordsWritten = 0L

  def +=(o: ExecCounters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    failedTasks += o.failedTasks; taskRunMs += o.taskRunMs
    taskCpuNs += o.taskCpuNs
    shuffleWriteBytes += o.shuffleWriteBytes
    shuffleReadBytes += o.shuffleReadBytes
    spillBytes += o.spillBytes; recordsWritten += o.recordsWritten
  }
}

/** One timed call boundary. `key` is the per-query or per-file id;
  * `gcMs0`/`gcMs1` are the JVM's collector time at open and close. */
final case class Span(id: Int, name: String, key: String, parent: Int,
                      startNs: Long, gcMs0: Long,
                      var endNs: Long = -1L, var gcMs1: Long = -1L)

object Span {
  def jvmGcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).filter(_ >= 0).sum
}

/** The traced run's recorder. Spans are opened and closed by the single
  * client thread; Spark jobs carry the innermost open span's id as a job
  * local property, so the listener attributes every job, stage and task
  * to the span that launched it no matter when the listener bus delivers
  * the event. Everything stays in memory until [[write]] at the end.
  *
  * Spans are recorded only while the listeners are attached: never in an
  * untraced run, and not in a traced run's untraced samples. */
final class Trace(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private val counters = new ConcurrentHashMap[Int, ExecCounters]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  /** Streaming progress events, in arrival order. */
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[
    StreamingQueryListener.QueryProgressEvent]()
  private var sc: SparkContext = _
  private var session: SparkSession = _
  @volatile private var attached = false
  private val sentinelSeen = new java.util.concurrent.atomic.AtomicLong(0)

  val PropKey = "perfbench.span"

  private def countersOf(span: Int): ExecCounters =
    counters.computeIfAbsent(span, _ => new ExecCounters)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p =>
        Option(p.getProperty(PropKey))).map(_.toInt).getOrElse(-1)
      if (span == -2) {
        e.stageInfos.foreach(s => stageSpan.put(s.stageId, -2))
        sentinelSeen.incrementAndGet(); return
      }
      val c = countersOf(span)
      c.synchronized(c.jobs += 1)
      e.stageInfos.foreach(s => stageSpan.put(s.stageId, span))
    }
    // submitted, not declared: a job's skipped stages never run
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val span = stageSpan.getOrDefault(e.stageInfo.stageId, -1)
      if (span == -2) return
      val c = countersOf(span)
      c.synchronized(c.stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val span = stageSpan.getOrDefault(e.stageId, -1)
      if (span == -2) return
      val c = countersOf(span)
      c.synchronized {
        c.tasks += 1
        if (!e.taskInfo.successful) c.failedTasks += 1
        val m = e.taskMetrics
        if (m != null) {
          c.taskRunMs += m.executorRunTime
          c.taskCpuNs += m.executorCpuTime
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          c.recordsWritten += m.outputMetrics.recordsWritten
        }
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def bind(spark: SparkSession): Unit = {
    session = spark; sc = spark.sparkContext
    if (enabled) attach()
  }

  def isAttached: Boolean = attached

  /** Register both listeners (traced run only). */
  def attach(): Unit = if (enabled && !attached) {
    sc.addSparkListener(sparkListener)
    session.streams.addListener(streamListener)
    attached = true
  }

  /** A traced run alternates traced and untraced units (even turns
    * traced); the difference between the two is `trace.overhead_pct`. */
  def alternate(turn: Int): Unit =
    if (enabled) { if (turn % 2 == 0) attach() else detach() }

  /** Unregister both listeners: the traced run's untraced samples, from
    * which `trace.overhead_pct` is computed. */
  def detach(): Unit = if (attached) {
    flush()
    sc.removeSparkListener(sparkListener)
    session.streams.removeListener(streamListener)
    attached = false
  }

  /** Open a span, run `body`, close it. Jobs launched inside are tagged
    * with this span. A no-op while detached. */
  def span[T](name: String, key: String = "")(body: => T): T =
    if (!attached) body
    else {
      val s = open(name, key)
      try body finally close(s)
    }

  def open(name: String, key: String = ""): Span = {
    val parent = if (stack.isEmpty) -1 else stack.top.id
    val s = Span(spans.size, name, key, parent, System.nanoTime(), Span.jvmGcMs())
    spans += s
    stack.push(s)
    sc.setLocalProperty(PropKey, s.id.toString)
    s
  }

  def close(s: Span): Unit = {
    s.endNs = System.nanoTime()
    s.gcMs1 = Span.jvmGcMs()
    while (stack.nonEmpty && stack.top.id != s.id) stack.pop()
    if (stack.nonEmpty) stack.pop()
    sc.setLocalProperty(PropKey,
      if (stack.isEmpty) null else stack.top.id.toString)
  }

  /** Block until the listener bus has delivered every event posted before
    * this call: the bus is FIFO, so seeing a sentinel job's start means
    * all earlier task ends were folded. */
  def flush(): Unit = if (attached) {
    val before = sentinelSeen.get()
    val prev = sc.getLocalProperty(PropKey)
    sc.setLocalProperty(PropKey, "-2")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(PropKey, prev)
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (sentinelSeen.get() == before && System.nanoTime() < deadline)
      Thread.sleep(2)
  }

  /** Block until the stream listener holds the progress events of `n`
    * batches of `runId` that read input. Streaming events travel on a
    * listener queue of their own, which [[flush]] does not drain. (A run's
    * idle progress may be recorded without being posted, so only batches
    * that read input are awaited; they are the ones the metrics use.) */
  def awaitBatches(runId: java.util.UUID, n: Int): Unit = if (attached) {
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    def held = progress.asScala.count(e =>
      e.progress.runId == runId && e.progress.numInputRows > 0)
    while (held < n && System.nanoTime() < deadline) Thread.sleep(2)
  }

  def all: Seq[Span] = spans.toSeq

  /** Counters of `s` and every span nested under it. */
  def countersUnder(s: Span): ExecCounters = {
    val kids = spans.groupBy(_.parent)
    val acc = new ExecCounters
    def walk(x: Span): Unit = {
      Option(counters.get(x.id)).foreach(c => c.synchronized(acc += c))
      kids.getOrElse(x.id, Nil).foreach(walk)
    }
    walk(s)
    acc
  }

  def seconds(s: Span): Double = (s.endNs - s.startNs) / 1e9

  /** Write every span, one JSON object a line, with its own counters. */
  def write(path: java.nio.file.Path, t0Ns: Long): Unit = if (enabled) {
    java.nio.file.Files.createDirectories(path.getParent)
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.foreach { s =>
      val c = Option(counters.get(s.id)).getOrElse(new ExecCounters)
      w.write(Json.obj(
        "id" -> s.id, "name" -> s.name, "key" -> s.key, "parent" -> s.parent,
        "start_s" -> (s.startNs - t0Ns) / 1e9, "end_s" -> (s.endNs - t0Ns) / 1e9,
        "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
        "failed_tasks" -> c.failedTasks, "task_run_ms" -> c.taskRunMs,
        "task_cpu_ms" -> c.taskCpuNs / 1e6, "gc_ms" -> (s.gcMs1 - s.gcMs0),
        "shuffle_write_bytes" -> c.shuffleWriteBytes,
        "shuffle_read_bytes" -> c.shuffleReadBytes,
        "spill_bytes" -> c.spillBytes,
        "records_written" -> c.recordsWritten))
      w.newLine()
    } finally w.close()
  }
}
