package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spark counters summed over the jobs attributed to one key. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var fetchWaitMs = 0L
  var spillBytes = 0L
  var outputBytes = 0L
  var writeTasks = 0L

  def +=(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; cpuNs += o.cpuNs
    gcMs += o.gcMs; shuffleWriteBytes += o.shuffleWriteBytes
    fetchWaitMs += o.fetchWaitMs; spillBytes += o.spillBytes
    outputBytes += o.outputBytes; writeTasks += o.writeTasks
  }
}

/** One streaming trigger as reported by the query's progress event. */
final case class Trigger(
    queryId: String, batchId: Long, startMs: Long, durations: Map[String, Long],
    inputRows: Long)

/** A harness-side span around one public call. `key` is the job group
  * its Spark jobs carry (`<run>/<name>#<n>`), so the span's counters
  * are the jobs under that key. Streaming triggers run under their
  * query's own job group and are counted per (query, batch) instead. */
final case class Span(
    name: String, parent: Option[String], startNs: Long, endNs: Long,
    key: String) {
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Collects spans and Spark's own listener counters. Listener events
  * arrive asynchronously, so counters are read only after the
  * SparkContext has stopped (which drains the listener bus). */
final class Recorder(spark: SparkSession, val traced: Boolean) {
  private val sc = spark.sparkContext
  private val stageKey = new ConcurrentHashMap[Int, String]()
  private val byKey = new ConcurrentHashMap[String, Counters]()
  // (start, end) in epoch ms of every finished job
  private val jobStart = new ConcurrentHashMap[Int, Long]()
  private val jobSpans = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
  private val triggerQ = new java.util.concurrent.ConcurrentLinkedQueue[Trigger]()
  private val terminated = new ConcurrentHashMap[String, java.lang.Boolean]()
  val spans = mutable.ArrayBuffer.empty[Span]
  /** while active, calls run as spans (job groups set); spans are kept
    * only while `keep` is set too, under run id `run` */
  @volatile var active = false
  @volatile var keep = false
  @volatile var run = "t0"
  private val seq = new java.util.concurrent.atomic.AtomicLong()
  // epoch-ms ↔ nanoTime anchor, to place listener times on span clocks
  private val anchorMs = System.currentTimeMillis()
  private val anchorNs = System.nanoTime()
  def msToNs(ms: Long): Long = anchorNs + (ms - anchorMs) * 1000000L

  private def counters(k: String): Counters =
    byKey.computeIfAbsent(k, _ => new Counters)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      val group = p.flatMap(x => Option(x.getProperty("spark.jobGroup.id")))
        .getOrElse("untracked")
      // a streaming trigger's jobs carry its query id and batch id
      val batch = p.flatMap(x => Option(x.getProperty("streaming.sql.batchId")))
      val query = p.flatMap(x => Option(x.getProperty("sql.streaming.queryId")))
      val k = batch.fold(group)(b => Recorder.triggerKey(query.getOrElse("?"), b.toLong))
      jobStart.put(e.jobId, e.time)
      e.stageIds.foreach(s => stageKey.putIfAbsent(s, k))
      counters(k).synchronized { counters(k).jobs += 1 }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.get(e.jobId)).foreach(s => jobSpans.add((s, e.time)))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageKey.get(e.stageInfo.stageId)).foreach { k =>
        val c = counters(k)
        c.synchronized { c.stages += 1 }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val c = counters(Option(stageKey.get(e.stageId)).getOrElse("untracked"))
        c.synchronized {
          c.tasks += 1
          c.cpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          c.outputBytes += m.outputMetrics.bytesWritten
          if (m.outputMetrics.recordsWritten > 0) c.writeTasks += 1
        }
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      triggerQ.add(Trigger(p.id.toString, p.batchId, start,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        p.numInputRows))
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      terminated.put(e.id.toString, true)
  }

  // trigger durations are an end-to-end measurement, so the streaming
  // listener is on in every run; job counters only when traced
  spark.streams.addListener(streamListener)
  if (traced) sc.addSparkListener(sparkListener)

  /** Run `body` as span `name` (its jobs tagged with a job group). */
  def span[A](name: String, parent: Option[String] = None)(body: => A): A = {
    val key = s"$run/$name#${seq.incrementAndGet()}"
    val on = active
    if (on) sc.setJobGroup(key, name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      if (on) {
        sc.clearJobGroup()
        if (keep) spans.synchronized { spans += Span(name, parent, t0, t1, key) }
      }
    }
  }

  /** Wait (bounded) until the streaming query's termination event has
    * been delivered, i.e. every progress event before it too. */
  def awaitStreamEvents(timeoutMs: Long = 20000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (terminated.isEmpty && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
  }

  /** Drain the collected triggers (those delivered so far). */
  def takeTriggers(): Seq[Trigger] = {
    val out = mutable.ArrayBuffer.empty[Trigger]
    var t = triggerQ.poll()
    while (t != null) { out += t; t = triggerQ.poll() }
    terminated.clear()
    out.sortBy(t => (t.startMs, t.batchId)).toSeq
  }

  /** Counters of every job whose key starts with `prefix`. */
  def countersFor(prefix: String): Counters = {
    val c = new Counters
    byKey.asScala.foreach { case (k, v) =>
      if (k == prefix || k.startsWith(prefix + "/")) c += v
    }
    c
  }

  /** Counters of one streaming trigger. */
  def triggerCounters(t: Trigger): Counters =
    countersFor(Recorder.triggerKey(t.queryId, t.batchId))

  /** Span wall time not covered by any Spark job (seconds). */
  def driverS(startNs: Long, endNs: Long): Double = {
    val iv = jobSpans.asScala.toSeq
      .map { case (s, e) => (math.max(msToNs(s), startNs), math.min(msToNs(e), endNs)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    math.max(0L, (endNs - startNs) - covered) / 1e9
  }

  /** The standard per-span record: wall, job counts and task totals
    * (`c`: the span's counters, `countersFor(s.key)` unless the span
    * also owns jobs run under another group). */
  def spanMetrics(s: Span, c: Counters): Seq[(String, Double, String)] =
    Seq(
      ("wall_s", s.wallS, "s"),
      ("jobs", c.jobs.toDouble, "count"),
      ("stages", c.stages.toDouble, "count"),
      ("tasks", c.tasks.toDouble, "count"),
      ("task_cpu_s", c.cpuNs / 1e9, "s"),
      ("task_gc_s", c.gcMs / 1e3, "s"),
      ("shuffle_write_mb", c.shuffleWriteBytes / 1e6, "MB"),
      ("shuffle_fetch_wait_s", c.fetchWaitMs / 1e3, "s"),
      ("spill_mb", c.spillBytes / 1e6, "MB"),
      ("driver_s", driverS(s.startNs, s.endNs), "s"))
}

object Recorder {
  def triggerKey(queryId: String, batchId: Long): String = s"stream/$queryId/$batchId"
}
