package perfbench

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One timed call from the benchmark into a layer. `op` groups the
  * spans of one benchmark operation (a query or a tick); `parent` is
  * 0 for the operation's root span. Times are System.nanoTime. */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    layer: String, start: Long, end: Long)

/** What Spark did on behalf of one owner: a span (jobs submitted while
  * the span was innermost on its thread) or a streaming query. */
final class Work {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, shuffleBytes, spillBytes, inputBytes = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)] // epoch ms
}

/** The traced run's recorder. Spans are kept in memory and written out
  * at the end; the span id travels to Spark as a local property, so the
  * listeners below attribute jobs, stages, tasks and SQL executions to
  * the innermost span of the thread that submitted them. Jobs that
  * streaming queries run carry the query id instead and are attributed
  * to the stream. With `on` false every method is a plain call. */
final class Trace(spark: SparkSession, val on: Boolean) {
  import Trace._

  val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(1)
  private val stack = new ThreadLocal[List[(Long, Long)]] {
    override def initialValue(): List[(Long, Long)] = Nil
  }
  /** Cleared to run one operation untraced inside a traced run. */
  @volatile var enabled: Boolean = on
  /** Nanoseconds spent inside the recorder and its listeners. */
  val selfNanos = new AtomicLong()

  private val work = new java.util.concurrent.ConcurrentHashMap[String, Work]()
  private val jobOwner = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]()
  private val stageOwner = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val streamNames = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val cachedBlocks = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private val cachedNow = new AtomicLong()
  val cachePeak = new AtomicLong()

  /** Forget attributed work (called when the timed phase starts). */
  def resetWork(): Unit = { work.clear(); executions.set(0); cachePeak.set(cachedNow.get) }

  def workOf(owner: String): Work = work.computeIfAbsent(owner, _ => new Work)
  def spanWork(id: Long): Option[Work] = Option(work.get(s"span:$id"))
  def streamWork(name: String): Work = workOf(s"stream:$name")
  def nameStream(queryId: String, name: String): Unit = streamNames.put(queryId, name)

  /** Id of the innermost open span on this thread (0 outside spans). */
  def currentId: Long = stack.get.headOption.map(_._1).getOrElse(0L)

  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val t = System.nanoTime()
      val outer = stack.get
      val id = ids.getAndIncrement()
      val (parent, op) = outer.headOption.getOrElse((0L, id))
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty(SpanKey)
      sc.setLocalProperty(SpanKey, id.toString)
      stack.set((id, if (parent == 0L) id else op) :: outer)
      selfNanos.addAndGet(System.nanoTime() - t)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        spans.add(Span(id, parent, if (parent == 0L) id else op, name, layer, t0, t1))
        stack.set(outer)
        sc.setLocalProperty(SpanKey, prev)
        selfNanos.addAndGet(System.nanoTime() - t1)
      }
    }

  private def timed(f: => Unit): Unit = {
    val t = System.nanoTime()
    try f finally selfNanos.addAndGet(System.nanoTime() - t)
  }

  private def ownerOf(props: java.util.Properties): Option[String] =
    Option(props).flatMap { p =>
      Option(p.getProperty(SpanKey)).map("span:" + _)
        .orElse(Option(p.getProperty(QueryIdKey)).flatMap(q => Option(streamNames.get(q)))
          .map("stream:" + _))
    }

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      ownerOf(e.properties).foreach { o =>
        jobOwner.put(e.jobId, (o, e.time))
        workOf(o).synchronized { workOf(o).jobs += 1 }
        e.stageInfos.foreach(s => stageOwner.putIfAbsent(s.stageId, o))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
      Option(jobOwner.remove(e.jobId)).foreach { case (o, t0) =>
        val w = workOf(o); w.synchronized { w.jobIntervals += ((t0, e.time)) }
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = timed {
      Option(stageOwner.get(e.stageInfo.stageId)).orElse(ownerOf(e.properties)).foreach { o =>
        stageOwner.put(e.stageInfo.stageId, o)
        val w = workOf(o); w.synchronized { w.stages += 1 }
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      Option(stageOwner.get(e.stageId)).foreach { o =>
        val m = e.taskMetrics
        val w = workOf(o)
        w.synchronized {
          w.tasks += 1
          if (m != null) {
            w.runMs += m.executorRunTime
            w.cpuNs += m.executorCpuTime
            w.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
            w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
            w.inputBytes += m.inputMetrics.bytesRead
          }
        }
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = timed {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD) {
        val size = b.memSize + b.diskSize
        val old = Option(if (size > 0) cachedBlocks.put(b.blockId.name, size)
          else cachedBlocks.remove(b.blockId.name)).map(_.longValue).getOrElse(0L)
        val now = cachedNow.addAndGet(size - old)
        cachePeak.accumulateAndGet(now, math.max)
      }
    }
  }

  /** SQL executions finished, process-wide (the listener runs on the
    * bus thread, where the submitter's local properties are gone). */
  val executions = new AtomicLong()

  val executionListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = timed {
      executions.incrementAndGet()
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  def install(): Unit = if (on) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(executionListener)
  }

  /** Self time of a span: its duration minus the union of its
    * children's intervals. */
  def selfTimes(): Seq[(Span, Long)] = {
    val all = spans.asScala.toSeq
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val covered = union(kids.getOrElse(s.id, Nil).map(c => (c.start, c.end)))
      s -> (s.end - s.start - covered)
    }
  }

  def writeSpans(file: java.io.File): Unit = {
    val w = new java.io.PrintWriter(file, "UTF-8")
    try spans.asScala.toSeq.sortBy(_.start).foreach { s =>
      w.println(s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
        s""""layer":"${s.layer}","start_ns":${s.start},"end_ns":${s.end}}""")
    } finally w.close()
  }
}

object Trace {
  val SpanKey = "perfbench.span"
  val QueryIdKey = "sql.streaming.queryId"

  /** Total length of the union of [start, end) intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var (curS, curE) = (Long.MinValue, Long.MinValue)
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Process-wide JVM and codegen counters, read from JMX and Spark's
  * CodegenMetrics; subtract two snapshots for a window's share. */
final case class JvmCounters(gcMs: Long, jitMs: Long, compiles: Long, compileMs: Long) {
  def -(o: JvmCounters): JvmCounters =
    JvmCounters(gcMs - o.gcMs, jitMs - o.jitMs, compiles - o.compiles, compileMs - o.compileMs)
}

object JvmCounters {
  def now(): JvmCounters = {
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
    val jit = Option(ManagementFactory.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported)
      .map(_.getTotalCompilationTime).getOrElse(0L)
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    JvmCounters(gc, jit, h.getCount, h.getSnapshot.getValues.sum)
  }

  /** Heap in use after full collections, in MB: the least of several,
    * with pauses so reference processing and Spark's ContextCleaner
    * release what the previous collection made unreachable. */
  def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 4).map { _ =>
      System.gc(); Thread.sleep(100); mem.getHeapMemoryUsage.getUsed
    }.min / 1048576.0
  }
}

/** Streaming progress of every query with input, kept for both runs:
  * the pipeline reads commit times from it. Keyed by query id; `name`
  * binds a name to the query started under it most recently. */
final class Progress extends StreamingQueryListener {
  private val byQuery = new java.util.concurrent.ConcurrentHashMap[String, ConcurrentLinkedQueue[StreamingQueryProgress]]()
  private val rows = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()
  private val ids = new java.util.concurrent.ConcurrentHashMap[String, String]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows > 0) {
      val id = p.id.toString
      byQuery.computeIfAbsent(id, _ => new ConcurrentLinkedQueue()).add(p)
      val r = counter(id)
      r.synchronized { r.addAndGet(p.numInputRows); r.notifyAll() }
    }
  }

  def name(queryId: String, name: String): Unit = ids.put(name, queryId)

  private def counter(id: String): AtomicLong = rows.computeIfAbsent(id, _ => new AtomicLong())

  def of(name: String): Seq[StreamingQueryProgress] =
    Option(ids.get(name)).flatMap(id => Option(byQuery.get(id))).map(_.asScala.toSeq).getOrElse(Nil)

  def rowsOf(name: String): Long = Option(ids.get(name)).map(counter(_).get).getOrElse(0L)

  /** Block until query `name` has processed `n` input rows in total;
    * false on timeout. */
  def awaitRows(name: String, n: Long, timeoutMs: Long): Boolean = {
    val r = counter(ids.get(name))
    val deadline = System.currentTimeMillis() + timeoutMs
    r.synchronized {
      while (r.get < n && System.currentTimeMillis() < deadline)
        r.wait(math.max(1L, deadline - System.currentTimeMillis()))
      r.get >= n
    }
  }
}

object Progress {
  /** Epoch millis at which a batch finished. */
  def endMs(p: StreamingQueryProgress): Long =
    java.time.Instant.parse(p.timestamp).toEpochMilli + p.batchDuration

  def startMs(p: StreamingQueryProgress): Long =
    java.time.Instant.parse(p.timestamp).toEpochMilli

  def duration(p: StreamingQueryProgress, key: String): Double =
    Option(p.durationMs.get(key)).map(_.longValue / 1000.0).getOrElse(0.0)
}
