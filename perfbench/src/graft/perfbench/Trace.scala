package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.streaming.CdcSink

/** One timed interval: `parent` is the span that caused it (0 = none).
  * Times are System.nanoTime, relative to the run's origin.
  */
final case class Span(id: Long, parent: Long, name: String,
                      start: Long, end: Long)

/** In-memory span recorder. Spans are recorded only in a traced run; the
  * end-to-end numbers come from an untraced run.
  *
  * The open span of each thread is the parent of the next one opened on
  * it. Work that another thread runs for the caller (the streaming
  * query's micro-batch thread) parents under [[ambient]], the span the
  * caller holds open while it waits. Spark jobs are tagged with the open
  * span through the `perfbench.span` local property, which threads
  * started while it is set inherit.
  */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  val origin: Long = System.nanoTime
  private val ids = new AtomicLong
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]
  private val stack = new ThreadLocal[List[Long]] { override def initialValue = Nil }
  @volatile var ambient: Long = 0L

  def now: Long = System.nanoTime - origin

  def record(s: Span): Unit = if (enabled) spans.add(s): Unit

  def newId(): Long = ids.incrementAndGet()

  def span[T](name: String)(body: => T): T = {
    if (!enabled) return body
    val id = newId()
    val parent = stack.get.headOption.getOrElse(ambient)
    val prev = sc.getLocalProperty("perfbench.span")
    stack.set(id :: stack.get)
    sc.setLocalProperty("perfbench.span", id.toString)
    val t0 = now
    try body
    finally {
      record(Span(id, parent, name, t0, now))
      stack.set(stack.get.tail)
      sc.setLocalProperty("perfbench.span", prev)
    }
  }

  /** Open `name` as the ambient parent for other threads' work. */
  def ambientSpan[T](name: String)(body: => T): T =
    span(name) {
      val prev = ambient
      if (enabled) ambient = stack.get.head
      try body finally ambient = prev
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(s => (s.start, s.id))

  /** Per span name: count, total ms, self ms (duration minus the part of
    * its interval that child spans cover).
    */
  def summary: Seq[(String, Int, Double, Double)] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    def covered(s: Span): Long = {
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var tot = 0L; var curA = -1L; var curB = -1L
      iv.foreach { case (a, b) =>
        if (a > curB) { if (curB > curA) tot += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      if (curB > curA) tot += curB - curA
      tot
    }
    ss.groupBy(_.name).toSeq.map { case (n, xs) =>
      val tot = xs.map(s => s.end - s.start).sum
      val self = xs.map(s => (s.end - s.start) - covered(s)).sum
      (n, xs.length, tot / 1e6, self / 1e6)
    }.sortBy(-_._3)
  }
}

/** Task-metric totals of the Spark jobs run under one scope. */
final class ScopeTotals {
  val jobs, stages, tasks, cpuNs, shuffleWrite, spill, inputBytes = new AtomicLong
}

/** Listener that sums task metrics per benchmark scope (the
  * `perfbench.scope` local property of the job) and, in a traced run,
  * records each job as a span under the benchmark span that ran it.
  */
final class ScopeListener(tracer: Tracer) extends SparkListener {
  val scopes = new ConcurrentHashMap[String, ScopeTotals]
  private val stageScope = new ConcurrentHashMap[Int, ScopeTotals]
  private val jobStart = new ConcurrentHashMap[Int, (Long, Long)]

  def totals(scope: String): ScopeTotals =
    scopes.computeIfAbsent(scope, _ => new ScopeTotals)

  override def onJobStart(j: SparkListenerJobStart): Unit = {
    val props = Option(j.properties)
    val scope = props.flatMap(p => Option(p.getProperty("perfbench.scope")))
      .getOrElse("other")
    val t = totals(scope)
    t.jobs.incrementAndGet()
    j.stageIds.foreach(id => stageScope.put(id, t))
    val parent = props.flatMap(p => Option(p.getProperty("perfbench.span")))
      .map(_.toLong).getOrElse(0L)
    jobStart.put(j.jobId, (parent, j.time))
  }

  override def onJobEnd(j: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(j.jobId)).foreach { case (parent, t0) =>
      // listener times are wall-clock ms; map them onto the tracer clock
      val skew = System.currentTimeMillis * 1000000L - System.nanoTime + tracer.origin
      tracer.record(Span(tracer.newId(), parent, "spark.job",
        t0 * 1000000L - skew, j.time * 1000000L - skew))
    }

  // skipped stages (shuffle output reused) never complete: not counted
  override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
    Option(stageScope.get(s.stageInfo.stageId)).foreach(_.stages.incrementAndGet())

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    val s = stageScope.get(t.stageId)
    if (s == null || t.taskMetrics == null) return
    val m = t.taskMetrics
    s.tasks.incrementAndGet()
    s.cpuNs.addAndGet(m.executorCpuTime)
    s.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
    s.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    s.inputBytes.addAndGet(m.inputMetrics.bytesRead)
  }
}

/** Streaming progress per trigger: total trigger time and its phases. */
final class TriggerListener extends StreamingQueryListener {
  val triggers = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Long]]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val d = e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    if (e.progress.numInputRows > 0) triggers.add(d): Unit
  }
}

/** Timing decorator around the sink handed to the pipeline's
  * `sinkFactory`: every `merge` is one span and one sample.
  */
final class TimedSink(inner: CdcSink, tracer: Tracer,
                      onMerge: Double => Unit) extends CdcSink {
  override def merge(batch: DataFrame, epochId: Long): Boolean = {
    val t0 = System.nanoTime
    val r = tracer.span("sinks.merge")(inner.merge(batch, epochId))
    onMerge((System.nanoTime - t0) / 1e6)
    r
  }
  override def view(spark: SparkSession): DataFrame = inner.view(spark)
  override def committedEpoch: Option[Long] = inner.committedEpoch
  override def state(spark: SparkSession): Option[DataFrame] = inner.state(spark)
  override def stateAt(spark: SparkSession, e: Long): Option[DataFrame] =
    inner.stateAt(spark, e)
  override def versions: Seq[Long] = inner.versions
  override def commitTimeMillis(epoch: Long): Long = inner.commitTimeMillis(epoch)
  override def epochAt(tsMillis: Long): Option[Long] = inner.epochAt(tsMillis)
  override protected def commitArtifact(epoch: Long): HPath =
    throw new UnsupportedOperationException("decorator: commit times delegate")
}

/** Process-level counters sampled around phases. */
object Counters {
  /** Bytes written through Hadoop's local (`file`) filesystem so far.
    * Its read/write OP counters stay 0 on `file:`, so only bytes count.
    */
  def fsBytesWritten: Long =
    FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesWritten).sum

  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  def dirBytes(dir: java.nio.file.Path): Long = {
    if (!java.nio.file.Files.exists(dir)) return 0L
    val s = java.nio.file.Files.walk(dir)
    try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
      .map(java.nio.file.Files.size).sum
    finally s.close()
  }

  /** Bytes of the `.parquet` data files under `dir`. */
  def parquetBytes(dir: java.nio.file.Path): Long = {
    val s = java.nio.file.Files.walk(dir)
    try s.iterator().asScala
      .filter(p => p.getFileName.toString.endsWith(".parquet"))
      .map(java.nio.file.Files.size).sum
    finally s.close()
  }
}

/** Sample collector keyed by metric name. */
final class Samples {
  private val m = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  def add(name: String, v: Double): Unit = synchronized {
    m.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
  }
  def get(name: String): Seq[Double] = synchronized {
    m.get(name).map(_.toSeq).getOrElse(Nil)
  }
  def clear(): Unit = synchronized(m.clear())
}
