package graft.perfbench

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted,
  SparkListenerStageSubmitted}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.engine.{ManifestTableStore, TableStore}

/** One timed call into a layer. Times are wall-clock milliseconds. */
final case class Span(id: Int, name: String, parent: Int, runId: String,
    startMs: Double, endMs: Double, traced: Boolean) {
  def ms: Double = endMs - startMs
}

/** Spark work attributed to one span. */
final class SparkWork {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuMs = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  /** (start, end) of each job, epoch ms. */
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  def +=(o: SparkWork): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runMs += o.runMs; cpuMs += o.cpuMs; inputBytes += o.inputBytes
    outputBytes += o.outputBytes; shuffleReadBytes += o.shuffleReadBytes
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    jobIntervals ++= o.jobIntervals
  }

  /** Wall time covered by at least one job. */
  def jobMs: Long = Trace.covered(jobIntervals.toSeq)
}

/** Spans recorded in the benchmark's own code around each call into a
  * layer. While `on`, a listener (registered when `attribute` is set)
  * attributes Spark jobs, stages and tasks to the span whose id the
  * calling thread carries as a local property, and new spans are marked
  * `traced`; while off, spans are still timed (the end-to-end figures
  * need the same timestamps) but nothing is attributed. Spans stay in
  * memory until the run writes them out.
  */
final class Trace(spark: SparkSession, attribute: Boolean,
    val runId: String) {

  /** Attribute Spark work to spans opened from now on. */
  @volatile var on = false

  /** Whether a span opened now is traced. */
  def tracing: Boolean = attribute && on

  private val ids = new AtomicInteger(0)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val work = mutable.Map.empty[Int, SparkWork]

  private val listener = new SparkListener {
    private val stageSpan = mutable.Map.empty[Int, Int]
    private val jobSpan = mutable.Map.empty[Int, (Int, Long)]
    private def spanOf(p: java.util.Properties): Option[Int] =
      Option(p).flatMap(x => Option(x.getProperty(Trace.SpanKey)))
        .map(_.toInt)
    private def w(span: Int) = work.getOrElseUpdate(span, new SparkWork)

    override def onJobStart(e: SparkListenerJobStart): Unit =
      Trace.this.synchronized {
        spanOf(e.properties).foreach { s =>
          w(s).jobs += 1
          jobSpan(e.jobId) = (s, e.time)
        }
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Trace.this.synchronized {
        jobSpan.remove(e.jobId).foreach { case (s, t0) =>
          w(s).jobIntervals += ((t0, e.time))
        }
      }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Trace.this.synchronized {
        spanOf(e.properties).foreach(stageSpan(e.stageInfo.stageId) = _)
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Trace.this.synchronized {
        val info = e.stageInfo
        stageSpan.remove(info.stageId).foreach { s =>
          val x = w(s)
          val m = info.taskMetrics
          x.stages += 1
          x.tasks += info.numTasks
          if (m != null) {
            x.runMs += m.executorRunTime
            x.cpuMs += m.executorCpuTime / 1000000L
            x.inputBytes += m.inputMetrics.bytesRead
            x.outputBytes += m.outputMetrics.bytesWritten
            x.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
            x.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
            x.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          }
        }
      }
  }

  if (attribute) spark.sparkContext.addSparkListener(listener)

  private val parentOf = new ThreadLocal[Int] { override def initialValue = 0 }

  /** Time `body` as a span. With tracing on, Spark jobs the calling
    * thread submits inside it are attributed to it.
    */
  def apply[T](name: String)(body: => T): T = {
    val id = ids.incrementAndGet()
    val parent = parentOf.get
    val traced = tracing
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Trace.SpanKey)
    if (traced) sc.setLocalProperty(Trace.SpanKey, id.toString)
    parentOf.set(id)
    val t0 = Trace.nowMs
    try body
    finally {
      val t1 = Trace.nowMs
      parentOf.set(parent)
      if (traced) sc.setLocalProperty(Trace.SpanKey, prev)
      record(Span(id, name, parent, runId, t0, t1, traced))
    }
  }

  /** A span rebuilt after the fact (a trigger, from its progress). */
  def record(s: Span): Unit = synchronized { spans += s }

  def newId(): Int = ids.incrementAndGet()

  /** Id of the calling thread's innermost open span (0: none). */
  def current: Int = parentOf.get

  def all: Seq[Span] = synchronized(spans.toSeq)
  def named(name: String): Seq[Span] = all.filter(_.name == name)

  /** Spark work of the spans named `name` that satisfy `keep`. Waits for
    * the listener bus to deliver every event posted so far.
    */
  def workOf(name: String, keep: Span => Boolean = _ => true): SparkWork = {
    org.apache.spark.perfbench.BusShim.drain(spark.sparkContext)
    val out = new SparkWork
    synchronized {
      spans.filter(s => s.name == name && keep(s))
        .foreach(s => work.get(s.id).foreach(out += _))
    }
    out
  }

  def close(): Unit =
    if (attribute) spark.sparkContext.removeSparkListener(listener)

  /** Count and total milliseconds per span name, for the run log. */
  def summary(from: Double): String = all.filter(_.startMs >= from)
    .groupBy(_.name).toSeq.sortBy(-_._2.map(_.ms).sum).map { case (n, ss) =>
      f"  $n%-28s ${ss.size}%5d ${ss.map(_.ms).sum}%10.0f ms"
    }.mkString("\n")

  def toJsonLines: Seq[String] = all.sortBy(_.startMs).map { s =>
    f"""{"id": ${s.id}, "name": "${s.name}", "parent": ${s.parent}, """ +
      f""""run": "${s.runId}", "start_ms": ${s.startMs}%.3f, """ +
      f""""end_ms": ${s.endMs}%.3f, "traced": ${s.traced}}"""
  }
}

object Trace {
  val SpanKey = "perfbench.span"

  /** Epoch milliseconds with sub-millisecond resolution. */
  def nowMs: Double = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000.0 + i.getNano / 1e6
  }

  /** Total length of the union of intervals. */
  def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var end = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a >= end) { total += b - a; end = b }
      else if (b > end) { total += b - end; end = b }
    }
    total
  }

  /** Per-call lock wait of a mutex whose holders were the given calls
    * (start, end), from outside: holds are disjoint, so in end order
    * each call acquires the lock when it starts or when the previous
    * holder ends, whichever is later.
    */
  def lockWaits(calls: Seq[(Double, Double)]): Seq[Double] = {
    var prevEnd = Double.MinValue
    calls.sortBy(_._2).map { case (s, e) =>
      val wait = math.max(0.0, prevEnd - s)
      prevEnd = e
      wait
    }
  }
}

/** Delegating silver store: times every append as a span and otherwise
  * forwards to the engine's store. `writerBase` must be forwarded too —
  * the trait's default of 0 would put both sources in one batch-id
  * space and the store would drop the second source's batches as
  * replays.
  */
final class TracedStore(inner: ManifestTableStore, trace: Trace)
    extends TableStore {
  override def append(df: DataFrame, batchId: Long): Unit =
    trace(TracedStore.Append)(inner.append(df, batchId))
  override def read(spark: SparkSession): DataFrame = inner.read(spark)
  override def writerBase(spark: SparkSession, writerId: String): Long =
    inner.writerBase(spark, writerId)
}

object TracedStore {
  val Append = "ManifestTableStore.append"
}
