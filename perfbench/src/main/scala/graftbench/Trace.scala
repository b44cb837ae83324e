package graftbench

import java.util.Properties
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.perfbench.ExecutionEnd

/** One call into a graft layer: wall-clock interval in epoch milliseconds,
  * the enclosing span (-1 at top level) and the operation it belongs to.
  */
final case class Span(id: Int, name: String, parent: Int, op: Int,
    startMs: Double, var endMs: Double)

/** Interval arithmetic for self time. Intervals are (start, end) pairs. */
object Intervals {

  /** Total length of the union of `xs` after clipping them to [s, e]. */
  def coveredWithin(s: Double, e: Double, xs: Seq[(Double, Double)]): Double = {
    val clipped = xs.map { case (a, b) => (math.max(a, s), math.min(b, e)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curE.isNaN || a > curE) {
        if (!curE.isNaN) total += curE - curS
        curS = a; curE = b
      } else curE = math.max(curE, b)
    }
    if (!curE.isNaN) total += curE - curS
    total
  }

  /** Length of [s, e] that none of `xs` covers; overlapping intervals count
    * once. */
  def uncovered(s: Double, e: Double, xs: Seq[(Double, Double)]): Double =
    (e - s) - coveredWithin(s, e, xs)
}

/** Records spans around calls into graft's layers. While a span is open its
  * id rides on the calling thread as a Spark job tag — a local property
  * that Spark copies onto every job and SQL execution the call starts — so
  * [[SpanListener]] attributes jobs, stages, tasks and planning to the
  * innermost open span exactly, without time windows. A disabled tracer
  * runs the body and records nothing.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val anchorNs = System.nanoTime()
  private val anchorMs = System.currentTimeMillis().toDouble
  /** Epoch milliseconds on the monotonic clock (comparable with Spark's
    * job event times, which are epoch milliseconds). */
  def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private var stack: List[Span] = Nil
  private var opId = 0
  private var bookkeepingNs = 0L

  /** Time the calling thread spent recording spans and switching job tags:
    * the tracing cost on the operations' critical path. (Attribution runs
    * on Spark's listener-bus thread, off that path.) */
  def overheadSeconds: Double = bookkeepingNs / 1e9

  /** Start a new operation; later spans carry its id. */
  def beginOp(): Unit = opId += 1

  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val t0 = System.nanoTime()
      val s = Span(spans.size, name, stack.headOption.fold(-1)(_.id), opId, nowMs, Double.NaN)
      spans += s
      stack.headOption.foreach(p => sc.removeJobTag(Tracer.tag(p.id)))
      sc.addJobTag(Tracer.tag(s.id))
      stack = s :: stack
      bookkeepingNs += System.nanoTime() - t0
      try f
      finally {
        val t1 = System.nanoTime()
        s.endMs = nowMs
        sc.removeJobTag(Tracer.tag(s.id))
        stack = stack.tail
        stack.headOption.foreach(p => sc.addJobTag(Tracer.tag(p.id)))
        bookkeepingNs += System.nanoTime() - t1
      }
    }
}

object Tracer {
  val SpanPrefix = "graftbench-span-"
  /** Tag carried by every job of a measured pass (set once per pass). */
  val PassTag = "graftbench-pass"
  private val BarrierPrefix = "graftbench-barrier-"
  def tag(id: Int): String = SpanPrefix + id
  def barrierTag(n: Int): String = BarrierPrefix + n
  def spanOf(tags: Iterable[String]): Int =
    tags.collectFirst { case t if t.startsWith(SpanPrefix) => t.drop(SpanPrefix.length).toInt }
      .getOrElse(-1)
  def barrierOf(tags: Iterable[String]): Option[Int] =
    tags.collectFirst { case t if t.startsWith(BarrierPrefix) => t.drop(BarrierPrefix.length).toInt }
}

/** Work attributed to one span, or to a whole measured pass. */
final class Counters {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var taskCpuMs = 0.0; var taskWallMs = 0.0; var gcMs = 0.0
  var shuffleReadBytes = 0L; var shuffleWriteBytes = 0L
  var spillBytes = 0L; var outputBytes = 0L
  var planMs = 0.0
  val jobIntervals: mutable.ArrayBuffer[(Double, Double)] = mutable.ArrayBuffer.empty
}

/** Spark listener that sums job, stage, task and planning metrics per span
  * (from the span's job tag) and per measured pass (from
  * [[Tracer.PassTag]]). Planning time is the sum of the query-planning
  * tracker's phases (analysis, optimization, planning) of each SQL
  * execution, read from the execution-end event. Listener events arrive asynchronously on
  * Spark's listener bus; [[drain]] runs a tagged barrier job and waits for
  * its end event, after which every earlier event has been delivered.
  */
final class SpanListener extends SparkListener {
  private val stageOwner = mutable.HashMap.empty[Int, (Boolean, Int)]
  private val jobOwner = mutable.HashMap.empty[Int, (Boolean, Int, Double)]
  private val execOwner = mutable.HashMap.empty[Long, (Boolean, Int)]
  private val spanCounters = mutable.HashMap.empty[Int, Counters]
  private val passCounters = new Counters
  private val barriers = mutable.HashMap.empty[Int, CountDownLatch]
  private val barrierJobs = mutable.HashMap.empty[Int, Int]
  private var nextBarrier = 0

  def install(spark: SparkSession): Unit = spark.sparkContext.addSparkListener(this)

  /** Totals of the measured pass (read after [[drain]]). */
  def pass: Counters = synchronized(passCounters)
  def span(id: Int): Counters = synchronized(spanCounters.getOrElse(id, new Counters))

  private def tagsOf(p: Properties): Set[String] =
    Option(p).flatMap(x => Option(x.getProperty("spark.job.tags")))
      .map(_.split(",").filter(_.nonEmpty).toSet).getOrElse(Set.empty)

  private def each(inPass: Boolean, span: Int)(f: Counters => Unit): Unit = {
    if (inPass) f(passCounters)
    if (span >= 0) f(spanCounters.getOrElseUpdate(span, new Counters))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tags = tagsOf(e.properties)
    val inPass = tags(Tracer.PassTag)
    val span = Tracer.spanOf(tags)
    jobOwner(e.jobId) = (inPass, span, e.time.toDouble)
    e.stageIds.foreach(s => stageOwner(s) = (inPass, span))
    each(inPass, span)(_.jobs += 1)
    Tracer.barrierOf(tags).foreach(b => barrierJobs(e.jobId) = b)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobOwner.remove(e.jobId).foreach { case (inPass, span, t0) =>
      each(inPass, span)(_.jobIntervals += ((t0, e.time.toDouble)))
    }
    barrierJobs.remove(e.jobId).flatMap(barriers.remove).foreach(_.countDown())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageOwner.get(e.stageInfo.stageId).foreach { case (inPass, span) =>
      each(inPass, span)(_.stages += 1)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) stageOwner.get(e.stageId).foreach { case (inPass, span) =>
      each(inPass, span) { c =>
        c.tasks += 1
        c.taskCpuMs += m.executorCpuTime / 1e6
        c.taskWallMs += m.executorRunTime.toDouble
        c.gcMs += m.jvmGCTime.toDouble
        c.shuffleReadBytes += m.shuffleReadMetrics.remoteBytesRead +
          m.shuffleReadMetrics.localBytesRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      execOwner(s.executionId) = (s.jobTags(Tracer.PassTag), Tracer.spanOf(s.jobTags))
    }
    case end: SparkListenerSQLExecutionEnd => synchronized {
      for {
        (inPass, span) <- execOwner.remove(end.executionId)
        qe <- ExecutionEnd.queryExecution(end)
      } each(inPass, span)(_.planMs += qe.tracker.phases.values.map(_.durationMs).sum)
    }
    case _ =>
  }

  /** Wait until every listener event posted so far has been delivered. */
  def drain(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val b = synchronized { nextBarrier += 1; nextBarrier }
    val latch = new CountDownLatch(1)
    synchronized(barriers(b) = latch)
    val saved = sc.getJobTags()
    sc.clearJobTags()
    sc.addJobTag(Tracer.barrierTag(b))
    try sc.parallelize(Seq(1), 1).count()
    finally {
      sc.clearJobTags()
      sc.addJobTags(saved)
    }
    if (!latch.await(60, TimeUnit.SECONDS))
      throw new IllegalStateException("listener bus did not drain within 60 s")
  }
}

/** Per-layer numbers from the spans of one traced pass. */
object Layers {

  /** Per span name: `ms` is self time (the span's interval minus the union
    * of its child spans, so overlapping children count once), `driver_ms`
    * is self time during which none of the span's own jobs ran, and the
    * remaining fields sum the work attributed to the span's jobs.
    */
  def summarize(spans: Seq[Span], counters: Int => Counters): Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def add(k: String, v: Double): Unit = out(k) = out.getOrElse(k, 0.0) + v
    spans.foreach { s =>
      val kids = children.getOrElse(s.id, Nil).map(k => (k.startMs, k.endMs))
      val c = counters(s.id)
      val n = s.name
      add(s"$n.ms", Intervals.uncovered(s.startMs, s.endMs, kids))
      add(s"$n.driver_ms", Intervals.uncovered(s.startMs, s.endMs, kids ++ c.jobIntervals))
      add(s"$n.calls", 1)
      fields(c).foreach { case (f, v) => add(s"$n.$f", v) }
    }
    out.toMap
  }

  /** The job-level fields shared by spans and pass totals. */
  def fields(c: Counters): Seq[(String, Double)] = Seq(
    "jobs" -> c.jobs.toDouble, "stages" -> c.stages.toDouble, "tasks" -> c.tasks.toDouble,
    "task_cpu_ms" -> c.taskCpuMs, "task_wall_ms" -> c.taskWallMs, "gc_ms" -> c.gcMs,
    "shuffle_read_bytes" -> c.shuffleReadBytes.toDouble,
    "shuffle_write_bytes" -> c.shuffleWriteBytes.toDouble,
    "shuffle_bytes" -> c.shuffleWriteBytes.toDouble,
    "spill_bytes" -> c.spillBytes.toDouble, "output_bytes" -> c.outputBytes.toDouble,
    "plan_ms" -> c.planMs)

  /** Share of [start, end] covered by top-level spans. */
  def coverage(spans: Seq[Span], startMs: Double, endMs: Double): Double =
    Intervals.coveredWithin(startMs, endMs,
      spans.filter(_.parent < 0).map(s => (s.startMs, s.endMs))) / (endMs - startMs)
}
