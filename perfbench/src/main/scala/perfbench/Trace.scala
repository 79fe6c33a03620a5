package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** One timed interval at a layer boundary. Spans of one operation share
  * `op`; `parent` is the enclosing span (0 at an operation's root). */
final case class Span(id: Long, op: Long, name: String, parent: Long,
                      startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Counters of the Spark work one span caused. */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  val taskMs = mutable.ArrayBuffer.empty[Long]
  var singleTaskStages = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var gcMs = 0L
  var outputBytes = 0L
  var planMs = 0L
  var exchanges = 0L
  var broadcastExchanges = 0L
  var scanRows = 0L
}

/** The traced run's recorder. Spans come from the benchmark's own calls
  * into each layer; a SparkListener registered here attaches job, stage,
  * task and plan counters to the span that was open on the submitting
  * thread (a local property carries the span id into every job it
  * starts; a SQL execution is attributed through its jobs' execution
  * id). Spans stay in memory and are written out once, when the run
  * ends.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val ids = new AtomicLong(0)
  private val origin = System.nanoTime()
  private val originMs = System.currentTimeMillis()
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[(Long, Long)] = Nil // (span id, op id)
  private val counters = new ConcurrentHashMap[Long, Counters]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val execSpan = new ConcurrentHashMap[Long, Long]()
  private val jobStart = new ConcurrentHashMap[Int, Long]()
  /** wall-clock (ms) intervals of every job, for driver-only time */
  private val jobIntervals = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
  private val Prop = "perfbench.span"

  private def ctr(span: Long): Counters =
    counters.computeIfAbsent(span, _ => new Counters)
  private def spanOf(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty(Prop))).map(_.toLong).getOrElse(0L)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val s = spanOf(e.properties)
      e.stageIds.foreach(stageSpan.put(_, s))
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .foreach(x => execSpan.putIfAbsent(x.toLong, s))
      jobStart.put(e.jobId, e.time)
      ctr(s).synchronized(ctr(s).jobs += 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach(t => jobIntervals.add((t, e.time)))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (e.stageInfo.numTasks == 1) {
        val c = ctr(stageSpan.getOrDefault(e.stageInfo.stageId, 0L))
        c.synchronized(c.singleTaskStages += 1)
      }
    // plan shape and planning time, per SQL execution; the execution id
    // maps it to the span whose job carried that id
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd =>
        org.apache.spark.sql.PerfbenchSql.qeOf(end).foreach { qe =>
          val c = ctr(execSpan.getOrDefault(end.executionId, 0L))
          var ex, bx, rows = 0L
          Tracer.walk(qe.executedPlan) {
            case _: ShuffleExchangeLike => ex += 1
            case _: BroadcastExchangeLike => bx += 1
            case s: FileSourceScanExec =>
              rows += s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
            case _ =>
          }
          val plan = Seq("analysis", "optimization", "planning")
            .flatMap(qe.tracker.phases.get).map(_.durationMs).sum
          c.synchronized {
            c.planMs += plan; c.exchanges += ex
            c.broadcastExchanges += bx; c.scanRows += rows
          }
        }
      case _ =>
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val c = ctr(stageSpan.getOrDefault(e.stageId, 0L))
        c.synchronized {
          c.tasks += 1
          c.taskMs += m.executorRunTime
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          c.gcMs += m.jvmGCTime
          c.outputBytes += m.outputMetrics.bytesWritten
        }
      }
    }
  }

  def start(): Unit = sc.addSparkListener(listener)

  /** Wait for every queued listener event, then detach. */
  def stop(): Unit = {
    org.apache.spark.PerfbenchBus.drain(sc)
    sc.removeSparkListener(listener)
  }

  /** Run `body` as a span; a span opened with no enclosing span starts a
    * new operation. */
  def span[A](name: String)(body: => A): A = {
    val id = ids.incrementAndGet()
    val (parent, op) = stack.headOption.getOrElse((0L, id))
    stack = (id, op) :: stack
    sc.setLocalProperty(Prop, id.toString)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack = stack.tail
      sc.setLocalProperty(Prop, stack.headOption.map(_._1.toString).orNull)
      spans.synchronized(spans += Span(id, op, name, parent, t0 - origin, t1 - origin))
    }
  }

  /** Counters summed over the spans `keep` selects (each job counts
    * once, for the innermost span open when it started). */
  def sumWhere(keep: Span => Boolean): Counters = {
    val out = new Counters
    spans.filter(keep).foreach { s =>
      Option(counters.get(s.id)).foreach { c =>
        out.jobs += c.jobs; out.tasks += c.tasks; out.taskMs ++= c.taskMs
        out.singleTaskStages += c.singleTaskStages
        out.shuffleWriteBytes += c.shuffleWriteBytes; out.spillBytes += c.spillBytes
        out.gcMs += c.gcMs; out.outputBytes += c.outputBytes; out.planMs += c.planMs
        out.exchanges += c.exchanges; out.broadcastExchanges += c.broadcastExchanges
        out.scanRows += c.scanRows
      }
    }
    out
  }

  def sum(name: String): Counters = sumWhere(_.name == name)

  /** Wall-clock milliseconds of a span timestamp. */
  def epochMs(ns: Long): Long = originMs + ns / 1000000L

  /** Wall time (s) inside [t0Ms, t1Ms] during which no job was running. */
  def driverOnlySeconds(t0Ms: Long, t1Ms: Long): Double = {
    val iv = jobIntervals.asScala.toSeq
      .map { case (a, b) => (math.max(a, t0Ms), math.min(b, t1Ms)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var busy = 0L; var curA = -1L; var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) busy += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) busy += curB - curA
    ((t1Ms - t0Ms) - busy) / 1000.0
  }

  /** The spans as JSON lines-in-an-array, for the trace file. */
  def spansJson: String = spans.map { s =>
    val c = Option(counters.get(s.id))
    s"""{"id":${s.id},"op":${s.op},"name":"${s.name}","parent":${s.parent},""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs}""" +
      c.fold("")(c => s""","jobs":${c.jobs},"tasks":${c.tasks},"shuffle_write_bytes":${c.shuffleWriteBytes},""" +
        s""""output_bytes":${c.outputBytes},"plan_ms":${c.planMs},"exchanges":${c.exchanges}""") + "}"
  }.mkString("[\n", ",\n", "\n]")
}

object Tracer {
  /** Visit every node of an executed plan: through adaptive wrappers,
    * query stages and subqueries. */
  def walk(p: SparkPlan)(f: SparkPlan => Unit): Unit = {
    f(p)
    p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)(f)
      case q: QueryStageExec => walk(q.plan)(f)
      case _ =>
    }
    p.children.foreach(walk(_)(f))
    p.subqueries.foreach(walk(_)(f))
  }

  /** Heap-pool peak usage since the last reset, in MiB. */
  def heapPeakMb(): Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum / 1048576.0
  def resetHeapPeak(): Unit = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).foreach(_.resetPeakUsage())
}
