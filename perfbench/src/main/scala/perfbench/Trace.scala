package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.perfbench.Internals
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates

/** One call into one layer, recorded from the benchmark's side of the call.
  * `req` is the request (tool call, chain call or probe) the span belongs
  * to; `parent` is 0 for the request's root span.
  */
final case class Span(id: Long, parent: Long, req: Long, name: String,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spark work attributed to one request by [[SparkCounts]]. */
final class ReqCounts {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var bytesRead = 0L
  var recordsRead = 0L
  var shuffleBytes = 0L
  var filesRead = 0L
  /** (submission, completion) epoch-ms of every completed stage. */
  val stageSpans = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Spans kept in memory around each layer call, plus a Spark listener
  * that attributes jobs, stages, tasks, IO and shuffle to the request whose
  * thread submitted them. A disabled tracer costs one branch per call:
  * no spans, no listener, no local properties.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val stack = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }
  private val current = new ThreadLocal[Long] { override def initialValue(): Long = 0L }
  // span clocks are nanoTime; stage times are epoch ms — one anchor pair
  // converts between them
  private val anchorNs = System.nanoTime()
  private val anchorMs = System.currentTimeMillis()
  val counts = new SparkCounts
  if (enabled) sc.addSparkListener(counts)

  /** Id of the request running on this thread (0 outside any). */
  def currentRequest: Long = current.get

  def epochMs(ns: Long): Double = anchorMs + (ns - anchorNs) / 1e6

  /** Run `body` as a new request named `name`: its root span, every span
    * opened inside it, and every Spark job the calling thread submits
    * meanwhile carry one request id.
    */
  def request[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val req = ids.incrementAndGet()
      current.set(req)
      sc.setLocalProperty(Tracer.ReqProperty, req.toString)
      try span(name)(body)
      finally {
        sc.setLocalProperty(Tracer.ReqProperty, null)
        current.set(0L)
      }
    }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0L)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        spans.add(Span(id, parent, current.get, name, t0, t1))
      }
    }

  /** Everything recorded, once the listener has caught up. Read it after
    * the measured work is done: recording stops here.
    */
  lazy val data: TraceData = {
    if (enabled) {
      Internals.drainListeners(sc)
      sc.removeSparkListener(counts)
      counts.resolveFiles()
    }
    TraceData(spans.asScala.toVector.sortBy(_.startNs), counts.byReq.asScala.toMap,
      counts.handlerNs.get / 1e6, this)
  }
}

object Tracer {
  val ReqProperty = "perfbench.request"
}

final case class TraceData(spans: Vector[Span], byReq: Map[Long, ReqCounts],
    listenerMs: Double, tracer: Tracer) {

  /** Root spans (one per request) whose name satisfies `p`. */
  def roots(p: String => Boolean): Vector[Span] = spans.filter(s => s.parent == 0 && p(s.name))

  def counts(s: Span): ReqCounts = byReq.getOrElse(s.req, new ReqCounts)

  /** Mean of `f` over the requests rooted at `rs` (0 when there are none). */
  def perCall(rs: Seq[Span])(f: ReqCounts => Double): Double =
    Stats.mean(rs.map(r => f(counts(r))))

  /** Wall time of the request minus the part of it covered by at least one
    * running stage of that request: the time the driver, not the
    * executors, held the call up.
    */
  def driverGapMs(r: Span): Double = {
    val t0 = tracer.epochMs(r.startNs)
    val t1 = tracer.epochMs(r.endNs)
    val iv = counts(r).stageSpans.map { case (a, b) => (math.max(a.toDouble, t0), math.min(b.toDouble, t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0
    var end = t0
    iv.foreach { case (a, b) =>
      if (b > end) { covered += b - math.max(a, end); end = b }
    }
    math.max(0.0, (t1 - t0) - covered)
  }

  /** Per span name: calls, total ms, and self ms (duration minus the part
    * covered by its children — children run on the parent's thread, so
    * they never overlap each other).
    */
  def selfTimes: Seq[(String, Int, Double, Double)] = {
    val childMs = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.ms).sum }
    spans.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, ss) =>
      (n, ss.size, ss.map(_.ms).sum, ss.map(s => s.ms - childMs.getOrElse(s.id, 0.0)).sum)
    }
  }

  def toJson(header: Seq[(String, String)]): String = {
    val spanJson = spans.map { s =>
      Json.obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString,
        "req" -> s.req.toString, "name" -> Json.str(s.name),
        "start_ms" -> Json.num(tracer.epochMs(s.startNs)),
        "end_ms" -> Json.num(tracer.epochMs(s.endNs))))
    }
    val reqJson = byReq.toSeq.sortBy(_._1).map { case (r, c) =>
      Json.obj(Seq("req" -> r.toString, "jobs" -> c.jobs.toString,
        "stages" -> c.stages.toString, "tasks" -> c.tasks.toString,
        "executor_run_ms" -> c.runMs.toString, "bytes_read" -> c.bytesRead.toString,
        "records_read" -> c.recordsRead.toString, "shuffle_bytes" -> c.shuffleBytes.toString,
        "files_read" -> c.filesRead.toString))
    }
    val selfJson = selfTimes.map { case (n, k, tot, self) =>
      Json.obj(Seq("name" -> Json.str(n), "calls" -> k.toString,
        "total_ms" -> Json.num(tot), "self_ms" -> Json.num(self)))
    }
    Json.obj(header ++ Seq("listener_ms" -> Json.num(listenerMs),
      "self_times" -> Json.arr(selfJson), "requests" -> Json.arr(reqJson),
      "spans" -> Json.arr(spanJson)))
  }
}

/** Counts Spark work per request. Events arrive on the listener-bus
  * thread; the maps below are touched only there until [[Tracer.data]]
  * has drained the bus.
  */
final class SparkCounts extends SparkListener {
  val byReq = new ConcurrentHashMap[Long, ReqCounts]()
  val handlerNs = new AtomicLong(0)
  private val stageReq = mutable.HashMap.empty[Int, Long]
  private val execReq = mutable.HashMap.empty[Long, Long]
  private val execFiles = mutable.HashMap.empty[Long, Long]

  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    try body finally handlerNs.addAndGet(System.nanoTime() - t0)
  }

  private def prop(p: java.util.Properties, k: String): Option[String] =
    Option(p).flatMap(x => Option(x.getProperty(k)))

  private def agg(req: Long): ReqCounts = byReq.computeIfAbsent(req, _ => new ReqCounts)

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val req = prop(e.properties, Tracer.ReqProperty).map(_.toLong).getOrElse(0L)
    agg(req).jobs += 1
    e.stageIds.foreach(stageReq(_) = req)
    prop(e.properties, "spark.sql.execution.id").foreach(x => execReq(x.toLong) = req)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = timed {
    prop(e.properties, Tracer.ReqProperty).foreach(r => stageReq(e.stageInfo.stageId) = r.toLong)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
    val a = agg(stageReq.getOrElse(e.stageInfo.stageId, 0L))
    a.stages += 1
    for (s <- e.stageInfo.submissionTime; c <- e.stageInfo.completionTime)
      a.stageSpans += ((s, c))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val a = agg(stageReq.getOrElse(e.stageId, 0L))
    a.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime
      a.bytesRead += m.inputMetrics.bytesRead
      a.recordsRead += m.inputMetrics.recordsRead
      a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
    }
  }

  // the scan's file count is a driver-side SQL metric, posted per
  // execution before the execution's first job starts
  override def onOtherEvent(e: SparkListenerEvent): Unit = timed {
    e match {
      case u: SparkListenerDriverAccumUpdates =>
        val files = u.accumUpdates.collect {
          case (id, v) if Internals.accumulatorName(id).contains("number of files read") => v
        }.sum
        if (files > 0) execFiles(u.executionId) = execFiles.getOrElse(u.executionId, 0L) + files
      case _ =>
    }
  }

  def resolveFiles(): Unit = execFiles.foreach { case (x, n) =>
    agg(execReq.getOrElse(x, 0L)).filesRead += n
  }
}
