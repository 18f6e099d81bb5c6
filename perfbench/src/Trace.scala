package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed layer call. `parent` is 0 for the root span of a request. */
final case class Span(id: Long, parent: Long, req: Long, name: String,
                      startNs: Long, endNs: Long)

/** In-memory span recorder.
  *
  * A request is traced only when it is opened with `traced = true`; the
  * untraced half of a traced run goes through the same code with no
  * spans and no listener attribution, which is what `trace.overhead_frac`
  * compares against. The request id and the current layer travel to the
  * [[LayerListener]] as Spark local properties, so every job a layer call
  * launches is counted against that layer.
  */
final class Tracer(sc: () => SparkContext) {
  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  private case class Frame(id: Long, req: Long, name: String)
  private val stack = new ThreadLocal[List[Frame]] {
    override def initialValue(): List[Frame] = Nil
  }

  private def publish(req: String, layer: String): Unit = {
    val ctx = sc()
    ctx.setLocalProperty(LayerListener.ReqKey, req)
    ctx.setLocalProperty(LayerListener.LayerKey, layer)
  }

  private def run[T](f: Frame, parent: Long)(body: => T): T = {
    val saved = stack.get()
    val ctx = sc()
    val (oldReq, oldLayer) = (ctx.getLocalProperty(LayerListener.ReqKey),
      ctx.getLocalProperty(LayerListener.LayerKey))
    stack.set(f :: saved)
    publish(f.req.toString, f.name)
    val t0 = System.nanoTime()
    try body
    finally {
      spans.add(Span(f.id, parent, f.req, f.name, t0, System.nanoTime()))
      stack.set(saved)
      publish(oldReq, oldLayer)
    }
  }

  /** Root span of request `req` (name = the request's layer, e.g. `op`). */
  def request[T](req: Long, name: String, traced: Boolean)(body: => T): T =
    if (!traced) body
    else run(Frame(ids.incrementAndGet(), req, name), 0L)(body)

  /** Child span of the innermost open span on this thread; a no-op when
    * the thread has no traced request open. */
  def span[T](name: String)(body: => T): T = stack.get() match {
    case Nil => body
    case top :: _ => run(Frame(ids.incrementAndGet(), top.req, name), top.id)(body)
  }

  /** The innermost open span on this thread, to hand to another thread. */
  def current: Option[(Long, Long)] = stack.get().headOption.map(f => (f.id, f.req))

  /** Child span of an explicit parent, for work another thread runs on
    * behalf of a request (a streaming `foreachBatch`). */
  def spanUnder[T](parent: Option[(Long, Long)], name: String)(body: => T): T =
    parent match {
      case None => body
      case Some((pid, req)) =>
        val saved = stack.get()
        stack.set(Nil)
        try run(Frame(ids.incrementAndGet(), req, name), pid)(body)
        finally stack.set(saved)
    }
}

/** Task-level counters of one (request, layer) pair. */
final class LayerCounts {
  var jobs, stages, tasks = 0L
  var runMs, queueMs, cpuNs, gcMs = 0L
  var shuffleWriteBytes, fetchWaitMs, spillBytes = 0L
  var inputRows, outputRows = 0L

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "run_s" -> runMs / 1e3, "queue_s" -> queueMs / 1e3,
    "cpu_s" -> cpuNs / 1e9, "gc_s" -> gcMs / 1e3,
    "shuffle_write_bytes" -> shuffleWriteBytes,
    "fetch_wait_s" -> fetchWaitMs / 1e3, "spill_bytes" -> spillBytes,
    "input_rows" -> inputRows, "output_rows" -> outputRows)
}

object LayerListener {
  val ReqKey = "perfbench.req"
  val LayerKey = "perfbench.layer"
}

/** Counts jobs, stages and task metrics per (request, layer), reading the
  * local properties [[Tracer]] sets. Jobs without a request id (untraced
  * requests, warm-up) are ignored. */
final class LayerListener extends SparkListener {
  import LayerListener._
  val counts = new ConcurrentHashMap[(Long, String), LayerCounts]()
  private val stageKey = new ConcurrentHashMap[Int, (Long, String)]()
  private val stageSubmitMs = new ConcurrentHashMap[(Int, Int), java.lang.Long]()

  private def acc(k: (Long, String)): LayerCounts =
    counts.computeIfAbsent(k, _ => new LayerCounts)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(ReqKey))).foreach { req =>
      val k = (req.toLong, Option(e.properties.getProperty(LayerKey)).getOrElse("?"))
      e.stageIds.foreach(stageKey.put(_, k))
      val c = acc(k)
      c.synchronized { c.jobs += 1 }
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val s = e.stageInfo
    Option(stageKey.get(s.stageId)).foreach { k =>
      stageSubmitMs.put((s.stageId, s.attemptNumber()),
        java.lang.Long.valueOf(s.submissionTime.getOrElse(System.currentTimeMillis())))
      val c = acc(k)
      c.synchronized { c.stages += 1 }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageKey.get(e.stageId)).foreach { k =>
      val c = acc(k)
      val i = e.taskInfo
      val m = Option(e.taskMetrics)
      val submit = Option(stageSubmitMs.get((e.stageId, e.stageAttemptId)))
      c.synchronized {
        c.tasks += 1
        c.runMs += i.duration
        submit.foreach(s => c.queueMs += math.max(0L, i.launchTime - s.longValue))
        m.foreach { t =>
          c.cpuNs += t.executorCpuTime
          c.gcMs += t.jvmGCTime
          c.shuffleWriteBytes += t.shuffleWriteMetrics.bytesWritten
          c.fetchWaitMs += t.shuffleReadMetrics.fetchWaitTime
          c.spillBytes += t.memoryBytesSpilled + t.diskBytesSpilled
          c.inputRows += t.inputMetrics.recordsRead
          c.outputRows += t.outputMetrics.recordsWritten
        }
      }
    }

  def snapshot: Seq[Map[String, Any]] = counts.asScala.toSeq.map {
    case ((req, layer), c) => c.synchronized {
      c.toMap ++ Map("req" -> req, "layer" -> layer)
    }
  }
}
