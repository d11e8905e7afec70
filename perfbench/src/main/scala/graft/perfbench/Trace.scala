package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.perfbench.Bridge

/** One timed interval around a call into a layer. `op` is the id of the
  * workload operation (request, incident run, curation entry) the span
  * belongs to; `parent` is the enclosing span's id, or -1 for an op root. */
final case class Span(id: Int, parent: Int, op: Int, layer: String,
    name: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** What Spark did inside one span, summed by [[EngineListener]]. */
final class EngineCounts {
  val jobs, tasks, runMs, shuffleBytes, spillBytes, inputBytes, outputBytes,
      catalystMs = new AtomicLong()
  def +=(o: EngineCounts): Unit =
    Seq(jobs -> o.jobs, tasks -> o.tasks, runMs -> o.runMs,
      shuffleBytes -> o.shuffleBytes, spillBytes -> o.spillBytes,
      inputBytes -> o.inputBytes, outputBytes -> o.outputBytes,
      catalystMs -> o.catalystMs).foreach { case (a, b) => a.addAndGet(b.get) }
}

/** Attributes Spark jobs, tasks and query planning to spans through the
  * per-thread job group each traced span sets (`span-<id>`), so two client
  * threads running at once never mix their counts. */
final class EngineListener extends SparkListener {
  import Trace.JobGroup
  val bySpan = new ConcurrentHashMap[Int, EngineCounts]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val execSpan = new ConcurrentHashMap[Long, Int]()

  private def spanOf(group: String): Option[Int] =
    Option(group).filter(_.startsWith("span-")).map(_.stripPrefix("span-").toInt)
  private def counts(span: Int): EngineCounts =
    bySpan.computeIfAbsent(span, _ => new EngineCounts)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    spanOf(Option(e.properties).map(_.getProperty(JobGroup)).orNull)
      .foreach { s =>
        counts(s).jobs.incrementAndGet()
        e.stageIds.foreach(stageSpan.put(_, s))
      }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageSpan.get(e.stageId)).foreach { s =>
      val c = counts(s)
      c.tasks.incrementAndGet()
      Option(e.taskMetrics).foreach { m =>
        c.runMs.addAndGet(m.executorRunTime)
        c.shuffleBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten)
        c.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        c.inputBytes.addAndGet(m.inputMetrics.bytesRead)
        c.outputBytes.addAndGet(m.outputMetrics.bytesWritten)
      }
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      s.jobGroupId.flatMap(spanOf).foreach(execSpan.put(s.executionId, _))
    case end: SparkListenerSQLExecutionEnd =>
      Option(execSpan.remove(end.executionId)).foreach { s =>
        counts(s).catalystMs.addAndGet(Bridge.catalystMs(end))
      }
    case _ =>
  }
}

/** Span recorder. Disabled, it only runs the body: the untimed code path is
  * the untraced one. Enabled, every span sets its own job group so the
  * [[EngineListener]] can attribute Spark work to the innermost span. Span
  * ids are unique in the JVM, so the listeners of two tracers never claim
  * each other's jobs. Spans stay in memory until the run ends; [[close]]
  * unregisters the listener when the traced window's figures are taken. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  import Trace.JobGroup
  private val stack = ThreadLocal.withInitial[List[Span]](() => Nil)
  private val done = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  val engine: Option[EngineListener] =
    if (enabled) { val l = new EngineListener; sc.addSparkListener(l); Some(l) } else None

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val outer = stack.get
      val id = Trace.nextId.incrementAndGet()
      val op = outer.headOption.map(_.op).getOrElse(id)
      val prevGroup = sc.getLocalProperty(JobGroup)
      sc.setLocalProperty(JobGroup, s"span-$id")
      val open = Span(id, outer.headOption.map(_.id).getOrElse(-1), op, layer, name,
        System.nanoTime(), 0L)
      stack.set(open :: outer)
      try body
      finally {
        done.add(open.copy(endNs = System.nanoTime()))
        stack.set(outer)
        sc.setLocalProperty(JobGroup, prevGroup)
      }
    }

  /** Every finished span, after the listener bus has drained. */
  def spans(): Seq[Span] = {
    engine.foreach(_ => Bridge.drainListenerBus(sc))
    done.asScala.toSeq.sortBy(_.id)
  }

  /** Stops counting: the listener leaves the bus once it has drained. */
  def close(): Unit = engine.foreach { l =>
    Bridge.drainListenerBus(sc)
    sc.removeSparkListener(l)
  }

  def counts(spanId: Int): EngineCounts =
    engine.flatMap(l => Option(l.bySpan.get(spanId))).getOrElse(new EngineCounts)

  /** Summed counts of a span and every span below it. */
  def totalCounts(all: Seq[Span], root: Span): EngineCounts = {
    val children = all.groupBy(_.parent)
    val acc = new EngineCounts
    def walk(s: Span): Unit = { acc += counts(s.id); children.getOrElse(s.id, Nil).foreach(walk) }
    walk(root)
    acc
  }
}

object Trace {
  /** The local property Spark reads a thread's job group from. */
  val JobGroup = "spark.jobGroup.id"

  /** The last span id handed out, by any tracer of the JVM. */
  private[perfbench] val nextId = new AtomicInteger()

  /** Seconds of each layer not covered by its child spans, summed over
    * all spans. Children of one span run on the span's own thread, one
    * after another, so their durations do not overlap. */
  def selfSeconds(all: Seq[Span]): Map[String, Double] = {
    val childSum = all.groupBy(_.parent).view.mapValues(_.map(_.seconds).sum).toMap
    all.groupBy(_.layer).view.mapValues(_.map(s =>
      math.max(0.0, s.seconds - childSum.getOrElse(s.id, 0.0))).sum).toMap
  }
}
