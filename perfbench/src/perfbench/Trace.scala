package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Wraps a call into one of the engine's layers. Plain passes use [[Tracer.Off]]. */
trait Tracer {
  def span[A](layer: String)(body: => A): A
}

object Tracer {
  val Off: Tracer = new Tracer {
    def span[A](layer: String)(body: => A): A = body
  }
}

/** Per-layer counters, summed over the traced passes of a run. */
final class Counters {
  var selfS, taskS, shuffleMb, spillMb, ioMb, rowsIn: Double = 0.0
  var jobs, tasks: Double = 0.0

  private def fields: Seq[Double] = Seq(selfS, taskS, shuffleMb, spillMb, ioMb, rowsIn, jobs, tasks)
  private def set(v: Seq[Double]): Counters = {
    val c = new Counters
    c.selfS = v(0); c.taskS = v(1); c.shuffleMb = v(2); c.spillMb = v(3)
    c.ioMb = v(4); c.rowsIn = v(5); c.jobs = v(6); c.tasks = v(7)
    c
  }
  /** Field-wise `this - that`, floored at 0: the share a cumulative
    * prefix adds to the prefix before it. */
  def minus(that: Counters): Counters =
    set(fields.zip(that.fields).map { case (a, b) => math.max(0.0, a - b) })
  def scaled(f: Double): Counters = set(fields.map(_ * f))
}

/** Records a span around each call and attributes Spark work to it.
  *
  * A job belongs to the span that was open on the driver when the job was
  * submitted, matched by time window rather than by job group: the crawl's
  * state writes submit their jobs from `Future`s on the global execution
  * context, whose threads do not inherit the caller's local properties.
  * A stage's tasks count for the first job that lists the stage. Spans are
  * kept in memory and folded into [[Counters]] after each traced pass. */
final class SpanTracer(spark: SparkSession) extends SparkListener with Tracer {
  private final case class Span(layer: String, startMs: Long, endMs: Long, nanos: Long)
  private final class StageAgg {
    var tasks, taskMs, shuffleB, spillB, ioB, rows = 0L
  }

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val jobStarts = new ConcurrentLinkedQueue[(Long, Seq[Int])]()
  private val stages = new ConcurrentHashMap[Int, StageAgg]()

  def span[A](layer: String)(body: => A): A = {
    val ms = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally spans += Span(layer, ms, System.currentTimeMillis(), System.nanoTime() - t0)
  }

  override def onJobStart(js: SparkListenerJobStart): Unit =
    jobStarts.add((js.time, js.stageIds))

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    val m = te.taskMetrics
    val a = stages.computeIfAbsent(te.stageId, _ => new StageAgg)
    a.synchronized {
      a.tasks += 1
      a.taskMs += te.taskInfo.duration
      if (m != null) {
        a.shuffleB += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        a.spillB += m.diskBytesSpilled
        a.ioB += m.inputMetrics.bytesRead + m.outputMetrics.bytesWritten
        a.rows += m.inputMetrics.recordsRead
      }
    }
  }

  def attach(): Unit = spark.sparkContext.addSparkListener(this)

  /** Waits for the pass's events, detaches, and adds the pass's spans and
    * Spark work into `into` (keyed by span name). */
  def detachInto(into: mutable.Map[String, Counters]): Unit = {
    org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    def of(layer: String) = into.getOrElseUpdate(layer, new Counters)
    spans.foreach(s => of(s.layer).selfS += s.nanos / 1e9)
    val claimed = mutable.Set.empty[Int]
    for ((time, stageIds) <- jobStarts.asScala.toSeq.sortBy(_._1);
         s <- spans.reverseIterator.find(s => s.startMs <= time && time <= s.endMs)) {
      val c = of(s.layer)
      c.jobs += 1
      for (id <- stageIds if claimed.add(id); a <- Option(stages.get(id))) {
        c.tasks += a.tasks
        c.taskS += a.taskMs / 1e3
        c.shuffleMb += a.shuffleB / 1e6
        c.spillMb += a.spillB / 1e6
        c.ioMb += a.ioB / 1e6
        c.rowsIn += a.rows
      }
    }
    spans.clear(); jobStarts.clear(); stages.clear()
  }
}
