package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. `parent` is the index of the enclosing span in
  * [[Tracer.spans]] (-1 at the top); `op` ties every span of one
  * operation together. Times are epoch milliseconds with microsecond
  * fraction, the clock Spark's listener events use. */
final case class Span(name: String, startMs: Double, endMs: Double, parent: Int, op: Long) {
  def seconds: Double = (endMs - startMs) / 1000.0
}

/** In-memory span recorder. Spans are kept until [[write]] at run end;
  * when disabled, [[span]] is a bare call of its body. */
final class Tracer(val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]

  def span[T](name: String, op: Long)(body: => T): T =
    if (!enabled) body
    else {
      val idx = spans.length
      spans += Span(name, Clock.nowMs(), Double.NaN, open.headOption.getOrElse(-1), op)
      open = idx :: open
      try body
      finally {
        open = open.tail
        spans(idx) = spans(idx).copy(endMs = Clock.nowMs())
      }
    }

  def write(path: java.nio.file.Path): Unit = if (enabled) {
    val lines = spans.iterator.zipWithIndex.map { case (s, i) =>
      f"""{"id":$i,"name":"${s.name}","start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f,"parent":${s.parent},"op":${s.op}}"""
    }
    java.nio.file.Files.write(path, lines.toSeq.asJava)
  }
}

/** Wall clock in epoch milliseconds, anchored once to the epoch and
  * advanced by the monotonic clock, so spans and Spark's event times
  * share one time base. */
object Clock {
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  def nowMs(): Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6
}

/** Spark-side layers of one time window: jobs started in it, tasks
  * ended in it, job-covered (busy) and uncovered (idle) seconds, the
  * planning phases of queries started in it, and adaptive re-plans. */
final case class LayerWindow(jobs: Int, tasks: Int, busyS: Double, idleS: Double,
                             planS: Double, shuffleWriteMb: Double, spillMb: Double,
                             taskGcS: Double, replans: Int)

/** Spark's public listener APIs, aggregated for one session: job
  * intervals, per-task counters, planning phases of every executed
  * query, and adaptive re-plans. Attribution to an operation is by time
  * window, so jobs started from library-owned threads count as well. */
final class SparkLayers(spark: SparkSession) {
  import SparkLayers._

  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  val tasks = new ConcurrentLinkedQueue[Task]()
  val plans = new ConcurrentLinkedQueue[Plan]()
  val replans = new ConcurrentLinkedQueue[Double]()
  @volatile private var lastEventMs = Clock.nowMs()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.put(e.jobId, Job(e.time.toDouble, Double.NaN)); lastEventMs = Clock.nowMs()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time.toDouble); lastEventMs = Clock.nowMs()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null)
        tasks.add(Task(e.taskInfo.finishTime.toDouble, m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled, m.jvmGCTime))
      lastEventMs = Clock.nowMs()
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case _: SparkListenerSQLAdaptiveExecutionUpdate =>
        replans.add(Clock.nowMs()); lastEventMs = Clock.nowMs()
      case _ =>
    }
  }

  private val queryListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      val used = Seq("analysis", "optimization", "planning").flatMap(ph.get)
      if (used.nonEmpty)
        plans.add(Plan(used.map(_.startTimeMs).min.toDouble,
          used.map(_.durationMs).sum / 1000.0))
      lastEventMs = Clock.nowMs()
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
  }

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
  }

  /** Listener events arrive asynchronously; wait until every started
    * job has ended and the bus has been quiet for a moment. */
  def settle(): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    def busy = jobs.values.asScala.exists(_.endMs.isNaN) || Clock.nowMs() - lastEventMs < 300
    while (busy && System.currentTimeMillis() < deadline) Thread.sleep(50)
  }

  /** Layer split of the interval [fromMs, toMs]. */
  def window(fromMs: Double, toMs: Double): LayerWindow = {
    val js = jobs.values.asScala.filter(j => j.startMs >= fromMs && j.startMs < toMs).toSeq
    // union of job intervals clipped to the window
    val ivs = js.map(j => (math.max(j.startMs, fromMs),
      math.min(if (j.endMs.isNaN) toMs else j.endMs, toMs))).sortBy(_._1)
    var busy = 0.0; var curS = Double.NaN; var curE = Double.NaN
    ivs.foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) busy += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) busy += curE - curS
    val ts = tasks.asScala.filter(t => t.endMs >= fromMs && t.endMs < toMs).toSeq
    LayerWindow(js.size, ts.size, busy / 1000.0, (toMs - fromMs - busy) / 1000.0,
      plans.asScala.filter(p => p.startMs >= fromMs && p.startMs < toMs).map(_.seconds).sum,
      ts.map(_.shuffleWrite).sum / 1e6, ts.map(_.spill).sum / 1e6,
      ts.map(_.gcMs).sum / 1000.0,
      replans.asScala.count(t => t >= fromMs && t < toMs))
  }
}

object SparkLayers {
  final case class Job(startMs: Double, var endMs: Double)
  final case class Task(endMs: Double, shuffleWrite: Long, spill: Long, gcMs: Long)
  final case class Plan(startMs: Double, seconds: Double)
}
