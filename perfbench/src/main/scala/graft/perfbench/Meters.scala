package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, AtomicInteger}
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory spans for the traced run: name, start, end and the span that
  * caused it. Spans are only recorded on the thread that opened their parent
  * (the thread that runs the loads); executor-side work is counted by [[SinkMeter]].
  * Nothing is written until the run ends.
  */
object Trace {
  final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long) {
    def durNs: Long = endNs - startNs
  }

  @volatile var enabled = false
  private val ids = new AtomicInteger(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, name, t0, System.nanoTime()))
        stack.set(stack.get.tail)
      }
    }

  def all: Seq[Span] = spans.asScala.toIndexedSeq
  def reset(): Unit = spans.clear()

  /** Seconds of `name` spans, summed. */
  def totalS(name: String): Double = all.filter(_.name == name).map(_.durNs).sum / 1e9

  /** Self time of every `name` span, summed: its duration minus its direct
    * children's. A span's children ran on its own thread, one after
    * another, so they never overlap.
    */
  def selfS(name: String): Double = {
    val ss = all
    val childNs = ss.groupBy(_.parent).view.mapValues(_.map(_.durNs).sum).toMap
    ss.filter(_.name == name).map(s => s.durNs - childNs.getOrElse(s.id, 0L)).sum / 1e9
  }
}

/** Sink-side counters, filled by [[CountingConnection]]s. The connection
  * factory is deserialized inside each task, so in `local[n]` mode every
  * connection lands here in this JVM.
  */
object SinkMeter {
  val connects = new AtomicLong
  val executeCalls = new AtomicLong
  val rowsSent = new AtomicLong
  val rowsRouted = new AtomicLong
  val batches = new AtomicLong
  val rollbacks = new AtomicLong
  val connNs = new AtomicLong      // every call into SinkConnection, connect and close included
  val executeNs = new AtomicLong
  val commitNs = new AtomicLong
  val savepointNs = new AtomicLong // savepoint + rollback-to + release
  val pullNs = new AtomicLong      // connection lifetime not spent inside calls
  private val batchConnNs = new ConcurrentLinkedQueue[java.lang.Long]()
  private val rowsPerConn = new ConcurrentLinkedQueue[java.lang.Long]()

  def recordBatch(ns: Long): Unit = batchConnNs.add(ns)
  def recordConnection(rows: Long): Unit = rowsPerConn.add(rows)
  def batchConnMs: Seq[Double] = batchConnNs.asScala.map(_ / 1e6).toIndexedSeq.sorted
  def connectionRows: Seq[Long] = rowsPerConn.asScala.map(_.longValue).toIndexedSeq

  def reset(): Unit = {
    Seq(connects, executeCalls, rowsSent, rowsRouted, batches, rollbacks, connNs,
      executeNs, commitNs, savepointNs, pullNs).foreach(_.set(0))
    batchConnNs.clear()
    rowsPerConn.clear()
  }
}

/** Engine-side counters: a stage listener for task metrics and a query
  * listener for the planning phases of each action's `QueryExecution`.
  */
final class EngineMeter extends SparkListener with QueryExecutionListener {
  val stages = new AtomicLong
  val shuffleBytes = new AtomicLong // shuffle bytes written
  val spillBytes = new AtomicLong   // memory + disk spill
  val gcMs = new AtomicLong
  val planNs = new AtomicLong
  val execNs = new AtomicLong

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet()
    val m = e.stageInfo.taskMetrics
    if (m != null) {
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      gcMs.addAndGet(m.jvmGCTime)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    planNs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum * 1000000L)
    execNs.addAndGet(durationNs)
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def reset(): Unit =
    Seq(stages, shuffleBytes, spillBytes, gcMs, planNs, execNs).foreach(_.set(0))
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile of a sorted sample. */
  def percentile(sorted: Seq[Double], p: Double): Double =
    if (sorted.isEmpty) 0.0
    else sorted(math.min(sorted.length - 1, math.max(0, math.ceil(p / 100 * sorted.length).toInt - 1)))

  /** The highest of the usual percentiles that still has at least ten
    * samples beyond it, or the median when the sample is too small.
    */
  def tailPercentile(n: Int): Double =
    Seq(99.9, 99.0, 95.0, 90.0, 75.0).find(p => n * (1 - p / 100) >= 10).getOrElse(50.0)
}
