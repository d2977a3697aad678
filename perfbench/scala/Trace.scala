package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval: `parent` is the index of the enclosing span (-1 for
  * an operation's root), `op` the operation's sequence number. */
final case class Span(name: String, startNs: Long, endNs: Long, parent: Int, op: Int)

/** In-memory span recorder. Spans are only kept while `enabled`; the
  * untraced segment pays one boolean test per boundary. */
final class Tracer {
  var enabled = false
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var op = -1

  def beginOp(id: Int): Unit = { op = id; stack = Nil }

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val idx = spans.length
      spans += Span(name, System.nanoTime(), 0L, stack.headOption.getOrElse(-1), op)
      stack = idx :: stack
      try body
      finally {
        spans(idx) = spans(idx).copy(endNs = System.nanoTime())
        stack = stack.tail
      }
    }

  /** Self time per span name: duration minus the union of its direct
    * children's intervals, in ms, summed over all spans of that name. */
  def selfMs: Map[String, Double] = {
    val kids = spans.indices.groupBy(i => spans(i).parent)
    spans.indices.groupBy(i => spans(i).name).map { case (name, ids) =>
      name -> ids.map { i =>
        val s = spans(i)
        val covered = kids.getOrElse(i, Nil).map(k => (spans(k).startNs, spans(k).endNs))
        (s.endNs - s.startNs - Intervals.union(covered)) / 1e6
      }.sum
    }
  }
}

object Intervals {
  /** Total length of the union of half-open intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var end = Long.MinValue
    var start = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > end) { if (end > start) total += end - start; start = s; end = e }
      else if (e > end) end = e
    }
    if (end > start) total += end - start
    total
  }
}

/** Per-operation Spark counters: jobs/stages/tasks with their task
  * metrics from a SparkListener, Catalyst phase times of every executed
  * query from a QueryExecutionListener. `reset` starts a new operation;
  * read the counters only after [[org.apache.spark.PerfbenchBus.drain]]. */
final class SparkCounters extends SparkListener with QueryExecutionListener {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskNs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var outputBytes = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  private val jobStart = mutable.Map.empty[Int, Long]
  val phasesMs = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  /** Input bytes per task of the operation (for partition fill). */
  val taskInputBytes = mutable.ArrayBuffer.empty[Long]

  def reset(): Unit = synchronized {
    jobs = 0; stages = 0; tasks = 0; taskNs = 0; shuffleRead = 0; shuffleWrite = 0
    spill = 0; inputBytes = 0; inputRecords = 0; outputBytes = 0
    jobIntervals.clear(); jobStart.clear(); phasesMs.clear(); taskInputBytes.clear()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    stages += e.stageInfos.size
    jobStart(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobIntervals += ((s, e.time)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      taskNs += m.executorRunTime * 1000000L
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      inputBytes += m.inputMetrics.bytesRead
      inputRecords += m.inputMetrics.recordsRead
      outputBytes += m.outputMetrics.bytesWritten
      if (m.inputMetrics.bytesRead > 0) taskInputBytes += m.inputMetrics.bytesRead
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      qe.tracker.phases.foreach { case (phase, s) => phasesMs(phase) += s.durationMs.toDouble }
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Wall ms covered by at least one job. */
  def jobMs: Double = synchronized(Intervals.union(jobIntervals.toSeq) / 1.0)

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
}

object Jvm {
  private def gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala

  def gcMs: Long = gcBeans.map(_.getCollectionTime.max(0L)).sum

  /** Heap occupancy after a full collection, summed over the heap memory
    * pools, in MB. */
  def heapAfterGcMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getUsage.getUsed).sum / 1048576.0
  }
}
