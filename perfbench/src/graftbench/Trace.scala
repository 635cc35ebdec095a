package graftbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import graft.slope.{Family, SlopeBackend}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval: a call into a layer, with the span that caused
  * it (`parent = -1` at an op's root) and the op it belongs to. */
final case class Span(id: Int, name: String, parent: Int, op: Int,
                      startNs: Long, endNs: Long)

/** In-memory span recorder. Spans stay in memory until the run ends and
  * are written out once; nothing is recorded while `op < 0`. Each thread
  * keeps its own parent stack, so concurrent callers nest correctly. */
final class Tracer {
  private val spans = ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue = Nil }
  @volatile var op: Int = -1

  def span[T](name: String)(body: => T): T =
    if (op < 0) body
    else {
      val id = spans.synchronized { spans += null; spans.length - 1 }
      val parents = stack.get
      stack.set(id :: parents)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(parents)
        val s = Span(id, name, parents.headOption.getOrElse(-1), op, t0, t1)
        spans.synchronized { spans(id) = s }
      }
    }

  def all: Seq[Span] = spans.synchronized(spans.toVector)

  /** Self time per span name, in seconds: each span's duration minus
    * the part of its interval that its child spans cover. */
  def selfSeconds(): Map[String, Double] = {
    val ss = all
    val children = ss.filter(_.parent >= 0).groupBy(_.parent)
    ss.groupBy(_.name).map { case (name, group) =>
      name -> group.map { s =>
        val covered = children.getOrElse(s.id, Nil)
          .map(c => (c.startNs, c.endNs)).sortBy(_._1)
          .foldLeft((0L, Long.MinValue)) { case ((sum, end), (a, b)) =>
            val a1 = math.max(a, end)
            if (b > a1) (sum + (b - a1), b) else (sum, end)
          }._1
        (s.endNs - s.startNs - covered) / 1e9
      }.sum
    }
  }
}

/** Calls, busy time and rows scanned at one layer boundary. */
final class LayerCounter {
  val calls = new AtomicLong
  val busyNs = new AtomicLong
  val rowPasses = new AtomicLong
  def reset(): Unit = { calls.set(0); busyNs.set(0); rowPasses.set(0) }
}

/** Delegating [[SlopeBackend]] that times every data pass. Every member
  * forwards to the wrapped backend, including the defaulted
  * `evalPairActive` and `activeMatrixXty`: falling back to the trait
  * defaults would split the distributed backend's fused one-job pass
  * into two jobs and change the program being measured. */
final class TracingBackend(inner: SlopeBackend, layer: String,
                           tracer: Tracer, counter: LayerCounter)
    extends SlopeBackend {
  def n: Long = inner.n
  def pRaw: Int = inner.pRaw
  def m: Int = inner.m
  def fitIntercept: Boolean = inner.fitIntercept

  private def pass[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try tracer.span(s"$layer.$name")(body)
    finally {
      counter.busyNs.addAndGet(System.nanoTime() - t0)
      counter.calls.incrementAndGet()
      counter.rowPasses.addAndGet(inner.n)
    }
  }

  def featureMeansAndSparsity(): (Array[Double], Boolean) =
    pass("featureMeansAndSparsity")(inner.featureMeansAndSparsity())
  def scaleStats(center: Array[Double], scale: String): Array[Double] =
    pass("scaleStats")(inner.scaleStats(center, scale))
  def yMoments(): (Array[Double], Array[Double]) =
    pass("yMoments")(inner.yMoments())
  def setStandardization(xCenter: Array[Double], xScale: Array[Double]): Unit =
    tracer.span(s"$layer.setStandardization")(inner.setStandardization(xCenter, xScale))
  def evalActive(active: Array[Int], betaActive: Array[Double], family: Family,
                 needDual: Boolean, needGrad: Boolean): (Double, Double, Array[Double]) =
    pass("evalActive")(inner.evalActive(active, betaActive, family, needDual, needGrad))
  override def evalPairActive(active: Array[Int], candActive: Array[Double],
                              nextActive: Array[Double], family: Family)
      : (Double, Double, Double, Array[Double]) =
    pass("evalPairActive")(inner.evalPairActive(active, candActive, nextActive, family))
  def gramXty(active: Array[Int]): (Array[Double], Array[Double]) =
    pass("gramXty")(inner.gramXty(active))
  override def activeMatrixXty(active: Array[Int])
      : Option[(Array[Double], Array[Double])] =
    pass("activeMatrixXty")(inner.activeMatrixXty(active))
  def xtv(rowV: Array[Double] => Array[Double]): Array[Double] =
    pass("xtv")(inner.xtv(rowV))
}

/** Spark scheduler, task, shuffle and planning counters, summed while
  * registered. Listener events arrive asynchronously: drain the bus
  * ([[org.apache.spark.BenchBus.drain]]) before registering and before
  * reading. */
final class SparkCounters extends SparkListener with QueryExecutionListener {
  var jobs, stages, tasks = 0L
  var taskCpuNs, taskRunMs, shuffleRead, shuffleWrite, spill, resultBytes = 0L
  var peakExecMem = 0L
  var oneTaskStageMs = 0L
  var planningNs = 0L
  val jobFloorsMs = ArrayBuffer.empty[Double]
  private val jobStart = scala.collection.mutable.Map.empty[Int, (Long, Seq[Int])]
  private val stageMaxTaskMs = scala.collection.mutable.Map.empty[Int, Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = (e.time, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (t0, stageIds) =>
      jobs += 1
      val longest = stageIds.flatMap(stageMaxTaskMs.get).foldLeft(0L)(math.max)
      jobFloorsMs += (e.time - t0 - longest).toDouble
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += 1
    val info = e.stageInfo
    if (info.numTasks == 1)
      for (a <- info.submissionTime; b <- info.completionTime) oneTaskStageMs += b - a
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    stageMaxTaskMs(e.stageId) =
      math.max(stageMaxTaskMs.getOrElse(e.stageId, 0L), e.taskInfo.duration)
    val m = e.taskMetrics
    if (m != null) {
      taskCpuNs += m.executorCpuTime
      taskRunMs += m.executorRunTime
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      resultBytes += m.resultSize
      peakExecMem = math.max(peakExecMem, m.peakExecutionMemory)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      planningNs += Seq("analysis", "optimization", "planning")
        .flatMap(qe.tracker.phases.get).map(_.durationMs * 1000000L).sum
    }

  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit = ()
}
