package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** One recorded span: a call from the benchmark into one graft layer. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    startMs: Long, startNs: Long, var endNs: Long = 0L) {
  def seconds: Double = (endNs - startNs) / 1e9
  def endMs: Long = startMs + (endNs - startNs) / 1000000L
}

/** Spark work of one job, summed over its tasks. */
final case class JobWork(startMs: Long, tasks: Long, cpuNs: Long, gcMs: Long,
    inputBytes: Long, outputBytes: Long, shuffleWriteBytes: Long,
    shuffleReadBytes: Long)

/** In-memory span recorder. With tracing off, [[span]] only runs its
  * body, so the untraced run pays no bookkeeping.
  */
final class Tracer(val enabled: Boolean) {
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var nextOp = 0

  /** A fresh op id; every span opened until the next call shares it. */
  def newOp(): Int = { nextOp += 1; nextOp }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, stack.headOption.map(_.id).getOrElse(-1),
        nextOp, name, System.currentTimeMillis(), System.nanoTime())
      spans += s
      stack = s :: stack
      try body
      finally { s.endNs = System.nanoTime(); stack = stack.tail }
    }

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** Span duration minus the part of it covered by its child spans. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum

  def toJson: String = spans.map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
      s""""start_ms":${s.startMs},"dur_ms":${Json.num(s.seconds * 1000)},""" +
      s""""self_ms":${Json.num(selfSeconds(s) * 1000)}}"""
  }.mkString("[\n", ",\n", "\n]")
}

/** SparkListener that sums task metrics per job. The benchmark drives
  * graft from one client thread, so a job belongs to the innermost span
  * open when it was submitted; jobs are matched to spans by submit time,
  * which also covers jobs that graft submits from its own pool threads.
  */
final class JobLog(spark: SparkSession) extends SparkListener {
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val starts = new ConcurrentHashMap[Int, Long]()
  private val acc = new ConcurrentHashMap[Int, Array[Long]]()
  spark.sparkContext.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    starts.put(e.jobId, e.time)
    acc.put(e.jobId, new Array[Long](7))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val a = acc.get(stageJob.getOrDefault(e.stageId, -1))
    if (m != null && a != null) a.synchronized {
      a(0) += 1
      a(1) += m.executorCpuTime
      a(2) += m.jvmGCTime
      a(3) += m.inputMetrics.bytesRead
      a(4) += m.outputMetrics.bytesWritten
      a(5) += m.shuffleWriteMetrics.bytesWritten
      a(6) += m.shuffleReadMetrics.totalBytesRead
    }
  }

  /** Every job so far, after the listener bus has delivered its events. */
  def jobs(): Seq[JobWork] = {
    org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
    starts.asScala.toSeq.map { case (j, t) =>
      val a = acc.get(j)
      JobWork(t, a(0), a(1), a(2), a(3), a(4), a(5), a(6))
    }
  }

  def detach(): Unit = spark.sparkContext.removeSparkListener(this)
}

/** Spark work summed over the jobs submitted inside some spans. */
final case class Work(jobs: Int, tasks: Long, cpuS: Double, gcS: Double,
    inputMb: Double, outputMb: Double, shuffleWriteMb: Double,
    shuffleReadMb: Double)

object Work {
  def of(jobs: Seq[JobWork], spans: Seq[Span]): Work =
    within(jobs, spans.map(s => (s.startMs, s.endMs)))

  def within(jobs: Seq[JobWork], windows: Seq[(Long, Long)]): Work = {
    val js = jobs.filter(j => windows.exists { case (a, b) =>
      j.startMs >= a && j.startMs <= b })
    val mb = 1024.0 * 1024.0
    Work(js.size, js.map(_.tasks).sum, js.map(_.cpuNs).sum / 1e9,
      js.map(_.gcMs).sum / 1e3, js.map(_.inputBytes).sum / mb,
      js.map(_.outputBytes).sum / mb, js.map(_.shuffleWriteBytes).sum / mb,
      js.map(_.shuffleReadBytes).sum / mb)
  }
}

/** SQL metrics of the file scans in an executed query. */
object ScanMetrics extends AdaptiveSparkPlanHelper {
  /** (rows, files) summed over every file scan of `df`'s executed plan. */
  def apply(df: DataFrame): (Long, Long) = {
    val scans = collect(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s
    }
    def m(s: FileSourceScanExec, k: String) =
      s.metrics.get(k).map(_.value).getOrElse(0L)
    (scans.map(m(_, "numOutputRows")).sum, scans.map(m(_, "numFiles")).sum)
  }
}
