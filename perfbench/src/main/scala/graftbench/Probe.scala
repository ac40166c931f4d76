package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** A timed interval at a layer boundary. `parent` is the enclosing
  * span's id (-1 at the top); spans of one operation share `op`. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    startNs: Long, endNs: Long)

/** In-memory span recorder. Disabled, or outside a timed operation
  * (warm-up), it only runs the block. */
final class Tracer(val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private var opId = -1

  def setOp(op: Int): Unit = opId = op

  def span[T](name: String)(body: => T): T =
    if (!enabled || opId < 0) body
    else {
      val id = spans.size
      val parent = open.headOption.getOrElse(-1)
      spans += Span(id, parent, opId, name, System.nanoTime(), -1L)
      open = id :: open
      try body
      finally {
        open = open.tail
        spans(id) = spans(id).copy(endNs = System.nanoTime())
      }
    }
}

/** Spark listener that keeps the task-level facts the exec.* layer
  * metrics are made of. Events carry epoch-millisecond times; they are
  * mapped onto System.nanoTime through one reference pair. */
final class ExecListener extends SparkListener {
  import ExecListener._

  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val stages = mutable.LinkedHashMap.empty[Int, Stage]

  private def stage(id: Int): Stage =
    stages.getOrElseUpdate(id, Stage(id, -1, -1, 0, 0, 0, 0, 0, 0, 0, 0, 0))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = Job(e.jobId, e.time, -1, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      stage(e.stageInfo.stageId).submitMs =
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val s = stage(e.stageInfo.stageId)
      s.endMs = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
      if (s.submitMs < 0) s.submitMs = e.stageInfo.submissionTime.getOrElse(s.endMs)
    }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stage(e.stageId)
    s.tasks += 1
    if (e.taskInfo.failed || e.taskInfo.killed) s.failed += 1
    if (s.submitMs >= 0)
      s.waitMs += math.max(0L, e.taskInfo.launchTime - s.submitMs)
    Option(e.taskMetrics).foreach { m =>
      s.runMs += m.executorRunTime
      s.inputBytes += m.inputMetrics.bytesRead
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.outputBytes += m.outputMetrics.bytesWritten
    }
  }
}

object ExecListener {
  final case class Job(id: Int, startMs: Long, var endMs: Long, stages: Seq[Int])
  final case class Stage(id: Int, var submitMs: Long, var endMs: Long,
      var tasks: Int, var failed: Int, var runMs: Long, var waitMs: Long,
      var inputBytes: Long, var shuffleWrite: Long, var shuffleRead: Long,
      var spill: Long, var outputBytes: Long)
}

/** Process-wide counters read before and after each operation. */
object Counters {
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq

  def gcCount: Long = gcBeans.map(b => math.max(0L, b.getCollectionCount)).sum
  def gcMs: Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum

  def compiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  def compileNs: Long =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime

  /** Heap in use right after an explicit collection, in MB: the least
    * of five tries, with a pause between them in which Spark's context
    * cleaner can drop the blocks whose references the collection freed
    * and other threads' garbage does not count. */
  def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 5).map { _ =>
      System.gc()
      val used = mem.getHeapMemoryUsage.getUsed / 1048576.0
      Thread.sleep(200)
      used
    }.min
  }

  def loadavg(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.split("\\s+")(0).toDouble
    catch { case _: Throwable => -1.0 }

  def drain(sc: SparkContext): Unit =
    org.apache.spark.GraftBenchBridge.drainListenerBus(sc)
}
