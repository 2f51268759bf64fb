package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.BusDrain
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

import graft.operators.SessionCache

/** What one span cost, by layer. Job-side fields come from the listener,
  * the rest from snapshots taken around the call. */
final class Counters {
  var jobs, stages, tasks = 0L
  var taskCpuNs, taskWaitMs, taskGcMs = 0L
  var shuffleWriteBytes, shuffleReadBytes, spillBytes = 0L
  var resultBytes, inputBytes, outputBytes = 0L
  var blocks, blockBytes = 0L
  var compiles, compileNs = 0L
  var cacheBuilds = 0L
  var cacheBuildS = 0.0
  var gcMs = 0L
}

/** One timed call into a layer: `op` numbers the operation it belongs to
  * (all spans of one operation share it), `kind` names the layer. */
final case class Span(op: Int, label: String, kind: String,
    startNs: Long, endNs: Long, c: Counters) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Wraps calls into the library. The untraced tracer only runs the call,
  * so end-to-end runs pay nothing for it. */
trait Tracer {
  def span[T](op: Int, label: String, kind: String)(body: => T): T
  def spans: Seq[Span] = Nil
  /** Shared-artifact builds seen inside spans, under readable keys:
    * key -> (builds, seconds). */
  def cacheBuilds: Map[String, (Long, Double)] = Map.empty
  def close(): Unit = ()
}

object NoTrace extends Tracer {
  override def span[T](op: Int, label: String, kind: String)(body: => T): T = body
}

object Tracer {
  def gcMillis: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** `SessionCache.buildLog` keys embed the session's identity hash and
    * the data directory; strip both so builds group by artifact. */
  def readableKey(key: String, dataDirs: Seq[String]): String =
    dataDirs.filter(_.nonEmpty).sortBy(-_.length)
      .foldLeft(key.replaceAll("SparkSession@[0-9a-f]+", "SparkSession"))(
        (k, d) => k.replace(d, "<data>"))
}

/** Traced runs: a SparkListener attributes jobs, stages and tasks to the
  * span whose job group the benchmark set around the call. Work submitted
  * under another group (a streaming query's own micro-batch thread) and
  * RDD block updates go to the span that is open while the bus delivers
  * them; the bus is drained before each span closes, so every event posted
  * during a span is delivered while it is open. */
final class SparkTracer(spark: SparkSession, dataDirs: Seq[String])
    extends SparkListener with Tracer {
  private val sc = spark.sparkContext
  private val groups = new ConcurrentHashMap[String, Counters]()
  private val stageOwner = new ConcurrentHashMap[Int, Counters]()
  private val stageSubmitMs = new ConcurrentHashMap[Int, Long]()
  @volatile private var open: Counters = null
  private val done = mutable.ArrayBuffer[Span]()
  private val builds = mutable.Map[String, (Long, Double)]()
  sc.addSparkListener(this)

  private def owner(group: String): Counters = {
    val g = if (group == null) null else groups.get(group)
    if (g != null) g else open
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val c = owner(Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull)
    if (c != null) {
      c.jobs += 1
      e.stageIds.foreach(s => stageOwner.put(s, c))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val c = stageOwner.get(e.stageInfo.stageId)
    if (c != null) {
      c.stages += 1
      stageSubmitMs.put(e.stageInfo.stageId,
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = stageOwner.get(e.stageId)
    val m = e.taskMetrics
    if (c != null && m != null) {
      c.tasks += 1
      c.taskCpuNs += m.executorCpuTime
      c.taskGcMs += m.jvmGCTime
      val submitted = stageSubmitMs.get(e.stageId)
      if (submitted > 0) c.taskWaitMs += math.max(0L, e.taskInfo.launchTime - submitted)
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.spillBytes += m.diskBytesSpilled
      c.resultBytes += m.resultSize
      c.inputBytes += m.inputMetrics.bytesRead
      c.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    val c = open
    if (c != null && info.blockId.isRDD && info.storageLevel.isValid) {
      c.blocks += 1
      c.blockBytes += info.memSize + info.diskSize
    }
  }

  override def span[T](op: Int, label: String, kind: String)(body: => T): T = {
    val c = new Counters
    val group = s"perfbench-$op-$kind"
    groups.put(group, c)
    sc.setJobGroup(group, label)
    open = c
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val compileNs0 = CodeGenerator.compileTime
    val gc0 = Tracer.gcMillis
    val log0 = SessionCache.buildLog
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      BusDrain(sc)
      open = null
      sc.clearJobGroup()
      groups.remove(group)
      c.compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
      c.compileNs = CodeGenerator.compileTime - compileNs0
      c.gcMs = Tracer.gcMillis - gc0
      SessionCache.buildLog.foreach { case (k, s) =>
        val ds = s - log0.getOrElse(k, 0.0)
        if (ds > 0) {
          c.cacheBuilds += 1
          c.cacheBuildS += ds
          val rk = Tracer.readableKey(k, dataDirs)
          val (n, total) = builds.getOrElse(rk, (0L, 0.0))
          builds(rk) = (n + 1, total + ds)
        }
      }
      done += Span(op, label, kind, t0, t1, c)
    }
  }

  override def spans: Seq[Span] = done.toSeq
  override def cacheBuilds: Map[String, (Long, Double)] = builds.toMap
  override def close(): Unit = sc.removeSparkListener(this)
}
