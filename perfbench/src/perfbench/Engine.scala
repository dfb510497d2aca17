package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Per-tag totals of what the Spark engine did. */
final class EngineTotals {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var schedulerDelayMs = 0L
  var inputBytes = 0L
  var shuffleWriteBytes = 0L
}

/** SparkListener that attributes jobs and task metrics to the tag found
  * in the job's local properties (`perfbench.tag`, or the streaming query
  * and batch id for micro-batches). It counts every event it is given, so
  * what it sees is chosen by when it is attached: [[attach]] before the
  * jobs to trace are submitted, [[detach]] after they have ended. */
final class Engine extends SparkListener {
  private val stageTag = new ConcurrentHashMap[Int, String]()
  private val totals = new ConcurrentHashMap[String, EngineTotals]()
  private val executionTag = new ConcurrentHashMap[String, String]()
  private val mergeExecutions = ConcurrentHashMap.newKeySet[String]()

  private def of(tag: String): EngineTotals =
    totals.computeIfAbsent(tag, _ => new EngineTotals)

  def attach(sc: SparkContext): Unit = sc.addSparkListener(this)

  /** Deliver every queued event, then stop listening. */
  def detach(sc: SparkContext): Unit = {
    Engine.drain(sc)
    sc.removeSparkListener(this)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = e.properties
    val tag = Option(p).flatMap(p =>
      Option(p.getProperty(Engine.TagKey)).orElse(for {
        query <- Option(p.getProperty("sql.streaming.queryId"))
        batch <- Option(p.getProperty("streaming.sql.batchId"))
      } yield Engine.epochTag(query, batch)))
    tag.foreach { t =>
      val tot = of(t)
      tot.synchronized { tot.jobs += 1 }
      e.stageIds.foreach(stageTag.put(_, t))
      Option(p.getProperty("spark.sql.execution.id")).foreach(executionTag.put(_, t))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val t = stageTag.get(e.stageId)
    if (t != null && e.taskMetrics != null) {
      val m = e.taskMetrics
      val i = e.taskInfo
      val delay = math.max(0L, i.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        (if (i.gettingResult) i.finishTime - i.gettingResultTime else 0L))
      val tot = of(t)
      tot.synchronized {
        tot.tasks += 1
        tot.cpuNs += m.executorCpuTime + m.executorDeserializeCpuTime
        tot.schedulerDelayMs += delay
        tot.inputBytes += m.inputMetrics.bytesRead
        tot.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  /** RangeSink's multi-epoch merge writes into `.<range>.parquet.inprogress`;
    * the write command's plan names that path. Its jobs give it a tag. */
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      if (s.physicalPlanDescription.contains(".parquet.inprogress"))
        mergeExecutions.add(s.executionId.toString)
    case _ =>
  }

  /** Merge writes whose jobs ran under a tag matching `pred`. */
  def mergeWritesFor(pred: String => Boolean): Long =
    mergeExecutions.asScala.count(id => Option(executionTag.get(id)).exists(pred)).toLong

  def totalsFor(pred: String => Boolean): EngineTotals = {
    val out = new EngineTotals
    totals.asScala.foreach { case (k, v) =>
      if (pred(k)) v.synchronized {
        out.jobs += v.jobs; out.tasks += v.tasks; out.cpuNs += v.cpuNs
        out.schedulerDelayMs += v.schedulerDelayMs
        out.inputBytes += v.inputBytes
        out.shuffleWriteBytes += v.shuffleWriteBytes
      }
    }
    out
  }

}

object Engine {
  val TagKey = "perfbench.tag"

  /** Tag the jobs this thread (and threads it creates) submits. */
  def tag(sc: SparkContext, t: String): Unit = sc.setLocalProperty(TagKey, t)

  def epochTag(queryId: Any, batch: Any): String = s"epoch:$queryId:$batch"

  /** Wait until every queued listener event has been delivered. */
  def drain(sc: SparkContext): Unit =
    org.apache.spark.PerfbenchBus.drain(sc)

  /** Cumulative JVM GC time in seconds (local mode: driver = executors). */
  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1000.0
}
