package linkbench

import java.lang.management.ManagementFactory
import java.util.Properties

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.linkbench.SqlEvents
import org.apache.spark.storage.BlockId

/** One call into a layer, timed from outside the engine. */
final case class Span(name: String, secs: Double, gcSecs: Double)

/** Times each layer call and tags every Spark job it launches with the
  * job-local property [[Spans.Key]], so listener counters are attributed by
  * the job that produced them, not by when their events arrive. */
final class Spans(sc: SparkContext) {
  private val done = mutable.ArrayBuffer.empty[Span]
  var calls = 0L
  var failedCalls = 0L

  def apply[T](name: String)(f: => T): T = {
    calls += 1
    sc.setLocalProperty(Spans.Key, name)
    val gc0 = Spans.gcMillis()
    val t0 = System.nanoTime()
    try f
    catch { case e: Throwable => failedCalls += 1; throw e }
    finally {
      done += Span(name, (System.nanoTime() - t0) / 1e9,
        (Spans.gcMillis() - gc0) / 1e3)
      sc.setLocalProperty(Spans.Key, null)
    }
  }

  /** The spans recorded since the last call, in call order. */
  def take(): Seq[Span] = { val s = done.toList; done.clear(); s }
}

object Spans {
  val Key = "linkbench.span"

  /** Collection time of every JVM collector. In local mode the driver and
    * the executor share this JVM, so this is all GC inside the span. */
  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum
}

/** Bytes held in Spark block storage by cached and checkpointed data (RDD
  * blocks, memory plus disk), and the peak since [[resetPeak]]. */
final class StorageMeter extends SparkListener {
  private val sizes = mutable.HashMap.empty[BlockId, Long]
  private var held = 0L
  private var peak = 0L

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD) {
      held -= sizes.remove(b.blockId).getOrElse(0L)
      if (b.storageLevel.isValid) {
        sizes(b.blockId) = b.memSize + b.diskSize
        held += b.memSize + b.diskSize
      }
      peak = math.max(peak, held)
    }
  }

  def resetPeak(): Unit = synchronized { peak = held }
  def peakBytes: Long = synchronized(peak)
}

/** Per-span Spark counters from listener events. Jobs carry the span tag in
  * their properties; stages inherit it from their submission event, tasks
  * from their stage, and query planning time (the `QueryExecution.tracker`
  * phases: analysis, optimization, physical planning) from the SQL execution
  * id the tagged jobs ran under. */
final class Tracer(cores: Int) extends SparkListener {
  private final class Acc {
    var jobs, stages, tasks, failedTasks = 0L
    var shuffleBytes, shuffleRecords, spillBytes = 0L
    val runMs = mutable.ArrayBuffer.empty[Long]
  }
  private val acc = mutable.HashMap.empty[String, Acc]
  private val stageSpan = mutable.HashMap.empty[Int, String]
  private val execSpan = mutable.HashMap.empty[Long, String]
  private val execPlanningMs = mutable.HashMap.empty[Long, Long]

  private def tag(p: Properties): Option[String] =
    Option(p).flatMap(q => Option(q.getProperty(Spans.Key)))
  private def accOf(span: String): Acc = acc.getOrElseUpdate(span, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    tag(e.properties).foreach { s =>
      accOf(s).jobs += 1
      Option(e.properties.getProperty("spark.sql.execution.id"))
        .foreach(id => execSpan(id.toLong) = s)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    tag(e.properties).foreach(s => stageSpan(e.stageInfo.stageId) = s)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageSpan.get(e.stageInfo.stageId).foreach(s => accOf(s).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).foreach { s =>
      val a = accOf(s)
      a.tasks += 1
      if (!e.taskInfo.successful) a.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
        a.spillBytes += m.diskBytesSpilled
        a.runMs += m.executorRunTime
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case end: SparkListenerSQLExecutionEnd => SqlEvents.queryOf(end).foreach { qe =>
      synchronized {
        execPlanningMs(end.executionId) = qe.tracker.phases.values.map(_.durationMs).sum
      }
    }
    case _ =>
  }

  /** Per-layer metrics of `spans` from the events seen since the last call,
    * then forget those events. Call only after the listener bus drained. */
  def take(spans: Seq[Span]): Map[String, Double] = synchronized {
    val planningMs = execPlanningMs.toSeq
      .flatMap { case (id, ms) => execSpan.get(id).map(_ -> ms) }
      .groupMapReduce(_._1)(_._2)(_ + _)
    val out = spans.flatMap { sp =>
      val a = acc.getOrElse(sp.name, new Acc)
      val runs = a.runMs.sorted
      val median = if (runs.isEmpty) 0L else runs((runs.size - 1) / 2)
      val busy = if (sp.secs > 0) a.runMs.sum / 1e3 / (cores * sp.secs) else 0.0
      val skew = if (runs.isEmpty) 0.0 else runs.last.toDouble / math.max(median, 1L)
      Seq("s" -> sp.secs,
        "planning_s" -> planningMs.getOrElse(sp.name, 0L) / 1e3,
        "jobs" -> a.jobs.toDouble,
        "stages" -> a.stages.toDouble,
        "tasks" -> a.tasks.toDouble,
        "failed_tasks" -> a.failedTasks.toDouble,
        "shuffle_write_mb" -> a.shuffleBytes / 1e6,
        "shuffle_records" -> a.shuffleRecords.toDouble,
        "spill_mb" -> a.spillBytes / 1e6,
        "gc_s" -> sp.gcSecs,
        "busy_frac" -> busy,
        "task_skew" -> skew).map { case (k, v) => s"${sp.name}.$k" -> v }
    }.toMap
    acc.clear(); stageSpan.clear(); execSpan.clear(); execPlanningMs.clear()
    out
  }
}
