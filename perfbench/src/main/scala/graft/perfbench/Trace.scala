package graft.perfbench

import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Totals of the Spark work attributed to one job group. */
final class GroupTotals {
  var jobs = 0
  var stages = 0
  var taskCpuNs = 0L
  var taskRunMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
}

/** SparkListener that attributes every job, stage and task to the job
  * group the job ran under. The traced run opens one job group per
  * layer call, so a group's totals are that call's work. Streaming
  * micro-batches run under the query's run id as their group. */
final class GroupListener extends SparkListener {
  private val groups = mutable.Map.empty[String, GroupTotals]
  private val stageGroup = mutable.Map.empty[Int, String]

  private def totals(g: String) = groups.getOrElseUpdate(g, new GroupTotals)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    val t = totals(g)
    t.jobs += 1
    e.stageIds.foreach(s => if (!stageGroup.contains(s)) stageGroup(s) = g)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageGroup.get(e.stageInfo.stageId).foreach { g => val t = totals(g); t.stages += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) stageGroup.get(e.stageId).foreach { g =>
      val t = totals(g)
      t.taskCpuNs += m.executorCpuTime
      t.taskRunMs += m.executorRunTime
      t.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      t.spillBytes += m.diskBytesSpilled
    }
  }

  def get(group: String): GroupTotals = synchronized(groups.getOrElse(group, new GroupTotals))
}

/** Task CPU time of the untraced passes. */
final class TaskCpu extends SparkListener {
  private var taskCpuNs = 0L
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.taskMetrics != null) taskCpuNs += e.taskMetrics.executorCpuTime
  }
  /** Task CPU seconds spent since the last call. */
  def drain(): Double = synchronized {
    val r = taskCpuNs / 1e9
    taskCpuNs = 0L
    r
  }
}

/** Collects every micro-batch progress of the running queries;
  * `recentProgress` keeps only the last 100. */
final class ProgressLog extends StreamingQueryListener {
  private val buf = mutable.ArrayBuffer.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized(buf += e.progress)
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  def forRun(runId: java.util.UUID): Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] =
    synchronized(buf.filter(_.runId == runId).toList)
}

/** Heap occupancy right after each garbage collection, as the highest
  * value seen since the last `reset`. */
object HeapWatch extends NotificationListener {
  @volatile private var peak = 0L

  def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(this, null, null)
    case _ => ()
  }

  override def handleNotification(n: Notification, hb: AnyRef): Unit =
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
      val after = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (k, u) if heapPools.contains(k) => u.getUsed }.sum
      synchronized(if (after > peak) peak = after)
    }

  def reset(): Unit = synchronized { peak = 0L }

  /** Peak post-GC heap since `reset`, in MiB; when no collection ran in
    * the window, the heap in use now. */
  def peakMiB(): Double = synchronized {
    val p = if (peak > 0) peak else ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    p / (1024.0 * 1024.0)
  }
}

object Cpu {
  private val threads = ManagementFactory.getThreadMXBean
  /** CPU seconds the calling thread has used so far. */
  def thread(): Double = threads.getCurrentThreadCpuTime / 1e9
}
