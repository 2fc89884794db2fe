package graftbench

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.scheduler._

/** Spark task counters grouped by job description. The engine labels its
  * round stages `round<r>:<stage>`; the harness labels each query `q:<name>`
  * and each traced layer `t:<layer>`. Registered only for traced runs. */
final class TaskProbe extends SparkListener {
  final class Agg {
    var jobs = 0L
    var tasks = 0L
    var cpuNs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    val durationsMs = mutable.ArrayBuffer.empty[Long]
  }

  private val stageDesc = mutable.HashMap.empty[Int, String]
  private val aggs = mutable.HashMap.empty[String, Agg]
  private val rddBlocks = mutable.HashMap.empty[String, Long]
  private var cachedBytes = 0L
  private var cachePeakBytes = 0L

  private def desc(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.job.description"))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val d = desc(e.properties)
    e.stageIds.foreach(s => stageDesc.getOrElseUpdate(s, d))
    aggs.getOrElseUpdate(d, new Agg).jobs += 1
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageDesc(e.stageInfo.stageId) = desc(e.properties)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    synchronized {
      val a = aggs.getOrElseUpdate(stageDesc.getOrElse(e.stageId, ""), new Agg)
      a.tasks += 1
      a.cpuNs += m.executorCpuTime
      a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      a.spillBytes += m.diskBytesSpilled
      a.durationsMs += e.taskInfo.duration
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    if (!info.blockId.isRDD) return
    synchronized {
      val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      cachedBytes += size - rddBlocks.getOrElse(info.blockId.name, 0L)
      if (size == 0L) rddBlocks.remove(info.blockId.name) else rddBlocks(info.blockId.name) = size
      cachePeakBytes = math.max(cachePeakBytes, cachedBytes)
    }
  }

  /** Totals over every description accepted by `keep`. */
  case class Totals(jobs: Long, tasks: Long, cpuS: Double, shuffleMb: Double, spillMb: Double,
                    taskSkew: Double)

  def totals(keep: String => Boolean): Totals = synchronized {
    val sel = aggs.collect { case (d, a) if keep(d) => a }
    val durs = sel.flatMap(_.durationsMs).toArray.sorted
    val skew =
      if (durs.isEmpty) 0.0
      else durs.last.toDouble / math.max(1L, durs(durs.length / 2)).toDouble
    Totals(sel.map(_.jobs).sum, sel.map(_.tasks).sum, sel.map(_.cpuNs).sum / 1e9,
      sel.map(_.shuffleBytes).sum / 1e6, sel.map(_.spillBytes).sum / 1e6, skew)
  }

  def reset(): Unit = synchronized { aggs.clear(); cachePeakBytes = cachedBytes }

  def cachePeakMb: Double = synchronized(cachePeakBytes / 1e6)
}

/** JVM heap and GC observer: the live heap right after each collection (sum
  * of the heap pools' after-GC usage) and the accumulated GC time. */
object GcProbe {
  private val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  @volatile private var peakAfterGcBytes = 0L

  private val listener = new NotificationListener {
    override def handleNotification(n: Notification, handback: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val after = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        GcProbe.synchronized { peakAfterGcBytes = math.max(peakAfterGcBytes, after) }
      }
  }

  def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ => ()
  }

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum / 1e3

  def heapPeakMb: Double = peakAfterGcBytes / 1e6
}
