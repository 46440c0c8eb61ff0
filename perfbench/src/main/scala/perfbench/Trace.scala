package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap
import javax.management.{NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.TaskContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** JVM probes: the largest heap in use right after any collection (from GC
  * notifications), GC time and process CPU time. */
object JvmProbe {
  @volatile private var peakBytes = 0L

  def install(): Unit = {
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
    val listener: NotificationListener = (n, _) =>
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        synchronized { if (used > peakBytes) peakBytes = used }
      }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ =>
    }
  }

  def mb: Double = peakBytes / 1048576.0

  def cpuSeconds: Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1000.0
}

/** Records which Spark tasks ran the asset fetch. Wraps the exporter's own
  * fetcher; in local mode tasks run in this JVM, so a static set sees them. */
object FetchProbe {
  val tasks: java.util.Set[Long] = ConcurrentHashMap.newKeySet[Long]()

  final class Probe(inner: String => Either[String, Array[Byte]])
      extends (String => Either[String, Array[Byte]]) with Serializable {
    def apply(url: String): Either[String, Array[Byte]] = {
      val tc = TaskContext.get()
      if (tc != null) tasks.add(tc.taskAttemptId())
      inner(url)
    }
  }
}

/** Per-span layer counters gathered from outside the program: Spark jobs,
  * tasks and bytes from a SparkListener (jobs are tagged with the span's
  * name through a local property set on the driver thread), planning
  * phases from a QueryExecutionListener, and files the span left on disk.
  * A span is an export module or a catalog query.
  */
final class Trace(spark: SparkSession) {
  val ModuleKey = "perfbench.module"

  final class Layer {
    var startMs, endMs = 0L
    var jobs, tasks = 0L
    var readBytes, shuffleBytes, shuffleReadBytes, resultBytes, spillBytes = 0L
    var planMs = 0L
    var writeBytes, files = 0L
    val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
    val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

    /** Largest max/median task time over stages of at least 4 tasks. */
    def skew: Double = stageTaskMs.values.filter(_.size >= 4).map { ts =>
      val sorted = ts.sorted
      sorted.last.toDouble / math.max(sorted(sorted.size / 2), 1L)
    }.maxOption.getOrElse(1.0)
  }
  val layers = mutable.LinkedHashMap.empty[String, Layer]

  private val stageModule = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, (String, Long)]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(ModuleKey))).foreach { m =>
        jobStart.put(e.jobId, m -> e.time)
        e.stageIds.foreach(stageModule.put(_, m))
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (m, t0) =>
        layers.synchronized {
          val l = layers(m)
          l.jobs += 1
          l.jobSpans += (t0 -> e.time)
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageModule.get(e.stageId)).filter(_ => e.taskMetrics != null).foreach { m =>
        val tm = e.taskMetrics
        layers.synchronized {
          val l = layers(m)
          l.tasks += 1
          l.readBytes += tm.inputMetrics.bytesRead
          l.shuffleBytes += tm.shuffleWriteMetrics.bytesWritten
          l.shuffleReadBytes += tm.shuffleReadMetrics.totalBytesRead
          l.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
            e.taskInfo.duration
          l.spillBytes += tm.memoryBytesSpilled + tm.diskBytesSpilled
          if (e.taskType == "ResultTask") l.resultBytes += tm.resultSize
        }
      }
  }

  /** Each executed action's analysis + optimization + planning time,
    * charged to the module whose span holds the action's first phase. */
  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases.values
      if (phases.nonEmpty) {
        val start = phases.map(_.startTimeMs).min
        val ms = phases.map(_.durationMs).sum
        layers.synchronized {
          layers.values.find(l => start >= l.startMs && (l.endMs == 0 || start <= l.endMs))
            .foreach(_.planMs += ms)
        }
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Forgets the previous export's layers. */
  def reset(): Unit = layers.synchronized {
    layers.clear(); stageModule.clear(); jobStart.clear(); FetchProbe.tasks.clear()
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    watch(spark)
  }

  /** Query listeners belong to a session; a new session needs its own. */
  def watch(session: SparkSession): Unit = session.listenerManager.register(queryListener)

  private def snapshot(dir: Path): Map[String, (Long, Long)] =
    if (!Files.exists(dir)) Map.empty
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
        p.toString -> (Files.size(p) -> Files.getLastModifiedTime(p).toMillis)
      }.toMap
      finally s.close()
    }

  /** Runs `body` under a span; files new or changed under `outDir`
    * afterwards are charged to it (the walks lie outside the span). */
  def span[T](module: String, outDir: Option[String])(body: => T): T = {
    val before = outDir.fold(Map.empty[String, (Long, Long)])(d => snapshot(Paths.get(d)))
    val l = new Layer
    layers.synchronized { layers(module) = l }
    val sc = spark.sparkContext
    sc.setLocalProperty(ModuleKey, module)
    l.startMs = System.currentTimeMillis()
    try body
    finally {
      l.endMs = System.currentTimeMillis()
      sc.setLocalProperty(ModuleKey, null)
      val after = outDir.fold(Map.empty[String, (Long, Long)])(d => snapshot(Paths.get(d)))
      val changed = after.filter { case (p, v) => !before.get(p).contains(v) }
      l.files = changed.size
      l.writeBytes = changed.values.map(_._1).sum
    }
  }

  /** Part of the span that no Spark job of the module covers. */
  def driverMs(l: Layer): Long = {
    val clipped = l.jobSpans.map { case (a, b) => (a max l.startMs, b min l.endMs) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var reach = l.startMs
    clipped.foreach { case (a, b) =>
      if (b > reach) { covered += b - (a max reach); reach = b }
    }
    (l.endMs - l.startMs) - covered
  }
}
