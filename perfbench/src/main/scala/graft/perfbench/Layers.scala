package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Job, stage and task counters for the traced run, attributed to harness
  * phases by submission time. Job-start time is wall-clock ms, the same
  * clock the harness stamps its phase intervals with, so a job launched
  * from another driver thread (the overlap legs inside `QueryDef.build`)
  * still lands in the phase that launched it. */
final class LayerListener extends SparkListener {
  import LayerListener.{JobRec, TaskAgg}

  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val jobEndMs = new ConcurrentHashMap[Int, Long]()
  private val completedStages = new ConcurrentHashMap[Int, Int]()
  private val taskAgg = new ConcurrentHashMap[Int, TaskAgg]()
  @volatile private var syncEnds = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val desc = Option(e.properties).map(_.getProperty(LayerListener.JobDescription)).orNull
    if (desc != LayerListener.SyncMarker) {
      // Parquet schema inference inside Tables.load shows up with its
      // call site ("parquet at Tables.scala:NN") as the stage name.
      val tables = e.stageInfos.exists(_.name.contains("Tables.scala"))
      jobs.put(e.jobId, JobRec(e.jobId, e.time, tables, e.stageIds))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (jobs.containsKey(e.jobId)) jobEndMs.put(e.jobId, e.time)
    else synchronized { syncEnds += 1 }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    completedStages.merge(e.stageInfo.stageId, 1, Integer.sum)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val a = taskAgg.computeIfAbsent(e.stageId, _ => new TaskAgg)
      a.synchronized {
        a.tasks += 1
        a.runMs += m.executorRunTime
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.output += m.outputMetrics.bytesWritten
        if (m.inputMetrics.recordsRead == 0 && m.shuffleReadMetrics.recordsRead == 0) a.emptyTasks += 1
      }
    }
  }

  /** Block until every event posted before this call has been delivered:
    * run a marker job and wait for its end event to come through the bus. */
  def sync(sc: SparkContext): Unit = {
    val before = synchronized(syncEnds)
    val prev = sc.getLocalProperty(LayerListener.JobDescription)
    sc.setJobDescription(LayerListener.SyncMarker)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setJobDescription(prev)
    val deadline = System.currentTimeMillis() + 30000
    while (synchronized(syncEnds) == before) {
      require(System.currentTimeMillis() < deadline, "listener bus did not drain within 30 s")
      Thread.sleep(2)
    }
  }

  /** Counters of the jobs submitted in [fromMs, toMs]. */
  def window(fromMs: Long, toMs: Long): LayerListener.Window = {
    val js = jobs.values.asScala.filter(j => j.submitMs >= fromMs && j.submitMs <= toMs).toSeq
    val stageIds = js.flatMap(_.stageIds).distinct
    val aggs = stageIds.flatMap(s => Option(taskAgg.get(s)))
    def sum(f: TaskAgg => Long) = aggs.map(a => a.synchronized(f(a))).sum
    val tablesJobs = js.filter(_.fromTables)
    LayerListener.Window(
      jobs = js.size,
      tablesJobs = tablesJobs.size,
      tablesMs = tablesJobs.map(j => jobEndMs.getOrDefault(j.id, j.submitMs) - j.submitMs).sum.toDouble,
      stages = stageIds.count(completedStages.containsKey),
      tasks = sum(_.tasks), emptyTasks = sum(_.emptyTasks), taskRunMs = sum(_.runMs),
      shuffleRead = sum(_.shuffleRead), shuffleWrite = sum(_.shuffleWrite),
      spill = sum(_.spill), output = sum(_.output))
  }
}

object LayerListener {
  private final class TaskAgg {
    var tasks, emptyTasks, runMs, shuffleRead, shuffleWrite, spill, output = 0L
  }
  private final case class JobRec(id: Int, submitMs: Long, fromTables: Boolean, stageIds: Seq[Int])
  val SyncMarker = "perfbench-listener-sync"
  private val JobDescription = "spark.job.description"

  final case class Window(
      jobs: Int, tablesJobs: Int, tablesMs: Double, stages: Int, tasks: Long,
      emptyTasks: Long, taskRunMs: Long, shuffleRead: Long, shuffleWrite: Long,
      spill: Long, output: Long)
}

/** JVM-wide GC time and heap high-water mark over the timed phase. */
final class JvmGauge {
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
    .filter(_.getType == MemoryType.HEAP)
  private var gcAtStart = 0L

  def start(): Unit = {
    gcAtStart = gcMs
    heapPools.foreach(_.resetPeakUsage())
  }
  private def gcMs: Long = gcs.map(_.getCollectionTime).filter(_ >= 0).sum
  def gcMsSinceStart: Double = (gcMs - gcAtStart).toDouble
  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)
}
