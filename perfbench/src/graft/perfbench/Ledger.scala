package graft.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.perfbench.BusBridge
import org.apache.spark.scheduler._
import org.apache.spark.storage.BlockId
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Executor-side cost of the Spark jobs run under one job group.
  * `inputRecords` are the records read by stages that scan files.
  */
final case class Cost(
    jobs: Long = 0, jobWallS: Double = 0, tasks: Long = 0,
    runS: Double = 0, cpuS: Double = 0, gcS: Double = 0,
    inputRecords: Long = 0, shuffleWriteBytes: Long = 0, spillBytes: Long = 0) {
  def +(o: Cost): Cost = Cost(jobs + o.jobs, jobWallS + o.jobWallS, tasks + o.tasks, runS + o.runS, cpuS + o.cpuS,
    gcS + o.gcS, inputRecords + o.inputRecords, shuffleWriteBytes + o.shuffleWriteBytes,
    spillBytes + o.spillBytes)
  def -(o: Cost): Cost = Cost(jobs - o.jobs, jobWallS - o.jobWallS, tasks - o.tasks, runS - o.runS, cpuS - o.cpuS,
    gcS - o.gcS, inputRecords - o.inputRecords, shuffleWriteBytes - o.shuffleWriteBytes,
    spillBytes - o.spillBytes)
  def shuffleMb: Double = shuffleWriteBytes / 1e6
  def spillMb: Double = spillBytes / 1e6
}

/** A `SparkListener` that sums stage metrics per job group and tracks the
  * bytes held by cached RDD blocks (memory plus disk), with a resettable
  * peak. Stages are attributed to the group of the first job that
  * submitted them, read from the `spark.jobGroup.id` local property.
  */
final class Ledger(sc: SparkContext) extends SparkListener {
  private val stageGroup = mutable.Map[Int, String]()
  private val jobStart = mutable.Map[Int, (String, Long)]()
  private val byGroup = mutable.Map[String, Cost]().withDefaultValue(Cost())
  private val blocks = mutable.Map[BlockId, Long]()
  private var held = 0L
  private var peakHeld = 0L

  sc.addSparkListener(this)

  private def add(g: String, c: Cost): Unit = byGroup(g) = byGroup(g) + c

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("-")
    e.stageIds.foreach(s => stageGroup.getOrElseUpdate(s, g))
    jobStart(e.jobId) = (g, e.time)
    add(g, Cost(jobs = 1))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (g, t) =>
      add(g, Cost(jobWallS = (e.time - t) / 1e3))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val m = si.taskMetrics
    if (m != null) {
      val scansFiles = si.rddInfos.exists(_.name == "FileScanRDD")
      add(stageGroup.getOrElse(si.stageId, "-"), Cost(
        tasks = si.numTasks,
        runS = m.executorRunTime / 1e3, cpuS = m.executorCpuTime / 1e9,
        gcS = m.jvmGCTime / 1e3,
        inputRecords = if (scansFiles) m.inputMetrics.recordsRead else 0L,
        shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten,
        spillBytes = m.diskBytesSpilled))
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      held += size - blocks.getOrElse(info.blockId, 0L)
      if (size == 0L) blocks.remove(info.blockId) else blocks(info.blockId) = size
      peakHeld = math.max(peakHeld, held)
    }
  }

  /** Per-group totals since the session started, after every event posted
    * so far has been delivered.
    */
  def snapshot(): Map[String, Cost] = {
    BusBridge.drain(sc)
    synchronized(byGroup.toMap)
  }

  /** Bytes held by cached blocks now; also restarts the peak from here. */
  def resetPeak(): Long = {
    BusBridge.drain(sc)
    synchronized { peakHeld = held; held }
  }

  def peak(): Long = { BusBridge.drain(sc); synchronized(peakHeld) }
}

object Ledger {
  private val procIo = java.nio.file.Paths.get("/proc/self/io")

  /** Bytes this JVM has read through read system calls (`rchar` of
    * /proc/self/io): scanned files, and shuffle and spill files read back.
    * Spark's own input metric misses the parquet column reads, so this is
    * what `input_mb` reports. 0 where the kernel does not expose it.
    */
  def readBytes(): Long =
    try {
      java.nio.file.Files.readAllLines(procIo).iterator().asScala
        .collectFirst { case l if l.startsWith("rchar:") => l.substring(6).trim.toLong }
        .getOrElse(0L)
    } catch { case _: java.io.IOException => 0L }

  /** Cost per group between two snapshots, groups with no new work left out. */
  def delta(before: Map[String, Cost], after: Map[String, Cost]): Map[String, Cost] =
    after.map { case (g, c) => g -> (c - before.getOrElse(g, Cost())) }
      .filter { case (_, c) => c != Cost() }
}
