package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Storage held by cached and checkpointed RDD blocks, from block-update
  * and unpersist events. Always registered: `cache_peak_mb` is an
  * end-to-end metric. */
final class StorageListener extends SparkListener {
  /** rdd id -> (block name -> bytes in memory and on disk) */
  private val blocks = mutable.Map.empty[Int, mutable.Map[String, Long]]
  private var total = 0L
  private var peak = 0L

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    info.blockId.asRDDId.foreach { id =>
      val rdd = blocks.getOrElseUpdate(id.rddId, mutable.Map.empty)
      val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      total += size - rdd.getOrElse(id.name, 0L)
      if (size == 0L) rdd.remove(id.name) else rdd(id.name) = size
      peak = math.max(peak, total)
    }
  }

  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = synchronized {
    blocks.remove(e.rddId).foreach(rdd => total -= rdd.values.sum)
  }

  def peakBytes: Long = synchronized(peak)
  def resetPeak(): Unit = synchronized { peak = total }
}

/** Per-job and per-stage counters for the traced run. A job belongs to
  * the span whose id the benchmark set as the `perfbench.span` local
  * property on the thread that launched it. Times are epoch milliseconds. */
final class JobListener extends SparkListener {
  final class Stage(val id: Int, val job: Int) {
    var tasks = 0L
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleWriteB = 0L
    var shuffleReadB = 0L
    var fetchWaitMs = 0L
    var spillB = 0L
    var inputRows = 0L
    var persisted = Seq.empty[Int]
    var scansFiles = false
  }
  final class Job(val id: Int, val span: Int, val startMs: Long, val stageIds: Seq[Int]) {
    var endMs = -1L
  }

  val jobs = mutable.ArrayBuffer.empty[Job]
  val stages = mutable.LinkedHashMap.empty[Int, Stage]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(JobListener.SpanKey)))
      .map(_.toInt).getOrElse(-1)
    jobs += new Job(e.jobId, span, e.time, e.stageIds)
    e.stageIds.foreach(s => stages.getOrElseUpdate(s, new Stage(s, e.jobId)))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages.get(e.stageInfo.stageId).foreach { s =>
      s.persisted = e.stageInfo.rddInfos.filter(_.storageLevel.isValid).map(_.id).toSeq
      s.scansFiles = e.stageInfo.rddInfos.exists(_.name == "FileScanRDD")
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    for (s <- stages.get(e.stageId) if m != null) {
      s.tasks += 1
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      s.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
      s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      s.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
      s.inputRows += m.inputMetrics.recordsRead
    }
  }
}

object JobListener {
  val SpanKey = "perfbench.span"
}
