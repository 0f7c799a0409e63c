package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.storage.RDDBlockId

/** The benchmark's SparkListener. Stage progress and failures (the
  * failing stage and its reason) are always recorded; the work counters
  * only while `detail` is on, which is during the traced replay.
  */
final class Listener(progress: Option[java.io.PrintWriter]) extends SparkListener {
  @volatile var detail = false
  // all fields are touched only from the listener bus thread and read
  // after PerfbenchBridge.drainListenerBus
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var waitMs = 0L
  var durationMs = 0L
  var spillBytes = 0L
  var shuffleBytes = 0L
  var inputBytes = 0L
  /** Task durations (ms) by stage, for the skew of the heaviest stage. */
  val taskDurations = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  /** Job wall seconds keyed by the result stage's call site without its
    * line number, e.g. "foreachPartition at ZipSink.scala".
    */
  val jobSeconds = mutable.LinkedHashMap.empty[String, Double]
  private val jobStart = mutable.Map.empty[Int, (Long, String)]
  private val stageSubmit = mutable.Map.empty[Int, Long]
  private val blockMem = mutable.Map.empty[String, Long]
  private var storageMem = 0L
  var storagePeak = 0L

  def reset(): Unit = {
    jobs = 0; stages = 0; tasks = 0; runMs = 0; cpuNs = 0; gcMs = 0; waitMs = 0
    durationMs = 0; spillBytes = 0; shuffleBytes = 0; inputBytes = 0
    taskDurations.clear(); jobSeconds.clear(); storagePeak = storageMem
  }

  private def log(s: String): Unit = progress.foreach { w => w.println(s); w.flush() }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val site = if (e.stageInfos.isEmpty) "unknown"
      else e.stageInfos.maxBy(_.stageId).name.replaceAll(":\\d+$", "")
    jobStart(e.jobId) = (e.time, site)
    if (detail) jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobStart.remove(e.jobId).foreach { case (t0, site) =>
      if (detail) jobSeconds(site) = jobSeconds.getOrElse(site, 0.0) + (e.time - t0) / 1e3
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val i = e.stageInfo
    stageSubmit(i.stageId) = i.submissionTime.getOrElse(System.currentTimeMillis())
    log(s"stage ${i.stageId}.${i.attemptNumber()} submitted: ${i.name} (${i.numTasks} tasks)")
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    stageSubmit.remove(i.stageId)
    i.failureReason.foreach { r =>
      log(s"stage ${i.stageId}.${i.attemptNumber()} (${i.name}) failed: ${r.linesIterator.take(1).mkString}")
    }
    if (detail) stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    if (!detail) return
    tasks += 1
    val info = e.taskInfo
    taskDurations.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty[Long]) += info.duration
    durationMs += info.duration
    stageSubmit.get(e.stageId).foreach(s => waitMs += math.max(0L, info.launchTime - s))
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      spillBytes += m.diskBytesSpilled
      shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      inputBytes += m.inputMetrics.bytesRead
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val b = e.blockUpdatedInfo
    if (!b.blockId.isInstanceOf[RDDBlockId]) return
    val key = b.blockId.name
    val now = if (b.storageLevel.isValid) b.memSize else 0L
    storageMem += now - blockMem.getOrElse(key, 0L)
    if (now == 0L) blockMem.remove(key) else blockMem(key) = now
    if (storageMem > storagePeak) storagePeak = storageMem
  }

  /** Max ÷ median task duration in the stage with the most task time;
    * 0 when there were no tasks.
    */
  def taskSkew: Double =
    if (taskDurations.isEmpty) 0.0
    else {
      val s = taskDurations.values.maxBy(_.sum).sorted
      val med = s(s.size / 2).toDouble
      if (med <= 0) s.last.toDouble else s.last / med
    }

  def jobSecondsAt(file: String, method: String): Double =
    jobSeconds.collect { case (k, v) if k == s"$method at $file" => v }.sum
}
