package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Engine counters for the benchmark, from one `SparkListener`.
  *
  * Events arrive on Spark's listener thread after the action that caused
  * them returns, so nothing is attributed while a run is measuring: jobs are
  * kept with their start and end times, task metrics are summed per stage,
  * and [[window]] charges each job to the time window its start falls in.
  * The window form covers jobs the streaming engine starts on its own
  * thread (the upsert's micro-batch), which carry no job group of ours.
  */
final class EngineListener extends SparkListener {
  import EngineListener._

  private final class Job(val id: Int, val startMs: Long) {
    @volatile var endMs: Long = -1L
  }

  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stageAgg = mutable.HashMap.empty[Int, Counters]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += new Job(e.jobId, e.time)
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val c = stageAgg.getOrElseUpdate(e.stageId, new Counters)
      val info = e.taskInfo
      c.cpuNs += m.executorCpuTime
      c.runMs += m.executorRunTime
      c.inputBytes += m.inputMetrics.bytesRead
      c.outputRecords += m.outputMetrics.recordsWritten
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      val read = m.shuffleReadMetrics.totalBytesRead
      c.shuffleRead += read
      if (read > 0 || m.shuffleReadMetrics.totalBlocksFetched > 0) c.reduceTasks += 1
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.resultBytes += m.resultSize
      c.outputPerTask += m.outputMetrics.recordsWritten
      // the web UI's scheduler delay: task time not spent running,
      // deserializing, serializing or fetching the result
      val fetching = if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
      val busy = m.executorRunTime + m.executorDeserializeTime + m.resultSerializationTime + fetching
      c.schedDelayMs += math.max(0L, info.duration - busy)
    }
  }

  /** Block until every started job has ended and been delivered. */
  def quiesce(timeoutMs: Long = 10000L): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    def open = synchronized(jobs.count(_.endMs < 0))
    while (open > 0 && System.currentTimeMillis() < deadline) Thread.sleep(5)
    open == 0
  }

  /** Counters for jobs that started in `[fromMs, toMs)`, with the time
    * inside the window that no job covered (driver time between jobs).
    */
  def window(fromMs: Double, toMs: Double): Counters = synchronized {
    val in = jobs.filter(j => j.startMs >= fromMs && j.startMs < toMs)
    val ids = in.map(_.id).toSet
    val out = new Counters
    out.jobs = in.size
    stageAgg.foreach { case (s, c) =>
      if (stageJob.get(s).exists(ids.contains)) { out.add(c); out.stages += 1 }
    }
    val busy = Stats.covered(
      in.map(j => (j.startMs.toDouble, (if (j.endMs < 0) toMs else j.endMs.toDouble))).toSeq,
      (fromMs, toMs))
    out.gapMs = (toMs - fromMs) - busy
    out
  }
}

object EngineListener {

  /** Summed task metrics; all times in the unit their name says. */
  final class Counters {
    var jobs = 0
    var stages = 0
    var cpuNs = 0L
    var runMs = 0L
    var inputBytes = 0L
    var outputRecords = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var reduceTasks = 0L
    var spill = 0L
    var resultBytes = 0L
    var schedDelayMs = 0L
    var gapMs = 0.0
    val outputPerTask: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer.empty[Long]

    def add(o: Counters): Unit = {
      jobs += o.jobs; stages += o.stages; gapMs += o.gapMs
      cpuNs += o.cpuNs; runMs += o.runMs; inputBytes += o.inputBytes
      outputRecords += o.outputRecords
      shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
      reduceTasks += o.reduceTasks; spill += o.spill
      resultBytes += o.resultBytes; schedDelayMs += o.schedDelayMs
      outputPerTask ++= o.outputPerTask
    }
  }
}
