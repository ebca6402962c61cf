package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** Job-level trace of one run: a SparkListener that keeps one span per
  * Spark job in memory — its description (the fold phase tags that
  * `Pipeline.tagged` sets, e.g. `fold:epoch3-state-checkpoint`), the
  * micro-batch that ran it, start and end times, and the stage, task, CPU,
  * shuffle, spill and output counts of its tasks. Attached only in traced
  * runs; [[Trace.write]] dumps the spans when the run ends.
  */
final class Trace extends SparkListener {
  import Trace.Job

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    val j = new Job(e.jobId,
      prop("spark.job.description").getOrElse(""),
      prop("streaming.sql.batchId").flatMap(_.toLongOption).getOrElse(-1L),
      e.time)
    jobs.put(e.jobId, j)
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    job(e.stageInfo.stageId).foreach(j => j.synchronized(j.stages += 1))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (j <- job(e.stageId); m <- Option(e.taskMetrics)) j.synchronized {
      j.tasks += 1
      j.cpuNs += m.executorCpuTime
      j.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      j.outputBytes += m.outputMetrics.bytesWritten
    }

  private def job(stage: Int): Option[Job] =
    Option(stageJob.get(stage)).flatMap(id => Option(jobs.get(id)))

  /** Finished jobs, by start time. */
  def finished: Seq[Job] = jobs.values.asScala.filter(_.endMs >= 0).toSeq.sortBy(_.startMs)
}

object Trace {

  final class Job(val id: Int, val desc: String, val batchId: Long, val startMs: Long) {
    @volatile var endMs: Long = -1
    var stages, tasks = 0
    var cpuNs, shuffleBytes, spillBytes, outputBytes = 0L

    def wallMs: Long = endMs - startMs

    def json: String =
      s"""{"job":$id,"desc":"${desc.replace("\\", "\\\\").replace("\"", "\\\"")}",""" +
        s""""batch":$batchId,"start_ms":$startMs,"end_ms":$endMs,"stages":$stages,""" +
        s""""tasks":$tasks,"cpu_ns":$cpuNs,"shuffle_bytes":$shuffleBytes,""" +
        s""""spill_bytes":$spillBytes,"output_bytes":$outputBytes}"""
  }

  /** Milliseconds covered by the union of the jobs' [start, end] intervals. */
  def coveredMs(js: Seq[Job]): Long = {
    var covered, reach = 0L
    var started = false
    for (j <- js.sortBy(_.startMs)) {
      if (!started || j.startMs > reach) {
        covered += j.endMs - j.startMs
        reach = j.endMs
        started = true
      } else if (j.endMs > reach) {
        covered += j.endMs - reach
        reach = j.endMs
      }
    }
    covered
  }

  def write(path: java.nio.file.Path, js: Seq[Job]): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, js.map(_.json).mkString("", "\n", "\n").getBytes("UTF-8")): Unit
  }
}
