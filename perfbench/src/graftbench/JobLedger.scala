package graftbench

import java.util.concurrent.ConcurrentSkipListMap
import scala.collection.mutable

import org.apache.spark.scheduler._

/** One Spark job as seen from the listener bus, with the task metrics of
  * every stage it ran. `phase` is the harness phase the job was submitted
  * in (see [[JobLedger.enter]]). */
final class JobRec(val id: Int, val phase: String, val startMs: Long,
                   val stageIds: Seq[Int]) {
  var endMs: Long = -1L
  var stages = 0
  var tasks = 0
  var cpuNs = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var input = 0L
  var output = 0L
}

/** Listener that files every job under the harness phase it was submitted
  * in. Attribution is by submission time against the phase timeline the
  * harness writes: jobs submitted from pool threads (parallel commits,
  * broadcast builds) carry stale or no local properties, but all of them
  * start inside the phase that caused them, because the client runs one
  * operation at a time. */
final class JobLedger extends SparkListener {
  private val timeline = new ConcurrentSkipListMap[java.lang.Long, String]()
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, JobRec]

  /** Marks the start of a phase; every job submitted from now until the
    * next call is filed under `phase`. */
  def enter(phase: String): Unit = timeline.put(System.currentTimeMillis(), phase)

  private def phaseAt(ms: Long): String =
    Option(timeline.floorEntry(ms)).map(_.getValue).getOrElse("setup")

  /** Removes and returns the finished jobs, and forgets the phases before
    * the current one. Call only after draining the bus at a point where no
    * job is running, so the ledger's own size stays flat across passes. */
  def take(): Seq[JobRec] = synchronized {
    val done = jobs.values.filter(_.endMs >= 0).toSeq
    done.foreach { j => jobs.remove(j.id); j.stageIds.foreach(stageJob.remove) }
    Option(timeline.lastEntry).foreach { last =>
      timeline.headMap(last.getKey).clear()
    }
    done
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val j = new JobRec(e.jobId, phaseAt(e.time), e.time, e.stageIds)
    jobs(e.jobId) = j
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stageJob.get(e.stageId).foreach { j =>
      j.tasks += 1
      if (m != null) {
        j.cpuNs += m.executorCpuTime
        j.runMs += m.executorRunTime
        j.gcMs += m.jvmGCTime
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.spill += m.diskBytesSpilled
        j.input += m.inputMetrics.bytesRead
        j.output += m.outputMetrics.bytesWritten
      }
    }
  }
}
