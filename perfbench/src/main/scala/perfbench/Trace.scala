package perfbench

import java.util.Properties

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval of the traced run. Times are epoch milliseconds. */
final case class Span(trace: String, id: Int, parent: Int, name: String, start: Double, end: Double)

/** In-memory span buffer, written once when the run ends. */
final class Spans {
  private val buf = mutable.ArrayBuffer.empty[Span]
  private var next = 0

  /** Records a span and returns its id; parent -1 marks a trace root. */
  def add(trace: String, parent: Int, name: String, start: Double, end: Double): Int = synchronized {
    next += 1
    buf += Span(trace, next, parent, name, start, end)
    next
  }

  def all: Seq[Span] = synchronized(buf.toList)
}

object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()

  /** Epoch milliseconds with sub-millisecond resolution. */
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

/** Counts and times of the scheduler and shuffle layers for one op, summed
  * from the listener events whose job properties carry the op's key. */
final class OpCounters {
  var jobs, stages, tasks = 0L
  var taskRunMs, taskCpuNs, taskGcMs, taskDurMs = 0L
  var inputRecords, inputBytes = 0L
  var shuffleWriteBytes, shuffleWriteRecords = 0L
  var shuffleReadBytes, shuffleReadRecords, fetchWaitMs = 0L
  var spillDisk, spillMem = 0L
  /** Per shuffle-reading stage: max over median of per-task records read. */
  val stageSkew = mutable.ArrayBuffer.empty[Double]
  val jobSpans = mutable.ArrayBuffer.empty[(Int, Double, Double)]
  val stageSpans = mutable.ArrayBuffer.empty[(Int, Int, Double, Double)]

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "task_run_ms" -> taskRunMs, "task_cpu_ms" -> taskCpuNs / 1e6,
    "task_gc_ms" -> taskGcMs, "task_duration_ms" -> taskDurMs,
    "input_records" -> inputRecords, "input_bytes" -> inputBytes,
    "shuffle_write_bytes" -> shuffleWriteBytes,
    "shuffle_write_records" -> shuffleWriteRecords,
    "shuffle_read_bytes" -> shuffleReadBytes,
    "shuffle_read_records" -> shuffleReadRecords,
    "fetch_wait_ms" -> fetchWaitMs,
    "spill_disk_bytes" -> spillDisk, "spill_mem_bytes" -> spillMem,
    "stage_skew" -> stageSkew.toList)
}

/** Spark listener that attributes every job, stage and task to an op key
  * read from the job's local properties (a job group for batch queries, the
  * micro-batch id for a stream). Callbacks run on the listener bus thread;
  * readers call [[Probe.drain]] first and then read under the lock. */
final class Probe(keyProperty: String) extends SparkListener {
  private val counters = mutable.HashMap.empty[String, OpCounters]
  private val stageKey = mutable.HashMap.empty[Int, String]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val jobStart = mutable.HashMap.empty[Int, (String, Double)]
  private val taskReads = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]

  private def keyOf(p: Properties): Option[String] =
    Option(p).flatMap(x => Option(x.getProperty(keyProperty)))

  def get(key: String): OpCounters = synchronized(counters.getOrElse(key, new OpCounters))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    keyOf(e.properties).foreach { k =>
      counters.getOrElseUpdate(k, new OpCounters).jobs += 1
      jobStart(e.jobId) = (k, e.time.toDouble)
      e.stageInfos.foreach { s =>
        stageKey.getOrElseUpdate(s.stageId, k)
        stageJob.getOrElseUpdate(s.stageId, e.jobId)
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (k, t0) =>
      counters(k).jobSpans += ((e.jobId, t0, e.time.toDouble))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    stageKey.get(info.stageId).foreach { k =>
      val c = counters(k)
      c.stages += 1
      for (t0 <- info.submissionTime; t1 <- info.completionTime)
        c.stageSpans += ((stageJob.getOrElse(info.stageId, -1), info.stageId, t0.toDouble, t1.toDouble))
      taskReads.remove(info.stageId).filter(_.nonEmpty).foreach { reads =>
        val sorted = reads.sorted
        val median = sorted(sorted.length / 2).toDouble
        if (median > 0) c.stageSkew += sorted.last / median
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageKey.get(e.stageId).foreach { k =>
      val c = counters(k)
      c.tasks += 1
      if (e.taskInfo != null) c.taskDurMs += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        c.taskRunMs += m.executorRunTime
        c.taskCpuNs += m.executorCpuTime
        c.taskGcMs += m.jvmGCTime
        c.inputRecords += m.inputMetrics.recordsRead
        c.inputBytes += m.inputMetrics.bytesRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
        val r = m.shuffleReadMetrics
        c.shuffleReadBytes += r.totalBytesRead
        c.shuffleReadRecords += r.recordsRead
        c.fetchWaitMs += r.fetchWaitTime
        c.spillDisk += m.diskBytesSpilled
        c.spillMem += m.memoryBytesSpilled
        if (r.recordsRead > 0 || r.totalBlocksFetched > 0)
          taskReads.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += r.recordsRead
      }
    }
  }
}

object Probe {
  /** Blocks until every event posted so far has been delivered to every
    * listener, so counters read next are complete for the ops that ended. */
  def drain(sc: SparkContext): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty", classOf[Long]).invoke(bus, Long.box(60000L))
  }
}
