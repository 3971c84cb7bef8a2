package graft.perfbench

import org.apache.spark.scheduler._

/** Records every Spark job of a traced run: its job group (which links it
  * to a query span), its interval, and the summed task metrics of the
  * stages that ran for it. Listener callbacks arrive on one bus thread;
  * readers drain the bus first ([[org.apache.spark.PerfbenchBus]]).
  */
final class Tracer extends SparkListener {
  /** Summed per-job counters, in the order of [[Tracer.Counters]]. */
  final class JobRec(val id: Int, val group: String, val startMs: Long) {
    var endMs: Long = -1L
    var ok: Boolean = false
    val c: Array[Long] = new Array[Long](Tracer.Counters.length)
  }

  private val jobs = new java.util.LinkedHashMap[Int, JobRec]()
  private val stageJob = new java.util.HashMap[Int, JobRec]()

  def reset(): Unit = synchronized { jobs.clear(); stageJob.clear() }

  private def add(j: JobRec, counter: String, v: Long): Unit =
    j.c(Tracer.Counters.indexOf(counter)) += v

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val j = new JobRec(e.jobId, group, e.time)
    jobs.put(e.jobId, j)
    e.stageIds.foreach(s => if (!stageJob.containsKey(s)) stageJob.put(s, j))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    Option(jobs.get(e.jobId)).foreach { j =>
      j.endMs = e.time
      j.ok = e.jobResult == JobSucceeded
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    Option(stageJob.get(e.stageInfo.stageId)).foreach(add(_, "stages", 1))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    Option(stageJob.get(e.stageId)).foreach { j =>
      add(j, "tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        val info = e.taskInfo
        add(j, "run_ms", m.executorRunTime)
        add(j, "cpu_ns", m.executorCpuTime)
        add(j, "gc_ms", m.jvmGCTime)
        add(j, "input_bytes", m.inputMetrics.bytesRead)
        add(j, "input_records", m.inputMetrics.recordsRead)
        add(j, "shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        add(j, "shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
        add(j, "fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
        add(j, "spill_bytes", m.diskBytesSpilled)
        add(j, "output_bytes", m.outputMetrics.bytesWritten)
        add(j, "output_records", m.outputMetrics.recordsWritten)
        add(j, "sched_delay_ms", math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime))
      }
    }
  }

  def writeJobs(w: Json): Unit = synchronized {
    import scala.jdk.CollectionConverters._
    w.arr(jobs.values.asScala) { j =>
      w.obj {
        w.field("id", j.id); w.field("group", j.group)
        w.field("start_ms", j.startMs); w.field("end_ms", j.endMs); w.field("ok", j.ok)
        Tracer.Counters.indices.foreach(i => w.field(Tracer.Counters(i), j.c(i)))
      }
    }
  }
}

object Tracer {
  val Counters: IndexedSeq[String] = IndexedSeq("stages", "tasks", "run_ms", "cpu_ns",
    "gc_ms", "input_bytes", "input_records", "shuffle_write_bytes",
    "shuffle_read_bytes", "fetch_wait_ms", "spill_bytes", "output_bytes",
    "output_records", "sched_delay_ms")
}
