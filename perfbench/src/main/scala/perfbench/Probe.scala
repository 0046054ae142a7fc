package perfbench

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Job, stage and task counters from a SparkListener, kept per span key.
  *
  * A job belongs to the span named by the `perfbench.span` local property
  * of the thread that launched it. A streaming micro-batch job belongs to
  * its (query id, batch id) instead, which Spark sets as local properties
  * on the stream's own thread. Stages and tasks follow their job.
  * Registered only in traced runs. */
final class Probe extends SparkListener {
  import Probe._

  private val counters = mutable.HashMap.empty[String, Array[Double]]
  private val stageKey = mutable.HashMap.empty[Int, String]
  private val schemaJobStart = mutable.HashMap.empty[Int, (String, Long)]

  private def add(key: String, i: Int, v: Double): Unit =
    counters.getOrElseUpdate(key, new Array[Double](Names.length))(i) += v

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val key = keyOf(e.properties)
    e.stageIds.foreach(stageKey(_) = key)
    add(key, Jobs, 1)
    // parquet schema inference: the job's call site is the table loader
    if (e.stageInfos.exists(_.details.contains(SchemaCallSite))) {
      add(key, SchemaJobs, 1)
      schemaJobStart(e.jobId) = (key, e.time)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    schemaJobStart.remove(e.jobId).foreach { case (key, t0) =>
      add(key, SchemaMs, (e.time - t0).toDouble)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    add(stageKey.getOrElse(e.stageInfo.stageId, Other), Stages, 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val key = stageKey.getOrElse(e.stageId, Other)
    add(key, Tasks, 1)
    if (e.reason != Success) add(key, TaskFailures, 1)
    val m = e.taskMetrics
    if (m != null) {
      add(key, TaskRunMs, m.executorRunTime.toDouble)
      add(key, TaskCpuNs, m.executorCpuTime.toDouble)
      add(key, TaskGcMs, m.jvmGCTime.toDouble)
      add(key, InputBytes, m.inputMetrics.bytesRead.toDouble)
      add(key, ShuffleReadBytes, m.shuffleReadMetrics.totalBytesRead.toDouble)
      add(key, ShuffleWriteBytes, m.shuffleWriteMetrics.bytesWritten.toDouble)
      add(key, SpillBytes, m.diskBytesSpilled.toDouble)
    }
  }

  /** Removes and returns the counters of `key` (zeros if none). Call
    * after [[Probe.drain]]. */
  def take(key: String): Array[Double] = synchronized {
    counters.remove(key).getOrElse(new Array[Double](Names.length))
  }
}

object Probe {
  val Names: IndexedSeq[String] = IndexedSeq("jobs", "stages", "tasks",
    "task_failures", "task_run_ms", "task_cpu_ns", "task_gc_ms",
    "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
    "spill_bytes", "schema_jobs", "schema_ms")
  val Jobs = 0; val Stages = 1; val Tasks = 2; val TaskFailures = 3
  val TaskRunMs = 4; val TaskCpuNs = 5; val TaskGcMs = 6; val InputBytes = 7
  val ShuffleReadBytes = 8; val ShuffleWriteBytes = 9; val SpillBytes = 10
  val SchemaJobs = 11; val SchemaMs = 12

  val SpanProperty = "perfbench.span"
  val Other = "other"
  private val SchemaCallSite = "graft.sources.Tables"
  // set by Spark's micro-batch execution on the stream thread
  private val QueryIdProperty = "sql.streaming.queryId"
  private val BatchIdProperty = "streaming.sql.batchId"

  def streamKey(queryId: String, batchId: Long): String =
    s"stream:$queryId:$batchId"

  private def keyOf(p: java.util.Properties): String =
    if (p == null) Other
    else Option(p.getProperty(BatchIdProperty)) match {
      case Some(b) => streamKey(p.getProperty(QueryIdProperty), b.toLong)
      case None => Option(p.getProperty(SpanProperty)).getOrElse(Other)
    }

  def drain(sc: SparkContext): Unit = org.apache.spark.PerfbenchBus.drain(sc)
}
