package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** In-memory span and counter recorder for traced passes.
  *
  * Jobs carry the op span id and the phase they were started in as local
  * properties (set by [[Harness]] around each call into the engine); stages
  * hang off their job; task metrics are summed per stage. Nothing is
  * written until the run ends. */
final class Recorder extends SparkListener {
  import Recorder._

  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val stages = mutable.LinkedHashMap.empty[(Int, Int), Stage]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
    jobs(e.jobId) = Job(e.jobId, prop(SpanKey), prop(PhaseKey), e.time, -1L,
      e.stageInfos.map(_.stageId), e.stageInfos.map(_.name))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(endMs = e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val s = stage(i.stageId, i.attemptNumber())
    s.name = i.name
    s.submitMs = i.submissionTime.getOrElse(-1L)
    s.endMs = i.completionTime.getOrElse(-1L)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stage(e.stageId, e.stageAttemptId)
    s.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      s.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
      s.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      s.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
      s.peakMemB = math.max(s.peakMemB, m.peakExecutionMemory)
    }
  }

  private def stage(id: Int, attempt: Int): Stage =
    stages.getOrElseUpdate((id, attempt), new Stage(id, attempt))

  def toJson: String = synchronized {
    val js = jobs.values.map { j =>
      s"""{"id":${j.id},"span":${Json.str(j.span)},"phase":${Json.str(j.phase)},""" +
        s""""submit_ms":${j.submitMs},"end_ms":${j.endMs},""" +
        s""""stages":${j.stageIds.mkString("[", ",", "]")},""" +
        s""""stage_names":${j.stageNames.map(Json.str).mkString("[", ",", "]")}}"""
    }
    val ss = stages.values.map { s =>
      s"""{"id":${s.id},"attempt":${s.attempt},"name":${Json.str(s.name)},""" +
        s""""submit_ms":${s.submitMs},"end_ms":${s.endMs},"tasks":${s.tasks},""" +
        s""""run_ms":${s.runMs},"cpu_ns":${s.cpuNs},"gc_ms":${s.gcMs},""" +
        s""""fetch_wait_ms":${s.fetchWaitMs},"shuffle_read_b":${s.shuffleReadB},""" +
        s""""shuffle_write_b":${s.shuffleWriteB},"spill_b":${s.spillB},""" +
        s""""peak_mem_b":${s.peakMemB}}"""
    }
    s""""jobs":${js.mkString("[", ",", "]")},"stages":${ss.mkString("[", ",", "]")}"""
  }
}

object Recorder {
  val SpanKey = "perfbench.span"
  val PhaseKey = "perfbench.phase"

  final case class Job(id: Int, span: String, phase: String, submitMs: Long,
      endMs: Long, stageIds: Seq[Int], stageNames: Seq[String])

  final class Stage(val id: Int, val attempt: Int) {
    var name = ""
    var submitMs = -1L
    var endMs = -1L
    var tasks = 0L
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var fetchWaitMs = 0L
    var shuffleReadB = 0L
    var shuffleWriteB = 0L
    var spillB = 0L
    var peakMemB = 0L
  }
}

/** Per-micro-batch progress of every streaming query, as Structured
  * Streaming reports it. */
final class StreamRecorder extends StreamingQueryListener {
  import StreamingQueryListener._

  private val started = mutable.ArrayBuffer.empty[Long]
  private val batches = mutable.ArrayBuffer.empty[String]

  override def onQueryStarted(e: QueryStartedEvent): Unit = synchronized {
    started += java.time.Instant.parse(e.timestamp).toEpochMilli
  }

  override def onQueryProgress(e: QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
    val ops = p.stateOperators
    batches += s"""{"ts_ms":${java.time.Instant.parse(p.timestamp).toEpochMilli},""" +
      s""""input_rows":${p.numInputRows},"trigger_ms":${d("triggerExecution")},""" +
      s""""add_batch_ms":${d("addBatch")},"query_planning_ms":${d("queryPlanning")},""" +
      s""""wal_commit_ms":${d("walCommit")},""" +
      s""""state_rows":${ops.map(_.numRowsTotal).sum},""" +
      s""""state_commit_ms":${ops.map(_.commitTimeMs).sum},""" +
      s""""state_mem_b":${ops.map(_.memoryUsedBytes).sum}}"""
  }

  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()

  def toJson: String = synchronized {
    s""""stream_queries":${started.mkString("[", ",", "]")},""" +
      s""""stream_batches":${batches.mkString("[", ",", "]")}"""
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
