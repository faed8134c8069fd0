package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable.ArrayBuffer

/** One span: a named interval recorded by the benchmark around a call into
  * a layer, or a Spark job / stage reported by the listener. Times are
  * epoch milliseconds, the clock the listener's events carry.
  */
final case class Span(
    id: Int, parent: Int, name: String, kind: String,
    startMs: Double, endMs: Double, counts: Map[String, Double]) {
  def seconds: Double = (endMs - startMs) / 1e3
}

/** In-memory span recorder. Spans stay in memory until the run ends and
  * `Json.writeSpans` puts them in the span file. With tracing off it only
  * times: no span is kept, no listener is attached.
  */
final class Tracer(val enabled: Boolean, val runId: String) {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  private val done = ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private var nextId = 1

  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  /** Runs `body` inside a span and returns its result with its wall time
    * in seconds; the span is kept only when tracing is on.
    */
  def timed[T](name: String)(body: => T): (T, Double) = {
    val id = nextId; nextId += 1
    val parent = open.headOption.getOrElse(0)
    open = id :: open
    val t0 = nowMs
    val out = try body finally open = open.tail
    val t1 = nowMs
    if (enabled) done.synchronized { done += Span(id, parent, name, "bench", t0, t1, Map.empty) }
    (out, (t1 - t0) / 1e3)
  }

  def spans: Seq[Span] = done.synchronized(done.toList)

  /** The recorded benchmark spans, with the listener's job and stage spans
    * attached as children of the innermost benchmark span that contains
    * them (the benchmark's passes run one after another on one thread).
    */
  def allSpans(listener: Option[JobListener]): Seq[Span] = {
    val own = spans
    def parentOf(s: Double, e: Double): Int =
      own.filter(b => b.startMs <= s + 1 && e <= b.endMs + 1)
        .sortBy(b => b.endMs - b.startMs).headOption.map(_.id).getOrElse(0)
    var id = nextId
    val extra = ArrayBuffer.empty[Span]
    listener.foreach { l =>
      l.jobs.foreach { j =>
        val jid = id; id += 1
        val st = l.stagesOf(j)
        extra += Span(jid, parentOf(j.startMs, j.endMs), s"job ${j.jobId} ${j.callSite}", "job",
          j.startMs, j.endMs, Map("stages" -> st.size.toDouble,
            "tasks" -> st.map(_.tasks).sum.toDouble))
        st.foreach { s =>
          extra += Span(id, jid, s"stage ${s.stageId} ${s.name}", "stage", s.startMs, s.endMs,
            Map("tasks" -> s.tasks.toDouble, "run_ms" -> s.runMs, "gc_ms" -> s.gcMs,
              "shuffle_write_bytes" -> s.shuffleWriteBytes, "shuffle_records" -> s.shuffleRecords,
              "spill_bytes" -> s.spillBytes, "result_bytes" -> s.resultBytes))
          id += 1
        }
      }
    }
    own ++ extra
  }
}

/** Per-stage totals, accumulated from task-end events. */
final class StageStats(val stageId: Int, val name: String) {
  var startMs = 0.0
  var endMs = 0.0
  var tasks = 0
  var runMs = 0.0
  var gcMs = 0.0
  var shuffleWriteBytes = 0.0
  var shuffleRecords = 0.0
  var spillBytes = 0.0
  var resultBytes = 0.0
  val taskMs = ArrayBuffer.empty[Double]
  def seconds: Double = (endMs - startMs) / 1e3
  def isMap: Boolean = shuffleRecords > 0
}

final case class JobInfo(
    jobId: Int, callSite: String, startMs: Double, endMs: Double, stageIds: Seq[Int])

/** The benchmark's own listener: job and stage spans with task counts,
  * executor run time, GC time, shuffle, spill and result bytes. It is
  * registered only in traced runs.
  */
final class JobListener extends SparkListener {
  private val jobStart = scala.collection.mutable.Map.empty[Int, (String, Double, Seq[Int])]
  private val jobsDone = ArrayBuffer.empty[JobInfo]
  private val stages = scala.collection.mutable.Map.empty[Int, StageStats]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    // the result stage's name is the job's short call site ("parquet at X.scala:N")
    val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")
    jobStart(e.jobId) = (site, e.time.toDouble, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (site, t0, ids) =>
      jobsDone += JobInfo(e.jobId, site, t0, e.time.toDouble, ids)
    }
  }

  private def stage(id: Int, name: String): StageStats =
    stages.getOrElseUpdate(id, new StageStats(id, name))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val s = stage(si.stageId, si.name)
    s.startMs = si.submissionTime.getOrElse(0L).toDouble
    s.endMs = si.completionTime.getOrElse(0L).toDouble
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stage(e.stageId, "")
    s.tasks += 1
    s.taskMs += e.taskInfo.duration.toDouble
    val m = e.taskMetrics
    if (m != null) {
      s.runMs += m.executorRunTime
      s.gcMs += m.jvmGCTime
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      s.resultBytes += m.resultSize
    }
  }

  def jobs: Seq[JobInfo] = synchronized(jobsDone.sortBy(_.jobId).toList)

  /** Stages of a job that ran (skipped stages report no completion). */
  def stagesOf(j: JobInfo): Seq[StageStats] = synchronized {
    j.stageIds.flatMap(stages.get).filter(_.endMs > 0).sortBy(_.stageId)
  }

  def jobsIn(startMs: Double, endMs: Double): Seq[JobInfo] =
    jobs.filter(j => j.startMs >= startMs - 1 && j.startMs <= endMs + 1)
}

object JobListener {
  /** Blocks until every posted event reached the listeners. */
  def drain(sc: SparkContext): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  /** Length of the union of the intervals, in seconds. */
  def unionSeconds(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (!curS.isNaN) total += curE - curS
    total / 1e3
  }
}
