package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Engine-side totals of one Spark job (traced runs only). */
final class JobRec(val id: Int, val submitMs: Long, var callSite: String, val executionId: Long) {
  var endMs: Long = -1L
  var stages = 0
  var tasks = 0L
  var cpuNs = 0L
  var runMs = 0L
  var schedMs = 0L
  var gcMs = 0L
  var shReadB = 0L
  var shWriteB = 0L
  var spillB = 0L
  /** shuffle records read by the job's last stage: for a result stage that
    * reads an exchange these are the rows entering the stage's operator */
  var lastStageId = -1
  var lastStageShReadRecs = 0L
  var lastStageCpuNs = 0L
  def wallMs: Long = math.max(0L, endMs - submitMs)
}

/** One listener per SparkContext. Always counts jobs and shuffle bytes (the
  * `spark_jobs` and `shuffle_mb` end-to-end metrics); when `tracing` is on
  * it also keeps one [[JobRec]] per job for span attribution. Installed
  * idempotently, like an extra planner strategy: a second `install` on the
  * same context returns the listener already there. */
final class Probe extends SparkListener {
  @volatile var tracing = false
  private var jobCount = 0L
  private var shuffleWriteBytes = 0L
  private val jobRecs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageToJob = mutable.HashMap.empty[Int, JobRec]
  private val executionNames = mutable.HashMap.empty[Long, String]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobCount += 1
    if (tracing) {
      // the result stage is the job's highest stage id; its name is the
      // action's call-site short form, e.g. "parquet at ExtractJob.scala:106"
      val site = if (e.stageInfos.isEmpty) "?" else e.stageInfos.maxBy(_.stageId).name
      val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .map(_.toLong).getOrElse(-1L)
      val rec = new JobRec(e.jobId, e.time, site, exec)
      rec.lastStageId = if (e.stageIds.isEmpty) -1 else e.stageIds.max
      jobRecs(e.jobId) = rec
      e.stageIds.foreach(s => stageToJob(s) = rec)
    }
  }

  /** SQL executions are named by the call site of the action that started
    * them; that name replaces the JDK frame that AQE's asynchronous stage
    * jobs carry as their own call site. */
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart if tracing =>
      synchronized { executionNames(s.executionId) = s.description }
    case _ =>
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobRecs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageToJob.get(e.stageInfo.stageId).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      if (tracing) stageToJob.get(e.stageId).foreach { r =>
        val info = e.taskInfo
        val gettingResult =
          if (info.gettingResult) math.max(0L, info.finishTime - info.gettingResultTime) else 0L
        r.tasks += 1
        r.cpuNs += m.executorCpuTime
        r.runMs += m.executorRunTime
        r.schedMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - gettingResult)
        r.gcMs += m.jvmGCTime
        r.shReadB += m.shuffleReadMetrics.totalBytesRead
        r.shWriteB += m.shuffleWriteMetrics.bytesWritten
        r.spillB += m.diskBytesSpilled
        if (e.stageId == r.lastStageId) {
          r.lastStageShReadRecs += m.shuffleReadMetrics.recordsRead
          r.lastStageCpuNs += m.executorCpuTime
        }
      }
    }
  }

  def jobs: Long = synchronized(jobCount)
  def shuffleBytes: Long = synchronized(shuffleWriteBytes)
  def jobRecords: Seq[JobRec] = synchronized {
    jobRecs.values.foreach { j =>
      if (j.callSite.contains(".java:")) executionNames.get(j.executionId).foreach(n => j.callSite = n)
    }
    jobRecs.values.toVector
  }
}

object Probe {
  private val installed = mutable.HashMap.empty[SparkContext, Probe]

  def install(sc: SparkContext): Probe = synchronized {
    installed.getOrElseUpdate(sc, { val p = new Probe; sc.addSparkListener(p); p })
  }
}

/** One public call into graft, timed from the benchmark side. */
final case class SpanRec(layer: String, name: String, startMs: Long, endMs: Long, seconds: Double)

/** Spans are always timed (op latencies come from them); the engine detail
  * attached to them exists only when the probe traces. Kept in memory and
  * written out at the end. */
final class Spans {
  val recs = mutable.ArrayBuffer.empty[SpanRec]

  def apply[T](layer: String, name: String)(body: => T): T = {
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally recs += SpanRec(layer, name, ms0, System.currentTimeMillis(), (System.nanoTime() - t0) / 1e9)
  }

  def last: SpanRec = recs.last
}

/** A span together with the Spark jobs submitted inside its interval. */
final case class TracedSpan(span: SpanRec, jobs: Seq[JobRec]) {
  /** wall seconds covered by at least one of the span's jobs */
  lazy val coveredS: Double = {
    val iv = jobs.map(j => (math.max(j.submitMs, span.startMs),
      math.min(if (j.endMs < 0) span.endMs else j.endMs, span.endMs))).filter(p => p._2 > p._1)
      .sortBy(_._1)
    var total = 0L
    var curS = -1L
    var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total / 1e3
  }
  def selfS: Double = math.max(0.0, span.seconds - coveredS)
  def cpuS: Double = jobs.map(_.cpuNs).sum / 1e9
  def runS: Double = jobs.map(_.runMs).sum / 1e3
  def schedS: Double = jobs.map(_.schedMs).sum / 1e3
  def gcS: Double = jobs.map(_.gcMs).sum / 1e3
  def shReadMb: Double = jobs.map(_.shReadB).sum / 1e6
  def shWriteMb: Double = jobs.map(_.shWriteB).sum / 1e6
  def spillMb: Double = jobs.map(_.spillB).sum / 1e6
  def tasks: Long = jobs.map(_.tasks).sum
  def stages: Long = jobs.map(_.stages.toLong).sum
  def jobsAt(site: String): Seq[JobRec] = jobs.filter(_.callSite.contains(site))
  /** summed wall of the jobs whose call site contains `site` */
  def jobWallS(site: String): Double = jobsAt(site).map(_.wallMs).sum / 1e3
}

object TracedSpan {
  /** Attribute each job to the span whose interval contains its submission
    * (the latest-starting one when two spans share a millisecond). Calls
    * are sequential, and streaming jobs submitted from the query thread
    * fall inside the drain's interval, so no job group is needed. */
  def attribute(spans: Seq[SpanRec], jobs: Seq[JobRec]): Seq[TracedSpan] = {
    val byStart = spans.zipWithIndex.sortBy(_._1.startMs)
    val owned = mutable.HashMap.empty[Int, mutable.ArrayBuffer[JobRec]]
    jobs.foreach { j =>
      val owner = byStart.filter { case (s, _) => s.startMs <= j.submitMs && j.submitMs <= s.endMs }
        .lastOption
      owner.foreach { case (_, i) => owned.getOrElseUpdate(i, mutable.ArrayBuffer.empty) += j }
    }
    spans.indices.map(i => TracedSpan(spans(i), owned.getOrElse(i, mutable.ArrayBuffer.empty).toSeq))
  }
}
