package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

import scala.collection.mutable

/** SparkListener that records what each Spark job of a traced pass did:
  * wall interval, call site, SQL execution, and the task metrics of its
  * stages (task time, GC, shuffle, spill, output bytes/rows, task-time
  * skew). The benchmark tags every call it makes with the local property
  * [[Collector.SiteKey]], so jobs are attributed to the benchmark's own
  * call sites; `callSite` is Spark's short call site
  * of the job's SQL execution or result stage (the first frame outside
  * Spark, e.g. `parquet at ScanJob.scala:388`).
  *
  * Times are wall-clock milliseconds as the events carry them.
  */
final class Collector extends SparkListener {
  import Collector._

  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stageJob = mutable.HashMap[Int, Int]()
  private val execs = mutable.LinkedHashMap[Long, Exec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = e.properties
    def prop(k: String): String =
      if (p == null) null else p.getProperty(k)
    val execId =
      Option(prop("spark.sql.execution.id")).map(_.toLong).getOrElse(-1L)
    // jobs AQE submits from its own threads carry no useful stage name;
    // the SQL execution's description is the call site that started them
    val callSite = execs.get(execId).map(_.description).getOrElse(
      e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse(""))
    val job = new Job(e.jobId, Option(prop(SiteKey)).getOrElse(""),
      callSite, execId, e.time)
    jobs(e.jobId) = job
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    for (jid <- stageJob.get(e.stageId); job <- jobs.get(jid); if m != null) {
      val st = job.stages.getOrElseUpdate(e.stageId, new StageAgg)
      val runMs = m.executorRunTime
      st.tasks += 1
      st.taskMs += runMs
      st.maxTaskMs = math.max(st.maxTaskMs, runMs)
      job.gcMs += m.jvmGCTime
      job.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      job.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      job.outBytes += m.outputMetrics.bytesWritten
      job.outRows += m.outputMetrics.recordsWritten
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      execs(s.executionId) = new Exec(s.executionId, s.description, s.time)
    }
    case s: SparkListenerSQLExecutionEnd => synchronized {
      execs.get(s.executionId).foreach(_.end = s.time)
    }
    case _ =>
  }

  /** Jobs and SQL executions recorded so far; clears the collector. */
  def drain(): (Seq[Job], Seq[Exec]) = synchronized {
    val r = (jobs.values.toSeq, execs.values.toSeq)
    jobs.clear(); stageJob.clear(); execs.clear()
    r
  }
}

object Collector {
  val SiteKey = "perfbench.site"

  final class StageAgg {
    var tasks = 0
    var taskMs = 0L
    var maxTaskMs = 0L
  }

  final class Job(val id: Int, val site: String, val callSite: String,
      val execId: Long, val start: Long) {
    var end: Long = -1L
    val stages = mutable.LinkedHashMap[Int, StageAgg]()
    var gcMs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    var outBytes = 0L
    var outRows = 0L
    def taskMs: Long = stages.values.map(_.taskMs).sum
  }

  final class Exec(val id: Long, val description: String, val start: Long) {
    var end: Long = -1L
  }

  /** Total length of the union of [start, end) intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(x => x._2 >= x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Largest max/mean task-time ratio over the stages with at least two
    * tasks and 100 ms of task time: the straggler that bounds a stage's
    * wall time as cores are added.
    */
  def maxTaskSkew(jobs: Seq[Job]): Double = {
    val ratios = jobs.flatMap(_.stages.values)
      .filter(s => s.tasks >= 2 && s.taskMs >= 100)
      .map(s => s.maxTaskMs.toDouble / (s.taskMs.toDouble / s.tasks))
    if (ratios.isEmpty) 1.0 else ratios.max
  }
}
