package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** What one span (or one table inside a span) cost. */
final case class Counters(wallMs: Double, jobs: Int, tasks: Long,
    cpuMs: Double, shuffleBytes: Long, inputBytes: Long, outputBytes: Long,
    driverMs: Double)

/** Span recorder: a SparkListener that attributes every Spark job to the
  * benchmark span whose time interval contains the job's start.
  *
  * Attribution is by time, not by job group, because the program runs
  * build and regex legs on its own thread pools (IndexBuilder.buildEc,
  * Par.ec) whose threads do not reliably inherit a caller's job group.
  * Spans are therefore strictly sequential; the benchmark never runs two
  * at once.
  *
  * Inside a span, a job is also attributed to the index table it writes:
  * its SQL execution's physical plan names the output directory
  * (InsertIntoHadoopFsRelationCommand <dir>) or the bucketed blocks table.
  * `tableOf` maps that plan text to a table name.
  */
final class SpanRecorder(tableOf: String => Option[String]) extends SparkListener {

  private final class Job(val start: Long, val exec: Long) {
    var end: Long = -1L
    var tasks = 0L
    var cpuNs = 0L
    var shuffle = 0L
    var input = 0L
    var output = 0L
  }
  private final case class Span(name: String, startMs: Long, endMs: Long,
      wallMs: Double)

  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val jobById = mutable.HashMap.empty[Int, Job]
  private val jobOfStage = mutable.HashMap.empty[Int, Job]
  private val execRoot = mutable.HashMap.empty[Long, Long]
  private val execTable = mutable.HashMap.empty[Long, String]
  private val spans = mutable.ArrayBuffer.empty[Span]

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart => synchronized {
      execRoot(e.executionId) =
        e.rootExecutionId.map(_.asInstanceOf[Long]).getOrElse(e.executionId)
      tableOf(e.physicalPlanDescription).foreach(execTable(e.executionId) = _)
    }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val exec = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    val j = new Job(e.time, exec)
    jobs += j
    jobById(e.jobId) = j
    e.stageIds.foreach(s => if (!jobOfStage.contains(s)) jobOfStage(s) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobById.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- jobOfStage.get(e.stageId); m <- Option(e.taskMetrics)) {
      j.tasks += 1
      j.cpuNs += m.executorCpuTime
      j.shuffle += m.shuffleWriteMetrics.bytesWritten
      j.input += m.inputMetrics.bytesRead
      j.output += m.outputMetrics.bytesWritten
    }
  }

  /** Time `f` as one span called `name`. */
  def span[T](name: String)(f: => T): T = {
    val t0 = System.currentTimeMillis(); val n0 = System.nanoTime()
    try f
    finally {
      val wall = (System.nanoTime() - n0) / 1e6
      val t1 = System.currentTimeMillis()
      synchronized { spans += Span(name, t0, t1, wall) }
    }
  }

  private def tableOfJob(j: Job): Option[String] =
    execTable.get(j.exec).orElse(execRoot.get(j.exec).flatMap(execTable.get))

  /** Length of the union of the jobs' [start, end] intervals, clipped to
    * [lo, hi]: the time at least one of them was running.
    */
  private def busyMs(js: Seq[Job], lo: Long, hi: Long): Long = {
    val iv = js.map(j => (math.max(lo, j.start),
      math.min(hi, if (j.end < 0) hi else j.end))).filter(x => x._2 > x._1)
      .sortBy(_._1)
    var busy = 0L; var curS = -1L; var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) busy += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) busy += curE - curS
    busy
  }

  private def sum(js: Seq[Job], wall: Double, busy: Long): Counters =
    Counters(wall, js.size, js.map(_.tasks).sum, js.map(_.cpuNs).sum / 1e6,
      js.map(_.shuffle).sum, js.map(_.input).sum, js.map(_.output).sum,
      math.max(0.0, wall - busy))

  private def jobsIn(s: Span): Seq[Job] =
    jobs.filter(j => j.start >= s.startMs && j.start <= s.endMs).toSeq

  /** Counters of every recorded instance of span `name`, in order. */
  def counters(name: String): Seq[Counters] = synchronized {
    spans.filter(_.name == name).map { s =>
      val js = jobsIn(s)
      sum(js, s.wallMs, busyMs(js, s.startMs, s.endMs))
    }.toSeq
  }

  /** Counters of the jobs of span `name` that write `table`. wall_ms is the
    * time at least one of those jobs was running; driver_ms is 0.
    */
  def tableCounters(name: String, table: String): Counters = synchronized {
    val js = spans.filter(_.name == name).flatMap(jobsIn)
      .filter(j => tableOfJob(j).contains(table)).toSeq
    val busy = busyMs(js, Long.MinValue, Long.MaxValue)
    sum(js, busy.toDouble, busy)
  }
}
