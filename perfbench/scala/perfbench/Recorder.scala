package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Operation timing plus, in traced mode, a SparkListener and spans.
  *
  * Untraced runs keep only one counter (task output bytes, for `write_mb`)
  * and the operation boundaries. Traced runs also record every job (with
  * the source file of its call site), every completed stage's aggregated
  * task metrics, and spans the benchmark opens around its own calls into
  * the program. Everything stays in memory until [[traceJson]] writes it.
  */
final class Recorder(spark: SparkSession, val traced: Boolean) {
  import Recorder._

  private val epoch0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()

  /** Wall clock in epoch milliseconds with nanosecond resolution, on the
    * same clock Spark stamps listener events with.
    */
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private val spans = ArrayBuffer.empty[Span]
  private val ops = ArrayBuffer.empty[Span]

  private val written = new AtomicLong
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stages = new ConcurrentHashMap[Int, StageRec]()

  private val executionSites = new ConcurrentHashMap[String, String]()

  private val listener = new SparkListener {
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskMetrics != null) written.addAndGet(e.taskMetrics.outputMetrics.bytesWritten)
    // A SQL execution's call site is taken in the thread that started it;
    // jobs that adaptive execution submits from its own threads carry only
    // the execution id, so they inherit the execution's call site.
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart if traced =>
        val site = if (sourceFile(x.description).nonEmpty) x.description
          else x.details.linesIterator.map(_.trim).find(l => !SparkFrame.matches(l) &&
            sourceFile(l).nonEmpty).getOrElse(x.description)
        executionSites.put(x.executionId.toString, site)
      case _ => ()
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = if (traced) {
      val props = Option(e.properties)
      val site = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => Option(executionSites.get(id)))
        .orElse(props.flatMap(p => Option(p.getProperty("callSite.short"))))
        .orElse(e.stageInfos.sortBy(-_.stageId).headOption.map(_.name)).getOrElse("")
      jobs.put(e.jobId, JobRec(e.jobId, e.time.toDouble, site, sourceFile(site)))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = if (traced) {
      val j = jobs.get(e.jobId)
      if (j != null) j.end = e.time.toDouble
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (traced) {
      val si = e.stageInfo
      val m = si.taskMetrics
      if (m != null) stages.put(si.stageId, StageRec(
        si.stageId, si.submissionTime.getOrElse(0L).toDouble, si.numTasks,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.bytesRead,
        m.outputMetrics.bytesWritten))
    }
  }
  spark.sparkContext.addSparkListener(listener)

  private def drain(): Unit = org.apache.spark.PerfBenchBus.drain(spark.sparkContext)

  private var timedFrom = 0.0
  private var timedTo = 0.0
  private var writtenAtStart = 0L
  private var writtenTimed = 0L

  def startTimed(): Unit = {
    drain()
    writtenAtStart = written.get()
    timedFrom = nowMs
  }

  def stopTimed(): Unit = {
    timedTo = nowMs
    drain()
    writtenTimed = written.get() - writtenAtStart
  }

  def timedStartMs: Double = timedFrom
  def runSeconds: Double = (timedTo - timedFrom) / 1000.0
  def writeBytes: Long = writtenTimed

  /** A span under `parent` (0 = none). Spans are only kept when traced;
    * operations (kind "op") are always kept, they give the latencies.
    */
  def span[T](name: String, kind: String, parent: Int = 0,
      attrs: Map[String, String] = Map.empty)(body: => T): T = {
    val s = open(name, kind, parent, attrs)
    try body finally close(s)
  }

  def open(name: String, kind: String, parent: Int = 0,
      attrs: Map[String, String] = Map.empty): Span = {
    val s = Span(spans.size + ops.size + 1, parent, name, kind, nowMs, attrs)
    if (kind == "op") ops += s else if (traced) spans += s
    s
  }

  def close(s: Span): Unit = s.end = nowMs

  /** Record an operation whose boundaries were taken elsewhere. */
  def op(name: String, start: Double, end: Double, attrs: Map[String, String]): Span = {
    val s = Span(spans.size + ops.size + 1, 0, name, "op", start, attrs)
    s.end = end
    ops += s
    s
  }

  def markFailed(s: Span): Unit = s.failed = true

  def operations: Seq[Span] = ops.toSeq

  /** Per-layer metrics of the timed phase (traced runs only). */
  def perLayer(cpus: Int): Map[String, (Double, String)] = {
    val timedOps = ops.filter(o => o.start >= timedFrom && o.end <= timedTo).toSeq
    val nOps = math.max(1, timedOps.size).toDouble
    val allJobs = jobs.values.asScala.toSeq
    val allStages = stages.values.asScala.toSeq.filter(s => s.submitted >= timedFrom && s.submitted <= timedTo)
    val jobsIn = allJobs.filter(j => j.start >= timedFrom && j.start <= timedTo)
    val fileJobs = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val fileTime = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var selfMs = 0.0
    for (o <- timedOps) {
      val mine = jobsIn.filter(j => j.start >= o.start && j.start < o.end)
      mine.foreach(j => fileJobs(bucket(j.file, o)) += 1)
      // Sweep over the op's span: each elementary interval covered by k
      // jobs gives 1/k of its length to each; what no job covers is
      // driver self time.
      val iv = mine.map(j => (math.max(j.start, o.start), math.min(if (j.end > 0) j.end else o.end, o.end), bucket(j.file, o)))
        .filter(t => t._2 > t._1)
      val cuts = (iv.flatMap(t => Seq(t._1, t._2)) ++ Seq(o.start, o.end)).distinct.sorted
      cuts.sliding(2).foreach {
        case Seq(a, b) =>
          val active = iv.filter(t => t._1 <= a && t._2 >= b)
          if (active.isEmpty) selfMs += b - a
          else active.foreach(t => fileTime(t._3) += (b - a) / active.size)
        case _ => ()
      }
    }
    val runS = runSeconds
    val sum = (f: StageRec => Double) => allStages.map(f).sum
    val mb = 1024.0 * 1024.0
    val out = scala.collection.mutable.Map.empty[String, (Double, String)]
    out("spark.jobs_per_op") = (jobsIn.size / nOps, "count")
    out("spark.stages_per_op") = (allStages.size / nOps, "count")
    out("spark.tasks_per_op") = (sum(_.tasks.toDouble) / nOps, "count")
    out("driver.self_s") = (selfMs / 1000.0 / nOps, "s")
    out("spark.core_util") = (sum(_.runMs.toDouble) / 1000.0 / (cpus * runS), "ratio")
    out("spark.exec_cpu_s") = (sum(_.cpuNs.toDouble) / 1e9, "s")
    out("spark.shuffle_mb") = (sum(s => (s.shuffleRead + s.shuffleWrite).toDouble) / mb, "MB")
    out("spark.spill_mb") = (sum(_.spill.toDouble) / mb, "MB")
    out("spark.gc_s") = (sum(_.gcMs.toDouble) / 1000.0, "s")
    out("spark.input_mb") = (sum(_.input.toDouble) / mb, "MB")
    for (f <- Files) {
      out(s"jobs.$f") = (fileJobs(f) / nOps, "count")
      out(s"job_s.$f") = (fileTime(f) / 1000.0 / nOps, "s")
    }
    val phase = (name: String) => spans.filter(s => s.kind == name &&
      s.start >= timedFrom && s.end <= timedTo).toSeq
    val phaseS = (name: String) => phase(name).map(s => s.end - s.start).sum / 1000.0 / nOps
    out("queries.construct_s") = (phaseS("construct"), "s")
    out("queries.plan_s") = (phaseS("plan"), "s")
    out("queries.exec_s") = (phaseS("exec"), "s")
    out("queries.eager_jobs") = (phase("construct").map(c =>
      jobsIn.count(j => j.start >= c.start && j.start < c.end)).sum / nOps, "count")
    out("trace.run_s") = (runS, "s")
    out.toMap
  }

  /** Every span and job, for the trace file. */
  def traceJson: Json.Raw = {
    val sp = (ops ++ spans).sortBy(_.start).map { s =>
      Json.obj("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "kind" -> s.kind,
        "start_ms" -> s.start, "end_ms" -> s.end, "failed" -> s.failed, "attrs" -> s.attrs)
    }
    val js = jobs.values.asScala.toSeq.sortBy(_.id).map { j =>
      Json.obj("job" -> j.id, "start_ms" -> j.start, "end_ms" -> j.end,
        "call_site" -> j.site, "file" -> j.file)
    }
    val st = stages.values.asScala.toSeq.sortBy(_.id).map { s =>
      Json.obj("stage" -> s.id, "submitted_ms" -> s.submitted, "tasks" -> s.tasks,
        "run_ms" -> s.runMs, "cpu_ns" -> s.cpuNs, "gc_ms" -> s.gcMs,
        "shuffle_read" -> s.shuffleRead, "shuffle_write" -> s.shuffleWrite,
        "spill" -> s.spill, "input" -> s.input, "output" -> s.output)
    }
    Json.obj("timed_from_ms" -> timedFrom, "timed_to_ms" -> timedTo,
      "spans" -> sp, "jobs" -> js, "stages" -> st)
  }
}

object Recorder {

  final case class Span(id: Int, parent: Int, name: String, kind: String,
      start: Double, attrs: Map[String, String]) {
    var end: Double = 0.0
    var failed: Boolean = false
  }

  final case class JobRec(id: Int, start: Double, site: String, file: String) {
    @volatile var end: Double = 0.0
  }

  final case class StageRec(id: Int, submitted: Double, tasks: Int, runMs: Long,
      cpuNs: Long, gcMs: Long, shuffleRead: Long, shuffleWrite: Long,
      spill: Long, input: Long, output: Long)

  /** Source files whose jobs are reported one by one; the rest is "other". */
  val Files: Seq[String] = Seq("PaginatedSource", "Pipelines", "ManifestCommit",
    "Sinks", "CurationStream", "Dedup", "RelationalQueries", "TransformQueries",
    "JoinQueries", "OpsQueries", "MartQueries", "other")

  private val SiteFile = raw"([A-Za-z0-9_$$]+)\.scala:\d+".r
  private val SparkFrame = raw"(org\.apache\.spark|scala|java)\..*".r

  def sourceFile(site: String): String =
    SiteFile.findFirstMatchIn(site).map(_.group(1)).getOrElse("")

  /** A job's module: its call-site file when that file is reported; a job
    * started from the benchmark's own code (a query's result write) or
    * from an operator file inside a query belongs to the query's file.
    */
  def bucket(file: String, op: Span): String =
    if (Files.contains(file)) file
    else op.attrs.getOrElse("file", "other")
}
