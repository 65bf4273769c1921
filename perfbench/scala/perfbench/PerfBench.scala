package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import scala.collection.mutable.ArrayBuffer
import scala.io.Source

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.SparkEntry
import graft.monitoring.ProductionMonitor
import graft.pipelines.Pipelines
import graft.queries._
import graft.sources.PaginatedSource
import graft.streaming.CurationStream

/** The benchmark's JVM side:
  * `perfbench.PerfBench <workload> <runDir> <rounds> <trace 0|1> <cpus>`.
  *
  * Reads the inputs `gen.py` wrote under `<runDir>/input`, builds the
  * session as `graft.Verify` does (local[cpus], shuffle partitions = cpus,
  * UTC) with every piece of run state under `<runDir>`, runs one untimed
  * warm pass, then `rounds` identical rounds of the workload's operations
  * through the program's public entry points. It writes `result.json`
  * (timings, the program's own reports, per-layer metrics when traced) and
  * `trace.json` when traced. Outputs stay on disk for the checks.
  */
object PerfBench {

  def main(args: Array[String]): Unit = {
    val Array(workload, runDir, roundsArg, traceArg, cpus) = args
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .config("spark.local.dir", s"$runDir/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionReady = System.currentTimeMillis()
    val rec = new Recorder(spark, traceArg == "1")
    val input = s"$runDir/input"
    val w: Workload = workload match {
      case "ingest_cycles" => new Ingest(spark, rec, input, runDir)
      case "backfill_merge" => new Backfill(spark, rec, input, runDir)
      case "curation_stream" => new Curation(spark, rec, input, runDir)
      case "etl_queries" => new EtlQueries(spark, rec, input, runDir)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    w.warm()
    rec.startTimed()
    for (r <- 0 until roundsArg.toInt) w.round(r)
    rec.stopTimed()

    val ops = rec.operations.filter(_.start >= rec.timedStartMs).map { o =>
      Json.obj("name" -> o.name, "s" -> (o.end - o.start) / 1000.0, "failed" -> o.failed,
        "round" -> o.attrs.getOrElse("round", "0").toInt)
    }
    val result = Json.obj(
      "workload" -> workload,
      "jvm_start_ms" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime,
      "session_ready_ms" -> sessionReady,
      "timed_start_ms" -> rec.timedStartMs,
      "run_s" -> rec.runSeconds,
      "write_bytes" -> rec.writeBytes,
      "ops" -> ops,
      "reports" -> w.reports,
      "per_layer" -> (if (rec.traced) rec.perLayer(cpus.toInt).map { case (k, (v, u)) =>
        k -> Json.obj("value" -> v, "unit" -> u) } else Map.empty))
    Files.writeString(Paths.get(s"$runDir/result.json"), result.text, UTF_8)
    if (rec.traced) Files.writeString(Paths.get(s"$runDir/trace.json"), rec.traceJson.text, UTF_8)
    spark.stop()
  }

  def lines(path: String): Vector[String] = {
    val src = Source.fromFile(path, "UTF-8")
    try src.getLines().filter(_.nonEmpty).toVector finally src.close()
  }
}

trait Workload {
  def warm(): Unit
  def round(r: Int): Unit
  /** What the program reported per operation, for the checks. */
  def reports: Json.Raw
}

/** `ingest_cycles`: incremental cycles over the five MISA endpoints plus
  * TikTok documents; every round starts from an empty root.
  */
final class Ingest(spark: SparkSession, rec: Recorder, input: String, runDir: String)
    extends Workload {

  private val dir = s"$input/ingest_cycles"
  private val cycles: Vector[(Int, Timestamp)] = PerfBench.lines(s"$dir/cycles.tsv").map { l =>
    val Array(c, cutoff) = l.split("\t")
    (c.toInt, Timestamp.from(java.time.Instant.parse(cutoff)))
  }
  private val docs: Vector[Map[String, Vector[String]]] = cycles.map { case (c, _) =>
    (Pipelines.endpointPriority :+ "tiktok").map(e =>
      e -> PerfBench.lines(f"$dir/c$c%03d/$e.jsonl")).toMap
  }
  private val out = ArrayBuffer.empty[Json.Raw]

  /** The in-process page source: serves a window's documents in pages. */
  private final class Fetcher(window: Vector[String], endpoint: String) extends PaginatedSource.PageFetcher {
    override def fetchPage(page: Int, pageSize: Int): Seq[String] =
      rec.span(s"fetchPage $endpoint $page", "fetch") {
        window.slice(page * pageSize, (page + 1) * pageSize)
      }
  }

  private def cycle(root: String, c: Int, monitor: ProductionMonitor, round: Int,
      timed: Boolean): Unit = {
    val fetchers = Pipelines.endpointPriority.map(e => e -> new Fetcher(docs(c)(e), e)).toMap
    val t0 = rec.nowMs
    val (report, version) = Pipelines.runIncrementalCycleAtomic(
      spark, fetchers, docs(c)("tiktok"), root, cycles(c)._2)
    val t1 = rec.nowMs
    val alerts = monitor.recordCycle(report.endpoints.map(_.appended).sum,
      (t1 - t0) / 1000.0, report.qualityPassed)
    if (timed) {
      rec.op(s"cycle $c", t0, rec.nowMs, Map("round" -> round.toString))
      out += Json.obj("round" -> round, "cycle" -> c, "root" -> root, "version" -> version,
        "quality_passed" -> report.qualityPassed, "alerts" -> alerts.map(_.kind),
        "endpoints" -> report.endpoints.map(e => Json.obj(
          "endpoint" -> e.endpoint, "rows" -> e.rows, "appended" -> e.appended)))
    }
  }

  def warm(): Unit = {
    val monitor = new ProductionMonitor()
    cycle(s"$runDir/ingest/warm", 0, monitor, -1, timed = false)
  }

  def round(r: Int): Unit = {
    val monitor = new ProductionMonitor()
    cycles.indices.foreach(c => cycle(s"$runDir/ingest/r$r", c, monitor, r, timed = true))
  }

  def reports: Json.Raw = Json.obj("cycles" -> out.toSeq)
}

/** `backfill_merge`: `Pipelines.runBackfill` over 30-day windows, each a
  * MERGE into one staging table; every round starts from an empty table.
  * An operation is one window: from the program's fetch of it to its
  * fetch of the next one (or the end of the backfill).
  */
final class Backfill(spark: SparkSession, rec: Recorder, input: String, runDir: String)
    extends Workload {

  private val dir = s"$input/backfill_merge"
  private val bounds: Vector[(java.time.LocalDate, Long)] =
    PerfBench.lines(s"$dir/windows.tsv").map { l =>
      val Array(d, n) = l.split("\t")
      (java.time.LocalDate.parse(d), n.toLong)
    }
  private val starts = bounds.init.map(_._1)
  private val out = ArrayBuffer.empty[Json.Raw]
  private val keys = Seq("l_orderkey", "l_linenumber")

  private def backfill(path: String, windows: Int, round: Int, timed: Boolean): Unit = {
    val marks = ArrayBuffer.empty[(Int, Double)]
    val fetch = (start: java.time.LocalDate, _: java.time.LocalDate) => {
      val w = starts.indexOf(start)
      require(w >= 0, s"backfill asked for an unplanned window starting $start")
      marks += (w -> rec.nowMs)
      spark.read.parquet(f"$dir/w$w%03d.parquet")
    }
    val counts = Pipelines.runBackfill(spark, fetch, starts.head, bounds(windows)._1,
      30, path, keys)
    val end = rec.nowMs
    if (timed) {
      marks.zipWithIndex.foreach { case ((w, t), i) =>
        rec.op(s"window $w", t, if (i + 1 < marks.size) marks(i + 1)._2 else end,
          Map("round" -> round.toString))
      }
      out += Json.obj("round" -> round, "path" -> path,
        "windows" -> counts.map { case (range, n) => Json.obj("range" -> range, "rows" -> n) })
    }
  }

  def warm(): Unit = backfill(s"$runDir/backfill/warm", 2, -1, timed = false)

  def round(r: Int): Unit = backfill(s"$runDir/backfill/r$r", starts.size, r, timed = true)

  def reports: Json.Raw = Json.obj("rounds" -> out.toSeq)
}

/** `curation_stream`: document files streamed through `CurationStream.run`,
  * one file per micro-batch (the last file replays an earlier one). An
  * operation is one micro-batch: from the previous batch's report (or the
  * stream's start) to this batch's report.
  */
final class Curation(spark: SparkSession, rec: Recorder, input: String, runDir: String)
    extends Workload {

  private val dir = s"$input/curation_stream"
  private val schema = StructType(Seq(StructField("doc_id", LongType),
    StructField("text", StringType), StructField("n_chars", LongType)))
  private val out = ArrayBuffer.empty[Json.Raw]

  private def stream(src: String, base: String, round: Int, timed: Boolean): Unit = {
    val docs = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    var last = rec.nowMs
    var batch = 0
    val q = CurationStream.run(docs, s"$base/root", s"$base/checkpoint", onBatch = rep => {
      val now = rec.nowMs
      if (timed) {
        rec.op(s"batch $batch", last, now, Map("round" -> round.toString))
        out += Json.obj("round" -> round, "batch" -> batch, "root" -> s"$base/root",
          "received" -> rep.received, "gated_quality" -> rep.gatedQuality,
          "in_batch_dups" -> rep.inBatchDups, "corpus_near_dups" -> rep.corpusNearDups,
          "accepted" -> rep.accepted, "media_rejected" -> rep.mediaRejected,
          "version" -> rep.version)
      }
      batch += 1
      last = rec.nowMs
    })
    q.awaitTermination()
    q.exception.foreach(e => throw e)
  }

  def warm(): Unit = stream(s"$dir/warm", s"$runDir/curation/warm", -1, timed = false)

  def round(r: Int): Unit = stream(s"$dir/files", s"$runDir/curation/r$r", r, timed = true)

  def reports: Json.Raw = Json.obj("batches" -> out.toSeq)
}

/** `etl_queries`: the queries declared in the five relational/ETL query
  * files, each written to storage as `graft.Verify` writes it. An
  * operation is one query: `fn(spark, dir)` plus the write. Traced runs
  * split it into construction, planning (forcing `executedPlan`) and the
  * write.
  */
final class EtlQueries(spark: SparkSession, rec: Recorder, input: String, runDir: String)
    extends Workload {

  private val tables = s"$input/etl_queries"
  private val defs: Seq[(QueryDef, String)] =
    RelationalQueries.defs.map(_ -> "RelationalQueries") ++
      TransformQueries.defs.map(_ -> "TransformQueries") ++
      JoinQueries.defs.map(_ -> "JoinQueries") ++
      OpsQueries.defs.map(_ -> "OpsQueries") ++
      MartQueries.defs.map(_ -> "MartQueries")
  private val failures = ArrayBuffer.empty[Json.Raw]

  private def runAll(outDir: String, round: Int, timed: Boolean): Unit =
    defs.foreach { case (q, file) =>
      spark.catalog.clearCache()
      val attrs = Map("round" -> round.toString, "file" -> file)
      val op = rec.open(q.name, if (timed) "op" else "warm", 0, attrs)
      try {
        val df = rec.span("construct", "construct", op.id)(q.fn(spark, tables))
        if (rec.traced) rec.span("plan", "plan", op.id)(df.queryExecution.executedPlan)
        rec.span("exec", "exec", op.id)(
          df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/${q.name}"))
      } catch {
        case e: Exception =>
          rec.markFailed(op)
          if (timed) failures += Json.obj("round" -> round, "query" -> q.name,
            "error" -> String.valueOf(e.getMessage).take(300))
      } finally rec.close(op)
    }

  def warm(): Unit = {
    val oracle = SparkEntry.oracleSql
    Files.writeString(Paths.get(s"$runDir/oracle_sql.json"),
      Json.render(defs.map(_._1.name).flatMap(n => oracle.get(n).map(n -> _)).toMap), UTF_8)
    runAll(s"$runDir/etl/warm", -1, timed = false)
  }

  def round(r: Int): Unit = runAll(s"$runDir/etl/r$r", r, timed = true)

  def reports: Json.Raw = Json.obj("queries" -> defs.map(_._1.name),
    "files" -> defs.map { case (q, f) => q.name -> f }.toMap, "failures" -> failures.toSeq)
}
