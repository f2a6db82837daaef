package pipebench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.sql.{Date, Timestamp}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import graft.GraftSession
import graft.pipeline._

/** Drives the medallion pipeline through its public functions and records
  * raw timings; `run.py` turns them into metrics and checks the outputs.
  *
  *   --workload backfill|daily  --data DIR  --work DIR  --seconds N  --trace 0|1
  *
  * `--data` holds inputs from gen.py. Setup starts the session from the
  * program's own `GraftSession.builder` and, for `daily`, builds the starting
  * warehouse from the backfill batch. The measured phase then runs cycles
  * (README.md) within `--seconds` seconds, at least one, each on a fresh
  * warehouse (`backfill`) or a fresh copy of the starting one (`daily`), so
  * no cycle sees another's appended DQ rows. The first cycle finds a cold
  * JVM, as a daily job started in its own process does.
  *
  * With `--trace 1` the same cycles run traced and each ends with two rounds
  * of the analyst queries. Everything is written under `--work`: the
  * warehouses, `result.json` with every timed call and span, and the analyst
  * results.
  */
object Bench {

  val Queries: Seq[String] = Seq("q1_latest_snapshot", "q2_top_moves", "q3_volatility_scan",
    "q4_liquidity_screen", "q5_recent_window", "q6_large_move_alert",
    "q7_volatility_expansion", "q8_cross_asset_on", "q9_completeness", "q10_dq_triage")

  def main(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val work = new File(opts("work")).getAbsolutePath
    val budgetNs = (opts("seconds").toDouble * 1e9).toLong
    val traceMode = opts("trace") == "1"
    require(Set("backfill", "daily")(workload), s"unknown workload $workload")
    val data = Inputs.load(opts("data"))

    val t0 = System.nanoTime()
    val spark = GraftSession.builder()
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionStart = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(spark.sparkContext)
    val run = new Runner(spark, tracer, work)

    // setup, daily only: build the starting warehouse from the backfill batch
    val pristine = s"$work/setup/wh"
    val b0 = System.nanoTime()
    if (workload == "daily")
      PipelineRunner.runConfigured(spark, pristine, data.config(data.batches(0)),
        data.batches(0).now, data.batches(0).today)
    val buildS = (System.nanoTime() - b0) / 1e9

    // cycles run while the next one is expected to end within the budget
    if (traceMode) tracer.attach()
    val start = System.nanoTime()
    var rep = 0
    var lastNs = 0L
    while (rep == 0 || System.nanoTime() - start + lastNs <= budgetNs) {
      val c0 = System.nanoTime()
      val wh = s"$work/wh/rep$rep"
      if (workload == "daily") Disk.copyTree(pristine, wh)
      val batches = if (workload == "daily") data.batches.drop(1) else data.batches.take(1)
      run.cycle(data, s"rep$rep", wh, batches, traceMode)
      tracer.settle()
      lastNs = System.nanoTime() - c0
      rep += 1
    }
    tracer.detach()

    val result = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "session_start_s" -> sessionStart.toString,
      "build_s" -> buildS.toString,
      "measure_s" -> ((System.nanoTime() - start) / 1e9).toString,
      "walk_s" -> run.walkSeconds.toString,
      "ops" -> run.ops.map(_.json).mkString("[", ",\n", "]"),
      "spans" -> tracer.spans.map(_.json(start)).mkString("[", ",\n", "]")))
    Files.write(Paths.get(s"$work/result.json"), result.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  def query(q: String, df: DataFrame, manifest: JsonNode): DataFrame =
    q match {
      case "q1_latest_snapshot" => AnalystQueries.latestSnapshot(df)
      case "q2_top_moves" => AnalystQueries.topMoves(df)
      case "q3_volatility_scan" => AnalystQueries.volatilityScan(df)
      case "q4_liquidity_screen" => AnalystQueries.liquidityScreen(df)
      case "q5_recent_window" => AnalystQueries.recentWindow(df, manifest.get("recent_symbol").asText)
      case "q6_large_move_alert" => AnalystQueries.largeMoveAlert(df)
      case "q7_volatility_expansion" => AnalystQueries.volatilityExpansion(df)
      case "q8_cross_asset_on" => AnalystQueries.crossAssetOn(df, Date.valueOf(manifest.get("snapshot_date").asText))
      case "q9_completeness" => AnalystQueries.completeness(df)
      case "q10_dq_triage" => AnalystQueries.dqTriage(df)
    }
}

/** One generated input set: its directory and the batches of its manifest. */
final case class Inputs(dir: String, manifest: JsonNode, batches: Vector[Batch]) {
  def config(b: Batch): PipelineConfig = PipelineConfig(rawInputDir = s"$dir/${b.dir}")
}

final case class Batch(dir: String, now: Timestamp, today: Date, csvBytes: Long)

object Inputs {
  def load(dir: String): Inputs = {
    val abs = new File(dir).getAbsolutePath
    val m = new ObjectMapper().readTree(new File(abs, "manifest.json"))
    Inputs(abs, m, m.get("batches").elements().asScala.map { b =>
      Batch(b.get("dir").asText, Timestamp.valueOf(b.get("now").asText),
        Date.valueOf(b.get("today").asText), b.get("csv_bytes").asLong)
    }.toVector)
  }
}

/** One timed call: a pipeline run over one batch, or one analyst query. */
final class Op(val cycle: String, val kind: String, val name: String, val traced: Boolean) {
  var seconds = 0.0
  var filesWritten = 0L
  var bytesWritten = 0L
  var csvBytes = 0L
  var spaceBytes = 0L
  var tableFiles = 0L
  var archiveBytes = 0L
  var error: String = null

  def json: String = Json.obj(Seq(
    "cycle" -> Json.str(cycle), "kind" -> Json.str(kind), "name" -> Json.str(name),
    "traced" -> traced.toString, "s" -> seconds.toString,
    "files_written" -> filesWritten.toString, "bytes_written" -> bytesWritten.toString,
    "csv_bytes" -> csvBytes.toString, "space_bytes" -> spaceBytes.toString,
    "table_files" -> tableFiles.toString, "archive_bytes" -> archiveBytes.toString,
    "error" -> Option(error).map(Json.str).getOrElse("null")))
}

/** Runs cycles: each batch through the pipeline and, in a traced cycle, two
  * rounds of the ten analyst queries on the warehouse the last batch left, as
  * the paper's daily job and its analysts do. The first round warms the plans
  * an analyst's long-lived session would already hold; both are timed and
  * checked. Results of every round go to `<work>/analyst/`. */
final class Runner(spark: SparkSession, tracer: Tracer, work: String) {
  val ops = ArrayBuffer.empty[Op]
  private var walkNs = 0L
  def walkSeconds: Double = walkNs / 1e9

  private def snapshot(wh: String) = {
    val w0 = System.nanoTime()
    try Disk.snapshot(wh) finally walkNs += System.nanoTime() - w0
  }

  def cycle(in: Inputs, name: String, wh: String, batches: Seq[Batch], traced: Boolean): Unit = {
    batches.foreach(b => pipeline(in, name, wh, b, traced))
    if (traced)
      for (round <- 0 to 1)
        Bench.Queries.foreach(q => analyst(in, s"$name-${batches.last.dir}-r$round", wh, q))
  }

  private def pipeline(in: Inputs, cycle: String, wh: String, b: Batch, traced: Boolean): Unit = {
    val op = new Op(cycle, "pipeline", b.dir, traced)
    ops += op
    op.csvBytes = b.csvBytes
    val cfg = in.config(b)
    val before = snapshot(wh)
    val walk0 = walkNs
    val s0 = System.nanoTime()
    try {
      if (traced) tracer.span("pipeline", ops.size - 1)(tracedRun(wh, cfg, b, ops.size - 1))
      else PipelineRunner.runConfigured(spark, wh, cfg, b.now, b.today)
    } catch { case e: Throwable => op.error = e.toString }
    // file-system snapshots taken between traced layers are bookkeeping
    op.seconds = (System.nanoTime() - s0 - (walkNs - walk0)) / 1e9
    val after = snapshot(wh)
    val (files, bytes) = Disk.written(before, after)
    op.filesWritten = files
    op.bytesWritten = bytes
    op.spaceBytes = Disk.spaceBytes(after)
    op.tableFiles = Disk.tableFiles(after)
    op.archiveBytes = Disk.archiveBytes(after)
  }

  /** The four stage calls and the report counts of
    * `PipelineRunner.runConfigured`, each in its own span. */
  private def tracedRun(wh: String, cfg: PipelineConfig, b: Batch, op: Int): Unit = {
    val names = cfg.tables
    val catalog = new Catalog(spark, wh, names)
    var snap = snapshot(wh)
    def layer[T](name: String)(body: => T): T = {
      val r = tracer.span(name, op)(body)
      val next = snapshot(wh)
      val (files, bytes) = Disk.written(snap, next)
      tracer.spans.last.add("files_written", files)
      tracer.spans.last.add("bytes_written", bytes)
      snap = next
      r
    }
    val bronze = layer("bronze")(BronzeIngest.run(spark, catalog, cfg.rawInputDir, cfg.source,
      b.now, names, cfg.symbols, cfg.startDate, cfg.endDate))
    val (silver, rejected) = layer("silver")(SilverTransform.run(spark, catalog, names))
    val gold = layer("gold")(GoldFeatures.run(spark, catalog, b.now, names))
    val dq = layer("dq")(QualityChecks.run(spark, catalog, b.now, b.today, names, cfg.thresholds))
    layer("report")(Seq(bronze, silver, rejected, gold, dq).map(_.count()))
  }

  /** Catalog.read, one AnalystQueries function, collect. */
  private def analyst(in: Inputs, round: String, wh: String, q: String): Unit = {
    val op = new Op(round, "query", q, traced = true)
    ops += op
    val idx = ops.size - 1
    val catalog = new Catalog(spark, wh)
    val table = if (q == "q10_dq_triage") TableNames().dq else TableNames().gold
    def answer(df: DataFrame) = {
      val r = Bench.query(q, df, in.manifest)
      (r.columns.toSeq, r.collect().toSeq)
    }
    val s0 = System.nanoTime()
    val (cols, rows) = try {
      val df = tracer.span("analyst.read", idx)(catalog.read(table))
      tracer.span(s"analyst.$q", idx)(answer(df))
    } catch { case e: Throwable => op.error = e.toString; (Nil, Nil) }
    op.seconds = (System.nanoTime() - s0) / 1e9
    val dir = Paths.get(s"$work/analyst/$round")
    Files.createDirectories(dir)
    Files.write(dir.resolve(s"$q.json"), Json.rows(cols, rows).getBytes(StandardCharsets.UTF_8))
  }
}

/** Just enough JSON writing for the result file and the analyst rows. */
object Json {
  def str(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }.mkString("\"", "", "\"")

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  private def value(v: Any): String = v match {
    case null => "null"
    case d: Double => if (d.isNaN || d.isInfinite) str(d.toString) else d.toString
    case n @ (_: Long | _: Int | _: Short | _: Byte) => n.toString
    case other => str(other.toString) // strings, dates, timestamps (UTC JVM)
  }

  /** {"columns": [...], "rows": [[...], ...]} in collect order. */
  def rows(cols: Seq[String], rs: Seq[Row]): String =
    obj(Seq("columns" -> cols.map(str).mkString("[", ",", "]"),
      "rows" -> rs.map(r => r.toSeq.map(value).mkString("[", ",", "]")).mkString("[\n", ",\n", "]")))
}
