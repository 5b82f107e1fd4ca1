package graftbench

import org.apache.spark.sql.SparkSession

import graft.engine.{DatasetRules, Reports, Validator}
import graft.ledger.MetricsLedger

/** Traced replay of `graft.cli.Main`'s batch path.
  *
  * The steps below are Main's public calls in Main's order, each wrapped in
  * a span named after the layer it enters. The one addition is
  * `engine.catalog_eval`, a `count()` that fills the cached validated frame
  * so that catalog evaluation is timed apart from the first write that
  * would otherwise fill it. `run.py` checks that this copy still matches
  * the program: same output directories, same row counts, and a wall time
  * that the real CLI's in-process time accounts for.
  *
  * {{{
  * CliTrace --input DIR --output DIR --ledger DIR --run-datetime T
  *          --report FILE --spans FILE
  * }}}
  */
object CliTrace {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val gc0 = Probe.gcSeconds()
    val input = opts("input")
    val output = opts("output")
    val runDt = opts("run-datetime")
    val tr = new Tracer
    tr.trace = "cli-run"
    val probe = new Probe
    var code = -1

    tr.span("cli.run") {
      val spark = tr.span("spark.session") {
        val builder = SparkSession.builder()
          .appName("graft-wcmp2-validate")
          .config("spark.sql.adaptive.enabled", "true")
          .config("spark.sql.session.timeZone", "UTC")
        builder.master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")}]")
          .getOrCreate()
      }
      probe.install(spark)

      val (ledger, pending) = tr.span("sources.scan") {
        val ledger = new MetricsLedger(opts("ledger"))
        val all = spark.read.parquet(input)
        val pending = ledger.pendingOnly(all)
        require(!pending.isEmpty, s"nothing pending in $input")
        (ledger, pending)
      }

      val validated = tr.span("engine.validate_build") {
        Reports.withEtsGate(Validator.validate(pending), failOnEts = true)
          .cache()
      }
      tr.span("engine.catalog_eval") { validated.count() }

      tr.span("engine.violations_write") {
        Validator.violations(validated)
          .unionAll(DatasetRules.uniquenessViolations(pending))
          .unionAll(DatasetRules.referentialViolations(pending))
          .write.mode("append").parquet(s"$output/violations")
      }
      tr.span("engine.reports_write") {
        Reports.reports(validated, runDt)
          .write.mode("append").parquet(s"$output/reports")
      }
      tr.span("engine.column_stats") {
        DatasetRules.columnStats(pending)
          .write.mode("append").parquet(s"$output/column_stats")
      }
      tr.span("engine.lang_drift") {
        DatasetRules.langDrift(pending)
          .write.mode("append").parquet(s"$output/lang_drift")
      }
      val verdicts = tr.span("engine.verdicts_write") {
        val verdicts = Validator.partitionVerdicts(validated)
        verdicts.write.mode("append").parquet(s"$output/partition_verdicts")
        verdicts
      }
      tr.span("ledger.commit") { ledger.commitVerdicts(verdicts) }
      code = tr.span("engine.exit_code") { Reports.exitCode(validated) }
      tr.span("spark.stop") {
        validated.unpersist()
        probe.drain(spark)
        spark.stop()
      }
    }

    val (tasks, _, queries) = probe.take()
    Probe.attach(tr, queries)
    val self = tr.selfSecondsByName.withDefaultValue(0.0)
    val root = tr.spans.find(_.name == "cli.run").get
    val evalSpan = tr.spans.find(_.name == "engine.catalog_eval").get

    // straggler ratio of the catalog stage: the stage launched during the
    // cache fill that ran the most task time
    val evalTasks = tasks.filter { t =>
      val at = Probe.msToNs(t.launchMs)
      at >= evalSpan.startNs && at <= evalSpan.endNs
    }
    val stragglers = evalTasks.groupBy(_.stage).values.toSeq
      .sortBy(-_.map(_.durMs).sum).headOption
      .map { ts =>
        val durs = ts.map(_.durMs.toDouble)
        durs.max / math.max(1.0, Probe.median(durs))
      }.getOrElse(0.0)

    val metrics = Map(
      "cli_batch.spark.session_s" -> self("spark.session"),
      "cli_batch.sources.scan_s" -> self("sources.scan"),
      "cli_batch.engine.validate_build_s" -> self("engine.validate_build"),
      "cli_batch.driver.plan_s" -> Probe.Phases.map(p => self(s"driver.$p")).sum,
      "cli_batch.engine.catalog_eval_s" -> self("engine.catalog_eval"),
      "cli_batch.executor.task_max_over_median" -> stragglers,
      "cli_batch.engine.violations_write_s" -> self("engine.violations_write"),
      "cli_batch.engine.reports_write_s" -> self("engine.reports_write"),
      "cli_batch.engine.column_stats_s" -> self("engine.column_stats"),
      "cli_batch.engine.lang_drift_s" -> self("engine.lang_drift"),
      "cli_batch.engine.verdicts_write_s" -> self("engine.verdicts_write"),
      "cli_batch.ledger.commit_s" -> self("ledger.commit"),
      "cli_batch.engine.exit_code_s" -> self("engine.exit_code"),
      "cli_batch.spark.stop_s" -> self("spark.stop"),
      "cli_batch.io.output_bytes" -> tasks.map(_.outputBytes).sum.toDouble,
      "cli_batch.shuffle.write_bytes" ->
        tasks.map(_.shuffleWriteBytes).sum.toDouble,
      "cli_batch.spill.bytes" -> tasks.map(_.spillBytes).sum.toDouble,
      "cli_batch.jvm.gc_s" -> (Probe.gcSeconds() - gc0),
      "cli_batch.executor.cpu_s" -> tasks.map(_.cpuNs).sum / 1e9,
      "cli_batch.trace.wall_s" -> root.durNs / 1e9,
      "cli_batch.trace.unaccounted_s" -> self("cli.run"))

    tr.write(opts("spans"))
    Json.writeFile(opts("report"), Map("exit_code" -> code,
      "file_rows_read" -> probe.fileRowsRead, "metrics" -> metrics))
  }
}
