package graft

import org.apache.spark.sql.SparkSession

import graft.pipeline.{GraftSettings, IdempotencyLedger, Pipeline, RunLedger}
import graft.sources.Ingestor

/** User-facing CLI: run a pipeline from a JSON spec file, look up a
  * run's recorded stats, list a pipeline's run history.
  *
  * Reference: src/cli/main.py — `run` (:46, loads a config file and
  * submits `run_pipeline`), `status` (:213, task status by id), and the
  * implicit history the task backend keeps. The reference CLI is a
  * Celery job *submitter*; a Spark batch library has no broker, so the
  * Spark-native re-expression runs the pipeline IN the CLI process
  * (exactly what `spark-submit --class graft.PipelineCli` does on a
  * cluster) and serves `status`/`history` from the durable
  * [[graft.pipeline.RunLedger]] parquet table instead of a result
  * backend — same queries, no extra service. `workers` (reference
  * :265) maps the broker's worker inventory to the live session's
  * executor inventory via the StatusTracker.
  *
  * Single-stage subcommands (reference cli/main.py:115 `ingest`, :147
  * `transform`, :180 `persist`): thin wrappers that run ONE stage of a
  * spec through the same [[Pipeline]] engine and ledger. The reference
  * chains stages by Celery data_id; the Spark analog is a materialized
  * path, so `transform`/`persist` take `--input PATH` pointing at the
  * previous stage's output (defaulting to the spec's own ingestion
  * block). `health` (reference :240) probes the spec's source without
  * running anything — the pre-flight a scheduler calls before
  * submitting a 1000-task read.
  *
  * Usage:
  * {{{
  *   PipelineCli run <spec.json> [--name NAME] [--ledger-dir DIR] [--idempotency-dir DIR]
  *   PipelineCli ingest <spec.json> [--output PATH] [--name NAME] [--ledger-dir DIR]
  *   PipelineCli transform <spec.json> [--input PATH] [--input-format F] [--output PATH] [--name NAME] [--ledger-dir DIR]
  *   PipelineCli persist <spec.json> [--input PATH] [--input-format F] [--name NAME] [--ledger-dir DIR]
  *   PipelineCli health <spec.json>
  *   PipelineCli status <run_id> --ledger-dir DIR
  *   PipelineCli history <pipeline_name> --ledger-dir DIR [--limit N]
  *   PipelineCli workers
  * }}}
  */
object PipelineCli {

  def main(args: Array[String]): Unit = {
    val spark = Sessions.local(appName = "graft-pipeline-cli")
    spark.sparkContext.setLogLevel(GraftSettings.fromEnv().logLevel)
    val code =
      try execute(spark, args)
      finally spark.stop()
    if (code != 0) sys.exit(code)
  }

  /** Parse + dispatch; returns a process exit code. Separated from
    * [[main]] so specs can drive the full CLI against the shared test
    * session and a temp ledger. All output goes through `Console.out`
    * (capturable with `Console.withOut`). `env` (default: the process
    * environment) feeds [[GraftSettings]] — deployment-level defaults
    * for the ledger/idempotency knobs, with the documented precedence
    * flag > env > default (spec-pinned via this parameter). */
  def execute(spark: SparkSession, args: Array[String],
              env: Map[String, String] = sys.env): Int = {
    val settings =
      try GraftSettings.fromEnv(env)
      catch {
        case e: IllegalArgumentException =>
          Console.err.println(s"invalid environment: ${e.getMessage}")
          return 2
      }
    def usage(): Int = {
      Console.err.println(
        """usage: PipelineCli run <spec.json> [--name NAME] [--ledger-dir DIR] [--idempotency-dir DIR] [--idempotency-ttl-days N]
          |       PipelineCli ingest <spec.json> [--output PATH] [--name NAME] [--ledger-dir DIR]
          |       PipelineCli transform <spec.json> [--input PATH] [--input-format F] [--output PATH] [--name NAME] [--ledger-dir DIR]
          |       PipelineCli persist <spec.json> [--input PATH] [--input-format F] [--name NAME] [--ledger-dir DIR]
          |       PipelineCli health <spec.json>
          |       PipelineCli status <run_id> --ledger-dir DIR
          |       PipelineCli history <pipeline_name> --ledger-dir DIR [--limit N]
          |       PipelineCli workers""".stripMargin)
      2
    }
    parseArgs(args.toList) match {
      case Left(err) =>
        Console.err.println(err)
        usage()
      case Right((positional, flags)) =>
        (positional, flags) match {
          case (List("run", specPath), f) =>
            runCommand(spark, specPath, f, settings)
          case (List(stage @ ("ingest" | "transform" | "persist"), specPath), f) =>
            stageCommand(spark, stage, specPath, f, settings)
          case (List("health", specPath), f) =>
            healthCommand(spark, specPath, f, settings)
          case (List("status", runId), f) =>
            statusCommand(spark, runId, f, settings)
          case (List("history", pipeline), f) =>
            historyCommand(spark, pipeline, f, settings)
          case (List("workers"), _) =>
            workersCommand(spark)
          case _ => usage()
        }
    }
  }

  /** `--key value` pairs anywhere after the subcommand; anything else
    * is positional. A flag with no value (end of args, or immediately
    * followed by another `--flag`) is a hard usage error — silently
    * dropping it would run `history foo --limit` with the default limit,
    * and `--name --ledger-dir DIR` would swallow `--ledger-dir` as the
    * name's value and lose the ledger dir. */
  private def parseArgs(args: List[String],
                        pos: List[String] = Nil,
                        flags: Map[String, String] = Map.empty)
      : Either[String, (List[String], Map[String, String])] = args match {
    case k :: v :: rest if k.startsWith("--") && !v.startsWith("--") =>
      parseArgs(rest, pos, flags + (k.stripPrefix("--") -> v))
    case k :: _ if k.startsWith("--") =>
      Left(s"flag $k requires a value")
    case a :: rest => parseArgs(rest, a :: pos, flags)
    case Nil => Right((pos.reverse, flags))
  }

  private def runCommand(spark: SparkSession, specPath: String,
                         flags: Map[String, String],
                         settings: GraftSettings): Int = {
    val p = java.nio.file.Paths.get(specPath)
    if (!java.nio.file.Files.exists(p)) {
      Console.err.println(s"spec file not found: $specPath")
      return 1
    }
    val specJson = new String(java.nio.file.Files.readAllBytes(p),
      java.nio.charset.StandardCharsets.UTF_8)
    val name = flags.getOrElse("name",
      p.getFileName.toString.stripSuffix(".json"))
    // precedence: flag > environment (GraftSettings) > default
    val ledger = flags.get("ledger-dir").map(new RunLedger(_))
      .orElse(settings.runLedger)
    val ttl = flags.get("idempotency-ttl-days").map(_.toInt)
      .orElse(settings.idempotencyTtlDays)
    val idem =
      if (!settings.idempotencyEnabled) None // env kill-switch wins
      else flags.get("idempotency-dir").orElse(settings.idempotencyDir)
        .map(d => new IdempotencyLedger(d, ttlDays = ttl))
    try {
      val r = Pipeline.runJson(spark, specJson, ledger = idem,
        runLedger = ledger, pipelineName = name)
      if (r.skippedIdempotent) {
        Console.out.println(s"pipeline $name: SKIPPED (idempotency key already claimed)")
        return 0
      }
      Console.out.println(s"pipeline $name: OK")
      if (r.runId.nonEmpty) Console.out.println(s"run_id: ${r.runId}")
      r.stats.foreach(s => Console.out.println(
        f"  stage ${s.stage}%-15s ${s.durationMs}%6d ms" +
          (if (s.rows >= 0) f"  ${s.rows}%d rows" else "")))
      r.writeStats.foreach(w => Console.out.println(
        f"  write ${w.strategy}%-15s ${w.durationMs}%6d ms  ${w.rowsWritten}%d rows -> ${w.path}"))
      0
    } catch {
      case e: Exception =>
        // sanitize: health-check failures quote the full JDBC URL, and a
        // credentialed one must not reach stderr (same contract as the
        // ledger's error column and healthCommand's output)
        Console.err.println(s"pipeline $name: FAILED — " +
          RunLedger.sanitizeSource(String.valueOf(e.getMessage)))
        1
    }
  }

  /** Read + parse a spec file; Left(exit code) after printing the error. */
  private def readSpec(specPath: String)
      : Either[Int, org.json4s.JValue] = {
    val p = java.nio.file.Paths.get(specPath)
    if (!java.nio.file.Files.exists(p)) {
      Console.err.println(s"spec file not found: $specPath")
      Left(1)
    } else
      try Right(org.json4s.jackson.JsonMethods.parse(new String(
        java.nio.file.Files.readAllBytes(p),
        java.nio.charset.StandardCharsets.UTF_8)))
      catch {
        case e: Exception =>
          Console.err.println(s"spec file unparseable: ${e.getMessage}")
          Left(1)
      }
  }

  /** Run ONE stage of the spec (reference cli/main.py ingest/transform/
    * persist tasks) through the same Pipeline engine + ledger: the stage
    * spec keeps only that stage's block, with `--input` substituting the
    * previous stage's materialized output for the ingestion block. */
  private def stageCommand(spark: SparkSession, stage: String,
                           specPath: String, flags: Map[String, String],
                           settings: GraftSettings): Int = {
    import org.json4s._
    val spec = readSpec(specPath) match {
      case Left(code) => return code
      case Right(s) => s
    }
    val ingestion: JValue = flags.get("input") match {
      case Some(path) => JObject(
        "path" -> JString(path),
        "format" -> JString(flags.getOrElse("input-format", "parquet")))
      case None => spec \ "ingestion"
    }
    if (ingestion == JNothing) {
      Console.err.println(
        s"$stage: spec has no ingestion block and no --input given")
      return 1
    }
    val stageBlocks: List[(String, JValue)] = stage match {
      case "ingest" => Nil
      case "transform" => List("transformation" -> (spec \ "transformation"))
      case "persist" => List("persistence" -> (spec \ "persistence"))
    }
    val missing = stageBlocks.collect { case (k, JNothing) => k }
    if (missing.nonEmpty) {
      Console.err.println(s"$stage: spec has no ${missing.head} block")
      return 1
    }
    val pruned = JObject(("ingestion" -> ingestion) :: stageBlocks: _*)
    val name = flags.getOrElse("name",
      java.nio.file.Paths.get(specPath).getFileName.toString
        .stripSuffix(".json") + s"-$stage")
    val ledger = flags.get("ledger-dir").map(new RunLedger(_))
      .orElse(settings.runLedger)
    try {
      val r = Pipeline.run(spark, pruned,
        org.json4s.jackson.JsonMethods.compact(
          org.json4s.jackson.JsonMethods.render(pruned)),
        ledger = None, runLedger = ledger, pipelineName = name)
      stage match {
        case "persist" =>
          Console.out.println(s"$stage $name: OK")
          r.writeStats.foreach(w => Console.out.println(
            f"  write ${w.strategy}%-15s ${w.durationMs}%6d ms  ${w.rowsWritten}%d rows -> ${w.path}"))
        case _ =>
          // `--output` materializes the stage's result as parquet — the
          // Spark analog of the reference's stored task data (its chain
          // passes data ids between ingest/transform/persist tasks; here
          // the next stage reads the path via `--input`). Without it the
          // stage just counts, exactly like the reference's row_count.
          val n = flags.get("output") match {
            case Some(p) =>
              r.output.write.mode("overwrite").parquet(p)
              // count the WRITTEN parquet, not the plan: re-executing
              // the stage for the count would run it twice, and for a
              // nondeterministic source the printed/ledgered count
              // could diverge from the artifact the next stage reads
              Ingestor.read(r.output.sparkSession, p).count()
            case None =>
              // reference prints the stage's row_count; forcing the
              // count here is the stage's entire job, not an extra scan
              r.output.count()
          }
          Console.out.println(s"$stage $name: OK — $n rows" +
            flags.get("output").map(p => s" -> $p").getOrElse(""))
      }
      if (r.runId.nonEmpty) Console.out.println(s"run_id: ${r.runId}")
      0
    } catch {
      case e: Exception =>
        // sanitize — see runCommand: stage failures can quote source URLs
        Console.err.println(s"$stage $name: FAILED — " +
          RunLedger.sanitizeSource(String.valueOf(e.getMessage)))
        1
    }
  }

  /** Probe the spec's source health WITHOUT running anything (reference
    * cli/main.py:240 `health`): JDBC sources get the retrying probe
    * with attempt/latency detail, path sources the fail-fast
    * existence+schema check. Exit 0 iff healthy. */
  private def healthCommand(spark: SparkSession, specPath: String,
                            flags: Map[String, String],
                            settings: GraftSettings): Int = {
    import org.json4s._
    val spec = readSpec(specPath) match {
      case Left(code) => return code
      case Right(s) => s
    }
    val ing = spec \ "ingestion"
    ing \ "url" match {
      case JString(url) =>
        val probe = ing \ "probe_sql" match {
          case JString(p) => p; case _ => "SELECT 1"
        }
        val report = graft.sources.JdbcIngestor.healthCheckReport(
          url, probe, maxRetries = settings.maxRetries)
        val shown = RunLedger.sanitizeSource(url)
        if (report.ok) {
          Console.out.println(s"source $shown: HEALTHY")
          Console.out.println(
            s"  attempts: ${report.attempts}  latency_ms: ${report.totalMs}")
          0
        } else {
          Console.err.println(s"source $shown: UNHEALTHY — " +
            report.error.map(RunLedger.sanitizeSource).getOrElse("unknown"))
          1
        }
      case _ =>
        ing \ "path" match {
          case JString(path) =>
            val format = ing \ "format" match {
              case JString(f) => f; case _ => "parquet"
            }
            if (graft.sources.Ingestor.healthCheck(spark, path, format,
                maxRetries = settings.maxRetries)) {
              Console.out.println(s"source $path: HEALTHY")
              0
            } else {
              Console.err.println(s"source $path: UNHEALTHY")
              1
            }
          case _ =>
            Console.err.println("health: spec has no ingestion source")
            1
        }
    }
  }

  private def withLedger(flags: Map[String, String],
                         settings: GraftSettings)
                        (f: String => Int): Int =
    flags.get("ledger-dir").orElse(settings.ledgerDir) match {
      case None =>
        Console.err.println("--ledger-dir (or GRAFT_LEDGER_DIR) is required"); 2
      case Some(dir) => f(dir)
    }

  private def statusCommand(spark: SparkSession, runId: String,
                            flags: Map[String, String],
                            settings: GraftSettings): Int =
    withLedger(flags, settings) { dir =>
      val rows = new RunLedger(dir).runs(spark)
        .where(org.apache.spark.sql.functions.col("run_id") === runId)
        .collect()
      if (rows.isEmpty) {
        Console.err.println(s"run not found: $runId")
        1
      } else {
        Console.out.println(s"run $runId (pipeline ${rows.head.getAs[String]("pipeline")}):")
        rows.foreach { r =>
          val stage = r.getAs[String]("stage")
          val base = f"  $stage%-15s ${r.getAs[Long]("duration_ms")}%6d ms"
          val detail =
            if (stage == "write")
              f"  ${r.getAs[Long]("rows")}%d rows (${r.getAs[String]("strategy")}) -> ${r.getAs[String]("output_path")}"
            else if (r.getAs[Long]("rows") >= 0) f"  ${r.getAs[Long]("rows")}%d rows"
            else ""
          Console.out.println(base + detail)
        }
        0
      }
    }

  /** `workers`: list the compute inventory serving this session — the
    * Spark analog of the reference's worker listing (cli/main.py:265
    * `workers_command`: worker count, per-worker active tasks, pool).
    * The reference asks a Celery broker; a Spark app's "workers" are
    * its executors, so the inventory comes from the live
    * StatusTracker: one line per executor with host:port, running
    * tasks, and storage-memory headroom, plus the pool shape
    * (defaultParallelism). Exit 1 when the inventory is empty — same
    * contract as the reference's "No workers found".
    *
    * Below the inventory, the HEALTH view (reference api/main.py:441
    * `get_workers_health`: per-worker failure/heartbeat detail): one
    * line per executor id with lifetime succeeded/failed task counts,
    * the last task-finish time (the heartbeat analog), removal reason
    * if gone, and an UNHEALTHY flag per
    * [[graft.pipeline.WorkerHealth.ExecutorHealth.unhealthy]]. Counts
    * come from the [[graft.pipeline.WorkerHealth]] listener that
    * [[Sessions.tune]] installs at session setup; the defensive
    * install here only matters for sessions graft never tuned. */
  private[graft] def workersCommand(spark: SparkSession): Int = {
    val sc = spark.sparkContext
    pipeline.WorkerHealth.install(sc)
    val infos = sc.statusTracker.getExecutorInfos
    if (infos.isEmpty) {
      Console.out.println("No workers found")
      1
    } else {
      Console.out.println(
        s"Found ${infos.length} executor(s) (pool: ${sc.master}, " +
          s"parallelism ${sc.defaultParallelism}):\n")
      infos.foreach { e =>
        Console.out.println(s"Executor: ${e.host()}:${e.port()}")
        Console.out.println(s"  Active tasks: ${e.numRunningTasks()}")
        Console.out.println(
          f"  Storage memory: ${e.usedOnHeapStorageMemory()}%d used / ${e.totalOnHeapStorageMemory()}%d total B")
        Console.out.println()
      }
      val health = pipeline.WorkerHealth.snapshot(sc)
      if (health.nonEmpty) {
        Console.out.println("Health (task outcomes since session start):")
        health.toSeq.sortBy(_._1).foreach { case (id, h) =>
          val flag = if (h.unhealthy) "UNHEALTHY" else "healthy"
          val last =
            if (h.lastTaskMs > 0)
              new java.sql.Timestamp(h.lastTaskMs).toString
            else "never"
          val gone = if (h.removed) s"  removed: ${h.removeReason}" else ""
          Console.out.println(
            s"  Executor $id: ${h.succeeded} succeeded, ${h.failed} failed, " +
              s"last task $last  [$flag]$gone")
        }
      }
      0
    }
  }

  private def historyCommand(spark: SparkSession, pipeline: String,
                             flags: Map[String, String],
                             settings: GraftSettings): Int =
    withLedger(flags, settings) { dir =>
      import org.apache.spark.sql.functions._
      val limit = flags.get("limit").map(_.toInt).getOrElse(20)
      // one line per run: newest first, stage count + write volume
      val rows = new RunLedger(dir).forPipeline(spark, pipeline)
        .groupBy("run_id")
        .agg(max("recorded_at").as("at"),
          count(lit(1)).as("n_stages"),
          sum(when(col("stage") === "write", col("rows"))
            .otherwise(lit(0L))).as("rows_written"))
        .orderBy(col("at").desc)
        .limit(limit)
        .collect()
      if (rows.isEmpty) {
        Console.err.println(s"no runs recorded for pipeline: $pipeline")
        1
      } else {
        Console.out.println(s"pipeline $pipeline — ${rows.length} most recent run(s):")
        rows.foreach(r => Console.out.println(
          f"  ${r.getAs[java.sql.Timestamp]("at")}  ${r.getAs[String]("run_id")}  " +
            f"stages=${r.getAs[Long]("n_stages")}%d rows_written=${r.getAs[Long]("rows_written")}%d"))
        0
      }
    }
}
