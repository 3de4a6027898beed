package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr
import org.json4s._
import org.json4s.jackson.JsonMethods
import graft.operators.{CodeTransform, ConfigTransform, SqlTransform, TrainingPrep}
import graft.sinks.BatchWriter
import graft.sources.Ingestor

/** JSON pipeline spec -> executed ingest -> transform -> persist chain.
  *
  * Reference: src/pipeline/workers/tasks.py:354 (`run_pipeline` chains
  * ingestion/transformation/persistence with per-stage stats). The Spark
  * re-expression keeps every stage a *plan builder*: transform stages
  * compose one Catalyst plan, so a 3-stage spec executes as a single
  * optimised job (filter pushed to scan, one shuffle for the agg, write),
  * not three materialised hops like the pandas original.
  *
  * Spec shape:
  * {{{
  * { "ingestion":      { "path": "...", "format": "parquet",
  *                       "columns": [...], "predicate": "SQL expr" },
  *   "transformation": [ { "type": "config", "config": {...} },
  *                       { "type": "sql", "query": "SELECT ... FROM input_data" } ],
  *   "persistence":    { "path": "...", "strategy": "append"|"insert"|"replace"|"upsert",
  *                       "keys": [...] } }
  * }}}
  */
object Pipeline {

  case class StageStats(stage: String, rows: Long, durationMs: Long)
  case class RunResult(output: DataFrame, stats: Seq[StageStats],
                       writeStats: Option[BatchWriter.WriteStats],
                       skippedIdempotent: Boolean = false,
                       runId: String = "")

  def runJson(spark: SparkSession, specJson: String,
              ledger: Option[IdempotencyLedger] = None,
              runLedger: Option[RunLedger] = None,
              pipelineName: String = "pipeline"): RunResult =
    run(spark, JsonMethods.parse(specJson), specJson, ledger, runLedger,
      pipelineName)

  def run(spark: SparkSession, spec: JValue, rawSpec: String,
          ledger: Option[IdempotencyLedger] = None,
          runLedger: Option[RunLedger] = None,
          pipelineName: String = "pipeline"): RunResult = {
    // Run id minted up front so every structured log line carries it
    // (the ledger row and the result reuse the same id).
    val runId = java.util.UUID.randomUUID().toString
    // Correlation id (reference logging.py:179-199): reuse the one a
    // request-scoped caller already put in context, else this run's id
    // — every StageLog line inside the scope then carries it, and the
    // Spark local property stamps it onto this run's jobs so executor/
    // event-log records are attributable to the same request.
    val cid = StageLog.correlationId.getOrElse(runId)
    StageLog.withCorrelationId(cid) {
    val prevProp = spark.sparkContext.getLocalProperty("graft.correlation.id")
    spark.sparkContext.setLocalProperty("graft.correlation.id", cid)
    try {
    val t0 = System.nanoTime()
    // Idempotent-run gate (reference tasks.py consults IdempotencyManager
    // before executing; key = SHA-256 of the full spec payload).
    val key = ledger.map(l => l.keyFor(Map("pipeline_spec" -> rawSpec)))
    ledger.foreach { l =>
      if (!l.checkAndSet(key.get, "running")) {
        StageLog.emit("pipeline_skipped",
          "pipeline" -> pipelineName, "run_id" -> runId,
          "idempotency_key" -> key.get)
        return RunResult(spark.emptyDataFrame, Nil, None, skippedIdempotent = true)
      }
    }
    StageLog.emit("pipeline_start",
      "pipeline" -> pipelineName, "run_id" -> runId)
    // A run that fails before it is marked done releases its claim, so
    // a retry of the same spec runs instead of being skipped.
    var claimSettled = false
    try {

    var stats = Vector.empty[StageStats]
    // (ingestor, watermark col, unprojected increment) when incremental:
    // the mark commits only after the run persists (crash-safe at-least-once)
    var incremental: Option[(graft.sources.IncrementalIngestor, String,
      org.apache.spark.sql.DataFrame)] = None
    def timed[T](stage: String)(f: => (T, Long)): T = {
      val s0 = System.nanoTime()
      val (v, rows) = f
      val ms = (System.nanoTime() - s0) / 1000000
      stats :+= StageStats(stage, rows, ms)
      StageLog.emit("stage_complete",
        "pipeline" -> pipelineName, "run_id" -> runId,
        "stage" -> stage, "rows" -> rows, "duration_ms" -> ms)
      v
    }

    // ---- ingestion ----
    val ing = spec \ "ingestion"
    val columns = ing \ "columns" match {
      case JArray(cs) => cs.collect { case JString(c) => c }
      case _          => Nil
    }
    val predicate = ing \ "predicate" match {
      case JString(p) => Some(expr(p))
      case _          => None
    }
    val ingested = timed("ingestion") {
      val df = ing \ "url" match {
        // database source (reference's default: pipeline specs point at
        // DB tables) — range-partitioned parallel read when bounds given
        case JString(url) =>
          val JString(table) = (ing \ "table"): @unchecked
          val probe = ing \ "probe_sql" match {
            case JString(p) => p; case _ => "SELECT 1"
          }
          val part = ing \ "partition_column" match {
            case JString(c) =>
              val n = ing \ "num_partitions" match {
                case JInt(n) => n.toInt; case _ => 8
              }
              Some((c, n))
            case _ => None
          }
          // Probe + durable connection-stats row (reference
          // get_pool_status): outcome, attempts, latency, and how many
          // connections the partitioned scan will open — recorded even
          // (especially) when the probe fails, so the ledger keeps the
          // source's health HISTORY, not just its successes.
          val health = graft.sources.JdbcIngestor.healthCheckReport(
            url, probe, maxRetries = 2)
          runLedger.foreach(_.recordConnection(spark, runId, pipelineName,
            url, health, connectionsPlanned = part.map(_._2).getOrElse(1)))
          if (!health.ok)
            throw new IllegalStateException(s"source health check failed: $url")
          var d = part match {
            case Some((c, n)) =>
              graft.sources.JdbcIngestor.jdbcTableAutoPartitioned(spark, url, table, c, n)
            case None =>
              graft.sources.JdbcIngestor.jdbcTable(spark, url, table)
          }
          predicate.foreach(p => d = d.where(p))
          if (columns.nonEmpty) d = d.select(columns.map(org.apache.spark.sql.functions.col): _*)
          d
        case _ =>
          val JString(path) = (ing \ "path"): @unchecked
          val format = ing \ "format" match { case JString(f) => f; case _ => "parquet" }
          // Fail-fast source gate (reference run_pipeline probes the source
          // connection before scheduling work): a dead path kills the run in
          // milliseconds here, not as a storm of task failures mid-job.
          if (!Ingestor.healthCheck(spark, path, format, maxRetries = 2))
            throw new IllegalStateException(s"source health check failed: $path")
          ing \ "incremental" match {
            // high-watermark incremental read: only rows past the last
            // committed mark; the mark commits AFTER persistence below
            case inc: JObject =>
              val JString(wmCol) = (inc \ "watermark_column"): @unchecked
              val JString(regDir) = (inc \ "registry_dir"): @unchecked
              val name = inc \ "source_name" match {
                case JString(n) => n; case _ => path
              }
              val ii = new graft.sources.IncrementalIngestor(
                new DurableRegistry(regDir), name)
              val raw = ii.readIncrement(spark, path, wmCol)
              incremental = Some((ii, wmCol, raw))
              var d = raw
              predicate.foreach(p => d = d.where(p))
              if (columns.nonEmpty) d = d.select(columns.map(org.apache.spark.sql.functions.col): _*)
              d
            case _ =>
              if (format == "parquet" && path.endsWith("events.parquet"))
                Ingestor.events(spark, path.stripSuffix("/events.parquet"))
              else Ingestor.read(spark, path, format,
                columns = columns, predicate = predicate)
          }
      }
      (df, -1L) // row counts deferred: counting here would force an extra scan
    }

    // ---- transformation ----
    val transformed = timed("transformation") {
      val steps = spec \ "transformation" match {
        case JArray(ts) => ts
        case JNothing   => Nil
        case t          => List(t)
      }
      val out = steps.foldLeft(ingested) { (df, step) =>
        step \ "type" match {
          case JString("sql") =>
            val JString(q) = (step \ "query"): @unchecked
            new SqlTransform(spark).transform(df, q)
          case JString("config") =>
            new ConfigTransform(step \ "config").apply(df)
          case JString("code") =>
            // two forms (reference code_transformer.py:164,209): a
            // pre-registered name, or `"class"` — a DataFrame=>DataFrame
            // implementation resolved from the session classpath, so a
            // spec can name a transform the launching program never
            // registered. With both present, `name` keys the registry
            // entry the class is registered under.
            step \ "class" match {
              case JString(cn) =>
                val name = step \ "name" match {
                  case JString(n) => n
                  case _          => cn
                }
                Pipeline.codeRegistry.registerClassIfAbsent(name, cn)
                Pipeline.codeRegistry.transformNamed(df, name)
              case _ =>
                val JString(name) = (step \ "name"): @unchecked
                Pipeline.codeRegistry.transformNamed(df, name)
            }
          case JString("training_prep") =>
            // the corpus-prep DSL as a pipeline stage: quality/repetition/
            // language/decontaminate/dedup/mixture/redact/split/pack
            TrainingPrep(step \ "spec")(df)
          case other => throw new IllegalArgumentException(s"unknown transform type: $other")
        }
      }
      (out, -1L)
    }

    // ---- persistence ----
    val per = spec \ "persistence"
    val writeStats = per match {
      case JNothing => None
      case p =>
        val strategy = p \ "strategy" match {
          case JString("insert")  => BatchWriter.Insert
          case JString("replace") => BatchWriter.Replace
          case JString("upsert") =>
            val JArray(ks) = (p \ "keys"): @unchecked
            BatchWriter.Upsert(ks.collect { case JString(k) => k })
          case _ => BatchWriter.Append
        }
        val ws = timed("persistence") {
          val s = p \ "url" match {
            case JString(url) => // database sink (reference's PG target)
              val JString(table) = (p \ "table"): @unchecked
              graft.sinks.JdbcWriter.write(transformed, url, table, strategy)
            case _ =>
              val JString(outPath) = (p \ "path"): @unchecked
              BatchWriter.write(transformed, outPath, strategy)
          }
          (s, s.rowsWritten)
        }
        Some(ws)
    }

    // Commit the incremental high-water mark only now — after persistence
    // succeeded — so a crashed run re-reads the same increment next time.
    incremental.foreach { case (ii, wm, raw) =>
      ii.commit(raw, wm, runInfo = pipelineName)
    }
    ledger.foreach(l => { l.clear(key.get); l.checkAndSet(key.get, "done") })
    claimSettled = true
    // Durable per-stage stats (reference tasks.py:354 per-stage result
    // dicts; logging.py structured logs): one ledger row per stage so
    // "what did pipeline X write yesterday" is a query over the ledger.
    // The run id is surfaced in the result so callers (PipelineCli) can
    // print it for later `status <run_id>` lookups.
    runLedger.foreach(_.record(spark,
      runId = runId,
      pipeline = pipelineName, stats = stats, writeStats = writeStats))
    StageLog.emit("pipeline_complete",
      "pipeline" -> pipelineName, "run_id" -> runId,
      "stages" -> stats.size.toLong,
      "rows_written" -> writeStats.map(_.rowsWritten).getOrElse(-1L),
      "duration_ms" -> (System.nanoTime() - t0) / 1000000)
    RunResult(transformed, stats, writeStats, runId = runId)
    } catch {
      case t: Throwable if !claimSettled =>
        ledger.foreach(_.clear(key.get))
        throw t
    }
    } finally spark.sparkContext.setLocalProperty("graft.correlation.id", prevProp)
    }
  }

  /** Shared registry for `{"type":"code","name":...}` stages; callers
    * register `DataFrame => DataFrame` functions before running specs. */
  val codeRegistry = new CodeTransform
}
