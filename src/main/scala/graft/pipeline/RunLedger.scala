package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.current_timestamp

import graft.sinks.BatchWriter
import graft.sources.Ingestor

/** Durable per-run execution stats: one parquet ledger row per pipeline
  * stage, appended at the end of every run.
  *
  * Reference: src/pipeline/workers/tasks.py:354 (`run_pipeline` returns
  * per-stage result dicts) + utils/logging.py (structured per-stage
  * logging); the reference's durable copy lives in its task backend. The
  * cluster-native equivalent is an append-only parquet table on shared
  * storage — queryable with the engine itself ("what did pipeline X
  * write yesterday" is a filter + sort over the ledger), and an append
  * of one tiny file per run never rewrites history (the same pattern a
  * transaction log uses; at 100 TB the ledger stays KBs/run regardless
  * of data volume). */
class RunLedger(dir: String) {
  import RunLedger.LedgerRow

  /** Append one row per stage (plus one for the write, when present). */
  def record(spark: SparkSession, runId: String, pipeline: String,
             stats: Seq[Pipeline.StageStats],
             writeStats: Option[BatchWriter.WriteStats] = None): Unit = {
    import spark.implicits._
    val stageRows = stats.map(s =>
      LedgerRow(runId, pipeline, s.stage, s.rows, s.durationMs,
        null, -1L, -1L, null))
    val writeRows = writeStats.toSeq.map(w =>
      LedgerRow(runId, pipeline, "write", w.rowsWritten, w.durationMs,
        w.strategy, w.rowsInserted, w.rowsUpdated, w.path))
    (stageRows ++ writeRows).toDF()
      .withColumn("recorded_at", current_timestamp())
      .coalesce(1) // a handful of rows; one ledger file per run
      .write.mode("append").parquet(dir)
  }

  /** One durable connection-stats row per source probe — the run-level
    * connection observability the reference keeps in
    * `get_pool_status` (connection_manager.py:194). Spark opens one
    * JDBC connection per partition task, so the honest analog of "pool
    * status" is: did the driver-side health probe succeed, after how
    * many attempts, in how long, and how many connections will the
    * partitioned scan open. Recorded through the SAME ledger schema
    * (stage = "connection"; `rows` = planned connections;
    * `duration_ms` = probe latency; `strategy` = outcome+attempts;
    * `output_path` = credential-sanitized source), so "health history
    * for source X" is one filter over the existing runs table. */
  def recordConnection(spark: SparkSession, runId: String, pipeline: String,
                       source: String,
                       report: graft.sources.JdbcIngestor.HealthReport,
                       connectionsPlanned: Int = 1): Unit = {
    import spark.implicits._
    // sanitize the error text too: JDBC exceptions routinely embed the
    // full connection URL ("No suitable driver found for jdbc:...") —
    // credentials must never outlive the run in the durable ledger
    val outcome = s"ok=${report.ok};attempts=${report.attempts}" +
      report.error.map(e =>
        s";error=${RunLedger.sanitizeSource(e).take(160)}").getOrElse("")
    Seq(LedgerRow(runId, pipeline, "connection", connectionsPlanned.toLong,
        report.totalMs, outcome, -1L, -1L, RunLedger.sanitizeSource(source)))
      .toDF()
      .withColumn("recorded_at", current_timestamp())
      .coalesce(1)
      .write.mode("append").parquet(dir)
  }

  /** The full ledger, newest first — "what ran, when, how much". */
  def runs(spark: SparkSession): DataFrame =
    Ingestor.read(spark, dir).orderBy(
      org.apache.spark.sql.functions.col("recorded_at").desc)

  def forPipeline(spark: SparkSession, pipeline: String): DataFrame =
    runs(spark).where(org.apache.spark.sql.functions.col("pipeline") === pipeline)
}

object RunLedger {
  case class LedgerRow(run_id: String, pipeline: String, stage: String,
                       rows: Long, duration_ms: Long, strategy: String,
                       rows_inserted: Long, rows_updated: Long,
                       output_path: String)

  /** Strip credentials from a source identifier before it is written to
    * a durable, queryable table: `user=`/`password=`-style URL params
    * and the `user:pass@host` authority form both become `***`. The
    * ledger is an audit surface — it must never be the place a
    * password outlives the run that used it. */
  def sanitizeSource(source: String): String =
    source
      .replaceAll("(?i)(password|user|secret|token|pwd)=[^;&?]*", "$1=***")
      .replaceAll("//[^/@]+@", "//***@")
}
