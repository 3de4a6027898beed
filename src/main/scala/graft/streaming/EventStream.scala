package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.functions.dec
import graft.sources.Ingestor

/** Structured Streaming re-expression of the reference's async pipeline
  * (the reference runs Celery workers draining a Redis queue —
  * reference: src/pipeline/workers/tasks.py; in Spark the queue is the
  * source, the worker pool is the executor set, and backpressure /
  * exactly-once bookkeeping come from the engine).
  *
  * Each transform below is written against a generic DataFrame so the
  * SAME code runs in batch (for the DuckDB-oracled correctness gate) and
  * as a `readStream` plan — the batch/streaming unification is the point
  * of Structured Streaming.
  */
object EventStream {

  /** Hourly tumbling-window aggregation per event type. In streaming
    * mode the 10-minute watermark bounds state: late events beyond it
    * are dropped, so state size tracks (windows in flight × types), not
    * stream length. */
  def windowedAgg(events: DataFrame, watermark: Boolean = false): DataFrame = {
    val in = if (watermark) events.withWatermark("ts", "10 minutes") else events
    in.groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(dec(col("value"))).cast("double").as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))
  }

  /** Batch gap-based sessionization: a session breaks after `gapMinutes`
    * of user inactivity. Two windows over (user, time) — no driver-side
    * state, scales by hash-partitioning on user_id. */
  def sessionize(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    // timestamp subtraction (works for NTZ and LTZ alike) — unix_micros
    // would reject the NTZ event time
    val gap = expr(s"INTERVAL '$gapMinutes' MINUTE")
    events
      .select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("new_s",
        when(lag(col("ts"), 1).over(w).isNull ||
          col("ts") - lag(col("ts"), 1).over(w) > gap, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum(col("new_s")).over(w))
      .groupBy("user_id", "session_id")
      .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"))
  }

  /** Streaming upsert sink: apply [[graft.sinks.BatchWriter]]'s key-merge
    * to every micro-batch via foreachBatch — the streaming form of the
    * reference's persistence stage (batch_writer.py:230 `_write_upsert`
    * called from the async worker loop, tasks.py). Each micro-batch is a
    * bounded DataFrame, so the same distributed anti-join merge (and the
    * same partition-scoped rewrite when `partitionCols` is set) runs
    * per batch; exactly-once comes from the checkpoint + the idempotent
    * key-merge (replaying a batch re-merges the same keys to the same
    * values). */
  def upsertSink(stream: DataFrame, path: String, keys: Seq[String],
                 checkpoint: String,
                 partitionCols: Seq[String] = Nil)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.sinks.BatchWriter.write(batch, path,
          graft.sinks.BatchWriter.Upsert(keys), partitionCols)
        ()
      }

  /** Streaming corpus ingestion with history dedup: every micro-batch of
    * documents dedups against the ACCUMULATED corpus fingerprint table
    * ([[graft.operators.Dedup.exactIncrement]]), appends the survivors,
    * and appends their fingerprints to the history — so a document seen
    * in any earlier batch (or earlier run: the fingerprint table is
    * durable) never re-enters the corpus. Unlike
    * dropDuplicatesWithinWatermark, the dedup horizon is ALL history,
    * with state held as a parquet fingerprint table instead of executor
    * memory — the right trade for corpus ingest, where "late" duplicates
    * arrive months apart. Exactly-once: checkpoint + the anti-join makes
    * batch replay a no-op (already-present fingerprints drop the rows). */
  def dedupIngestSink(stream: DataFrame, corpusDir: String, fpDir: String,
                      checkpoint: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        dedupIngestBatch(batch, corpusDir, fpDir)
      }

  /** One micro-batch of [[dedupIngestSink]] — package-visible so the
    * replay contract and throughput are measurable directly. */
  private[graft] def dedupIngestBatch(batch: DataFrame, corpusDir: String,
                                      fpDir: String): Unit = {
    val spark = batch.sparkSession
    val fpPath = new org.apache.hadoop.fs.Path(fpDir)
    val fs = fpPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val kept =
      if (fs.exists(fpPath))
        graft.operators.Dedup.exactIncrement(
          Ingestor.read(spark, fpDir), batch, existingIsFingerprints = true)
      else
        graft.operators.Dedup.exactIncrement(batch.limit(0), batch)
    val materialized = kept.cache()
    try {
      materialized.write.mode("append").parquet(corpusDir)
      materialized.select(md5(col("text")).as("fingerprint"))
        .write.mode("append").parquet(fpDir)
    } finally materialized.unpersist()
    ()
  }

  /** Write `df` as the `__batch_id = batchId` partition of `dir` by
    * dynamic-partition overwrite: a replayed batch replaces its own
    * partition instead of appending duplicates. Every batch sink here
    * writes through it. */
  private[graft] def writeBatch(df: DataFrame, batchId: Long, dir: String): Unit =
    df.withColumn("__batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("__batch_id")
      .parquet(dir)

  /** The rows of a [[writeBatch]] table from batches STRICTLY before
    * `batchId` — the state read a stateful sink's replay contract rests
    * on: a replayed batch sees exactly what its first attempt saw. None
    * on the first batch (no table yet), and on a directory a crash left
    * before any part file committed, whose read fails exactly like a
    * missing one, so the contract holds for crashes inside a write. */
  private[graft] def earlierBatches(spark: org.apache.spark.sql.SparkSession,
                                    dir: String, batchId: Long): Option[DataFrame] = {
    val path = new org.apache.hadoop.fs.Path(dir)
    if (!path.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(path)) None
    else
      try Some(Ingestor.read(spark, dir)
        .where(col("__batch_id") < batchId).drop("__batch_id"))
      catch { case _: org.apache.spark.sql.AnalysisException => None }
  }

  /** Streaming corpus ingestion with ALL-HISTORY near-dup dedup: the
    * near-duplicate counterpart of [[dedupIngestSink]]. Each micro-batch
    * is shingled once, probes the DURABLE band-bucket table
    * ([[graft.operators.Dedup.nearDupStateStep]]) for candidates
    * against everything ever admitted, exact-Jaccard-verifies them, and
    * persists the survivors' text to the corpus and their shingle-set +
    * bucket rows to the state — history text is never re-shingled, so
    * per-batch cost tracks the batch and its bucket collisions, not the
    * corpus. State is parquet, not executor memory: the right trade for
    * corpus ingest where a near-duplicate can arrive months later, far
    * past any watermark.
    *
    * Exactly-once without atomic multi-table commits: all three tables
    * are partitioned by `__batch_id` and written with dynamic partition
    * OVERWRITE, and each batch reads state from STRICTLY EARLIER batch
    * partitions only. A replayed batch therefore sees exactly the state
    * its first attempt saw — regardless of which of the three writes
    * survived the crash — recomputes the identical survivor set, and
    * overwrites its own partitions instead of appending duplicates.
    * The batch-per-partition layout accumulates small files over time;
    * compact periodically with [[graft.sinks.Compaction]] if batch
    * counts grow large — but only partitions of batches the checkpoint
    * has already committed (Structured Streaming replays at most the
    * last uncommitted batch, so folding older partitions together can
    * never change what a live replay reads). */
  def nearDupIngestSink(stream: DataFrame, corpusDir: String, stateDir: String,
                        checkpoint: String, threshold: Double = 0.8)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        nearDupIngestBatch(batch, batchId, corpusDir, stateDir, threshold)
      }

  /** One micro-batch of [[nearDupIngestSink]], idempotent in `batchId`
    * — package-visible so the replay contract is testable directly. */
  private[graft] def nearDupIngestBatch(batch: DataFrame, batchId: Long,
                                        corpusDir: String, stateDir: String,
                                        threshold: Double): Unit = {
    val spark = batch.sparkSession
    val setsDir = s"$stateDir/shingle_sets"
    val bktDir = s"$stateDir/band_buckets"
    val emptySets = graft.operators.Dedup.shingleHashSets(batch.limit(0))
    val exSets = earlierBatches(spark, setsDir, batchId).getOrElse(emptySets)
    val exBkts = earlierBatches(spark, bktDir, batchId)
      .getOrElse(graft.operators.Dedup.bandBuckets(emptySets))
    val (kept, keptSets, keptBuckets) =
      graft.operators.Dedup.nearDupStateStep(exSets, exBkts, batch, threshold)
    writeBatch(kept, batchId, corpusDir)
    writeBatch(keptSets, batchId, setsDir)
    writeBatch(keptBuckets, batchId, bktDir)
  }

  /** Streaming EMBEDDING corpus ingestion with all-history near-dup
    * dedup — the vector counterpart of [[nearDupIngestSink]], built on
    * the stored embedding-dedup model
    * ([[graft.operators.Dedup.buildEmbeddingDedupState]]): each
    * micro-batch assigns its vectors against the model's FIXED
    * centroids (one model-sized broadcast — no Lloyd loop, ever),
    * probes the durable cell table (the model's corpus cells plus the
    * cells of every survivor admitted by earlier batches), exact-cosine
    * verifies the candidates, and persists the survivors' source rows
    * to the corpus and their (vector, cell) rows to the state — so a
    * near-duplicate arriving months after its original is still caught,
    * and per-batch cost tracks the batch and its cell collisions, not
    * the corpus.
    *
    * Exactly-once exactly as [[nearDupIngestSink]]: all three tables
    * are `__batch_id`-partitioned, written with dynamic-partition
    * overwrite, and each batch reads state from STRICTLY EARLIER batch
    * partitions (plus the immutable model tables), so a replayed batch
    * recomputes the identical survivor set and overwrites its own
    * partitions. */
  def embeddingDedupIngestSink(stream: DataFrame, modelDir: String,
                               corpusDir: String, stateDir: String,
                               checkpoint: String, threshold: Double = 0.45)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        embeddingDedupIngestBatch(batch, batchId, modelDir, corpusDir,
          stateDir, threshold)
      }

  /** One micro-batch of [[embeddingDedupIngestSink]], idempotent in
    * `batchId` — package-visible so the replay contract is testable. */
  private[graft] def embeddingDedupIngestBatch(batch: DataFrame, batchId: Long,
                                               modelDir: String, corpusDir: String,
                                               stateDir: String,
                                               threshold: Double): Unit = {
    val spark = batch.sparkSession
    val vecsDir = s"$stateDir/vectors"
    val cellsDir = s"$stateDir/cells"
    // the model's tables are immutable; batch-state partitions follow
    // the same strictly-earlier read rule as the text sink
    val model = graft.operators.Dedup.storedEmbeddingModel(spark, modelDir)
    def withEarlier(base: DataFrame, dir: String) =
      earlierBatches(spark, dir, batchId).map(base.unionByName(_)).getOrElse(base)
    val (kept, keptVecs, keptCells) = graft.operators.Dedup.embeddingStateStep(
      withEarlier(model.vectors, vecsDir), withEarlier(model.cells, cellsDir),
      model.centroids, batch, threshold, model.assign)
    writeBatch(kept, batchId, corpusDir)
    writeBatch(keptVecs, batchId, vecsDir)
    writeBatch(keptCells, batchId, cellsDir)
  }

  /** Streaming ANN serving over a STORED IVF-PQ index
    * ([[graft.operators.Similarity.buildIvfPqIndex]]): each micro-batch
    * of query vectors probes the index
    * ([[graft.operators.Similarity.searchIvfPqIndexFrom]]) and its
    * top-k results land in a `__batch_id` partition of `resultsDir` —
    * the similarity counterpart of the ingest sinks: the index is the
    * immutable build-once artifact, the stream is the request log, and
    * the per-batch cost is pure probe economics (model-sized driver
    * load + codes-table candidate join + refine-sized re-rank join
    * against `corpus`), never training or encoding. Query ids must be
    * disjoint from corpus ids (requests carry their own id space).
    *
    * Exactly-once: the search is deterministic given the fixed index
    * (6-dp-rounded similarity, id tie-break), so a replayed batch
    * recomputes identical results and dynamic-partition overwrite
    * rewrites its own partition instead of appending duplicates. */
  def annServeSink(queryStream: DataFrame, corpus: DataFrame,
                   indexDir: String, resultsDir: String, checkpoint: String,
                   k: Int = 10, nprobe: Int = 4, refine: Int = 5)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    queryStream.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        annServeBatch(batch, batchId, corpus, indexDir, resultsDir,
          k, nprobe, refine)
      }

  /** One micro-batch of [[annServeSink]], idempotent in `batchId` —
    * package-visible so the replay contract is testable directly. */
  private[graft] def annServeBatch(batch: DataFrame, batchId: Long,
                                   corpus: DataFrame, indexDir: String,
                                   resultsDir: String, k: Int, nprobe: Int,
                                   refine: Int): Unit =
    writeBatch(graft.operators.Similarity
      .searchIvfPqIndexFrom(batch, corpus, indexDir, k, nprobe, refine), batchId, resultsDir)

  /** Streaming corpus ingestion with benchmark decontamination: each
    * micro-batch drops documents sharing any n-gram with the STORED
    * benchmark index ([[graft.operators.Contamination.buildBenchmarkIndex]])
    * and appends the survivors to the corpus. The index is built once
    * per eval-suite release — the per-batch cost is loading ~MBs of
    * bloom bits plus the join-free suspect scan, with only the
    * contaminated sliver paying the exact gram join; nothing
    * benchmark-sized is recomputed per batch. Exactly-once: the filter
    * is deterministic given the fixed index, and survivors land in a
    * `__batch_id` partition via dynamic-partition overwrite, so a
    * replayed batch rewrites its own partition instead of appending
    * duplicates. */
  /** Streaming ALL-HISTORY heavy hitters: maintain a durable Misra-
    * Gries summary of the corpus's term distribution as documents
    * stream in — the frequent-items member of the streaming-state
    * family (exact-dedup keeps fingerprints, near-dup keeps buckets,
    * this keeps a <= k-counter summary). Batch heavy hitters re-counts
    * candidates exactly ([[graft.operators.Sketches.heavyHitters]]);
    * on a stream the history is gone, so the mergeable-summaries
    * reduction IS the answer, with the standing MG guarantee: any
    * term's floor count undercounts its true all-history count by less
    * than N_total/(k+1).
    *
    * Per batch: tokenize the batch (batch-sized, map-side), build its
    * partial summaries, merge them with the LATEST durable summary
    * (summary-sized work — a few k rows), and write summary + running
    * totals to `__batch_id` partitions via dynamic overwrite. Replay
    * of batch b re-reads the max partition BELOW b and overwrites b —
    * idempotent. State on storage is one <= k-row table per batch
    * (KBs); per-batch cost tracks the batch, never the stream
    * history. */
  def heavyHitterIngestSink(stream: DataFrame, stateDir: String,
                            checkpoint: String, k: Int = 4096,
                            textCol: String = "text")
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        heavyHitterBatch(batch, batchId, stateDir, k, textCol)
      }

  /** One micro-batch of [[heavyHitterIngestSink]], idempotent in
    * `batchId` — package-visible so the replay contract is testable. */
  private[graft] def heavyHitterBatch(batch: DataFrame, batchId: Long,
                                      stateDir: String, k: Int,
                                      textCol: String): Unit = {
    val spark = batch.sparkSession
    val sumDir = s"$stateDir/summary"
    val totDir = s"$stateDir/totals"
    val fs = new org.apache.hadoop.fs.Path(stateDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // latest state strictly below this batch — NOT a union of all
    // earlier partitions: each partition already rolls up all history
    // before it, so summing partitions would double-count
    def latestBelow(dir: String): Option[DataFrame] =
      if (!fs.exists(new org.apache.hadoop.fs.Path(dir))) None
      else
        try {
          val all = Ingestor.read(spark, dir)
            .where(col("__batch_id") < batchId)
          // partition-dir discovery infers __batch_id as int — cast
          val last = all.agg(max(col("__batch_id").cast("long"))).head()
          if (last.isNullAt(0)) None
          else Some(all.where(col("__batch_id") === last.getLong(0))
            .drop("__batch_id"))
        } catch { case _: org.apache.spark.sql.AnalysisException => None }
    val terms = batch.select(
      explode(graft.functions.wordTokens(col(textCol))).as("term"))
    val batchSummary = graft.operators.Sketches.mgPartials(terms, k)
    val batchN = terms.count()
    val priorN = latestBelow(totDir)
      .map(_.agg(max("cum_n")).head().getLong(0)).getOrElse(0L)
    val merged = graft.operators.Sketches.mergeHeavyHitterSummaries(
      latestBelow(sumDir).getOrElse(batchSummary.limit(0))
        .unionByName(batchSummary), k)
    writeBatch(merged.coalesce(1), batchId, sumDir)
    import spark.implicits._
    writeBatch(Seq((priorN + batchN, k)).toDF("cum_n", "k"), batchId, totDir)
  }

  /** Serving read of the durable heavy-hitter state: current top-K
    * floor counts with the standing error bound (any term's true
    * all-history count is within `err_bound` above its floor count,
    * and every term with true count >= err_bound is present). */
  def heavyHittersFrom(spark: org.apache.spark.sql.SparkSession, stateDir: String,
                       topK: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sums = Ingestor.read(spark, s"$stateDir/summary")
    val tots = Ingestor.read(spark, s"$stateDir/totals")
    val lastId = sums.agg(max(col("__batch_id").cast("long"))).head().getLong(0)
    val tot = tots.where(col("__batch_id") === lastId).head()
    val bound = tot.getAs[Long]("cum_n") / (tot.getAs[Int]("k") + 1.0)
    sums.where(col("__batch_id") === lastId)
      .orderBy(col("c").desc, col("term")).limit(topK)
      .withColumn("rk",
        graft.functions.boundedRank(col("c").desc, col("term")).cast("long"))
      .withColumn("err_bound", lit(bound))
      .select("term", "c", "rk", "err_bound")
  }

  /** Streaming composition-DRIFT monitor: each micro-batch's
    * composition over the monitored dimensions is compared against a
    * STORED reference profile
    * ([[graft.operators.Cdc.buildDriftReference]] — built once from
    * the release the pipeline is supposed to look like) and the
    * per-cell report (shares + total-variation contributions,
    * [[graft.operators.Cdc.driftAgainstReference]]) lands in a
    * `__batch_id` partition of `reportDir`. This is the monitoring
    * twin of the batch `corpus_drift` operator: batch-vs-release
    * drift is a release-qualification check, while a crawler that
    * starts over-sampling one domain shows up HERE, batches before
    * the release report would catch it.
    *
    * Per-batch cost: the batch's own map-side-combined count aggregate
    * plus a join against the cell-sized profile — nothing corpus-sized,
    * ever. Exactly-once: the report is a pure 6-dp-rounded function of
    * (batch, profile), so a replayed batch recomputes identical rows
    * and dynamic-partition overwrite rewrites its own partition. */
  def driftMonitorSink(stream: DataFrame,
                       dims: Seq[(String, org.apache.spark.sql.Column)],
                       refDir: String, reportDir: String, checkpoint: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        driftMonitorBatch(batch, batchId, dims, refDir, reportDir)
      }

  /** One micro-batch of [[driftMonitorSink]], idempotent in `batchId`
    * — package-visible so the replay contract is testable directly. */
  private[graft] def driftMonitorBatch(batch: DataFrame, batchId: Long,
                                       dims: Seq[(String, org.apache.spark.sql.Column)],
                                       refDir: String, reportDir: String): Unit =
    writeBatch(graft.operators.Cdc.driftAgainstReference(batch, dims, refDir),
      batchId, reportDir)

  /** Streaming media ingestion behind the codec-free corruption screen
    * ([[graft.operators.Multimodal.screenMedia]]): each micro-batch of
    * media rows (doc_id, content, meta) is screened BEFORE any codec
    * would touch it; survivors land in a `__batch_id` partition of
    * `corpusDir`, and flagged rows land in `quarantineDir` WITH their
    * screen measurements — the quarantine is an audit table, not a
    * discard, so re-screening with different budgets never needs the
    * original stream. The screen is a pure per-row function, so a
    * replayed batch recomputes identical verdicts and dynamic-partition
    * overwrite rewrites its own partitions. Per-batch cost: one typed
    * scan of the batch, no shuffle, no state. */
  def mediaScreenIngestSink(stream: DataFrame, corpusDir: String,
                            quarantineDir: String, checkpoint: String,
                            maxBytes: Long = 1L << 20,
                            maxPixels: Long = 1L << 22,
                            allowedFormats: Seq[String] = Seq("jpeg", "png", "webp"),
                            minDistinctBytes: Int = 8)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        mediaScreenIngestBatch(batch, batchId, corpusDir, quarantineDir,
          maxBytes, maxPixels, allowedFormats, minDistinctBytes)
      }

  /** One micro-batch of [[mediaScreenIngestSink]], idempotent in
    * `batchId` — package-visible so the replay contract is testable. */
  private[graft] def mediaScreenIngestBatch(batch: DataFrame, batchId: Long,
                                            corpusDir: String, quarantineDir: String,
                                            maxBytes: Long, maxPixels: Long,
                                            allowedFormats: Seq[String],
                                            minDistinctBytes: Int): Unit = {
    val screened = graft.operators.Multimodal
      .screenMedia(batch, maxBytes, maxPixels, allowedFormats, minDistinctBytes)
      .toDF()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    writeBatch(
      batch.join(screened.where(col("ok")).select("doc_id"), Seq("doc_id"), "left_semi"),
      batchId, corpusDir)
    writeBatch(screened.where(!col("ok")), batchId, quarantineDir)
    screened.unpersist(false)
  }

  def decontaminateIngestSink(stream: DataFrame, indexDir: String,
                              corpusDir: String, checkpoint: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        decontaminateIngestBatch(batch, batchId, indexDir, corpusDir)
      }

  /** One micro-batch of [[decontaminateIngestSink]] — package-visible
    * so the replay contract and throughput are measurable directly. */
  private[graft] def decontaminateIngestBatch(batch: DataFrame, batchId: Long,
                                              indexDir: String,
                                              corpusDir: String): Unit =
    writeBatch(graft.operators.Contamination.decontaminateIndexed(batch, indexDir),
      batchId, corpusDir)

  /** Stream-stream interval join: each left event pairs with right
    * events for the same key within `[left.ts, left.ts + within]`. Both
    * sides carry watermarks + the time-range predicate, so the engine
    * can BOUND the join state: buffered rows age out as the watermark
    * passes, instead of every past row being kept forever (the thing
    * that kills unbounded stream joins at scale). Works identically as
    * a batch plan (the correctness gate runs it in batch). */
  def intervalJoin(left: DataFrame, right: DataFrame, key: String,
                   within: String = "10 minutes",
                   watermark: Boolean = false): DataFrame = {
    val l = (if (watermark) left.withWatermark("ts", within) else left)
      .select(col(key).as("k"), col("ts").as("l_ts"),
        col("event_id").as("l_event"))
    val r = (if (watermark) right.withWatermark("ts", within) else right)
      .select(col(key).as("r_k"), col("ts").as("r_ts"),
        col("event_id").as("r_event"))
    l.join(r, col("k") === col("r_k") &&
        col("r_ts") >= col("l_ts") &&
        col("r_ts") <= col("l_ts") + expr(s"INTERVAL '$within'"),
      "inner")
      .select(col("k"), col("l_ts"), col("l_event"), col("r_ts"), col("r_event"))
  }

  /** Streaming exact dedup on `keyCols` with bounded state:
    * dropDuplicatesWithinWatermark keeps a key's fingerprint only until
    * the watermark passes its event time + the allowed lateness, so
    * state size tracks the lateness window — not stream history. The
    * batch form is a plain dropDuplicates (same code path, engine picks
    * the implementation). */
  def dedupStream(events: DataFrame, keyCols: Seq[String],
                  lateness: String = "10 minutes"): DataFrame =
    if (events.isStreaming)
      events.withWatermark("ts", lateness)
        .dropDuplicatesWithinWatermark(keyCols)
    else events.dropDuplicates(keyCols)

  /** Native session-window sessionization: Spark's `session_window`
    * grouping expression merges events into gap-separated sessions
    * inside the aggregation itself — in streaming mode with a watermark
    * the engine keeps one mergeable session state per (user, open
    * session) and emits each session when the watermark closes it,
    * which replaces the hand-rolled flatMapGroupsWithState for the
    * common case. Batch output is equivalent to [[sessionize]] minus
    * the session ordinal (windows carry start/end instead). */
  def sessionizeNative(events: DataFrame, gapMinutes: Int = 30,
                       watermark: Option[String] = None): DataFrame = {
    val in = watermark.map(events.withWatermark("ts", _)).getOrElse(events)
    in.groupBy(col("user_id"), session_window(col("ts"), s"$gapMinutes minutes"))
      .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"))
  }

  // ---- stateful streaming sessionizer ----
  case class Event(user_id: Long, ts: Timestamp, event_id: Long)
  case class SessionState(start: Long, last: Long, count: Long)
  case class Session(user_id: Long, session_start: Timestamp,
                     session_end: Timestamp, n_events: Long)

  /** Streaming sessionizer: per-user state via flatMapGroupsWithState.
    * A session closes either when a later event for the same user
    * arrives past the gap, or — for idle users — when the event-time
    * watermark passes `last + gap` (event-time timeout: timeouts are
    * driven by data progress, so an idle stream doesn't spin empty
    * micro-batches the way processing-time timeouts do). State is one
    * small struct per active user — bounded, partitioned by user hash
    * across executors. */
  def sessionizeStream(events: Dataset[Event], gapMinutes: Int = 30,
                       lateness: String = "10 minutes"): Dataset[Session] = {
    import events.sparkSession.implicits._
    val gapMs = gapMinutes * 60L * 1000L

    def update(userId: Long, evs: Iterator[Event],
               state: GroupState[SessionState]): Iterator[Session] = {
      if (state.hasTimedOut) {
        val s = state.get
        state.remove()
        Iterator(Session(userId, new Timestamp(s.start), new Timestamp(s.last), s.count))
      } else {
        val sorted = evs.toSeq.sortBy(_.ts.getTime)
        var closed = Vector.empty[Session]
        var cur = state.getOption
        sorted.foreach { e =>
          val t = e.ts.getTime
          cur match {
            case Some(s) if t - s.last > gapMs =>
              closed :+= Session(userId, new Timestamp(s.start), new Timestamp(s.last), s.count)
              cur = Some(SessionState(t, t, 1))
            case Some(s) =>
              cur = Some(SessionState(s.start, math.max(s.last, t), s.count + 1))
            case None =>
              cur = Some(SessionState(t, t, 1))
          }
        }
        cur.foreach { s =>
          state.update(s)
          // must be strictly beyond the current watermark or Spark rejects it
          state.setTimeoutTimestamp(math.max(s.last + gapMs,
            state.getCurrentWatermarkMs() + 1))
        }
        closed.iterator
      }
    }

    events.withWatermark("ts", lateness)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(update)
  }
}
