package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Ingestor

/** Right-to-be-forgotten / deletion propagation — removing documents not
  * just from the corpus but from every DERIVED stored artifact the
  * pipeline has accumulated (fingerprint tables, near-dup shingle/bucket
  * state, embedding-dedup models, ANN code tables). The reference keeps
  * no derived state, so deletion there is one SQL DELETE (reference:
  * src/pipeline/persistence/batch_writer.py:141 REPLACE strategy); a
  * curation platform with train-once/probe-forever state must instead
  * propagate the delete through each stored table, or a forgotten
  * document keeps suppressing future near-copies of itself — a
  * re-submitted document would be silently dropped as a "duplicate" of
  * content that legally no longer exists.
  *
  * Scale shape: the delete list is request-sized (thousands), every
  * stored table it touches is sketch/code-sized (never payloads), and
  * each rewrite is one anti-join scan of that table. The
  * `__batch_id`-partitioned streaming state tables rewrite ONLY the
  * partitions that actually contain deleted rows (located by one
  * semi-join aggregate), so at 100 TB a delete touching last week's
  * batches leaves years of earlier partitions unread and unwritten.
  *
  * What can NOT forget in place, by construction: HLL/KLL sketches and
  * Misra-Gries summaries (no deletion operation exists for those
  * summaries — rebuild from the reduced corpus) and trained model
  * weights (quality LR, BPE merges, DSIR ratios: a document's influence
  * on learned parameters needs retraining, not row removal). Callers
  * own scheduling those rebuilds; this object handles every row-keyed
  * artifact.
  */
object Forget {

  /** The corpus filtering form: everything except the delete list.
    * One broadcast anti-join — the delete list is request-sized. */
  def forgetDocs(corpus: DataFrame, deleteIds: DataFrame,
                 idCol: String = "doc_id"): DataFrame =
    corpus.join(broadcast(deleteIds.select(col(idCol)).distinct()),
      Seq(idCol), "left_anti")

  /** Audit report a deletion run publishes: per `dimCol`, rows/chars
    * deleted vs kept. One codegen'd conditional aggregate over the
    * corpus scan — group-sized output. */
  def forgetAudit(corpus: DataFrame, deleteIds: DataFrame,
                  dimCol: String = "source", idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame = {
    val marked = corpus.join(
      broadcast(deleteIds.select(col(idCol)).distinct()
        .withColumn("__del", lit(1))), Seq(idCol), "left")
    marked.groupBy(col(dimCol))
      .agg(
        sum(when(col("__del").isNotNull, 1L).otherwise(0L)).as("n_deleted"),
        sum(when(col("__del").isNull, 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("__del").isNotNull, length(col(textCol)).cast("long"))
          .otherwise(0L)).as("chars_deleted"))
      .orderBy(dimCol)
  }

  /** Deletion changelog emission — the tombstone rows a downstream copy
    * replays with [[Cdc.applyChangeLog]]: (id, op='D', seq). Emitting
    * the delete as CDC is what lets every downstream materialisation
    * (served snapshots, mirrors) converge without receiving the delete
    * list out of band. */
  def deletionChangeLog(deleteIds: DataFrame, seq: Long,
                        idCol: String = "doc_id"): DataFrame =
    deleteIds.select(col(idCol)).distinct()
      .withColumn("op", lit("D"))
      .withColumn("seq", lit(seq))

  // ---------------------------------------------------------------- state

  private def fs(spark: SparkSession, dir: String) =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Crash-safe in-place rewrite of an UNPARTITIONED parquet dir with
    * the rows of `filtered`. Protocol: write `dir__new`; swing `dir` →
    * `dir__old`; `dir__new` → `dir`; drop `dir__old`. Every crash
    * window leaves either the original or the rewritten table intact
    * under a recoverable name — [[recoverRewrite]] (called here first,
    * so forget-after-crash self-heals) restores whichever survives.
    * Readers racing the two renames can observe a missing dir; stored
    * state maintenance is an offline operation, same as compaction. */
  private def rewriteInPlace(filtered: DataFrame, dir: String): Unit = {
    val spark = filtered.sparkSession
    val f = fs(spark, dir)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    recoverRewrite(spark, dir)
    // materialise BEFORE the swing: `filtered` reads `dir`
    filtered.write.mode("overwrite").parquet(s"${dir}__new")
    f.delete(p(s"${dir}__old"), true)
    if (!f.rename(p(dir), p(s"${dir}__old")))
      sys.error(s"forget: cannot stage $dir for rewrite")
    if (!f.rename(p(s"${dir}__new"), p(dir)))
      sys.error(s"forget: cannot commit rewrite of $dir")
    f.delete(p(s"${dir}__old"), true)
  }

  /** Heal an interrupted [[rewriteInPlace]]: if the table dir is gone
    * but a staged `__old` survives, restore it (the rewrite then simply
    * re-runs); stray `__new`/`__old` leftovers are dropped. Idempotent. */
  def recoverRewrite(spark: SparkSession, dir: String): Unit = {
    val f = fs(spark, dir)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    if (!f.exists(p(dir)) && f.exists(p(s"${dir}__old")))
      f.rename(p(s"${dir}__old"), p(dir))
    f.delete(p(s"${dir}__new"), true)
    f.delete(p(s"${dir}__old"), true)
  }

  /** Remove `deleteIds` rows from an unpartitioned stored state table
    * keyed by `idCol` (fingerprintless tables: minhash signature
    * tables, HLL-free row state, IVF-PQ `codes`, embedding-model
    * `vectors`/`cells`). One anti-join scan + crash-safe swap. */
  def forgetStateTable(spark: SparkSession, dir: String,
                       deleteIds: DataFrame, idCol: String): Unit = {
    recoverRewrite(spark, dir)
    val filtered = Ingestor.read(spark, dir).join(
      broadcast(deleteIds.select(col(idCol)).distinct()), Seq(idCol), "left_anti")
    rewriteInPlace(filtered, dir)
  }

  /** Remove content fingerprints from a durable exact-dedup fingerprint
    * table ([[graft.streaming.EventStream.dedupIngestSink]]'s `fpDir`,
    * schema: `fingerprint`). The table is keyed by CONTENT, not id —
    * the caller passes the deleted docs' md5 fingerprints (computed
    * from the corpus BEFORE the corpus rows are dropped). After this, a
    * re-submission of the forgotten content is admitted again — the
    * GDPR-correct behavior: the user who deleted their post may post
    * it again. */
  def forgetFingerprints(spark: SparkSession, fpDir: String,
                         fingerprints: DataFrame): Unit = {
    recoverRewrite(spark, fpDir)
    val filtered = Ingestor.read(spark, fpDir).join(
      broadcast(fingerprints.select(col("fingerprint")).distinct()),
      Seq("fingerprint"), "left_anti")
    rewriteInPlace(filtered, fpDir)
  }

  /** Remove rows from a `__batch_id`-partitioned streaming state table
    * (the near-dup sink's `shingle_sets`/`band_buckets`, the embedding
    * sink's `vectors`/`cells`, the ingest corpora themselves). Only
    * partitions that actually CONTAIN deleted rows are rewritten
    * (dynamic overwrite); a partition emptied entirely is dropped via
    * the filesystem, since an overwrite with zero rows would leave the
    * old files in place. Idempotent — a re-run finds nothing to touch. */
  def forgetPartitionedState(spark: SparkSession, dir: String,
                             deleteIds: DataFrame, idCol: String,
                             partCol: String = "__batch_id"): Unit = {
    import spark.implicits._
    val table = Ingestor.read(spark, dir)
    val ids = broadcast(deleteIds.select(col(idCol)).distinct())
    val affected = table.join(ids, Seq(idCol), "left_semi")
      .select(col(partCol).cast("long")).distinct().as[Long].collect()
    if (affected.isEmpty) return
    val touched = table
      .where(col(partCol).isin(affected.toIndexedSeq: _*))
      .join(ids, Seq(idCol), "left_anti")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nonEmpty = touched.select(col(partCol).cast("long"))
      .distinct().as[Long].collect().toSet
    if (nonEmpty.nonEmpty)
      touched.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partCol)
        .parquet(dir)
    touched.unpersist(false)
    val f = fs(spark, dir)
    affected.filterNot(nonEmpty).foreach { b =>
      f.delete(new org.apache.hadoop.fs.Path(s"$dir/$partCol=$b"), true)
    }
  }

  /** Propagate a delete through a stored embedding-dedup model
    * ([[Dedup.buildEmbeddingDedupState]]): the deleted vectors leave
    * `vectors` and `cells`, so they can never again suppress a
    * near-copy; the TRAINED centroids stay — they are aggregates whose
    * per-document influence is not recoverable row-wise (and a cell
    * layout trained on n vs n-k vectors bounds candidates identically).
    * `meta.n_vecs` is refreshed so occupancy heuristics stay honest. */
  def forgetEmbeddingModel(spark: SparkSession, dir: String,
                           deleteIds: DataFrame): Unit = {
    import spark.implicits._
    forgetStateTable(spark, s"$dir/vectors", deleteIds, "vec_id")
    forgetStateTable(spark, s"$dir/cells", deleteIds, "vec_id")
    val n = Ingestor.read(spark, s"$dir/vectors").count()
    val (k, assign, dim) = Ingestor.read(spark, s"$dir/meta")
      .select("k", "assign", "dim").as[(Int, Int, Int)].head()
    Seq((k, assign, dim, n)).toDF("k", "assign", "dim", "n_vecs")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta__next")
    rewriteInPlace(Ingestor.read(spark, s"$dir/meta__next"), s"$dir/meta")
    fs(spark, dir).delete(
      new org.apache.hadoop.fs.Path(s"$dir/meta__next"), true)
  }

  /** Propagate a delete through a stored IVF-PQ ANN index
    * ([[Similarity.buildIvfPqIndex]]): deleted vectors leave the
    * `codes` table (and, when present, the incremental `codes_inc`
    * partitions), so no future search can return them. Centroids and
    * codebooks are trained aggregates and stay — search over the
    * reduced codes with the SAME model is exactly search over the
    * original index with the delete list filtered out, which is the
    * spec-certified contract. */
  def forgetIvfPqIndex(spark: SparkSession, dir: String,
                       deleteIds: DataFrame): Unit = {
    forgetStateTable(spark, s"$dir/codes", deleteIds, "vec_id")
    val incDir = s"$dir/codes_inc"
    if (fs(spark, dir).exists(new org.apache.hadoop.fs.Path(incDir)))
      forgetPartitionedState(spark, incDir, deleteIds, "vec_id",
        partCol = "__increment_id")
  }
}
