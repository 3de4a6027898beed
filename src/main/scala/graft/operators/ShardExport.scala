package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.Ingestor

/** Tokenized training-shard export — the pipeline's LAST MILE: encode
  * the corpus with a (stored) BPE merge table, concat-and-chunk the
  * token stream into fixed-budget context windows, and group windows
  * into numbered shards with a per-shard manifest — the artifact a
  * training job actually mmaps. Re-expresses the reference's
  * persistence stage output contract (batch_writer.py:26-35 — chunked,
  * deterministic, stats-carrying writes) for the tokenized-dataset
  * case.
  *
  * Why this shape at 100 TB: the only corpus-sized movement is ONE
  * hash shuffle of (window, position, token_id) triples — that is the
  * export's own payload, not overhead; window assignment reuses
  * [[Packing.packSequences]]'s two-level distributed prefix sum (no
  * global-order single-task window), the token->id vocabulary is
  * vocabulary-sized (BPE caps it by construction) and broadcast, and
  * shard grouping is pure arithmetic on `seq_id` so shard files come
  * out contiguous in token order without any extra sort. Window rows
  * are budget-sized arrays — the natural parquet row for a training
  * loader.
  */
object ShardExport {

  /** Deterministic token->id vocabulary of an encoded corpus: distinct
    * tokens in lexicographic order, ids 0..V-1. The distinct/sort run
    * over a VOCABULARY-sized relation (BPE bounds it: base symbols +
    * one token per merge), the same driver-safe size class as the BPE
    * trainer's histogram — never corpus-sized. */
  def vocabulary(encoded: DataFrame): DataFrame =
    encoded.select(explode(col("tokens")).as("token")).distinct()
      .withColumn("token_id",
        (graft.functions.boundedRank(col("token")) - 1).cast("int"))

  /** Window rows of the tokenized corpus: (shard_id, seq_id, input_ids,
    * n_tokens, n_docs). Every window holds exactly `budget` token ids
    * except the corpus-final one; a window may span document
    * boundaries (concat-and-chunk — use [[Packing.packBestFit]]
    * upstream when documents must not split). `windowsPerShard` groups
    * consecutive windows, so shard s covers token range
    * [s*w*budget, (s+1)*w*budget) — contiguous, reproducible, and
    * balanced by construction. */
  def windows(encoded: DataFrame, vocab: DataFrame, budget: Long,
              windowsPerShard: Long, idCol: String = "doc_id"): DataFrame = {
    require(budget > 0 && windowsPerShard > 0,
      "budget and windowsPerShard must be positive")
    val assigned = Packing.packSequences(
        encoded, budget, idCol, tokens = size(col("tokens")).cast("long"))
      .select(col(idCol), (col("seq_id") * budget + col("seq_offset"))
        .as("start_off"))
    // one corpus-sized projection: (global token position -> window,
    // in-window position, token id); the groupBy below is THE shuffle.
    // `assigned` is DOC-level — corpus-scaled (billions of rows at
    // 100 TB), so it must never broadcast: under suite heap pressure
    // AQE's compressed-bytes estimate of its two-long rows lands under
    // the broadcast threshold and the deserialized build OOMs the
    // driver (measured, r16 sf10 full suite). Merge-hinted like the
    // pair self-join; the ONLY broadcast here is the vocabulary, whose
    // size BPE bounds by construction.
    //
    // Join BEFORE posexplode (guide: never explode into a join): the
    // doc-level merge join moves one token ARRAY per doc instead of one
    // (id, pos, token, start_off) row per TOKEN — the r18 plan sorted
    // and shuffled the token-level relation by doc_id (budget-sized
    // rows x corpus tokens) just to attach a doc-level long. Exploding
    // after the join yields the identical (pos, token, start_off)
    // stream at doc-level shuffle cost.
    encoded.select(col(idCol), col("tokens"))
      .join(assigned.hint("merge"), idCol)
      .select(col(idCol), col("start_off"),
        posexplode(col("tokens")).as(Seq("pos", "token")))
      .join(broadcast(vocab), "token")
      .withColumn("gpos", col("start_off") + col("pos"))
      .select(col(idCol), col("token_id"),
        expr(s"gpos div ${budget}L").as("seq_id"),
        (col("gpos") % budget).cast("int").as("seq_pos"))
      .groupBy("seq_id")
      .agg(
        transform(array_sort(collect_list(struct(col("seq_pos"), col("token_id")))),
          x => x.getField("token_id")).as("input_ids"),
        count(lit(1)).cast("long").as("n_tokens"),
        countDistinct(col(idCol)).as("n_docs"))
      .withColumn("shard_id", expr(s"seq_id div ${windowsPerShard}L"))
      .select("shard_id", "seq_id", "input_ids", "n_tokens", "n_docs")
  }

  /** Write the window rows shard-partitioned (one directory per shard —
    * the loader's unit of work) and return the per-shard MANIFEST:
    * window/token/doc counts plus an order-independent content
    * checksum, the completeness receipt a consumer verifies before
    * training. */
  def export(wins: DataFrame, dir: String): DataFrame = {
    wins.write.mode("overwrite").partitionBy("shard_id").parquet(dir)
    manifest(Ingestor.read(wins.sparkSession, dir))
  }

  /** Per-shard manifest of a window relation: (shard_id, n_windows,
    * n_tokens, n_docs_max, content_xor). `content_xor` bit-XORs a hash
    * of each (seq_id, input_ids) pair — order-independent, so it is
    * reproducible across partitionings and engines. */
  def manifest(wins: DataFrame): DataFrame =
    wins.groupBy("shard_id")
      .agg(
        count(lit(1)).as("n_windows"),
        sum("n_tokens").as("n_tokens"),
        max("n_docs").as("n_docs_max"),
        expr("bit_xor(xxhash64(seq_id, input_ids))").as("content_xor"))

  /** The `corpus_shards` query shape: stored-merge-table encode ->
    * fixed-budget windows -> shard manifest. Training never reruns BPE
    * merges, and the manifest is the deterministic receipt. */
  def shardManifest(docs: DataFrame, model: Bpe.BpeModel, budget: Long = 256,
                    windowsPerShard: Long = 64): DataFrame = {
    // Materialization barrier (the TextAnalysis tokenArrays contract:
    // eager, executor-local, doc-sized blocks freed by the
    // ContextCleaner): the encoded relation has FOUR consumers —
    // packSequences' min/max and bucket-total collects, the vocabulary,
    // and the window projection — and without the barrier each one
    // re-ran the full BPE encode pass over the corpus (3 executed
    // encode subtrees in the r18 plan; ScanCountProbe class).
    val enc = Bpe.encode(model, docs).localCheckpoint()
    manifest(windows(enc, vocabulary(enc), budget, windowsPerShard))
  }
}
