package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Boilerplate, Bpe, Cdc, Contamination, Dedup, Forget, Funnel, Multimodal, Packing, Pca, Privacy, Profiler, QualityModel, Quantize, Selection, ShardExport, Similarity, Sketches, Splits, TextAnalysis, UnigramLm}
import graft.sources.Ingestor

/** SURVEY §2.4 LLM-training-data operators over `documents` /
  * `embeddings`. Oracles are ground-truth computations (all-pairs where
  * the Spark side uses LSH candidates — candidate generation must not
  * lose a true pair, which is itself part of what's verified). */
object LlmQueries {

  private def docs(s: SparkSession, d: String) = Ingestor.table(s, d, "documents")
  private def emb(s: SparkSession, d: String) = Ingestor.table(s, d, "embeddings")

  /** Fixed retrieval query set for `text_bm25` (terms from the corpus
    * vocabulary so every query matches; the oracle inlines the same
    * tokenized pairs as a VALUES relation). */
  private val bm25Queries: Seq[(Long, String)] = Seq(
    0L -> "sort merge join",
    1L -> "stream window batch",
    2L -> "hash table scan")

  /** Content fingerprint of a source table: row count + bit-XOR of
    * xxhash64 over the identifying columns — ONE narrow aggregation
    * (order-independent, overflow-free). Every stored-index cache dir
    * below is keyed by it, so data regenerated at the same path (new
    * seed, schema, or a different dataset reusing the path) can never
    * be served a stale index: the key changes and the index rebuilds.
    * The probe entries pay one fingerprint scan per run — that is the
    * honest cost of index-freshness validation, and it is narrow
    * (id + content columns only) and join-free. */
  private def contentKey(df: DataFrame, cols: Seq[String]): String = {
    val r = df.select(org.apache.spark.sql.functions.xxhash64(
        cols.map(col): _*).as("__h"))
      .agg(count(lit(1)), expr("bit_xor(__h)")).head()
    val x = if (r.isNullAt(1)) 0L else r.getLong(1)
    s"${r.getLong(0)}_${java.lang.Long.toHexString(x)}"
  }

  /** Stored IVF-PQ index location for a corpus dir; builds it on first
    * use. The path is keyed by corpus dir + CONTENT fingerprint +
    * encoding parameters (bump the `v` tag if the encoding ever
    * changes shape) so neither regenerated data at the same path nor a
    * differently-encoded layout can be served stale; `codebooks` is
    * the LAST table the build writes, so its presence implies a
    * complete index even if an earlier attempt crashed mid-build. */
  private def ivfPqIndexFor(s: SparkSession, d: String): String = {
    val key = d.replaceAll("[^A-Za-z0-9._-]", "_")
    val fp = contentKey(emb(s, d), Seq("vec_id", "embedding"))
    val dir =
      s"${System.getProperty("java.io.tmpdir")}/graft_ivfpq_v1_k16_m8_ks16/${key}_$fp"
    val done = new org.apache.hadoop.fs.Path(s"$dir/codebooks")
    val fs = done.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(done)) Similarity.buildIvfPqIndex(emb(s, d), dir)
    dir
  }

  /** Stored EXTENDED IVF-PQ index for a corpus dir — the index-
    * maintenance shape: base index trained+built on the %10≠0 corpus
    * split, then the %10==0 increment appended WITHOUT retraining via
    * [[Similarity.extendIvfPqIndex]] (assign + encode against the
    * frozen model, dynamic-overwrite into an `__increment_id`
    * partition). Built on first use, fingerprint-keyed; `codes_inc` is
    * written LAST, so its presence implies base + extension are both
    * complete. */
  private def ivfPqExtIndexFor(s: SparkSession, d: String): String = {
    val key = d.replaceAll("[^A-Za-z0-9._-]", "_")
    val fp = contentKey(emb(s, d), Seq("vec_id", "embedding"))
    val dir =
      s"${System.getProperty("java.io.tmpdir")}/graft_ivfpqext_v1_k16_m8_ks16/${key}_$fp"
    val done = new org.apache.hadoop.fs.Path(s"$dir/codes_inc")
    val fs = done.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(done)) {
      Similarity.buildIvfPqIndex(emb(s, d).where(col("vec_id") % 10 =!= 0), dir)
      Similarity.extendIvfPqIndex(emb(s, d), col("vec_id") % 10 === 0, dir,
        incrementId = 1L)
    }
    dir
  }

  /** Stored COMPACTED extended IVF-PQ index: the [[ivfPqExtIndexFor]]
    * scenario (base %10≠0, increment %10==0 appended frozen-model) with
    * [[Similarity.compactIvfPqIndex]] run after — increments folded
    * into the base table, `codes_inc` gone. Post-compaction the inc
    * table's absence is the NORMAL state, so completion is marked by an
    * explicit `_graft_done` file written LAST. */
  private def ivfPqCompactIndexFor(s: SparkSession, d: String): String = {
    val key = d.replaceAll("[^A-Za-z0-9._-]", "_")
    val fp = contentKey(emb(s, d), Seq("vec_id", "embedding"))
    val dir =
      s"${System.getProperty("java.io.tmpdir")}/graft_ivfpqcmp_v1_k16_m8_ks16/${key}_$fp"
    val done = new org.apache.hadoop.fs.Path(s"$dir/_graft_done")
    val fs = done.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(done)) {
      Similarity.buildIvfPqIndex(emb(s, d).where(col("vec_id") % 10 =!= 0), dir)
      Similarity.extendIvfPqIndex(emb(s, d), col("vec_id") % 10 === 0, dir,
        incrementId = 1L)
      Similarity.compactIvfPqIndex(s, dir)
      fs.create(done).close()
    }
    dir
  }

  /** Stored decontamination benchmark index for a corpus dir (the %7
    * bench split); builds it on first use, keyed by dir + content
    * fingerprint like [[ivfPqIndexFor]]. `meta` is the LAST table the
    * build writes, so its presence implies a complete index even if an
    * earlier attempt crashed mid-build. */
  private def benchIndexFor(s: SparkSession, d: String): String = {
    val key = d.replaceAll("[^A-Za-z0-9._-]", "_")
    val fp = contentKey(docs(s, d), Seq("doc_id", "text"))
    val dir =
      // v3: meta gained the gram-key format column (fmt) — older cached
      // dirs lack it and the versioned probe now refuses them by design
      s"${System.getProperty("java.io.tmpdir")}/graft_benchidx_v5_n8/${key}_$fp"
    val done = new org.apache.hadoop.fs.Path(s"$dir/meta")
    val fs = done.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(done))
      Contamination.buildBenchmarkIndex(
        docs(s, d).where(col("doc_id") % 7 === 0), dir, n = 8)
    dir
  }

  /** Stored embedding-dedup corpus model for a corpus dir (the %10
    * corpus split — the deployment shape: a large indexed corpus and a
    * small daily increment); builds on first use, fingerprint-keyed.
    * `meta` is written LAST by the build, so its presence implies a
    * complete model. */
  private def embDedupStateFor(s: SparkSession, d: String): String = {
    val key = d.replaceAll("[^A-Za-z0-9._-]", "_")
    val fp = contentKey(emb(s, d), Seq("vec_id", "embedding"))
    val dir =
      s"${System.getProperty("java.io.tmpdir")}/graft_embdedup_v1_a3/${key}_$fp"
    val done = new org.apache.hadoop.fs.Path(s"$dir/meta")
    val fs = done.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(done))
      Dedup.buildEmbeddingDedupState(
        emb(s, d).where(col("vec_id") % 10 =!= 0), dir)
    dir
  }

  /** Stored near-dup (minhash) state for a corpus dir (the accumulated
    * corpus = doc_id < 250, matching the incremental entries' split);
    * builds on first use, fingerprint-keyed. `meta` is written LAST by
    * the build, so its presence implies complete state. */
  private def nearDupStateFor(s: SparkSession, d: String): String = {
    val key = d.replaceAll("[^A-Za-z0-9._-]", "_")
    val fp = contentKey(docs(s, d), Seq("doc_id", "text"))
    val dir =
      s"${System.getProperty("java.io.tmpdir")}/graft_neardup_v1_k128_b32/${key}_$fp"
    val done = new org.apache.hadoop.fs.Path(s"$dir/meta")
    val fs = done.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(done))
      Dedup.buildNearDupState(docs(s, d).where(col("doc_id") < 250), dir)
    dir
  }

  /** Stored near-dup CLOSURE labels for a corpus dir — the persisted,
    * cross-application form of the in-JVM label cache; builds on first
    * use, fingerprint-keyed. `meta` is written LAST by the build, so
    * its presence implies complete state. */
  private def closureStateFor(s: SparkSession, d: String): String = {
    val key = d.replaceAll("[^A-Za-z0-9._-]", "_")
    val fp = contentKey(docs(s, d), Seq("doc_id", "text"))
    val dir =
      s"${System.getProperty("java.io.tmpdir")}/graft_closure_v1_t08_k128_b32/${key}_$fp"
    val done = new org.apache.hadoop.fs.Path(s"$dir/meta")
    val fs = done.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(done)) Dedup.buildClosureState(docs(s, d), dir, threshold = 0.8)
    dir
  }

  /** Stored DSIR log-ratio model for a corpus dir (target = src0);
    * trains on first use, fingerprint-keyed. Parquet's `_SUCCESS`
    * marker (committed last) is the completeness check for this
    * single-table artifact. */
  private def dsirModelFor(s: SparkSession, d: String): String = {
    val key = d.replaceAll("[^A-Za-z0-9._-]", "_")
    val fp = contentKey(docs(s, d), Seq("doc_id", "text"))
    val dir =
      s"${System.getProperty("java.io.tmpdir")}/graft_dsir_v1_b4096/${key}_$fp"
    val done = new org.apache.hadoop.fs.Path(s"$dir/_SUCCESS")
    val fs = done.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(done))
      Selection.buildDsirModel(docs(s, d), col("source") === "src0", dir)
    dir
  }

  /** Stored bigram LM for a corpus dir; counts built on first use,
    * fingerprint-keyed. `meta` is written LAST by the build, so its
    * presence implies a complete model. */
  private def bigramLmFor(s: SparkSession, d: String): String = {
    val key = d.replaceAll("[^A-Za-z0-9._-]", "_")
    val fp = contentKey(docs(s, d), Seq("doc_id", "text"))
    val dir =
      s"${System.getProperty("java.io.tmpdir")}/graft_bigramlm_v1/${key}_$fp"
    val done = new org.apache.hadoop.fs.Path(s"$dir/meta")
    val fs = done.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(done))
      TextAnalysis.buildBigramLm(docs(s, d), dir)
    dir
  }

  /** Stored BPE merge table for a corpus dir; trains on first use,
    * fingerprint-keyed. Parquet's `_SUCCESS` marker (committed last)
    * is the completeness check for this single-table artifact. */
  private def bpeMergesFor(s: SparkSession, d: String): String = {
    val key = d.replaceAll("[^A-Za-z0-9._-]", "_")
    val fp = contentKey(docs(s, d), Seq("doc_id", "text"))
    val dir =
      s"${System.getProperty("java.io.tmpdir")}/graft_bpe_v1_m200/${key}_$fp"
    val done = new org.apache.hadoop.fs.Path(s"$dir/_SUCCESS")
    val fs = done.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(done))
      Bpe.save(s, Bpe.train(docs(s, d), numMerges = 200), dir)
    dir
  }

  /** Stored quality model for a corpus dir (trained on the non-held-out
    * 80%); trains on first use, fingerprint-keyed. ML Pipeline save
    * writes a directory tree with no single natural completeness
    * marker, so the build drops an explicit `_graft_done` file AFTER
    * the save — its presence implies a complete model even if an
    * earlier attempt crashed mid-write. */
  private def qualityModelFor(s: SparkSession, d: String): String = {
    val key = d.replaceAll("[^A-Za-z0-9._-]", "_")
    val fp = contentKey(docs(s, d), Seq("doc_id", "text"))
    val dir =
      s"${System.getProperty("java.io.tmpdir")}/graft_qmodel_v1_t075/${key}_$fp"
    val done = new org.apache.hadoop.fs.Path(s"$dir/_graft_done")
    val fs = done.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(done)) {
      QualityModel.save(QualityModel.trainHeldOut(docs(s, d)), s"$dir/model")
      fs.create(done, true).close()
    }
    s"$dir/model"
  }

  /** Stored unigram-LM piece table for a corpus dir; trains on first
    * use, fingerprint-keyed (same economics as [[bpeMergesFor]]).
    * Parquet's `_SUCCESS` marker is the completeness check. */
  private def unigramPiecesFor(s: SparkSession, d: String): String = {
    val key = d.replaceAll("[^A-Za-z0-9._-]", "_")
    val fp = contentKey(docs(s, d), Seq("doc_id", "text"))
    val dir =
      s"${System.getProperty("java.io.tmpdir")}/graft_unigram_v1_v400/${key}_$fp"
    val done = new org.apache.hadoop.fs.Path(s"$dir/_SUCCESS")
    val fs = done.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(done))
      UnigramLm.save(s, UnigramLm.train(docs(s, d), vocabSize = 400), dir)
    dir
  }

  /** Stored centroid-classifier model for a corpus dir (trained on the
    * %5!=0 labeled split); builds on first use, fingerprint-keyed,
    * `_SUCCESS` completeness marker. */
  private def centroidModelFor(s: SparkSession, d: String): String = {
    val key = d.replaceAll("[^A-Za-z0-9._-]", "_")
    val fp = contentKey(emb(s, d), Seq("vec_id", "embedding"))
    val dir =
      s"${System.getProperty("java.io.tmpdir")}/graft_centmodel_v1/${key}_$fp"
    val done = new org.apache.hadoop.fs.Path(s"$dir/_SUCCESS")
    val fs = done.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(done))
      Similarity.saveCentroidModel(emb(s, d), col("vec_id") % 5 =!= 0, dir)
    dir
  }

  /** Stored per-doc quality-score table for a corpus dir — the probe
    * input for recurring weighted sampling: one narrow parquet
    * (doc_id, quality_score), computed once per corpus content.
    * Completes the stored family's economics for the sampler: every
    * rerun pays a 2-column scan instead of the full regex scoring
    * stack per candidate row. Scores are 6-dp-rounded doubles, so the
    * parquet round-trip is exact and the stored path's sample is
    * byte-identical to the in-flight one. */
  private def qualityScoresFor(s: SparkSession, d: String): String = {
    val key = d.replaceAll("[^A-Za-z0-9._-]", "_")
    val fp = contentKey(docs(s, d), Seq("doc_id", "text"))
    val dir =
      s"${System.getProperty("java.io.tmpdir")}/graft_qscores_v1/${key}_$fp"
    val done = new org.apache.hadoop.fs.Path(s"$dir/_SUCCESS")
    val fs = done.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(done))
      TextAnalysis.qualityScore(docs(s, d))
        .select(col("doc_id"), col("quality_score"))
        .write.mode("overwrite").parquet(dir)
    dir
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_exact" -> ((s, d) =>
      Dedup.exact(docs(s, d)).orderBy("keep_id")),

    // self-supervised contrastive triplets (SimCSE-style): each anchor
    // pairs its best near-dup (positive) with its best NON-dup (hard
    // negative) from the exact all-pairs feed — oracle-gate form,
    // skipped at sf>=0.1 like every all-pairs feed
    "emb_triplets" -> ((s, d) =>
      Similarity.contrastiveTriplets(
          Dedup.embeddingNearDups(emb(s, d), -1.0), threshold = 0.45)
        .orderBy("anchor_id")),

    // the DEPLOYABLE triplet feed: IVF-cell-bucketed candidates — both
    // sides of each triplet come from the anchor's cells, so candidate
    // volume tracks cell occupancy, never N^2; coverage is the subset
    // of anchors whose cells hold both a dup and a non-dup (cell-mate
    // negatives are exactly the HARD ones), and chosen positives agree
    // with the exact feed on covered anchors (rows-only; spec'd).
    // Fused form: the cell feed is scored and argmax-reduced in one
    // pass (map-side combine), so the occupancy²-sized candidate set
    // is never materialised, shuffled, or windowed — same triplets as
    // running the miner on the materialised feed, spec-pinned.
    "emb_triplets_lsh" -> ((s, d) =>
      Similarity.contrastiveTripletsBucketed(emb(s, d), threshold = 0.45)
        .orderBy("anchor_id")),

    // nearest-centroid (Rocchio) classification: centroids trained on
    // the %5!=0 labeled split, every vector tagged by max cosine with
    // a confidence margin — oracle-exact because scores are a pure
    // function of the 6-dp published centroid table
    "emb_classify" -> ((s, d) =>
      Similarity.classifyByCentroid(emb(s, d), col("vec_id") % 5 =!= 0)
        .orderBy("vec_id")),

    // probe-phase classification: the STORED centroid model (trained
    // once per release) tags the corpus with zero training-side work;
    // SAME oracle as emb_classify — both paths score against the 6-dp
    // published table, so they are byte-identical by construction
    "emb_classify_stored" -> ((s, d) =>
      Similarity.classifyStored(emb(s, d), centroidModelFor(s, d),
          inTrain = col("vec_id") % 5 =!= 0)
        .orderBy("vec_id")),

    // rows-only: int8 quantization fidelity audit — empirical cosine
    // vs the constructive scale/2 bound per vector (QuantizeSpec pins
    // the bound and kernel arithmetic)
    "emb_quantize_audit" -> ((s, d) =>
      Quantize.audit(emb(s, d)).orderBy("vec_id")),

    // rows-only: flat int8-scored top-k with exact float re-rank of
    // the survivors — the compressed-storage twin of knn_brute
    // (recall + survivor-sim-equality spec'd vs knnBrute)
    "knn_quantized" -> ((s, d) =>
      Quantize.knnQuantized(emb(s, d), col("vec_id") < 10, k = 10)
        .orderBy("q_id", "rank")),

    // rows-only: murmur/xxhash bucket keys aren't reproducible in SQL
    "dedup_minhash" -> ((s, d) =>
      Dedup.minhashCandidates(docs(s, d), materialize = true)
        .orderBy("a_id", "b_id")),

    // pre-flight emission report for the pair-REPORT family: band-bucket
    // occupancy histogram + estimated per-occupancy candidate-pair
    // volume — what a 100 TB run reads BEFORE deciding to emit the full
    // pair set or cap it (minhashNearDups maxPairsPerBucket). rows-only:
    // minhash banding isn't SQL-replicable; arithmetic spec-pinned.
    "dedup_pair_stats" -> ((s, d) =>
      Dedup.pairVolumeProfile(docs(s, d))
        .orderBy(col("occupancy").desc)),

    // the GOVERNED pair report — the form a 100 TB run actually pays
    // for after reading dedup_pair_stats' pre-flight volume profile:
    // per-bucket emission capped (deterministic-hash member sample, so
    // no hot-template bucket emits quadratically), drops ledgered in
    // Dedup.lastPairEmissionStats, never silent. Benched beside the
    // full report so the at-scale artifact shows BOTH costs. The cap
    // (100 -> a 14-member sample per bucket) is the profile-advised
    // setting for this generator's hot-template groups (~100 members
    // per bucket at sf10: a 1000-pair cap still emitted 990/bucket —
    // 20% of full volume — and measured 97 s vs the full report's
    // 112 s; governance means sampling WELL below the hot occupancy).
    // rows-only: the cap's member ranking is hash-seeded; the
    // invariant gate pins ledger arithmetic + subset-of-full-report
    // (equality when the cap doesn't bind, as at the oracle SF).
    "dedup_minhash_capped" -> ((s, d) =>
      Dedup.minhashNearDups(docs(s, d), threshold = 0.8,
          maxPairsPerBucket = 100)
        .orderBy("a_id", "b_id")),

    "dedup_simhash" -> ((s, d) =>
      Dedup.simhashNearDups(docs(s, d), maxHamming = 3).orderBy("a_id", "b_id")),

    // LSH candidates + exact verify vs all-pairs ground truth oracle
    "dedup_jaccard" -> ((s, d) =>
      Dedup.minhashNearDups(docs(s, d), threshold = 0.8).orderBy("a_id", "b_id")),

    "dedup_embedding" -> ((s, d) =>
      Dedup.embeddingNearDups(emb(s, d), threshold = 0.45).orderBy("a_id", "b_id")),

    // the DEPLOYABLE form of dedup_embedding: SemDeDup-style IVF-cell
    // candidates (cluster, compare within cells) instead of the oracle's
    // all-pairs feed — candidate volume tracks cell occupancy, not the
    // corpus. rows-only (trained cells aren't SQL-replicable); recall
    // vs the exact path is spec-certified at the oracle SF.
    "dedup_embedding_lsh" -> ((s, d) =>
      Dedup.embeddingNearDups(emb(s, d), threshold = 0.45, allPairs = false)
        .orderBy("a_id", "b_id")),

    // pre-flight emission report for the EMBEDDING pair-report family:
    // IVF-cell occupancy histogram + estimated per-cell candidate-pair
    // volume — what a 100 TB run reads BEFORE deciding to emit the full
    // cell report or cap it (embeddingNearDups maxPairsPerCell). Cells
    // are recall partitions whose count saturates at 4096, so occupancy
    // — and the report's C(g,2) per-cell volume — grows with the corpus:
    // exactly the blowup this profile surfaces pre-flight. rows-only:
    // trained cells aren't SQL-replicable; arithmetic spec-pinned.
    "emb_pair_stats" -> ((s, d) =>
      Dedup.embeddingCellProfile(emb(s, d))
        .orderBy(col("occupancy").desc, col("n_buckets"))),

    // the GOVERNED embedding pair report — the form a 100 TB run pays
    // for after reading emb_pair_stats' pre-flight profile: per-cell
    // emission capped to a deterministic-hash member sample (no hot
    // semantic cluster collapsing into a cell can emit C(g,2)), drops
    // ledgered in Dedup.lastCellPairEmissionStats, never silent.
    // Benched beside the full report so the at-scale artifact shows
    // BOTH costs. The cap (1000 -> a 45-member sample per cell) is the
    // profile-advised setting for this corpus's cell shape: occupancy
    // is MEAN-driven (~224 members/cell at sf10, autoCells saturating
    // at 1789 cells), not hot-template-driven like minhash buckets, so
    // the cap samples well below mean occupancy while keeping the
    // report's absolute volume bounded (<= cells x 990 pairs at ANY
    // corpus size). rows-only: the cap's member ranking is hash-seeded;
    // the invariant gate pins ledger arithmetic + subset-of-full-report.
    "dedup_embedding_capped" -> ((s, d) =>
      Dedup.embeddingNearDups(emb(s, d), threshold = 0.45, allPairs = false,
          maxPairsPerCell = 1000)
        .orderBy("a_id", "b_id")),

    "knn_brute" -> ((s, d) =>
      Similarity.knnBrute(emb(s, d), col("vec_id") < 10, k = 10)
        .orderBy("q_id", "rank")),

    // metadata-filtered exact kNN: neighbours restricted to a label
    // predicate, top-k exact over the eligible rows (pre-filter)
    "knn_filtered" -> ((s, d) =>
      Similarity.knnBrute(emb(s, d), col("vec_id") < 10, k = 10,
          corpusFilter = col("label").isin(1, 3, 5))
        .orderBy("q_id", "rank")),

    // rows-only: hyperplane projections not replicated in SQL
    "knn_lsh" -> ((s, d) =>
      Similarity.knnLsh(emb(s, d), col("vec_id") < 10, k = 10)
        .orderBy("q_id", "rank")),

    // rows-only: trained centroids not replicated in SQL. nprobe=6 of
    // 16 cells — measured 0.68 recall@10 at the oracle SF (0.55 at the
    // old nprobe=4, which certified "not broken", not usable retrieval)
    "knn_ivf" -> ((s, d) =>
      Similarity.knnIvf(emb(s, d), col("vec_id") < 10, k = 10, nprobe = 6)
        .orderBy("q_id", "rank")),

    // rows-only: the filtered form of the indexed path — cells trained
    // unfiltered, predicate restricts the candidate join's corpus side;
    // eligibility + recall vs filtered brute are spec-certified.
    // nprobe doubled vs the unfiltered query (12 vs 6): the label
    // predicate keeps ~3/8 of each probed cell, so the probe budget
    // scales with selectivity to hold recall — measured 0.92 at the
    // oracle SF (0.43 at the old unscaled nprobe=4)
    "knn_ivf_filtered" -> ((s, d) =>
      Similarity.knnIvf(emb(s, d), col("vec_id") < 10, k = 10, nprobe = 12,
          corpusFilter = col("label").isin(1, 3, 5))
        .orderBy("q_id", "rank")),

    // rows-only: trained centroids/codebooks not replicated in SQL
    "knn_ivfpq" -> ((s, d) =>
      Similarity.knnIvfPq(emb(s, d), col("vec_id") < 10, k = 10)
        .orderBy("q_id", "rank")),

    // probe-phase ANN: search a STORED IVF-PQ index. The index is built
    // once per corpus dir (first run pays train+encode, every later run
    // probes alone) — the build-once/probe-forever economics a serving
    // path actually has, benched separately from in-flight training.
    // rows-only; agreement with knn_ivfpq is spec-certified.
    "knn_ivfpq_probe" -> ((s, d) =>
      Similarity.searchIvfPqIndex(emb(s, d), col("vec_id") < 10,
          ivfPqIndexFor(s, d), k = 10)
        .orderBy("q_id", "rank")),

    // metadata-filtered search over the STORED index — how serving
    // systems actually filter: index built once unfiltered, per-batch
    // predicate semi-joins the codes table down to eligible rows.
    // rows-only; eligibility + agreement-with-filtered-brute recall
    // are spec-certified.
    // nprobe doubled vs the unfiltered probe: a filter thins each
    // probed cell's eligible rows, so serving systems scale nprobe
    // with selectivity to keep recall — the standard filtered-ANN knob
    "knn_ivfpq_probe_filtered" -> ((s, d) =>
      Similarity.searchIvfPqIndex(emb(s, d), col("vec_id") < 10,
          ivfPqIndexFor(s, d), k = 10, nprobe = 8,
          corpusFilter = col("label").isin(1, 3, 5))
        .orderBy("q_id", "rank")),

    // index MAINTENANCE: search a stored index whose base was built on
    // the %10≠0 corpus split and whose %10==0 increment was appended
    // WITHOUT retraining (assign + PQ-encode against the frozen model
    // into an __increment_id partition) — the daily-drop economics of a
    // serving index: vectors added this morning are searchable this
    // morning, the Lloyd+PQ train runs once per release. rows-only;
    // encode-equivalence with the build encoder + searchability of
    // increment vectors are spec-certified.
    "knn_index_extend" -> ((s, d) =>
      Similarity.searchIvfPqIndex(emb(s, d), col("vec_id") < 10,
          ivfPqExtIndexFor(s, d), k = 10)
        .orderBy("q_id", "rank")),

    // index-maintenance COMPACTION: the same extend scenario with the
    // increments folded into the base codes table (LSM-style) — search
    // results are bit-identical to knn_index_extend's (spec-certified:
    // quantization unchanged, rows just relocate), the probe now reads
    // one cell-clustered table instead of base + per-drop directories
    "knn_index_compact" -> ((s, d) =>
      Similarity.searchIvfPqIndex(emb(s, d), col("vec_id") < 10,
          ivfPqCompactIndexFor(s, d), k = 10)
        .orderBy("q_id", "rank")),

    // MMR diversified top-k (rows-only): greedy relevance-vs-redundancy
    // re-rank of the top-5k candidate pool per query; lambda=1 degrades
    // to knn_brute (spec-pinned), diversity gain spec-certified
    "knn_mmr" -> ((s, d) =>
      Similarity.mmrRerank(emb(s, d), col("vec_id") < 10, k = 10,
          lambdaRel = 0.7)
        .orderBy("q_id", "rank")),

    "text_tokens" -> ((s, d) =>
      TextAnalysis.tokenCounts(docs(s, d))
        .select("doc_id", "ws_tokens", "bpe_tokens", "n_chars_calc")
        .orderBy("doc_id")),

    "text_quality" -> ((s, d) =>
      TextAnalysis.qualityScore(docs(s, d))
        .select("doc_id", "n_chars_calc", "n_tokens", "alpha_ratio",
          "punct_ratio", "stopword_ratio", "quality_score")
        .orderBy("doc_id")),

    // rows-only: learned scores have no SQL replica; held-out AUC vs
    // the heuristic labels + determinism are spec-certified
    "text_quality_model" -> ((s, d) =>
      QualityModel.heldOutScores(docs(s, d)).orderBy("doc_id")),

    // curation-funnel attrition: every doc attributed to the FIRST
    // pipeline stage that drops it (length -> language -> alpha-ratio
    // quality -> exact dup), volumes rolled up per stage — one when
    // cascade inside the scan + a stage-sized group; the dup-rank
    // window is the same fingerprint shuffle dedup_exact pays, composed
    // by the caller so the operator itself never hides a shuffle
    "corpus_funnel" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val base = docs(s, d).withColumn("__dup_rk",
        row_number().over(
          Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))))
      val alpha = length(col("text")) -
        length(regexp_replace(col("text"), "[A-Za-z]", ""))
      Funnel.attrition(base, Seq(
          "too_short" -> (col("n_chars") < 80),
          "lang_filtered" -> !col("lang").isin("en", "de", "fr", "es"),
          "low_alpha" -> (alpha / length(col("text")) < 0.55),
          "exact_dup" -> (col("__dup_rk") > 1)),
        volumes = Seq("chars" -> col("n_chars")))
    }),

    // sketch-based release overlap — the 100 TB twin of corpus_diff:
    // each side collapses to one KB HLL sketch of its content md5s in a
    // single scan, |A∩B| via inclusion-exclusion, NO join anywhere.
    // rows-only (HLL internals are engine-specific); the estimates are
    // certified against exact counts in SketchProfileSpec.
    "corpus_overlap_sketch" -> ((s, d) => {
      val all = docs(s, d)
      val oldSnap = all.where(col("doc_id") % 5 =!= 4)
      val newSnap = all.where(col("doc_id") % 5 =!= 0)
        .withColumn("text", when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" [v2]"))).otherwise(col("text")))
      Sketches.releaseOverlap(oldSnap, newSnap, md5(col("text")))
    }),

    // dataset-versioning delta: added/removed/changed/unchanged between
    // two release snapshots (here: deterministic %-splits with a
    // modified sliver) — each side collapses to id+md5 before the one
    // full-outer join, so payloads never shuffle
    "corpus_diff" -> ((s, d) => {
      val all = docs(s, d)
      val oldSnap = all.where(col("doc_id") % 5 =!= 4)
      val newSnap = all.where(col("doc_id") % 5 =!= 0)
        .withColumn("text", when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" [v2]"))).otherwise(col("text")))
      Cdc.snapshotDiff(oldSnap, newSnap).orderBy("doc_id")
    }),

    // right-to-be-forgotten audit: the report a deletion run publishes
    // (per source: rows/chars deleted vs kept, one codegen'd
    // conditional aggregate over the corpus scan). The stored-state
    // propagation this fronts — fingerprint tables, near-dup buckets,
    // embedding models, ANN codes — is spec-certified (ForgetSpec):
    // a forgotten doc's near-copy is admitted again, a kept doc's is
    // still dropped, and no search can return a forgotten vector.
    "corpus_forget" -> ((s, d) =>
      Forget.forgetAudit(docs(s, d),
        docs(s, d).where(col("doc_id") % 17 === 3).select("doc_id"))),

    // distribution DRIFT between two release snapshots: composition
    // shift per dimension (language, source, 256-char length bucket) as
    // per-cell total-variation contributions — group-sized output,
    // document payloads never shuffle
    "corpus_drift" -> ((s, d) => {
      val all = docs(s, d)
      val oldSnap = all.where(col("doc_id") % 5 =!= 4)
      val newSnap = all.where(col("doc_id") % 5 =!= 0)
      Cdc.distributionDrift(oldSnap, newSnap, Seq(
          "lang" -> col("lang"),
          "source" -> col("source"),
          "len_bucket" -> floor(col("n_chars") / 256).cast("long")))
        .orderBy("dim", "cell")
    }),

    // deterministic exact-size uniform sample (a fixed-size eval pool /
    // annotation batch): exactly 100 rows by smallest md5(id||seed),
    // membership a pure function of (id, seed) — TakeOrdered over a
    // narrow (id, hash) projection + broadcast semi-join back, never a
    // global sort of payloads
    "corpus_sample_exact" -> ((s, d) =>
      Splits.sampleExact(docs(s, d), n = 100)
        .select("doc_id", "source", "lang").orderBy("doc_id")),

    // budgeted selection: the best 9000 tokens in (quality DESC, id)
    // order — the frontier-pruned two-level prefix sum; buckets past
    // the budget never reach the window sort
    "corpus_select_budget" -> ((s, d) =>
      Selection.selectByBudget(docs(s, d), budget = 9000).orderBy("doc_id")),

    // DSIR importance resampling: sample the raw pool towards the
    // src0 target domain's hashed-feature distribution — Gumbel top-k
    // over md5-derived noise, so membership is a pure function of
    // (content, seed); TakeOrdered top-k, never a global sort
    "corpus_dsir" -> ((s, d) =>
      Selection.dsir(docs(s, d), col("source") === "src0", budget = 40)
        .orderBy("rk")),

    // probe phase: the STORED log-ratio model (trained once per target
    // release) scores the pool with one tokenize + one broadcast join
    // — no target-side work; same oracle as corpus_dsir because the
    // selection is a pure function of (content, model, seed)
    "corpus_dsir_probe" -> ((s, d) =>
      Selection.dsirStored(docs(s, d).where(col("source") =!= "src0"),
          dsirModelFor(s, d), budget = 40)
        .orderBy("rk")),

    // probe-phase quality scoring: the STORED model (trained once per
    // corpus against the heuristic labels) scores the held-out split —
    // one broadcast of the coefficient vector + one map-side pass, no
    // L-BFGS. The classifier-release economics every curation rerun
    // actually pays. rows-only; agreement with a fresh trainHeldOut
    // model is spec-certified.
    "text_quality_stored" -> ((s, d) => {
      val m = QualityModel.load(qualityModelFor(s, d))
      QualityModel.score(m, docs(s, d).where(QualityModel.heldOutPred()))
        .orderBy("doc_id")
    }),

    // rows-only: the learned merge table (training has no SQL replica);
    // determinism/round-trip/compression/cap specs certify it
    "bpe_merges" -> ((s, d) =>
      Bpe.mergesDF(s, Bpe.train(docs(s, d), numMerges = 200))
        .orderBy("rank")),

    // rows-only: train-then-encode corpus pass; base-symbol counts are
    // spec-checked against a plain char count, token counts against the
    // monotone-compression property
    "text_bpe" -> ((s, d) =>
      Bpe.tokenStats(docs(s, d), numMerges = 200).orderBy("doc_id")),

    // rows-only: the unigram-LM (SentencePiece-style) piece table —
    // the OTHER real-world tokenizer family next to BPE; determinism/
    // optimality/coverage specs certify it (UnigramLmSpec)
    "unigram_pieces" -> ((s, d) =>
      UnigramLm.piecesDF(s, UnigramLm.load(s, unigramPiecesFor(s, d)))
        .orderBy("rank")),

    // rows-only: ML (Viterbi) segmentation stats under the stored
    // unigram LM — per-doc compression + segmentation log-probability
    // (a corpus-fit signal BPE cannot give); encode is one broadcast +
    // one map-side pass, no training (probe economics like text_bpe_stored)
    "text_unigram_tok" -> ((s, d) =>
      UnigramLm.tokenStatsWith(
          UnigramLm.load(s, unigramPiecesFor(s, d)), docs(s, d))
        .orderBy("doc_id")),

    // probe-phase BPE: encode against a STORED merge table (trained
    // once per corpus dir) — the tokenizer-release economics: every
    // run after the first pays one broadcast of the rank table + one
    // map-side encode, no training. rows-only; agreement with
    // text_bpe is spec-certified.
    "text_bpe_stored" -> ((s, d) =>
      Bpe.tokenStatsWith(Bpe.load(s, bpeMergesFor(s, d)), docs(s, d))
        .orderBy("doc_id")),

    // the last mile: stored-merge-table encode -> fixed-budget context
    // windows (distributed prefix-sum assignment) -> per-shard manifest
    // with an order-independent content checksum. rows-only (BPE token
    // streams have no SQL replica); round-trip/full-window/determinism
    // specs certify it.
    "corpus_shards" -> ((s, d) =>
      ShardExport.shardManifest(docs(s, d), Bpe.load(s, bpeMergesFor(s, d)))
        .orderBy("shard_id")),

    // deterministic global training-order shuffle — pure function of
    // (seed, id), recovered without a global sort via 256 hex-prefix
    // buckets + a driver prefix over the bucket counts
    "corpus_shuffle" -> ((s, d) =>
      Splits.shufflePositions(docs(s, d), "doc_id")
        .select("doc_id", "shuffle_pos").orderBy("doc_id")),

    // line-level boilerplate removal (CCNet/RefinedWeb line-wise dedup):
    // a normalized line in >= 3 distinct docs is template chrome; the
    // doc is rebuilt without those lines and fingerprinted
    "text_boilerplate" -> ((s, d) =>
      Boilerplate.removeBoilerplate(docs(s, d), minDocs = 3)
        .orderBy("doc_id")),

    "text_langid" -> ((s, d) =>
      TextAnalysis.languageId(docs(s, d))
        .select("doc_id", "cnt_en", "cnt_de", "cnt_fr", "cnt_es", "cnt_cjk", "lang_pred")
        .orderBy("doc_id")),

    "text_fingerprint" -> ((s, d) =>
      TextAnalysis.fingerprints(docs(s, d))
        .select("doc_id", "content_md5", "shingle_sig", "n_shingles")
        .orderBy("doc_id")),

    // rows-only: rolling-hash winnowing not expressible in the oracle SQL
    "text_winnow" -> ((s, d) =>
      TextAnalysis.winnowingFingerprints(docs(s, d))
        .select(col("doc_id"), size(col("winnow_fp")).cast("long").as("n_fingerprints"))
        .orderBy("doc_id")),

    // perceptual media near-dup: dHash fingerprints (real images via
    // imageio, synthetic payloads via the deterministic byte grid)
    // through the shared hamming block-bucket join, over a corpus with
    // PLANTED single-cell-edit replicas (this testdata vintage has no
    // organic byte-level near-dup media). rows-only; planted-pair recall
    // + codec-fixture behavior are spec-certified.
    "multimodal_dhash" -> ((s, d) =>
      Multimodal.dHashNearDups(
          Multimodal.withNearDupReplicas(Multimodal.withMedia(docs(s, d))),
          maxHamming = 3)
        .orderBy("a_id", "b_id")),

    // multimodal × similarity: nearest-neighbour search over DECODED
    // media features — the image-similarity probe a multimodal corpus
    // runs. The 72-dim luminance-grid embedding (the continuous signal
    // dHash quantizes; real images via imageio, synthetic payloads via
    // the byte grid) flows into the SAME cosine top-k machinery as text
    // embeddings, over the replica-augmented corpus so planted near-dup
    // media surface as rank-1 neighbours. rows-only (the codec is not
    // SQL-replicable); replica-is-nearest spec-certified.
    "multimodal_knn" -> ((s, d) =>
      Similarity.knnBrute(
          Multimodal.gridFeatures(
              Multimodal.withNearDupReplicas(Multimodal.withMedia(docs(s, d))))
            .toDF("vec_id", "embedding"),
          col("vec_id") < 5, k = 5)
        .orderBy("q_id", "rank")),

    "multimodal_meta" -> ((s, d) =>
      Multimodal.withMedia(docs(s, d))
        .select(col("doc_id"), col("meta.format").as("format"),
          col("meta.n_bytes").as("n_bytes"), col("meta.width").as("width"),
          col("meta.height").as("height"), md5(col("content")).as("content_md5"))
        .orderBy("doc_id")),

    // multimodal corruption/quality screen over PLANTED damage (every
    // 7th payload: truncated / dead-fetch-empty / constant-fill, with
    // metadata still claiming the original) — the codec-free gate that
    // runs FIRST on untrusted bytes. One typed scan, no shuffle.
    // rows-only; planted-flag recovery is spec-certified.
    "multimodal_screen" -> ((s, d) =>
      Multimodal.screenMedia(
          Multimodal.withCorruptPayloads(Multimodal.withMedia(docs(s, d))),
          minDistinctBytes = 2)
        .toDF().orderBy("doc_id")),

    "text_tfidf" -> ((s, d) =>
      TextAnalysis.tfidf(docs(s, d), topK = 10)
        .orderBy(col("doc_id"), col("rk"))),

    // frequent-items sketch: per-partition Misra-Gries candidates + an
    // exact count pass over candidates only — the sketch shuffle is
    // partitions×k rows, never the term universe. Oracle-exact: the
    // provable-exactness condition (min top count > N/(k+1)) holds at
    // every tested SF and is asserted in SketchProfileSpec.
    "text_heavy_hitters" -> ((s, d) => {
      // tokenize ONCE: heavyHitters consumes its term feed twice (the
      // MG sketch pass and the exact-count pass), and without a barrier
      // each consumer re-scans AND re-splits the corpus (r19 sf10
      // ScanCountProbe: 2 FileScans of documents). Checkpoint the
      // doc-sized token ARRAYS — the same barrier class as
      // unigram/bigram (TextAnalysis ''Materialization barriers'') —
      // and let both consumers explode from it.
      val arrs = docs(s, d).select(
        filter(split(lower(col("text")), "[^a-z0-9]+"),
          x => x =!= "").as("__toks"))
        .localCheckpoint()
      val terms = arrs.select(explode(col("__toks")).as("term"))
      Sketches.heavyHitters(terms, "term", k = 4096, topK = 20)
        .select("term", "n", "rk").orderBy("rk")
    }),

    // per-language vocabularies: the grouped form of the frequent-items
    // sketch — per-partition per-group MG candidates + one exact count
    // pass; rank window runs per group over candidate counts only.
    // Oracle-exact under the same provable-exactness condition as the
    // global form (asserted per group in SketchProfileSpec).
    "text_heavy_hitters_grouped" -> ((s, d) => {
      // same tokenize-once barrier as the global form: the grouped
      // sketch also consumes its feed twice (per-group MG partials +
      // exact pass)
      val arrs = docs(s, d).select(col("lang"),
        filter(split(lower(col("text")), "[^a-z0-9]+"),
          x => x =!= "").as("__toks"))
        .localCheckpoint()
      val terms = arrs.select(col("lang"),
        explode(col("__toks")).as("term"))
      Sketches.groupedHeavyHitters(terms, "lang", "term", k = 4096, topK = 10)
        .orderBy("grp", "rk")
    }),

    "text_redact" -> ((s, d) =>
      TextAnalysis.redactPii(docs(s, d))
        .select(col("doc_id"), col("n_emails"), col("n_ips"), col("n_phones"),
          md5(col("redacted_text")).as("redacted_md5"))
        .orderBy("doc_id")),

    // canonical text normalization (NFC + control-strip + whitespace
    // canonicalization) — md5 of the normalized text proves the full
    // string engine-exact without shipping the corpus through compare
    "text_normalize" -> ((s, d) =>
      TextAnalysis.normalizeText(docs(s, d))
        .select(col("doc_id"), md5(col("norm_text")).as("norm_md5"),
          col("n_chars_raw"), col("n_chars_norm"), col("changed"))
        .orderBy("doc_id")),

    // corpus release datasheet: per (lang, source) + rollup subtotals
    "corpus_datasheet" -> ((s, d) =>
      Profiler.corpusDatasheet(docs(s, d))),

    "split_hash" -> ((s, d) =>
      Splits.byHash(docs(s, d), "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1))
        .select("doc_id", "split").orderBy("doc_id")),

    // leakage-safe splits: a near-dup CLUSTER moves between train/val/
    // test as one unit (a test doc's near-copy in train is eval
    // leakage). Oracled by the recursive-CTE closure over the exact-
    // jaccard pair graph + the same md5 hex thresholds as split_hash.
    // Spanning pair feed: the closure only needs connectivity, and the
    // star+residual feed is closure-equal to the full in-bucket join
    // (same oracle passes) at O(Σ occupancy) candidate volume.
    "split_leakage_safe" -> ((s, d) =>
      Splits.leakageSafeFromLabels(docs(s, d),
          Dedup.nearDupClustersCached(docs(s, d), threshold = 0.8),
          "doc_id")
        .select("doc_id", "cluster_id", "split")
        .orderBy("doc_id")),

    "emb_centroids" -> ((s, d) =>
      Similarity.labelCentroids(emb(s, d)).orderBy("label", "pos")),

    // hard-negative mining for contrastive training data: per query,
    // the top-5 most-similar vectors with a DIFFERENT label — the label
    // inequality is fused into the broadcast join condition, so
    // same-label pairs are never scored. oracle-exact.
    "emb_hard_negatives" -> ((s, d) =>
      Similarity.hardNegatives(emb(s, d), col("vec_id") < 10, k = 5)
        .orderBy("q_id", "rank")),

    // distributed PCA: one dim^2 treeAggregate + driver Jacobi eig +
    // codegen'd dot-product projection. rows-only; orthonormality /
    // variance-accounting / reconstruction certified in PcaSpec
    "emb_pca" -> ((s, d) => {
      val e = emb(s, d)
      val model = Pca.fit(e, k = 8)
      Pca.transform(e, model)
        .select(col("vec_id") +:
          (1 to 8).map(i => round(col(s"pc$i"), 4).as(s"pc$i")): _*)
        .orderBy("vec_id")
    }),

    // incremental drop: docs with id >= 250 arrive as today's increment
    // and dedup against the accumulated corpus (id < 250)
    "dedup_incremental" -> ((s, d) => {
      val all = docs(s, d)
      Dedup.exactIncrement(
          all.where(col("doc_id") < 250),
          all.where(col("doc_id") >= 250))
        .select("doc_id", "source").orderBy("doc_id")
    }),

    // near-dup form of the incremental drop: LSH buckets of the
    // increment probe the corpus's bucket table; exact-Jaccard verified
    "dedup_neardup_incr" -> ((s, d) => {
      val all = docs(s, d)
      Dedup.nearDupIncrement(
          all.where(col("doc_id") < 250),
          all.where(col("doc_id") >= 250), threshold = 0.8)
        .select("doc_id", "source").orderBy("doc_id")
    }),

    // probe-phase TEXT near-dup dedup: the increment probes the STORED
    // shingle-set + band-bucket state (built once per corpus release —
    // the batch form of the streaming sink's durable state), so history
    // is never re-shingled. Same duplicate contract as
    // dedup_neardup_incr (shared nearDupStateStep core), so the same
    // all-pairs ground-truth oracle applies.
    "dedup_neardup_probe" -> ((s, d) =>
      Dedup.nearDupIncrementStored(
          docs(s, d).where(col("doc_id") >= 250), nearDupStateFor(s, d))
        .select("doc_id", "source").orderBy("doc_id")),

    // probe-phase embedding dedup: the increment runs against the
    // STORED corpus model (centroids + vector/cell tables built once
    // per corpus dir by buildEmbeddingDedupState) — assignment +
    // cell-join only, no Lloyd loop; the %10 split is the deployment
    // shape (large indexed corpus, small daily drop). Oracled against
    // the all-pairs incremental ground truth on the same basis as
    // dedup_embedding_incr: cell-candidate recall is total at the
    // oracle threshold/SF (spec-certified — the oracle-exact claim is
    // CERTIFIED AT sf0.01 and re-verified every round by the gate, not
    // assumed at other SFs), so survivors agree.
    "dedup_embedding_probe" -> ((s, d) => {
      val all = emb(s, d)
      Dedup.embeddingIncrementStored(
          all.where(col("vec_id") % 10 === 0), embDedupStateFor(s, d),
          threshold = 0.45)
        .select("vec_id", "label").orderBy("vec_id")
    }),

    // embedding analog of dedup_neardup_incr: increment vectors probe
    // shared IVF cells, exact-cosine verified. Oracled against the
    // all-pairs incremental ground truth — cell-candidate recall is
    // total at this threshold/SF (spec-certified at sf0.01, the oracle
    // gate's SF; a recall-floor spec guards the candidate generator
    // itself), so survivors agree.
    "dedup_embedding_incr" -> ((s, d) => {
      val all = emb(s, d)
      Dedup.embeddingIncrement(
          all.where(col("vec_id") < 250),
          all.where(col("vec_id") >= 250), threshold = 0.45)
        .select("vec_id", "label").orderBy("vec_id")
    }),

    "text_unigram_lp" -> ((s, d) =>
      TextAnalysis.unigramLogProb(docs(s, d))
        .select("doc_id", "n_toks", "avg_logprob").orderBy("doc_id")),

    // interpolated bigram LM score (Jelinek-Mercer): punishes rare
    // TRANSITIONS that common-word spam hides from the unigram model;
    // two vocab-sized count shuffles, decimal-fixed ln terms
    "text_bigram_lp" -> ((s, d) =>
      TextAnalysis.bigramLogProb(docs(s, d))
        .select("doc_id", "n_bigrams", "avg_logprob").orderBy("doc_id")),

    // probe phase: the STORED count tables (built once per corpus
    // release) score the pool — one pool tokenize + vocabulary-sized
    // count joins, zero training-side work; same oracle as
    // text_bigram_lp because the scoring tail is shared and every
    // count exists on the training pool
    "text_bigram_lp_stored" -> ((s, d) =>
      TextAnalysis.bigramLogProbStored(docs(s, d), bigramLmFor(s, d))
        .select("doc_id", "n_bigrams", "avg_logprob").orderBy("doc_id")),

    // C4-style badwords screen as an audit: occurrence + distinct-hit
    // counts and the drop flag, every doc kept — pure per-doc column
    // expressions, no join, no shuffle
    // blocklist with a PHRASE entry: "table hash" screens as a token
    // bigram (contiguous-sequence match, overlap-aware), exercising the
    // multi-word path real C4-style badword lists need
    "text_blocklist" -> ((s, d) =>
      TextAnalysis.blocklistScreen(docs(s, d),
          Seq("merge", "stream", "batch", "table hash"))
        .select("doc_id", "n_blocked", "n_distinct_blocked", "blocked")
        .orderBy("doc_id")),

    // tokenizer-fit audit: per-language fertility / compression /
    // character-fallback fraction of the STORED merge table — the
    // release review a multilingual tokenizer gets (rows-only; the
    // encode has no SQL replica, properties spec-certified)
    "text_tokenizer_audit" -> ((s, d) =>
      Bpe.tokenizerCoverage(Bpe.load(s, bpeMergesFor(s, d)), docs(s, d))
        .orderBy("lang")),

    // multi-signal quality ensemble: percent-rank-normalized heuristic
    // quality + unigram-LM fit + vocabulary diversity, averaged — the
    // FineWeb-style blend; every rank via the two-level bucketed
    // percent_rank (no global single-task window)
    "text_quality_blend" -> ((s, d) =>
      TextAnalysis.qualityBlend(docs(s, d))
        .select("doc_id", "pr_quality", "pr_lm", "pr_uniq", "blend")
        .orderBy("doc_id")),

    // embedding-space drift between releases: per-label centroid cosine
    // + L2 shift over the same %5 release split as corpus_drift — the
    // vector twin of the categorical drift report
    "emb_drift" -> ((s, d) => {
      val all = emb(s, d)
      Similarity.centroidDrift(
          all.where(col("vec_id") % 5 =!= 4),
          all.where(col("vec_id") % 5 =!= 0))
        .orderBy("label")
    }),

    // max-min fair token-budget split across domains (water-filling):
    // small domains fully satisfied, the rest share the remainder at
    // the water level — domain-sized arithmetic after one count scan
    "corpus_budget_fill" -> ((s, d) =>
      Selection.waterFill(docs(s, d), "source", budget = 26000.0)
        .orderBy("source")),

    "text_repetition" -> ((s, d) =>
      TextAnalysis.repetitionSignals(docs(s, d))
        .select("doc_id", "n_words", "n_uniq_words", "n_bigrams", "top_bigram_n",
          "n_trigrams", "n_uniq_trigrams", "uniq_word_ratio", "top_bigram_frac",
          "dup_trigram_frac", "repetitive")
        .orderBy("doc_id")),

    // corpus-wide repeated 8-token spans (substring-level dedup signal)
    "text_span_dedup" -> ((s, d) =>
      Dedup.repeatedSpans(docs(s, d), n = 8).orderBy("doc_id")),

    // the masking form: every span occurrence that duplicates an
    // earlier (min doc_id, pos) one — what a rebuild step drops
    "text_span_mask" -> ((s, d) =>
      Dedup.repeatedSpanMask(docs(s, d), n = 8).orderBy("doc_id", "pos")),

    // ...and the rebuild itself: corpus with masked spans elided, one
    // canonical copy of every repeated passage kept (Lee et al.'s step)
    "text_span_apply" -> ((s, d) =>
      Dedup.applySpanMask(docs(s, d), Dedup.repeatedSpanMask(docs(s, d), n = 8), n = 8)
        .select(col("doc_id"), md5(col("masked_text")).as("masked_md5"),
          col("n_tokens"), col("n_dropped"))
        .orderBy("doc_id")),

    // benchmark = every 7th doc; corpus = the rest. 8-gram overlap.
    "corpus_decontaminate" -> ((s, d) => {
      val all = docs(s, d)
      Contamination.flagOverlap(
          all.where(col("doc_id") % 7 =!= 0),
          all.where(col("doc_id") % 7 === 0), n = 8)
        .orderBy("doc_id")
    }),

    // SEMANTIC decontamination: benchmark = every 11th embedding, corpus
    // = the rest; flag corpus vectors cosine-similar to any benchmark
    // vector via shared IVF cells + exact verify. Oracled against the
    // DuckDB all-pairs ground truth (cell recall is total at this
    // threshold — same certification the embedding-dedup family carries)
    "corpus_decontaminate_semantic" -> ((s, d) => {
      val all = emb(s, d)
      Contamination.flagSemanticOverlap(
          all.where(col("vec_id") % 11 =!= 0),
          all.where(col("vec_id") % 11 === 0), threshold = 0.45)
        .orderBy("vec_id")
    }),

    // same contract through the bloom prefilter — identical oracle:
    // no false negatives, and positives are exact-verified, so the
    // report matches the join path bit-for-bit
    "corpus_decontaminate_bloom" -> ((s, d) => {
      val all = docs(s, d)
      Contamination.flagOverlapBloom(
          all.where(col("doc_id") % 7 =!= 0),
          all.where(col("doc_id") % 7 === 0), n = 8)
        .orderBy("doc_id")
    }),

    // probe-phase decontamination: the benchmark INDEX (grams + bloom +
    // meta) is built once per corpus dir and every later run loads ~KBs
    // of bloom bits and probes — the build-once/probe-forever economics
    // of knn_ivfpq_probe, for decontamination. Same oracle as the
    // direct forms (the index is exact-equivalent by construction).
    "corpus_decontaminate_indexed" -> ((s, d) => {
      val all = docs(s, d)
      Contamination.flagOverlapIndexed(
          all.where(col("doc_id") % 7 =!= 0), benchIndexFor(s, d))
        .orderBy("doc_id")
    }),

    // the deployment-shaped split: a SPARSE benchmark (every 29th doc,
    // ~1% contamination — real eval suites vs a training corpus) where
    // the bloom prefilter's economics show; the dense %7 entry above
    // proves exactness, this one measures the join-free clean-doc path.
    // `corpus_decontaminate_sparse` below is its exact-join twin, so
    // bloom-vs-join is an apples-to-apples A/B on BOTH splits.
    "corpus_decontaminate_sparse" -> ((s, d) => {
      val all = docs(s, d)
      Contamination.flagOverlap(
          all.where(col("doc_id") % 29 =!= 0),
          all.where(col("doc_id") % 29 === 0), n = 8)
        .orderBy("doc_id")
    }),

    "corpus_decontaminate_bloom_sparse" -> ((s, d) => {
      val all = docs(s, d)
      Contamination.flagOverlapBloom(
          all.where(col("doc_id") % 29 =!= 0),
          all.where(col("doc_id") % 29 === 0), n = 8)
        .orderBy("doc_id")
    }),

    // audit trail: which benchmark doc each contaminated doc matches most
    "corpus_attribution" -> ((s, d) => {
      val all = docs(s, d)
      Contamination.attributeOverlap(
          all.where(col("doc_id") % 7 =!= 0),
          all.where(col("doc_id") % 7 === 0), n = 8)
        .orderBy("doc_id")
    }),

    // curriculum tiers from the corpus's own quality quantiles
    "curriculum" -> ((s, d) =>
      Splits.curriculumPhases(
          TextAnalysis.qualityScore(docs(s, d)), "quality_score", phases = 3)
        .select("doc_id", "quality_score", "phase").orderBy("doc_id")),

    "corpus_mix" -> ((s, d) =>
      Splits.mixture(docs(s, d), "doc_id", "source",
          Seq("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2), budget = 30.0)
        .select(col("doc_id"), col("source"), col("n_domain"),
          round(col("rate"), 6).as("rate"))
        .orderBy("doc_id")),

    // temperature-scaled mixture (mT5/XLM-R alpha-sampling): target
    // shares derived from the corpus's own composition, p_i^0.3
    // renormalized — upsamples tail domains without drowning the head;
    // same pure-hash membership as corpus_mix, rates rounded to 6dp
    // before the threshold test so pow's last ulp can't flip a doc
    "corpus_mix_temp" -> ((s, d) =>
      Splits.mixtureTemperature(docs(s, d), "doc_id", "source",
          alpha = 0.3, budget = 120.0)
        .select(col("doc_id"), col("source"), col("n_domain"), col("rate"))
        .orderBy("doc_id")),

    // stratified exact-size sample: exactly 20 docs per language (the
    // per-language eval-pool shape) by smallest md5(id||seed) within
    // group — narrow (lang, id, hash) window + broadcast semi-join back
    "corpus_sample_stratified" -> ((s, d) =>
      Splits.sampleStratified(docs(s, d), n = 20, groupCol = "lang")
        .select("doc_id", "lang", "source").orderBy("doc_id")),

    // BM25 ranked retrieval: top-10 docs per query for a fixed query
    // set — broadcast-filtered token stream (only query-term tokens
    // shuffle), decimal-exact per-term sums, 6dp scores
    "text_bm25" -> ((s, d) =>
      TextAnalysis.bm25(docs(s, d), bm25Queries, topK = 10)
        .orderBy("query_id", "rk")),

    "seq_pack" -> ((s, d) =>
      Packing.packSequences(docs(s, d), budget = 256L).orderBy("doc_id")),

    // per-language packing: independent sequence streams per group, so
    // a context window never mixes languages (or splits, domains, ...)
    "seq_pack_grouped" -> ((s, d) =>
      Packing.packSequencesBy(docs(s, d), budget = 256L, Seq("lang"))
        .orderBy("lang", "doc_id")),

    // rows-only: FFD bin packing has no SQL replica; the invariants
    // (exactly-once, capacity, waste vs lower bound, determinism) are
    // spec-certified
    "seq_pack_bestfit" -> ((s, d) =>
      Packing.packBestFit(docs(s, d), budget = 256L).orderBy("doc_id")),

    "doc_chunks" -> ((s, d) =>
      Packing.chunkDocuments(docs(s, d), budget = 32L)
        .orderBy("doc_id", "chunk_id")),

    // RAG-style OVERLAPPING chunks: consecutive chunks share 8 tokens
    // so passages never lose context at a boundary; same zero-shuffle
    // projection + generator shape
    "doc_chunks_overlap" -> ((s, d) =>
      Packing.chunkDocumentsOverlap(docs(s, d), budget = 32L, overlap = 8L)
        .orderBy("doc_id", "chunk_id")),

    "corpus_cap" -> ((s, d) =>
      Splits.capPerDomain(docs(s, d), "doc_id", "source", cap = 10)
        .select("doc_id", "source").orderBy("doc_id")),

    "kanon_suppress" -> ((s, d) =>
      Privacy.kAnonymize(docs(s, d), Seq("lang", "source"), k = 3)
        .select("doc_id", "lang", "source", "group_n")
        .orderBy("doc_id")),

    // cluster closure of the verified near-dup pair graph; oracled by a
    // DuckDB recursive-CTE transitive closure over the same exact-
    // jaccard pair set the dedup_jaccard oracle pins (LSH recall is
    // total at this threshold, so pair sets agree); component semantics
    // additionally spec-tested on known graphs in DedupSimilaritySpec
    // CACHED closure labels (nearDupClustersCached): the whole closure
    // family — this, the size profile, canonical keep, leakage-safe
    // splits — rides ONE shingle+banding+spanning+cc pass per
    // application instead of rebuilding the identical feed per query
    "dedup_clusters" -> ((s, d) =>
      Dedup.nearDupClustersCached(docs(s, d), threshold = 0.8)
        .where(col("id") =!= col("cluster_id"))
        .orderBy("id")),

    // stored-closure probe: the persisted label table served as a plain
    // parquet scan (built once per corpus, meta-pinned at threshold) —
    // the cross-APPLICATION form of nearDupClustersCached, so a new app
    // never re-pays the shingle+banding+closure build. Labels are
    // deterministic, so the same recursive-CTE oracle applies verbatim.
    "dedup_clusters_stored" -> ((s, d) =>
      Dedup.closureFromStored(s, closureStateFor(s, d), expectThreshold = 0.8)
        .where(col("id") =!= col("cluster_id"))
        .orderBy("id")),

    // cluster-size profile: how many clusters of each size the verified
    // pair graph closes into, singletons included — the threshold-
    // choosing report; two group-sized aggregations over the labels
    "dedup_cluster_sizes" -> ((s, d) =>
      Dedup.clusterSizeProfileOf(
          Dedup.nearDupClustersCached(docs(s, d), threshold = 0.8))
        .orderBy("cluster_size")),

    // Efraimidis-Spirakis exact-size WEIGHTED sample: inclusion odds
    // proportional to quality_score, membership a pure function of
    // (id, weight, seed) — the quality-weighted eval-pool form
    "corpus_sample_weighted" -> ((s, d) =>
      Splits.sampleWeighted(
          TextAnalysis.qualityScore(docs(s, d))
            .select(col("doc_id"), col("quality_score")),
          n = 50, weightCol = "quality_score")
        .orderBy("doc_id")),

    // probe-phase weighted sample: the STORED quality-score table
    // (computed once per corpus release) feeds Efraimidis-Spirakis
    // directly — per-candidate cost drops from the full regex scoring
    // stack to a narrow 2-column scan; SAME oracle as
    // corpus_sample_weighted because 6-dp scores round-trip exactly
    "corpus_sample_weighted_stored" -> ((s, d) =>
      Splits.sampleWeighted(s.read.parquet(qualityScoresFor(s, d)),
          n = 50, weightCol = "quality_score")
        .orderBy("doc_id")),

    // canonical-representative selection: the closure turned into an
    // actual deduplicated corpus — within every multi-member cluster
    // keep the highest-quality member, not the arbitrary min-id one
    "dedup_canonical" -> ((s, d) =>
      Dedup.canonicalKeep(
          Dedup.nearDupClustersCached(docs(s, d), threshold = 0.8),
          TextAnalysis.qualityScore(docs(s, d)))
        .orderBy("doc_id")),

    // semantic (SemDeDup-style) clusters: the SAME component closure
    // over embedding-cosine near-dup pairs instead of jaccard pairs —
    // pure composition of existing operators; keep one doc per
    // cluster_id for the semantically deduplicated corpus
    "emb_clusters" -> ((s, d) =>
      Dedup.connectedComponents(
          Dedup.embeddingNearDups(emb(s, d), threshold = 0.45),
          emb(s, d), idCol = "vec_id")
        .where(col("id") =!= col("cluster_id"))
        .orderBy("id")),

    // semantic clusters over the DEPLOYABLE bucketed pair feed — the
    // composition a 100 TB corpus actually runs (cluster cells bound the
    // pair compares; the closure is dup-graph-sized either way). The
    // embedding spanning (star+residual) arm was A/B-measured HERE and
    // removed: IVF cells are recall partitions, not precision buckets —
    // at cosine 0.45 most cell-mates are not near-dups, so most star
    // edges fail verification and the residual pass degenerates to the
    // full feed plus two extra verify rounds (sf10: 38.9 s full feed vs
    // 146.6 s spanning). Spanning stays the right shape for minhash
    // buckets, whose members are near-cliques at any real threshold.
    // The closure consumer feeds on the union-find spanning FOREST of
    // each cell's block pairs (embeddingCellForestEdges) instead of the
    // materialised in-cell pair relation — closure-equal (proof at the
    // method, label-equality spec at the derived and forced block sizes,
    // and this query's own invariant vs emb_clusters), with pair tests
    // skipped wherever the endpoints already share a component
    "emb_clusters_lsh" -> ((s, d) =>
      Dedup.connectedComponents(
          Dedup.embeddingClusterEdges(emb(s, d), threshold = 0.45),
          emb(s, d), idCol = "vec_id")
        .where(col("id") =!= col("cluster_id"))
        .orderBy("id")),

    // Flagship composite: the full training-corpus preparation flow —
    // quality scoring -> language ID -> filter -> exact dedup (keep
    // min-id per content hash) -> deterministic split — as ONE Catalyst
    // plan: the enrichments fuse into a single projection over the scan,
    // dedup is the only shuffle, the split is a hash projection.
    "training_corpus" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val enriched = TextAnalysis.languageId(TextAnalysis.qualityScore(docs(s, d)))
      val filtered = enriched
        .where(col("quality_score") >= 0.5 && col("lang_pred") === "en")
      val w = Window.partitionBy(md5(col("text"))).orderBy("doc_id")
      val deduped = filtered
        .withColumn("__rk", row_number().over(w))
        .where(col("__rk") === 1)
      graft.operators.Splits.byHash(deduped, "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1))
        .select("doc_id", "lang_pred", "quality_score", "split")
        .orderBy("doc_id")
    }),
  )

  /** Shared by `corpus_decontaminate` and its bloom-prefiltered forms —
    * the bloom path is exact-equivalent by construction (no false
    * negatives; positives exact-verified), so it runs the same SQL; the
    * benchmark-selecting modulus is the only parameter (7 = the dense
    * split, 29 = the sparse one that shows prefilter economics). */
  /** Shared by `corpus_dsir` and `corpus_dsir_probe`: the stored-model
    * probe selects identically to the in-flight form (same data, same
    * model parameters, same seed), so both verify against this SQL. */
  private val oracleBigramSql: String =
    """WITH t AS (SELECT doc_id,
      |   [x for x in regexp_split_to_array(lower(text), '[^a-z0-9]+') if x <> ''] AS w
      |  FROM documents),
      | uni AS (SELECT u.term AS a, CAST(COUNT(*) AS BIGINT) AS ca
      |  FROM t, UNNEST(w) AS u(term) GROUP BY u.term),
      | tot AS (SELECT CAST(SUM(ca) AS BIGINT) AS total FROM uni),
      | bg AS (SELECT doc_id, w[i] AS a, w[i+1] AS b
      |  FROM t, UNNEST(range(1, len(w))) AS r(i) WHERE len(w) >= 2),
      | cb AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS cab FROM bg GROUP BY a, b),
      | scored AS (SELECT bg.doc_id,
      |   CAST(ln(0.75 * cb.cab / ua.ca + 0.25 * ub.ca / tot.total) AS DECIMAL(38,6)) AS lp
      |  FROM bg JOIN cb USING (a, b) JOIN uni ua ON bg.a = ua.a
      |   JOIN uni ub ON bg.b = ub.a, tot),
      | agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
      |   round(CAST(SUM(lp) AS DOUBLE) / COUNT(*), 6) AS avg_logprob
      |  FROM scored GROUP BY doc_id)
      |SELECT d.doc_id, COALESCE(a.n_bigrams, CAST(0 AS BIGINT)) AS n_bigrams, a.avg_logprob
      |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
      |ORDER BY d.doc_id""".stripMargin

  private val oracleDsirSql: String =
    """WITH t AS (SELECT doc_id, (source = 'src0') AS tgt,
      |   [x for x in regexp_split_to_array(lower(text), '[^a-z0-9]+') if x <> ''] AS w
      |  FROM documents),
      | tok AS (SELECT doc_id, tgt,
      |   CAST('0x' || substring(md5(u.term), 1, 6) AS BIGINT) % 4096 AS b
      |  FROM t, UNNEST(w) AS u(term)),
      | feat AS (SELECT b,
      |   CAST(SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS ct,
      |   CAST(SUM(CASE WHEN tgt THEN 0 ELSE 1 END) AS BIGINT) AS cr
      |  FROM tok GROUP BY b),
      | tot AS (SELECT CAST(SUM(ct) AS BIGINT) AS tt, CAST(SUM(cr) AS BIGINT) AS tr FROM feat),
      | ratio AS (SELECT b, CAST(ln((ct + 1.0) / (tt + 4096.0))
      |     - ln((cr + 1.0) / (tr + 4096.0)) AS DECIMAL(38,6)) AS lr FROM feat, tot),
      | wts AS (SELECT tok.doc_id, CAST(COUNT(*) AS BIGINT) AS n_feats,
      |   CAST(SUM(lr) AS DOUBLE) AS lw
      |  FROM tok JOIN ratio USING (b) WHERE NOT tgt GROUP BY tok.doc_id),
      | keyed AS (SELECT doc_id, n_feats, round(lw, 6) AS log_weight,
      |   round(lw - ln(-ln((CAST('0x' || substring(md5('dsir-v1:' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) + 0.5)
      |     / 4294967296.0)), 6) AS gumbel_key
      |  FROM wts),
      | r AS (SELECT *, CAST(row_number() OVER (ORDER BY gumbel_key DESC, doc_id) AS BIGINT) AS rk FROM keyed)
      |SELECT doc_id, n_feats, log_weight, gumbel_key, rk FROM r WHERE rk <= 40
      |ORDER BY rk""".stripMargin

  private def decontaminateOracleSql(mod: Int): String =
    s"""WITH t AS (SELECT doc_id,
      |   [x for x in regexp_split_to_array(lower(text), '[^a-z0-9]+') if x <> ''] AS w
      |  FROM documents),
      | g AS (SELECT doc_id,
      |   list_distinct([array_to_string(w[i:i+7], ' ') for i in range(1, len(w) - 6)]) AS s
      |  FROM t),
      | bench AS (SELECT DISTINCT u.gram FROM g, UNNEST(s) AS u(gram) WHERE doc_id % $mod = 0),
      | corp AS (SELECT doc_id, u.gram FROM g, UNNEST(s) AS u(gram) WHERE doc_id % $mod <> 0),
      | hits AS (SELECT c.doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
      |   FROM corp c JOIN bench b ON c.gram = b.gram GROUP BY c.doc_id)
      |SELECT d.doc_id, COALESCE(h.n_hits, CAST(0 AS BIGINT)) AS n_hits,
      | COALESCE(h.n_hits, 0) > 0 AS contaminated
      |FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
      |WHERE d.doc_id % $mod <> 0 ORDER BY d.doc_id""".stripMargin

  val oracles: Map[String, String] = Map(
    "dedup_exact" ->
      """SELECT MIN(doc_id) AS keep_id, md5(text) AS fingerprint, COUNT(*) AS dup_count
        |FROM documents GROUP BY md5(text) ORDER BY keep_id""".stripMargin,

    "dedup_jaccard" ->
      """WITH t AS (SELECT doc_id,
        |   [x for x in regexp_split_to_array(lower(text), '[^a-z0-9]+') if x <> ''] AS w
        |  FROM documents),
        | g AS (SELECT doc_id,
        |   list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)]) AS s
        |  FROM t WHERE len(w) >= 3),
        | p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |   round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |         / len(list_distinct(list_concat(a.s, b.s))), 6) AS jaccard
        |  FROM g a, g b WHERE a.doc_id < b.doc_id)
        |SELECT a_id, b_id, jaccard FROM p WHERE jaccard >= 0.8
        |ORDER BY a_id, b_id""".stripMargin,

    // min-label connected components of the exact-jaccard pair graph:
    // transitive closure by recursive CTE (the dup graph is pair-set-
    // sized, so the closure is tiny), then MIN(reachable) per node;
    // component minima label themselves and are filtered like the Spark
    // side's id != cluster_id
    "dedup_clusters" ->
      """WITH RECURSIVE
        | t AS (SELECT doc_id,
        |   [x for x in regexp_split_to_array(lower(text), '[^a-z0-9]+') if x <> ''] AS w
        |  FROM documents),
        | g AS (SELECT doc_id,
        |   list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)]) AS s
        |  FROM t WHERE len(w) >= 3),
        | p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
        |  FROM g a, g b WHERE a.doc_id < b.doc_id
        |   AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |       / len(list_distinct(list_concat(a.s, b.s))) >= 0.8),
        | e AS (SELECT a_id AS src, b_id AS dst FROM p
        |       UNION SELECT b_id, a_id FROM p),
        | reach(id, r) AS (
        |   SELECT src, src FROM e
        |   UNION
        |   SELECT reach.id, e.dst FROM reach JOIN e ON reach.r = e.src)
        |SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id
        |HAVING id <> MIN(r) ORDER BY id""".stripMargin,

    // the stored-closure probe serves the SAME deterministic label
    // table dedup_clusters computes fresh, so the oracle is identical
    "dedup_clusters_stored" ->
      """WITH RECURSIVE
        | t AS (SELECT doc_id,
        |   [x for x in regexp_split_to_array(lower(text), '[^a-z0-9]+') if x <> ''] AS w
        |  FROM documents),
        | g AS (SELECT doc_id,
        |   list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)]) AS s
        |  FROM t WHERE len(w) >= 3),
        | p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
        |  FROM g a, g b WHERE a.doc_id < b.doc_id
        |   AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |       / len(list_distinct(list_concat(a.s, b.s))) >= 0.8),
        | e AS (SELECT a_id AS src, b_id AS dst FROM p
        |       UNION SELECT b_id, a_id FROM p),
        | reach(id, r) AS (
        |   SELECT src, src FROM e
        |   UNION
        |   SELECT reach.id, e.dst FROM reach JOIN e ON reach.r = e.src)
        |SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id
        |HAVING id <> MIN(r) ORDER BY id""".stripMargin,

    // the dedup_clusters closure grouped to sizes; singletons appear as
    // the corpus count minus clustered ids (reach lacks them)
    "dedup_cluster_sizes" ->
      """WITH RECURSIVE
        | t AS (SELECT doc_id,
        |   [x for x in regexp_split_to_array(lower(text), '[^a-z0-9]+') if x <> ''] AS w
        |  FROM documents),
        | g AS (SELECT doc_id,
        |   list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)]) AS s
        |  FROM t WHERE len(w) >= 3),
        | p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
        |  FROM g a, g b WHERE a.doc_id < b.doc_id
        |   AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |       / len(list_distinct(list_concat(a.s, b.s))) >= 0.8),
        | e AS (SELECT a_id AS src, b_id AS dst FROM p
        |       UNION SELECT b_id, a_id FROM p),
        | reach(id, r) AS (
        |   SELECT src, src FROM e
        |   UNION
        |   SELECT reach.id, e.dst FROM reach JOIN e ON reach.r = e.src),
        | c AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id),
        | sz AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size FROM c GROUP BY cluster_id),
        | h AS (SELECT cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters FROM sz GROUP BY cluster_size),
        | tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
        | cl AS (SELECT CAST(COUNT(*) AS BIGINT) AS nc FROM c)
        |SELECT cluster_size, n_clusters,
        | CAST(cluster_size * n_clusters AS BIGINT) AS n_docs FROM h
        |UNION ALL
        |SELECT CAST(1 AS BIGINT), tot.n - cl.nc, tot.n - cl.nc
        |FROM tot, cl WHERE tot.n > cl.nc
        |ORDER BY cluster_size""".stripMargin,

    "corpus_sample_weighted" ->
      """WITH q AS (SELECT doc_id,
        |  round(0.4 * least(1.0, toks / 100.0) + 0.3 * (alpha / n)
        |    + 0.2 * (1.0 - (n - alpha - digits - ws) / n)
        |    + 0.1 * least(1.0, stops / toks * 5.0), 6) AS quality_score
        | FROM (SELECT doc_id,
        |   CAST(length(text) AS BIGINT) AS n,
        |   CAST(length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS BIGINT) AS alpha,
        |   CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS digits,
        |   CAST(length(text) - length(regexp_replace(text, '\s', '', 'g')) AS BIGINT) AS ws,
        |   CAST(len([x for x in regexp_split_to_array(text, '\s+') if x <> '']) AS BIGINT) AS toks,
        |   CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|a|in|is|it|that|for)\b')) AS BIGINT) AS stops
        |  FROM documents)),
        | k AS (SELECT doc_id, quality_score,
        |   round(ln((CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR) || 'graft'), 1, 8) AS BIGINT) + 1)
        |     / 4294967297.0) / quality_score, 6) AS key
        |  FROM q WHERE quality_score > 0),
        | w AS (SELECT doc_id, quality_score FROM k ORDER BY key DESC, doc_id LIMIT 50)
        |SELECT doc_id, quality_score FROM w ORDER BY doc_id""".stripMargin,

    // identical oracle: the stored score table round-trips the 6-dp
    // scores exactly, so the probe-phase sample is byte-identical
    "corpus_sample_weighted_stored" ->
      """WITH q AS (SELECT doc_id,
        |  round(0.4 * least(1.0, toks / 100.0) + 0.3 * (alpha / n)
        |    + 0.2 * (1.0 - (n - alpha - digits - ws) / n)
        |    + 0.1 * least(1.0, stops / toks * 5.0), 6) AS quality_score
        | FROM (SELECT doc_id,
        |   CAST(length(text) AS BIGINT) AS n,
        |   CAST(length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS BIGINT) AS alpha,
        |   CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS digits,
        |   CAST(length(text) - length(regexp_replace(text, '\s', '', 'g')) AS BIGINT) AS ws,
        |   CAST(len([x for x in regexp_split_to_array(text, '\s+') if x <> '']) AS BIGINT) AS toks,
        |   CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|a|in|is|it|that|for)\b')) AS BIGINT) AS stops
        |  FROM documents)),
        | k AS (SELECT doc_id, quality_score,
        |   round(ln((CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR) || 'graft'), 1, 8) AS BIGINT) + 1)
        |     / 4294967297.0) / quality_score, 6) AS key
        |  FROM q WHERE quality_score > 0),
        | w AS (SELECT doc_id, quality_score FROM k ORDER BY key DESC, doc_id LIMIT 50)
        |SELECT doc_id, quality_score FROM w ORDER BY doc_id""".stripMargin,

    // the dedup_clusters closure + the text_quality score + a
    // per-cluster argmax window — keep_id is the highest-quality member
    "dedup_canonical" ->
      """WITH RECURSIVE
        | t AS (SELECT doc_id,
        |   [x for x in regexp_split_to_array(lower(text), '[^a-z0-9]+') if x <> ''] AS w
        |  FROM documents),
        | g AS (SELECT doc_id,
        |   list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)]) AS s
        |  FROM t WHERE len(w) >= 3),
        | p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
        |  FROM g a, g b WHERE a.doc_id < b.doc_id
        |   AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |       / len(list_distinct(list_concat(a.s, b.s))) >= 0.8),
        | e AS (SELECT a_id AS src, b_id AS dst FROM p
        |       UNION SELECT b_id, a_id FROM p),
        | reach(id, r) AS (
        |   SELECT src, src FROM e
        |   UNION
        |   SELECT reach.id, e.dst FROM reach JOIN e ON reach.r = e.src),
        | lab AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id),
        | qb AS (SELECT doc_id,
        |  CAST(length(text) AS BIGINT) AS n,
        |  CAST(length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS BIGINT) AS alpha,
        |  CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS digits,
        |  CAST(length(text) - length(regexp_replace(text, '\s', '', 'g')) AS BIGINT) AS ws,
        |  CAST(len([x for x in regexp_split_to_array(text, '\s+') if x <> '']) AS BIGINT) AS toks,
        |  CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|a|in|is|it|that|for)\b')) AS BIGINT) AS stops
        | FROM documents),
        | q AS (SELECT doc_id,
        |  round(0.4 * least(1.0, toks / 100.0) + 0.3 * (alpha / n)
        |    + 0.2 * (1.0 - (n - alpha - digits - ws) / n)
        |    + 0.1 * least(1.0, stops / toks * 5.0), 6) AS quality_score
        | FROM qb),
        | m AS (SELECT lab.id AS doc_id, lab.cluster_id, q.quality_score
        |  FROM lab JOIN q ON lab.id = q.doc_id),
        | k AS (SELECT doc_id, cluster_id, quality_score,
        |   first_value(doc_id) OVER (PARTITION BY cluster_id
        |     ORDER BY quality_score DESC, doc_id) AS keep_id
        |  FROM m)
        |SELECT doc_id, cluster_id, quality_score, keep_id,
        | doc_id = keep_id AS kept
        |FROM k ORDER BY doc_id""".stripMargin,

    "emb_clusters" ->
      """WITH RECURSIVE
        | e0 AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
        | n AS (SELECT vec_id, v, sqrt(list_sum([y*y for y in v])) AS norm FROM e0),
        | p AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id
        |  FROM n a, n b WHERE a.vec_id < b.vec_id
        |   AND round(list_sum([a.v[i] * b.v[i] for i in range(1, len(a.v) + 1)])
        |       / (a.norm * b.norm), 6) >= 0.45),
        | e AS (SELECT a_id AS src, b_id AS dst FROM p
        |       UNION SELECT b_id, a_id FROM p),
        | reach(id, r) AS (
        |   SELECT src, src FROM e
        |   UNION
        |   SELECT reach.id, e.dst FROM reach JOIN e ON reach.r = e.src)
        |SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id
        |HAVING id <> MIN(r) ORDER BY id""".stripMargin,

    "dedup_embedding" ->
      """WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
        | n AS (SELECT vec_id, v, sqrt(list_sum([y*y for y in v])) AS norm FROM e),
        | p AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |   round(list_sum([a.v[i] * b.v[i] for i in range(1, len(a.v) + 1)])
        |         / (a.norm * b.norm), 6) AS cosine
        |  FROM n a, n b WHERE a.vec_id < b.vec_id)
        |SELECT a_id, b_id, cosine FROM p WHERE cosine >= 0.45
        |ORDER BY a_id, b_id""".stripMargin,

    "knn_brute" ->
      """WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
        | n AS (SELECT vec_id, v, sqrt(list_sum([y*y for y in v])) AS norm FROM e),
        | q AS (SELECT vec_id AS q_id, v AS qv, norm AS qnorm FROM n WHERE vec_id < 10),
        | s AS (SELECT q.q_id, n.vec_id AS n_id,
        |   round(list_sum([q.qv[i] * n.v[i] for i in range(1, len(q.qv) + 1)])
        |         / (q.qnorm * n.norm), 6) AS cos_sim
        |  FROM q, n WHERE q.q_id != n.vec_id),
        | r AS (SELECT q_id, n_id, cos_sim,
        |   CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, n_id) AS BIGINT) AS rank
        |  FROM s)
        |SELECT q_id, n_id, rank, cos_sim FROM r WHERE rank <= 10
        |ORDER BY q_id, rank""".stripMargin,

    "knn_filtered" ->
      """WITH e AS (SELECT vec_id, label, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
        | n0 AS (SELECT vec_id, label, v, sqrt(list_sum([y*y for y in v])) AS norm FROM e),
        | q AS (SELECT vec_id AS q_id, v AS qv, norm AS qnorm FROM n0 WHERE vec_id < 10),
        | n AS (SELECT vec_id, v, norm FROM n0 WHERE label IN (1, 3, 5)),
        | s AS (SELECT q.q_id, n.vec_id AS n_id,
        |   round(list_sum([q.qv[i] * n.v[i] for i in range(1, len(q.qv) + 1)])
        |         / (q.qnorm * n.norm), 6) AS cos_sim
        |  FROM q, n WHERE q.q_id != n.vec_id),
        | r AS (SELECT q_id, n_id, cos_sim,
        |   CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, n_id) AS BIGINT) AS rank
        |  FROM s)
        |SELECT q_id, n_id, rank, cos_sim FROM r WHERE rank <= 10
        |ORDER BY q_id, rank""".stripMargin,

    "text_tokens" ->
      """SELECT doc_id,
        | CAST(len([x for x in regexp_split_to_array(text, '\s+') if x <> '']) AS BIGINT) AS ws_tokens,
        | CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS BIGINT) AS bpe_tokens,
        | CAST(length(text) AS BIGINT) AS n_chars_calc
        |FROM documents ORDER BY doc_id""".stripMargin,

    "text_quality" ->
      """WITH b AS (SELECT doc_id,
        |  CAST(length(text) AS BIGINT) AS n,
        |  CAST(length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS BIGINT) AS alpha,
        |  CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS digits,
        |  CAST(length(text) - length(regexp_replace(text, '\s', '', 'g')) AS BIGINT) AS ws,
        |  CAST(len([x for x in regexp_split_to_array(text, '\s+') if x <> '']) AS BIGINT) AS toks,
        |  CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|a|in|is|it|that|for)\b')) AS BIGINT) AS stops
        | FROM documents)
        |SELECT doc_id, n AS n_chars_calc, toks AS n_tokens,
        | round(alpha / n, 6) AS alpha_ratio,
        | round((n - alpha - digits - ws) / n, 6) AS punct_ratio,
        | round(stops / toks, 6) AS stopword_ratio,
        | round(0.4 * least(1.0, toks / 100.0) + 0.3 * (alpha / n)
        |   + 0.2 * (1.0 - (n - alpha - digits - ws) / n)
        |   + 0.1 * least(1.0, stops / toks * 5.0), 6) AS quality_score
        |FROM b ORDER BY doc_id""".stripMargin,

    "corpus_funnel" ->
      """WITH b AS (SELECT doc_id, lang, n_chars,
        |  CAST(row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS BIGINT) AS dup_rk,
        |  CAST(length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS BIGINT) AS alpha,
        |  CAST(length(text) AS BIGINT) AS n
        | FROM documents),
        | s AS (SELECT CASE
        |    WHEN n_chars < 80 THEN 'too_short'
        |    WHEN lang NOT IN ('en','de','fr','es') THEN 'lang_filtered'
        |    WHEN alpha / n < 0.55 THEN 'low_alpha'
        |    WHEN dup_rk > 1 THEN 'exact_dup'
        |    ELSE 'kept' END AS stage, n_chars FROM b),
        | g AS (SELECT stage, CAST(COUNT(*) AS BIGINT) AS docs,
        |    CAST(SUM(n_chars) AS BIGINT) AS chars FROM s GROUP BY stage)
        |SELECT CAST(CASE stage WHEN 'too_short' THEN 0 WHEN 'lang_filtered' THEN 1
        |    WHEN 'low_alpha' THEN 2 WHEN 'exact_dup' THEN 3 ELSE 4 END AS BIGINT) AS stage_idx,
        | stage, docs, chars,
        | round(docs / (SELECT SUM(docs) FROM g), 6) AS doc_share
        |FROM g ORDER BY stage_idx""".stripMargin,

    "emb_hard_negatives" ->
      """WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS lbl,
        |   [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
        | n AS (SELECT vec_id, lbl, v, sqrt(list_sum([y*y for y in v])) AS norm FROM e),
        | q AS (SELECT vec_id AS q_id, lbl AS q_label, v AS qv, norm AS qnorm FROM n WHERE vec_id < 10),
        | s AS (SELECT q.q_id, q.q_label, n.vec_id AS n_id, n.lbl AS n_label,
        |   round(list_sum([q.qv[i] * n.v[i] for i in range(1, len(q.qv) + 1)])
        |         / (q.qnorm * n.norm), 6) AS cos_sim
        |  FROM q, n WHERE q.q_id != n.vec_id AND q.q_label != n.lbl),
        | r AS (SELECT q_id, q_label, n_id, n_label, cos_sim,
        |   CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, n_id) AS BIGINT) AS rank
        |  FROM s)
        |SELECT q_id, q_label, n_id, n_label, rank, cos_sim FROM r WHERE rank <= 5
        |ORDER BY q_id, rank""".stripMargin,

    "corpus_forget" ->
      """SELECT source,
        | CAST(sum(CASE WHEN doc_id % 17 = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_deleted,
        | CAST(sum(CASE WHEN doc_id % 17 = 3 THEN 0 ELSE 1 END) AS BIGINT) AS n_kept,
        | CAST(sum(CASE WHEN doc_id % 17 = 3 THEN length(text) ELSE 0 END) AS BIGINT) AS chars_deleted
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    "corpus_diff" ->
      """WITH o AS (SELECT doc_id, md5(text) AS fp FROM documents WHERE doc_id % 5 <> 4),
        | n AS (SELECT doc_id, md5(CASE WHEN doc_id % 7 = 0 THEN text || ' [v2]' ELSE text END) AS fp
        |  FROM documents WHERE doc_id % 5 <> 0)
        |SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
        | CASE WHEN o.doc_id IS NULL THEN 'added'
        |      WHEN n.doc_id IS NULL THEN 'removed'
        |      WHEN o.fp <> n.fp THEN 'changed' ELSE 'unchanged' END AS change
        |FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
        |ORDER BY doc_id""".stripMargin,

    "text_heavy_hitters" ->
      """WITH w AS (SELECT
        |   [x for x in regexp_split_to_array(lower(text), '[^a-z0-9]+') if x <> ''] AS ws
        |  FROM documents),
        | t AS (SELECT u.term FROM w, UNNEST(ws) AS u(term)),
        | c AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS n FROM t GROUP BY term)
        |SELECT term, n,
        | CAST(row_number() OVER (ORDER BY n DESC, term) AS BIGINT) AS rk
        |FROM c ORDER BY n DESC, term LIMIT 20""".stripMargin,

    "corpus_sample_exact" ->
      """WITH r AS (SELECT doc_id, source, lang,
        |   md5(CAST(doc_id AS VARCHAR) || 'graft') AS h
        |  FROM documents ORDER BY h, doc_id LIMIT 100)
        |SELECT doc_id, source, lang FROM r ORDER BY doc_id""".stripMargin,

    "text_heavy_hitters_grouped" ->
      """WITH w AS (SELECT lang,
        |   [x for x in regexp_split_to_array(lower(text), '[^a-z0-9]+') if x <> ''] AS ws
        |  FROM documents),
        | t AS (SELECT w.lang AS grp, u.term FROM w, UNNEST(ws) AS u(term)),
        | c AS (SELECT grp, term, CAST(COUNT(*) AS BIGINT) AS n FROM t GROUP BY grp, term),
        | r AS (SELECT grp, term, n,
        |   CAST(row_number() OVER (PARTITION BY grp ORDER BY n DESC, term) AS BIGINT) AS rk
        |  FROM c)
        |SELECT grp, term, n, rk FROM r WHERE rk <= 10
        |ORDER BY grp, rk""".stripMargin,

    "corpus_drift" ->
      """WITH o AS (SELECT * FROM documents WHERE doc_id % 5 <> 4),
        | n AS (SELECT * FROM documents WHERE doc_id % 5 <> 0),
        | oc AS (
        |  SELECT 'lang' AS dim, CAST(lang AS VARCHAR) AS cell, CAST(COUNT(*) AS BIGINT) AS n_old FROM o GROUP BY 2
        |  UNION ALL SELECT 'source', CAST(source AS VARCHAR), CAST(COUNT(*) AS BIGINT) FROM o GROUP BY 2
        |  UNION ALL SELECT 'len_bucket', CAST(n_chars // 256 AS VARCHAR), CAST(COUNT(*) AS BIGINT) FROM o GROUP BY 2),
        | nc AS (
        |  SELECT 'lang' AS dim, CAST(lang AS VARCHAR) AS cell, CAST(COUNT(*) AS BIGINT) AS n_new FROM n GROUP BY 2
        |  UNION ALL SELECT 'source', CAST(source AS VARCHAR), CAST(COUNT(*) AS BIGINT) FROM n GROUP BY 2
        |  UNION ALL SELECT 'len_bucket', CAST(n_chars // 256 AS VARCHAR), CAST(COUNT(*) AS BIGINT) FROM n GROUP BY 2),
        | j AS (SELECT COALESCE(oc.dim, nc.dim) AS dim, COALESCE(oc.cell, nc.cell) AS cell,
        |  COALESCE(n_old, CAST(0 AS BIGINT)) AS n_old, COALESCE(n_new, CAST(0 AS BIGINT)) AS n_new
        |  FROM oc FULL OUTER JOIN nc ON oc.dim = nc.dim AND oc.cell = nc.cell),
        | sh AS (SELECT dim, cell, n_old, n_new,
        |  round(CAST(n_old AS DOUBLE) / SUM(n_old) OVER (PARTITION BY dim), 6) AS share_old,
        |  round(CAST(n_new AS DOUBLE) / SUM(n_new) OVER (PARTITION BY dim), 6) AS share_new
        |  FROM j)
        |SELECT dim, cell, n_old, n_new, share_old, share_new,
        | round(abs(share_new - share_old), 6) AS drift
        |FROM sh ORDER BY dim, cell""".stripMargin,

    "corpus_select_budget" ->
      """WITH b AS (SELECT doc_id,
        |  CAST(length(text) AS BIGINT) AS n,
        |  CAST(length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS BIGINT) AS alpha,
        |  CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS digits,
        |  CAST(length(text) - length(regexp_replace(text, '\s', '', 'g')) AS BIGINT) AS ws,
        |  CAST(len([x for x in regexp_split_to_array(text, '\s+') if x <> '']) AS BIGINT) AS toks,
        |  CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|a|in|is|it|that|for)\b')) AS BIGINT) AS stops
        | FROM documents),
        |q AS (SELECT doc_id, toks AS n_tokens,
        |  round(0.4 * least(1.0, toks / 100.0) + 0.3 * (alpha / n)
        |    + 0.2 * (1.0 - (n - alpha - digits - ws) / n)
        |    + 0.1 * least(1.0, stops / toks * 5.0), 6) AS quality_score
        | FROM b WHERE n > 0 AND toks > 0),
        |c AS (SELECT doc_id, n_tokens, quality_score,
        |  CAST(sum(n_tokens) OVER (ORDER BY quality_score DESC, doc_id) AS BIGINT) AS cum_tokens
        | FROM q)
        |SELECT doc_id, n_tokens, quality_score, cum_tokens FROM c
        |WHERE cum_tokens <= 9000 ORDER BY doc_id""".stripMargin,

    "corpus_shuffle" ->
      """SELECT doc_id,
        | CAST(row_number() OVER (
        |   ORDER BY md5('42:' || CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS shuffle_pos
        |FROM documents ORDER BY doc_id""".stripMargin,

    // line table via array indexing (generate_series keeps line order),
    // doc-frequency per normalized line, rebuild drops flagged lines;
    // string_agg(NULL-skipping) mirrors the Spark side's collect_list
    "text_boilerplate" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(text, chr(10)) AS a FROM documents),
        | l AS (SELECT doc_id, s.pos AS pos, a[s.pos] AS line, trim(lower(a[s.pos])) AS norm
        |  FROM t, UNNEST(generate_series(1, len(a))) AS s(pos)),
        | f AS (SELECT norm FROM l WHERE norm <> ''
        |  GROUP BY norm HAVING COUNT(DISTINCT doc_id) >= 3),
        | fl AS (SELECT l.doc_id, l.pos, l.line,
        |   CASE WHEN f.norm IS NOT NULL THEN 1 ELSE 0 END AS boiler
        |  FROM l LEFT JOIN f ON l.norm = f.norm)
        |SELECT doc_id,
        | CAST(COUNT(*) AS BIGINT) AS n_lines,
        | CAST(SUM(boiler) AS BIGINT) AS n_boiler,
        | round(SUM(boiler) / COUNT(*), 6) AS boiler_fraction,
        | md5(coalesce(string_agg(CASE WHEN boiler = 0 THEN line END, chr(10) ORDER BY pos), ''))
        |   AS clean_md5
        |FROM fl GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "text_langid" ->
      """WITH c AS (SELECT doc_id,
        |  CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|is|in|that|it|for|on)\b')) AS BIGINT) AS cnt_en,
        |  CAST(len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|nicht|mit|ein|zu|den)\b')) AS BIGINT) AS cnt_de,
        |  CAST(len(regexp_extract_all(lower(text), '\b(le|la|les|et|est|dans|pour|que|une|des)\b')) AS BIGINT) AS cnt_fr,
        |  CAST(len(regexp_extract_all(lower(text), '\b(el|los|las|es|en|que|por|con|para|una)\b')) AS BIGINT) AS cnt_es,
        |  CAST(len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) AS BIGINT) AS cnt_cjk
        | FROM documents)
        |SELECT doc_id, cnt_en, cnt_de, cnt_fr, cnt_es, cnt_cjk,
        | CASE WHEN cnt_cjk > 0 THEN 'zh'
        |  WHEN cnt_en = 0 AND cnt_de = 0 AND cnt_fr = 0 AND cnt_es = 0 THEN 'unknown'
        |  WHEN cnt_en >= cnt_de AND cnt_en >= cnt_fr AND cnt_en >= cnt_es THEN 'en'
        |  WHEN cnt_de >= cnt_fr AND cnt_de >= cnt_es THEN 'de'
        |  WHEN cnt_fr >= cnt_es THEN 'fr' ELSE 'es' END AS lang_pred
        |FROM c ORDER BY doc_id""".stripMargin,

    "text_fingerprint" ->
      """WITH t AS (SELECT doc_id, text,
        |   [x for x in regexp_split_to_array(lower(text), '[^a-z0-9]+') if x <> ''] AS w
        |  FROM documents),
        | g AS (SELECT doc_id, text,
        |   list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]
        |                  for i in range(1, len(w) - 3)]) AS s
        |  FROM t)
        |SELECT doc_id, md5(text) AS content_md5,
        | list_aggregate([md5(x) for x in s], 'min') AS shingle_sig,
        | CAST(len(s) AS BIGINT) AS n_shingles
        |FROM g ORDER BY doc_id""".stripMargin,

    "multimodal_meta" ->
      """SELECT doc_id,
        | CASE WHEN doc_id % 3 = 0 THEN 'jpeg' WHEN doc_id % 3 = 1 THEN 'png' ELSE 'webp' END AS format,
        | CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        | CAST(64 + (doc_id % 8) * 32 AS BIGINT) AS width,
        | CAST(64 + (doc_id % 5) * 48 AS BIGINT) AS height,
        | md5(text) AS content_md5
        |FROM documents ORDER BY doc_id""".stripMargin,

    "text_tfidf" ->
      """WITH toks AS (
        | SELECT doc_id, u.term AS term
        | FROM documents,
        |  UNNEST([x for x in regexp_split_to_array(lower(text), '[^a-z0-9]+') if x <> '']) AS u(term)),
        |tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2),
        |dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
        |scored AS (
        | SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
        |  round(tf.tf * (ln((n.n_docs + 1.0) / (dfreq.df + 1.0)) + 1.0), 6) AS tfidf
        | FROM tf, dfreq, n WHERE tf.term = dfreq.term),
        |ranked AS (
        | SELECT doc_id, term, tf, df, tfidf,
        |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS BIGINT) AS rk
        | FROM scored)
        |SELECT doc_id, term, tf, df, tfidf, rk FROM ranked WHERE rk <= 10
        |ORDER BY doc_id, rk""".stripMargin,

    "text_normalize" ->
      """WITH n AS (SELECT doc_id, text,
        |  trim(
        |   regexp_replace(
        |    regexp_replace(
        |     regexp_replace(
        |      regexp_replace(
        |       regexp_replace(nfc_normalize(text), '\r\n?', chr(10), 'g'),
        |       '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'),
        |      '[ \t]+', ' ', 'g'),
        |     ' *\n *', chr(10), 'g'),
        |    '\n{3,}', chr(10) || chr(10), 'g'),
        |   ' ' || chr(10)) AS norm_text
        | FROM documents)
        |SELECT doc_id, md5(norm_text) AS norm_md5,
        | CAST(length(text) AS BIGINT) AS n_chars_raw,
        | CAST(length(norm_text) AS BIGINT) AS n_chars_norm,
        | norm_text <> text AS changed
        |FROM n ORDER BY doc_id""".stripMargin,

    "corpus_datasheet" ->
      """WITH b AS (SELECT lang, source, text, md5(text) AS fp,
        |  CAST(len([x for x in regexp_split_to_array(text, '\s+') if x <> '']) AS BIGINT) AS toks,
        |  CASE WHEN regexp_matches(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')
        |     OR regexp_matches(text, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')
        |     OR regexp_matches(text, '\+?[0-9][0-9()\- ]{7,14}[0-9]')
        |   THEN 1 ELSE 0 END AS pii
        | FROM documents)
        |SELECT lang, source,
        | CAST(COUNT(*) AS BIGINT) AS n_docs,
        | CAST(SUM(length(text)) AS BIGINT) AS n_chars,
        | CAST(SUM(toks) AS BIGINT) AS n_tokens,
        | CAST(COUNT(*) - COUNT(DISTINCT fp) AS BIGINT) AS dup_docs,
        | CAST(SUM(pii) AS BIGINT) AS pii_docs
        |FROM b GROUP BY ROLLUP(lang, source)
        |ORDER BY lang NULLS FIRST, source NULLS FIRST""".stripMargin,

    "text_redact" ->
      """SELECT doc_id,
        | CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        | CAST(len(regexp_extract_all(text, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS BIGINT) AS n_ips,
        | CAST(len(regexp_extract_all(text, '\+?[0-9][0-9()\- ]{7,14}[0-9]')) AS BIGINT) AS n_phones,
        | md5(regexp_replace(regexp_replace(regexp_replace(text,
        |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |   '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g'),
        |   '\+?[0-9][0-9()\- ]{7,14}[0-9]', '<PHONE>', 'g')) AS redacted_md5
        |FROM documents ORDER BY doc_id""".stripMargin,

    "emb_centroids" ->
      """WITH e AS (SELECT label, CAST(s.pos AS BIGINT) AS pos,
        |   CAST(embedding[s.pos] AS DOUBLE) AS v
        |  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS s(pos))
        |SELECT label, pos,
        | round(CAST(SUM(CAST(v AS DECIMAL(38,6))) AS DOUBLE) / COUNT(v), 6) AS centroid,
        | CAST(COUNT(*) AS BIGINT) AS n_vecs
        |FROM e GROUP BY label, pos ORDER BY label, pos""".stripMargin,

    "emb_triplets" ->
      """WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
        | n AS (SELECT vec_id, v, sqrt(list_sum([y*y for y in v])) AS norm FROM e),
        | p AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |   round(list_sum([a.v[i] * b.v[i] for i in range(1, len(a.v) + 1)])
        |         / (a.norm * b.norm), 6) AS cosine
        |  FROM n a, n b WHERE a.vec_id < b.vec_id),
        | sym AS (SELECT a_id AS anchor_id, b_id AS cand, cosine FROM p
        |   UNION ALL SELECT b_id, a_id, cosine FROM p),
        | pos AS (SELECT anchor_id, cand, cosine,
        |   row_number() OVER (PARTITION BY anchor_id ORDER BY cosine DESC, cand) AS rk
        |  FROM sym WHERE cosine >= 0.45),
        | neg AS (SELECT anchor_id, cand, cosine,
        |   row_number() OVER (PARTITION BY anchor_id ORDER BY cosine DESC, cand) AS rk
        |  FROM sym WHERE cosine < 0.45)
        |SELECT pp.anchor_id, pp.cand AS pos_id, pp.cosine AS pos_cos,
        | nn.cand AS neg_id, nn.cosine AS neg_cos,
        | round(pp.cosine - nn.cosine, 6) AS gap
        |FROM (SELECT * FROM pos WHERE rk = 1) pp
        |JOIN (SELECT * FROM neg WHERE rk = 1) nn USING (anchor_id)
        |ORDER BY anchor_id""".stripMargin,

    "emb_classify" ->
      """WITH e AS (SELECT vec_id, label, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
        | tr AS (SELECT label AS cl, CAST(s.pos AS BIGINT) AS pos, CAST(v[s.pos] AS DOUBLE) AS x
        |  FROM e, UNNEST(generate_series(1, len(v))) AS s(pos) WHERE vec_id % 5 <> 0),
        | c AS (SELECT cl, pos, round(CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE) / COUNT(x), 6) AS cc
        |  FROM tr GROUP BY cl, pos),
        | cv AS (SELECT cl, list(cc ORDER BY pos) AS cvec FROM c GROUP BY cl),
        | cn AS (SELECT cl, cvec, sqrt(list_sum([y*y for y in cvec])) AS cnorm FROM cv),
        | n AS (SELECT vec_id, label, v, sqrt(list_sum([y*y for y in v])) AS norm FROM e),
        | s AS (SELECT n.vec_id, n.label, cn.cl,
        |   round(list_sum([n.v[i] * cn.cvec[i] for i in range(1, len(n.v) + 1)])
        |         / (n.norm * cn.cnorm), 6) AS cos
        |  FROM n, cn),
        | r AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cl) AS rk FROM s)
        |SELECT b.vec_id, b.label, (b.vec_id % 5 <> 0) AS in_train,
        | b.cl AS pred_label, b.cos AS pred_cos,
        | round(b.cos - s2.cos, 6) AS margin
        |FROM (SELECT * FROM r WHERE rk = 1) b
        |JOIN (SELECT vec_id, cos FROM r WHERE rk = 2) s2 USING (vec_id)
        |ORDER BY vec_id""".stripMargin,

    // byte-identical by construction: both paths score against the
    // same 6-dp centroid table
    "emb_classify_stored" ->
      """WITH e AS (SELECT vec_id, label, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
        | tr AS (SELECT label AS cl, CAST(s.pos AS BIGINT) AS pos, CAST(v[s.pos] AS DOUBLE) AS x
        |  FROM e, UNNEST(generate_series(1, len(v))) AS s(pos) WHERE vec_id % 5 <> 0),
        | c AS (SELECT cl, pos, round(CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE) / COUNT(x), 6) AS cc
        |  FROM tr GROUP BY cl, pos),
        | cv AS (SELECT cl, list(cc ORDER BY pos) AS cvec FROM c GROUP BY cl),
        | cn AS (SELECT cl, cvec, sqrt(list_sum([y*y for y in cvec])) AS cnorm FROM cv),
        | n AS (SELECT vec_id, label, v, sqrt(list_sum([y*y for y in v])) AS norm FROM e),
        | s AS (SELECT n.vec_id, n.label, cn.cl,
        |   round(list_sum([n.v[i] * cn.cvec[i] for i in range(1, len(n.v) + 1)])
        |         / (n.norm * cn.cnorm), 6) AS cos
        |  FROM n, cn),
        | r AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cl) AS rk FROM s)
        |SELECT b.vec_id, b.label, (b.vec_id % 5 <> 0) AS in_train,
        | b.cl AS pred_label, b.cos AS pred_cos,
        | round(b.cos - s2.cos, 6) AS margin
        |FROM (SELECT * FROM r WHERE rk = 1) b
        |JOIN (SELECT vec_id, cos FROM r WHERE rk = 2) s2 USING (vec_id)
        |ORDER BY vec_id""".stripMargin,

    "dedup_incremental" ->
      """WITH inc AS (SELECT doc_id, source, text, md5(text) AS fp
        |  FROM documents WHERE doc_id >= 250),
        | seen AS (SELECT DISTINCT md5(text) AS fp FROM documents WHERE doc_id < 250),
        | kept AS (SELECT doc_id, source, fp,
        |   row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rk FROM inc)
        |SELECT doc_id, source FROM kept
        |WHERE rk = 1 AND fp NOT IN (SELECT fp FROM seen)
        |ORDER BY doc_id""".stripMargin,

    // same ground-truth shape as dedup_embedding_incr, on the probe
    // entry's deployment-shaped %10 split (the stored model's cell
    // candidates must reproduce the all-pairs answer exactly)
    "dedup_embedding_probe" ->
      """WITH e AS (SELECT vec_id, label, [CAST(x AS DOUBLE) for x in embedding] AS v
        |  FROM embeddings),
        | n AS (SELECT vec_id, label, v, sqrt(list_sum([y*y for y in v])) AS norm FROM e),
        | inc AS (SELECT * FROM n WHERE vec_id % 10 = 0),
        | ex AS (SELECT * FROM n WHERE vec_id % 10 <> 0),
        | crossdup AS (SELECT i.vec_id FROM inc i, ex x
        |  WHERE round(list_sum([i.v[j] * x.v[j] for j in range(1, len(i.v) + 1)])
        |        / (i.norm * x.norm), 6) >= 0.45),
        | selfdup AS (SELECT b.vec_id FROM inc a, inc b WHERE a.vec_id < b.vec_id
        |  AND round(list_sum([a.v[j] * b.v[j] for j in range(1, len(a.v) + 1)])
        |        / (a.norm * b.norm), 6) >= 0.45),
        | dropped AS (SELECT vec_id FROM crossdup UNION SELECT vec_id FROM selfdup)
        |SELECT e2.vec_id, e2.label FROM embeddings e2
        |WHERE e2.vec_id % 10 = 0 AND e2.vec_id NOT IN (SELECT vec_id FROM dropped)
        |ORDER BY e2.vec_id""".stripMargin,

    "dedup_embedding_incr" ->
      """WITH e AS (SELECT vec_id, label, [CAST(x AS DOUBLE) for x in embedding] AS v
        |  FROM embeddings),
        | n AS (SELECT vec_id, label, v, sqrt(list_sum([y*y for y in v])) AS norm FROM e),
        | inc AS (SELECT * FROM n WHERE vec_id >= 250),
        | ex AS (SELECT * FROM n WHERE vec_id < 250),
        | crossdup AS (SELECT i.vec_id FROM inc i, ex x
        |  WHERE round(list_sum([i.v[j] * x.v[j] for j in range(1, len(i.v) + 1)])
        |        / (i.norm * x.norm), 6) >= 0.45),
        | selfdup AS (SELECT b.vec_id FROM inc a, inc b WHERE a.vec_id < b.vec_id
        |  AND round(list_sum([a.v[j] * b.v[j] for j in range(1, len(a.v) + 1)])
        |        / (a.norm * b.norm), 6) >= 0.45),
        | dropped AS (SELECT vec_id FROM crossdup UNION SELECT vec_id FROM selfdup)
        |SELECT e2.vec_id, e2.label FROM embeddings e2
        |WHERE e2.vec_id >= 250 AND e2.vec_id NOT IN (SELECT vec_id FROM dropped)
        |ORDER BY e2.vec_id""".stripMargin,

    // same ground truth as dedup_neardup_incr: the stored-state probe
    // shares nearDupStateStep with the in-flight form, and candidate
    // recall is total at the oracle SF (spec-certified), so the
    // survivor set is identical
    "dedup_neardup_probe" ->
      """WITH t AS (SELECT doc_id,
        |   [x for x in regexp_split_to_array(lower(text), '[^a-z0-9]+') if x <> ''] AS w
        |  FROM documents),
        | g AS (SELECT doc_id,
        |   list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)]) AS s
        |  FROM t WHERE len(w) >= 3),
        | inc AS (SELECT * FROM g WHERE doc_id >= 250),
        | ex AS (SELECT * FROM g WHERE doc_id < 250),
        | crossdup AS (SELECT i.doc_id FROM inc i, ex e
        |  WHERE round(CAST(len(list_intersect(i.s, e.s)) AS DOUBLE)
        |        / len(list_distinct(list_concat(i.s, e.s))), 6) >= 0.8),
        | selfdup AS (SELECT b.doc_id FROM inc a, inc b WHERE a.doc_id < b.doc_id
        |  AND round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |        / len(list_distinct(list_concat(a.s, b.s))), 6) >= 0.8),
        | dropped AS (SELECT doc_id FROM crossdup UNION SELECT doc_id FROM selfdup)
        |SELECT d.doc_id, d.source FROM documents d
        |WHERE d.doc_id >= 250 AND d.doc_id NOT IN (SELECT doc_id FROM dropped)
        |ORDER BY d.doc_id""".stripMargin,

    "dedup_neardup_incr" ->
      """WITH t AS (SELECT doc_id,
        |   [x for x in regexp_split_to_array(lower(text), '[^a-z0-9]+') if x <> ''] AS w
        |  FROM documents),
        | g AS (SELECT doc_id,
        |   list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)]) AS s
        |  FROM t WHERE len(w) >= 3),
        | inc AS (SELECT * FROM g WHERE doc_id >= 250),
        | ex AS (SELECT * FROM g WHERE doc_id < 250),
        | crossdup AS (SELECT i.doc_id FROM inc i, ex e
        |  WHERE round(CAST(len(list_intersect(i.s, e.s)) AS DOUBLE)
        |        / len(list_distinct(list_concat(i.s, e.s))), 6) >= 0.8),
        | selfdup AS (SELECT b.doc_id FROM inc a, inc b WHERE a.doc_id < b.doc_id
        |  AND round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |        / len(list_distinct(list_concat(a.s, b.s))), 6) >= 0.8),
        | dropped AS (SELECT doc_id FROM crossdup UNION SELECT doc_id FROM selfdup)
        |SELECT d.doc_id, d.source FROM documents d
        |WHERE d.doc_id >= 250 AND d.doc_id NOT IN (SELECT doc_id FROM dropped)
        |ORDER BY d.doc_id""".stripMargin,

    "text_unigram_lp" ->
      """WITH toks AS (SELECT doc_id, u.term AS term
        |  FROM documents,
        |   UNNEST([x for x in regexp_split_to_array(lower(text), '[^a-z0-9]+') if x <> '']) AS u(term)),
        | vocab AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY term),
        | tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM toks),
        | scored AS (SELECT t.doc_id, CAST(ln(v.c / tot.total) AS DECIMAL(38,6)) AS lp
        |  FROM toks t JOIN vocab v ON t.term = v.term, tot),
        | agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_toks,
        |   round(CAST(SUM(lp) AS DOUBLE) / COUNT(*), 6) AS avg_logprob
        |  FROM scored GROUP BY doc_id)
        |SELECT d.doc_id, COALESCE(a.n_toks, CAST(0 AS BIGINT)) AS n_toks, a.avg_logprob
        |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    "text_bigram_lp" -> oracleBigramSql,

    // the stored probe scores the LM's own training pool through the
    // shared tail (every count present), so its oracle is verbatim
    "text_bigram_lp_stored" -> oracleBigramSql,

    "text_quality_blend" ->
      """WITH w AS (SELECT doc_id,
        |   [x for x in regexp_split_to_array(lower(text), '[^a-z0-9]+') if x <> ''] AS w
        |  FROM documents),
        | q AS (SELECT doc_id,
        |   round(0.4 * least(1.0, toks / 100.0) + 0.3 * (alpha / n)
        |     + 0.2 * (1.0 - (n - alpha - digits - ws) / n)
        |     + 0.1 * least(1.0, stops / toks * 5.0), 6) AS quality_score
        |  FROM (SELECT doc_id,
        |    CAST(length(text) AS BIGINT) AS n,
        |    CAST(length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS BIGINT) AS alpha,
        |    CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS digits,
        |    CAST(length(text) - length(regexp_replace(text, '\s', '', 'g')) AS BIGINT) AS ws,
        |    CAST(len([x for x in regexp_split_to_array(text, '\s+') if x <> '']) AS BIGINT) AS toks,
        |    CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|a|in|is|it|that|for)\b')) AS BIGINT) AS stops
        |   FROM documents)),
        | toks AS (SELECT doc_id, u.term AS term FROM w, UNNEST(w.w) AS u(term)),
        | vocab AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY term),
        | tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM toks),
        | lp AS (SELECT doc_id,
        |   round(CAST(SUM(CAST(ln(v.c / tot.total) AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*), 6) AS avg_logprob
        |  FROM toks t JOIN vocab v ON t.term = v.term, tot GROUP BY doc_id),
        | rep AS (SELECT doc_id, CASE WHEN len(w) = 0 THEN 0.0
        |   ELSE round(CAST(len(list_distinct(w)) AS DOUBLE) / len(w), 6) END AS uniq_ratio FROM w),
        | j AS (SELECT q.doc_id, q.quality_score,
        |   greatest(coalesce(lp.avg_logprob, CAST(-30.0 AS DOUBLE)), CAST(-30.0 AS DOUBLE)) AS lm_score,
        |   coalesce(rep.uniq_ratio, 0.0) AS uniq_ratio
        |  FROM q LEFT JOIN lp ON q.doc_id = lp.doc_id
        |  LEFT JOIN rep ON q.doc_id = rep.doc_id),
        | p AS (SELECT doc_id,
        |   round(CAST(percent_rank() OVER (ORDER BY quality_score) AS DOUBLE), 6) AS pr_quality,
        |   round(CAST(percent_rank() OVER (ORDER BY lm_score) AS DOUBLE), 6) AS pr_lm,
        |   round(CAST(percent_rank() OVER (ORDER BY uniq_ratio) AS DOUBLE), 6) AS pr_uniq
        |  FROM j)
        |SELECT doc_id, pr_quality, pr_lm, pr_uniq,
        | round((pr_quality + pr_lm + pr_uniq) / 3, 6) AS blend
        |FROM p ORDER BY doc_id""".stripMargin,

    "emb_drift" ->
      """WITH e AS (SELECT vec_id, label, CAST(s.pos AS BIGINT) AS pos,
        |   CAST(embedding[s.pos] AS DOUBLE) AS v
        |  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS s(pos)),
        | o AS (SELECT label, pos,
        |   round(CAST(SUM(CAST(v AS DECIMAL(38,6))) AS DOUBLE) / COUNT(v), 6) AS c_old,
        |   CAST(COUNT(*) AS BIGINT) AS n_old
        |  FROM e WHERE vec_id % 5 <> 4 GROUP BY label, pos),
        | n AS (SELECT label, pos,
        |   round(CAST(SUM(CAST(v AS DECIMAL(38,6))) AS DOUBLE) / COUNT(v), 6) AS c_new,
        |   CAST(COUNT(*) AS BIGINT) AS n_new
        |  FROM e WHERE vec_id % 5 <> 0 GROUP BY label, pos),
        | g AS (SELECT COALESCE(o.label, n.label) AS label,
        |   MAX(o.n_old) AS n_old, MAX(n.n_new) AS n_new,
        |   CAST(SUM(CAST(o.c_old * n.c_new AS DECIMAL(38,6))) AS DOUBLE) AS dot,
        |   CAST(SUM(CAST(o.c_old * o.c_old AS DECIMAL(38,6))) AS DOUBLE) AS no,
        |   CAST(SUM(CAST(n.c_new * n.c_new AS DECIMAL(38,6))) AS DOUBLE) AS nn,
        |   CAST(SUM(CAST((o.c_old - n.c_new) * (o.c_old - n.c_new) AS DECIMAL(38,6))) AS DOUBLE) AS d2
        |  FROM o FULL OUTER JOIN n ON o.label = n.label AND o.pos = n.pos
        |  GROUP BY 1)
        |SELECT label, n_old, n_new,
        | CASE WHEN no > 0 AND nn > 0 THEN round(dot / (sqrt(no) * sqrt(nn)), 6) END AS cos_sim,
        | CASE WHEN n_old IS NOT NULL AND n_new IS NOT NULL THEN round(sqrt(d2), 6) END AS l2_shift
        |FROM g ORDER BY label""".stripMargin,

    "corpus_budget_fill" ->
      """WITH s AS (SELECT source,
        |   CAST(SUM(len([x for x in regexp_split_to_array(text, '\s+') if x <> ''])) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source),
        | m AS (SELECT source, n_tokens,
        |   CAST(SUM(n_tokens) OVER (ORDER BY n_tokens, source) AS BIGINT) AS p,
        |   CAST(row_number() OVER (ORDER BY n_tokens, source) AS BIGINT) AS j,
        |   CAST(COUNT(*) OVER () AS BIGINT) AS mm
        |  FROM s),
        | t AS (SELECT source, n_tokens,
        |   (p - n_tokens) + (mm - j + 1) * n_tokens <= 26000.0 AS satisfied
        |  FROM m),
        | a AS (SELECT CAST(COALESCE(SUM(CASE WHEN satisfied THEN n_tokens END), 0) AS BIGINT) AS ssum,
        |   CAST(SUM(CASE WHEN satisfied THEN 1 ELSE 0 END) AS BIGINT) AS k,
        |   CAST(COUNT(*) AS BIGINT) AS mm2 FROM t)
        |SELECT t.source, t.n_tokens, t.satisfied,
        | round(CASE WHEN t.satisfied THEN CAST(t.n_tokens AS DOUBLE)
        |   ELSE (CAST(26000.0 AS DOUBLE) - a.ssum) / (a.mm2 - a.k) END, 6) AS allocated
        |FROM t, a ORDER BY t.source""".stripMargin,

    "text_blocklist" ->
      """WITH t AS (SELECT doc_id,
        |   [x for x in regexp_split_to_array(lower(text), '[^a-z0-9]+') if x <> ''] AS w
        |  FROM documents),
        | c AS (SELECT doc_id,
        |   CAST(len([x for x in w if list_contains(['merge','stream','batch'], x)]) AS BIGINT) AS single_n,
        |   CAST(len(list_intersect(list_distinct(w), ['merge','stream','batch'])) AS BIGINT) AS single_d,
        |   CAST(len([i for i in range(1, len(w)) if w[i] = 'table' AND w[i+1] = 'hash']) AS BIGINT) AS phrase_n
        |  FROM t)
        |SELECT doc_id,
        | single_n + phrase_n AS n_blocked,
        | single_d + (CASE WHEN phrase_n > 0 THEN 1 ELSE 0 END) AS n_distinct_blocked,
        | (single_n + phrase_n) > 0 AS blocked
        |FROM c ORDER BY doc_id""".stripMargin,

    "text_repetition" ->
      """WITH t AS (SELECT doc_id,
        |   [x for x in regexp_split_to_array(lower(text), '[^a-z0-9]+') if x <> ''] AS w
        |  FROM documents),
        | b AS (SELECT doc_id,
        |   CAST(len(w) AS BIGINT) AS n_words,
        |   CAST(len(list_distinct(w)) AS BIGINT) AS n_uniq_words,
        |   [w[i] || ' ' || w[i+1] for i in range(1, len(w))] AS bg,
        |   [w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)] AS tg
        |  FROM t),
        | bgm AS (SELECT doc_id, CAST(MAX(c) AS BIGINT) AS top_bigram_n FROM (
        |    SELECT doc_id, g, COUNT(*) AS c FROM b, UNNEST(bg) AS u(g) GROUP BY doc_id, g)
        |   GROUP BY doc_id),
        | tgc AS (SELECT doc_id, CAST(COUNT(DISTINCT g) AS BIGINT) AS n_uniq_trigrams
        |   FROM b, UNNEST(tg) AS u(g) GROUP BY doc_id),
        | j AS (SELECT b.doc_id, n_words, n_uniq_words,
        |   CAST(greatest(n_words - 1, 0) AS BIGINT) AS n_bigrams,
        |   COALESCE(bgm.top_bigram_n, CAST(0 AS BIGINT)) AS top_bigram_n,
        |   CAST(greatest(n_words - 2, 0) AS BIGINT) AS n_trigrams,
        |   COALESCE(tgc.n_uniq_trigrams, CAST(0 AS BIGINT)) AS n_uniq_trigrams
        |  FROM b LEFT JOIN bgm ON b.doc_id = bgm.doc_id
        |  LEFT JOIN tgc ON b.doc_id = tgc.doc_id),
        | r AS (SELECT *,
        |   CASE WHEN n_words = 0 THEN 0.0
        |    ELSE round(CAST(n_uniq_words AS DOUBLE) / n_words, 6) END AS uniq_word_ratio,
        |   CASE WHEN n_bigrams = 0 THEN 0.0
        |    ELSE round(CAST(top_bigram_n AS DOUBLE) / n_bigrams, 6) END AS top_bigram_frac,
        |   CASE WHEN n_trigrams = 0 THEN 0.0
        |    ELSE round(CAST(n_trigrams - n_uniq_trigrams AS DOUBLE) / n_trigrams, 6) END AS dup_trigram_frac
        |  FROM j)
        |SELECT doc_id, n_words, n_uniq_words, n_bigrams, top_bigram_n,
        | n_trigrams, n_uniq_trigrams, uniq_word_ratio, top_bigram_frac, dup_trigram_frac,
        | (top_bigram_frac > 0.18 OR dup_trigram_frac > 0.30
        |  OR (n_words >= 10 AND uniq_word_ratio < 0.2)) AS repetitive
        |FROM r ORDER BY doc_id""".stripMargin,

    "text_span_dedup" ->
      """WITH t AS (SELECT doc_id,
        |   [x for x in regexp_split_to_array(lower(text), '[^a-z0-9]+') if x <> ''] AS w
        |  FROM documents),
        | s AS (SELECT doc_id,
        |   [array_to_string(w[i:i+7], ' ') for i in range(1, len(w) - 6)] AS gs
        |  FROM t),
        | sp AS (SELECT doc_id, u.gram FROM s, UNNEST(gs) AS u(gram)),
        | df AS (SELECT gram FROM sp GROUP BY gram HAVING COUNT(*) >= 2),
        | st AS (SELECT sp.doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
        |   CAST(SUM(CASE WHEN df.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_repeated
        |  FROM sp LEFT JOIN df ON sp.gram = df.gram GROUP BY sp.doc_id)
        |SELECT d.doc_id,
        | COALESCE(st.n_spans, CAST(0 AS BIGINT)) AS n_spans,
        | COALESCE(st.n_repeated, CAST(0 AS BIGINT)) AS n_repeated,
        | CASE WHEN COALESCE(st.n_spans, 0) = 0 THEN NULL
        |   ELSE round(st.n_repeated / st.n_spans, 6) END AS repeated_frac,
        | COALESCE(st.n_repeated, 0) > 0 AS has_repeats
        |FROM documents d LEFT JOIN st ON d.doc_id = st.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    "text_span_mask" ->
      """WITH t AS (SELECT doc_id,
        |   [x for x in regexp_split_to_array(lower(text), '[^a-z0-9]+') if x <> ''] AS w
        |  FROM documents),
        | sp AS (SELECT doc_id, w, unnest(range(1, len(w) - 6)) AS i FROM t),
        | g AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
        |   array_to_string(w[i:i+7], ' ') AS gram FROM sp),
        | m AS (SELECT doc_id, pos,
        |   COUNT(*) OVER (PARTITION BY gram) AS occ,
        |   ROW_NUMBER() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rk
        |  FROM g)
        |SELECT doc_id, pos FROM m WHERE occ >= 2 AND rk > 1
        |ORDER BY doc_id, pos""".stripMargin,

    "text_span_apply" ->
      """WITH t AS (SELECT doc_id,
        |   [x for x in regexp_split_to_array(lower(text), '[^a-z0-9]+') if x <> ''] AS w
        |  FROM documents),
        | sp AS (SELECT doc_id, w, unnest(range(1, len(w) - 6)) AS i FROM t),
        | g AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
        |   array_to_string(w[i:i+7], ' ') AS gram FROM sp),
        | m AS (SELECT doc_id, pos,
        |   COUNT(*) OVER (PARTITION BY gram) AS occ,
        |   ROW_NUMBER() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rk
        |  FROM g),
        | mask AS (SELECT doc_id, pos FROM m WHERE occ >= 2 AND rk > 1),
        | cov AS (SELECT doc_id, unnest(range(pos, pos + 8)) AS ci FROM mask),
        | covd AS (SELECT doc_id, array_agg(DISTINCT ci) AS cs FROM cov GROUP BY doc_id)
        |SELECT t.doc_id,
        |  md5(coalesce(array_to_string(
        |    [w[i] for i in range(1, len(w) + 1)
        |     if NOT list_contains(coalesce(cs, []), CAST(i - 1 AS BIGINT))],
        |    ' '), '')) AS masked_md5,
        |  CAST(len(w) AS BIGINT) AS n_tokens,
        |  CAST(coalesce(len(cs), 0) AS BIGINT) AS n_dropped
        |FROM t LEFT JOIN covd ON t.doc_id = covd.doc_id
        |ORDER BY t.doc_id""".stripMargin,

    "corpus_decontaminate" -> decontaminateOracleSql(7),
    "corpus_decontaminate_semantic" ->
      """WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
        | n AS (SELECT vec_id, v, sqrt(list_sum([y*y for y in v])) AS norm FROM e),
        | c AS (SELECT * FROM n WHERE vec_id % 11 <> 0),
        | b AS (SELECT * FROM n WHERE vec_id % 11 = 0),
        | p AS (SELECT c.vec_id,
        |   round(list_sum([c.v[i] * b.v[i] for i in range(1, len(c.v) + 1)])
        |         / (c.norm * b.norm), 6) AS cos
        |  FROM c, b),
        | m AS (SELECT vec_id, CAST(COUNT(*) AS BIGINT) AS n_benchmark_matches,
        |   MAX(cos) AS max_cos
        |  FROM p WHERE cos >= 0.45 GROUP BY vec_id)
        |SELECT c.vec_id,
        | COALESCE(m.n_benchmark_matches, CAST(0 AS BIGINT)) AS n_benchmark_matches,
        | m.max_cos,
        | m.max_cos IS NOT NULL AS contaminated
        |FROM c LEFT JOIN m ON c.vec_id = m.vec_id
        |ORDER BY c.vec_id""".stripMargin,
    // bloom prefilter is exact-equivalent -> same oracle
    "corpus_decontaminate_bloom" -> decontaminateOracleSql(7),
    "corpus_decontaminate_indexed" -> decontaminateOracleSql(7),
    "corpus_decontaminate_sparse" -> decontaminateOracleSql(29),
    "corpus_decontaminate_bloom_sparse" -> decontaminateOracleSql(29),

    "corpus_attribution" ->
      """WITH t AS (SELECT doc_id,
        |   [x for x in regexp_split_to_array(lower(text), '[^a-z0-9]+') if x <> ''] AS w
        |  FROM documents),
        | g AS (SELECT doc_id,
        |   list_distinct([array_to_string(w[i:i+7], ' ') for i in range(1, len(w) - 6)]) AS s
        |  FROM t),
        | bench AS (SELECT DISTINCT doc_id AS bench_id, u.gram
        |  FROM g, UNNEST(s) AS u(gram) WHERE doc_id % 7 = 0),
        | corp AS (SELECT doc_id, u.gram FROM g, UNNEST(s) AS u(gram) WHERE doc_id % 7 <> 0),
        | pc AS (SELECT c.doc_id, b.bench_id, CAST(COUNT(*) AS BIGINT) AS shared_ngrams
        |  FROM corp c JOIN bench b ON c.gram = b.gram GROUP BY c.doc_id, b.bench_id),
        | r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
        |   ORDER BY shared_ngrams DESC, bench_id) AS rk FROM pc)
        |SELECT doc_id, bench_id, shared_ngrams FROM r WHERE rk = 1
        |ORDER BY doc_id""".stripMargin,

    "curriculum" ->
      """WITH b AS (SELECT doc_id,
        |  CAST(length(text) AS BIGINT) AS n,
        |  CAST(length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS BIGINT) AS alpha,
        |  CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS digits,
        |  CAST(length(text) - length(regexp_replace(text, '\s', '', 'g')) AS BIGINT) AS ws,
        |  CAST(len([x for x in regexp_split_to_array(text, '\s+') if x <> '']) AS BIGINT) AS toks,
        |  CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|a|in|is|it|that|for)\b')) AS BIGINT) AS stops
        | FROM documents),
        |q AS (SELECT doc_id,
        | round(0.4 * least(1.0, toks / 100.0) + 0.3 * (alpha / n)
        |   + 0.2 * (1.0 - (n - alpha - digits - ws) / n)
        |   + 0.1 * least(1.0, stops / toks * 5.0), 6) AS quality_score FROM b),
        |c AS (SELECT round(quantile_cont(quality_score, 1.0/3.0), 6) AS t0,
        |  round(quantile_cont(quality_score, 2.0/3.0), 6) AS t1 FROM q)
        |SELECT doc_id, quality_score,
        | CAST((CASE WHEN quality_score >= c.t0 THEN 1 ELSE 0 END)
        |    + (CASE WHEN quality_score >= c.t1 THEN 1 ELSE 0 END) AS BIGINT) AS phase
        |FROM q, c ORDER BY doc_id""".stripMargin,

    "corpus_dsir" -> oracleDsirSql,

    // the probe form is a pure function of (content, model, seed), so
    // its oracle is corpus_dsir's verbatim
    "corpus_dsir_probe" -> oracleDsirSql,

    "corpus_mix" ->
      """WITH w(source, wt) AS (VALUES ('src0', 0.5), ('src1', 0.3), ('src2', 0.2)),
        | n AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_domain FROM documents GROUP BY source),
        | r AS (SELECT n.source, n.n_domain, least(1.0, 30.0 * w.wt / n.n_domain) AS rate
        |   FROM n JOIN w ON n.source = w.source)
        |SELECT d.doc_id, d.source, r.n_domain, round(r.rate, 6) AS rate
        |FROM documents d JOIN r ON d.source = r.source
        |WHERE CAST('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) AS BIGINT)
        |      / 4294967296.0 < r.rate
        |ORDER BY d.doc_id""".stripMargin,

    "corpus_mix_temp" ->
      """WITH n AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_domain FROM documents GROUP BY source),
        | t AS (SELECT CAST(SUM(n_domain) AS BIGINT) AS n_total FROM n),
        | p AS (SELECT source, n_domain, pow(n_domain / t.n_total, CAST(0.3 AS DOUBLE)) AS pa FROM n, t),
        | z AS (SELECT CAST(SUM(CAST(pa AS DECIMAL(38,6))) AS DOUBLE) AS z FROM p),
        | r AS (SELECT source, n_domain,
        |   round(least(CAST(1.0 AS DOUBLE), CAST(120.0 AS DOUBLE) * (pa / z.z) / n_domain), 6) AS rate
        |  FROM p, z)
        |SELECT d.doc_id, d.source, r.n_domain, r.rate
        |FROM documents d JOIN r ON d.source = r.source
        |WHERE CAST('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) AS BIGINT)
        |      / 4294967296.0 < r.rate
        |ORDER BY d.doc_id""".stripMargin,

    "corpus_sample_stratified" ->
      """SELECT doc_id, lang, source FROM documents
        |WHERE doc_id IN (
        | SELECT doc_id FROM (
        |  SELECT doc_id, row_number() OVER (PARTITION BY lang
        |    ORDER BY md5(CAST(doc_id AS VARCHAR) || 'graft'), doc_id) AS rk
        |  FROM documents)
        | WHERE rk <= 20)
        |ORDER BY doc_id""".stripMargin,

    "text_bm25" ->
      """WITH q(query_id, term) AS (VALUES
        |  (0, 'sort'), (0, 'merge'), (0, 'join'),
        |  (1, 'stream'), (1, 'window'), (1, 'batch'),
        |  (2, 'hash'), (2, 'table'), (2, 'scan')),
        | dl AS (SELECT doc_id,
        |   CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS dl
        |  FROM documents),
        | st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(dl) AS BIGINT) AS total_dl FROM dl),
        | toks AS (SELECT doc_id, u.term AS term
        |  FROM documents,
        |   UNNEST([x for x in regexp_split_to_array(lower(text), '[^a-z0-9]+') if x <> '']) AS u(term)
        |  WHERE u.term IN (SELECT DISTINCT term FROM q)),
        | tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2),
        | dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        | contrib AS (SELECT q.query_id, tf.doc_id,
        |   CAST(ln(CAST(1.0 AS DOUBLE) + (st.n_docs - dfreq.df + CAST(0.5 AS DOUBLE)) / (dfreq.df + CAST(0.5 AS DOUBLE)))
        |     * (tf.tf * CAST(2.2 AS DOUBLE))
        |     / (tf.tf + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) * dl.dl / (st.total_dl / st.n_docs)))
        |    AS DECIMAL(38,6)) AS term_score
        |  FROM tf
        |  JOIN dfreq ON tf.term = dfreq.term
        |  JOIN q ON tf.term = q.term
        |  JOIN dl ON tf.doc_id = dl.doc_id, st),
        | scored AS (SELECT query_id, doc_id,
        |   round(CAST(SUM(term_score) AS DOUBLE), 6) AS score,
        |   CAST(COUNT(*) AS BIGINT) AS n_terms
        |  FROM contrib GROUP BY 1, 2),
        | ranked AS (SELECT query_id, doc_id, score, n_terms,
        |   CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS BIGINT) AS rk
        |  FROM scored)
        |SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, score, n_terms, rk
        |FROM ranked WHERE rk <= 10
        |ORDER BY query_id, rk""".stripMargin,

    "seq_pack" ->
      """WITH t AS (SELECT doc_id,
        |   CAST(len([x for x in regexp_split_to_array(text, '\s+') if x <> '']) AS BIGINT) AS n_tokens
        |  FROM documents),
        | c AS (SELECT doc_id, n_tokens,
        |   COALESCE(CAST(SUM(n_tokens) OVER (ORDER BY doc_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS start_off
        |  FROM t)
        |SELECT doc_id, n_tokens,
        | CAST(start_off // 256 AS BIGINT) AS seq_id,
        | CAST(start_off % 256 AS BIGINT) AS seq_offset,
        | CASE WHEN n_tokens = 0 THEN CAST(1 AS BIGINT)
        |  ELSE CAST((start_off + n_tokens - 1) // 256 - start_off // 256 + 1 AS BIGINT) END AS n_seqs
        |FROM c ORDER BY doc_id""".stripMargin,

    "seq_pack_grouped" ->
      """WITH t AS (SELECT lang, doc_id,
        |   CAST(len([x for x in regexp_split_to_array(text, '\s+') if x <> '']) AS BIGINT) AS n_tokens
        |  FROM documents),
        | c AS (SELECT lang, doc_id, n_tokens,
        |   COALESCE(CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS start_off
        |  FROM t)
        |SELECT lang, doc_id, n_tokens,
        | CAST(start_off // 256 AS BIGINT) AS seq_id,
        | CAST(start_off % 256 AS BIGINT) AS seq_offset,
        | CASE WHEN n_tokens = 0 THEN CAST(1 AS BIGINT)
        |  ELSE CAST((start_off + n_tokens - 1) // 256 - start_off // 256 + 1 AS BIGINT) END AS n_seqs
        |FROM c ORDER BY lang, doc_id""".stripMargin,

    "doc_chunks" ->
      """WITH t AS (SELECT doc_id,
        |   CAST(len([x for x in regexp_split_to_array(text, '\s+') if x <> '']) AS BIGINT) AS n_tokens
        |  FROM documents),
        | c AS (SELECT doc_id, n_tokens, CAST(u.c AS BIGINT) AS chunk_id
        |  FROM t, UNNEST(generate_series(0, greatest(n_tokens - 1, 0) // 32)) AS u(c))
        |SELECT doc_id, n_tokens, chunk_id,
        | chunk_id * 32 AS chunk_start,
        | least(n_tokens - chunk_id * 32, 32) AS chunk_tokens
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin,

    "doc_chunks_overlap" ->
      """WITH t AS (SELECT doc_id,
        |   CAST(len([x for x in regexp_split_to_array(text, '\s+') if x <> '']) AS BIGINT) AS n_tokens
        |  FROM documents),
        | c AS (SELECT doc_id, n_tokens, CAST(u.c AS BIGINT) AS chunk_id
        |  FROM t, UNNEST(generate_series(0, greatest(n_tokens - 8 - 1, 0) // 24)) AS u(c))
        |SELECT doc_id, n_tokens, chunk_id,
        | chunk_id * 24 AS chunk_start,
        | least(n_tokens - chunk_id * 24, 32) AS chunk_tokens
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin,

    "corpus_cap" ->
      """SELECT doc_id, source FROM (
        | SELECT doc_id, source,
        |  row_number() OVER (PARTITION BY source
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        | FROM documents)
        |WHERE rk <= 10 ORDER BY doc_id""".stripMargin,

    "kanon_suppress" ->
      """SELECT * FROM (
        | SELECT doc_id, lang, source,
        |  CAST(COUNT(*) OVER (PARTITION BY lang, source) AS BIGINT) AS group_n
        | FROM documents)
        |WHERE group_n >= 3 ORDER BY doc_id""".stripMargin,

    "split_hash" ->
      """SELECT doc_id,
        | CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < 'cccccccc' THEN 'train'
        |      WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < 'e6666666' THEN 'val'
        |      ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,

    // same closure as dedup_clusters, but every doc keeps a label
    // (singletons label themselves) and the split hashes the label
    "split_leakage_safe" ->
      """WITH RECURSIVE
        | t AS (SELECT doc_id,
        |   [x for x in regexp_split_to_array(lower(text), '[^a-z0-9]+') if x <> ''] AS w
        |  FROM documents),
        | g AS (SELECT doc_id,
        |   list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)]) AS s
        |  FROM t WHERE len(w) >= 3),
        | p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
        |  FROM g a, g b WHERE a.doc_id < b.doc_id
        |   AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |       / len(list_distinct(list_concat(a.s, b.s))) >= 0.8),
        | e AS (SELECT a_id AS src, b_id AS dst FROM p
        |       UNION SELECT b_id, a_id FROM p),
        | reach(id, r) AS (
        |   SELECT src, src FROM e
        |   UNION
        |   SELECT reach.id, e.dst FROM reach JOIN e ON reach.r = e.src),
        | comp AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id),
        | lab AS (SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
        |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.id)
        |SELECT doc_id, cluster_id,
        | CASE WHEN substring(md5(CAST(cluster_id AS VARCHAR)), 1, 8) < 'cccccccc' THEN 'train'
        |      WHEN substring(md5(CAST(cluster_id AS VARCHAR)), 1, 8) < 'e6666666' THEN 'val'
        |      ELSE 'test' END AS split
        |FROM lab ORDER BY doc_id""".stripMargin,

    "training_corpus" ->
      """WITH b AS (SELECT doc_id, text,
        |  CAST(length(text) AS BIGINT) AS n,
        |  CAST(length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS BIGINT) AS alpha,
        |  CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS digits,
        |  CAST(length(text) - length(regexp_replace(text, '\s', '', 'g')) AS BIGINT) AS ws,
        |  CAST(len([x for x in regexp_split_to_array(text, '\s+') if x <> '']) AS BIGINT) AS toks,
        |  CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|a|in|is|it|that|for)\b')) AS BIGINT) AS stops
        | FROM documents),
        |q AS (SELECT doc_id, text,
        | round(0.4 * least(1.0, toks / 100.0) + 0.3 * (alpha / n)
        |   + 0.2 * (1.0 - (n - alpha - digits - ws) / n)
        |   + 0.1 * least(1.0, stops / toks * 5.0), 6) AS quality_score FROM b),
        |c AS (SELECT doc_id,
        |  CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|is|in|that|it|for|on)\b')) AS BIGINT) AS cnt_en,
        |  CAST(len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|nicht|mit|ein|zu|den)\b')) AS BIGINT) AS cnt_de,
        |  CAST(len(regexp_extract_all(lower(text), '\b(le|la|les|et|est|dans|pour|que|une|des)\b')) AS BIGINT) AS cnt_fr,
        |  CAST(len(regexp_extract_all(lower(text), '\b(el|los|las|es|en|que|por|con|para|una)\b')) AS BIGINT) AS cnt_es,
        |  CAST(len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) AS BIGINT) AS cnt_cjk
        | FROM documents),
        |l AS (SELECT doc_id, CASE WHEN cnt_cjk > 0 THEN 'zh'
        |  WHEN cnt_en = 0 AND cnt_de = 0 AND cnt_fr = 0 AND cnt_es = 0 THEN 'unknown'
        |  WHEN cnt_en >= cnt_de AND cnt_en >= cnt_fr AND cnt_en >= cnt_es THEN 'en'
        |  WHEN cnt_de >= cnt_fr AND cnt_de >= cnt_es THEN 'de'
        |  WHEN cnt_fr >= cnt_es THEN 'fr' ELSE 'es' END AS lang_pred FROM c),
        |f AS (SELECT q.doc_id, q.text, q.quality_score, l.lang_pred
        |  FROM q JOIN l ON q.doc_id = l.doc_id
        |  WHERE q.quality_score >= 0.5 AND l.lang_pred = 'en'),
        |dd AS (SELECT doc_id, lang_pred, quality_score,
        |  row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rk FROM f)
        |SELECT doc_id, lang_pred, quality_score,
        | CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < 'cccccccc' THEN 'train'
        |      WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < 'e6666666' THEN 'val'
        |      ELSE 'test' END AS split
        |FROM dd WHERE rk = 1 ORDER BY doc_id""".stripMargin,
  )
}
