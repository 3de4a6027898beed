package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions._

/** Benchmark decontamination: flag training documents that share any
  * word n-gram with a held-out benchmark/eval set, so eval answers are
  * provably not memorised from the training corpus. This is the overlap
  * check every serious LLM data pipeline runs (GPT-3 used 13-gram
  * overlap, PaLM 8-gram; 8 is the default here).
  *
  * Shape at 100 TB: each side is shingled into distinct hashed n-grams
  * (64-bit FNV-1a composition — see the gram-identity lineage note) in
  * ONE typed mapPartitions pass per side (the [[TextAnalysis.fingerprints]]
  * fast path — no interpreted higher-order functions, no shuffle to
  * build shingles), then a single equi-join on the fixed-width long
  * gram key. The benchmark side is normally tiny relative to the corpus
  * (a few eval suites vs the training set), so AQE broadcasts it and the
  * corpus side never shuffles; when it is genuinely large the join
  * degrades gracefully to a hash-partitioned shuffle on the gram key.
  * Nothing is quadratic and nothing lands on the driver.
  */
object Contamination {

  /** Gram-identity lineage: the gram key the whole family joins, blooms
    * and aggregates on was a 32-char MD5 hex string through r12; the
    * r13 sf10 stage profile showed the dominant cost of the join-shaped
    * queries was exactly the string key (shuffle bytes + hash/equality
    * per probe), so r13 re-keyed on the MD5's first 8 bytes as a long
    * (`corpus_attribution`'s join+count stage 89.5 -> 32-40 s, output
    * identical). r19 replaces the MD5 digest itself with the FNV-1a
    * composition in [[distinctGrams]] — the per-gram MD5 plus the gram
    * STRING it digested (StringBuilder + HashSet dedup re-hash per
    * window) were the remaining per-window allocations. 64 bits is
    * enough identity either way: a birthday collision needs ~2^32
    * DISTINCT grams to be even odds-of-one, so at oracle SFs (<1M
    * grams) collision odds are ~1e-7 per RUN, and even a 100 TB corpus
    * (~10^10 grams) sees a few collisions total — each inflating one
    * overlap count by one, the same failure class the md5-of-string
    * form already accepted. */

  /** One document's distinct hashed word n-grams — the tight loop both
    * the join path and the bloom prefilter run: tokenize, slide,
    * dedup raw grams, hash. */
  private[operators] def distinctGrams(text: String, n: Int): Array[Long] = {
    // null text shingles as empty (no grams), matching Bpe.encode's
    // guard; byte-class tokenizer spec-pinned to the legacy
    // toLowerCase+split+filter form (TokenScanSpec)
    val toks = graft.expressions.TokenScan.lowerAlnum(text)
    if (toks.length < n) return Array.emptyLongArray
    // r19 kernel: hash each token ONCE (FNV-1a over its chars + a
    // separator byte, the Dedup.fnv1a recipe), then a gram's identity
    // is FNV-1a over its n token hashes — 8 long-mixes per window
    // instead of a StringBuilder + String + HashSet re-hash + MD5
    // digest per window. Within-doc dedup runs on the sorted long
    // array. Same 64-bit-identity collision class the md5Long form
    // documented and accepted; both sides of every join/bloom use this
    // one function, and the stored-index format check (GramKeyFormat)
    // makes an old index unreadable rather than silently empty.
    val th = new Array[Long](toks.length)
    var t = 0
    while (t < toks.length) {
      var h = -3750763034362895579L // FNV-1a 64 offset basis
      val s = toks(t)
      var i = 0
      while (i < s.length) { h = (h ^ s.charAt(i)) * 1099511628211L; i += 1 }
      th(t) = (h ^ 0x1f) * 1099511628211L // token separator
      t += 1
    }
    val grams = new Array[Long](toks.length - n + 1)
    var w = 0
    while (w < grams.length) {
      var h = -3750763034362895579L
      var j = w
      // one xor-multiply per TOKEN hash (the hashes are already mixed;
      // a byte-wise FNV over them would cost 8x for no extra identity)
      while (j < w + n) { h = (h ^ th(j)) * 1099511628211L; j += 1 }
      grams(w) = h
      w += 1
    }
    java.util.Arrays.sort(grams)
    var out = 0
    var r = 0
    while (r < grams.length) {
      if (r == 0 || grams(r) != grams(r - 1)) { grams(out) = grams(r); out += 1 }
      r += 1
    }
    if (out == grams.length) grams else java.util.Arrays.copyOf(grams, out)
  }

  /** Distinct hashed word n-grams per doc: (idCol, gram: long). One tight loop
    * per document — tokenize, slide, hash — emitted pre-deduped so the
    * downstream join never sees within-doc repeats. */
  def ngramHashes(docs: DataFrame, n: Int, idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    spread(docs, col(idCol)).select(col(idCol), col(textCol)).as[(Long, String)]
      .mapPartitions { it =>
        it.flatMap { case (id, text) =>
          distinctGrams(text, n).iterator.map(g => (id, g))
        }
      }.toDF(idCol, "gram")
  }

  /** Per-corpus-doc contamination report: `n_hits` = how many of the
    * doc's distinct n-grams appear anywhere in the benchmark, plus the
    * boolean drop flag. Every corpus doc is returned (clean docs with
    * n_hits = 0) so the caller can audit as well as filter. */
  def flagOverlap(corpus: DataFrame, benchmark: DataFrame, n: Int = 8,
                  idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val corpusGrams = ngramHashes(corpus, n, idCol, textCol)
    val benchGrams = ngramHashes(benchmark, n, idCol, textCol)
      .select("gram").distinct()
    val hits = corpusGrams.join(benchGrams, "gram")
      .groupBy(idCol).agg(count(lit(1)).as("n_hits"))
    corpus.select(col(idCol))
      .join(hits, Seq(idCol), "left")
      .withColumn("n_hits", coalesce(col("n_hits"), lit(0L)))
      .withColumn("contaminated", col("n_hits") > 0)
  }

  /** Attribution: for each contaminated corpus doc, WHICH benchmark doc
    * it overlaps most (shared distinct n-grams; ties break to the
    * smallest benchmark id). The audit trail reviewers ask for before
    * dropping documents — "contaminated by what?". Same join shape as
    * [[flagOverlap]] plus one per-doc window top-1. */
  /** Bench-gram row bound under which [[attributeOverlap]] dispatches
    * to the broadcast-postings kernel: 8M (gram, bench_id) entries is
    * ~128 MB of primitive arrays on the driver and in the broadcast —
    * comfortably inside the 8g driver heap, and far under the scale at
    * which a benchmark suite stops being "the small side". Above it the
    * distributed join form runs unchanged. */
  private[graft] val attributionKernelGramLimit: Long = 8L * 1024 * 1024

  def attributeOverlap(corpus: DataFrame, benchmark: DataFrame, n: Int = 8,
                       idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val benchGrams = ngramHashes(benchmark, n, idCol, textCol)
      .select(col(idCol).as("bench_id"), col("gram")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nBenchGrams = benchGrams.count()
    if (nBenchGrams <= attributionKernelGramLimit) {
      // r20 (guide §3.1/§2.4 + the per-cell-kernel pattern): the r19
      // form joined the full corpus gram relation against the bench
      // grams BY GRAM and aggregated (doc, bench) counts across the
      // gram partitioning — at sf10 that one fused stage burned 580
      // CPU-s and exchanged 150M partially-aggregated pair rows for a
      // verdict that is DOC-LOCAL (each doc's top-1 depends only on its
      // own grams). The bench grams are the provably small side (3.5M
      // rows at sf10, counted above, dispatch-guarded), so: collect
      // them once into gram-sorted postings arrays, broadcast, and
      // compute each doc's per-bench counts + argmax inside the
      // existing gram scan — no gram rows materialised, no pair
      // exchange, output rows identical (the sorted-run scan makes the
      // max-count / min-bench_id tie-break positional).
      val collected = benchGrams.select("gram", "bench_id").as[(Long, Long)]
        .collect()
      benchGrams.unpersist(false)
      val rows = collected.sorted
      val m = rows.length
      var ng = 0
      var i = 0
      while (i < m) {
        if (i == 0 || rows(i)._1 != rows(i - 1)._1) ng += 1
        i += 1
      }
      val keys = new Array[Long](ng)
      val offs = new Array[Int](ng + 1)
      val ids = new Array[Long](m)
      var g = -1
      i = 0
      while (i < m) {
        if (i == 0 || rows(i)._1 != rows(i - 1)._1) {
          g += 1; keys(g) = rows(i)._1; offs(g) = i
        }
        ids(i) = rows(i)._2
        i += 1
      }
      offs(ng) = m
      val bc = spark.sparkContext.broadcast((keys, offs, ids))
      spread(corpus, col(idCol)).select(col(idCol), col(textCol))
        .as[(Long, String)]
        .mapPartitions { it =>
          val (keys, offs, ids) = bc.value
          it.flatMap { case (id, text) =>
            val grams = distinctGrams(text, n)
            var matches = new Array[Long](16)
            var nm = 0
            var i = 0
            while (i < grams.length) {
              val p = java.util.Arrays.binarySearch(keys, grams(i))
              if (p >= 0) {
                var j = offs(p)
                while (j < offs(p + 1)) {
                  if (nm == matches.length)
                    matches = java.util.Arrays.copyOf(matches, nm * 2)
                  matches(nm) = ids(j); nm += 1; j += 1
                }
              }
              i += 1
            }
            if (nm == 0) Iterator.empty
            else {
              java.util.Arrays.sort(matches, 0, nm)
              // longest run wins; ascending order makes ties (equal
              // run lengths) resolve to the SMALLEST bench_id — the
              // join form's max(shared_ngrams) / min(bench_id) contract
              var bestId = matches(0); var bestLen = 0
              var runId = matches(0); var runLen = 0
              var k = 0
              while (k < nm) {
                if (matches(k) == runId) runLen += 1
                else { runId = matches(k); runLen = 1 }
                if (runLen > bestLen) { bestLen = runLen; bestId = runId }
                k += 1
              }
              Iterator.single((id, bestId, bestLen.toLong))
            }
          }
        }.toDF(idCol, "bench_id", "shared_ngrams")
        // eager: the kernel's output now sits directly under consumers'
        // orderBy, and a range sort SAMPLES its child to pick bounds —
        // without a barrier that re-executes the whole text scan +
        // kernel per sampling pass (measured: two extra 5.5 s corpus
        // scans at sf10). The checkpoint is top-1-report-sized (one
        // short row per contaminated doc, the same class of table
        // [[reportFromSuspects]] already checkpoints).
        .localCheckpoint()
    } else {
      // distributed fallback (benchmark too big to hold): the r19 join
      // + partial-aggregable struct-max form, unchanged. The dispatch
      // count's gram pass is re-paid here (the cache is released so it
      // cannot leak into the caller's session) — one extra bench-side
      // scan at the scale where the corpus side dominates by 7x+.
      benchGrams.unpersist(false)
      val corpusGrams = ngramHashes(corpus, n, idCol, textCol)
      val pairCounts = corpusGrams.join(benchGrams, "gram")
        .groupBy(idCol, "bench_id").agg(count(lit(1)).as("shared_ngrams"))
      pairCounts
        .groupBy(idCol)
        .agg(max(struct(col("shared_ngrams"), (-col("bench_id")).as("nb"),
          col("bench_id"))).as("__top"))
        .select(col(idCol), col("__top.bench_id").as("bench_id"),
          col("__top.shared_ngrams").as("shared_ngrams"))
    }
  }

  /** The filtering form: corpus minus every contaminated doc — one
    * left-anti join against the flagged ids. */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame, n: Int = 8,
                    idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val bad = flagOverlap(corpus, benchmark, n, idCol, textCol)
      .where(col("contaminated")).select(idCol)
    corpus.join(bad, Seq(idCol), "left_anti")
  }

  /** Bench-gram bloom + the join-free suspect scan — the prefilter half
    * of [[flagOverlapBloom]], exposed so its economics (how much of the
    * corpus the bloom actually prunes) are spec-measurable. Returns the
    * ids of corpus docs with ≥1 bloom-positive gram. A doc's chance of
    * being a FALSE suspect is union-bounded by `distinct_grams × fpp` —
    * at the 1e-6 default a 1000-gram doc false-flags ~0.1% of the time,
    * so the re-shingle+verify stage stays contamination-sized, not
    * fpp-inflated. */
  private[graft] def bloomSuspects(corpus: DataFrame, benchmark: DataFrame,
                                   n: Int, idCol: String, textCol: String,
                                   fpp: Double): DataFrame =
    suspectsFromGrams(corpus,
      ngramHashes(benchmark, n, idCol, textCol).select("gram").distinct(),
      n, idCol, textCol, fpp)

  private def suspectsFromGrams(corpus: DataFrame, benchGrams: DataFrame,
                                n: Int, idCol: String, textCol: String,
                                fpp: Double): DataFrame =
    suspectsWithBloom(corpus,
      benchGrams.stat.bloomFilter("gram", math.max(benchGrams.count(), 1L), fpp),
      n, idCol, textCol)

  private def suspectsWithBloom(corpus: DataFrame,
                                bloom: org.apache.spark.util.sketch.BloomFilter,
                                n: Int, idCol: String, textCol: String): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val bloomBc = spark.sparkContext.broadcast(bloom)
    spread(corpus, col(idCol))
      .select(col(idCol), col(textCol)).as[(Long, String)]
      .mapPartitions { it =>
        val b = bloomBc.value
        it.filter { case (_, text) =>
          distinctGrams(text, n).exists(b.mightContainLong)
        }.map(_._1)
      }.toDF(idCol)
  }

  /** The exact-verify + report tail shared by every prefiltered form:
    * re-shingle only the suspects, count true gram hits against the
    * benchmark gram table, report every corpus doc (clean docs with
    * n_hits = 0). Eager (localCheckpoint) so caller-held caches can
    * release before the corpus-sized report materialises. */
  private def reportFromSuspects(corpus: DataFrame, suspects: DataFrame,
                                 benchGrams: DataFrame, n: Int,
                                 idCol: String, textCol: String): DataFrame = {
    val hits = ngramHashes(corpus.join(suspects, Seq(idCol), "left_semi"),
        n, idCol, textCol)
      .join(benchGrams, "gram")
      .groupBy(idCol).agg(count(lit(1)).as("n_hits"))
      .localCheckpoint()
    corpus.select(col(idCol))
      .join(hits, Seq(idCol), "left")
      .withColumn("n_hits", coalesce(col("n_hits"), lit(0L)))
      .withColumn("contaminated", col("n_hits") > 0)
  }

  /** Bloom-prefiltered [[flagOverlap]] — the 100 TB shape, and still
    * EXACTLY equal to it (oracled against the same SQL): a Bloom filter
    * has no false negatives, so a doc with zero bloom hits is provably
    * clean and never joins; docs the bloom flags (true overlaps plus the
    * `fpp` sliver of false positives) are re-shingled and verified
    * through the exact gram join, which zeroes every false positive.
    *
    * Why this beats the join at scale: the exact path ships the full
    * benchmark gram table into a broadcast hash join (8-byte gram key
    * — ~16 MB per million grams with ids, rebuilt per stage), and every
    * corpus gram probes it. Here the benchmark compresses to
    * ~`1.44*log2(1/fpp)` BITS per gram (~36 MB per 10 M grams at the
    * 1e-6 default), the corpus pass is scan → per-partition loop →
    * short-circuit `exists` (first hit wins) with NO join, no shuffle
    * and nothing per-doc materialised, and only the contaminated sliver
    * — in a real corpus a fraction of a percent, since the per-DOC
    * false-positive rate is union-bounded by grams×fpp — pays the join.
    * The bloom build itself is one aggregate over the tiny benchmark
    * side. Default fpp 1e-6, not the customary 1e-3: bloom bits only
    * double while false suspects drop ~1000x, and the whole point of
    * the prefilter is that the verify stage stays contamination-sized. */
  def flagOverlapBloom(corpus: DataFrame, benchmark: DataFrame, n: Int = 8,
                       idCol: String = "doc_id", textCol: String = "text",
                       fpp: Double = 1e-6): DataFrame = {
    val benchGrams = ngramHashes(benchmark, n, idCol, textCol)
      .select("gram").distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val suspects = suspectsFromGrams(corpus, benchGrams, n, idCol, textCol, fpp)
    val report = reportFromSuspects(corpus, suspects, benchGrams, n, idCol, textCol)
    benchGrams.unpersist(false)
    report
  }

  /** Filtering form of [[flagOverlapBloom]]: corpus minus contaminated. */
  def decontaminateBloom(corpus: DataFrame, benchmark: DataFrame, n: Int = 8,
                         idCol: String = "doc_id", textCol: String = "text",
                         fpp: Double = 1e-6): DataFrame = {
    val bad = flagOverlapBloom(corpus, benchmark, n, idCol, textCol, fpp)
      .where(col("contaminated")).select(idCol)
    corpus.join(bad, Seq(idCol), "left_anti")
  }

  // ------------------------------------------------- stored benchmark index
  /** Persist the benchmark as a reusable decontamination INDEX at `dir`:
    * `grams` (distinct hashed n-grams as longs, parquet), `bloom.bin` (serialized
    * Bloom filter), `meta` (n, fpp) — the decontamination analog of the
    * stored minhash/IVF model tables. Eval suites change rarely while
    * ingestion runs continuously, so the shingle + bloom-build cost is
    * paid once per benchmark RELEASE and every batch/micro-batch after
    * that loads ~MBs of bloom bits and probes. `meta` pins the gram
    * width: a probe can never silently shingle with a different n than
    * the index was built with. */
  def buildBenchmarkIndex(benchmark: DataFrame, dir: String, n: Int = 8,
                          idCol: String = "doc_id", textCol: String = "text",
                          fpp: Double = 1e-6): Unit = {
    val spark = benchmark.sparkSession
    import spark.implicits._
    // retract the completeness marker FIRST: a rebuild (possibly with a
    // different n) that crashes mid-write must leave a dir that reads as
    // incomplete, never an old meta describing new grams
    val metaPath = new org.apache.hadoop.fs.Path(s"$dir/meta")
    val mfs = metaPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (mfs.exists(metaPath)) mfs.delete(metaPath, true)
    val grams = ngramHashes(benchmark, n, idCol, textCol)
      .select("gram").distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    grams.write.mode("overwrite").parquet(s"$dir/grams")
    val bloom = grams.stat.bloomFilter(
      "gram", math.max(grams.count(), 1L), fpp)
    grams.unpersist(false)
    val bloomPath = new org.apache.hadoop.fs.Path(s"$dir/bloom.bin")
    val fs = bloomPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(bloomPath, true)
    try bloom.writeTo(out) finally out.close()
    // meta LAST: its presence implies a complete index even if an
    // earlier build attempt crashed between writes. `fmt` pins the gram
    // KEY ENCODING (4 = FNV-1a token-hash composition; 2 was md5-prefix
    // longs; 1 was md5 hex strings): a probe against an index written
    // by older code must FAIL LOUDLY, never silently return zero
    // matches from a key mismatch — silent emptiness here means
    // contaminated docs pass.
    Seq((n, fpp, GramKeyFormat)).toDF("n", "fpp", "fmt").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/meta")
  }

  /** Gram-key encoding version written into every index's `meta` and
    * required by every probe. Bump whenever [[ngramHashes]]' key type or
    * hash changes. */
  val GramKeyFormat: Int = 4

  /** [[flagOverlap]] against a stored index ([[buildBenchmarkIndex]]):
    * bloom loads driver-side (~MBs), broadcasts, prefilters; suspects
    * verify against the stored gram table. Same exact report contract
    * as the direct forms. */
  def flagOverlapIndexed(corpus: DataFrame, dir: String,
                         idCol: String = "doc_id",
                         textCol: String = "text"): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val meta = spark.read.parquet(s"$dir/meta")
    val fmt =
      if (meta.columns.contains("fmt")) meta.select("fmt").as[Int].head() else 1
    require(fmt == GramKeyFormat,
      s"benchmark index at $dir has gram-key format $fmt but this build " +
        s"probes format $GramKeyFormat — rebuild the index with " +
        "buildBenchmarkIndex (probing a mismatched index would silently " +
        "report zero contamination)")
    val n = meta.select("n").as[Int].head()
    val bloomPath = new org.apache.hadoop.fs.Path(s"$dir/bloom.bin")
    val fs = bloomPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(bloomPath)
    val bloom =
      try org.apache.spark.util.sketch.BloomFilter.readFrom(in)
      finally in.close()
    val suspects = suspectsWithBloom(corpus, bloom, n, idCol, textCol)
    reportFromSuspects(corpus, suspects,
      spark.read.parquet(s"$dir/grams"), n, idCol, textCol)
  }

  /** Filtering form of [[flagOverlapIndexed]]. */
  def decontaminateIndexed(corpus: DataFrame, dir: String,
                           idCol: String = "doc_id",
                           textCol: String = "text"): DataFrame = {
    val bad = flagOverlapIndexed(corpus, dir, idCol, textCol)
      .where(col("contaminated")).select(idCol)
    corpus.join(bad, Seq(idCol), "left_anti")
  }

  /** SEMANTIC decontamination — the embedding-space member of the
    * family. N-gram overlap ([[flagOverlap]]) catches verbatim
    * contamination; a benchmark item that was paraphrased into the
    * training set shares no 8-gram and sails through. This pass flags
    * corpus vectors with cosine ≥ `threshold` to ANY benchmark vector,
    * with audit columns per corpus row (`n_benchmark_matches`,
    * `max_cos`, `contaminated`) mirroring [[flagOverlap]]'s report
    * shape.
    *
    * Same candidate economics as the embedding-dedup family (Dedup
    * .embeddingIncrement): IVF cells trained on the union (cell count
    * scales with the larger side), corpus and benchmark each assigned
    * to `assign` nearest cells, candidates from SHARED cells only —
    * never corpus × benchmark all-pairs — then exact-cosine verified
    * with the codegen'd dot product. The benchmark side is eval-suite
    * sized, so its cell table broadcasts; the corpus-sized work is one
    * assignment pass + one cell equi-join. */
  def flagSemanticOverlap(corpus: DataFrame, benchmark: DataFrame,
                          threshold: Double = 0.45, centroidsK: Int = 0,
                          assign: Int = 2): DataFrame = {
    val c = Similarity.prepared(corpus)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val b = Similarity.prepared(benchmark)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // centroidsK = 0 sizes the cells from the training pass's own count
    val centroids = Similarity.trainIvfCentroids(c.unionByName(b), centroidsK)
    // r20: per-cell cross scan kernel (guide §2.4/§3.3) — the former
    // cell-join candidate relation was DISTINCTed and then shipped both
    // vectors through a two-sided pair join; the kernel scores every
    // (corpus, benchmark) cell-mate pair in-task and only the VERIFIED
    // rows reach a shuffle. distinct-before-count is preserved (the
    // kernel emits once per shared cell; cosine is deterministic, so
    // distinct on (a_id, b_id, cosine) == the old candidate distinct).
    // assignments checkpointed: the kernel's occupancy/dispatch
    // aggregate and each join arm otherwise re-run the centroid-dot
    // assignment pass per consumer (the tables are (vec_id, cell) ×
    // assign rows — tiny)
    val matches = graft.operators.Dedup.cellCrossVerifiedPairs(
        Similarity.cellAssignments(c, centroids, assign).localCheckpoint(),
        Similarity.cellAssignments(b, centroids, assign).localCheckpoint(),
        c, b, threshold)
      .distinct()
      .groupBy(col("a_id").as("vec_id"))
      .agg(count(lit(1)).as("n_benchmark_matches"),
        max(col("cosine")).as("max_cos"))
      .localCheckpoint() // contamination-sized; lets the caches release
    c.unpersist(false); b.unpersist(false)
    corpus.select(col("vec_id"))
      .join(matches, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("n_benchmark_matches"), lit(0L)).as("n_benchmark_matches"),
        col("max_cos"),
        col("max_cos").isNotNull.as("contaminated"))
  }

  /** Filtering form of [[flagSemanticOverlap]]: the corpus with
    * semantically-contaminated vectors removed. */
  def decontaminateSemantic(corpus: DataFrame, benchmark: DataFrame,
                            threshold: Double = 0.45, centroidsK: Int = 0,
                            assign: Int = 2): DataFrame = {
    val bad = flagSemanticOverlap(corpus, benchmark, threshold, centroidsK, assign)
      .where(col("contaminated")).select("vec_id")
    corpus.join(bad, Seq("vec_id"), "left_anti")
  }
}
