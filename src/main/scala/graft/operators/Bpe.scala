package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable
import graft.sources.Ingestor

/** Distributed BPE tokenizer training + encoding (Sennrich et al. 2016,
  * the GPT-2 byte-pair shape), the tokenizer-construction stage of an
  * LLM data pipeline (reference capability family: src/pipeline/
  * transformation — corpus-derived transforms).
  *
  * Why this shape at 100 TB: BPE training NEVER iterates over the
  * corpus. The corpus contributes exactly ONE aggregation — the
  * pre-tokenized word-frequency histogram (map-side partial counts,
  * one shuffle whose width is the DISTINCT vocabulary, not the corpus)
  * — and the merge loop then runs on that histogram alone, exactly how
  * the published trainers (subword-nmt, fastBPE, SentencePiece's BPE
  * mode) operate on a word-count dict. The histogram collect is
  * vocabulary-bounded (capped at `maxVocabWords` by descending count,
  * with the dropped tail's mass measured and reported — never a silent
  * cap), the same model-sized-driver-state economics as the IVF
  * centroid and PQ codebook training loops. A 1000-shuffle "distributed
  * merge loop" over the corpus would be strictly worse: each merge only
  * re-counts pairs inside the words it touched, which is index-sized
  * work on the histogram and a full-corpus job on a cluster.
  *
  * Encoding is one map-side pass: the learned merge ranks broadcast as
  * a map (vocab-sized), each partition greedily merges lowest-rank
  * pairs per word with an LRU-ish word→tokens memo (word soup repeats;
  * the memo turns per-occurrence O(word²) into per-distinct-word). */
object Bpe {

  /** End-of-word marker on a word's last symbol, so word-final and
    * word-internal units are distinct (Sennrich's `</w>` convention) —
    * without it "low" as a word and "low" inside "lower" would merge
    * into the same token and round-trip decoding would need external
    * word boundaries. */
  val EndOfWord = "</w>"

  case class BpeModel(merges: IndexedSeq[(String, String)],
                      cappedWords: Long, totalWords: Long,
                      cappedMass: Long, totalMass: Long) {
    /** pair -> merge rank (0 = learned first = applied first). */
    lazy val ranks: Map[(String, String), Int] =
      merges.iterator.zipWithIndex.toMap
  }

  /** A word as its initial symbol sequence: one symbol per character,
    * end-of-word marker appended to the last. */
  private def baseSymbols(word: String): mutable.ArrayBuffer[String] = {
    val b = new mutable.ArrayBuffer[String](word.length)
    var i = 0
    while (i < word.length) { b += word.charAt(i).toString; i += 1 }
    if (b.nonEmpty) b(b.size - 1) = b(b.size - 1) + EndOfWord
    b
  }

  /** Corpus-scale phase: pre-tokenize (same GPT-2-ish splitter as
    * [[TextAnalysis.bpeishPattern]]) and count distinct words. The only
    * shuffle in training; partial aggregation makes its map output
    * vocabulary-sized per task. */
  def wordHistogram(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(explode(
        graft.expressions.TokenExpressions.bpeishTokens(col(textCol)))
        .as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))

  /** Learn `numMerges` merge rules from `docs`. Deterministic: best
    * pair = highest weighted count, ties by lexicographic (left,
    * right) — reproducible across runs, partitionings, and engines.
    * Stops early when no pair repeats (count < 2). */
  def train(docs: DataFrame, numMerges: Int,
            maxVocabWords: Int = 1 << 17,
            textCol: String = "text"): BpeModel = {
    val hist = wordHistogram(docs, textCol)
    // vocabulary-bounded collect: top-`maxVocabWords` by count (word
    // tie-break for determinism); the dropped tail is measured so the
    // cap is visible in the model, not silent
    val totals = hist.agg(count(lit(1)), coalesce(sum("cnt"), lit(0L)))
      .head()
    val (totalWords, totalMass) = (totals.getLong(0), totals.getLong(1))
    val top = hist.orderBy(col("cnt").desc, col("word"))
      .limit(maxVocabWords)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val cappedMass = top.iterator.map(_._2).sum

    val words: Array[mutable.ArrayBuffer[String]] =
      top.map { case (w, _) => baseSymbols(w) }
    val counts: Array[Long] = top.map(_._2)

    // pair -> weighted count, and pair -> word indices containing it,
    // so each merge re-counts only the words it touches
    val pairCounts = mutable.HashMap.empty[(String, String), Long]
    val pairWords = mutable.HashMap.empty[(String, String), mutable.BitSet]
    def addPairs(wi: Int, sign: Long): Unit = {
      val s = words(wi); val c = counts(wi) * sign
      var i = 0
      while (i < s.size - 1) {
        val p = (s(i), s(i + 1))
        val nc = pairCounts.getOrElse(p, 0L) + c
        if (nc == 0L) pairCounts.remove(p) else pairCounts(p) = nc
        if (sign > 0) pairWords.getOrElseUpdate(p, mutable.BitSet.empty) += wi
        i += 1
      }
    }
    var wi = 0
    while (wi < words.length) { addPairs(wi, 1L); wi += 1 }

    val merges = mutable.ArrayBuffer.empty[(String, String)]
    var done = false
    while (merges.size < numMerges && !done) {
      if (pairCounts.isEmpty) done = true
      else {
        // deterministic argmax: max count, then smallest (left, right)
        var best: (String, String) = null
        var bestC = 1L // require count >= 2 to merge
        pairCounts.foreach { case (p, c) =>
          if (c > bestC || (c == bestC && best != null &&
              (p._1 < best._1 || (p._1 == best._1 && p._2 < best._2)))) {
            best = p; bestC = c
          }
        }
        if (best == null) done = true
        else {
          merges += best
          val merged = best._1 + best._2
          val affected = pairWords.getOrElse(best, mutable.BitSet.empty).toArray
          pairWords.remove(best)
          affected.foreach { w =>
            addPairs(w, -1L)
            val s = words(w)
            var i = 0
            while (i < s.size - 1) {
              if (s(i) == best._1 && s(i + 1) == best._2) {
                s(i) = merged; s.remove(i + 1)
              } else i += 1
            }
            addPairs(w, 1L)
          }
        }
      }
    }
    BpeModel(merges.toIndexedSeq, top.length.toLong, totalWords,
      cappedMass, totalMass)
  }

  /** The learned merge table as a DataFrame (rank asc = application
    * order) — the artifact a tokenizer release ships. */
  def mergesDF(spark: SparkSession, model: BpeModel): DataFrame = {
    import spark.implicits._
    model.merges.zipWithIndex
      .map { case ((l, r), i) => (i.toLong, l, r, l + r) }.toDF
      .toDF("rank", "left", "right", "merged")
  }

  /** Persist / reload the merge table (parquet, rank-ordered) — the
    * same train-once/encode-forever economics as the stored ANN and
    * dedup indexes. Totals ride along as literal columns. */
  def save(spark: SparkSession, model: BpeModel, dir: String): Unit =
    mergesDF(spark, model)
      .withColumn("capped_words", lit(model.cappedWords))
      .withColumn("total_words", lit(model.totalWords))
      .withColumn("capped_mass", lit(model.cappedMass))
      .withColumn("total_mass", lit(model.totalMass))
      .coalesce(1).write.mode("overwrite").parquet(dir)

  def load(spark: SparkSession, dir: String): BpeModel = {
    val rows = Ingestor.read(spark, dir)
      .select("rank", "left", "right",
        "capped_words", "total_words", "capped_mass", "total_mass")
      .collect().sortBy(_.getLong(0))
    val merges = rows.map(r => (r.getString(1), r.getString(2))).toIndexedSeq
    if (rows.isEmpty) BpeModel(merges, 0L, 0L, 0L, 0L)
    else {
      val h = rows.head
      BpeModel(merges, h.getLong(3), h.getLong(4), h.getLong(5), h.getLong(6))
    }
  }

  /** Greedy encode of one word: repeatedly merge the present pair with
    * the LOWEST rank (training order), exactly the GPT-2 encoder. */
  private def encodeWord(word: String,
                         ranks: Map[(String, String), Int]): Array[String] = {
    val s = baseSymbols(word)
    var continue = s.size >= 2
    while (continue) {
      var bi = -1; var br = Int.MaxValue
      var i = 0
      while (i < s.size - 1) {
        ranks.get((s(i), s(i + 1))).foreach { r =>
          if (r < br) { br = r; bi = i }
        }
        i += 1
      }
      if (bi < 0) continue = false
      else {
        // merge ALL occurrences of this pair left-to-right before
        // rescanning (occurrences can't overlap after a left-first pass)
        val (l, r) = (s(bi), s(bi + 1))
        var j = 0
        while (j < s.size - 1) {
          if (s(j) == l && s(j + 1) == r) { s(j) = l + r; s.remove(j + 1) }
          else j += 1
        }
        continue = s.size >= 2
      }
    }
    s.toArray
  }

  /** Map-side corpus encode: (id, tokens) with the merge ranks
    * broadcast and a per-partition word→tokens memo (bounded; word
    * frequency is Zipfian so the memo's hit rate is ~the capped mass
    * fraction). No shuffle — pure scan parallelism. */
  def encode(model: BpeModel, docs: DataFrame,
             idCol: String = "doc_id", textCol: String = "text",
             memoBound: Int = 1 << 16): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bRanks = spark.sparkContext.broadcast(model.ranks)
    docs.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions { it =>
        val ranks = bRanks.value
        val memo = mutable.HashMap.empty[String, Array[String]]
        it.map { case (id, text) =>
          val toks = mutable.ArrayBuffer.empty[String]
          // byte-class scan pre-tokenizer — match-identical to the
          // bpeishPattern regex (TokenScanSpec) without the Matcher
          graft.expressions.TokenScan.bpeishEach(text) { w =>
            val enc = memo.getOrElse(w, {
              val e = encodeWord(w, ranks)
              if (memo.size < memoBound) memo(w) = e
              e
            })
            toks ++= enc
          }
          (id, toks.toArray)
        }
      }.toDF(idCol, "tokens")
  }

  /** The `text_bpe` query shape: train on the corpus, encode the
    * corpus, report per-doc base-symbol vs BPE token counts and the
    * compression the learned merges bought. */
  def tokenStats(docs: DataFrame, numMerges: Int = 200,
                 idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame =
    tokenStatsWith(train(docs, numMerges, textCol = textCol),
      docs, idCol, textCol)

  /** [[tokenStats]] against an ALREADY-TRAINED model (typically
    * [[load]]ed from a stored merge table) — the probe-phase form a
    * tokenizer release actually runs: merges train once per release,
    * every corpus pass after that is one broadcast of the rank table +
    * one map-side encode. Shared tail with [[tokenStats]], so the
    * in-flight and stored paths can never diverge on the stats. */
  def tokenStatsWith(model: BpeModel, docs: DataFrame,
                     idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame =
    encodeStats(model, docs, idCol, textCol)
      .select(col(idCol), col("n_base_symbols"), col("n_bpe_tokens"))
      .withColumn("compression", round(
        when(col("n_bpe_tokens") > 0,
          col("n_base_symbols").cast("double") / col("n_bpe_tokens"))
          .otherwise(lit(1.0)), 6))

  /** Per-doc encode STATISTICS in one map-side pass, never materialising
    * a token array: (id, n_words, n_bpe_tokens, n_base_symbols,
    * n_unmerged). The stats-only consumers ([[tokenStatsWith]],
    * [[tokenizerCoverage]]) previously ran [[encode]] and then reduced
    * each doc's token ARRAY with interpreted `aggregate`/`filter`
    * higher-order lambdas — every token was built, copied into the
    * row, interpreted over, and thrown away. Here the per-word stats
    * are memoised as three ints (vs the token array), so the Zipfian
    * word soup amortises the encode exactly as before while the per-doc
    * output is four longs. Per-word identities (spec-pinned in BpeSpec
    * against the array path):
    *  - n_base_symbols(word) = word.length — merges concatenate, never
    *    create or drop base symbols, and the `</w>` marker is excluded
    *    exactly as the array form's `endsWith` adjustment did. Unit of
    *    count: UTF-16 units, matching [[baseSymbols]]' per-Java-char
    *    alphabet (a supplementary-plane character is TWO base symbols).
    *    The legacy array reduction summed Spark `length(token)` — CODE
    *    POINTS — which agrees everywhere except a token whose merges
    *    joined a high+low surrogate into one code point (legacy 1, here
    *    2). BpeSpec pins this path's value on a surrogate-pair corpus
    *    so the unit contract is explicit;
    *  - n_unmerged(word) = tokens whose symbol count (length minus the
    *    marker suffix) is 1 — single base symbols the vocab never
    *    merged. */
  def encodeStats(model: BpeModel, docs: DataFrame,
                  idCol: String = "doc_id", textCol: String = "text",
                  memoBound: Int = 1 << 16): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bRanks = spark.sparkContext.broadcast(model.ranks)
    docs.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions { it =>
        val ranks = bRanks.value
        val memo = mutable.HashMap.empty[String, (Int, Int)]
        it.map { case (id, text) =>
          var words = 0L; var toks = 0L; var base = 0L; var unmerged = 0L
          graft.expressions.TokenScan.bpeishEach(text) { w =>
            val (nTok, nUnm) = memo.getOrElse(w, {
              val enc = encodeWord(w, ranks)
              var u = 0
              var i = 0
              while (i < enc.length) {
                val t = enc(i)
                val sym =
                  if (t.endsWith(EndOfWord)) t.length - EndOfWord.length
                  else t.length
                if (sym <= 1) u += 1
                i += 1
              }
              val e = (enc.length, u)
              if (memo.size < memoBound) memo(w) = e
              e
            })
            words += 1; toks += nTok; base += w.length; unmerged += nUnm
          }
          (id, words, toks, base, unmerged)
        }
      }.toDF(idCol, "n_words", "n_bpe_tokens", "n_base_symbols", "n_unmerged")
  }

  /** Tokenizer-fit audit per group (language / source / domain): encode
    * with a — typically [[load]]ed — model and report, per group, the
    * three numbers a tokenizer-release review reads:
    *  - `fertility`: BPE tokens per pre-tokenizer word (≥ 1 by
    *    construction — merges never cross words; high fertility on a
    *    language means its words fragment, the inequity signal of
    *    Ahia et al. 2023 "Do All Languages Cost the Same?");
    *  - `chars_per_token`: base symbols per emitted token — the
    *    compression the vocab actually buys this group;
    *  - `unmerged_frac`: fraction of emitted tokens that are SINGLE
    *    base symbols. A BPE vocab is never OOV — it degrades to
    *    characters — and this measures exactly that degradation
    *    (high = the group's script/vocabulary is effectively outside
    *    the merge table).
    * Cost: one map-side [[encode]] pass (no training), one doc-sized
    * equi-join of token stats back to the group column, one
    * group-sized aggregate — no vocabulary-sized shuffle anywhere, so
    * at 100 TB this is an encode-pass rider like [[tokenStatsWith]]. */
  def tokenizerCoverage(model: BpeModel, docs: DataFrame,
                        groupCol: String = "lang",
                        idCol: String = "doc_id",
                        textCol: String = "text",
                        provenRows: Long = graft.functions.autoRows): DataFrame = {
    // One stats pass supplies n_words alongside the encode counters
    // (r19: the old shape ran a SECOND full-text scan just to count
    // pre-tokenizer words and joined it back; the encode pass iterates
    // exactly those words anyway, so the second scan was pure waste —
    // what remains of the join reads only (id, group), a pruned
    // two-column scan).
    val perDoc = encodeStats(model, docs, idCol, textCol)
      .withColumnRenamed("n_bpe_tokens", "n_tokens")
    val groups = docs.select(col(idCol), col(groupCol))
    // Broadcast-roulette pin (r17 audit): perDoc is one (id, 4 longs)
    // row per doc — corpus-scaled, delta-compressible (the r16 OOM
    // class). The corpus count is the proven dispatch number, resolved
    // lazily (caller-provided or bare-relation count-star, r17 ADVICE).
    groups.join(graft.functions.mergePinned(perDoc,
        graft.functions.resolveRows(docs, provenRows)), idCol)
      .groupBy(groupCol)
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_words").as("n_words"),
        sum("n_tokens").as("n_tokens"),
        sum("n_base_symbols").as("n_base_symbols"),
        sum("n_unmerged").as("n_unmerged"))
      .withColumn("fertility", round(
        when(col("n_words") > 0, col("n_tokens").cast("double") / col("n_words"))
          .otherwise(lit(0.0)), 6))
      .withColumn("chars_per_token", round(
        when(col("n_tokens") > 0, col("n_base_symbols").cast("double") / col("n_tokens"))
          .otherwise(lit(0.0)), 6))
      .withColumn("unmerged_frac", round(
        when(col("n_tokens") > 0, col("n_unmerged").cast("double") / col("n_tokens"))
          .otherwise(lit(0.0)), 6))
  }
}
