package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable
import graft.sources.Ingestor

/** Distributed unigram-LM tokenizer training + Viterbi encoding (Kudo
  * 2018, "Subword Regularization" — the SentencePiece `unigram` model,
  * the other tokenizer family real LLM stacks ship besides [[Bpe]]):
  * pieces carry probabilities, a word's tokenization is its
  * maximum-likelihood segmentation, and the vocabulary is learned by
  * EM + pruning from a large seed instead of bottom-up merges.
  *
  * Same 100 TB economics as the BPE trainer: the corpus contributes
  * exactly ONE aggregation — the pre-tokenized word-frequency histogram
  * (map-side partials, one vocabulary-wide shuffle) — and the EM/prune
  * loop runs on the capped histogram alone (model-sized driver state,
  * like the IVF centroid loop). Per-iteration cost is histogram-words x
  * word-length x maxPieceLen, INDEPENDENT of corpus size.
  *
  * Deliberate simplifications vs SentencePiece, documented because they
  * change numbers, not the shape: (a) hard (Viterbi) EM rather than
  * full forward-backward marginals — counts come from each word's best
  * segmentation; deterministic, and the standard convergence story for
  * EM variants holds; (b) pruning drops the lowest-expected-count
  * pieces (never single characters — they are the OOV-free fallback,
  * SentencePiece's `character_coverage=1.0` limit) by a fixed shrink
  * factor per round instead of the exact leave-one-out likelihood loss.
  * Both choices are spec-pinned (determinism, optimality of the
  * encoder against hand-computed lattices, full coverage). */
object UnigramLm {

  /** Log-probability assigned to an out-of-vocabulary single character
    * at ENCODE time (a piece table always contains every training
    * character, so this only fires on chars the training corpus never
    * saw) — harsh enough that real pieces always win, finite so nothing
    * is ever unencodable. */
  val UnkLogProb: Double = -30.0

  case class UnigramModel(pieces: Map[String, Double], maxPieceLen: Int) {
    def logProb(p: String): Option[Double] = pieces.get(p)
  }

  /** Viterbi segmentation of one word under (pieces, maxPieceLen):
    * best[i] = max over j<i of best[j] + logp(word[j..i)). Ties break
    * toward the LONGER final piece (fewer tokens), then lexicographic —
    * deterministic across runs/engines. Characters missing from the
    * table fall back to [[UnkLogProb]] singletons, so every word
    * segments. Returns (pieces, total logprob). */
  private[graft] def viterbi(word: String, pieces: Map[String, Double],
                             maxPieceLen: Int): (Array[String], Double) = {
    val n = word.length
    if (n == 0) return (Array.empty, 0.0)
    val best = Array.fill(n + 1)(Double.NegativeInfinity)
    val back = Array.fill(n + 1)(-1) // start index of the winning last piece
    best(0) = 0.0
    var i = 1
    while (i <= n) {
      var j = math.max(0, i - maxPieceLen)
      while (j < i) {
        val piece = word.substring(j, i)
        val lp =
          pieces.get(piece) match {
            case Some(p) => p
            case None if i - j == 1 => UnkLogProb
            case None => Double.NegativeInfinity
          }
        if (lp != Double.NegativeInfinity && best(j) != Double.NegativeInfinity) {
          val cand = best(j) + lp
          // strictly-better wins; ties toward the longer last piece
          // (smaller j). j decreases... we iterate j ascending, so on a
          // tie keep the EARLIER j (longer piece) => only replace on >
          if (cand > best(i)) { best(i) = cand; back(i) = j }
        }
        j += 1
      }
      i += 1
    }
    val out = mutable.ArrayBuffer.empty[String]
    var pos = n
    while (pos > 0) { val j = back(pos); out += word.substring(j, pos); pos = j }
    (out.reverseIterator.toArray, best(n))
  }

  /** Exact MARGINAL expected piece counts for one word under the
    * current model — the forward-backward E-step of full EM (Kudo 2018
    * §3; what SentencePiece's trainer computes, vs the hard-EM
    * Viterbi counts [[train]] uses by default). In log space:
    * alpha(i) = logsumexp over j of alpha(j) + lp(w[j..i)),
    * beta mirrored, and each lattice edge (j, i) contributes
    * weight · exp(alpha(j) + lp + beta(i) − Z) to its piece's count.
    * The same UNK-singleton fallback as [[viterbi]] keeps every word's
    * lattice connected. Cost per word: length × maxPieceLen² — a
    * model-sized loop over the capped histogram, independent of corpus
    * size, exactly like the hard-EM round. */
  private[graft] def marginalCounts(word: String, weight: Double,
                                    pieces: Map[String, Double],
                                    maxPieceLen: Int,
                                    acc: mutable.HashMap[String, Double]): Unit = {
    val n = word.length
    if (n == 0) return
    val NegInf = Double.NegativeInfinity
    def lp(j: Int, i: Int): Double = pieces.get(word.substring(j, i)) match {
      case Some(p) => p
      case None if i - j == 1 => UnkLogProb
      case None => NegInf
    }
    def lse(a: Double, b: Double): Double =
      if (a == NegInf) b
      else if (b == NegInf) a
      else { val m = math.max(a, b); m + math.log(math.exp(a - m) + math.exp(b - m)) }
    val alpha = Array.fill(n + 1)(NegInf)
    alpha(0) = 0.0
    var i = 1
    while (i <= n) {
      var j = math.max(0, i - maxPieceLen)
      while (j < i) {
        val l = lp(j, i)
        if (l != NegInf && alpha(j) != NegInf) alpha(i) = lse(alpha(i), alpha(j) + l)
        j += 1
      }
      i += 1
    }
    val z = alpha(n)
    if (z == NegInf) return // unreachable: UNK singles connect everything
    val beta = Array.fill(n + 1)(NegInf)
    beta(n) = 0.0
    var j = n - 1
    while (j >= 0) {
      var k = j + 1
      val lim = math.min(n, j + maxPieceLen)
      while (k <= lim) {
        val l = lp(j, k)
        if (l != NegInf && beta(k) != NegInf) beta(j) = lse(beta(j), l + beta(k))
        k += 1
      }
      j -= 1
    }
    j = 0
    while (j < n) {
      var k = j + 1
      val lim = math.min(n, j + maxPieceLen)
      while (k <= lim) {
        val l = lp(j, k)
        if (l != NegInf && alpha(j) != NegInf && beta(k) != NegInf) {
          val e = math.exp(alpha(j) + l + beta(k) - z) * weight
          if (e > 0.0) {
            val p = word.substring(j, k)
            acc(p) = acc.getOrElse(p, 0.0) + e
          }
        }
        k += 1
      }
      j += 1
    }
  }

  /** Learn a piece table of (at most) `vocabSize` pieces.
    *  1. Seed: every substring (len <= maxPieceLen) of the capped word
    *     histogram, scored by weighted occurrence count; top `seedSize`
    *     kept, ALL single characters always kept.
    *  2. Repeat until |vocab| <= vocabSize: `emIters` hard-EM rounds
    *     (Viterbi counts -> renormalized log-probs), then prune the
    *     lowest-count (1 - shrink) fraction of multi-char pieces.
    *  3. Final EM round on the surviving vocabulary.
    * Deterministic end to end: histogram capped by (count desc, word),
    * seed scored with Long weights, every sort tie-breaks on the piece
    * string.
    *
    * CHARACTER-INVENTORY FLOOR (SentencePiece's `character_coverage`
    * analogue at coverage 1.0): single characters are never pruned —
    * they are what guarantees every word segments — so the smallest
    * reachable vocabulary is the corpus's distinct-character count.
    * Rather than silently returning an oversized table when
    * `vocabSize` is below that floor, training fails loudly with the
    * real floor in the message, so the caller can pick a feasible size
    * (or pre-filter the corpus's character set). */
  /** `fullEm = true` swaps the hard-EM (Viterbi-count) E-step for
    * exact forward-backward marginals ([[marginalCounts]]) — closer to
    * the published SentencePiece trainer where segmentations near ties
    * matter; piece tables can differ from the default's (spec-pinned on
    * a hand lattice). Same histogram, same model-sized loop economics,
    * hard EM stays the default so `unigram_pieces` is unchanged. */
  def train(docs: DataFrame, vocabSize: Int,
            maxPieceLen: Int = 8, seedSize: Int = 1 << 14,
            shrink: Double = 0.75, emIters: Int = 2,
            maxVocabWords: Int = 1 << 17,
            textCol: String = "text",
            fullEm: Boolean = false): UnigramModel = {
    require(vocabSize >= 1 && shrink > 0 && shrink < 1)
    val top = Bpe.wordHistogram(docs, textCol)
      .orderBy(col("cnt").desc, col("word"))
      .limit(maxVocabWords)
      .collect().map(r => (r.getString(0), r.getLong(1)))

    // --- seed: substring counts over the weighted histogram
    val subCounts = mutable.HashMap.empty[String, Long]
    top.foreach { case (w, c) =>
      var i = 0
      while (i < w.length) {
        var l = 1
        while (l <= maxPieceLen && i + l <= w.length) {
          val s = w.substring(i, i + l)
          subCounts(s) = subCounts.getOrElse(s, 0L) + c
          l += 1
        }
        i += 1
      }
    }
    val chars = subCounts.keysIterator.filter(_.length == 1).toArray
    require(vocabSize >= chars.length,
      s"vocabSize=$vocabSize is below the character-inventory floor: the corpus " +
        s"has ${chars.length} distinct characters and single characters are never " +
        "pruned (they are the OOV-free fallback) — request at least that many pieces")
    val multi = subCounts.iterator.filter(_._1.length > 1).toArray
      .sortBy { case (s, c) => (-c, s) }
      .take(math.max(0, seedSize - chars.length)).map(_._1)
    var vocab: Array[String] = chars ++ multi

    def emRound(v: Array[String], probs: Map[String, Double])
        : Map[String, Double] = {
      val counts = mutable.HashMap.empty[String, Double]
      top.foreach { case (w, c) =>
        if (fullEm) marginalCounts(w, c.toDouble, probs, maxPieceLen, counts)
        else {
          val (segs, _) = viterbi(w, probs, maxPieceLen)
          segs.foreach(p => counts(p) = counts.getOrElse(p, 0.0) + c.toDouble)
        }
      }
      val total = math.max(counts.valuesIterator.sum, 1.0)
      // Laplace-0.5 floor keeps unused-but-kept pieces (chars) finite
      v.iterator.map(p =>
        p -> math.log((counts.getOrElse(p, 0.0) + 0.5) / (total + 0.5 * v.length)))
        .toMap
    }

    // uniform init over the seed
    var probs: Map[String, Double] =
      vocab.iterator.map(_ -> math.log(1.0 / vocab.length)).toMap
    var guard = 0
    while (vocab.length > vocabSize && guard < 64) {
      var it = 0
      while (it < emIters) { probs = emRound(vocab, probs); it += 1 }
      // prune lowest-probability multi-char pieces by the shrink factor
      val multiNow = vocab.filter(_.length > 1)
      val keepMulti = math.max(
        math.min(multiNow.length, vocabSize - chars.length),
        (multiNow.length * shrink).toInt)
      val kept = multiNow.sortBy(p => (-probs(p), p)).take(keepMulti)
      val keptSet = kept.toSet
      val next = chars ++ kept
      if (next.length == vocab.length) guard = 64 // cannot shrink further
      vocab = next
      probs = probs.filter { case (p, _) => p.length == 1 || keptSet(p) }
      guard += 1
    }
    probs = emRound(vocab, probs)
    UnigramModel(probs, maxPieceLen)
  }

  /** The learned piece table as a DataFrame — the artifact a tokenizer
    * release ships. 6-dp log-probs so the table is engine-exact. */
  def piecesDF(spark: SparkSession, model: UnigramModel): DataFrame = {
    import spark.implicits._
    model.pieces.toSeq.sortBy { case (p, lp) => (-lp, p) }
      .zipWithIndex
      .map { case ((p, lp), i) =>
        (i.toLong, p, math.rint(lp * 1e6) / 1e6, p.length.toLong)
      }
      .toDF("rank", "piece", "logprob", "piece_len")
  }

  /** Persist / reload the piece table (parquet) — train-once /
    * encode-forever, like the stored BPE merge table. */
  def save(spark: SparkSession, model: UnigramModel, dir: String): Unit =
    piecesDF(spark, model)
      .withColumn("max_piece_len", lit(model.maxPieceLen))
      .coalesce(1).write.mode("overwrite").parquet(dir)

  def load(spark: SparkSession, dir: String): UnigramModel = {
    // explicit cast: `lit(maxPieceLen)` wrote an INT column, and a raw
    // getLong on it throws at runtime
    val rows = Ingestor.read(spark, dir)
      .select(col("piece"), col("logprob"), col("max_piece_len").cast("int"))
      .collect()
    require(rows.nonEmpty, s"empty unigram piece table at $dir")
    UnigramModel(rows.iterator.map(r => r.getString(0) -> r.getDouble(1)).toMap,
      rows.head.getInt(2))
  }

  /** Map-side corpus encode: (id, tokens, logprob) per doc via Viterbi
    * with the piece table broadcast and a per-partition word memo —
    * the same zero-shuffle scan-parallel shape as [[Bpe.encode]]. */
  def encode(model: UnigramModel, docs: DataFrame,
             idCol: String = "doc_id", textCol: String = "text",
             memoBound: Int = 1 << 16): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bPieces = spark.sparkContext.broadcast(model.pieces)
    val maxLen = model.maxPieceLen
    docs.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions { it =>
        val pieces = bPieces.value
        val memo = mutable.HashMap.empty[String, (Array[String], Double)]
        it.map { case (id, text) =>
          val toks = mutable.ArrayBuffer.empty[String]
          var lp = 0.0
          // byte-class scan pre-tokenizer — match-identical to the
          // bpeishPattern regex (TokenScanSpec) without the Matcher
          graft.expressions.TokenScan.bpeishEach(text) { w =>
            val enc = memo.getOrElse(w, {
              val e = viterbi(w, pieces, maxLen)
              if (memo.size < memoBound) memo(w) = e
              e
            })
            toks ++= enc._1
            lp += enc._2
          }
          (id, toks.toArray, math.rint(lp * 1e6) / 1e6)
        }
      }.toDF(idCol, "tokens", "logprob")
  }

  /** The `text_unigram_tok` query shape: per-doc char vs piece counts,
    * the compression the learned pieces bought, and the ML
    * segmentation's total log-probability (a corpus-fit signal the BPE
    * stats can't give — BPE tokens carry no probabilities). */
  def tokenStatsWith(model: UnigramModel, docs: DataFrame,
                     idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame =
    encodeStats(model, docs, idCol, textCol)
      .withColumn("compression", round(
        when(col("n_pieces") > 0,
          col("n_chars").cast("double") / col("n_pieces"))
          .otherwise(lit(1.0)), 6))

  /** Per-doc encode STATISTICS in one map-side pass, never materialising
    * the piece array: (id, n_chars, n_pieces, logprob). The stats-only
    * consumer ([[tokenStatsWith]]) previously ran [[encode]] and reduced
    * each doc's piece ARRAY with an interpreted `aggregate` lambda —
    * every piece was built, copied into the row, interpreted over, and
    * thrown away. Per-word stats memoise as two ints + a double (the
    * Viterbi segmentation covers the word's characters exactly, so
    * n_chars(word) = sum of piece lengths — spec-pinned in UnigramLmSpec
    * against the array path). */
  def encodeStats(model: UnigramModel, docs: DataFrame,
                  idCol: String = "doc_id", textCol: String = "text",
                  memoBound: Int = 1 << 16): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bPieces = spark.sparkContext.broadcast(model.pieces)
    val maxLen = model.maxPieceLen
    docs.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions { it =>
        val pieces = bPieces.value
        val memo = mutable.HashMap.empty[String, (Int, Int, Double)]
        it.map { case (id, text) =>
          var chars = 0L; var nPieces = 0L; var lp = 0.0
          graft.expressions.TokenScan.bpeishEach(text) { w =>
            val (nc, np, wlp) = memo.getOrElse(w, {
              val (enc, elp) = viterbi(w, pieces, maxLen)
              var c = 0
              var i = 0
              while (i < enc.length) { c += enc(i).length; i += 1 }
              val e = (c, enc.length, elp)
              if (memo.size < memoBound) memo(w) = e
              e
            })
            chars += nc; nPieces += np; lp += wlp
          }
          (id, chars, nPieces, math.rint(lp * 1e6) / 1e6)
        }
      }.toDF(idCol, "n_chars", "n_pieces", "logprob")
  }

  def tokenStats(docs: DataFrame, vocabSize: Int = 400,
                 idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame =
    tokenStatsWith(train(docs, vocabSize, textCol = textCol),
      docs, idCol, textCol)
}
