package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions._
import graft.sources.Ingestor

/** Text-analysis operators for LLM training-data pipelines: token
  * counting, quality scoring, language ID, fingerprinting.
  *
  * All pure `functions._` column expressions (regexp counting, length
  * arithmetic, md5) — whole-stage codegen end to end, no UDFs, so a
  * 100 TB documents scan bottlenecks on parquet IO, not on the scoring.
  * Regex patterns restrict themselves to syntax with identical semantics
  * in Java regex (Spark) and RE2 (the DuckDB oracle): character classes,
  * alternation of same-length-class alternatives, `\b` boundaries.
  *
  * ==Materialization barriers (public API contract)==
  * [[tfidf]], [[unigramLogProb]], [[bigramLogProb]], [[qualityBlend]]
  * (and [[Selection.dsir]]) place an EAGER `localCheckpoint()` barrier
  * on their shared tokenize/tf relation — load-bearing, not an
  * optimization knob: Catalyst prunes the relation's consumers into
  * structurally different subtrees, exchange reuse then does NOT apply,
  * and without the barrier the corpus is re-scanned and re-TOKENIZED
  * once per consumer (measured 2-6 FileScans, 2-4.5x the query cost at
  * sf10 — SCALE.md r18). Two consequences callers must know:
  *
  *  1. '''Construction executes.''' Merely CALLING these builders runs
  *     the tokenize pass (eager checkpoint) — the returned frame is lazy
  *     only above the barrier. Don't build one speculatively on a hot
  *     path and drop it unused.
  *  2. '''Checkpoint blocks are executor-local and NOT recomputable.'''
  *     `localCheckpoint` truncates lineage; losing an executor that
  *     holds blocks fails the job instead of recomputing. On static
  *     clusters (and the local bench) this is free; under dynamic
  *     allocation / spot decommissioning, run these operators with
  *     `spark.dynamicAllocation.shuffleTracking.enabled` executor
  *     retention, or swap the barrier for reliable `checkpoint()` on a
  *     cluster checkpoint dir — same plan shape, fault-tolerant blocks,
  *     one extra write. The blocks are doc-sized (token arrays / tf
  *     rows), freed by the ContextCleaner when the returned frame is
  *     dropped.
  */
object TextAnalysis {

  /** Whitespace token count + a BPE-ish regex token count (letter runs,
    * single digits, single punctuation — the GPT-2 pre-tokenizer shape). */
  val bpeishPattern = "[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"

  def tokenCounts(docs: DataFrame, textCol: String = "text"): DataFrame = {
    // one codegen'd sweep for all three counts (TokenScanSpec pins the
    // per-field replicas; was: wsTokenCount + a size(regexp_extract_all)
    // that materialised the full match array per doc just to count it)
    val tc = graft.expressions.TokenExpressions.tokenCounts(col(textCol))
    docs.withColumn("__tc", tc)
      .withColumn("ws_tokens", col("__tc").getField("ws_tokens"))
      .withColumn("bpe_tokens", col("__tc").getField("bpe_tokens"))
      .withColumn("n_chars_calc", col("__tc").getField("n_chars"))
      .drop("__tc")
  }

  val enStopwords = "\\b(the|and|of|to|a|in|is|it|that|for)\\b"

  /** Canonical text normalization — the stage every LLM corpus runs
    * before tokenization/dedup so byte-level variants of the same text
    * (decomposed accents, CRLF line endings, tab/space runs, stray
    * control characters) stop defeating exact-hash dedup and inflating
    * token counts. Deterministic contract, applied in this order:
    *  1. Unicode NFC (canonical composition) — [[graft.expressions
    *     .NfcNormalize]], a codegen'd native expression (no UDF);
    *  2. CRLF / CR -> LF;
    *  3. strip control chars other than tab + LF
    *     (`\x00-\x08 \x0B \x0C \x0E-\x1F \x7F`);
    *  4. collapse tab/space runs to one space;
    *  5. strip spaces adjacent to newlines, then collapse 3+ newlines
    *     to a paragraph break (two);
    *  6. trim leading/trailing spaces + newlines.
    * The contract is engine-exact vs the DuckDB oracle, which runs it
    * as `nfc_normalize` + the equivalent regexp_replace chain. The
    * Spark side originally ran the same five-regex chain; that version
    * measured 14x (not ~10x) across the sf1→sf10 decade — five
    * intermediate strings per doc per pass is ~5x the corpus in
    * allocation, which at 32 concurrent tasks turns into GC stalls —
    * so steps 2-6 now run as ONE state-machine scan fused with NFC in
    * [[graft.expressions.TextCanonicalize]] (codegen'd, at most one
    * allocation per doc; scan-vs-regex equivalence spec-pinned on the
    * crafted cases AND certified end-to-end by the regex-chain oracle).
    * Pure map stage: zero shuffle, one corpus scan, codegen end to end
    * — at 100 TB this rides the same pass as any other per-doc
    * signal. */
  def normalizeText(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs
      .withColumn("norm_text",
        graft.expressions.StringExpressions.canonicalize(col(textCol)))
      .withColumn("n_chars_raw", length(col(textCol)).cast("long"))
      .withColumn("n_chars_norm", length(col("norm_text")).cast("long"))
      .withColumn("changed", col("norm_text") =!= col(textCol))

  /** Quality scoring from length / character-class / stopword ratios.
    * Formula kept to a fixed sequence of double ops so the score is
    * bit-reproducible across engines.
    *
    * The six per-row counts come from ONE codegen'd text pass
    * ([[graft.expressions.QualityProfileExpr]]) instead of three
    * full-copy regexp_replace strips + a token-array split + a stopword
    * match-array extract — count-identical by construction (the
    * expression's scaladoc carries the per-count equivalence argument;
    * the DuckDB oracles still run the regex forms), pinned by an
    * adversarial spec against [[qualityScoreRegex]]. The score formula
    * itself is the SAME Column arithmetic on the same counts. */
  def qualityScore(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val p = graft.expressions.StringExpressions.qualityProfile(col(textCol))
    val n = p.getField("n_chars")
    val alpha = p.getField("n_alpha")
    val digits = p.getField("n_digits")
    val ws = p.getField("n_ws")
    val punct = n - alpha - digits - ws
    val toks = p.getField("n_tokens")
    val stops = p.getField("n_stops")
    docs
      .withColumn("n_chars_calc", n)
      .withColumn("n_tokens", toks)
      .withColumn("alpha_ratio", round(alpha / n, 6))
      .withColumn("punct_ratio", round(punct / n, 6))
      .withColumn("stopword_ratio", round(stops / toks, 6))
      .withColumn("quality_score", round(
        lit(0.4) * least(lit(1.0), toks / lit(100.0)) +
          lit(0.3) * (alpha / n) +
          lit(0.2) * (lit(1.0) - punct / n) +
          lit(0.1) * least(lit(1.0), stops / toks * lit(5.0)), 6))
  }

  /** The measured-and-rejected multi-pass form of [[qualityScore]]
    * (three regexp_replace length-diffs + split-and-size + stopword
    * regexp_extract_all). Retained as the independent reference
    * implementation for the fused expression's equivalence spec; same
    * output contract. */
  private[graft] def qualityScoreRegex(docs: DataFrame,
                                       textCol: String = "text"): DataFrame = {
    val text = col(textCol)
    val n = length(text).cast("long")
    val alpha = n - length(regexp_replace(text, "[A-Za-z]", "")).cast("long")
    val digits = n - length(regexp_replace(text, "[0-9]", "")).cast("long")
    val ws = n - length(regexp_replace(text, "\\s", "")).cast("long")
    val punct = n - alpha - digits - ws
    val toks = wsTokenCount(text)
    val stops = size(regexp_extract_all(lower(text), lit(enStopwords))).cast("long")
    docs
      .withColumn("n_chars_calc", n)
      .withColumn("n_tokens", toks)
      .withColumn("alpha_ratio", round(alpha / n, 6))
      .withColumn("punct_ratio", round(punct / n, 6))
      .withColumn("stopword_ratio", round(stops / toks, 6))
      .withColumn("quality_score", round(
        lit(0.4) * least(lit(1.0), toks / lit(100.0)) +
          lit(0.3) * (alpha / n) +
          lit(0.2) * (lit(1.0) - punct / n) +
          lit(0.1) * least(lit(1.0), stops / toks * lit(5.0)), 6))
  }

  /** Stopword / script heuristic language ID. CJK script presence wins
    * outright; otherwise argmax of per-language stopword hit counts with
    * a deterministic tie-break order (en > de > fr > es). */
  val langStopwords: Seq[(String, String)] = Seq(
    "en" -> "\\b(the|and|of|to|is|in|that|it|for|on)\\b",
    "de" -> "\\b(der|die|das|und|ist|nicht|mit|ein|zu|den)\\b",
    "fr" -> "\\b(le|la|les|et|est|dans|pour|que|une|des)\\b",
    "es" -> "\\b(el|los|las|es|en|que|por|con|para|una)\\b")

  def languageId(docs: DataFrame, textCol: String = "text"): DataFrame = {
    // All five counts from ONE codegen'd text pass ([[graft.expressions
    // .LangProfileExpr]]) instead of five regexp_extract_all passes —
    // regex-count-identical by construction (the expression's scaladoc
    // has the \b-equivalence argument; the DuckDB oracle still runs the
    // regexes) and 12x faster at sf10. The five consumers are identical
    // deterministic subtrees, so whole-stage codegen's subexpression
    // elimination evaluates the scan once per row (same pattern as
    // [[redactPii]]).
    val p = graft.expressions.StringExpressions.langProfile(col(textCol))
    val en = col("cnt_en"); val de = col("cnt_de")
    val fr = col("cnt_fr"); val es = col("cnt_es")
    val langExpr = when(col("cnt_cjk") > 0, "zh")
      .when(en === 0 && de === 0 && fr === 0 && es === 0, "unknown")
      .when(en >= de && en >= fr && en >= es, "en")
      .when(de >= fr && de >= es, "de")
      .when(fr >= es, "fr")
      .otherwise("es")
    Seq("en", "de", "fr", "es", "cjk")
      .foldLeft(docs)((df, l) => df.withColumn(s"cnt_$l", p.getField(s"cnt_$l")))
      .withColumn("lang_pred", langExpr)
  }

  /** The measured-and-rejected five-regex form of [[languageId]] (four
    * `\b(...)\b` alternation counts + a CJK class, each a separate
    * `regexp_extract_all` materialising its match array — 21.2 s vs
    * 1.7 s for the fused pass at sf10). Retained as the independent
    * reference implementation for the fused expression's equivalence
    * spec; same output contract. */
  private[graft] def languageIdRegex(docs: DataFrame,
                                     textCol: String = "text"): DataFrame = {
    val lowered = lower(col(textCol))
    val counts = langStopwords.map { case (l, pat) =>
      l -> size(regexp_extract_all(lowered, lit(pat))).cast("long")
    }
    val Seq(en, de, fr, es) = counts.map(_._2)
    val cjk = size(regexp_extract_all(col(textCol), lit("[\\u4e00-\\u9fff]"), lit(0))).cast("long")
    val langExpr = when(cjk > 0, "zh")
      .when(en === 0 && de === 0 && fr === 0 && es === 0, "unknown")
      .when(en >= de && en >= fr && en >= es, "en")
      .when(de >= fr && de >= es, "de")
      .when(fr >= es, "fr")
      .otherwise("es")
    counts.foldLeft(docs) { case (df, (l, c)) => df.withColumn(s"cnt_$l", c) }
      .withColumn("cnt_cjk", cjk)
      .withColumn("lang_pred", langExpr)
  }

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03 — the
    * MOSS algorithm): rolling Rabin-Karp hash over char k-grams, keep
    * the minimum hash of every w-hash window (rightmost on ties). The
    * selected set is position-independent and robust to edits outside
    * the changed region — the classic plagiarism/near-dup fingerprint.
    * Built in one typed mapPartitions pass (a rolling hash is inherently
    * sequential per document; across documents it's fully distributed). */
  def winnowingFingerprints(docs: DataFrame, k: Int = 8, window: Int = 4,
                            textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val base = 257L
    val baseK = { var b = 1L; (1 until k).foreach(_ => b *= base); b }
    spread(docs, col("doc_id")).select(col("doc_id"), col(textCol)).as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val s = text.toLowerCase(java.util.Locale.ROOT)
          if (s.length < k) (id, Array.empty[Long])
          else {
            val n = s.length - k + 1
            val hashes = new Array[Long](n)
            var h = 0L
            (0 until k).foreach(i => h = h * base + s.charAt(i))
            hashes(0) = h
            var i = 1
            while (i < n) {
              h = (h - s.charAt(i - 1) * baseK) * base + s.charAt(i + k - 1)
              hashes(i) = h
              i += 1
            }
            val picked = new scala.collection.mutable.HashSet[Long]
            var w = 0
            while (w + window <= n) {
              var minIdx = w
              var j = w + 1
              while (j < w + window) { // rightmost minimum
                if (hashes(j) <= hashes(minIdx)) minIdx = j
                j += 1
              }
              picked += hashes(minIdx)
              w += 1
            }
            (id, picked.toArray.sorted)
          }
        }
      }.toDF("doc_id", "winnow_fp")
  }

  /** PII redaction — the safety pass a training corpus runs before
    * anything else ships: emails, IPv4 addresses, and phone-like number
    * runs replaced with typed placeholder tokens, with per-type match
    * counts for audit. Patterns restrict themselves to syntax with
    * identical semantics in Java regex and RE2 (no lookaround, no
    * backrefs), so the counts and the redacted text are engine-exact.
    * Counts are measured on the ORIGINAL text (order-independent);
    * replacement applies email -> ip -> phone so a number inside an
    * already-redacted span is not double-counted in the output. All
    * pure `regexp_replace`/`regexp_extract_all` — codegen'd, no UDFs. */
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val ipv4Pattern = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  val phonePattern = "\\+?[0-9][0-9()\\- ]{7,14}[0-9]"

  def redactPii(docs: DataFrame, textCol: String = "text"): DataFrame = {
    // One fused scan ([[graft.expressions.PiiRedact]]) instead of six
    // regex expressions; the four consumers of the struct are identical
    // deterministic subtrees, so whole-stage codegen's subexpression
    // elimination evaluates the scan once per row. Output schema and
    // values are byte-identical to [[redactPiiRegex]] (spec-pinned on
    // adversarial strings; certified end to end by the same DuckDB
    // oracle, which still runs the regex chain).
    val pii = graft.expressions.StringExpressions.piiScan(col(textCol))
    docs
      .withColumn("n_emails", pii.getField("n_emails"))
      .withColumn("n_ips", pii.getField("n_ips"))
      .withColumn("n_phones", pii.getField("n_phones"))
      .withColumn("redacted_text", pii.getField("redacted_text"))
  }

  /** The measured-and-rejected 6-regex-expression form of [[redactPii]]
    * (three `regexp_extract_all` counts + three nested `regexp_replace`
    * passes — the r10 bench profile's most expensive entry). Retained as
    * the independent reference implementation for the fused expression's
    * equivalence spec; same output contract. */
  private[graft] def redactPiiRegex(docs: DataFrame,
                                    textCol: String = "text"): DataFrame = {
    val text = col(textCol)
    def count(pat: String) =
      size(regexp_extract_all(text, lit(pat), lit(0))).cast("long")
    val redacted =
      regexp_replace(
        regexp_replace(
          regexp_replace(text, emailPattern, "<EMAIL>"),
          ipv4Pattern, "<IP>"),
        phonePattern, "<PHONE>")
    docs
      .withColumn("n_emails", count(emailPattern))
      .withColumn("n_ips", count(ipv4Pattern))
      .withColumn("n_phones", count(phonePattern))
      .withColumn("redacted_text", redacted)
  }

  /** Top-k TF-IDF terms per document — the corpus-level term statistics
    * a training-data pipeline uses for keyword extraction / topic
    * filtering. tf = term count in doc; idf = ln((N+1)/(df+1)) + 1
    * (smoothed, sklearn-style); score rounded to 6dp BEFORE ranking so
    * the top-k cut is identical across engines.
    *
    * Shape at scale: tokenize+explode (one pass), tf aggregate (shuffle
    * on doc+term), tf MATERIALIZED once (eager localCheckpoint, the
    * [[graft.operators.Dedup.minhashNearDups]] idiom), df aggregate
    * from the checkpoint (partial-combined and skew-immune — a
    * stopword's df never concentrates in one task, unlike a
    * count-over-term-window formulation), corpus size as a broadcast
    * single-row aggregate (no driver action), top-k as a per-doc
    * window. No step is driver-side and nothing is quadratic.
    *
    * The checkpoint is LOAD-BEARING (r18 stage probe, SCALE.md): as two
    * lazy branches of one plan, the df branch is column-pruned into a
    * structurally different distinct-aggregate, so exchange reuse does
    * NOT apply and the corpus was tokenized + shuffled TWICE — and the
    * doubled subtree under the top-k window read 45 s at sf10 where the
    * checkpointed form reads ~10 s (4.5x). "df from tf" is only true
    * with the materialization barrier. Eager + executor-local — see the
    * class-level ''Materialization barriers'' contract. */
  def tfidf(docs: DataFrame, textCol: String = "text", topK: Int = 10)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col("doc_id"),
      explode(wordTokens(col(textCol))).as("term"))
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(dfreq, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf", round(
        col("tf") * (log((col("n_docs") + lit(1.0)) / (col("df") + lit(1.0))) + lit(1.0)),
        6))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("tfidf").desc, col("term").asc)
    scored.withColumn("rk", row_number().over(w))
      .where(col("rk") <= topK)
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        col("tfidf"), col("rk").cast("long").as("rk"))
  }

  /** BM25 ranked retrieval (Robertson/Spärck Jones Okapi weighting, the
    * scoring function behind Lucene/Elasticsearch defaults): top-`topK`
    * documents per query for a fixed query set — the retrieval operator
    * a training-data pipeline uses for targeted corpus search (find
    * documents about X), retrieval-augmented filtering, and seed-query
    * expansion, where [[tfidf]] only profiles terms WITHIN a doc.
    *
    * score(q, d) = sum over query terms t of
    *   ln(1 + (N - df + 0.5)/(df + 0.5)) ·
    *   tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    *
    * Engine-exact determinism: per-term contributions are cast to exact
    * decimals before the per-(query, doc) sum (the [[graft.functions.dec]]
    * discipline — double summation order would drift run-to-run), and
    * the final score rounds to 6dp; ties break on doc_id.
    *
    * Scale shape (the inverted-index-free form a 100 TB scan wants):
    *  - doc lengths come from a codegen'd `regexp_extract_all` count in
    *    the corpus scan — no explode, no HOF fallback;
    *  - the token stream is filtered to QUERY terms by a broadcast join
    *    BEFORE any aggregation, so the tf shuffle carries only matching
    *    tokens (query-sized vocabulary · their occurrences), never the
    *    corpus vocabulary;
    *  - df for query terms and the (N, total_dl) stats are term-sized /
    *    single-row aggregates broadcast back;
    *  - the per-query ranking is a TakeOrdered-shaped window over docs
    *    that matched ≥1 query term only.
    * Reference analogue: the platform has no retrieval operator; this is
    * a mandated-extension capability (SURVEY §2.4). */
  def bm25(docs: DataFrame, queries: Seq[(Long, String)],
           textCol: String = "text", topK: Int = 10,
           k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(queries.nonEmpty, "query set must be non-empty")
    val spark = docs.sparkSession
    import spark.implicits._
    val qterms = queries.flatMap { case (qid, q) =>
      q.toLowerCase(java.util.Locale.ROOT).split("[^a-z0-9]+")
        .filter(_.nonEmpty).distinct.map(t => (qid, t))
    }.toDF("query_id", "term")
    val termSet = qterms.select("term").distinct()
    val doclen = docs.select(col("doc_id"),
      // word-run count from the fused counts sweep — same value as
      // size(regexp_extract_all(lower(text), "[a-z0-9]+")) (the oracle's
      // form) without lowering or materialising the match array
      graft.expressions.TokenExpressions.tokenCounts(col(textCol))
        .getField("word_tokens").as("dl"))
    val stats = doclen.agg(count(lit(1)).as("n_docs"), sum("dl").as("total_dl"))
    val tf = docs
      .select(col("doc_id"), explode(wordTokens(col(textCol))).as("term"))
      .join(broadcast(termSet), "term")
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val contrib = tf
      .join(broadcast(dfreq), "term")
      .join(broadcast(qterms), "term")
      .join(doclen, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("avgdl", col("total_dl") / col("n_docs"))
      .withColumn("term_score", dec(
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
          (col("tf") * lit(k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl")))))
    val scored = contrib.groupBy("query_id", "doc_id")
      .agg(round(sum(col("term_score")).cast("double"), 6).as("score"),
        count(lit(1)).as("n_terms"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("doc_id"))
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .where(col("rk") <= topK)
      .select(col("query_id"), col("doc_id"), col("score"), col("n_terms"), col("rk"))
  }

  /** Repetition quality signals (Gopher-style, Rae et al. 2021 §A1.1,
    * adapted to word n-grams — the corpus has no line structure): the
    * filters that catch boilerplate/spam documents a perplexity filter
    * misses. Per doc, over lowercase word tokens:
    *   - `uniq_word_ratio`  distinct words / words (low = looping text)
    *   - `top_bigram_frac`  occurrences of the most frequent bigram /
    *     total bigrams (Gopher's "top n-gram fraction")
    *   - `dup_trigram_frac` fraction of trigram occurrences that are
    *     repeats (Gopher's "duplicate n-gram fraction")
    *   - `repetitive`       the composite drop flag
    *
    * Counting runs in ONE typed mapPartitions pass (the same fast-path
    * shape as [[fingerprints]] — per-doc hash maps in a tight loop, zero
    * shuffle, fully distributed across docs); the ratio arithmetic stays
    * in Column expressions so rounding is engine-exact (`round(x, 6)`,
    * matching the DuckDB oracle). Thresholds follow Gopher's published
    * cut points, scaled to word-count fractions. */
  def repetitionSignals(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val counts = spread(docs, col("doc_id"))
      .select(col("doc_id"), col(textCol)).as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          // r20 kernel: intern each token to a dense int id by EXACT
          // string identity (one HashMap probe per token — no hash-only
          // identity, so the collision class is unchanged), then count
          // bigrams/trigrams as packed-long sort+run-scan instead of
          // building a concatenated String + boxed HashMap entry per
          // position. Identity is preserved exactly: tokens are
          // [a-z0-9]+ (never contain the old separator space), so
          // "a b" string equality == (idA, idB) equality. Equivalence
          // vs the string-keyed form is spec-pinned
          // (TextMultimodalSpec).
          val toks = graft.expressions.TokenScan.lowerAlnum(text)
          val n = toks.length
          val intern = new java.util.HashMap[String, Integer](
            math.max(8, n * 2))
          val ids = new Array[Int](n)
          var nUniq = 0
          var i = 0
          while (i < n) {
            val prev = intern.putIfAbsent(toks(i), nUniq)
            if (prev == null) { ids(i) = nUniq; nUniq += 1 }
            else ids(i) = prev.intValue()
            i += 1
          }
          // bigram identity = (a << 32) | b (ids are doc-local, always
          // < 2^31); top count = longest run of the sorted key array
          var topBigram = 0L
          if (n >= 2) {
            val bg = new Array[Long](n - 1)
            i = 0
            while (i + 2 <= n) {
              bg(i) = (ids(i).toLong << 32) | (ids(i + 1).toLong & 0xFFFFFFFFL)
              i += 1
            }
            java.util.Arrays.sort(bg)
            var run = 1L
            i = 1
            topBigram = 1L
            while (i < bg.length) {
              if (bg(i) == bg(i - 1)) run += 1 else run = 1
              if (run > topBigram) topBigram = run
              i += 1
            }
          }
          // trigram identity packs 3 x 21-bit ids into one long — exact
          // while nUniq < 2^21 (a single doc with >= 2M DISTINCT tokens
          // is >= 4 MB of text; the string path below covers that tail)
          var nUniqTrigrams = 0L
          if (n >= 3) {
            if (nUniq < (1 << 21)) {
              val tg = new Array[Long](n - 2)
              i = 0
              while (i + 3 <= n) {
                tg(i) = (ids(i).toLong << 42) | (ids(i + 1).toLong << 21) |
                  ids(i + 2).toLong
                i += 1
              }
              java.util.Arrays.sort(tg)
              i = 0
              while (i < tg.length) {
                if (i == 0 || tg(i) != tg(i - 1)) nUniqTrigrams += 1
                i += 1
              }
            } else {
              val trigrams = new scala.collection.mutable.HashSet[String]
              i = 0
              while (i + 3 <= n) {
                trigrams.add(toks(i) + " " + toks(i + 1) + " " + toks(i + 2))
                i += 1
              }
              nUniqTrigrams = trigrams.size.toLong
            }
          }
          (id, n.toLong, nUniq.toLong, math.max(n - 1, 0).toLong,
            topBigram, math.max(n - 2, 0).toLong, nUniqTrigrams)
        }
      }.toDF("doc_id", "n_words", "n_uniq_words", "n_bigrams",
        "top_bigram_n", "n_trigrams", "n_uniq_trigrams")
    counts
      .withColumn("uniq_word_ratio", when(col("n_words") === 0, lit(0.0))
        .otherwise(round(col("n_uniq_words") / col("n_words"), 6)))
      .withColumn("top_bigram_frac", when(col("n_bigrams") === 0, lit(0.0))
        .otherwise(round(col("top_bigram_n") / col("n_bigrams"), 6)))
      .withColumn("dup_trigram_frac", when(col("n_trigrams") === 0, lit(0.0))
        .otherwise(round((col("n_trigrams") - col("n_uniq_trigrams")) / col("n_trigrams"), 6)))
      .withColumn("repetitive",
        col("top_bigram_frac") > 0.18 || col("dup_trigram_frac") > 0.30 ||
          (col("n_words") >= 10 && col("uniq_word_ratio") < 0.2))
  }

  /** Unigram log-probability scoring — the statistical-LM quality filter
    * (CCNet/RedPajama-style, Wenzek et al. 2020): score each document by
    * the mean log-probability of its tokens under the corpus's own
    * unigram distribution. Gibberish and rare-token spam score far below
    * fluent text; the filter needs no external model.
    *
    * Shape at 100 TB: tokenize once into per-doc token ARRAYS and
    * materialize them (eager localCheckpoint — doc-sized rows, the
    * same load-bearing barrier as [[tfidf]]'s: the vocab branch and the
    * scoring branch are pruned into structurally different explode
    * subtrees, so exchange reuse does NOT dedupe them and the corpus
    * was re-scanned+re-tokenized per consumer); the vocabulary is an
    * aggregate of the token relation, the corpus token total a
    * broadcast single-row aggregate, scoring one equi-join on term
    * (AQE broadcasts the vocab when it fits). Per-token ln(p) terms
    * are fixed to exact decimals BEFORE the per-doc sum, so the mean
    * is associative — identical on any engine, any partitioning.
    * The barrier is eager + executor-local — see the class-level
    * ''Materialization barriers'' contract. */
  def unigramLogProb(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val w = tokenArrays(docs, textCol).localCheckpoint()
    val toks = w.select(col("doc_id"), explode(col("w")).as("term"))
    val vocab = toks.groupBy("term").agg(count(lit(1)).as("c"))
    // corpus total from the vocab relation, NOT a second token scan
    val total = vocab.agg(sum("c").as("total"))
    val scored = toks.join(vocab, "term")
      .crossJoin(broadcast(total))
      .withColumn("lp", dec(log(col("c") / col("total"))))
    val agg = scored.groupBy("doc_id").agg(
      count(lit(1)).as("n_toks"),
      round(sum(col("lp")).cast("double") / count(lit(1)), 6).as("avg_logprob"))
    w.select("doc_id").join(agg, Seq("doc_id"), "left")
      .withColumn("n_toks", coalesce(col("n_toks"), lit(0L)))
  }

  /** Interpolated BIGRAM log-probability score — the next rung of the
    * CCNet-style statistical-LM quality ladder above [[unigramLogProb]]:
    * word-salad spam can fool a unigram model by using common words, but
    * its TRANSITIONS are rare, and the bigram term punishes exactly
    * that. Each bigram position scores
    * ln(λ·c(ab)/c(a) + (1−λ)·c(b)/N) — interpolation (Jelinek-Mercer)
    * rather than backoff so unseen corpus bigrams still get mass and no
    * per-history normalizer table is needed.
    *
    * Scale shape mirrors the unigram scorer: the per-doc token arrays
    * are tokenized ONCE and materialized (eager localCheckpoint — the
    * r18 probe caught the executed plan carrying SIX FileScans: the
    * unigram-count, bigram-count, and scoring-pair subtrees are pruned
    * differently, so exchange reuse dedupes none of them and the
    * corpus was re-scanned+re-tokenized per consumer; 21-28 s → ~8 s
    * at sf10 with the barrier). The corpus then contributes one
    * unigram and one bigram count shuffle (both vocabulary-sized, both
    * map-side combined), scoring is equi-joins on the count relations
    * (AQE broadcasts them when they fit), and the corpus total comes
    * from the unigram relation — never a second token scan. Per-bigram
    * ln(p) terms are fixed to exact decimals BEFORE the per-doc sum,
    * so the mean is associative — identical on any
    * engine/partitioning. Docs with fewer than two tokens keep
    * n_bigrams=0, null score. The barrier is eager + executor-local —
    * see the class-level ''Materialization barriers'' contract. */
  def bigramLogProb(docs: DataFrame, textCol: String = "text",
                    lambda: Double = 0.75): DataFrame = {
    val w = tokenArrays(docs, textCol).localCheckpoint()
    val toks = w.select(col("doc_id"), explode(col("w")).as("a"))
    val uni = toks.groupBy("a").agg(count(lit(1)).as("ca"))
    val total = uni.agg(sum("ca").as("total"))
    val bi = bigramPairs(w).groupBy("a", "b").agg(count(lit(1)).as("cab"))
    scoreBigramsFromArrays(w, uni, bi, total, lambda)
  }

  private def tokenArrays(docs: DataFrame, textCol: String) =
    docs.select(col("doc_id"), wordTokens(col(textCol)).as("w"))

  private def bigramPairs(w: DataFrame) =
    // one-pass adjacent-pair expression (r19) — the transform(sequence,
    // element_at) chain was a CodegenFallback interpreter per bigram
    w.where(size(col("w")) >= 2).select(col("doc_id"),
      explode(graft.expressions.TokenExpressions.bigrams(col("w"))).as("p"))
      .select(col("doc_id"), col("p.a").as("a"), col("p.b").as("b"))

  /** Shared scoring tail for the in-flight and stored bigram-LM paths
    * (they can never diverge on text the LM has seen). Count joins are
    * LEFT so a STORED model can score text outside its training pool:
    * an unseen history contributes only the continuation term; an
    * unseen continuation word gets a half-count floor instead of
    * ln(0) = −∞ (Jelinek-Mercer keeps no mass for unseen continuations;
    * the floor is the standard fix and touches no seen path — on the
    * training pool every count exists and the arithmetic is
    * bit-identical to the inner-join form). */
  private def scoreBigramsWith(docs: DataFrame, textCol: String,
                               uni: DataFrame, bi: DataFrame,
                               total: DataFrame, lambda: Double): DataFrame =
    scoreBigramsFromArrays(tokenArrays(docs, textCol), uni, bi, total, lambda)

  /** [[scoreBigramsWith]] over an already-tokenized (and, on the
    * in-flight path, checkpointed) per-doc token-array relation, so the
    * scoring pass and the count passes share ONE tokenize. */
  private def scoreBigramsFromArrays(w: DataFrame,
                                     uni: DataFrame, bi: DataFrame,
                                     total: DataFrame, lambda: Double): DataFrame = {
    val pairs = bigramPairs(w)
    val scored = pairs
      .join(bi, Seq("a", "b"), "left")
      .join(uni, Seq("a"), "left")
      .join(uni.select(col("a").as("b"), col("ca").as("cb")), Seq("b"), "left")
      .crossJoin(broadcast(total))
      .withColumn("lp", dec(log(
        when(col("ca").isNotNull,
          lit(lambda) * coalesce(col("cab"), lit(0L)) / col("ca"))
          .otherwise(lit(0.0)) +
          lit(1.0 - lambda) * coalesce(col("cb"), lit(0.5)) / col("total"))))
    val agg = scored.groupBy("doc_id").agg(
      count(lit(1)).as("n_bigrams"),
      round(sum(col("lp")).cast("double") / count(lit(1)), 6).as("avg_logprob"))
    w.select("doc_id").join(agg, Seq("doc_id"), "left")
      .withColumn("n_bigrams", coalesce(col("n_bigrams"), lit(0L)))
  }

  /** Persist the bigram LM's count tables — `uni` (a, ca), `bi`
    * (a, b, cab), and `meta` (corpus token total), meta written LAST so
    * its presence implies a complete model (the same crash-safe build
    * marker as the stored dedup/ANN/decontamination artifacts). Both
    * count relations are vocabulary-sized, never corpus-sized. */
  def buildBigramLm(docs: DataFrame, dir: String,
                    textCol: String = "text"): Unit = {
    val w = tokenArrays(docs, textCol)
    val uni = w.select(col("doc_id"), explode(col("w")).as("a"))
      .groupBy("a").agg(count(lit(1)).as("ca"))
    uni.write.mode("overwrite").parquet(s"$dir/uni")
    bigramPairs(w).groupBy("a", "b").agg(count(lit(1)).as("cab"))
      .write.mode("overwrite").parquet(s"$dir/bi")
    val spark = docs.sparkSession
    Ingestor.read(spark, s"$dir/uni").agg(sum("ca").as("total"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
  }

  /** Score a pool against a STORED bigram LM ([[buildBigramLm]]) — the
    * train-once/score-forever form of [[bigramLogProb]]: per run, one
    * pool tokenize + the count-table joins, zero training-side work.
    * On the LM's own training pool the output is byte-identical to the
    * in-flight path (shared scoring tail, all counts present). */
  def bigramLogProbStored(docs: DataFrame, dir: String,
                          textCol: String = "text",
                          lambda: Double = 0.75): DataFrame = {
    val spark = docs.sparkSession
    scoreBigramsWith(docs, textCol,
      Ingestor.read(spark, s"$dir/uni"),
      Ingestor.read(spark, s"$dir/bi"),
      Ingestor.read(spark, s"$dir/meta"), lambda)
  }

  /** Multi-signal quality ENSEMBLE (the FineWeb-style "blend of weak
    * signals beats any one" curation scorer): rank-normalize three
    * independent quality families — the heuristic surface score
    * ([[qualityScore]]), statistical-LM fit ([[unigramLogProb]],
    * clamped to [−30, 0] so degenerate docs tie at the floor instead of
    * stretching the scale), and vocabulary diversity
    * ([[repetitionSignals]]' unique-word ratio) — to percent-ranks
    * (scale-free, so no signal dominates by unit) and average them.
    * Rank-normalization uses [[Sketches.percentRank]]'s two-level
    * bucketed form: no global single-task window anywhere, each signal
    * costs one bucket count table + one per-bucket window. Output
    * percent-ranks and the blend are 6dp, engine-exact. Carries an
    * eager executor-local barrier — see the class-level
    * ''Materialization barriers'' contract. */
  def qualityBlend(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val q = qualityScore(docs, textCol).select(col("doc_id"), col("quality_score"))
    val lm = unigramLogProb(docs, textCol).select(col("doc_id"),
      greatest(coalesce(col("avg_logprob"), lit(-30.0)), lit(-30.0)).as("lm_score"))
    val rep = repetitionSignals(docs, textCol).select(col("doc_id"),
      coalesce(col("uniq_word_ratio"), lit(0.0)).as("uniq_ratio"))
    // One materialization for four consumers: each percentRank runs an
    // eager bucket-count job over this relation and the returned plan
    // reads it again — uncached, the expensive 3-signal join (two corpus
    // tokenizations + a mapPartitions pass) would recompute ~4x.
    // localCheckpoint (eager) rather than persist: the blocks outlive
    // this call for the caller's final plan and are freed by GC with the
    // plan, so there is no unpersist-too-early/never dilemma. The
    // checkpointed relation is (doc_id + 3 doubles) — corpus rows, not
    // corpus bytes.
    val joined = q.join(lm, "doc_id").join(rep, "doc_id").localCheckpoint()
    val ranked = Seq(
      ("quality_score", "pr_quality", 0.0, 1.0),
      ("lm_score", "pr_lm", -30.0, 0.0),
      ("uniq_ratio", "pr_uniq", 0.0, 1.0))
      .foldLeft(joined) { case (df, (in, out, lo, hi)) =>
        Sketches.percentRank(df, in, out, lo, hi)
      }
    ranked.withColumn("blend",
      round((col("pr_quality") + col("pr_lm") + col("pr_uniq")) / 3, 6))
  }

  /** Wordlist (blocklist) screen — the C4-style "badwords" filtering
    * stage: per doc, total and distinct blocklist-entry occurrences
    * over the standard word tokenization, plus the drop flag — emitted
    * as an AUDIT (every doc kept, callers filter on `blocked`) so the
    * same pass feeds both the filter and the attrition report.
    *
    * Entries may be MULTI-TOKEN: each entry is tokenized with the same
    * contract as the text side (lowercase, `[^a-z0-9]+` splits), and a
    * phrase/hyphenated entry ("bad phrase", "e-mail") matches wherever
    * its token sequence appears contiguously — what real C4-style lists
    * need (the previous single-token-only contract rejected them
    * loudly). `n_blocked` counts match positions (overlap-aware) over
    * all entries; `n_distinct_blocked` counts entries matched at least
    * once — for an all-single-token list both reduce to the old
    * per-token semantics, same oracle. Entries with no alphanumeric
    * token at all still fail loudly (they could never match).
    *
    * Execution is ONE codegen'd scan per doc
    * ([[graft.expressions.BlocklistScreenExpr]]: tokenize + per-length
    * hash lookups, the list compiled once per executor JVM) — no join,
    * no shuffle, rides the corpus scan; it also replaces the previous
    * interpreted higher-order `filter` lambda in the hot path. A
    * blocklist too large for one broadcast string becomes a broadcast
    * semi-join on exploded token n-grams — same semantics, still no
    * corpus shuffle. */
  def blocklistScreen(docs: DataFrame, terms: Seq[String],
                      textCol: String = "text"): DataFrame = {
    require(terms.nonEmpty, "blocklist must be non-empty")
    val tokenized = terms.map(t => t -> t.toLowerCase(java.util.Locale.ROOT)
      .split("[^a-z0-9]+").filter(_.nonEmpty).toSeq)
    val bad = tokenized.filter(_._2.isEmpty).map(_._1)
    require(bad.isEmpty,
      s"blocklist entries must contain at least one alphanumeric token; " +
        s"offending entries: ${bad.take(5).mkString(", ")}")
    // normalized + de-duplicated entry list ("e-mail" and "e mail" are
    // the same token sequence, hence the same entry)
    val entries = tokenized.map(_._2.mkString(" ")).distinct
    val screen = graft.expressions.StringExpressions
      .blocklistScreen(col(textCol), entries.mkString("\n"))
    // three consumers of one deterministic subtree: whole-stage
    // codegen's subexpression elimination runs the scan once per row
    // (the redactPii precedent)
    docs
      .withColumn("n_blocked", screen.getField("n_blocked"))
      .withColumn("n_distinct_blocked", screen.getField("n_distinct_blocked"))
      .withColumn("blocked", screen.getField("n_blocked") > 0)
  }

  /** Content fingerprints: exact (md5 of the raw text) and structural
    * (min-md5 over distinct word 5-gram shingles — a 1-permutation
    * MinHash, stable under whitespace/reordering-free edits). Returns
    * (doc_id, content_md5, shingle_sig, n_shingles); shingle-less docs
    * keep a null sig and count 0.
    *
    * One typed mapPartitions pass instead of the HOF
    * shingles()+explode+agg chain: transform/slice/concat_ws lambdas are
    * CodegenFallback (~58 µs per shingle interpreted — this one query was
    * 26% of the whole bench), while the tight loop below tokenizes,
    * shingles, and md5s each doc in-place with zero shuffle (the old path
    * shuffled every exploded shingle to aggregate the min). min over
    * lowercase-hex md5 strings is the same ordering Spark's `min(md5(s))`
    * used, so the oracle hash is unchanged. Tokenization mirrors
    * [[graft.functions.wordTokens]]: lowercase, split [^a-z0-9]+, drop
    * empties. */
  def fingerprints(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    spread(docs, col("doc_id")).select(col("doc_id"), col(textCol)).as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        val hexDigits = "0123456789abcdef".toCharArray
        def md5Hex(s: String): String = {
          val bytes = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          val out = new Array[Char](32)
          var i = 0
          while (i < 16) {
            out(2 * i) = hexDigits((bytes(i) >> 4) & 0xf)
            out(2 * i + 1) = hexDigits(bytes(i) & 0xf)
            i += 1
          }
          new String(out)
        }
        it.map { case (id, text) =>
          val contentMd5 = md5Hex(text)
          val toks = graft.expressions.TokenScan.lowerAlnum(text)
          val n = 5
          val seen = new scala.collection.mutable.HashSet[String]
          var minSig: String = null
          var i = 0
          while (i + n <= toks.length) {
            val sb = new java.lang.StringBuilder(toks(i))
            var j = i + 1
            while (j < i + n) { sb.append(' ').append(toks(j)); j += 1 }
            val s = sb.toString
            if (seen.add(s)) {
              val h = md5Hex(s)
              if (minSig == null || h.compareTo(minSig) < 0) minSig = h
            }
            i += 1
          }
          (id, contentMd5, minSig, seen.size.toLong)
        }
      }.toDF("doc_id", "content_md5", "shingle_sig", "n_shingles")
  }
}
