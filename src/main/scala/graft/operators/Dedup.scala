package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions._

/** Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard
  * verification, embedding-cosine.
  *
  * 100 TB design rule: never materialise all pairs. Every near-dup path
  * generates candidates through a bucket join (LSH band buckets or
  * SimHash blocks) — each document lands in a handful of buckets, the
  * self-join happens per bucket, and the exact verification only runs on
  * candidates. The shuffles are all hash-partitioned on bucket keys, so
  * the work distributes evenly across executors (banding also bounds
  * bucket size: 2^64 key space, skew only if true duplicates are
  * themselves skewed, which AQE's skew-join split absorbs).
  */
object Dedup {

  /** Exact dedup by content hash: one hash-partitioned aggregation,
    * keeps the smallest id per fingerprint (deterministic winner). */
  def exact(docs: DataFrame, idCol: String = "doc_id",
            textCol: String = "text"): DataFrame =
    docs.groupBy(md5(col(textCol)).as("fingerprint"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))
      .select("keep_id", "fingerprint", "dup_count")

  /** Docs + their distinct word-3-gram shingle sets (the unit both
    * MinHash and exact Jaccard operate on). Spread first: shingle
    * construction is the CPU-heavy step and must not serialise on a
    * single input split (see [[graft.functions.spread]]). */
  def withShingles(docs: DataFrame, n: Int = 3, idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame =
    spread(docs, col(idCol))
      .select(col(idCol), shingles(wordTokens(col(textCol)), n).as("sh"))

  /** Stable 64-bit FNV-1a over a shingle's tokens (separator byte between
    * tokens). Pure JVM arithmetic: deterministic across runs/executors. */
  private[operators] def fnv1a(tokens: Array[String], from: Int, n: Int): Long = {
    var h = -3750763034362895579L // FNV-1a 64 offset basis
    var t = from
    while (t < from + n) {
      val s = tokens(t)
      var i = 0
      while (i < s.length) { h = (h ^ s.charAt(i)) * 1099511628211L; i += 1 }
      h = (h ^ 0x1f) * 1099511628211L // token separator
      t += 1
    }
    h
  }

  /** (id, shash: array<long>) — each doc's DISTINCT word-n-gram shingle
    * set as sorted 64-bit hashes, built in one typed mapPartitions pass.
    *
    * Why not column expressions: shingle construction via
    * transform(slice/concat_ws) lambdas is CodegenFallback — interpreted
    * eval cost ~58µs/shingle dominated every near-dup operator (72
    * core-seconds just to shingle 5k docs). The tight Scala loop here is
    * ~500x cheaper and still fully distributed. Set SIZES are invariant
    * under the (injective modulo ~2^-64 collisions) hash, so Jaccard on
    * hash sets equals Jaccard on string sets — which is what the
    * ground-truth oracle computes. Tokenization mirrors
    * [[graft.functions.wordTokens]]: lowercase, split [^a-z0-9]+, drop
    * empties. */
  def shingleHashSets(docs: DataFrame, n: Int = 3, idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    spread(docs, col(idCol)).select(col(idCol), col(textCol)).as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          // null-safe byte-class tokenizer (TokenScanSpec pins it to the
          // legacy toLowerCase+split+filter form this pass used)
          val toks = graft.expressions.TokenScan.lowerAlnum(text)
          val set = new scala.collection.mutable.HashSet[Long]
          var i = 0
          while (i + n <= toks.length) { set += fnv1a(toks, i, n); i += 1 }
          (id, set.toArray.sorted)
        }
      }.toDF(idCol, "shash")
  }

  /** One row per n-token span occurrence with its token position —
    * like [[shingleHashSets]] but KEEPING multiplicity and order
    * (repeated-span analysis needs occurrence counts and positions,
    * not set membership). Same tokenization, same FNV hash. */
  private def spanOccurrences(docs: DataFrame, n: Int, idCol: String,
                              textCol: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    spread(docs, col(idCol)).select(col(idCol), col(textCol)).as[(Long, String)]
      .mapPartitions { it =>
        it.flatMap { case (id, text) =>
          val toks = graft.expressions.TokenScan.lowerAlnum(text)
          (0 to toks.length - n).iterator.map(i => (id, i.toLong, fnv1a(toks, i, n)))
        }
      }.toDF(idCol, "pos", "h")
  }

  /** Repeated-span statistics (Lee et al., "Deduplicating Training Data
    * Makes Language Models Better"): for every document, how many of
    * its n-token spans occur MORE THAN ONCE anywhere in the corpus
    * (other docs or elsewhere in the same doc). Near-dup dedup removes
    * whole similar documents; this catches the orthogonal failure mode
    * — boilerplate, licence blocks, templated headers — that repeats
    * verbatim inside otherwise-distinct documents and that LMs memorise.
    *
    * Shape at 100 TB: one typed span pass (occurrences, not a suffix
    * array — rolling spans give the same ≥n-token repeat signal with
    * hash-shuffle economics), ONE shuffle on the span hash, then a
    * streaming pass over each hash-sorted partition that flags a span
    * the moment its hash run reaches length 2 — O(1) memory per task
    * (one held row, flushed when the run's fate is known), no count
    * table, no join-back, and the tokenize pass runs exactly once.
    * Output: per-doc span totals, repeated counts, fraction, flag. */
  def repeatedSpans(docs: DataFrame, n: Int = 8, idCol: String = "doc_id",
                    textCol: String = "text",
                    provenRows: Long = graft.functions.autoRows): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val spans = spanOccurrences(docs, n, idCol, textCol).select(col(idCol), col("h"))
    // hash-partition + sort so equal spans are contiguous, then stream:
    // hold the run's first row until a second occurrence proves it
    // repeated (flush flagged) or the run ends (flush unflagged)
    val flagged = spans
      .repartition(col("h"))
      .sortWithinPartitions("h")
      .as[(Long, Long)]
      .mapPartitions { it =>
        var runH = 0L
        var runLen = 0
        var heldId = 0L
        var holding = false
        (it.map(Some(_)) ++ Iterator(None)).flatMap {
          case Some((id, h)) if runLen > 0 && h == runH =>
            runLen += 1
            if (holding) { holding = false; Seq((heldId, 1L), (id, 1L)) }
            else Seq((id, 1L))
          case Some((id, h)) =>
            val out = if (holding) Seq((heldId, 0L)) else Nil
            runH = h; runLen = 1; heldId = id; holding = true
            out
          case None =>
            if (holding) { holding = false; Seq((heldId, 0L)) } else Nil
        }
      }
      .toDF(idCol, "__rep")
    val perDoc = flagged
      .groupBy(idCol)
      .agg(
        count(lit(1)).as("n_spans"),
        sum(col("__rep")).as("n_repeated"))
    // Broadcast-roulette pin (r17 audit): perDoc is one (id, long,
    // long) row per document — corpus-scaled and delta-compressible,
    // the r16 OOM class. The dispatch number is the corpus row count,
    // resolved lazily: caller-provided, or a count-star only when the
    // input is a bare relation (counting an uncached mid-pipeline
    // chain would re-execute it at BUILD time — r17 ADVICE); unknown
    // pins merge, so small raw corpora keep the broadcast, big or
    // unproven ones pin.
    docs.select(col(idCol))
      .join(graft.functions.mergePinned(perDoc,
        graft.functions.resolveRows(docs, provenRows)), Seq(idCol), "left")
      .select(
        col(idCol),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_repeated"), lit(0L)).as("n_repeated"))
      .withColumn("repeated_frac",
        when(col("n_spans") === 0, lit(null).cast("double"))
          .otherwise(round(col("n_repeated") / col("n_spans"), 6)))
      .withColumn("has_repeats", col("n_repeated") > 0)
  }

  /** The MASKING form of [[repeatedSpans]] (the step Lee et al. apply):
    * every n-token span occurrence that duplicates an earlier one —
    * "earlier" = smallest (doc_id, pos) per span globally — as
    * (doc_id, pos) rows, so a rebuild step can drop exactly these span
    * starts and keep one canonical copy of every repeated passage.
    *
    * One shuffle: both the occurrence count and the global first-
    * occurrence rank come from the SAME hash-partitioned sort (two
    * window functions over one WindowExec). Span-hash cardinality is
    * ~corpus tokens, so partitions stay tiny at any scale — this is a
    * high-cardinality window, the opposite of the per-group funnel. */
  def repeatedSpanMask(docs: DataFrame, n: Int = 8, idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spans = spanOccurrences(docs, n, idCol, textCol)
    val byHash = Window.partitionBy("h")
    val firstFirst = Window.partitionBy("h").orderBy(col(idCol), col("pos"))
    spans
      .withColumn("__occ", count(lit(1)).over(byHash))
      .withColumn("__rk", row_number().over(firstFirst))
      .where(col("__occ") >= 2 && col("__rk") > 1)
      .select(col(idCol), col("pos"))
  }

  /** Consume a [[repeatedSpanMask]]: rebuild every document's token
    * stream with the masked span occurrences elided — the step Lee et
    * al. actually run after marking duplicated spans. A token is
    * dropped when ANY masked span start covers it ([pos, pos+n)), so
    * overlapping duplicated spans elide once and exactly one canonical
    * copy of every repeated passage survives corpus-wide (the mask's
    * rank-1 occurrence is never masked). Output text is rebuilt from
    * the NORMALISED token stream (the mask's positions are token
    * indices in it), space-joined.
    *
    * Shape at 100 TB: the mask collapses to one doc-sized array per
    * document (a groupBy on the already-tiny (doc_id, pos) rows), one
    * equi-join back to the corpus, one typed rebuild pass — no window,
    * no self-join, and the rebuild is embarrassingly parallel. */
  def applySpanMask(docs: DataFrame, mask: DataFrame, n: Int = 8,
                    idCol: String = "doc_id", textCol: String = "text",
                    provenRows: Long = graft.functions.autoRows): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val starts = mask.groupBy(idCol).agg(collect_list(col("pos")).as("__starts"))
    // Broadcast-roulette pin (r17 audit): starts is masked-doc-scaled
    // (<= corpus rows) and its position ARRAYS are the template-
    // repetitive shape AQE underestimates (the r16 OOM class). The
    // corpus row count bounds it — resolved lazily (caller-provided or
    // bare-relation count-star only, r17 ADVICE); unknown pins merge.
    docs.select(col(idCol), col(textCol))
      .join(graft.functions.mergePinned(starts,
        graft.functions.resolveRows(docs, provenRows)), Seq(idCol), "left")
      .select(col(idCol), col(textCol),
        coalesce(col("__starts"), typedlit(Array.empty[Long])).as("__starts"))
      .as[(Long, String, Array[Long])]
      .map { case (id, text, st) =>
        val toks = graft.expressions.TokenScan.lowerAlnum(text)
        val covered = new Array[Boolean](toks.length)
        st.foreach { p =>
          var i = p.toInt
          val end = math.min(toks.length, p.toInt + n)
          while (i < end) { covered(i) = true; i += 1 }
        }
        val kept = new StringBuilder
        var dropped = 0L
        var i = 0
        while (i < toks.length) {
          if (covered(i)) dropped += 1
          else {
            if (kept.nonEmpty) kept.append(' ')
            kept.append(toks(i))
          }
          i += 1
        }
        (id, kept.toString, toks.length.toLong, dropped)
      }
      .toDF(idCol, "masked_text", "n_tokens", "n_dropped")
  }

  /** One row per (doc, shingle hash). */
  private def shingleRows(docs: DataFrame, n: Int = 3, idCol: String = "doc_id",
                          textCol: String = "text"): DataFrame =
    shingleHashSets(docs, n, idCol, textCol)
      .select(col(idCol), explode(col("shash")).as("h64"))

  /** MinHash signature as k min-aggregate columns `mh_0..mh_{k-1}` per
    * doc. 31-bit base hash x 31-bit affine coefficients mod 2^31-1 (see
    * [[graft.functions.minhashSignature]] for why the mod is essential). */
  def minhashSignatureTable(docs: DataFrame, k: Int = 128,
                            idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val hashed = shingleRows(docs, 3, idCol, textCol)
      .select(col(idCol), col("h64").bitwiseAND(lit(0x7FFFFFFFL)).as("h"))
    val mins = minhashCoeffs(k).zipWithIndex.map { case ((a, b), i) =>
      min(pmod(col("h") * lit(a) + lit(b), lit(minhashPrime))).as(s"mh_$i")
    }
    hashed.groupBy(idCol).agg(mins.head, mins.tail.toIndexedSeq: _*)
  }

  /** MinHash+LSH candidate pairs: signature of `k` hashes cut into
    * `bands` bands; documents sharing any band bucket pair up. Returns
    * distinct (a_id, b_id) with a_id < b_id.
    *
    * Defaults (128 hashes, 32 bands of 4): a pair at jaccard 0.8 is
    * missed with probability (1-0.8^4)^32 ≈ 1e-7 — effectively recall-1
    * candidates for any ≥0.8 verification threshold, at the cost of more
    * low-jaccard bucket collisions (which the exact verify pass removes). */
  def minhashCandidates(docs: DataFrame, k: Int = 128, bands: Int = 32,
                        idCol: String = "doc_id", textCol: String = "text",
                        provenRows: Long = graft.functions.autoRows,
                        materialize: Boolean = false): DataFrame = {
    // the dispatch count buys [[firstBandPairs]] the EXACT side-row
    // number its broadcast-vs-merge dispatch is proved against — but it
    // is resolved lazily (caller-provided, or a count-star only when
    // docs is a bare relation; r17 ADVICE): counting an uncached
    // mid-pipeline chain would re-execute it once at BUILD time.
    // `materialize` opts the band-array barrier in (one signature pass
    // instead of two — see [[firstBandPairs]]) for paths that execute
    // the feed anyway; the default keeps the builder job-free.
    val dr = graft.functions.resolveRows(docs, provenRows)
    firstBandPairs(bandBucketArrays(shingleHashSets(docs, 3, idCol, textCol), k, bands, idCol),
      sideRows = if (dr < 0) -1L else dr * bands, bands = bands,
      materializeArrays = materialize)
  }

  /** Exact n-gram Jaccard verification over candidate pairs
    * ((a_id, b_id) columns): joins the shingle-hash sets back and
    * computes |A∩B| / |A∪B| (set sizes are hash-invariant, so this
    * equals the string-set Jaccard the ground-truth oracle computes),
    * rounded for cross-engine determinism. */
  def jaccardVerify(candidates: DataFrame, shingled: DataFrame,
                    threshold: Double): DataFrame =
    verifyPairs(candidates, shingled, shingled, threshold)

  /** Two-sided form of [[jaccardVerify]]: a_id resolves against `aSets`
    * and b_id against `bSets` — the shape cross-corpus (increment vs
    * stored-state) verification needs. ONE implementation so batch,
    * incremental, and streaming near-dup agree bit-for-bit on what
    * counts as a duplicate.
    *
    * Intersection size is an allocation-free merge scan
    * ([[graft.expressions.SortedIntersectCount]] — shash arrays are
    * sorted + distinct by construction) and |A∪B| = |A|+|B|−|A∩B|, so
    * neither built-in materialises a result array per pair; the
    * division and round stay Spark's own int/int nodes, so the jaccard
    * VALUE is bit-identical to the retained array_intersect/array_union
    * form ([[verifyPairsBuiltin]], spec-pinned on real corpora) and the
    * DuckDB oracle transfers unchanged. */
  /** Deserialized-bytes bound under which [[verifyPairs]] BROADCASTS
    * the shingle-set sides instead of leaving the strategy to AQE: the
    * two builds (a_id- and b_id-keyed over the same table) are alive
    * together, so the worst case is ~2x this plus hash-relation
    * overhead — ~3 GB against the 8g driver/executor heap. The
    * alternative plan is brutal: a pair-keyed sort-merge ships every
    * surviving pair's FIRST array through the second join's exchange
    * (measured sf10, 25.4M pairs: 860 CPU-s across the two joins vs
    * 382 CPU-s for the whole broadcast-verify stage). Dispatch is on a
    * MEASURED byte count, never an AQE estimate (r16 OOM class). */
  private val verifyBroadcastSetBytesLimit: Long = 1500L * 1000 * 1000

  /** Exact deserialized payload of a shingle-set table: 8 B per hash
    * plus ~48 B of per-row object/offset overhead. One cheap aggregate
    * (callers hold `sets` cached when they ask). */
  private def setPayloadBytes(sets: DataFrame): Long = {
    val r = sets.agg(
      coalesce(sum(size(col("shash")).cast("long")), lit(0L)),
      count(lit(1))).head()
    r.getLong(0) * 8L + r.getLong(1) * 48L
  }

  private def verifyPairs(candidates: DataFrame, aSets: DataFrame,
                          bSets: DataFrame, threshold: Double,
                          provenSetBytes: Long = -1L): DataFrame = {
    val bcast = provenSetBytes >= 0 &&
      provenSetBytes <= verifyBroadcastSetBytesLimit
    def side(s: DataFrame) = if (bcast) broadcast(s) else s
    val sa = side(aSets.select(col("doc_id").as("a_id"), col("shash").as("sh_a")))
    val sb = side(bSets.select(col("doc_id").as("b_id"), col("shash").as("sh_b")))
    val inter =
      graft.expressions.VectorExpressions.sortedIntersectCount(
        col("sh_a"), col("sh_b"))
    candidates
      .join(sa, "a_id").join(sb, "b_id")
      .withColumn("jaccard", round(
        inter / (size(col("sh_a")) + size(col("sh_b")) - inter), 6))
      .where(col("jaccard") >= threshold)
      .select("a_id", "b_id", "jaccard")
  }

  /** The original built-in verify (array_intersect/array_union sizes) —
    * retained as the equality REFERENCE for [[verifyPairs]]' merge-scan
    * form: the spec pins identical (a_id, b_id, jaccard) rows on real
    * data, which is what lets every stored near-dup artifact and oracle
    * stay valid across the rewrite. */
  private[graft] def verifyPairsBuiltin(candidates: DataFrame, aSets: DataFrame,
                                        bSets: DataFrame, threshold: Double): DataFrame = {
    val sa = aSets.select(col("doc_id").as("a_id"), col("shash").as("sh_a"))
    val sb = bSets.select(col("doc_id").as("b_id"), col("shash").as("sh_b"))
    candidates
      .join(sa, "a_id").join(sb, "b_id")
      .withColumn("jaccard", round(
        size(array_intersect(col("sh_a"), col("sh_b"))) /
          size(array_union(col("sh_a"), col("sh_b"))), 6))
      .where(col("jaccard") >= threshold)
      .select("a_id", "b_id", "jaccard")
  }

  /** LSH band buckets straight from a shingle-hash-set table
    * ((doc_id, shash) -> one (id, bucket) row per band): signature
    * aggregated from the exploded hashes, cut into `bands` bands of
    * k/bands rows. Factored out so the batch pipeline and BOTH sides of
    * the incremental cross-corpus probe bucket identically — a stored
    * bucket table built here is probe-compatible with any increment
    * (same coefficients, same band hash), which is what makes durable
    * near-dup state possible: build once as docs are admitted, probe
    * forever ([[nearDupStateStep]]). */
  def bandBuckets(sets: DataFrame, k: Int = 128, bands: Int = 32,
                  idCol: String = "doc_id"): DataFrame = {
    val sig = minhashSignatureRows(sets, k, idCol)
    sig.select(col(idCol).as("id"),
      explode(array(bandHashCols(k, bands): _*)).as("bucket"))
  }

  /** MinHash signatures as ONE tight per-doc loop over the set-shaped
    * shash array — no explode, no 90M-row exchange, no 128-column
    * partial aggregation. The r14 sf10 stage profile put the old
    * explode+groupBy(128 min aggs) at 24.2 s of the closure tier's
    * 58 s; the shingle table already holds each doc's hashes as one
    * array row, so min-per-coefficient is a k x |shingles| primitive
    * loop with zero shuffle. [[bandBuckets]] over this is
    * BIT-IDENTICAL to the aggregate form ([[bandBucketsAgg]],
    * spec-pinned): same masked base hash, same affine coefficients and
    * modulus (positive operands, so % == pmod), empty/absent shingle
    * sets produce NO rows (exactly as a groupBy over zero exploded
    * rows did), and the band bucket is the SAME hash() Column over the
    * same LongType values — which is what keeps every stored
    * band_buckets table probe-compatible. Returns (idCol: long,
    * mh: array<long>[k]). */
  private def minhashSignatureRows(sets: DataFrame, k: Int,
                                   idCol: String): DataFrame = {
    val spark = sets.sparkSession
    import spark.implicits._
    val coeffs = minhashCoeffs(k)
    sets.select(col(idCol).cast("long"), col("shash"))
      .as[(Long, Array[Long])]
      .mapPartitions { it =>
        val a = coeffs.map(_._1)
        val b = coeffs.map(_._2)
        it.flatMap { case (id, sh) =>
          if (sh == null || sh.isEmpty) Iterator.empty
          else {
            val mins = Array.fill(k)(Long.MaxValue)
            var i = 0
            while (i < sh.length) {
              val h = sh(i) & 0x7FFFFFFFL
              var j = 0
              while (j < k) {
                // x mod (2^31-1) via Mersenne folding — exact for the
                // x < 2^62 range (h < 2^31, a,b < p), value-identical
                // to `%`, and the k*|set| inner loop loses its 64-bit
                // division (the dominant op of the signature pass)
                val x = h * a(j) + b(j)
                var v = (x & minhashPrime) + (x >>> 31)
                v = (v & minhashPrime) + (v >>> 31)
                if (v >= minhashPrime) v -= minhashPrime
                if (v < mins(j)) mins(j) = v
                j += 1
              }
              i += 1
            }
            Iterator.single((id, mins))
          }
        }
      }.toDF(idCol, "mh")
  }

  /** One band-bucket hash Column per band over a signature row's `mh`
    * array — shared by the exploded form ([[bandBuckets]], the stored
    * (id, bucket) schema) and the array form ([[bandBucketArrays]]) so
    * the two produce IDENTICAL bucket values by construction. */
  private def bandHashCols(k: Int, bands: Int): Seq[Column] = {
    val rowsPerBand = k / bands
    (0 until bands).map { bnd =>
      hash(lit(bnd) +: (0 until rowsPerBand).map(r =>
        col("mh")(bnd * rowsPerBand + r)): _*)
    }
  }

  /** [[bandBuckets]] with the per-doc band hashes kept as ONE array row
    * ((id, barr: array<int>[bands]), barr(i) = band i's bucket value)
    * instead of exploded — the feed [[firstBandPairs]]' exactly-once
    * pair emission needs, since each joined row must see BOTH docs'
    * full band vectors to decide locally whether it is the pair's
    * canonical emission. Report-path only: stored bucket tables keep
    * [[bandBuckets]]' (id, bucket) schema. */
  private[graft] def bandBucketArrays(sets: DataFrame, k: Int = 128,
                                      bands: Int = 32,
                                      idCol: String = "doc_id"): DataFrame =
    minhashSignatureRows(sets, k, idCol)
      .select(col(idCol).as("id"), array(bandHashCols(k, bands): _*).as("barr"))

  /** Distinct within-corpus candidate pairs (a_id < b_id) from a band
    * bucket ARRAY table — [[selfPairs]]' output set with ZERO dedup
    * shuffle. [[selfPairs]] re-finds each pair once per shared band
    * (measured sf10: 626M joined rows for 27.3M unique pairs, ~23
    * re-finds each) and collapses them with a global DISTINCT — a
    * pair-volume-sized shuffle that was 46.9 s of dedup_minhash's
    * 79.9 s (~60% of the two most expensive sf10 queries). Here the
    * posexploded self-join carries both docs' band vectors, and
    * [[graft.expressions.FirstMatchingBand]] keeps exactly ONE row per
    * pair — the first agreeing band, or for the ~2⁻³²-rate cross-band
    * bucket-value collisions the lexicographically-first witness — so
    * emission is exactly-once by construction: no distinct, no second
    * shuffle, and the output SET is identical to [[selfPairs]] over
    * [[bandBuckets]] of the same signatures (spec-pinned on real
    * corpora and on crafted cross-band-collision tables). The join
    * still produces the same 626M intermediate rows, but they flow
    * through the join stage's codegen pipeline and die at the filter
    * instead of being shuffled. */
  private[graft] def firstBandPairs(bucketArrs: DataFrame,
                                    sideRows: Long = -1L,
                                    bands: Int = 32,
                                    materializeArrays: Boolean = false): DataFrame = {
    // r20: with `materializeArrays` the band-array relation is
    // checkpointed ONCE before being aliased into the self-join's two
    // sides — the sides' exchanges differ only in column names, which
    // defeats exchange reuse, so the WHOLE upstream (shingle pass +
    // 128-coefficient signature loop, the dominant CPU of the
    // pair-report family) executed twice (sf10 stage probe: two 10 s /
    // ~45 CPU-s stages each producing the same 16M exploded rows). The
    // checkpoint is doc-count-sized — one (id, int[bands]) row per doc,
    // ~70 MB at sf10. It stays OFF by default because the barrier is
    // eager (even a lazy Dataset.localCheckpoint materialises AQE
    // stages through toRdd) and builders must fire zero jobs at
    // construction (r17 ADVICE, spec-pinned); executed paths — the
    // declared queries — opt in.
    val arr = if (materializeArrays) bucketArrs.localCheckpoint()
              else bucketArrs
    // capped arrays NULL a doc's capped-out bands ([[firstBandPairsCapped]]);
    // a null bucket can never match, so drop those rows before the
    // exchange instead of shuffling them into the join (no-op predicate
    // on the full feed, whose arrays carry no nulls)
    val ex = arr.select(col("id"), col("barr"),
      posexplode(col("barr")).as(Seq("band", "bucket")))
      .where(col("bucket").isNotNull)
    val a = ex.select(col("id").as("a_id"), col("barr").as("a_barr"),
      col("band").as("a_band"), col("bucket"))
    val b = ex.select(col("id").as("b_id"), col("barr").as("b_barr"),
      col("band").as("b_band"), col("bucket"))
    // Broadcast only when PROVABLY tiny, never on AQE's estimate: each
    // side is corpus x bands rows, and the band arrays are template-
    // repetitive on a dup-heavy corpus, so AQE's compressed-bytes
    // estimate can land UNDER the broadcast threshold while the
    // deserialized build side is driver-heap-sized (measured: the r16
    // sf10 full-suite run OOM'd exactly here on a 16M-row "small" side
    // that standalone runs sort-merge joined). But the unconditional
    // merge pin cost the SMALL end real money (sf0.1 dedup_jaccard
    // 0.59 -> 1.75 s, r15 -> r16 officials): two full sorts where a
    // few-MB broadcast was the right plan. So SIZE-DISPATCH on the one
    // number the caller knows exactly — `sideRows` = docs x bands, the
    // posexploded row count of each side. The bound is BYTES, not rows
    // (r17 ADVICE): every exploded row carries the full int[bands]
    // band array, so row width grows 4 B per band — 72 B of fixed
    // fields + 4 x bands, which at the default 32 bands is the same
    // ~200 B/row x 512k-row arithmetic as [[pinFreeSideRowLimit]], but
    // at bands=128 correctly shrinks the free region ~3x instead of
    // waving through a build side 3-4x the proven worst case. Under
    // the byte bound the worst-case DESERIALIZED build side is bounded
    // by arithmetic — independent of how well it compresses — so AQE
    // is free to pick broadcast; above it, or when the caller can't
    // vouch (-1, the default), pin sort-merge — pair-volume joins have
    // no small side by construction.
    val (l, r) =
      if (sideRows >= 0 &&
          sideRows * (72L + 4L * bands) <= graft.functions.pinFreeSideByteLimit)
        (a, b)
      else (a.hint("merge"), b.hint("merge"))
    l.join(r, "bucket")
      .where(col("a_id") < col("b_id") &&
        graft.expressions.VectorExpressions.firstMatchingBand(
          col("a_barr"), col("b_barr"), col("a_band"), col("b_band")))
      .select("a_id", "b_id")
  }

  /** Side-row bound under which [[firstBandPairs]] lets AQE choose the
    * join strategy — the shared [[graft.functions.pinFreeSideRowLimit]]
    * bound. A posexploded side row is (long id, int[bands] barr, int
    * band, int bucket) — ~200 B deserialized at the default 32 bands —
    * so 512k rows caps the worst-case broadcast build at ~100 MB,
    * driver-safe by ARITHMETIC rather than by a compressed-bytes
    * estimate (the r16 OOM class). sf0.1's 5k docs (160k side rows)
    * dispatch free; sf1's 50k docs (1.6M) and everything above pin
    * merge. */
  private[graft] def pinFreeSideRowLimit: Long =
    graft.functions.pinFreeSideRowLimit

  /** The original aggregate-form banding (explode + k min aggregates) —
    * retained as the equality REFERENCE for [[bandBuckets]]' tight-loop
    * form: the spec pins identical (id, bucket) sets on real data, the
    * compatibility contract every stored bucket table depends on. */
  private[graft] def bandBucketsAgg(sets: DataFrame, k: Int = 128,
                                    bands: Int = 32,
                                    idCol: String = "doc_id"): DataFrame = {
    val rowsPerBand = k / bands
    // cast matches the tight-loop form's typed pass (which reads ids as
    // Long), so the two forms stay SCHEMA-identical — not just
    // value-identical — for any caller whose id column isn't long yet
    val hashed = sets.select(col(idCol).cast("long").as(idCol),
        explode(col("shash")).as("h64"))
      .select(col(idCol), col("h64").bitwiseAND(lit(0x7FFFFFFFL)).as("h"))
    val mins = minhashCoeffs(k).zipWithIndex.map { case ((a, b), i) =>
      min(pmod(col("h") * lit(a) + lit(b), lit(minhashPrime))).as(s"mh_$i")
    }
    val sig = hashed.groupBy(idCol).agg(mins.head, mins.tail.toIndexedSeq: _*)
    val bandCols = (0 until bands).map { bnd =>
      hash(lit(bnd) +: (0 until rowsPerBand).map(r => col(s"mh_${bnd * rowsPerBand + r}")): _*)
    }
    sig.select(col(idCol).as("id"), explode(array(bandCols: _*)).as("bucket"))
  }

  /** Distinct within-corpus candidate pairs (a_id < b_id) from a band
    * bucket table — the self-join every batch near-dup path shares.
    *
    * SCALE NOTE: this emits C(g,2) pairs for a bucket of occupancy g —
    * the right (and only) shape for pair-REPORT operators whose output
    * IS the pair set, but a 100×-scale killer when the consumer only
    * needs connectivity: a hot-template family with g in the 10⁴–10⁶
    * range yields 10⁸–10¹¹ candidates from ONE bucket, and no AQE
    * skew-splitting absorbs that because the join's OUTPUT volume is
    * quadratic. Closure-bound consumers use [[spanningVerifiedPairs]]
    * instead, which emits O(Σg) star edges with a verified-residual
    * fallback and is closure-EQUAL to this feed (proof at the method). */
  private def selfPairs(buckets: DataFrame): DataFrame =
    buckets.as("a")
      .join(buckets.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"))
      .distinct()

  /** Occupancy histogram of a (id, bucket) table with the estimated
    * per-occupancy candidate-pair volume — the REPORT the pair-emission
    * family publishes BEFORE emitting anything: at 100 TB a consumer of
    * the full pair set needs to know that one hot-template bucket of
    * occupancy g will emit C(g,2) pairs (10⁹ at g≈45k) before the job
    * runs, not after it is stuck. One group-by over the bucket table —
    * cost is the banding pass it profiles, never the pairs themselves.
    * `est_pairs` counts per-bucket EMISSION volume (what the self-join
    * produces and the verify pays); the distinct verified pair count is
    * ≤ that wherever duplicates share several bands. */
  def bucketOccupancyProfile(buckets: DataFrame): DataFrame =
    buckets.groupBy("bucket").agg(count(lit(1)).as("occupancy"))
      .groupBy("occupancy").agg(count(lit(1)).as("n_buckets"))
      .withColumn("est_pairs",
        (col("occupancy") * (col("occupancy") - 1) / 2 * col("n_buckets"))
          .cast("long"))
      .orderBy(col("occupancy").desc)

  /** [[bucketOccupancyProfile]] over the minhash band buckets of a
    * document corpus — the pre-flight volume report for
    * [[minhashNearDups]]' full (report) form. */
  def pairVolumeProfile(docs: DataFrame, k: Int = 128, bands: Int = 32,
                        idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame =
    bucketOccupancyProfile(bandBuckets(shingleHashSets(docs, 3, idCol, textCol), k, bands))

  /** Emission ledger of the last capped [[selfPairs]] call — the
    * no-silent-caps record a 100 TB pair-report run publishes next to
    * its output: how many buckets hit the cap and how many candidate
    * pairs were dropped (per-bucket emission volume, pre-distinct). */
  case class PairEmissionStats(buckets: Long, cappedBuckets: Long,
                               candidatePairs: Long, droppedPairs: Long)
  @volatile private[graft] var lastPairEmissionStats: PairEmissionStats =
    PairEmissionStats(0, 0, 0, 0)

  /** Capped pair emission: per bucket, only the first `m` members — the
    * largest m with C(m,2) ≤ `maxPairsPerBucket`, ranked by a
    * deterministic id hash (an unbiased fixed sample of the bucket) —
    * emit pairs, so no single hot-template bucket can produce an
    * unbounded quadratic output. The cap is a REPORT-COMPLETENESS
    * trade, never a correctness one (closure consumers use the
    * spanning feed instead), and it is never silent:
    * [[lastPairEmissionStats]] records capped-bucket and dropped-pair
    * counts, and [[bucketOccupancyProfile]] tells a run what the cap
    * will do before it emits anything. */
  private[graft] def selfPairsCapped(buckets: DataFrame,
                                     maxPairsPerBucket: Int): DataFrame = {
    val (kept, st) = cappedMembers(buckets, "id", "bucket", maxPairsPerBucket)
    lastPairEmissionStats = st
    selfPairs(kept)
  }

  /** Capped exactly-once pair emission — the GOVERNED twin of
    * [[firstBandPairs]], with [[selfPairsCapped]]'s output set and drop
    * ledger (spec-pinned equal) at the full report's economics.
    *
    * The r18 campaigns measured the governed report costing MORE than
    * the ungoverned one (sf10: 25.9 s capped vs 16.4 s full) because the
    * cap path still paid the pre-r16 costs the full path had shed: a
    * SECOND banding pass (the drop ledger re-derived the bucket table —
    * and the minhash signature mapPartitions under it — from the shingle
    * cache) plus [[selfPairs]]' pair-volume-sized DISTINCT. A governed
    * run must never cost more than the ungoverned one it exists to
    * protect, so this form re-unifies the economics:
    *
    *  1. ONE banding pass and ONE bucket-keyed shuffle: the band-array
    *     table is posexploded, repartitioned on bucket, sorted within
    *     partitions by (bucket, hash(id), id) and materialized once
    *     (doc×bands rows — corpus-linear, never pair-volume). The drop
    *     ledger and the cap are then NARROW run-length passes over the
    *     sorted runs — O(1) state, hot buckets stream through.
    *  2. The per-bucket cap keeps [[cappedMembers]]' exact member
    *     sample (largest m with C(m,2) ≤ cap, first m in the same
    *     deterministic (hash(id), id) order — spec-pinned identical).
    *  3. Per-doc band arrays are REBUILT from the kept rows with
    *     capped-out bands NULLed (one corpus-keyed regroup), so
    *     [[graft.expressions.FirstMatchingBand]] — null positions never
    *     match — emits each surviving pair exactly once: no global
    *     DISTINCT, no pair-volume shuffle, identical economics to the
    *     full report's gate.
    *
    * Output-set equality with [[selfPairsCapped]] is structural: both
    * keep exactly the same per-bucket member sample, and a pair is
    * emitted iff some bucket keeps both members — the gate only changes
    * HOW MANY TIMES the join re-finds it (then keeps one row locally)
    * versus collapsing re-finds with a distinct. Ledger arithmetic is
    * the same formulas over the same pre-cap bucket table. */
  private[graft] def firstBandPairsCapped(bucketArrs: DataFrame,
                                          maxPairsPerBucket: Int,
                                          bands: Int,
                                          sideRows: Long = -1L): DataFrame = {
    val spark = bucketArrs.sparkSession
    import spark.implicits._
    val m = ((1 + math.sqrt(1.0 + 8.0 * maxPairsPerBucket)) / 2).toInt
    // ONE bucket-keyed shuffle serves both the cap and the ledger: the
    // exploded rows are hash-repartitioned on bucket, sorted within
    // partitions by (bucket, hash(id), id) — exactly [[cappedMembers]]'
    // window order, so the kept member sample is identical — and
    // materialized once. The drop ledger and the rank filter are then
    // NARROW run-length passes over the sorted checkpoint (compare-to-
    // previous over contiguous bucket runs, O(1) state — hot buckets
    // stream through like WindowGroupLimit, nothing buffers). The first
    // cut of this method paid a near-full-cardinality groupBy(bucket)
    // hash-agg for the ledger PLUS a separate window shuffle; both were
    // corpus×bands-row passes over the same key.
    val exSorted = bucketArrs
      .select(col("id"), posexplode(col("barr")).as(Seq("band", "bucket")))
      .withColumn("__h", hash(col("id")))
      .repartition(col("bucket"))
      .sortWithinPartitions(col("bucket"), col("__h"), col("id"))
      .select(col("id"), col("band"), col("bucket"))
      .localCheckpoint()
    val typed = exSorted.as[(Long, Int, Int)]
    // drop ledger over the PRE-cap bucket runs — same arithmetic as
    // [[cappedMembers]], same eager publication contract; one partial
    // row per partition, summed on the driver
    val partials = typed.mapPartitions { it =>
      var b = 0L; var capped = 0L; var emitted = 0L; var dropped = 0L
      var cur = 0; var has = false; var g = 0L
      def pairs(x: Long) = x * (x - 1) / 2
      def close(): Unit = if (has) {
        b += 1
        if (g > m) capped += 1
        val keptG = math.min(g, m.toLong)
        emitted += pairs(keptG); dropped += pairs(g) - pairs(keptG)
      }
      it.foreach { case (_, _, bucket) =>
        if (!has || bucket != cur) { close(); cur = bucket; has = true; g = 1L }
        else g += 1
      }
      close()
      Iterator.single((b, capped, emitted, dropped))
    }.toDF("b", "capped", "emitted", "dropped")
      .agg(coalesce(sum("b"), lit(0L)), coalesce(sum("capped"), lit(0L)),
        coalesce(sum("emitted"), lit(0L)), coalesce(sum("dropped"), lit(0L)))
      .head()
    lastPairEmissionStats = PairEmissionStats(partials.getLong(0),
      partials.getLong(1), partials.getLong(2), partials.getLong(3))
    // rank filter over the same sorted runs: keep the first m members
    // of each bucket (deterministic-hash sample, identical to the
    // window form's row_number <= m)
    val kept = typed.mapPartitions { it =>
      var cur = 0; var has = false; var rk = 0
      it.flatMap { case (id, band, bucket) =>
        if (!has || bucket != cur) { cur = bucket; has = true; rk = 1 }
        else rk += 1
        if (rk <= m) Iterator.single((id, band, bucket)) else Iterator.empty
      }
    }.toDF("id", "band", "bucket")
    // rebuild per-doc band arrays with capped-out bands NULLed: 32
    // codegen'd max-if aggregates (map-side combined), not a
    // collect_list/map regroup — element i of the array is the doc's
    // band-i bucket where kept, NULL where capped out
    val aggs = (0 until bands).map(i =>
      max(when(col("band") === i, col("bucket"))).as(s"__b$i"))
    val rebuilt = kept.groupBy("id").agg(aggs.head, aggs.tail: _*)
      .select(col("id"),
        array((0 until bands).map(i => col(s"__b$i")): _*).as("barr"))
    firstBandPairs(rebuilt, sideRows, bands)
  }

  /** Shared core of the capped pair-emission family (minhash buckets AND
    * embedding cells): per group, keep only the first `m` members — the
    * largest m with C(m,2) ≤ `maxPairs`, ranked by a deterministic id
    * hash (an unbiased fixed sample of the group) — and return the kept
    * members plus the exact drop ledger. The cap is a REPORT-
    * COMPLETENESS trade, never a correctness one (closure consumers use
    * the spanning/forest feeds instead), and it is never silent. */
  private def cappedMembers(tbl: DataFrame, idCol: String, grpCol: String,
                            maxPairs: Int): (DataFrame, PairEmissionStats) = {
    import org.apache.spark.sql.expressions.Window
    // largest m with m(m-1)/2 <= cap
    val m = ((1 + math.sqrt(1.0 + 8.0 * maxPairs)) / 2).toInt
    val w = Window.partitionBy(grpCol).orderBy(hash(col(idCol)), col(idCol))
    // rank filter rewrites to WindowGroupLimit (bounded per-key state);
    // checkpointed because the self-join reads it twice
    val kept = tbl.withColumn("__rk", row_number().over(w))
      .where(col("__rk") <= m).drop("__rk")
      .localCheckpoint()
    def pairsOf(g: Column) = (g * (g - 1) / 2).cast("long")
    // coalesce: sum() over an EMPTY group table is null — an empty
    // corpus must yield a zero ledger, not an NPE at getLong
    val st = tbl.groupBy(grpCol).agg(count(lit(1)).as("g"))
      .agg(count(lit(1)).as("b"),
        coalesce(sum(when(col("g") > m, 1L).otherwise(0L)), lit(0L)).as("capped"),
        coalesce(sum(pairsOf(least(col("g"), lit(m)))), lit(0L)).as("emitted"),
        coalesce(sum(pairsOf(col("g")) - pairsOf(least(col("g"), lit(m)))),
          lit(0L)).as("dropped"))
      .head()
    (kept, PairEmissionStats(st.getLong(0), st.getLong(1),
      st.getLong(2), st.getLong(3)))
  }

  /** Row counts of the last [[spanningVerifiedPairs]] call — the
    * no-silent-caps ledger for scale campaigns: how many star edges
    * were emitted/verified and how large the residual fallback was.
    * Counts come from the already-materialised checkpoints, so reading
    * them costs no recompute. `residualBound` is the proven row bound
    * the residual side hands to `mergePinned` (failed edges x bands). */
  case class SpanningStats(starCandidates: Long, starVerified: Long,
                           residualCandidates: Long, residualVerified: Long,
                           estFullPairs: Long = 0,
                           dispatchedFull: Boolean = false,
                           residualBound: Long = 0)
  @volatile private[graft] var lastSpanningStats: SpanningStats =
    SpanningStats(0, 0, 0, 0)

  /** Sub-quadratic verified near-dup pairs for CLOSURE-bound consumers
    * (clusters / size profile / canonical keep / leakage-safe splits /
    * drop-dups) — the per-bucket spanning-edge emission that production
    * MinHash dedup pipelines ship (the BigCode/Dolma-style alternative
    * to materialising every in-bucket pair):
    *
    *   1. STAR: per (band, bucket) connect every member to the bucket's
    *      min-id hub — g−1 edges instead of C(g,2) — and Jaccard-verify
    *      those (O(Σg) verify volume).
    *   2. RESIDUAL: only members whose star edge FAILED verification
    *      (LSH false positives sharing a band with a dissimilar hub)
    *      fall back to pairing against their bucket's other members.
    *
    * CLOSURE EQUALITY with the full [[selfPairs]] feed — exact, not a
    * recall bound. Every spanning-verified edge is a true ≥threshold
    * pair also present in the full verified feed, so spanning
    * components refine full components. Conversely take any full-feed
    * verified edge (x, y) from bucket β with hub h = min(β): either
    * both x and y verified against h — then x—h—y already connects them
    * in the star graph and (x, y) is redundant for closure — or at
    * least one of them is in β's residual, in which case (x, y) is in
    * the residual×bucket-members candidate set (or was already a star
    * pair of another bucket) and gets verified. Either way x and y land
    * in the same component, so the closures are identical. Spec-pinned
    * against the full feed (including adversarial chains where star
    * edges fail) and against the same DuckDB recursive-CTE oracle as
    * the full feed.
    *
    * Residual volume is r·g per bucket where r counts verification
    * FAILURES of band-mates — LSH false positives, a thin sliver at any
    * real threshold (the S-curve that sizes the bands makes same-band
    * dissimilar pairs rare). The dominant hot-template case (a near-
    * clique family of size g) emits g−1 edges, all verify, residual 0 —
    * the O(occupancy²) blowup is gone exactly where it used to bite.
    *
    * SIZE DISPATCH: spanning pays two verify rounds and two checkpoint
    * barriers, which LOSES where the corpus is small (measured: the
    * sf0.1 leakage-safe split regressed 1.59 → 3.62 s when spanning
    * was unconditional). So the feed first estimates the FULL
    * emission volume (Σ C(g,2) over bucket occupancies — one
    * aggregate over the checkpointed bucket table) and, when
    * it is at most `fullFeedPairLimit` (default 2M pairs ≈ a couple
    * of verify seconds at 32 cores — cheaper than spanning's second
    * round), emits and verifies the full in-bucket feed instead:
    * output is then pair-COMPLETE, a superset of the spanning
    * emission, so every closure consumer is unaffected. The dispatch
    * is recorded in [[lastSpanningStats]]; `fullFeedPairLimit = 0`
    * forces spanning (specs exercising the star/residual machinery).
    * `bands` is the band count `buckets` was built with ([[bandBuckets]]'
    * default 32); it bounds how many star rows one failed edge yields. */
  private[graft] def spanningVerifiedPairs(buckets: DataFrame, sets: DataFrame,
                                           threshold: Double,
                                           bands: Int = 32,
                                           fullFeedPairLimit: Long = 2000000L,
                                           materialized: Boolean = false)
      : DataFrame = {
    // ONE banding materialisation serves the volume estimate AND the
    // chosen branch. r13 used persist() here and the estimate's pass
    // paid the columnar InMemoryRelation BUILD (per-batch compression
    // encoding) plus per-consumer decompression — measured +15–24% on
    // the whole closure family at sf1/sf10 vs r12's plain
    // localCheckpoint. So: localCheckpoint (row-level RDD cache, the
    // r12 read pattern) and run the dispatch aggregate over the
    // checkpointed rows — sub-second even at sf10's 16M-row bucket
    // table, and the spanning branch then reads exactly what r12 read.
    // A caller that already persisted its bucket table
    // (nearDupStateStep) lends its cache instead — never re-checkpoint
    // or unpersist it (the caller's state outputs still read it).
    // `materialized` lets a caller vouch for an ALREADY-checkpointed
    // bucket table (Dataset.storageLevel only sees the CacheManager, so
    // a localCheckpoint-backed frame reads as NONE and would be copied)
    val borrowed = materialized ||
      buckets.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    // Checkpoint lifecycle: localCheckpoint blocks (this one and the
    // pair tables below) have no public eager-release API — they are
    // freed by the ContextCleaner once the backing RDD is GC'd, i.e.
    // promptly after the returned DataFrame goes out of scope at the
    // caller. A long-lived single JVM running many feeds back-to-back
    // (the bench suite) therefore carries at most a few feeds' worth of
    // id-pair-sized blocks between driver GCs — measured harmless at
    // sf10 (the blocks are (long,long) tables, orders smaller than the
    // corpus); if a deployment ever pins tighter bounds, lower
    // `spark.cleaner.periodicGC.interval` rather than re-plumbing.
    val b = if (borrowed) buckets else buckets.localCheckpoint()
    val estFull = b.groupBy("bucket").agg(count(lit(1)).as("g"))
      .agg(coalesce(sum((col("g") * (col("g") - 1) / 2).cast("long")), lit(0L)))
      .head().getLong(0)
    if (estFull <= fullFeedPairLimit) {
      val verified = verifyPairs(selfPairs(b), sets, sets, threshold)
        .localCheckpoint()
      lastSpanningStats = SpanningStats(0, 0, 0, 0, estFull, dispatchedFull = true)
      return verified
    }
    // Hub per bucket as a WINDOW min over the checkpointed bucket rows
    // (one bucket-keyed exchange + sort) instead of the r13-r19
    // groupBy(bucket) + merge self-join, which exchanged b twice and
    // sorted both join inputs (r20 sf10 sub-stage probe: 5.0 s, and the
    // lazy residual consumer re-ran the whole join for another 5.0 s).
    // star is checkpointed because BOTH downstream consumers (the pair
    // distinct and the failed-edge semi join) read it; the r20 probe
    // put the recompute above the materialisation cost.
    val star = b.withColumn("hub",
        min("id").over(org.apache.spark.sql.expressions.Window
          .partitionBy("bucket")))
      .where(col("id") =!= col("hub"))
      .localCheckpoint()
    // distinct folds the same (hub, member) edge re-found by other bands
    val starPairs = star.select(col("hub").as("a_id"), col("id").as("b_id"))
      .distinct().localCheckpoint()
    val starVerified = verifyPairs(starPairs, sets, sets, threshold)
      .localCheckpoint()
    // Residual = star rows whose hub edge FAILED verification. The set
    // of failed (hub, id) edges is the LSH-false-positive sliver
    // (measured sf10: 2 809 of 933 487 star edges), so deriving it
    // first (tiny anti join of the two checkpointed pair tables) and
    // SEMI-joining star against it replaces r19's left_anti merge join
    // of the full star relation against the near-equal verified set —
    // same rows by construction: star edges partition into verified
    // and failed, so (star anti verified) == (star semi failed).
    val failed = starPairs
      .join(starVerified.select("a_id", "b_id"), Seq("a_id", "b_id"), "left_anti")
      .select(col("a_id").as("hub"), col("b_id").as("id"))
      .localCheckpoint()
    val nFailed = failed.count()
    import graft.functions.mergePinned
    // free sides carry PROVEN counts from materialised checkpoints
    // (broadcast-roulette pins, r17 audit): failed is nFailed rows,
    // residual is at most nFailed x bands rows (one per shared band).
    val residual = star.join(mergePinned(failed, nFailed), Seq("hub", "id"),
        "left_semi")
      .select("bucket", "id")
    // one residual star row per band the failed pair shares: at most
    // `bands` rows per failed edge
    val resBound = nFailed * bands
    val resCand = mergePinned(residual.as("r"), resBound)
      .join(b.as("m"),
        col("r.bucket") === col("m.bucket") && col("r.id") =!= col("m.id"))
      .select(least(col("r.id"), col("m.id")).as("a_id"),
        greatest(col("r.id"), col("m.id")).as("b_id"))
      .distinct()
      // star pairs are already decided (verified or failed) — never redo
      .join(starPairs.hint("merge"), Seq("a_id", "b_id"), "left_anti")
      .localCheckpoint()
    val resVerified = verifyPairs(resCand, sets, sets, threshold)
      .localCheckpoint()
    lastSpanningStats = SpanningStats(starPairs.count(), starVerified.count(),
      resCand.count(), resVerified.count(), estFull, residualBound = resBound)
    starVerified.unionByName(resVerified)
  }

  /** Row counts of the last [[witnessDroppedIds]] call — the
    * no-silent-caps ledger for the incremental/probe cross feed:
    * how many hub edges were tried, how many increment docs they
    * decided, and how large the fallback was. Counts read from the
    * already-materialised checkpoints, so they cost no recompute. */
  case class WitnessStats(hubCandidates: Long, hubDropped: Long,
                          residualCandidates: Long, residualDropped: Long,
                          corpusMaxOccupancy: Long = 0,
                          dispatchedFull: Boolean = false)
  @volatile private[graft] var lastWitnessStats: WitnessStats =
    WitnessStats(0, 0, 0, 0)

  /** Witness-bounded EXISTENTIAL verification of an increment against a
    * bucketed corpus — the cross-side analog of
    * [[spanningVerifiedPairs]]. The consumer's verdict per increment
    * doc is existential (drop iff ONE verified corpus witness exists),
    * so verifying every (inc, corpus) candidate in a shared bucket is
    * g× too much work against a hot-template corpus bucket of
    * occupancy g. Instead:
    *
    *   1. HUB: verify each colliding increment doc against the HUBS
    *      (min-id member) of its colliding corpus buckets — one edge
    *      per (doc, bucket), O(Σ collisions), never O(Σ g·collisions).
    *      A verified hub edge IS a witness (the hub is a corpus
    *      member), so the doc's verdict is decided in O(1) verifies.
    *   2. RESIDUAL: only docs with NO verified hub edge fall back to
    *      the colliding buckets' remaining members (LSH false
    *      positives sharing a band with a dissimilar hub — the thin
    *      S-curve sliver). Hub edges are already decided; never redone.
    *
    * VERDICT EQUALITY with the full cross feed — exact, not a recall
    * bound, by the same argument as [[dropNearDups]]'s: if the full
    * feed drops doc d via witness m in shared bucket β, then either
    * some hub edge of d verified (d dropped in stage 1 — by m = hub(β)
    * or any other bucket's hub), or none did, in which case (d, m) is
    * in the residual candidate set (m is a member of β and d fell
    * back) and verifies. Conversely every edge verified here is a true
    * ≥threshold corpus witness. Spec-pinned against the full feed.
    *
    * Inputs are normalised: `incB` = (a_id, bucket) rows of the
    * increment, `corpusB` = (b_id, bucket) rows of the corpus state,
    * `verify` maps a candidate (a_id, b_id) table to its verified
    * subset (exact Jaccard or exact cosine). The corpus table is
    * scanned twice (hub aggregate + residual join) rather than
    * checkpointed — it is corpus-sized and typically parquet-backed
    * durable state, so a second pushdown scan beats a copy. Returns
    * the dropped a_ids (one column `a_id`, distinct). */
  private[graft] def witnessDroppedIds(incB: DataFrame, corpusB: DataFrame,
      verify: DataFrame => DataFrame,
      fullFeedMaxOccupancy: Long = 8L): DataFrame = {
    // OCCUPANCY DISPATCH. Hub-first's whole advantage is that a doc
    // colliding with a bucket of occupancy g pays 1 verification
    // instead of g — so when the CORPUS buckets are thin (max g small)
    // there is nothing to save, and the machinery's four checkpoint
    // barriers + ledger counts (~10 extra jobs) are pure overhead
    // (measured: dedup_neardup_incr 1.6 -> 5.2 s at sf0.1, and at sf10
    // the 250-doc corpus state has max occupancy 1 — the distinct
    // cross candidate set IS the hub candidate set there). The
    // dispatch statistic is corpus-side ONLY: one bucket-count
    // aggregate over the (typically parquet-backed, corpus-sized)
    // state table — the big increment side is never aggregated. A
    // hot-template corpus state (occupancies in the 10³-10⁶ range —
    // the scenario this feed exists for) routes to the hub path.
    val occRow = corpusB.groupBy("bucket").agg(count(lit(1)).as("g"))
      .agg(coalesce(max("g"), lit(0L)), coalesce(sum("g"), lit(0L))).head()
    val (maxOcc, corpusRows) = (occRow.getLong(0), occRow.getLong(1))
    if (maxOcc <= fullFeedMaxOccupancy) {
      lastWitnessStats = WitnessStats(0, 0, 0, 0, maxOcc, dispatchedFull = true)
      val cross = incB.join(corpusB, "bucket")
        .select("a_id", "b_id").distinct()
      return verify(cross).select("a_id").distinct()
    }
    // Broadcast-roulette pins (r17 audit): hubs/bucket tables here are
    // two-long-row relations whose compressed estimate can land under
    // the broadcast threshold while deserializing driver-heap-sized
    // (the r16 OOM class). The occupancy aggregate above already
    // counted the corpus state's rows, so the pin dispatches for free:
    // a state table under the arithmetic bound (hubs and corpusB are
    // both <= corpusRows) stays AQE-free — a hot-template-but-small
    // state (the sf0.1 shape) keeps its broadcasts — while a corpus-
    // scaled state pins merge. The increment-bounded sides (hubCand,
    // hubDropped) have no proven count and always pin.
    import graft.functions.mergePinned
    val hubs = corpusB.groupBy("bucket").agg(min("b_id").as("hub"))
    // one candidate per (inc doc, colliding bucket): the hub edge.
    // Checkpointed — it feeds the verify AND the residual anti-join.
    val hubCand = incB.join(mergePinned(hubs, corpusRows), "bucket")
      .select(col("a_id"), col("hub").as("b_id")).distinct()
      .localCheckpoint()
    val hubDropped = verify(hubCand).select("a_id").distinct()
      .localCheckpoint()
    // fallback: undecided docs x their buckets' members, minus the
    // already-decided hub edges (all of which FAILED for these docs).
    // hubDropped/hubCand are materialised checkpoints, so their counts
    // are cheap and exact — proven dispatch numbers, not estimates.
    val resCand = incB.join(mergePinned(hubDropped, hubDropped.count()),
        Seq("a_id"), "left_anti")
      .join(mergePinned(corpusB, corpusRows), "bucket")
      .select("a_id", "b_id").distinct()
      .join(mergePinned(hubCand, hubCand.count()), Seq("a_id", "b_id"), "left_anti")
      .localCheckpoint()
    val resDropped = verify(resCand).select("a_id").distinct()
      .localCheckpoint()
    lastWitnessStats = WitnessStats(hubCand.count(), hubDropped.count(),
      resCand.count(), resDropped.count(), maxOcc)
    hubDropped.unionByName(resDropped)
  }

  /** Full near-dup pipeline: LSH candidates -> exact Jaccard filter.
    * The shingle-set table feeds three consumers — the signature
    * aggregation and both sides of the verify join — whose exchanges
    * differ (partitioned on doc_id vs a_id vs b_id), so Catalyst's
    * exchange reuse can't dedupe them. persist() runs the CPU-heavy
    * mapPartitions stage once; the (tiny) verified pair table is then
    * materialised eagerly via localCheckpoint so the shingle cache can be
    * unpersisted before returning — nothing leaks into the caller's
    * session, and at 100 TB the cache lives only for this pipeline and
    * spills to disk rather than evicting neighbours.
    *
    * `spanning = false` (default) emits and verifies EVERY in-bucket
    * pair — the report form whose output is the complete verified pair
    * set. `spanning = true` routes through [[spanningVerifiedPairs]]:
    * O(Σ occupancy) star edges + verified-residual fallback, closure-
    * equal to the full feed (exact — proof at the method) but NOT
    * pair-complete — a clique's non-hub pairs are never emitted. Use it
    * for every consumer that only needs connectivity (clusters,
    * canonical selection, leakage-safe splits, drop-dups); it is the
    * form that survives a hot-template bucket with 10⁴+ members.
    *
    * `maxPairsPerBucket` (report form only; 0 = unlimited) bounds the
    * per-bucket emission through [[selfPairsCapped]] — the escape
    * hatch a 100 TB pair-report run pairs with
    * [[pairVolumeProfile]]'s pre-flight volume estimate; dropped
    * counts land in [[lastPairEmissionStats]], never silently. */
  def minhashNearDups(docs: DataFrame, threshold: Double = 0.8,
                      k: Int = 128, bands: Int = 32,
                      spanning: Boolean = false,
                      maxPairsPerBucket: Int = 0,
                      provenRows: Long = graft.functions.autoRows): DataFrame = {
    val sets = shingleHashSets(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val verified =
      if (spanning) spanningVerifiedPairs(bandBuckets(sets, k, bands), sets, threshold, bands)
      else {
        // report form: exactly-once first-band emission — no global
        // DISTINCT over the re-found pairs ([[firstBandPairs]]); the
        // capped form runs the SAME gate over the per-bucket member
        // sample ([[firstBandPairsCapped]]) — a governed run must never
        // cost more than the ungoverned one it protects (the r18
        // inversion: 25.9 s capped vs 16.4 s full at sf10).
        // Dispatch count from DOCS (lazily resolved: caller-provided
        // or bare-relation count-star, r17 ADVICE), NOT from the
        // persisted sets: counting sets forces the columnar cache
        // build in its own pass plus an extra decompression read for
        // the banding consumer — measured +15 s on sf10 dedup_jaccard
        // when this briefly used sets.count(). The row counts are
        // identical (one set row per doc).
        val dr = graft.functions.resolveRows(docs, provenRows)
        val sideRows = if (dr < 0) -1L else dr * bands
        val cand =
          if (maxPairsPerBucket > 0)
            firstBandPairsCapped(bandBucketArrays(sets, k, bands),
              maxPairsPerBucket, bands, sideRows)
          else
            firstBandPairs(bandBucketArrays(sets, k, bands),
              sideRows = sideRows, bands = bands, materializeArrays = true)
        // measured payload drives the verify join's broadcast-vs-merge
        // dispatch (this aggregate is also what fills the sets cache)
        verifyPairs(cand, sets, sets, threshold,
          provenSetBytes = setPayloadBytes(sets)).localCheckpoint()
      }
    sets.unpersist(false)
    verified
  }

  /** The deduplicated corpus: drop every doc that near-duplicates a
    * lower-id doc ("keep first" — for duplicate chains a>b>c this keeps
    * the minimum id and drops the rest, since each non-minimum appears
    * as some pair's b_id). One anti join against the pair table.
    *
    * Runs on the SPANNING feed: the loser set is identical to the full
    * feed's. A doc d is dropped under the full feed iff some verified
    * pair (e, d) with e < d exists in a shared bucket β; there either
    * d's star edge to hub(β) ≤ e < d verifies (d is its b_id — dropped)
    * or d is in β's residual and (e, d) itself is emitted and verified
    * (d the greater id — dropped). The reverse inclusion is immediate
    * (spanning-verified ⊆ full-verified). Spec-pinned. */
  def dropNearDups(docs: DataFrame, threshold: Double = 0.8,
                   idCol: String = "doc_id"): DataFrame = {
    val losers = minhashNearDups(docs, threshold, spanning = true)
      .select(col("b_id").as(idCol)).distinct()
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** SimHash fingerprints (63-bit, over word-3-gram hashes): per-bit
    * majority vote computed as 63 SUM aggregates over the exploded
    * shingle hashes (codegen'd, map-side combined), folded to one long
    * in a single projection. Full 64-bit element hashes (unlike the
    * 31-bit minhash base): the vote samples bits 0..62. */
  def simhashed(docs: DataFrame, idCol: String = "doc_id",
                textCol: String = "text"): DataFrame =
    // One expression over the per-doc shingle-hash array (r19): the
    // vote is a pure per-doc function, so the explode + 63 conditional
    // SUMs + aggregation exchange of the aggregate form were pure
    // overhead. The empty-set filter replicates that form's semantics
    // (docs with no shingles produced no exploded rows and were
    // dropped). Equivalence spec-pinned (DedupSimilaritySpec).
    shingleHashSets(docs, 3, idCol, textCol)
      .where(size(col("shash")) > 0)
      .select(col(idCol),
        graft.expressions.VectorExpressions.simhash(col("shash")).as("simhash"))

  /** Hamming-distance near-dup pairs over ANY 64-bit fingerprint
    * column: 4 blocks of 16 bits; a pair differing in ≤ maxHamming ≤ 3
    * bits must agree on ≥1 whole block (pigeonhole), so a block-bucket
    * join + exact hamming filter finds every such pair without
    * all-pairs. The bucket machinery shared by SimHash text near-dup
    * ([[simhashNearDups]]) and perceptual-hash media near-dup
    * ([[Multimodal.dHashNearDups]]). Buckets are 16-bit values — skew
    * only when fingerprints themselves cluster, which AQE's skew-join
    * split absorbs. */
  def hammingNearDups(fp: DataFrame, idCol: String, hashCol: String,
                      maxHamming: Int = 3): DataFrame = {
    // Materialization barrier (the TextAnalysis tokenArrays contract:
    // eager, executor-local, (id, long)-row blocks freed by the
    // ContextCleaner): the block self-join consumes `fp` on BOTH sides,
    // and exchange reuse does NOT dedupe the typed fingerprint subtrees
    // under it, so the whole fingerprint pass (shingle+vote, or the
    // media payload scan) executed TWICE — measured at sf10 (r19):
    // dedup_simhash 32.8 s isolated without the barrier, 17.3 s with
    // it. A repartition-based shared Exchange was measured as the
    // alternative reuse point and REJECTED: the aliased typed subtrees
    // do not canonicalise equal, so ReuseExchange never fires and both
    // sides still recompute (27.1 / 40.8 s isolated, steal-clean).
    val base = fp.select(col(idCol).as("__id"), col(hashCol).as("__h"))
      .localCheckpoint()
    val blocks = base.select(col("__id"), col("__h"),
      posexplode(array((0 until 4).map(i =>
        shiftright(col("__h"), i * 16).bitwiseAND(lit(65535L))): _*))
        .as(Seq("block_idx", "block_val")))
    val a = blocks.as("a")
    val b = blocks.as("b")
    a.join(b,
        col("a.block_idx") === col("b.block_idx") &&
          col("a.block_val") === col("b.block_val") &&
          col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("a_id"), col("b.__id").as("b_id"),
        hamming64(col("a.__h"), col("b.__h")).cast("long").as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }

  /** SimHash near-dup candidates: the 63-bit fingerprints through the
    * shared [[hammingNearDups]] block-bucket join. */
  def simhashNearDups(docs: DataFrame, maxHamming: Int = 3): DataFrame =
    hammingNearDups(simhashed(docs), "doc_id", "simhash", maxHamming)

  /** Embedding-cosine near-dup pairs above `threshold`.
    *
    * `allPairs=true` is the exact small-N path (used by the oracle gate:
    * a broadcast nested-loop over id-ordered pairs; compare count is
    * quadratic in the corpus, so it NEVER runs at scale). The 100 TB
    * path is `allPairs=false`: SemDeDup-style clustered candidates —
    * train IVF centroids, assign every vector to its `assign` nearest
    * cells, compare only pairs sharing a cell, exact-cosine verify.
    * With `centroidsK` growing with the corpus (auto: ~N/64 vectors
    * per cell) candidate volume tracks cell occupancy — ~assign²·occ
    * comparisons per vector — instead of the corpus, and the k x dim
    * centroid matrix is the only data that reaches the driver.
    *
    * Why cells and not sign-LSH: near-dup thresholds sit where the
    * random-hyperplane collision gap is thin (at cosine 0.45 a true
    * pair agrees per bit with p≈0.65 vs 0.5 for a random pair), so a
    * sign-LSH table budget buys recall, not pruning — measured at
    * sf0.01, full recall needs 16 tables x 4 bits and still emits 64%
    * of all pairs as candidates, where k=16/assign=2 cells emit 24%
    * with the same full recall, and the cell count (unlike the
    * hyperplane gap) scales with N. Candidate recall is certified by
    * spec at the oracle SF; tighter thresholds (real near-dup corpora
    * dedupe at ≥0.8 cosine) concentrate pairs inside cells and only
    * improve it.
    *
    * `maxPairsPerCell > 0` (cell feed only) GOVERNS the report: per
    * cell, only a deterministic-hash member sample of the largest m
    * with C(m,2) ≤ maxPairsPerCell emits pairs, so no hot cell can
    * produce an unbounded quadratic output; drops are ledgered in
    * [[lastCellPairEmissionStats]] and [[embeddingCellProfile]] says
    * what the cap will do before anything runs — the exact governance
    * [[minhashNearDups]]' `maxPairsPerBucket` ships. */
  def embeddingNearDups(emb: DataFrame, threshold: Double,
                        allPairs: Boolean = true, centroidsK: Int = 0,
                        assign: Int = 2,
                        maxPairsPerCell: Int = 0): DataFrame = {
    require(maxPairsPerCell == 0 || !allPairs,
      "maxPairsPerCell caps the cell-bucketed pair REPORT (allPairs = false)")
    val e = Similarity.prepared(emb)
    if (allPairs) {
      // nested loop over id-ordered pairs: routing the oracle path
      // through [[verifyCosine]]'s id joins would add two N² joins
      val aSide = e.select(col("vec_id").as("a_id"), col("v").as("av"), col("norm").as("anorm"))
      val bSide = e.select(col("vec_id").as("b_id"), col("v").as("bv"), col("norm").as("bnorm"))
      return aSide.join(bSide, col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id"),
          round(cosineWithNorms(dotProduct(col("av"), col("bv")),
            col("anorm"), col("bnorm")), 6).as("cosine"))
        .where(col("cosine") >= threshold)
    }
    val cells = embeddingCells(emb, centroidsK, assign)
    // GOVERNED form: cap per-cell emission to a deterministic-hash
    // member sample (the embedding twin of [[selfPairsCapped]] —
    // same ledger shape, published in [[lastCellPairEmissionStats]])
    val members =
      if (maxPairsPerCell > 0) {
        val (kept, st) =
          cappedMembers(cells, "vec_id", "cell", maxPairsPerCell)
        lastCellPairEmissionStats = st
        kept
      } else cells
    // r20: per-cell scan kernel (guide §2.4/§3.3 — the r14 relational
    // feed materialised + DISTINCTed 45.6M candidate rows, then
    // shipped both vectors into a two-sided join, 38.2 s of
    // dedup_embedding_lsh's 40.5 s at sf10; the kernel ships each
    // vector once per assigned cell and the only pair-sized shuffle
    // left is the verified-report distinct)
    cellVerifiedPairs(members, e, threshold)
  }

  /** IVF cell assignments for the embedding near-dup family — prepared
    * vectors cached for the train+assign loop's lifetime, `centroidsK`
    * (0 = [[Similarity.autoCells]]) deterministic-seeded centroids, each
    * vector in its top-`assign` cells. The tiny (id, small-int) result
    * is checkpointed so every downstream self-join/verify runs off it
    * instead of re-training; the vector cache is released (training +
    * assignment are its only consumers). Shared by the report, the
    * governed report, the pre-flight profile, the cluster feed, the
    * triplet miner, and the invariant gate — via
    * [[Similarity.cellAssignmentsCached]], so within one application
    * the corpus trains ONCE and the profile a run reads is computed
    * over EXACTLY the assignment the report will pay for. */
  private[graft] def embeddingCells(emb: DataFrame, centroidsK: Int = 0,
                                    assign: Int = 2): DataFrame =
    Similarity.cellAssignmentsCached(emb, centroidsK, assign)

  /** [[bucketOccupancyProfile]] over the IVF cell assignments of an
    * embedding corpus — the pre-flight volume report for
    * [[embeddingNearDups]]' cell-bucketed (report) form, the embedding
    * twin of [[pairVolumeProfile]]: at 100 TB one hot semantic cluster
    * collapsing into a cell means C(g,2) emission, and this histogram
    * says so BEFORE the report runs (cost: the train+assign pass the
    * report pays anyway, never the pairs). */
  def embeddingCellProfile(emb: DataFrame, centroidsK: Int = 0,
                           assign: Int = 2): DataFrame =
    bucketOccupancyProfile(
      embeddingCells(emb, centroidsK, assign)
        .select(col("vec_id").as("id"), col("cell").as("bucket")))

  /** Emission ledger of the last capped [[embeddingNearDups]] cell
    * report — the embedding twin of [[lastPairEmissionStats]] (kept
    * separate so a pipeline running both reports can publish both). */
  @volatile private[graft] var lastCellPairEmissionStats: PairEmissionStats =
    PairEmissionStats(0, 0, 0, 0)

  /** Rounds the last [[connectedComponents]] call took to converge —
    * diagnostic for scale campaigns (SCALE.md records it per SF). */
  @volatile private[graft] var lastCcRounds: Int = 0

  /** Connected components of the near-dup pair graph: every doc gets a
    * `cluster_id` = the minimum doc id reachable through near-dup pairs
    * (singletons cluster under themselves). Corpus dedup pipelines need
    * the full clusters — not just pairs — to keep exactly one canonical
    * doc per group of mutual near-dups (`dropNearDups` keeps min-id per
    * PAIR, which over-keeps on chains a~b, b~c where a!~c directly).
    *
    * Hash-min label propagation: each round every node adopts the
    * minimum label among itself and its neighbours until no label
    * changes — one driver-blocking job per round (convergence counted
    * in the checkpoint materialisation via accumulator), with the
    * node-sized label table broadcast into the edge join, so each
    * round costs exactly ONE shuffle of the directed edge set.
    * Rounds = component diameter; dup graphs are near-cliques
    * (dups of dups of X are dups of X), so 2-3 rounds in practice.
    * Task retries can only OVERcount that accumulator, and convergence
    * tests ==0, so it stays exact.
    *
    * The textbook alternative — large-star/small-star alternation
    * (Kiveris et al. 2014), which collapses a C(g,2)-edge clique to a
    * (g−1)-edge star after one round — was implemented and MEASURED
    * against this on the real pair graphs (union-find-pinned identical
    * output): sf10, 25.4M verified pairs over 500k docs: hash-min
    * 41.8 s / 3 rounds vs stars 48.9 s / 2 rounds (warm, same box);
    * sf1 end-to-end `dedup_clusters` 5.6 s vs 8.0 s. The clique
    * collapse does shrink later rounds ~40x, but round 1 still
    * carries the full edge set through TWO star passes (~6 shuffles +
    * distinct each) plus a count/except convergence probe, which
    * costs more than hash-min's 2 extra one-shuffle rounds, so
    * hash-min is the only engine. */
  def connectedComponents(pairs: DataFrame, nodes: DataFrame,
                          idCol: String = "doc_id",
                          maxRounds: Int = 20): DataFrame = {
    val edges = pairs
      .select(col("a_id").as("src"), col("b_id").as("dst"))
      .union(pairs.select(col("b_id").as("src"), col("a_id").as("dst")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val paired = edges.select(col("src").as("id")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var labels = paired
      .withColumn("cluster_id", col("id")).localCheckpoint()
    // Broadcast-roulette pin dispatch (r17 audit): label tables are
    // (id, cluster_id) rows — the compression-deceptive long-pair shape
    // (the r16 OOM class). paired is persisted and its count bounds
    // every label/nbr-min table in the loop, so the dispatch number is
    // proven and costs one count over an already-needed cache: small
    // dup graphs keep their broadcasts, corpus-scaled ones pin merge.
    val nNodes = paired.count()
    var round = 0
    var converged = false
    val spark = pairs.sparkSession
    while (!converged && round < maxRounds) {
      val nbrMin = edges
        .join(graft.functions.mergePinned(
          labels.withColumnRenamed("id", "dst"), nNodes), "dst")
        .groupBy("src").agg(min("cluster_id").as("nbr_min"))
        .withColumnRenamed("src", "id")
      val stepped = labels.join(graft.functions.mergePinned(nbrMin, nNodes),
          Seq("id"), "left")
        .select(col("id"),
          least(col("cluster_id"), coalesce(col("nbr_min"), col("cluster_id")))
            .as("cluster_id"),
          coalesce(col("nbr_min") < col("cluster_id"), lit(false)).as("__changed"))
      val changed = spark.sparkContext.longAccumulator(s"graft.cc.changed.r$round")
      val enc = org.apache.spark.sql.Encoders.row(stepped.schema)
      val next = stepped
        .map { r => if (r.getBoolean(2)) changed.add(1L); r }(enc)
        .localCheckpoint()
      converged = changed.value == 0L
      labels = next.drop("__changed")
      round += 1
    }
    lastCcRounds = round
    val singletons = nodes.select(col(idCol).as("id"))
      .join(paired, Seq("id"), "left_anti")
      .withColumn("cluster_id", col("id"))
    val out = labels.unionByName(singletons)
    edges.unpersist(false)
    paired.unpersist(false)
    out
  }

  /** Near-dup clusters of the corpus: MinHash/LSH pairs at `threshold`,
    * closed into components. (doc_id, cluster_id); keep one doc per
    * cluster_id for the canonical deduplicated corpus.
    *
    * The pair feed is the SPANNING one ([[spanningVerifiedPairs]]):
    * closure-identical to the full in-bucket feed (exact equality —
    * proof there), but the closure only drags O(Σ occupancy) edges
    * through verify + label propagation instead of C(g,2) per bucket —
    * the difference between a plan that survives a 10⁵-member template
    * family and one that emits 10¹⁰ candidate pairs from it. */
  def nearDupClusters(docs: DataFrame, threshold: Double = 0.8,
                      idCol: String = "doc_id"): DataFrame =
    connectedComponents(minhashNearDups(docs, threshold, spanning = true),
      docs, idCol)

  /** In-JVM cache of [[nearDupClusters]] label tables, keyed by
    * (application, docs plan, threshold, idCol) — the r15 cell-cache
    * pattern ([[Similarity.cellAssignmentsCached]]) applied to the
    * closure feed: a suite whose consumers all need the SAME corpus's
    * closure (clusters, size profile, canonical keep, leakage-safe
    * splits) re-ran shingle+banding+spanning+cc per query — ~150 s of
    * the sf10 suite on one corpus's repeated feed. Labels are
    * deterministic (hash-min component minima over a deterministic
    * verified pair set), so serving the checkpointed table is
    * value-identical to a rebuild (spec-pinned).
    * CAVEAT (same contract as the cell cache): a hit assumes the corpus
    * files are unchanged within the application; a pipeline that
    * rewrites its corpus mid-app must [[clearNearDupLabelCache]]. */
  private val nearDupLabelCache = new PlanCache()

  private[graft] def clearNearDupLabelCache(): Unit = nearDupLabelCache.clear()

  /** [[nearDupClusters]] served from [[nearDupLabelCache]] — one
    * shingle+banding+spanning+closure pass per (application, corpus,
    * threshold), every closure consumer rides the same checkpointed
    * (id, cluster_id) table (corpus-sized rows of two longs; entries
    * die with the application). Concurrent first callers block on a
    * single build ([[PlanCache]]). */
  def nearDupClustersCached(docs: DataFrame, threshold: Double = 0.8,
                            idCol: String = "doc_id"): DataFrame =
    nearDupLabelCache.getOrBuild(docs, s"ccLabels:$threshold:$idCol") {
      nearDupClusters(docs, threshold, idCol).localCheckpoint()
    }

  /** Near-dup cluster SIZE PROFILE — the report a curation run reads
    * before committing to a threshold: how many clusters of each size
    * the verified pair graph closes into, singletons included (size 1
    * = untouched docs). A corpus that is "90% near-duplicate in groups
    * of 10" vs "9% in pairs" needs different handling, and this is the
    * one-table answer. Cost on top of [[nearDupClusters]]: two
    * group-sized aggregations of the label relation — the closure
    * itself stays dup-graph-sized, singletons only join back for the
    * final count. Output (cluster_size, n_clusters, n_docs). */
  def clusterSizeProfile(docs: DataFrame, threshold: Double = 0.8,
                         idCol: String = "doc_id"): DataFrame =
    clusterSizeProfileOf(nearDupClusters(docs, threshold, idCol))

  /** [[clusterSizeProfile]]'s aggregation over an already-built label
    * table ((id, cluster_id) — [[nearDupClusters]] /
    * [[nearDupClustersCached]] / [[connectedComponents]]), so closure
    * consumers sharing one cached closure don't rebuild it per report. */
  def clusterSizeProfileOf(labels: DataFrame): DataFrame =
    labels
      .groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
      .withColumn("n_docs", col("cluster_size") * col("n_clusters"))

  /** Canonical-representative selection — the step that turns a cluster
    * closure into an actual deduplicated corpus: within every multi-
    * member cluster keep the HIGHEST-QUALITY member (not the min-id one
    * — near-dup groups usually contain one clean original and N
    * truncated/mangled copies, and min-id keeps an arbitrary one).
    * `labels` is a (id, cluster_id) closure ([[nearDupClusters]] /
    * [[connectedComponents]]); `scores` carries (idCol, scoreCol).
    * Returns one row per clustered doc: (idCol, cluster_id, scoreCol,
    * keep_id, kept) with keep_id = argmax score (ties -> smaller id).
    *
    * Scale shape: singleton clusters are filtered out FIRST (a
    * dup-graph-sized semi-join), so the score join and the per-cluster
    * window run over clustered docs only — in a mostly-unique corpus
    * that is orders of magnitude smaller than the corpus the closure
    * scanned. */
  def canonicalKeep(labels: DataFrame, scores: DataFrame,
                    idCol: String = "doc_id",
                    scoreCol: String = "quality_score"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val multi = labels.where(col("id") =!= col("cluster_id"))
      .select("cluster_id").distinct()
    val w = Window.partitionBy("cluster_id")
      .orderBy(col(scoreCol).desc, col("id"))
    val members = labels.join(multi, Seq("cluster_id"), "left_semi")
      .localCheckpoint() // dup-graph-sized; feeds the score semi-join AND the final join
    // Score ONLY clustered docs: the semi-join sits UNDER the caller's
    // scoring projection (Catalyst's PushDownLeftSemiAntiJoin moves it
    // through the projection since it only touches the id), so in a
    // mostly-unique corpus the expensive scoring expressions run over
    // the dup families, not the whole corpus — measured 137 s -> the
    // dedup_clusters baseline + a small scoring delta at sf10.
    val neededScores = scores
      .join(members.select(col("id").as(idCol)), Seq(idCol), "left_semi")
      .select(col(idCol).as("id"), round(col(scoreCol), 6).as(scoreCol))
    members
      .join(neededScores, "id")
      .withColumn("keep_id", first("id").over(w))
      .select(col("id").as(idCol), col("cluster_id"), col(scoreCol),
        col("keep_id"), (col("id") === col("keep_id")).as("kept"))
  }

  /** Incremental NEAR-dup dedup — the daily-drop form of
    * [[minhashNearDups]]: drop incoming docs that are ≥`threshold`
    * Jaccard-similar to anything already in the corpus, or to an
    * earlier (smaller-id) doc in the same increment. Candidates come
    * from an LSH band-bucket join BETWEEN the two sides (incoming
    * buckets probe existing buckets — never incoming x existing
    * all-pairs), verified by exact Jaccard on the shingle-hash sets.
    * At 100 TB the existing side's signature/bucket table is computed
    * once per corpus build and stored ([[minhashSignatureTable]]), so
    * the daily job hashes only the increment and joins one bucket
    * table. Id spaces must be disjoint across the two inputs. */
  def nearDupIncrement(existing: DataFrame, incoming: DataFrame,
                       threshold: Double = 0.8, k: Int = 128,
                       bands: Int = 32): DataFrame = {
    // one persisted shingle pass for the existing side feeds its bucket
    // table AND the verify join; the increment side is shingled inside
    // nearDupStateStep — the SAME core the streaming ingest runs, so
    // batch and streaming agree exactly on what counts as a duplicate
    val setsEx = shingleHashSets(existing)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the witness-bounded step reads the corpus bucket table twice
    // (hub aggregate + residual join) — persist it so the signature
    // aggregation runs once, like a stored state table would be
    val bEx = bandBuckets(setsEx, k, bands)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // batch form discards the state outputs — don't materialise them.
    // The returned survivors plan reads only incoming + the step's
    // eagerly-checkpointed dropped set, so releasing the caches is safe.
    val (survivors, _, _) =
      nearDupStateStep(setsEx, bEx, incoming,
        threshold, k, bands, materializeState = false)
    setsEx.unpersist(false)
    bEx.unpersist(false)
    survivors
  }

  /** One increment step against STORED near-dup state — the streaming /
    * daily form of [[nearDupIncrement]] where the corpus side is never
    * re-shingled: `existingSets` ((doc_id, shash)) and `existingBuckets`
    * ((id, bucket), built by [[bandBuckets]] with the same k/bands) are
    * durable tables the caller appends to as documents are admitted.
    * Each step hashes ONLY the increment, probes the stored bucket
    * table for cross-corpus candidates through the WITNESS-BOUNDED
    * feed ([[witnessDroppedIds]] — hub edges first, member fallback
    * only for undecided docs, verdict-equal to the full cross join),
    * pairs within itself for in-batch candidates, and
    * exact-Jaccard-verifies both — so at 100 TB the per-step cost
    * tracks the increment and its bucket COLLISIONS (not collision ×
    * occupancy), while history contributes two bucket equi-joins and a
    * candidate-only shingle-set lookup.
    *
    * Returns (survivors, survivorSets, survivorBuckets); the caller
    * appends the last two to the durable state. With
    * `materializeState=true` (the streaming ingest) all three are
    * eagerly materialised (localCheckpoint) so the increment's shingle
    * pass has already run exactly once when this returns. Batch callers
    * that only consume the survivors pass `materializeState=false`:
    * the dropped-id set is still checkpointed (it is what the survivors
    * anti-join against, and it cuts the shingle lineage), but the two
    * state outputs stay lazy plans — a caller that discards them pays
    * nothing, instead of two extra anti-join jobs per increment. A
    * caller that DOES evaluate them under `materializeState=false`
    * recomputes the increment's shingle pass once per output. */
  def nearDupStateStep(existingSets: DataFrame, existingBuckets: DataFrame,
                       incoming: DataFrame, threshold: Double = 0.8,
                       k: Int = 128, bands: Int = 32,
                       materializeState: Boolean = true)
      : (DataFrame, DataFrame, DataFrame) = {
    val setsIn = shingleHashSets(incoming)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // row-level eager checkpoint, not columnar persist: the bucket table
    // is read by FOUR bucket-keyed consumers (witness hub join, witness
    // residual join, spanning hub window, spanning residual join) and
    // the columnar InMemoryRelation paid its per-batch compression BUILD
    // plus per-consumer decompression on every one of them — the same
    // +15-24% the r13 spanning-internal measurement documented, now
    // applied at the caller that owns the cache. The barrier holds the
    // ARRAY form — one (id, int[bands]) row per doc, 32x fewer rows
    // than the exploded (id, bucket) table the consumers want — and
    // each consumer re-explodes from the checkpoint (a posexplode over
    // ~70 MB at sf10 vs materialising and re-reading 16M rows).
    // bandBuckets == explode(bandBucketArrays) by construction (shared
    // bandHashCols, spec-pinned), so bucket VALUES are unchanged and
    // stored band_buckets tables stay probe-compatible.
    val bArr = bandBucketArrays(setsIn, k, bands).localCheckpoint()
    val bIn = bArr.select(col("id"), explode(col("barr")).as("bucket"))
    // cross-side verdict is existential (drop iff ONE corpus witness),
    // so the feed is witness-bounded: hub edges first, member fallback
    // only for undecided docs ([[witnessDroppedIds]] — verdict-equal to
    // the full (inc x bucket-members) cross join, proof at the method)
    val crossDropped = witnessDroppedIds(
      bIn.select(col("id").as("a_id"), col("bucket")),
      existingBuckets.select(col("id").as("b_id"), col("bucket")),
      cand => verifyPairs(cand, setsIn, existingSets, threshold))
    // in-batch self-dedup drops the GREATER id of each verified pair —
    // exactly [[dropNearDups]]'s loser set, so the spanning feed's
    // loser-set equality proof applies verbatim and the in-batch side
    // rides the size-dispatched O(Σ occupancy) emission too. This is
    // where the sf10 cost actually lives: the "increment" of a bootstrap
    // or backfill run IS the corpus (500k docs against a 250-doc
    // history at sf10), and its hot-template buckets paid C(g,2) pairs;
    // the witness-bounded cross feed alone moved 101.7 s only to
    // 80.6 s because the self feed dominated.
    val selfDropped = spanningVerifiedPairs(bIn, setsIn, threshold, bands,
        materialized = true)
      .select(col("b_id").as("doc_id"))
    val dropped = crossDropped.select(col("a_id").as("doc_id"))
      .unionByName(selfDropped)
      .distinct()
      .localCheckpoint()
    // survivors depend only on incoming + the checkpointed dropped set,
    // so they stay correct after the shingle caches are released either way
    val survivorsLazy = incoming.join(dropped, Seq("doc_id"), "left_anti")
    val survivors =
      if (materializeState) survivorsLazy.localCheckpoint() else survivorsLazy
    val survivorSets = {
      val s = setsIn.join(dropped, Seq("doc_id"), "left_anti")
      if (materializeState) s.localCheckpoint() else s
    }
    val survivorBuckets = {
      val b = bIn.join(dropped, bIn("id") === dropped("doc_id"), "left_anti")
      if (materializeState) b.localCheckpoint() else b
    }
    setsIn.unpersist(false)
    // bIn is a localCheckpoint now — its blocks are reclaimed by the
    // ContextCleaner when the backing RDD is GC'd (the documented
    // checkpoint lifecycle above), not by an explicit unpersist
    (survivors, survivorSets, survivorBuckets)
  }

  /** Two-sided exact-cosine verification of candidate (a_id, b_id)
    * pairs: a_id resolves against `aSrc`, b_id against `bSrc` (both
    * [[Similarity.prepared]]-shaped); returns the (a_id, b_id, cosine)
    * rows whose 6-dp-rounded cosine is ≥ `threshold`. ONE
    * implementation so the batch, incremental, stored-model, streaming
    * and cell-report embedding paths agree bit-for-bit on what counts
    * as a duplicate — the embedding analog of [[verifyPairs]]. */
  private[graft] def verifyCosine(cand: DataFrame, aSrc: DataFrame,
                                  bSrc: DataFrame,
                                  threshold: Double): DataFrame =
    cand
      .join(aSrc.select(col("vec_id").as("a_id"), col("v").as("av"),
        col("norm").as("anorm")), "a_id")
      .join(bSrc.select(col("vec_id").as("b_id"), col("v").as("bv"),
        col("norm").as("bnorm")), "b_id")
      .select(col("a_id"), col("b_id"),
        round(cosineWithNorms(dotProduct(col("av"), col("bv")),
          col("anorm"), col("bnorm")), 6).as("cosine"))
      .where(col("cosine") >= threshold)

  /** Scalar twin of [[verifyCosine]]'s decision — dot/(na*nb), rounded
    * exactly as Spark's `round(col, 6)` rounds a double (HALF_UP via
    * BigDecimal.valueOf, NaN/Infinity passed through), compared with
    * Spark's NaN-is-largest ordering. Bit-for-bit agreement with the
    * relational verify is what lets the scan below share the same
    * oracle; spec-pinned. */
  @inline private def cosineDropDecision(dot: Double, na: Double, nb: Double,
                                         threshold: Double): Boolean = {
    val r = roundedCosine(dot, na, nb)
    r >= threshold || r.isNaN
  }

  /** dot/(na*nb) rounded exactly as Spark's `round(col, 6)` rounds a
    * double (HALF_UP via BigDecimal.valueOf; NaN/Infinity passed
    * through) — the VALUE half of [[cosineDropDecision]], for kernels
    * whose output carries the cosine itself. */
  @inline private def roundedCosine(dot: Double, na: Double, nb: Double): Double = {
    val c = dot / (na * nb)
    if (c.isNaN || c.isInfinite) c
    else java.math.BigDecimal.valueOf(c)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
  }

  /** VERIFIED in-cell pair REPORT as a per-cell scan — the pair-emitting
    * sibling of [[embeddingSelfDroppedIds]] (same member join, same
    * single (cell → members) exchange, same mega-cell guard), for
    * consumers whose output IS the verified (a_id, b_id, cosine) set.
    * The r14 relational feed this replaces materialised and DISTINCTed
    * the full C(g,2) candidate relation, then shuffled BOTH vectors
    * into a two-sided pair join — at sf10 the 45.6M-candidate
    * distinct+join was 38.2 s of dedup_embedding_lsh's 40.5 s where
    * the in-task dots are ~3 G multiply-adds. Per-pair decisions and
    * values are the exact scalar twin of the relational verify
    * ([[roundedCosine]] — NaN emitted, matching Spark's NaN-is-largest
    * `>=`), so the output rows are bit-identical; a pair sharing
    * several cells is emitted once per shared cell and the final
    * distinct folds it — over VERIFIED rows only, orders smaller than
    * the candidate relation. Over-cap cells route to the r14
    * relational arm unchanged (their verified pairs union in before
    * the distinct, so overlap between arms is also folded).
    * Set-equality with the relational feed is spec-pinned. */
  /** Candidate-pair volume at or under which the cell kernels dispatch
    * to the r19 relational feed: ~2M two-sided cosine verifies is a
    * couple of seconds at 32 cores — cheaper than the kernel's fixed
    * occupancy-split + vector-union + groupByKey machinery — mirroring
    * [[spanningVerifiedPairs]]' `fullFeedPairLimit` economics. */
  private[graft] val cellKernelPairLimit: Long = 2000000L

  private[graft] def cellVerifiedPairs(members: DataFrame, vecs: DataFrame,
                                       threshold: Double,
                                       scanCellCap: Int = 8192,
                                       maxCellScanBytes: Long = 64L << 20)
      : DataFrame = {
    val spark = members.sparkSession
    import spark.implicits._
    // SIZE DISPATCH (r20): the kernel's machinery (occupancy split,
    // vector-carrying union, groupByKey exchange, relational over-cap
    // arm) is ~2.8 s of fixed plan cost at sf0.1 where the whole query
    // was 1.8 s — the same small-end inversion every dispatched feed in
    // this file guards against. When the EXACT candidate volume
    // (Σ C(g,2) over the cell occupancies — one aggregate over the
    // caller-cached assignment table) is at most ~2M pairs, the r19
    // relational feed (cell self-join + distinct + two-sided verify) is
    // strictly cheaper and spec-pinned output-identical; the kernel is
    // reserved for the volumes it was built for (45.6M at sf10).
    val occ = members.groupBy("cell").agg(count(lit(1)).as("g"))
    val estPairs = occ.agg(coalesce(
        sum((col("g") * (col("g") - 1) / 2).cast("long")), lit(0L)))
      .head().getLong(0)
    if (estPairs <= cellKernelPairLimit) {
      val cand = members.as("x").join(members.as("y"),
          col("x.cell") === col("y.cell") &&
            col("x.vec_id") < col("y.vec_id"))
        .select(col("x.vec_id").as("a_id"), col("y.vec_id").as("b_id"))
        .distinct()
      return verifyCosine(cand, vecs, vecs, threshold)
    }
    val cap = scanCapFor(vecs, scanCellCap, maxCellScanBytes)
    val bigCells = occ.where(col("g") > cap).select("cell")
    val withVecs = members
      .join(vecs.select(col("vec_id"), col("v"), col("norm")), "vec_id")
      .select(col("cell"), col("vec_id"), col("v"), col("norm"))
    val scanned = withVecs
      .join(broadcast(bigCells), Seq("cell"), "left_anti")
      .as[(Int, Long, Array[Double], Double)]
      .groupByKey(_._1)
      .flatMapGroups { (_, itm) =>
        val ms = itm.toArray.sortInPlaceBy(_._2)
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
        var i = 1
        while (i < ms.length) {
          val (_, idB, vb, nb) = ms(i)
          var j = 0
          while (j < i) {
            val (_, idA, va, na) = ms(j)
            var s = 0.0
            var d = 0
            while (d < vb.length) { s += va(d) * vb(d); d += 1 }
            val r = roundedCosine(s, na, nb)
            if (r >= threshold || r.isNaN) out += ((idA, idB, r))
            j += 1
          }
          i += 1
        }
        out
      }
      .toDF("a_id", "b_id", "cosine")
    val bigMembers = members.join(broadcast(bigCells), "cell")
    // Broadcast-roulette pin (r17 audit): over-cap cells only — no
    // small side by construction, merge is the only safe strategy.
    val candBig = bigMembers.as("x").hint("merge")
      .join(bigMembers.as("y"),
        col("x.cell") === col("y.cell") && col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("a_id"), col("y.vec_id").as("b_id"))
      .distinct()
    scanned.unionByName(verifyCosine(candBig, vecs, vecs, threshold)).distinct()
  }

  /** Two-sided (corpus x benchmark) verified pair report as a per-cell
    * scan — the cross twin of [[cellVerifiedPairs]], for semantic
    * decontamination: within each shared cell every (a-side, b-side)
    * member pair is scored in-task instead of materialising the
    * cell-join candidate relation and shipping both vectors through a
    * two-sided join. `aMembers`/`bMembers` are (vec_id, cell) tables
    * assigned against the SAME centroids; `aVecs`/`bVecs` the prepared
    * vector tables the ids resolve against. Emits one row per shared
    * cell per verified pair; callers fold with distinct (values are
    * deterministic, so distinct on (a_id, b_id, cosine) == distinct on
    * the pair). Over-cap cells (by COMBINED occupancy) route to the
    * relational arm. */
  private[graft] def cellCrossVerifiedPairs(aMembers: DataFrame,
                                            bMembers: DataFrame,
                                            aVecs: DataFrame,
                                            bVecs: DataFrame,
                                            threshold: Double,
                                            scanCellCap: Int = 8192,
                                            maxCellScanBytes: Long = 64L << 20)
      : DataFrame = {
    val spark = aMembers.sparkSession
    import spark.implicits._
    // SIZE DISPATCH (r20) — the cross twin of [[cellVerifiedPairs]]'
    // dispatch: exact candidate volume is Σ ga·gb over shared cells
    // (one aggregate over the caller-checkpointed assignment tables);
    // at ≤ ~2M pairs the r19 relational feed wins (measured: the
    // kernel cost corpus_decontaminate_semantic 4.26 → 7.09 s at
    // sf0.1, same-day A/B, while improving sf10).
    val occ = aMembers.groupBy("cell").agg(count(lit(1)).as("ga"))
      .join(bMembers.groupBy("cell").agg(count(lit(1)).as("gb")), "cell")
    val estPairs = occ.agg(coalesce(
        sum((col("ga") * col("gb")).cast("long")), lit(0L)))
      .head().getLong(0)
    if (estPairs <= cellKernelPairLimit) {
      val cand = aMembers.as("x").join(bMembers.as("y"),
          col("x.cell") === col("y.cell"))
        .select(col("x.vec_id").as("a_id"), col("y.vec_id").as("b_id"))
        .distinct()
      return verifyCosine(cand, aVecs, bVecs, threshold)
    }
    val cap = scanCapFor(aVecs, scanCellCap, maxCellScanBytes)
    val bigCells = occ.where(col("ga") + col("gb") > cap).select("cell")
    def sideRows(m: DataFrame, vecs: DataFrame, tag: Int): DataFrame =
      m.join(vecs.select(col("vec_id"), col("v"), col("norm")), "vec_id")
        .select(col("cell"), lit(tag).as("side"), col("vec_id"),
          col("v"), col("norm"))
    val withVecs = sideRows(aMembers, aVecs, 0)
      .unionByName(sideRows(bMembers, bVecs, 1))
    val scanned = withVecs
      .join(broadcast(bigCells), Seq("cell"), "left_anti")
      .as[(Int, Int, Long, Array[Double], Double)]
      .groupByKey(_._1)
      .flatMapGroups { (_, itm) =>
        val all = itm.toArray
        val as = all.filter(_._2 == 0)
        val bs = all.filter(_._2 == 1)
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
        var i = 0
        while (i < as.length) {
          val (_, _, idA, va, na) = as(i)
          var j = 0
          while (j < bs.length) {
            val (_, _, idB, vb, nb) = bs(j)
            var s = 0.0
            var d = 0
            while (d < vb.length) { s += va(d) * vb(d); d += 1 }
            val r = roundedCosine(s, na, nb)
            if (r >= threshold || r.isNaN) out += ((idA, idB, r))
            j += 1
          }
          i += 1
        }
        out
      }
      .toDF("a_id", "b_id", "cosine")
    val bigA = aMembers.join(broadcast(bigCells), "cell")
    val bigB = bMembers.join(broadcast(bigCells), "cell")
    val candBig = bigA.as("x").hint("merge")
      .join(bigB.as("y"), col("x.cell") === col("y.cell"))
      .select(col("x.vec_id").as("a_id"), col("y.vec_id").as("b_id"))
      .distinct()
    scanned.unionByName(verifyCosine(candBig, aVecs, bVecs, threshold))
  }

  /** Effective per-cell occupancy cap for the single-task cell kernels:
    * the caller's `scanCellCap` tightened so that a full cell's vector
    * payload (8 bytes × dim per member; norms and tuple headers are a
    * small constant factor on top) stays under `maxCellScanBytes`. Dim
    * is probed from the corpus with one first-row action; an empty
    * corpus keeps the occupancy cap (nothing will be buffered anyway). */
  private def scanCapFor(vecs: DataFrame, scanCellCap: Int,
                         maxCellScanBytes: Long): Int = {
    // null-safe aggregate probe: max(size(v)) skips null vectors (a
    // null FIRST row must not NPE the guard) and, on a mixed-dim
    // corpus, sizes the byte cap from the WIDEST vector — the
    // conservative choice, instead of whichever row a head(1) happens
    // to return. One narrow aggregate over the column the consumer is
    // about to scan anyway; empty/all-null keeps the occupancy cap
    // (nothing will be buffered).
    val d = vecs.agg(max(size(col("v")))).head()
    if (d.isNullAt(0)) scanCellCap
    else {
      val dim = math.max(1, d.getInt(0))
      math.max(1L, math.min(scanCellCap.toLong,
        maxCellScanBytes / (8L * dim))).toInt
    }
  }

  /** Dropped ids of the IN-BATCH embedding self-dedup: every vector
    * with a SMALLER-id ≥threshold cosine neighbour in a shared IVF
    * cell. The consumer's verdict is existential per vector, so
    * emitting + verifying the full per-cell C(g,2) pair relation (the
    * r13 plan) is g× too much work exactly where cells are dup-dense —
    * the common case for a near-dup corpus (r14 sf10 stage profile:
    * 45.5M candidate pairs, 63.6 s to DISTINCT them + 41.1 s to
    * verify, for a verdict that drops 99% of vectors — most of them
    * decidable by their first few cell-mates).
    *
    * Instead each cell is scanned IN ID ORDER in one task: vector b
    * checks cell-mates a < b (any earlier member is a legal witness —
    * the oracle's ∃ a<b quantifier does not require the witness to
    * survive) and STOPS at the first hit. Expected probes per vector
    * track how quickly a witness appears (≈1 in dup-dense cells), and
    * the pair relation is never materialised or shuffled — the only
    * shuffle is the one (cell → members) exchange. Per-pair decisions
    * are the EXACT scalar twin of the relational verify
    * ([[cosineDropDecision]]), so the all-pairs DuckDB oracle
    * transfers unchanged; agreement with the pair-feed form is also
    * spec-pinned directly.
    *
    * SKEW GUARD: a cell's scan runs in one task, and a mega-cell of
    * mutually-DISSIMILAR vectors would cost C(g,2) probes serially.
    * Cells with occupancy > `scanCellCap` (driver-sized id list —
    * there are at most k cells) are routed to the r13 relational
    * pair feed instead, which distributes their quadratic candidate
    * volume across the cluster. At the default cap the serial worst
    * case is ~C(8192,2) 64-dim dots ≈ 2 s — bounded tail, no lost
    * exactness either way.
    *
    * MEMORY GUARD: the scan buffers a whole cell's vectors in its
    * task, so the occupancy cap alone bounds MEMBERS but not BYTES —
    * dim is unbounded in the API, and 8192 members × dim 4096 would be
    * a 268 MB task buffer. The effective cap is therefore
    * min(scanCellCap, maxCellScanBytes / (8·dim)) with dim probed from
    * the corpus (one first-row action): high-dim corpora route to the
    * relational arm at proportionally smaller occupancies, so no task
    * ever buffers more than ~maxCellScanBytes of vector payload. */
  private[graft] def embeddingSelfDroppedIds(cells: DataFrame, vecs: DataFrame,
                                             threshold: Double,
                                             scanCellCap: Int = 8192,
                                             maxCellScanBytes: Long = 64L << 20)
      : DataFrame = {
    val spark = cells.sparkSession
    import spark.implicits._
    val cap = scanCapFor(vecs, scanCellCap, maxCellScanBytes)
    val bigCells = cells.groupBy("cell").agg(count(lit(1)).as("g"))
      .where(col("g") > cap).select("cell")
    val members = cells
      .join(vecs.select(col("vec_id"), col("v"), col("norm")), "vec_id")
      .select(col("cell"), col("vec_id"), col("v"), col("norm"))
    val scanned = members
      .join(broadcast(bigCells), Seq("cell"), "left_anti")
      .as[(Int, Long, Array[Double], Double)]
      .groupByKey(_._1)
      .flatMapGroups { (_, it) =>
        val ms = it.toArray.sortInPlaceBy(_._2)
        val out = scala.collection.mutable.ArrayBuffer.empty[Long]
        var i = 1
        while (i < ms.length) {
          val (_, idB, vb, nb) = ms(i)
          var j = 0
          var hit = false
          while (j < i && !hit) {
            val (_, _, va, na) = ms(j)
            var s = 0.0
            var d = 0
            while (d < vb.length) { s += va(d) * vb(d); d += 1 }
            hit = cosineDropDecision(s, na, nb, threshold)
            j += 1
          }
          if (hit) out += idB
          i += 1
        }
        out
      }
      .toDF("vec_id")
    val bigMembers = cells.join(broadcast(bigCells), "cell")
    // Broadcast-roulette pin (r17 audit): this fallback arm only runs
    // for over-cap cells, so each side is hot-cell-membership-sized —
    // (vec_id, cell) long pairs with NO small side by construction;
    // merge is the only safe strategy (the r16 OOM class), and the
    // arm's small-corpus cost is nil because small cells take the
    // scan arm.
    val candBig = bigMembers.as("x").hint("merge")
      .join(bigMembers.as("y"),
        col("x.cell") === col("y.cell") && col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("a_id"), col("y.vec_id").as("b_id"))
      .distinct()
    scanned.unionByName(
      verifyCosine(candBig, vecs, vecs, threshold)
        .select(col("b_id").as("vec_id")))
      .distinct()
  }

  /** Spanning-FOREST edges of the in-cell verified cosine graph — the
    * CLOSURE consumer's twin of [[embeddingSelfDroppedIds]]. The full
    * cell feed materialises every in-cell pair and verifies all of
    * them so that connected components can throw most of the result
    * away; a closure consumer only needs, per cell, enough verified
    * edges to connect what the full feed connects. Each cell is
    * processed in ONE task with a union-find over its members
    * (id-sorted, deterministic): a pair is cosine-tested ONLY when its
    * endpoints are still in different components, and every verified
    * test unions them and emits that one edge — at most g−1 emissions
    * per cell, and in dup-dense cells most pair tests are SKIPPED
    * because the endpoints already share a component. Per-pair
    * decisions are the exact scalar twin of the relational verify
    * ([[cosineDropDecision]]).
    *
    * CLOSURE EQUALITY with the full cell feed: within a cell, the
    * union-find tests every cross-component pair in a fixed order and
    * unions on every verified edge, so two members end in one
    * component iff they are connected in the cell's verified subgraph
    * (a pair skipped as same-component was already connected; a pair
    * tested and failed contributes nothing in either feed) — the
    * emitted forest spans exactly the full feed's per-cell components.
    * Across cells the full feed also has only in-cell edges, so global
    * closure connects cells solely through SHARED MEMBERS — node
    * identity, which the downstream [[connectedComponents]] preserves
    * over the forest exactly as over the full pair set. Spec-pinned
    * (label equality vs the full feed's closure on both dispatch arms)
    * and certified end-to-end by the emb_clusters_lsh == emb_clusters
    * invariant at the oracle SF.
    *
    * Same mega-cell guard as the scan — both the occupancy cap and the
    * bytes cap (see [[embeddingSelfDroppedIds]]' MEMORY GUARD): cells
    * above the effective cap route to the relational full feed (their
    * verified pairs are a closure superset of any forest), so no
    * serial task ever owns an unbounded C(g,2) or buffers more than
    * ~`maxCellScanBytes` of vectors. */
  private[graft] def embeddingCellForestEdges(cells: DataFrame,
                                              vecs: DataFrame,
                                              threshold: Double,
                                              scanCellCap: Int = 8192,
                                              maxCellScanBytes: Long = 64L << 20)
      : DataFrame = {
    val spark = cells.sparkSession
    import spark.implicits._
    val cap = scanCapFor(vecs, scanCellCap, maxCellScanBytes)
    val bigCells = cells.groupBy("cell").agg(count(lit(1)).as("g"))
      .where(col("g") > cap).select("cell")
    val members = cells
      .join(vecs.select(col("vec_id"), col("v"), col("norm")), "vec_id")
      .select(col("cell"), col("vec_id"), col("v"), col("norm"))
    val forest = members
      .join(broadcast(bigCells), Seq("cell"), "left_anti")
      .as[(Int, Long, Array[Double], Double)]
      .groupByKey(_._1)
      .flatMapGroups { (_, it) =>
        val ms = it.toArray.sortInPlaceBy(_._2)
        val parent = Array.tabulate(ms.length)(identity)
        def find(x: Int): Int = {
          var r = x
          while (parent(r) != r) r = parent(r)
          var c = x
          while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
        var i = 1
        while (i < ms.length) {
          val (_, idB, vb, nb) = ms(i)
          var j = 0
          while (j < i) {
            if (find(i) != find(j)) {
              val (_, idA, va, na) = ms(j)
              var s = 0.0
              var d = 0
              while (d < vb.length) { s += va(d) * vb(d); d += 1 }
              if (cosineDropDecision(s, na, nb, threshold)) {
                parent(find(i)) = find(j)
                out += ((idA, idB))
              }
            }
            j += 1
          }
          i += 1
        }
        out
      }
      .toDF("a_id", "b_id")
    val bigMembers = cells.join(broadcast(bigCells), "cell")
    // Broadcast-roulette pin (r17 audit): this fallback arm only runs
    // for over-cap cells, so each side is hot-cell-membership-sized —
    // (vec_id, cell) long pairs with NO small side by construction;
    // merge is the only safe strategy (the r16 OOM class), and the
    // arm's small-corpus cost is nil because small cells take the
    // scan arm.
    val candBig = bigMembers.as("x").hint("merge")
      .join(bigMembers.as("y"),
        col("x.cell") === col("y.cell") && col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("a_id"), col("y.vec_id").as("b_id"))
      .distinct()
    forest.unionByName(
      verifyCosine(candBig, vecs, vecs, threshold).select("a_id", "b_id"))
  }

  /** Closure-bound edge feed over IVF cells — what `emb_clusters_lsh`
    * consumes: the same prep as [[embeddingNearDups]]' cell path
    * (union-trained cells, multi-assign), but the per-cell output is
    * [[embeddingCellForestEdges]]' spanning forest instead of the
    * materialised pair relation. The r12 star+residual spanning was
    * measured and REJECTED here (146.6 s vs 38.9 s — most star edges
    * fail at moderate thresholds and the residual degenerates); the
    * union-find forest has neither failure mode: it never pays a
    * second relational round, and a failed test costs one dot product,
    * not an extra feed. */
  def embeddingClusterEdges(emb: DataFrame, threshold: Double,
                            centroidsK: Int = 0, assign: Int = 2)
      : DataFrame = {
    val e = Similarity.prepared(emb)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // shared assignment: rides the application-level cell cache, so a
    // run that already paid the pair report's train+assign pays only
    // the forest here (and vice versa)
    val cells = embeddingCells(emb, centroidsK, assign)
    val edges = embeddingCellForestEdges(cells, e, threshold)
      .localCheckpoint()
    e.unpersist(false)
    edges
  }

  /** One embedding-dedup increment step against an EXISTING side given
    * as (vectors, cell table, trained centroids) — the shared core of
    * [[embeddingIncrement]] (existing side computed in-flight),
    * [[embeddingIncrementStored]] (existing side loaded from a stored
    * model), and the streaming ingest sink. The increment is assigned
    * to its `assign` nearest cells, candidates come from shared cells
    * BETWEEN the sides plus cell-sharing pairs within the increment,
    * and both sets are exact-cosine verified — never incoming x
    * existing all-pairs. (The text side's witness-bounded cross feed
    * was measured here and rejected — note at the candidate join.) Per-step cost is assignment (one broadcast
    * of the k x dim centroid matrix) + two cell equi-joins: nothing
    * retrains and nothing scans the corpus beyond the candidate-id
    * vector lookups.
    *
    * Returns (survivors, survivorVecs, survivorCells); a stateful
    * caller appends the last two to its durable state. Same
    * `materializeState` contract as [[nearDupStateStep]]: the dropped
    * set is always checkpointed (it is what survivors anti-join
    * against), state outputs are checkpointed only when requested —
    * a batch caller that discards them pays nothing. */
  def embeddingStateStep(existingVecs: DataFrame, existingCells: DataFrame,
                         centroids: Seq[Array[Double]], incoming: DataFrame,
                         threshold: Double = 0.45, assign: Int = 2,
                         materializeState: Boolean = true)
      : (DataFrame, DataFrame, DataFrame) = {
    val inc = Similarity.prepared(incoming)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val incCells = Similarity.cellAssignments(inc, centroids, assign)
      .localCheckpoint()
    // MEASURED NEGATIVE: the text side's witness-bounded hub-first
    // cross feed ([[witnessDroppedIds]]) was A/B'd here and REJECTED —
    // IVF cells are recall partitions, not near-cliques, so hub edges
    // almost never decide a doc and the extra round + barrier + the
    // corpus-cell hub aggregate per step REGRESSED the stored-model
    // probe 7.6 -> 44.7 s at sf10 (same shape as the emb_clusters_lsh
    // spanning rejection). The direct cell cross join + one cosine
    // verify round is the right plan on CROSS cell feeds: per-pair
    // cosine is one fused dot product, far cheaper than the text
    // side's set-intersection verify that makes hub-first pay off
    // there. The IN-BATCH self side is different — its verdict per
    // doc is existential over an in-cell ordered scan, which
    // [[embeddingSelfDroppedIds]] serves without ever emitting the
    // C(g,2) pair relation (r14 stage profile: the pair feed was
    // 105 s of the sf10 query's 131 s; the scan is ~10 s).
    val candCross = incCells.as("i")
      .join(existingCells.as("e"), col("i.cell") === col("e.cell"))
      .select(col("i.vec_id").as("a_id"), col("e.vec_id").as("b_id"))
      .distinct()
    val dropped = verifyCosine(candCross, inc, existingVecs, threshold)
      .select(col("a_id").as("vec_id"))
      .unionByName(embeddingSelfDroppedIds(incCells, inc, threshold))
      .distinct()
      .localCheckpoint()
    // survivors depend only on incoming + the checkpointed dropped set,
    // so they stay correct after the vector cache is released either way
    val survivorsLazy = incoming.join(dropped, Seq("vec_id"), "left_anti")
    val survivors =
      if (materializeState) survivorsLazy.localCheckpoint() else survivorsLazy
    val survivorVecs = {
      val v = inc.join(dropped, Seq("vec_id"), "left_anti")
      if (materializeState) v.localCheckpoint() else v
    }
    val survivorCells = {
      val c = incCells.join(dropped, Seq("vec_id"), "left_anti")
      if (materializeState) c.localCheckpoint() else c
    }
    inc.unpersist(false)
    (survivors, survivorVecs, survivorCells)
  }

  /** Incremental embedding-cosine dedup — the daily-drop form of
    * [[embeddingNearDups]], completing the batch/incremental symmetry
    * the text side has: drop incoming vectors ≥`threshold`
    * cosine-similar to anything already in the corpus, or to an
    * earlier (smaller-id) vector in the same increment. Candidates
    * come from shared IVF cells BETWEEN the two sides plus
    * cell-sharing pairs within the increment, exact-cosine verified
    * through [[embeddingStateStep]] — never incoming x existing
    * all-pairs. Cells train over existing ∪ increment and the cell
    * count scales with the UNION size: the in-batch self-dedup runs
    * through the same cells, so they must be fine enough for
    * whichever side is larger (a corpus-sized k from a tiny history —
    * or vice versa — would make one side's cell occupancy
    * quadraticly expensive; measured 21 s → 4.5 s at sf1).
    *
    * This form RE-TRAINS centroids per run; at 100 TB the recurring
    * job instead builds the corpus model once
    * ([[buildEmbeddingDedupState]]) and probes it per increment
    * ([[embeddingIncrementStored]]) — assignment + cell-join only, no
    * Lloyd loop. Id spaces must be disjoint across the two inputs. */
  def embeddingIncrement(existing: DataFrame, incoming: DataFrame,
                         threshold: Double = 0.45, centroidsK: Int = 0,
                         assign: Int = 2): DataFrame = {
    val ex = Similarity.prepared(existing)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // training persists (and releases) its own copy of the union for
    // the Lloyd loop and sizes the cells from it (centroidsK = 0); the
    // increment side re-prepares inside the step
    val union = ex.unionByName(Similarity.prepared(incoming))
    val centroids = Similarity.trainIvfCentroids(union, centroidsK)
    val exCells = Similarity.cellAssignments(ex, centroids, assign)
    // batch form discards the state outputs — don't materialise them
    val (survivors, _, _) = embeddingStateStep(ex, exCells, centroids,
      incoming, threshold, assign, materializeState = false)
    ex.unpersist(false)
    survivors
  }

  /** Build + PERSIST the embedding-dedup corpus model at `dir` — the
    * embedding analog of the text side's stored signature/bucket state
    * ([[bandBuckets]]/[[nearDupStateStep]]) and of the stored ANN /
    * decontamination indexes: four parquet tables — `centroids`
    * (centroid_id, v: the trained IVF model), `vectors` (vec_id, v,
    * norm), `cells` (vec_id, cell), and `meta` (k, assign, dim,
    * n_vecs) written LAST so its presence implies a complete model
    * even if a build attempt crashed between writes (and retracted
    * FIRST on rebuild, so a crashed rebuild reads as incomplete).
    * The Lloyd loop — the expensive part — runs ONCE per corpus
    * build; every later increment probes via
    * [[embeddingIncrementStored]] with assignment + cell-join
    * economics. `centroidsK` auto-scales to ~N/64 vectors per cell
    * (capped 4096) like [[embeddingNearDups]].
    *
    * Default multi-assign is 3 here (vs 2 for the union-trained
    * forms): a stored model's centroids never saw the increments it
    * will be probed with, so boundary vectors sit farther from their
    * assigned cells than union-trained ones do — one extra assignment
    * is the recall-compensating knob (measured: assign=2 missed a
    * true cross pair at the oracle SF that assign=3 recovers, at
    * ~2.25x candidate volume — still cell-occupancy-bound). */
  def buildEmbeddingDedupState(emb: DataFrame, dir: String,
                               centroidsK: Int = 0, assign: Int = 3): Unit = {
    val spark = emb.sparkSession
    import spark.implicits._
    val metaPath = new org.apache.hadoop.fs.Path(s"$dir/meta")
    val mfs = metaPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (mfs.exists(metaPath)) mfs.delete(metaPath, true)
    val e = Similarity.prepared(emb)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = e.count()
    val k =
      if (centroidsK > 0) centroidsK
      else Similarity.autoCells(n)
    val centroids = Similarity.trainIvfCentroids(e, k)
    e.write.mode("overwrite").parquet(s"$dir/vectors")
    Similarity.cellAssignments(e, centroids, assign)
      .write.mode("overwrite").parquet(s"$dir/cells")
    e.unpersist(false)
    centroids.zipWithIndex.map { case (v, i) => (i, v.toSeq) }.toSeq
      .toDF("centroid_id", "v")
      .write.mode("overwrite").parquet(s"$dir/centroids")
    // meta LAST: completeness marker + the parameters a probe must reuse
    Seq((k, assign, centroids.head.length, n))
      .toDF("k", "assign", "dim", "n_vecs")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
  }

  /** Probe-phase incremental embedding dedup against a STORED model
    * ([[buildEmbeddingDedupState]]): the daily-drop job a 100 TB
    * corpus actually runs. The driver loads only the k x dim centroid
    * matrix; the corpus vector/cell tables stream from parquet into
    * the candidate joins; increment-side work is assignment + two
    * cell equi-joins + exact-cosine verification of the candidates —
    * NO Lloyd loop, nothing corpus-sized recomputed. `assign` comes
    * from the model's meta, so a probe can never bucket with
    * different multi-assignment than the corpus was indexed with.
    * Same duplicate contract as [[embeddingIncrement]] (shared
    * [[embeddingStateStep]] core); agreement is spec-certified at the
    * oracle SF. Increment ids must be disjoint from the corpus's. */
  def embeddingIncrementStored(incoming: DataFrame, dir: String,
                               threshold: Double = 0.45): DataFrame = {
    val spark = incoming.sparkSession
    import spark.implicits._
    val assign = spark.read.parquet(s"$dir/meta").select("assign").as[Int].head()
    val centroids: Seq[Array[Double]] = scala.collection.immutable.ArraySeq
      .unsafeWrapArray(spark.read.parquet(s"$dir/centroids")
        .select("centroid_id", "v").as[(Int, Array[Double])]
        .collect().sortBy(_._1).map(_._2))
    val (survivors, _, _) = embeddingStateStep(
      spark.read.parquet(s"$dir/vectors"),
      spark.read.parquet(s"$dir/cells"),
      centroids, incoming, threshold, assign, materializeState = false)
    survivors
  }

  /** Build and PERSIST near-dup (minhash) dedup state for an
    * accumulated corpus: the `shingle_sets` ((doc_id, shash)) and
    * `band_buckets` ((id, bucket)) tables [[nearDupStateStep]] probes,
    * plus `meta` — written LAST as the completeness marker — pinning
    * (k, bands, n_docs) so a probe can never band with a different
    * signature layout than the corpus was indexed with. This is the
    * TEXT analog of [[buildEmbeddingDedupState]], and the batch-built
    * form of the state the streaming ingest sink accumulates: one
    * corpus shingle pass at build time, then every daily increment
    * runs [[nearDupIncrementStored]] at pure probe cost — history is
    * never re-shingled again. */
  def buildNearDupState(docs: DataFrame, dir: String, k: Int = 128,
                        bands: Int = 32, idCol: String = "doc_id",
                        textCol: String = "text"): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    val metaPath = new org.apache.hadoop.fs.Path(s"$dir/meta")
    val mfs = metaPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (mfs.exists(metaPath)) mfs.delete(metaPath, true)
    val sets = shingleHashSets(docs, idCol = idCol, textCol = textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    sets.write.mode("overwrite").parquet(s"$dir/shingle_sets")
    bandBuckets(sets, k, bands, idCol)
      .write.mode("overwrite").parquet(s"$dir/band_buckets")
    val n = sets.count()
    sets.unpersist(false)
    Seq((k, bands, n)).toDF("k", "bands", "n_docs")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
  }

  /** Build and PERSIST the near-dup CLOSURE state — the stored-model
    * form of [[nearDupClusters]], i.e. the train-once/probe-forever
    * pattern [[buildNearDupState]] and the embedding models already
    * follow, applied to the LABEL table. [[nearDupClustersCached]]
    * amortizes the shingle+banding+spanning+closure pass WITHIN an
    * application, but that cache dies with the app: every new
    * application paid the full closure build again (~53 s at sf10,
    * visible as dedup_canonical's cold_extra_s in the r17 artifacts).
    * Persists the verified `labels` table ((id, cluster_id) — exactly
    * [[nearDupClusters]]' output, labels are deterministic component
    * minima) plus `meta` — written LAST as the completeness marker —
    * pinning (threshold, k, bands, n_docs) so a consumer can never mix
    * labels computed under one parameterization with expectations of
    * another. Consumers: [[closureFromStored]] feeds
    * [[clusterSizeProfileOf]], [[canonicalKeep]], and
    * [[graft.operators.Splits.leakageSafeFromLabels]] unchanged. */
  def buildClosureState(docs: DataFrame, dir: String,
                        threshold: Double = 0.8, k: Int = 128,
                        bands: Int = 32, idCol: String = "doc_id"): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    val metaPath = new org.apache.hadoop.fs.Path(s"$dir/meta")
    val mfs = metaPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (mfs.exists(metaPath)) mfs.delete(metaPath, true)
    connectedComponents(
      minhashNearDups(docs, threshold, k, bands, spanning = true), docs, idCol)
      .write.mode("overwrite").parquet(s"$dir/labels")
    val n = spark.read.parquet(s"$dir/labels").count()
    Seq((threshold, k, bands, n)).toDF("threshold", "k", "bands", "n_docs")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
  }

  /** Serve a persisted closure ([[buildClosureState]]): the verified
    * (id, cluster_id) label table as a plain parquet scan — zero
    * shingling, banding, or label propagation per run. When the caller
    * pins an expected threshold the stored meta is checked first, so a
    * state dir built at 0.7 can never silently serve a 0.8 consumer.
    * Labels are deterministic (hash-min component minima over a
    * deterministic verified pair set), so this table is value-identical
    * to a fresh [[nearDupClusters]] over the same corpus (spec-pinned
    * byte-for-byte). */
  def closureFromStored(spark: org.apache.spark.sql.SparkSession, dir: String,
                        expectThreshold: Double = -1.0): DataFrame = {
    if (expectThreshold >= 0) {
      val t = spark.read.parquet(s"$dir/meta").select("threshold").head().getDouble(0)
      require(t == expectThreshold,
        s"stored closure at $dir was built at threshold $t, caller expects $expectThreshold")
    }
    spark.read.parquet(s"$dir/labels")
  }

  /** Probe-phase incremental near-dup dedup against a STORED state dir
    * ([[buildNearDupState]]) — the text counterpart of
    * [[embeddingIncrementStored]] and the form a recurring daily drop
    * actually runs: the increment is shingled once, its band buckets
    * equi-join the stored bucket table for cross-corpus candidates,
    * and only candidates' shingle sets are fetched for the exact
    * Jaccard verify. Per-run cost tracks the increment and its bucket
    * collisions; the corpus contributes two parquet-streamed joins and
    * zero recomputation. Same duplicate contract as
    * [[nearDupIncrement]] (shared [[nearDupStateStep]] core), so the
    * all-pairs oracle transfers. */
  def nearDupIncrementStored(incoming: DataFrame, dir: String,
                             threshold: Double = 0.8): DataFrame = {
    val spark = incoming.sparkSession
    import spark.implicits._
    val (k, bands) = spark.read.parquet(s"$dir/meta")
      .select("k", "bands").as[(Int, Int)].head()
    val (survivors, _, _) = nearDupStateStep(
      spark.read.parquet(s"$dir/shingle_sets"),
      spark.read.parquet(s"$dir/band_buckets"),
      incoming, threshold, k, bands, materializeState = false)
    survivors
  }

  /** Incremental exact dedup — the daily-drop form: dedup `incoming`
    * within itself (smallest id per fingerprint wins, as [[exact]]),
    * then drop anything whose content already exists in the accumulated
    * corpus. The history side reduces to its DISTINCT fingerprint set
    * before the anti join, so the increment never rescans history
    * payloads — at 100 TB the fingerprints are the only state the daily
    * job touches, and in practice they come from a stored fingerprint
    * table rather than re-hashing (pass that table as `existing` with
    * `existingIsFingerprints = true`). */
  def exactIncrement(existing: DataFrame, incoming: DataFrame,
                     idCol: String = "doc_id", textCol: String = "text",
                     existingIsFingerprints: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val seen =
      if (existingIsFingerprints) existing.select("fingerprint").distinct()
      else existing.select(md5(col(textCol)).as("fingerprint")).distinct()
    val w = Window.partitionBy(md5(col(textCol))).orderBy(idCol)
    incoming
      .withColumn("__rk", row_number().over(w))
      .where(col("__rk") === 1).drop("__rk")
      .join(seen, md5(col(textCol)) === seen("fingerprint"), "left_anti")
  }
}
