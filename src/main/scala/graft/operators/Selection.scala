package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.Ingestor

/** Token-budget-constrained corpus selection: keep the highest-quality
  * documents — in total (quality DESC, doc_id ASC) order — whose
  * running token total still fits a budget. The budgeted-selection
  * step of data-constrained curation (pick the best B tokens, not the
  * best fraction); re-expresses the reference's scored-filter
  * transform family (src/pipeline/transformation/config_transformer
  * .py:204-350 filter verbs) with a global-order constraint those
  * verbs cannot state.
  *
  * Why this shape at 100 TB: a naive windowed cumulative sum orders
  * the WHOLE corpus in one task. Here the global order is recovered
  * with the same two-level trick as [[Packing.packSequences]] —
  * deterministic ARITHMETIC buckets over the quality value (6-dp
  * scores land in [0,1], so bucket = floor((1-q)·B) needs no range
  * sampling), a within-bucket window, and a driver-side exclusive
  * prefix over the buckets-sized totals table. Because bucket order
  * IS quality order, any bucket whose offset already exceeds the
  * budget is dropped BEFORE the window sort: with a budget that keeps
  * 1% of a 100 TB corpus, 99% of it is never sorted — selection cost
  * tracks the kept prefix plus one aggregation pass, not the corpus.
  */
object Selection {

  /** Docs selected greedily by quality until `budget` tokens are
    * packed: (doc_id, n_tokens, quality_score, cum_tokens), where
    * cum_tokens is the running total in (quality DESC, id ASC) order
    * and every kept row has cum_tokens <= budget. Degenerate docs
    * (empty text / zero tokens — their ratio scores are NaN) are
    * excluded up front. A doc larger than the remaining budget is
    * skipped AND stops the scan (strict prefix semantics — the greedy
    * frontier, not best-fit; [[Packing.packBestFit]] is the
    * gap-filling form). */
  def selectByBudget(docs: DataFrame, budget: Long, buckets: Int = 4096,
                     idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame = {
    require(budget > 0, "budget must be positive")
    val scored = TextAnalysis.qualityScore(docs, textCol)
      .where(col("n_chars_calc") > 0 && col("n_tokens") > 0)
      .select(col(idCol), col("n_tokens").cast("long").as("n_tokens"),
        col("quality_score"))
      // quality lands in [0,1] by construction (weights sum to 1);
      // bucket 0 = best. least() guards the q=0.0 edge landing on B.
      .withColumn("bucket", least(
        floor((lit(1.0) - col("quality_score")) * buckets).cast("long"),
        lit(buckets - 1L)))
    // buckets-sized totals -> driver exclusive prefix; bucket order is
    // quality order, so the prefix IS each bucket's starting offset
    val totals = scored.groupBy("bucket").agg(sum("n_tokens").as("t"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
    val offsets = totals.scanLeft((Long.MinValue, 0L)) {
      case ((_, acc), (b, t)) => (b, acc + t)
    }.tail.zip(totals).map { case ((b, end), (_, t)) => (b, end - t) }
    val spark = docs.sparkSession
    import spark.implicits._
    // the scale lever: buckets starting past the budget can contain no
    // kept row — they never reach the window sort
    val live = offsets.filter(_._2 <= budget).toSeq.toDF("bucket", "bucket_offset")
    val w = Window.partitionBy("bucket")
      .orderBy(col("quality_score").desc, col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    scored.join(broadcast(live), "bucket")
      .withColumn("cum_tokens", col("bucket_offset") + sum("n_tokens").over(w))
      .where(col("cum_tokens") <= budget)
      .select(col(idCol), col("n_tokens"), col("quality_score"), col("cum_tokens"))
  }

  /** Max-min fair ("water-filling") token-budget allocation across
    * domains — the budget-split step BEFORE sampling: given each
    * domain's token count n_i and a total budget B, every domain gets
    * alloc_i = min(n_i, θ) with the water level θ set so the budget is
    * exactly spent (domains smaller than θ are fully satisfied, the
    * rest share the remainder equally — the allocation that maximises
    * the minimum per-domain share, the classic fairness objective).
    * If B ≥ Σn_i every domain is satisfied. Feed the output to
    * [[Splits.mixture]]/[[Splits.capPerDomain]] as per-domain targets.
    *
    * Everything after the one corpus-scan count aggregate runs on the
    * DOMAIN-sized relation: the classic sorted-prefix construction —
    * domain j (ascending by n) is satisfied iff P_{j−1} + (m−j+1)·n_j
    * ≤ B — as one domain-sized window plus a broadcast one-row
    * aggregate; θ and allocations round to 6dp, engine-exact.
    * Output (domain, n_tokens, satisfied, allocated). */
  def waterFill(docs: DataFrame, domainCol: String, budget: Double,
                textCol: String = "text"): DataFrame = {
    require(budget > 0, "budget must be positive")
    import graft.functions.wsTokenCount
    val sizes = docs
      .select(col(domainCol), wsTokenCount(col(textCol)).as("__t"))
      .groupBy(domainCol).agg(sum("__t").as("n_tokens"))
    // literal-partitioned like wAll: the relation is domain-sized and
    // the single total order is the point — see functions.boundedRank
    val w = Window.partitionBy(lit(1)).orderBy(col("n_tokens"), col(domainCol))
    val wAll = Window.partitionBy(lit(1))
    val marked = sizes
      .withColumn("__p", sum("n_tokens").over(w))
      .withColumn("__j", row_number().over(w).cast("long"))
      .withColumn("__m", count(lit(1)).over(wAll))
      .withColumn("satisfied",
        (col("__p") - col("n_tokens")) +
          (col("__m") - col("__j") + 1) * col("n_tokens") <= lit(budget))
    val agg = marked.agg(
      coalesce(sum(when(col("satisfied"), col("n_tokens"))), lit(0L)).as("__s"),
      sum(when(col("satisfied"), 1L).otherwise(0L)).as("__k"),
      count(lit(1)).as("__mm"))
    marked.crossJoin(broadcast(agg))
      .withColumn("allocated", round(
        when(col("satisfied"), col("n_tokens").cast("double"))
          .otherwise((lit(budget) - col("__s")) / (col("__mm") - col("__k"))),
        6))
      .select(col(domainCol), col("n_tokens"), col("satisfied"), col("allocated"))
  }

  /** DSIR-style importance resampling (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): pick raw-pool
    * docs whose hashed-n-gram feature distribution looks like a TARGET
    * domain, by sampling with weights p_target(doc)/p_raw(doc).
    *
    * Both distributions live on a `buckets`-sized hashed feature space
    * (hashing trick — no vocabulary shuffle, like
    * [[QualityModel]]'s features): each side contributes ONE
    * map-side-combined bucket-count aggregate, the add-α-smoothed
    * log-ratio table is buckets-sized and broadcast back onto the
    * token stream, and each doc's log-importance-weight is a
    * decimal-fixed associative sum of its positions' ratios. Sampling
    * is Gumbel top-k — adding Gumbel noise to log-weights and taking
    * the top `budget` draws exactly from the softmax of the weights —
    * with the noise derived from md5(seed:doc_id), so membership is a
    * pure function of content and seed: deterministic across runs,
    * partitionings, and engines. The top-k itself is a TakeOrdered
    * (per-partition heads merged on the driver), never a global sort;
    * the final rank window runs over the budget-sized result only.
    *
    * Output: (doc_id, n_feats, log_weight, gumbel_key, rk) for the
    * `budget` selected docs, rk in (gumbel_key DESC, doc_id) order.
    * Carries an eager executor-local barrier on the token-bucket
    * relation — see [[TextAnalysis]]'s class-level ''Materialization
    * barriers'' contract (construction executes; blocks are not
    * recomputable after executor loss). */
  def dsir(docs: DataFrame, isTarget: org.apache.spark.sql.Column,
           budget: Int, buckets: Int = 4096, alpha: Double = 1.0,
           seed: String = "dsir-v1", textCol: String = "text",
           idCol: String = "doc_id"): DataFrame = {
    // ONE tokenize: the ratio table and the pool weights both consume
    // the token-bucket relation, and as two differently-pruned lazy
    // branches they re-scanned + re-tokenized the corpus each (r18
    // ScanCountProbe: 2 FileScans — the tfidf/bigram defect class).
    // The checkpoint barrier is DOC-sized (one int array per doc),
    // never token-stream-sized.
    val arr = bucketArrays(docs.withColumn("__t", isTarget),
      buckets, textCol, idCol).localCheckpoint()
    val toks = arr.select(col(idCol), col("__t"), explode(col("barr")).as("b"))
    selectWeighted(toks.where(!col("__t")),
      ratioTable(toks, buckets, alpha), budget, seed, idCol)
  }

  /** Persist the trained DSIR bucket log-ratio table — train-once /
    * probe-forever for importance resampling: the target domain's
    * distribution is estimated ONCE (per target release), then any raw
    * pool — today's crawl, tomorrow's — is scored against the stored
    * `buckets`-row table with one broadcast join and no target-side
    * work at all. Single parquet table; its `_SUCCESS` marker
    * (committed last) is the completeness check. */
  def buildDsirModel(docs: DataFrame, isTarget: org.apache.spark.sql.Column,
                     dir: String, buckets: Int = 4096, alpha: Double = 1.0,
                     textCol: String = "text", idCol: String = "doc_id"): Unit = {
    val toks = tokenBuckets(docs.withColumn("__t", isTarget),
      buckets, textCol, idCol)
    ratioTable(toks, buckets, alpha)
      .coalesce(1).write.mode("overwrite").parquet(dir)
  }

  /** Probe phase of [[dsir]]: select from `pool` against a STORED
    * log-ratio model — identical selection given the same data and
    * seed (the spec asserts byte-equality with the in-flight form),
    * at pure probe cost: one pool tokenize + one broadcast join. */
  def dsirStored(pool: DataFrame, modelDir: String, budget: Int,
                 buckets: Int = 4096, seed: String = "dsir-v1",
                 textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val ratio = Ingestor.read(pool.sparkSession, modelDir)
    selectWeighted(tokenBuckets(pool, buckets, textCol, idCol),
      broadcast(ratio), budget, seed, idCol)
  }

  /** (idCol, [__t,] barr): per-doc ARRAYS of lowercase word tokens
    * bucketed by the md5 hashing trick — engine-stable, no vocabulary
    * anywhere. Array form so [[dsir]] can checkpoint ONE doc-sized
    * relation and explode it per consumer. */
  private def bucketArrays(docs: DataFrame, buckets: Int,
                           textCol: String, idCol: String): DataFrame = {
    import graft.functions._
    val keep = docs.columns.filter(_ == "__t").map(col).toSeq
    // fused tokenize+md5-bucket expression (r19): same md5/conv value
    // the oracle computes, without the interpreted higher-order
    // transform or the hex-string round-trip per token
    docs.select((col(idCol) +: keep :+
      graft.expressions.TokenExpressions.wordBuckets(col(textCol), buckets)
        .as("barr")): _*)
  }

  /** (idCol, [__t,] b): the exploded form of [[bucketArrays]] — values
    * identical to the original per-token expression by construction. */
  private def tokenBuckets(docs: DataFrame, buckets: Int,
                           textCol: String, idCol: String): DataFrame = {
    val arr = bucketArrays(docs, buckets, textCol, idCol)
    val keep = arr.columns.filter(_ == "__t").map(col).toSeq
    arr.select((col(idCol) +: keep :+ explode(col("barr")).as("b")): _*)
  }

  /** Add-α-smoothed per-bucket log(p_target/p_raw) from a two-sided
    * token stream. One buckets-sized aggregate carries both sides'
    * counts; side totals come from a window over that BUCKETS-SIZED
    * relation — a separate .agg would re-tokenize the corpus (Spark
    * recomputes a relation used twice in the DAG), while this window's
    * single partition holds <= `buckets` rows at any corpus size. */
  private def ratioTable(toks: DataFrame, buckets: Int,
                         alpha: Double): DataFrame = {
    import graft.functions._
    val feat = toks.groupBy("b").agg(
      sum(when(col("__t"), 1L).otherwise(0L)).as("ct"),
      sum(when(col("__t"), 0L).otherwise(1L)).as("cr"))
    val wAll = Window.partitionBy(lit(1))
    feat
      .withColumn("tt", sum("ct").over(wAll))
      .withColumn("tr", sum("cr").over(wAll))
      .withColumn("lr", dec(
        log((col("ct") + lit(alpha)) / (col("tt") + lit(alpha * buckets))) -
          log((col("cr") + lit(alpha)) / (col("tr") + lit(alpha * buckets)))))
      .select("b", "lr")
  }

  /** Per-doc decimal-fixed weight sums + Gumbel top-k selection. The
    * Gumbel key derives from md5(seed:id) — u in (0,1), key rounded to
    * 6dp BEFORE ranking so cross-engine double ulp drift can never
    * flip an order — making membership a pure function of (content,
    * seed). Top-k is a TakeOrdered merge; the rank window runs over
    * the budget-sized result only. */
  private def selectWeighted(poolToks: DataFrame, ratio: DataFrame,
                             budget: Int, seed: String,
                             idCol: String): DataFrame = {
    val weights = poolToks
      .join(broadcast(ratio), "b")
      .groupBy(idCol).agg(
        count(lit(1)).as("n_feats"),
        sum("lr").cast("double").as("lw"))
    val u = (conv(substring(md5(concat_ws(":", lit(seed),
      col(idCol).cast("string"))), 1, 8), 16, 10).cast("long") + lit(0.5)) /
      lit(4294967296.0)
    val keyed = weights
      .withColumn("gumbel_key", round(col("lw") - log(-log(u)), 6))
      .withColumn("log_weight", round(col("lw"), 6))
    val top = keyed.orderBy(col("gumbel_key").desc, col(idCol)).limit(budget)
    top.withColumn("rk",
        graft.functions.boundedRank(col("gumbel_key").desc, col(idCol)).cast("long"))
      .select(col(idCol), col("n_feats"), col("log_weight"),
        col("gumbel_key"), col("rk"))
  }
}
