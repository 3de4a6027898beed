package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods
import graft.sources.Ingestor

/** Declarative training-corpus preparation: the LLM-data counterpart of
  * [[ConfigTransform]] — one JSON spec compiles to one Catalyst plan
  * chaining quality scoring, language filtering, deduplication, and
  * deterministic splits. The same spec-to-plan philosophy as the
  * reference's config transformer (config_transformer.py:149), applied
  * to the corpus operators this engine adds.
  *
  * Spec shape (every stage optional, applied in this order):
  * {{{
  * { "quality":       { "min_score": 0.5 },
  *   "repetition":    { "max_top_bigram_frac": 0.18,
  *                      "max_dup_trigram_frac": 0.30,
  *                      "min_uniq_word_ratio": 0.2 },
  *   "lm_quality":    { "min_avg_logprob": -12.0 },
  *   "language":      { "keep": ["en"] },
  *   "decontaminate": { "benchmark_path": "/path/bench.parquet", "ngram": 8 },
  *   "dedup":         { "method": "exact" | "minhash", "threshold": 0.8 },
  *   "mixture":       { "domain_col": "source",
  *                      "weights": { "src0": 0.5 }, "budget": 100 },
  *   "redact":        { },
  *   "split":         { "fractions": { "train": 0.8, "val": 0.1 } },
  *   "pack":          { "budget": 2048 } }
  * }}}
  *
  * Redaction runs AFTER dedup on purpose: content hashes/shingles must
  * see the original text (two docs differing only in their PII are NOT
  * duplicates), and redacting the survivors touches fewer rows.
  *
  * Everything stays one declarative plan: the quality/language
  * enrichments fuse into projections over the scan, exact dedup is one
  * window shuffle, minhash dedup delegates to the LSH pipeline
  * ([[Dedup.dropNearDups]] — bucketed candidates, never all-pairs), and
  * the split is a hash projection. */
object TrainingPrep {

  def fromJson(json: String): DataFrame => DataFrame =
    apply(JsonMethods.parse(json))

  private def num(j: JValue, default: Double): Double = j match {
    case JDouble(v)  => v
    case JInt(v)     => v.toDouble
    case JDecimal(v) => v.toDouble
    case _           => default
  }

  def apply(spec: JValue): DataFrame => DataFrame = { docs =>
    var r = docs

    spec \ "quality" match {
      case q: JObject =>
        val min = num(q \ "min_score", 0.0)
        r = TextAnalysis.qualityScore(r).where(col("quality_score") >= min)
      case _ =>
    }

    spec \ "repetition" match {
      case rep: JObject =>
        // signals come from a mapPartitions pass keyed by doc_id, so they
        // rejoin the enriched rows by id (one hash join, no second scan
        // of anything but (id, text))
        val maxBigram = num(rep \ "max_top_bigram_frac", 0.18)
        val maxTrigram = num(rep \ "max_dup_trigram_frac", 0.30)
        val minUniq = num(rep \ "min_uniq_word_ratio", 0.2)
        val signals = TextAnalysis.repetitionSignals(r.select("doc_id", "text"))
          .select("doc_id", "top_bigram_frac", "dup_trigram_frac",
            "uniq_word_ratio", "n_words")
        r = r.join(signals, "doc_id")
          .where(col("top_bigram_frac") <= maxBigram &&
            col("dup_trigram_frac") <= maxTrigram &&
            (col("n_words") < 10 || col("uniq_word_ratio") >= minUniq))
          .drop("top_bigram_frac", "dup_trigram_frac", "uniq_word_ratio", "n_words")
      case _ =>
    }

    spec \ "lm_quality" match {
      case q: JObject =>
        // statistical-LM fluency gate: corpus-trained unigram logprob
        val minLp = num(q \ "min_avg_logprob", -12.0)
        val scores = TextAnalysis.unigramLogProb(r.select("doc_id", "text"))
          .select("doc_id", "avg_logprob")
        r = r.join(scores, "doc_id")
          .where(col("avg_logprob") >= minLp).drop("avg_logprob")
      case _ =>
    }

    spec \ "language" match {
      case l: JObject =>
        val keep = l \ "keep" match {
          case JArray(ls) => ls.collect { case JString(s) => s }
          case _          => Nil
        }
        if (keep.nonEmpty)
          r = TextAnalysis.languageId(r).where(col("lang_pred").isin(keep: _*))
      case _ =>
    }

    spec \ "decontaminate" match {
      case dc: JObject =>
        val path = dc \ "benchmark_path" match {
          case JString(p) => p
          case _ => throw new IllegalArgumentException(
            "decontaminate stage requires benchmark_path")
        }
        val n = num(dc \ "ngram", 8.0).toInt
        val bench = Ingestor.read(r.sparkSession, path)
        r = Contamination.decontaminate(r, bench, n)
      case _ =>
    }

    spec \ "dedup" match {
      case d: JObject =>
        val method = d \ "method" match {
          case JString(m) => m; case _ => "exact"
        }
        method match {
          case "exact" =>
            import org.apache.spark.sql.expressions.Window
            val w = Window.partitionBy(md5(col("text"))).orderBy("doc_id")
            r = r.withColumn("__rk", row_number().over(w))
              .where(col("__rk") === 1).drop("__rk")
          case "minhash" =>
            val threshold = d \ "threshold" match {
              case JDouble(t)  => t
              case JDecimal(t) => t.toDouble
              case _           => 0.8
            }
            // near-dup drop needs the raw text pipeline; losers are
            // computed on the ORIGINAL docs and anti-joined here, so the
            // enrichment columns added above survive. Spanning feed:
            // the loser set is provably identical to the full feed's
            // (see Dedup.dropNearDups) at O(Σ occupancy) candidates.
            val losers = Dedup.minhashNearDups(
                r.select("doc_id", "text"), threshold, spanning = true)
              .select(col("b_id").as("doc_id")).distinct()
            r = r.join(losers, Seq("doc_id"), "left_anti")
          case other =>
            throw new IllegalArgumentException(s"unknown dedup method: $other")
        }
      case _ =>
    }

    spec \ "mixture" match {
      case m: JObject =>
        val domainCol = m \ "domain_col" match {
          case JString(c) => c; case _ => "source"
        }
        val weights = m \ "weights" match {
          case JObject(ws) => ws.collect {
            case (dom, JDouble(wt))  => dom -> wt
            case (dom, JInt(wt))     => dom -> wt.toDouble
            case (dom, JDecimal(wt)) => dom -> wt.toDouble
          }
          case _ => Nil
        }
        if (weights.nonEmpty) {
          val budget = num(m \ "budget", 0.0)
          r = Splits.mixture(r, "doc_id", domainCol, weights, budget)
            .drop("n_domain", "rate")
        }
      case _ =>
    }

    spec \ "redact" match {
      case _: JObject =>
        r = TextAnalysis.redactPii(r)
          .drop("text").withColumnRenamed("redacted_text", "text")
      case _ =>
    }

    spec \ "split" match {
      case s: JObject =>
        val fractions = s \ "fractions" match {
          case JObject(fs) => fs.collect {
            case (label, JDouble(f))  => label -> f
            case (label, JDecimal(f)) => label -> f.toDouble
          }
          case _ => Nil
        }
        if (fractions.nonEmpty)
          r = Splits.byHash(r, "doc_id", fractions)
      case _ =>
    }

    spec \ "pack" match {
      case p: JObject =>
        val budget = num(p \ "budget", 2048.0).toLong
        // packing runs over the SURVIVING corpus in id order; assignments
        // rejoin the rows by id (broadcastable offsets inside, one hash
        // join here)
        val packed = Packing.packSequences(r.select("doc_id", "text"), budget)
          .withColumnRenamed("n_tokens", "pack_tokens") // quality adds n_tokens
        // Broadcast-roulette pin (r17 audit): packed is one row of
        // near-sequential longs per surviving doc — byte-identical in
        // shape to the shard export's doc-level assignment side that
        // OOM'd the r16 sf10 campaign. No cheap proven count exists
        // here (r is a filter chain; counting it would re-execute the
        // chain), so pin unconditionally — the flagship's last join
        // must never be the roulette one.
        r = r.join(packed.hint("merge"), "doc_id")
      case _ =>
    }

    r
  }
}
