package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

import graft.operators._
import graft.sources.Ingestor

/** In-harness invariant gate for the ROWS-ONLY queries — the entries the
  * DuckDB oracle cannot check (hash-seeded LSH, trained models, sketch
  * estimates). The driver's CORRECTNESS artifact only counts their rows,
  * so a rows-only query could return plausible garbage and stay green;
  * this main closes that hole: for EVERY rows-only entry it computes the
  * entry's key semantic invariant at the oracle SF, in-engine, and
  * writes a machine-readable pass/fail artifact next to CORRECTNESS.
  *
  *   sbt "runMain graft.Invariants /root/testdata/sf0.01 INVARIANTS.json"
  *
  * A COMPLETENESS GUARD makes the gate self-maintaining: the set of
  * checks below must exactly cover `queries.keySet -- oracleSql.keySet`,
  * so adding a rows-only query without an invariant fails the run
  * instead of silently weakening the gate. Checks run at the oracle SF
  * (a few hundred rows of ground truth), so driver-side collects here
  * are oracle-SF-sized by construction — this gate is a correctness
  * harness, not a scale path.
  *
  * Exit code: 0 iff every check passes. Each check either returns a
  * detail string (pass) or throws (fail — message recorded). */
object Invariants {

  private def docs(s: SparkSession, d: String): DataFrame =
    Ingestor.read(s, s"$d/documents.parquet")
  private def emb(s: SparkSession, d: String): DataFrame =
    Ingestor.read(s, s"$d/embeddings.parquet")
  private def q(s: SparkSession, d: String, name: String): DataFrame =
    SparkEntry.queries(name)(s, d)

  /** top-k id-set recall of `ann` against `exact` (both (q_id, n_id)). */
  private def recallVs(ann: DataFrame, exact: DataFrame): Double = {
    val hits = ann.select("q_id", "n_id")
      .join(exact.select("q_id", "n_id"), Seq("q_id", "n_id")).count()
    hits.toDouble / math.max(1L, exact.count())
  }

  private def requireRecall(ann: DataFrame, exact: DataFrame,
                            floor: Double, what: String): String = {
    val r = recallVs(ann, exact)
    require(r >= floor, f"$what recall $r%.3f below floor $floor%.2f")
    f"$what recall $r%.3f >= $floor%.2f"
  }

  /** whole-row set equality of two query results (oracle-SF-sized). */
  private def sameRows(a: DataFrame, b: DataFrame, what: String): String = {
    val ax = a.collect().map(_.toString).sorted.toSeq
    val bx = b.collect().map(_.toString).sorted.toSeq
    require(ax == bx, s"$what differ: ${ax.size} vs ${bx.size} rows " +
      s"(first mismatch: ${ax.zipAll(bx, "<none>", "<none>").find(p => p._1 != p._2)})")
    s"$what identical (${ax.size} rows)"
  }

  /** label predicate the filtered-kNN queries use. */
  private val filteredLabels = Seq(1, 3, 5)

  /** One check per rows-only query key (queries without an oracleSql
    * entry). Each lambda throws on violation; the returned string is
    * the recorded evidence. */
  def checks: Map[String, (SparkSession, String) => String] = Map(

    "dedup_minhash" -> ((s, d) => {
      // LSH candidate RECALL vs exhaustive ground truth: every pair
      // with exact 3-gram Jaccard >= 0.8 must be a candidate
      val sets = Dedup.shingleHashSets(docs(s, d))
      val allPairs = sets.as("a").crossJoin(sets.as("b"))
        .where(col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      val truth = Dedup.jaccardVerify(allPairs, sets, 0.8)
      val cands = q(s, d, "dedup_minhash")
      val missed = truth.join(cands, Seq("a_id", "b_id"), "left_anti").count()
      require(missed == 0, s"$missed true >=0.8-Jaccard pairs missing from candidates")
      s"all ${truth.count()} true pairs recalled by ${cands.count()} candidates"
    }),

    "dedup_pair_stats" -> ((s, d) => {
      // profile arithmetic vs occupancies recomputed from the banding
      val occ = Dedup.bandBuckets(Dedup.shingleHashSets(docs(s, d)))
        .groupBy("bucket").agg(count(lit(1)).as("g"))
        .select("g").collect().map(_.getLong(0))
      val prof = q(s, d, "dedup_pair_stats")
        .select("occupancy", "n_buckets", "est_pairs").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val hist = occ.groupBy(identity).view.mapValues(_.length.toLong).toMap
      require(prof.map(p => p._1 -> p._2).toMap == hist, "occupancy histogram mismatch")
      val estSum = prof.map(_._3).sum
      val truthSum = occ.map(g => g * (g - 1) / 2).sum
      require(estSum == truthSum, s"est_pairs $estSum != true emission volume $truthSum")
      s"histogram exact over ${occ.length} buckets, est_pairs == $truthSum"
    }),

    "dedup_minhash_capped" -> ((s, d) => {
      // drop-ledger arithmetic vs recomputed occupancies, and the
      // capped report is a subset of the full verified report (equal
      // when the cap doesn't bind — the oracle-SF case)
      val capped = q(s, d, "dedup_minhash_capped").localCheckpoint()
      val st = Dedup.lastPairEmissionStats
      val occ = Dedup.bandBuckets(Dedup.shingleHashSets(docs(s, d)))
        .groupBy("bucket").agg(count(lit(1)).as("g"))
        .select("g").collect().map(_.getLong(0))
      val truthTotal = occ.map(g => g * (g - 1) / 2).sum
      require(st.candidatePairs + st.droppedPairs == truthTotal,
        s"ledger emitted ${st.candidatePairs} + dropped ${st.droppedPairs} " +
          s"!= true emission volume $truthTotal")
      require(st.cappedBuckets <= st.buckets,
        s"capped ${st.cappedBuckets} > buckets ${st.buckets}")
      val full = q(s, d, "dedup_jaccard")
      val extra = capped
        .join(full, Seq("a_id", "b_id", "jaccard"), "left_anti").count()
      require(extra == 0, s"$extra capped pairs absent from the full report")
      if (st.droppedPairs == 0)
        sameRows(capped, full, "capped (cap unbound) vs full report") +
          s"; ledger exact over ${st.buckets} buckets"
      else
        s"${capped.count()} capped pairs all in full report; ledger exact " +
          s"(${st.droppedPairs} dropped over ${st.cappedBuckets} capped buckets)"
    }),

    "dedup_simhash" -> ((s, d) => {
      // every reported pair within maxHamming of RECOMPUTED fingerprints,
      // and every identical-text pair reported (hamming 0 is never missed)
      val fp = Dedup.simhashed(docs(s, d))
      val pairs = q(s, d, "dedup_simhash")
      val bad = pairs.join(fp.select(col("doc_id").as("a_id"), col("simhash").as("ha")), "a_id")
        .join(fp.select(col("doc_id").as("b_id"), col("simhash").as("hb")), "b_id")
        .where(graft.functions.hamming64(col("ha"), col("hb")) > 3).count()
      require(bad == 0, s"$bad reported pairs exceed the hamming radius on recompute")
      val dups = docs(s, d).as("a").join(docs(s, d).as("b"),
          col("a.text") === col("b.text") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      val missed = dups.join(pairs, Seq("a_id", "b_id"), "left_anti").count()
      require(missed == 0, s"$missed identical-text pairs missing")
      s"${pairs.count()} pairs all within radius; all ${dups.count()} exact dups recalled"
    }),

    "dedup_embedding_lsh" -> ((s, d) => {
      // the oracle-SF certificate the verdicted design rests on: the
      // cell feed's verified pairs EQUAL the exact all-pairs feed's
      val lsh = q(s, d, "dedup_embedding_lsh").select("a_id", "b_id")
      val exact = q(s, d, "dedup_embedding").select("a_id", "b_id")
      sameRows(lsh, exact, "cell-feed vs exact near-dup pair sets")
    }),

    "emb_pair_stats" -> ((s, d) => {
      // profile arithmetic vs cell occupancies recomputed from the same
      // deterministic train+assign pass, plus the membership identity:
      // every vector lands in exactly `assign` (= 2) cells
      val occ = Dedup.embeddingCells(emb(s, d))
        .groupBy("cell").agg(count(lit(1)).as("g"))
        .select("g").collect().map(_.getLong(0))
      val prof = q(s, d, "emb_pair_stats")
        .select("occupancy", "n_buckets", "est_pairs").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val hist = occ.groupBy(identity).view.mapValues(_.length.toLong).toMap
      require(prof.map(p => p._1 -> p._2).toMap == hist,
        "cell occupancy histogram mismatch")
      val estSum = prof.map(_._3).sum
      val truthSum = occ.map(g => g * (g - 1) / 2).sum
      require(estSum == truthSum, s"est_pairs $estSum != true emission volume $truthSum")
      val members = occ.sum
      val n = emb(s, d).count()
      require(members == 2 * n, s"memberships $members != assign*N ${2 * n}")
      s"histogram exact over ${occ.length} cells, est_pairs == $truthSum, " +
        s"$members memberships == 2x$n vectors"
    }),

    "dedup_embedding_capped" -> ((s, d) => {
      // drop-ledger arithmetic vs recomputed cell occupancies, and the
      // capped report is a subset of the full cell report (equal when
      // the cap doesn't bind)
      val capped = q(s, d, "dedup_embedding_capped").localCheckpoint()
      val st = Dedup.lastCellPairEmissionStats
      val occ = Dedup.embeddingCells(emb(s, d))
        .groupBy("cell").agg(count(lit(1)).as("g"))
        .select("g").collect().map(_.getLong(0))
      val truthTotal = occ.map(g => g * (g - 1) / 2).sum
      require(st.candidatePairs + st.droppedPairs == truthTotal,
        s"ledger emitted ${st.candidatePairs} + dropped ${st.droppedPairs} " +
          s"!= true emission volume $truthTotal")
      require(st.cappedBuckets <= st.buckets,
        s"capped ${st.cappedBuckets} > cells ${st.buckets}")
      val full = q(s, d, "dedup_embedding_lsh")
      val extra = capped
        .join(full, Seq("a_id", "b_id", "cosine"), "left_anti").count()
      require(extra == 0, s"$extra capped pairs absent from the full report")
      if (st.droppedPairs == 0)
        sameRows(capped, full, "capped (cap unbound) vs full report") +
          s"; ledger exact over ${st.buckets} cells"
      else
        s"${capped.count()} capped pairs all in full report; ledger exact " +
          s"(${st.droppedPairs} dropped over ${st.cappedBuckets} capped cells)"
    }),

    "emb_clusters_lsh" -> ((s, d) =>
      sameRows(q(s, d, "emb_clusters_lsh"), q(s, d, "emb_clusters"),
        "cell-feed vs exact closure labels")),

    "knn_lsh" -> ((s, d) =>
      requireRecall(q(s, d, "knn_lsh"), q(s, d, "knn_brute"), 0.3, "LSH")),

    "knn_ivf" -> ((s, d) =>
      // floor 0.6: measured 0.68 at nprobe=6 (deterministic seed rows,
      // so the oracle-SF recall is stable run-to-run)
      requireRecall(q(s, d, "knn_ivf"), q(s, d, "knn_brute"), 0.6, "IVF")),

    "knn_ivfpq" -> ((s, d) =>
      requireRecall(q(s, d, "knn_ivfpq"), q(s, d, "knn_brute"), 0.4, "IVF-PQ")),

    "knn_ivfpq_probe" -> ((s, d) =>
      // stored-index probe agrees with the in-flight path exactly
      sameRows(q(s, d, "knn_ivfpq_probe"), q(s, d, "knn_ivfpq"),
        "stored-index probe vs in-flight IVF-PQ results")),

    "knn_ivf_filtered" -> ((s, d) => {
      val res = q(s, d, "knn_ivf_filtered")
      val bad = res.join(emb(s, d).select(col("vec_id").as("n_id"), col("label")), "n_id")
        .where(!col("label").isin(filteredLabels: _*)).count()
      require(bad == 0, s"$bad neighbours violate the label predicate")
      // floor 0.75: measured 0.92 at the selectivity-scaled nprobe=12
      // (the label filter keeps ~3/8 of each probed cell, so the query
      // doubles the unfiltered probe budget — the standard filtered-ANN
      // knob)
      requireRecall(res, q(s, d, "knn_filtered"), 0.75, "filtered IVF") +
        "; eligibility total"
    }),

    "knn_ivfpq_probe_filtered" -> ((s, d) => {
      val res = q(s, d, "knn_ivfpq_probe_filtered")
      val bad = res.join(emb(s, d).select(col("vec_id").as("n_id"), col("label")), "n_id")
        .where(!col("label").isin(filteredLabels: _*)).count()
      require(bad == 0, s"$bad neighbours violate the label predicate")
      // floor 0.6: measured 0.71 at the query's nprobe=8 (PQ-coded
      // distances cost some recall vs the float IVF form's 0.92)
      requireRecall(res, q(s, d, "knn_filtered"), 0.6, "filtered stored-index") +
        "; eligibility total"
    }),

    "knn_index_extend" -> ((s, d) => {
      // extension searchability: increment vectors (%10==0) appear as
      // neighbours, and results match the compacted index bit-for-bit
      val ext = q(s, d, "knn_index_extend")
      val incHits = ext.where(col("n_id") % 10 === 0 && col("n_id") >= 10).count()
      require(incHits > 0, "no increment vector surfaced as a neighbour")
      sameRows(ext, q(s, d, "knn_index_compact"),
        "extended vs compacted index results") + s"; $incHits increment hits"
    }),

    "knn_index_compact" -> ((s, d) =>
      sameRows(q(s, d, "knn_index_compact"), q(s, d, "knn_index_extend"),
        "compacted vs extended index results")),

    "knn_quantized" -> ((s, d) => {
      // survivors carry EXACT re-ranked similarities: wherever the
      // quantized result and brute agree on (q, n), the cosines agree
      val qk = q(s, d, "knn_quantized")
      val brute = q(s, d, "knn_brute")
      val joined = qk.select(col("q_id"), col("n_id"), col("cos_sim").as("cq"))
        .join(brute.select(col("q_id"), col("n_id"), col("cos_sim").as("cb")),
          Seq("q_id", "n_id"))
      val drift = joined.where(abs(col("cq") - col("cb")) > 1e-9).count()
      require(drift == 0, s"$drift survivors re-ranked with non-exact similarity")
      requireRecall(qk, brute, 0.4, "int8-scored") + "; survivor sims exact"
    }),

    "knn_mmr" -> ((s, d) => {
      // per query: k distinct results, and the FIRST pick is the pure
      // relevance argmax (greedy MMR's step-1 invariant at any lambda)
      val mmr = q(s, d, "knn_mmr")
      val brute = q(s, d, "knn_brute")
      val sizes = mmr.groupBy("q_id")
        .agg(count(lit(1)).as("n"), countDistinct(col("n_id")).as("nd"))
        .where(col("n") =!= col("nd")).count()
      require(sizes == 0, "duplicate neighbour inside an MMR result list")
      val first = mmr.where(col("rank") === 1).select("q_id", "n_id")
      val bruteFirst = brute.where(col("rank") === 1).select("q_id", "n_id")
      sameRows(first, bruteFirst, "MMR first picks vs brute rank-1")
    }),

    "emb_quantize_audit" -> ((s, d) => {
      // every row respects the constructive scale/2 error bound
      val bad = q(s, d, "emb_quantize_audit")
        .where(col("max_abs_err") > col("err_bound") + 1e-6).count()
      require(bad == 0, s"$bad rows exceed the constructive quantization bound")
      "all rows within scale/2 bound"
    }),

    "emb_pca" -> ((s, d) => {
      // components orthonormal; projection preserves the corpus
      val e = emb(s, d)
      val model = Pca.fit(e, k = 8)
      val comps = model.components
      for (i <- comps.indices; j <- i until comps.length) {
        val dot = comps(i).zip(comps(j)).map { case (a, b) => a * b }.sum
        val expect = if (i == j) 1.0 else 0.0
        require(math.abs(dot - expect) < 1e-6,
          f"component dot($i,$j) = $dot%.8f not ${expect}")
      }
      val n = q(s, d, "emb_pca").count()
      require(n == e.count(), s"projection dropped rows: $n vs ${e.count()}")
      s"${comps.length} components orthonormal to 1e-6; $n rows projected"
    }),

    "emb_triplets_lsh" -> ((s, d) => {
      // recompute both cosines from the raw embeddings: emitted
      // pos_cos/neg_cos must be the exact 6-dp values, on the right
      // sides of the threshold, with gap = pos - neg
      val t = q(s, d, "emb_triplets_lsh")
      val e = Similarity.prepared(emb(s, d))
      def side(idc: String, cosc: String) = e.select(
        col("vec_id").as(idc), col("v").as(s"v_$idc"), col("norm").as(s"n_$idc"))
      val joined = t
        .join(side("anchor_id", "a"), "anchor_id")
        .join(side("pos_id", "p"), "pos_id")
        .join(side("neg_id", "n"), "neg_id")
        .withColumn("pc", round(graft.functions.cosineWithNorms(
          graft.functions.dotProduct(col("v_anchor_id"), col("v_pos_id")),
          col("n_anchor_id"), col("n_pos_id")), 6))
        .withColumn("nc", round(graft.functions.cosineWithNorms(
          graft.functions.dotProduct(col("v_anchor_id"), col("v_neg_id")),
          col("n_anchor_id"), col("n_neg_id")), 6))
      val bad = joined.where(
        abs(col("pc") - col("pos_cos")) > 1e-9 or
        abs(col("nc") - col("neg_cos")) > 1e-9 or
        col("pos_cos") < 0.45 or col("neg_cos") >= 0.45 or
        abs(col("gap") - round(col("pos_cos") - col("neg_cos"), 6)) > 1e-9).count()
      require(bad == 0, s"$bad triplets fail cosine recompute / threshold / gap")
      s"${t.count()} triplets verified against raw embeddings"
    }),

    "q_approx_sketch" -> ((s, d) => {
      // HLL estimates within 5% of exact distinct counts (rsd 0.01)
      val approx = q(s, d, "q_approx_sketch")
      val exact = Ingestor.read(s, s"$d/lineitem.parquet")
        .groupBy("l_returnflag")
        .agg(countDistinct(col("l_orderkey")).as("nd_ok"),
          countDistinct(col("l_partkey")).as("nd_pk"))
      val bad = approx.join(exact, "l_returnflag")
        .where(abs(col("approx_nd_l_orderkey") - col("nd_ok")) > col("nd_ok") * 0.05 or
               abs(col("approx_nd_l_partkey") - col("nd_pk")) > col("nd_pk") * 0.05)
        .count()
      require(bad == 0, s"$bad flags with HLL estimate off by >5%")
      "HLL distinct estimates within 5% of exact per flag"
    }),

    "corpus_overlap_sketch" -> ((s, d) => {
      // sketch overlap within 5% of the EXACT md5-join overlap
      val all = docs(s, d)
      val oldSnap = all.where(col("doc_id") % 5 =!= 4).select(md5(col("text")).as("k"))
      val newSnap = all.where(col("doc_id") % 5 =!= 0)
        .withColumn("text", when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" [v2]"))).otherwise(col("text")))
        .select(md5(col("text")).as("k"))
      val nOld = oldSnap.distinct().count().toDouble
      val nNew = newSnap.distinct().count().toDouble
      val nInter = oldSnap.distinct().join(newSnap.distinct(), "k").count().toDouble
      val r = q(s, d, "corpus_overlap_sketch").collect().head
      def num(name: String): Double = r.getAs[Number](name).doubleValue
      def ok(est: Double, exact: Double) = math.abs(est - exact) <= exact * 0.05 + 1
      require(ok(num("n_old"), nOld), s"n_old ${num("n_old")} vs $nOld")
      require(ok(num("n_new"), nNew), s"n_new ${num("n_new")} vs $nNew")
      require(ok(num("n_intersect"), nInter), s"n_intersect ${num("n_intersect")} vs $nInter")
      f"sketch sizes within 5%% of exact ($nOld%.0f/$nNew%.0f/$nInter%.0f)"
    }),

    "seq_pack_bestfit" -> ((s, d) => {
      // every doc packed exactly once; no bin over budget; bin count
      // within the FFD guarantee band of the lower bound
      val budget = 256L
      val packed = q(s, d, "seq_pack_bestfit")
      require(packed.count() == docs(s, d).count(), "doc lost or duplicated in packing")
      require(packed.groupBy("doc_id").count().where(col("count") > 1).count() == 0,
        "a doc appears in two bins")
      val over = packed.groupBy("bin_id").agg(sum("pack_len").as("used"))
        .where(col("used") > budget).count()
      require(over == 0, s"$over bins exceed the budget")
      val total = packed.agg(sum("pack_len")).head().getLong(0)
      val bins = packed.select("bin_id").distinct().count()
      val lower = (total + budget - 1) / budget
      require(bins <= math.ceil(lower * 11.0 / 9.0) + 1,
        s"$bins bins vs FFD bound over lower bound $lower")
      s"$bins bins, lower bound $lower, none over budget"
    }),

    "corpus_shards" -> ((s, d) => {
      // deterministic manifest: two runs byte-identical; per-shard
      // volumes within the window/budget contract
      val m1 = q(s, d, "corpus_shards")
      val bad = m1.where(col("n_windows") <= 0 or col("n_windows") > 64 or
        col("n_tokens") > col("n_windows") * 256).count()
      require(bad == 0, s"$bad shards violate the window/budget contract")
      sameRows(m1, q(s, d, "corpus_shards"), "re-exported manifests")
    }),

    "bpe_merges" -> ((s, d) => {
      // deterministic training; contiguous ranks; distinct pairs
      val m1 = q(s, d, "bpe_merges")
      val ranks = m1.select("rank").collect().map(_.getLong(0)).sorted.toSeq
      require(ranks == ranks.indices.map(i => ranks.head + i),
        "merge ranks not contiguous")
      require(m1.select("left", "right").distinct().count() == m1.count(),
        "duplicate merge pair")
      sameRows(m1, q(s, d, "bpe_merges"), "re-trained merge tables")
    }),

    "text_bpe" -> ((s, d) => {
      // base-symbol conservation: encoding never loses characters —
      // per doc, n_base_symbols equals the pre-tokenizer word-char
      // count recomputed from the raw text; tokens compress
      val st = q(s, d, "text_bpe")
      val expected = docs(s, d).select(col("doc_id"),
        aggregate(regexp_extract_all(col("text"),
            lit(graft.operators.TextAnalysis.bpeishPattern), lit(0)),
          lit(0L), (acc, w) => acc + length(w)).as("chars"))
      val bad = st.join(expected, "doc_id")
        .where(col("n_base_symbols") =!= col("chars") or
               col("n_bpe_tokens") > col("n_base_symbols")).count()
      require(bad == 0, s"$bad docs lose characters or anti-compress")
      "base symbols conserved for every doc; tokens <= symbols"
    }),

    "text_bpe_stored" -> ((s, d) =>
      sameRows(q(s, d, "text_bpe_stored"), q(s, d, "text_bpe"),
        "stored-merge encode vs fresh-trained encode")),

    "unigram_pieces" -> ((s, d) => {
      // a valid unigram LM: negative logprobs, sub-stochastic total
      // mass, piece_len consistent, ranks contiguous from 0
      val p = q(s, d, "unigram_pieces").collect()
      require(p.nonEmpty, "empty piece table")
      val ranks = p.map(_.getAs[Long]("rank")).sorted
      require(ranks.head == 0 && ranks.last == ranks.length - 1, "ranks not contiguous")
      require(p.forall(_.getAs[Double]("logprob") < 0), "non-negative piece logprob")
      require(p.forall(r => r.getAs[Long]("piece_len") == r.getAs[String]("piece").length),
        "piece_len mismatch")
      val mass = p.map(r => math.exp(r.getAs[Double]("logprob"))).sum
      require(mass <= 1.0 + 1e-3, s"probability mass $mass > 1")
      f"${p.length} pieces, mass $mass%.4f <= 1"
    }),

    "text_unigram_tok" -> ((s, d) => {
      // ML segmentation sanity per doc: pieces cover the characters
      // (n_pieces in [1, n_chars] when chars exist) and the Viterbi
      // path's logprob is strictly negative
      val st = q(s, d, "text_unigram_tok")
      val bad = st.where(
        (col("n_chars") > 0 and (col("n_pieces") < 1 or col("n_pieces") > col("n_chars"))) or
        (col("n_pieces") > 0 and col("logprob") >= 0)).count()
      require(bad == 0, s"$bad docs with inconsistent segmentation stats")
      s"${st.count()} docs segmented consistently"
    }),

    "text_quality_model" -> ((s, d) => {
      // held-out AUC against the heuristic labels the model was
      // trained to imitate (Mann-Whitney U over collected scores)
      val scores = q(s, d, "text_quality_model")
      val labels = TextAnalysis.qualityScore(docs(s, d))
        .select(col("doc_id"), (col("quality_score") >= 0.75).as("pos"))
      val rows = scores.join(labels, "doc_id")
        .select(col("model_quality"), col("pos")).collect()
        .map(r => (r.getDouble(0), r.getBoolean(1)))
      val bad = rows.count(r => r._1 < 0 || r._1 > 1)
      require(bad == 0, s"$bad scores outside [0,1]")
      val pos = rows.filter(_._2).map(_._1)
      val neg = rows.filterNot(_._2).map(_._1)
      require(pos.nonEmpty && neg.nonEmpty, "held-out split lost a class")
      val u = (for (p <- pos; n <- neg)
        yield if (p > n) 1.0 else if (p == n) 0.5 else 0.0).sum
      val auc = u / (pos.length.toDouble * neg.length)
      require(auc >= 0.75, f"held-out AUC $auc%.3f below 0.75")
      f"held-out AUC $auc%.3f over ${pos.length}+/${neg.length}-"
    }),

    "text_quality_stored" -> ((s, d) =>
      sameRows(q(s, d, "text_quality_stored"), q(s, d, "text_quality_model"),
        "stored-model scores vs fresh-trained scores")),

    "text_winnow" -> ((s, d) => {
      // winnowing is content-determined: identical texts carry
      // identical fingerprint sets; counts bounded by length
      val fp = TextAnalysis.winnowingFingerprints(docs(s, d))
        .select(col("doc_id"), col("winnow_fp"))
        .join(docs(s, d).select("doc_id", "text"), "doc_id")
      val groups = fp.groupBy(md5(col("text")))
        .agg(countDistinct(to_json(col("winnow_fp"))).as("variants"))
        .where(col("variants") > 1).count()
      require(groups == 0, s"$groups identical texts with differing fingerprints")
      val bad = q(s, d, "text_winnow")
        .join(docs(s, d).select(col("doc_id"), length(col("text")).as("len")), "doc_id")
        .where(col("len") >= 8 and
          (col("n_fingerprints") < 1 or col("n_fingerprints") > col("len"))).count()
      require(bad == 0, s"$bad docs with out-of-range fingerprint counts")
      "fingerprints content-determined and length-bounded"
    }),

    "text_tokenizer_audit" -> ((s, d) => {
      // per-language coverage arithmetic: fertility >= 1 (merges never
      // cross words), chars_per_token >= 1, fractions in [0,1], doc
      // counts totalling the corpus
      val a = q(s, d, "text_tokenizer_audit")
      val bad = a.where(
        (col("n_words") > 0 and col("fertility") < 1.0) or
        (col("n_tokens") > 0 and col("chars_per_token") < 1.0) or
        col("unmerged_frac") < 0 or col("unmerged_frac") > 1).count()
      require(bad == 0, s"$bad language rows with impossible ratios")
      val total = a.agg(sum("n_docs")).head().getLong(0)
      require(total == docs(s, d).count(), s"doc totals $total != corpus")
      s"ratios sane across ${a.count()} languages; $total docs accounted"
    }),

    "multimodal_dhash" -> ((s, d) => {
      // every planted replica pairs with its original (the plant:
      // id % 5 == 0, non-empty payload -> replica at id + 1e9)
      val media = Multimodal.withMedia(docs(s, d))
      val planted = media.where(col("doc_id") % 5 === 0 &&
          col("meta.n_bytes") > 0)
        .select(col("doc_id").as("a_id"),
          (col("doc_id") + 1000000000L).as("b_id"))
      val pairs = q(s, d, "multimodal_dhash")
      val missed = planted.join(pairs, Seq("a_id", "b_id"), "left_anti").count()
      require(missed == 0, s"$missed planted replica pairs missing")
      s"all ${planted.count()} planted replica pairs recalled"
    }),

    "multimodal_knn" -> ((s, d) => {
      // a planted replica is its original's nearest neighbour
      val res = q(s, d, "multimodal_knn")
      val media = Multimodal.withMedia(docs(s, d))
      val expect = media.where(col("doc_id") < 5 && col("doc_id") % 5 === 0 &&
          col("meta.n_bytes") > 0)
        .select(col("doc_id").as("q_id"),
          (col("doc_id") + 1000000000L).as("want"))
      val bad = expect.join(
          res.where(col("rank") === 1).select(col("q_id"), col("n_id")), "q_id")
        .where(col("n_id") =!= col("want")).count()
      require(bad == 0, s"$bad queries whose replica is not rank-1")
      s"replica rank-1 for all ${expect.count()} planted queries"
    }),

    "multimodal_screen" -> ((s, d) => {
      // planted corruption (every 7th payload) is flagged; untouched
      // payloads never flag empty/truncated
      val res = q(s, d, "multimodal_screen")
      val flagged = col("is_empty") or col("truncated") or col("low_entropy") or
        col("geometry_bad") or col("oversize") or col("format_unknown")
      val origBytes = Multimodal.withMedia(docs(s, d))
        .select(col("doc_id"), col("meta.n_bytes").as("orig_bytes"))
      val missedPlants = res.join(origBytes, "doc_id")
        .where(col("doc_id") % 7 === 0 and col("orig_bytes") > 0 and !flagged)
        .count()
      require(missedPlants == 0, s"$missedPlants planted corruptions unflagged")
      val falseEmpty = res.join(origBytes, "doc_id")
        .where(col("doc_id") % 7 =!= 0 and col("orig_bytes") > 0 and col("is_empty"))
        .count()
      require(falseEmpty == 0, s"$falseEmpty clean payloads flagged empty")
      "all planted corruptions flagged; no clean payload flagged empty"
    }))

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val outPath = if (args.length > 1) args(1) else "INVARIANTS.json"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    Sessions.tuning.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Sessions.tune(spark)

    // completeness guard: the checks must cover EXACTLY the rows-only
    // query set — a new rows-only entry without an invariant, or a
    // stale check for a removed/oracled entry, fails the gate itself
    val rowsOnly = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    val unchecked = rowsOnly -- checks.keySet
    val stale = checks.keySet -- rowsOnly
    require(unchecked.isEmpty && stale.isEmpty,
      s"invariant coverage drift — unchecked: ${unchecked.toSeq.sorted.mkString(",")}; " +
        s"stale: ${stale.toSeq.sorted.mkString(",")}")

    val results = checks.toSeq.sortBy(_._1).map { case (name, fn) =>
      val t0 = System.nanoTime()
      val (pass, detail) =
        try (true, fn(spark, sfDir))
        catch { case e: Throwable =>
          (false, Option(e.getMessage).getOrElse(e.getClass.getName)) }
      val ms = (System.nanoTime() - t0) / 1000000
      System.err.println(f"[invariants] ${if (pass) "PASS" else "FAIL"} $name%-28s ${ms}%6d ms  $detail")
      (name, pass, detail, ms)
    }
    def esc(s: String): String = s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    val json = results.map { case (n, p, det, ms) =>
      s""""${esc(n)}": {"pass": $p, "ms": $ms, "detail": "${esc(det)}"}"""
    }.mkString("{\n", ",\n", "\n}")
    Files.writeString(Paths.get(outPath), json)
    val failed = results.filterNot(_._2)
    System.err.println(s"[invariants] ${results.size - failed.size}/${results.size} passed -> $outPath")
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
