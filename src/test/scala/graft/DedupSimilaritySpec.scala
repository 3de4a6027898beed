package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Similarity, Splits}
import graft.sources.Ingestor

/** Property coverage for the non-oracled (rows-only) near-dup and ANN
  * paths: MinHash estimates track true Jaccard, LSH candidates recall
  * the true near-dup pairs, SimHash hamming is small for near-identical
  * docs, knnLsh recall vs knnBrute. */
class DedupSimilaritySpec extends SparkSpec {
  import spark.implicits._

  private val docsDir = sf("sf0.001")

  test("exact dedup collapses injected duplicates deterministically") {
    val docs = Seq((1L, "same text"), (2L, "same text"), (3L, "other")).toDF("doc_id", "text")
    val out = Dedup.exact(docs).orderBy("keep_id")
      .as[(Long, String, Long)].collect().toSeq
    assert(out.map(r => (r._1, r._3)) == Seq((1L, 2L), (3L, 1L)))
  }

  test("repeatedSpans flags shared boilerplate, exact span counts") {
    val boiler = (0 until 8).map(i => s"license$i").mkString(" ")
    val docs = Seq(
      // doc 1: 8 boilerplate tokens + 8 unique => 9 spans, 1 repeated
      (1L, boiler + " " + (0 until 8).map(i => s"a$i").mkString(" ")),
      (2L, boiler + " " + (0 until 8).map(i => s"b$i").mkString(" ")),
      (3L, (0 until 16).map(i => s"c$i").mkString(" ")), // all unique
      (4L, "too short")                                  // < 8 tokens
    ).toDF("doc_id", "text")
    val out = Dedup.repeatedSpans(docs, n = 8).orderBy("doc_id")
      .select("doc_id", "n_spans", "n_repeated", "has_repeats")
      .as[(Long, Long, Long, Boolean)].collect().toSeq
    assert(out == Seq(
      (1L, 9L, 1L, true),   // only the pure-boilerplate span repeats
      (2L, 9L, 1L, true),
      (3L, 9L, 0L, false),
      (4L, 0L, 0L, false)))
  }

  test("repeatedSpanMask keeps the globally-first occurrence, flags all others") {
    val boiler = (0 until 8).map(i => s"license$i").mkString(" ")
    val docs = Seq(
      (1L, boiler + " " + (0 until 8).map(i => s"a$i").mkString(" ")),
      (2L, boiler + " " + (0 until 8).map(i => s"b$i").mkString(" ")),
      (3L, boiler + " mid " + boiler) // in-doc repeat at pos 0 and 9
    ).toDF("doc_id", "text")
    val out = Dedup.repeatedSpanMask(docs, n = 8).orderBy("doc_id", "pos")
      .as[(Long, Long)].collect().toSeq
    // (1, 0) is the canonical copy and survives; every later occurrence
    // of the boilerplate span — cross-doc and in-doc — is masked
    assert(out == Seq((2L, 0L), (3L, 0L), (3L, 9L)))
  }

  test("minhash LSH candidates recall all high-jaccard pairs (ground truth)") {
    val docs = spark.read.parquet(s"$docsDir/documents.parquet")
    val shingled = Dedup.withShingles(docs)
    // ground truth: all pairs with jaccard >= 0.8 via all-pairs join
    val sa = shingled.select(col("doc_id").as("a_id"), col("sh").as("sh_a"))
    val sb = shingled.select(col("doc_id").as("b_id"), col("sh").as("sh_b"))
    val truth = sa.join(sb, col("a_id") < col("b_id"))
      .withColumn("j", size(array_intersect(col("sh_a"), col("sh_b"))) /
        size(array_union(col("sh_a"), col("sh_b"))))
      .where(col("j") >= 0.8)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(truth.nonEmpty, "test data should contain injected near-dups")
    val candidates = Dedup.minhashCandidates(docs)
      .as[(Long, Long)].collect().toSet
    assert(truth.subsetOf(candidates),
      s"LSH missed ${truth.diff(candidates)}")
    // and the full pipeline returns exactly the truth pairs
    val found = Dedup.minhashNearDups(docs, 0.8)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(found == truth)
  }

  test("dropNearDups keeps the lowest-id member of each duplicate group") {
    val docs = spark.read.parquet(s"$docsDir/documents.parquet")
    val pairs = Dedup.minhashNearDups(docs, 0.8)
      .select("a_id", "b_id").as[(Long, Long)].collect()
    assert(pairs.nonEmpty)
    val kept = Dedup.dropNearDups(docs, 0.8).select("doc_id").as[Long].collect().toSet
    pairs.foreach { case (a, b) =>
      assert(!kept.contains(b), s"b_id $b should be dropped")
    }
    assert(kept.size == docs.count() - pairs.map(_._2).toSet.size)
  }

  test("spanning feed: closure identical to the full in-bucket feed on real docs") {
    val docs = spark.read.parquet(s"$docsDir/documents.parquet")
    val full = Dedup.minhashNearDups(docs, 0.8)
    // fullFeedPairLimit = 0 forces the star/residual path even at spec
    // scale (the size dispatch would otherwise route this corpus to
    // the full feed and the test would compare full against itself)
    val sets = Dedup.shingleHashSets(docs)
    val span = Dedup.spanningVerifiedPairs(Dedup.bandBuckets(sets), sets,
      0.8, fullFeedPairLimit = 0)
    // every spanning-verified edge is a true pair from the full feed
    assert(span.join(full, Seq("a_id", "b_id"), "left_anti").isEmpty,
      "spanning emitted a pair the full feed does not contain")
    val stats = Dedup.lastSpanningStats
    assert(stats.starCandidates > 0 && stats.starVerified > 0)
    assert(!stats.dispatchedFull && stats.estFullPairs > 0)
    // and the component closures agree exactly — label by label
    def labels(pairs: org.apache.spark.sql.DataFrame) =
      Dedup.connectedComponents(pairs, docs).orderBy("id")
        .as[(Long, Long)].collect().toSeq
    assert(labels(span) == labels(full))
  }

  test("spanning size dispatch: small corpora take the pair-complete full feed") {
    // at spec scale the estimated emission volume is far under the
    // default limit, so the closure consumers' feed IS the full feed —
    // pair-complete output, one verify round (the sf0.1 regression fix)
    val docs = spark.read.parquet(s"$docsDir/documents.parquet")
    val full = Dedup.minhashNearDups(docs, 0.8)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val span = Dedup.minhashNearDups(docs, 0.8, spanning = true)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val st = Dedup.lastSpanningStats
    assert(st.dispatchedFull, "spec-scale corpus must dispatch to the full feed")
    assert(st.estFullPairs > 0 && st.estFullPairs <= 2000000L)
    assert(span == full, "dispatched feed must be the pair-complete full set")
  }

  test("spanning feed: residual fallback closes chains and LSH false-positive buckets") {
    // synthetic bucket tables drive spanningVerifiedPairs directly so the
    // star-FAILURE paths are exercised deterministically (real banding
    // rarely buckets dissimilar docs together at threshold 0.5):
    // CHAIN — one bucket {1,2,3}, J(1,2)=J(2,3)=0.6, J(1,3)=0.33: the
    // hub edge (1,3) fails, the residual pass must still find (2,3).
    val chainSets = Seq(
      (1L, Seq(10L, 11L, 12L, 13L)),
      (2L, Seq(11L, 12L, 13L, 14L)),
      (3L, Seq(12L, 13L, 14L, 15L))).toDF("doc_id", "shash")
    val chainBuckets = Seq((1L, 100L), (2L, 100L), (3L, 100L)).toDF("id", "bucket")
    val chainOut = Dedup.spanningVerifiedPairs(chainBuckets, chainSets, 0.5,
        fullFeedPairLimit = 0)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(chainOut == Set((1L, 2L), (2L, 3L)))
    // FALSE-POSITIVE HUB — bucket {1,2,3} where the hub matches NOTHING
    // but (2,3) are true dups: both star edges fail, residual pairs the
    // failures against their bucket-mates and finds (2,3).
    val fpSets = Seq(
      (1L, Seq(1L, 2L)),
      (2L, Seq(30L, 31L, 32L)),
      (3L, Seq(31L, 32L, 33L))).toDF("doc_id", "shash")
    val fpBuckets = Seq((1L, 200L), (2L, 200L), (3L, 200L)).toDF("id", "bucket")
    val fpOut = Dedup.spanningVerifiedPairs(fpBuckets, fpSets, 0.5,
        fullFeedPairLimit = 0)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(fpOut == Set((2L, 3L)))
    val st = Dedup.lastSpanningStats
    assert(st.residualCandidates > 0 && st.residualVerified == 1)
  }

  test("simhash: near-identical docs collide, unrelated docs don't") {
    val a = (1 to 60).map(i => s"tok$i").mkString(" ")
    val b = (1 to 60).map(i => if (i == 30) "CHANGED" else s"tok$i").mkString(" ")
    val c = (100 to 160).map(i => s"zzz$i").mkString(" ")
    val docs = Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "text")
    val pairs = Dedup.simhashNearDups(docs, maxHamming = 16)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)))
  }

  test("embedding LSH path: subset of brute force; high recall on true near-dups") {
    // real test vectors carry no high-cosine pairs, so LSH recall is only
    // meaningful in its design regime: inject true near-dups (cos ~0.999)
    val rnd = new scala.util.Random(7)
    def vec(): Array[Float] = Array.fill(64)(rnd.nextGaussian().toFloat)
    val bases = (0L until 50L).map(i => (i, vec()))
    val dups = bases.take(10).map { case (i, v) =>
      (i + 1000L, v.map(x => x + 0.02f * rnd.nextGaussian().toFloat))
    }
    val emb = (bases ++ dups).toDF("vec_id", "embedding")
    val truth = Dedup.embeddingNearDups(emb, 0.9, allPairs = true)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(truth.size >= 10, s"expected injected near-dup pairs, got $truth")
    val lsh = Dedup.embeddingNearDups(emb, 0.9, allPairs = false)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(truth))
    assert(lsh.size.toDouble / truth.size >= 0.7,
      s"LSH recall too low in near-dup regime: ${lsh.size}/${truth.size}")
  }

  test("bucketed embedding near-dups recall the exact path at the oracle SF") {
    // the deployable (IVF-cell) path vs the all-pairs ground truth, on
    // the SAME data + threshold the dedup_embedding oracle gate pins —
    // this is the recall certificate for the dedup_embedding_lsh /
    // emb_clusters_lsh rows-only entries
    val emb = spark.read.parquet(s"${sf("sf0.01")}/embeddings.parquet")
    val exact = Dedup.embeddingNearDups(emb, 0.45, allPairs = true)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(exact.size >= 10, s"expected pairs at the oracle threshold, got ${exact.size}")
    val bucketed = Dedup.embeddingNearDups(emb, 0.45, allPairs = false)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    // verification is exact cosine, so bucketed pairs can never be false
    assert(bucketed.subsetOf(exact))
    val recall = bucketed.size.toDouble / exact.size
    assert(recall >= 0.9, s"cell-candidate recall $recall (${bucketed.size}/${exact.size})")
  }

  test("embeddingIncrement matches the all-pairs incremental ground truth") {
    // derive expected survivors from the EXACT pair set (all-pairs at
    // the oracle threshold), applying the incremental drop semantics:
    // cross pair -> drop the incoming side; in-batch pair -> drop the
    // larger id. Agreement certifies cell-candidate recall is total on
    // this data — the premise the dedup_embedding_incr oracle rests on.
    val emb = spark.read.parquet(s"${sf("sf0.01")}/embeddings.parquet")
    val pairs = Dedup.embeddingNearDups(emb, 0.45, allPairs = true)
      .select("a_id", "b_id").as[(Long, Long)].collect()
    val split = 250L
    val expectedDropped = pairs.flatMap { case (a, b) =>
      // a < b always; classify by which sides of the split they fall on
      (a < split, b < split) match {
        case (true, false) => Seq(b)         // cross: drop the incoming
        case (false, false) => Seq(b)        // in-batch: drop the later
        case _ => Nil                        // both existing: no drop
      }
    }.toSet
    val incIds = emb.where(col("vec_id") >= split)
      .select("vec_id").as[Long].collect().toSet
    val survivors = Dedup.embeddingIncrement(
        emb.where(col("vec_id") < split), emb.where(col("vec_id") >= split),
        threshold = 0.45)
      .select("vec_id").as[Long].collect().toSet
    assert(survivors == incIds.diff(expectedDropped))
    assert(expectedDropped.nonEmpty, "test data should exercise drops")
  }

  test("bandBuckets tight-loop form == aggregate form, bit for bit") {
    // the stored-state compatibility contract: every durable bucket
    // table was built by (and is probed against) this banding, so the
    // loop rewrite must produce the IDENTICAL (id, bucket) set —
    // including absence of empty-shingle docs (a groupBy over zero
    // exploded rows emitted nothing)
    val docs = spark.read.parquet(s"${sf("sf0.01")}/documents.parquet")
    val sets = Dedup.shingleHashSets(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val fast = Dedup.bandBuckets(sets).as[(Long, Int)].collect().toSet
    val ref = Dedup.bandBucketsAgg(sets).as[(Long, Int)].collect().toSet
    assert(fast == ref, s"fast ${fast.size} vs ref ${ref.size} rows")
    assert(fast.nonEmpty)
    sets.unpersist(false)
    // empty/whitespace docs shingle to empty sets and must be ABSENT
    // from the bucket table in both forms
    val edge = Seq((1L, "alpha beta gamma delta epsilon zeta"), (2L, " "),
      (3L, "")).toDF("doc_id", "text")
    val eSets = Dedup.shingleHashSets(edge)
    val eFast = Dedup.bandBuckets(eSets).as[(Long, Int)].collect().toSet
    val eRef = Dedup.bandBucketsAgg(eSets).as[(Long, Int)].collect().toSet
    assert(eFast == eRef)
    assert(eFast.map(_._1) == Set(1L))
  }

  test("FirstMatchingBand: canonical-emission gate semantics") {
    import graft.expressions.VectorExpressions.firstMatchingBand
    def gate(a: Seq[Int], b: Seq[Int], ab: Int, bb: Int): Boolean =
      spark.range(1).select(firstMatchingBand(
        typedLit(a), typedLit(b), lit(ab), lit(bb)).as("g")).head().getBoolean(0)
    // first positional agreement (index 1) is the one canonical row
    assert(gate(Seq(1, 2, 3, 4), Seq(9, 2, 8, 7), 1, 1))
    // a LATER positional agreement is not canonical
    assert(gate(Seq(1, 2, 3, 4), Seq(1, 9, 3, 7), 0, 0))
    assert(!gate(Seq(1, 2, 3, 4), Seq(1, 9, 3, 7), 2, 2))
    // cross-band witness rows of a positionally-agreeing pair: never
    // canonical (the same-band row already emits the pair)
    assert(!gate(Seq(40, 41, 42, 43), Seq(43, 41, 45, 40), 0, 3))
    assert(!gate(Seq(40, 41, 42, 43), Seq(43, 41, 45, 40), 3, 0))
    // cross-band-only collision: lexicographically-first (i, j) wins
    assert(gate(Seq(20, 21, 22, 23), Seq(23, 24, 25, 26), 3, 0))
    assert(gate(Seq(30, 31, 32, 33), Seq(33, 30, 35, 36), 0, 1))
    assert(!gate(Seq(30, 31, 32, 33), Seq(33, 30, 35, 36), 3, 0))
    // null input -> null (dropped by a WHERE, never a crash)
    val n = spark.range(1).select(firstMatchingBand(
      lit(null).cast("array<int>"), typedLit(Seq(1)), lit(0), lit(0)).as("g"))
      .head()
    assert(n.isNullAt(0))
    // null ELEMENTS never match — the capped feed NULLs capped-out
    // bands; null==null is NOT an agreement, positionally or cross-band
    def gateN(a: Seq[Any], b: Seq[Any], ab: Int, bb: Int): Boolean =
      spark.range(1).select(firstMatchingBand(
        typedLit(a.map(Option(_).map(_.asInstanceOf[Int]))),
        typedLit(b.map(Option(_).map(_.asInstanceOf[Int]))),
        lit(ab), lit(bb)).as("g")).head().getBoolean(0)
    // first NON-NULL positional agreement decides (index 2, not the
    // null-null position 1)
    assert(gateN(Seq(1, null, 3, 4), Seq(9, null, 3, 7), 2, 2))
    assert(!gateN(Seq(1, null, 3, 4), Seq(9, null, 3, 7), 1, 1))
    // a value agreeing with a capped-out (null) slot is no agreement:
    // positional scan skips it, pair emits at the later live agreement
    assert(gateN(Seq(5, 6, 7, 8), Seq(null, 6, 7, 9), 1, 1))
    assert(!gateN(Seq(5, 6, 7, 8), Seq(null, 6, 7, 9), 0, 0))
    // cross-band arm skips null slots on either side
    assert(gateN(Seq(20, null, 22, 23), Seq(23, 24, null, 26), 3, 0))
  }

  test("firstBandPairs == distinct bucket self-join, exactly-once, planted cross-band collisions") {
    // crafted band arrays: positional agreements, cross-band-ONLY
    // collisions ((4,5) and (6,7) — the 2^-32 case the residual gate
    // exists for), a pair with BOTH kinds, duplicate values within one
    // doc's bands, and an unrelated doc
    val arr = Seq(
      (1L, Seq(1, 2, 3, 4)), (2L, Seq(9, 2, 8, 7)), (3L, Seq(1, 5, 6, 7)),
      (4L, Seq(20, 21, 22, 23)), (5L, Seq(23, 24, 25, 26)),
      (6L, Seq(30, 31, 32, 33)), (7L, Seq(33, 30, 35, 36)),
      (8L, Seq(40, 41, 42, 43)), (9L, Seq(43, 41, 45, 40)),
      (10L, Seq(50, 50, 51, 52)), (11L, Seq(50, 53, 54, 55)),
      (12L, Seq(90, 91, 92, 93))
    ).toDF("id", "barr")
    val got = Dedup.firstBandPairs(arr).as[(Long, Long)].collect().toSeq
    // exactly-once: no duplicate emission even for multi-band pairs
    assert(got.size == got.toSet.size)
    // reference: the distinct self-join over the exploded (id, bucket)
    // form — exactly what selfPairs(bandBuckets) computes
    val ex = arr.select(col("id"), posexplode(col("barr")).as(Seq("band", "bucket")))
    val ref = ex.as("a").join(ex.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .select(col("a.id").as("a_id"), col("b.id").as("b_id")).distinct()
      .as[(Long, Long)].collect().toSet
    assert(got.toSet == ref)
    // the cross-band-only pairs are genuinely in the truth set
    assert(ref.contains((4L, 5L)) && ref.contains((6L, 7L)))
    assert(!ref.exists(p => p._1 == 12L || p._2 == 12L))
  }

  test("minhashCandidates first-band feed == distinct self-join on a real corpus, no aggregate in plan") {
    val docs = spark.read.parquet(s"${sf("sf0.01")}/documents.parquet")
    val sets = Dedup.shingleHashSets(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val feed = Dedup.firstBandPairs(Dedup.bandBucketArrays(sets))
    // the point of the rewrite: the pair feed plans with NO aggregate —
    // no global DISTINCT shuffle over the re-found pairs
    assert(feed.queryExecution.optimizedPlan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }.isEmpty, "first-band feed must not plan a distinct/aggregate")
    // collect() on feed ITSELF so its own QueryExecution runs and the
    // adaptive plan is finalized before we inspect it below
    val got = feed.collect().toSeq.map(r => (r.getLong(0), r.getLong(1)))
    assert(got.size == got.toSet.size, "pair emitted more than once")
    // the bucket self-join must NEVER broadcast unless the caller
    // PROVED the side small — each side is corpus x bands rows, and on
    // a dup-heavy corpus the band arrays compress so well that AQE's
    // bytes estimate lands under the broadcast threshold while the
    // deserialized build side is driver-heap-sized (the r16 sf10
    // full-suite OOM). The default sideRows = -1 (no proof) pins
    // sort-merge at EVERY corpus size, including this small one where
    // AQE would otherwise legitimately broadcast — so this spec
    // exercises exactly the conversion the pin forbids.
    val nodes = executedNodes(feed.queryExecution.executedPlan)
    assert(!nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastHashJoinExec]),
      "pair self-join must not broadcast (no small side at scale)")
    assert(nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.SortMergeJoinExec]),
      "pair self-join must stay sort-merge")
    val buckets = Dedup.bandBuckets(sets)
    val ref = buckets.as("a").join(buckets.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .select(col("a.id").as("a_id"), col("b.id").as("b_id")).distinct()
      .as[(Long, Long)].collect().toSet
    assert(got.toSet == ref, s"got ${got.size} vs ref ${ref.size}")
    assert(ref.nonEmpty)
    sets.unpersist(false)
  }

  test("firstBandPairs under adversarial band counts: exactly-once, set-equal to the distinct form") {
    // the posexploded self-join's fanout is corpus x bands PER SIDE —
    // linear in bands, never quadratic — and the exactly-once gate must
    // hold at BOTH extremes of the banding space: one row per band
    // (bands == k: maximal fanout, every band a 1-hash bucket, maximal
    // cross-band collision surface) and one band total (bands == 1: the
    // gate's first-agreeing-band arithmetic degenerates to band 0).
    val docs = spark.read.parquet(s"${sf("sf0.001")}/documents.parquet")
    val sets = Dedup.shingleHashSets(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    for (bands <- Seq(1, 64, 128)) {
      val feed = Dedup.firstBandPairs(Dedup.bandBucketArrays(sets, k = 128, bands = bands))
      val got = feed.collect().toSeq.map(r => (r.getLong(0), r.getLong(1)))
      assert(got.size == got.toSet.size, s"duplicate emission at bands=$bands")
      val ex = Dedup.bandBuckets(sets, k = 128, bands = bands)
      val ref = ex.as("a").join(ex.as("b"),
          col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
        .select(col("a.id").as("a_id"), col("b.id").as("b_id")).distinct()
        .as[(Long, Long)].collect().toSet
      assert(got.toSet == ref,
        s"bands=$bands: got ${got.size} pairs vs ref ${ref.size}")
      // fanout sanity: the exploded side is docs x bands rows exactly
      assert(Dedup.bandBucketArrays(sets, k = 128, bands = bands)
        .select(explode(col("barr"))).count() == docs.count() * bands)
    }
    sets.unpersist(false)
  }

  test("firstBandPairs size dispatch: proven-tiny side frees AQE, output set unchanged") {
    // the sf0.1 lesson (r16): the unconditional merge pin bought sf10
    // OOM-safety but charged the small end two full sorts where a
    // few-MB broadcast was the right plan (dedup_jaccard 0.59->1.75 s).
    // The dispatch takes a caller-PROVEN side-row count: under the
    // arithmetic bound AQE may broadcast, above it (or unproven, -1)
    // the pin holds. Both arms must emit the identical pair set.
    val docs = spark.read.parquet(s"${sf("sf0.01")}/documents.parquet")
    val sets = Dedup.shingleHashSets(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val arrs = Dedup.bandBucketArrays(sets)
    val n = sets.count()
    val free = Dedup.firstBandPairs(arrs, sideRows = n * 32)
    val freeRows = free.collect().toSeq.map(r => (r.getLong(0), r.getLong(1)))
    // sf0.01 is 500 docs x 32 bands = 16k side rows — far under the
    // 512k dispatch bound, so the executed plan must show AQE took the
    // broadcast it was freed to take (the conversion the pin forbids)
    val freeNodes = executedNodes(free.queryExecution.executedPlan)
    assert(freeNodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastHashJoinExec]),
      "proven-tiny side should let AQE broadcast the bucket self-join")
    val pinned = Dedup.firstBandPairs(arrs)
      .collect().toSeq.map(r => (r.getLong(0), r.getLong(1)))
    assert(freeRows.toSet == pinned.toSet, "dispatch arms must agree")
    assert(freeRows.size == freeRows.toSet.size, "still exactly-once")
    // above the bound the pin must hold even when the count is proven
    val big = Dedup.firstBandPairs(arrs, sideRows = Dedup.pinFreeSideRowLimit + 1)
    big.collect()
    assert(!executedNodes(big.queryExecution.executedPlan).exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastHashJoinExec]),
      "above the bound the merge pin must hold")
    sets.unpersist(false)
  }

  test("embeddingCellForestEdges: forest closure == full cell-feed closure at any tiling") {
    // the closure contract: the block-pair union-find forests must label
    // every vector exactly as the materialised full cell feed does — at
    // the derived block size and at forced tilings of 1 and 3, on the
    // oracle-SF cells and on the planted ones; emitted edges must also
    // be true >=threshold pairs
    val emb = spark.read.parquet(s"${sf("sf0.01")}/embeddings.parquet")
    val e = Similarity.prepared(emb)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val centroids = Similarity.trainIvfCentroids(e, 0)
    Seq(Similarity.cellAssignments(e, centroids, 2).localCheckpoint() -> e,
      plantedCells(0L, 14)).foreach { case (cells, vecs) =>
      val fullPairs = cells.as("x").join(cells.as("y"),
          col("x.cell") === col("y.cell") && col("x.vec_id") < col("y.vec_id"))
        .select(col("x.vec_id").as("a_id"), col("y.vec_id").as("b_id"))
        .distinct()
      val fullVerified = Dedup.verifyCosine(fullPairs, vecs, vecs, 0.45)
        .select("a_id", "b_id").localCheckpoint()
      def labels(edges: org.apache.spark.sql.DataFrame) =
        Dedup.connectedComponents(edges, vecs, idCol = "vec_id")
          .as[(Long, Long)].collect().toSet
      val want = labels(fullVerified)
      assert(want.exists { case (id, c) => id != c }, "data should cluster")
      tilings.foreach { bs =>
        val forest = Dedup.embeddingCellForestEdges(cells, vecs, 0.45, blockSize = bs)
          .localCheckpoint()
        // every forest edge is a true verified pair (subset of full feed)
        assert(forest.join(fullVerified, Seq("a_id", "b_id"), "left_anti")
          .count() == 0, s"block size $bs: forest emitted a non-verified edge")
        assert(labels(forest) == want, s"block size $bs")
      }
    }
    e.unpersist(false)
  }

  test("merge-scan jaccard verify == built-in array_intersect form, bit for bit") {
    // verifyPairs' SortedIntersectCount rewrite must reproduce the
    // retained built-in form's (a_id, b_id, jaccard) rows exactly —
    // low threshold so hundreds of real pairs (all rounding paths)
    // survive into the comparison
    val docs = spark.read.parquet(s"${sf("sf0.01")}/documents.parquet")
    val sets = Dedup.shingleHashSets(docs)
    val cands = Dedup.minhashCandidates(docs).localCheckpoint()
    val fused = Dedup.jaccardVerify(cands, sets, 0.1)
      .collect().map(_.toString).sorted.toSeq
    val builtin = Dedup.verifyPairsBuiltin(cands, sets, sets, 0.1)
      .collect().map(_.toString).sorted.toSeq
    assert(fused.nonEmpty, "need real pairs to certify equality")
    assert(fused == builtin)
    // empty-vs-nonempty set: merge scan counts 0, jaccard 0, filtered
    import spark.implicits._
    val s2 = Seq((1L, Array(1L, 2L, 3L)), (2L, Array.empty[Long]))
      .toDF("doc_id", "shash")
    val p2 = Seq((1L, 2L)).toDF("a_id", "b_id")
    assert(Dedup.jaccardVerify(p2, s2, 0.0001).count() == 0)
  }

  test("sorted_intersect_count: null element yields NULL, nullable-element schema accepted") {
    import graft.expressions.VectorExpressions.sortedIntersectCount
    // parquet round-trips array<bigint> as containsNull=true — the
    // expression must accept that SCHEMA (stored near-dup state depends
    // on it) while an actual null ELEMENT must surface as SQL NULL,
    // never be read as 0 and silently miscount
    val ok = spark.range(1).select(sortedIntersectCount(
      array(lit(1L), lit(3L), lit(7L)).cast("array<bigint>"),
      array(lit(3L).cast("long"), lit(null).cast("long"), lit(9L))).as("c"))
    assert(ok.schema("c").dataType == org.apache.spark.sql.types.IntegerType)
    assert(ok.head().isNullAt(0), "null element must produce NULL")
    val good = spark.range(1).select(sortedIntersectCount(
      array(lit(1L), lit(3L), lit(7L)),
      array(lit(3L), lit(7L), lit(9L))).as("c")).head().getInt(0)
    assert(good == 2)
  }

  test("cell-assignment cache: one train per (corpus, k, assign) per application") {
    Similarity.clearCellAssignCache()
    val emb = spark.read.parquet(s"$docsDir/embeddings.parquet")
    val c1 = Similarity.cellAssignmentsCached(emb)
    // a SEPARATE read of the same corpus must hit (semanticHash +
    // sameResult over the analyzed plans) — this is what lets the pair
    // report, profile, cluster feed, and triplet miner share one train
    val c2 = Similarity.cellAssignmentsCached(
      spark.read.parquet(s"$docsDir/embeddings.parquet"))
    assert(c1 eq c2, "re-read of the same corpus must reuse the cached table")
    val c3 = Similarity.cellAssignmentsCached(emb, assign = 3)
    assert(!(c1 eq c3), "different assign must be a different cache key")
    Similarity.clearCellAssignCache()
    val c4 = Similarity.cellAssignmentsCached(emb)
    assert(!(c1 eq c4), "clear must force a retrain")
    assert(c4.collect().map(_.toString).sorted.toSeq ==
      c1.collect().map(_.toString).sorted.toSeq,
      "retrained assignment must be deterministic")
  }

  test("near-dup label cache: one closure per (corpus, threshold) per application") {
    Dedup.clearNearDupLabelCache()
    val docs = spark.read.parquet(s"$docsDir/documents.parquet")
    val l1 = Dedup.nearDupClustersCached(docs)
    // a SEPARATE read of the same corpus must hit (semanticHash +
    // sameResult over analyzed plans) — what lets clusters, the size
    // profile, canonical keep, and leakage-safe splits share one
    // shingle+banding+spanning+cc pass
    val l2 = Dedup.nearDupClustersCached(
      spark.read.parquet(s"$docsDir/documents.parquet"))
    assert(l1 eq l2, "re-read of the same corpus must reuse the cached labels")
    val l3 = Dedup.nearDupClustersCached(docs, threshold = 0.9)
    assert(!(l1 eq l3), "different threshold must be a different cache key")
    Dedup.clearNearDupLabelCache()
    val l4 = Dedup.nearDupClustersCached(docs)
    assert(!(l1 eq l4), "clear must force a rebuild")
    // labels are deterministic (hash-min component minima over a
    // deterministic verified pair set): rebuild == cached, and both ==
    // the uncached builder — the value contract of serving from cache
    val asSet = (df: org.apache.spark.sql.DataFrame) =>
      df.collect().map(_.toString).toSet
    assert(asSet(l4) == asSet(l1))
    assert(asSet(Dedup.nearDupClusters(docs)) == asSet(l1))
    // leakageSafeFromLabels over the cached closure == leakageSafe over
    // the pair feed that produced it
    val viaLabels = Splits.leakageSafeFromLabels(docs, l1, "doc_id")
      .select("doc_id", "cluster_id", "split")
    val viaPairs = Splits.leakageSafe(docs,
        Dedup.minhashNearDups(docs, threshold = 0.8, spanning = true), "doc_id")
      .select("doc_id", "cluster_id", "split")
    assert(asSet(viaLabels) == asSet(viaPairs))
  }

  test("cell block size: at least 1, never larger for wider vectors, exact at dim 1024") {
    // T = min(4096, per-core heap share / (16 × width)) bounds a
    // block-pair task's vector payload by the heap; the kernels' output
    // must not depend on it — a dim-1024 cell gives the same drops and
    // forest at the derived T as at T = 1
    val ts = Seq(1, 64, 1024, 1 << 16, 1 << 20, 1 << 26).toDF("w")
      .select(Dedup.cellBlockSize(col("w"))).as[Long].collect().toSeq
    assert(ts.forall(t => t >= 1 && t <= 4096), ts)
    assert(ts.zip(ts.tail).forall { case (a, b) => b <= a }, ts)
    assert(ts.last < 4096, s"a 2^26-wide vector must shrink the block: $ts")
    val dim = 1024
    val rnd = new scala.util.Random(7)
    def randVec() = Array.fill(dim)(rnd.nextGaussian())
    val base = randVec()
    val near = base.map(_ * 1.000001) // cosine ~1 with base: a true dup
    val vecsSeq = Seq(0L -> base, 1L -> near) ++ (2L until 6L).map(_ -> randVec())
    val vecs = vecsSeq.map { case (id, v) =>
      (id, v, math.sqrt(v.map(x => x * x).sum))
    }.toDF("vec_id", "v", "norm")
    val cells = vecsSeq.map { case (id, _) => (id, 0) }.toDF("vec_id", "cell")
    val derivedDrops = Dedup.embeddingSelfDroppedIds(cells, vecs, 0.45)
      .as[Long].collect().toSet
    val unitDrops = Dedup.embeddingSelfDroppedIds(cells, vecs, 0.45, blockSize = 1)
      .as[Long].collect().toSet
    assert(derivedDrops == Set(1L) && unitDrops == derivedDrops)
    def labels(edges: org.apache.spark.sql.DataFrame) =
      Dedup.connectedComponents(edges, vecs, idCol = "vec_id")
        .as[(Long, Long)].collect().toSet
    val derivedForest = labels(Dedup.embeddingCellForestEdges(cells, vecs, 0.45))
    assert(labels(Dedup.embeddingCellForestEdges(cells, vecs, 0.45, blockSize = 1)) ==
      derivedForest)
    assert(derivedForest.contains(1L -> 0L), "dup pair must cluster")
  }

  test("embeddingSelfDroppedIds: ordered scan == pair-feed drops at any tiling") {
    // the in-batch self side's early-exit witness scan must agree
    // bit-for-bit with the relational pair feed it replaced — same
    // cells, same 6-dp-rounded cosine decision — at the derived block
    // size and at forced tilings of 1 and 3, on the oracle-SF cells and
    // on the planted ones
    val emb = spark.read.parquet(s"${sf("sf0.01")}/embeddings.parquet")
    val inc = Similarity.prepared(emb)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val centroids = Similarity.trainIvfCentroids(inc, 0)
    Seq(Similarity.cellAssignments(inc, centroids, 2).localCheckpoint() -> inc,
      plantedCells(0L, 15)).foreach { case (cells, vecs) =>
      // reference: the r13 pair-feed form (emit all in-cell a<b pairs,
      // exact-cosine verify, drop the b side)
      val candSelf = cells.as("x").join(cells.as("y"),
          col("x.cell") === col("y.cell") && col("x.vec_id") < col("y.vec_id"))
        .select(col("x.vec_id").as("a_id"), col("y.vec_id").as("b_id"))
        .distinct()
      val viaPairs = Dedup.verifyCosine(candSelf, vecs, vecs, 0.45)
        .select(col("b_id")).as[Long].collect().toSet
      assert(viaPairs.nonEmpty, "test data should exercise drops")
      tilings.foreach { bs =>
        val viaScan = Dedup.embeddingSelfDroppedIds(cells, vecs, 0.45, blockSize = bs)
          .as[Long].collect().toSeq
        assert(viaScan.toSet == viaPairs,
          s"block size $bs: scan ${viaScan.size} vs pairs ${viaPairs.size}")
        assert(viaScan.size == viaPairs.size, s"block size $bs: an id dropped twice")
      }
    }
    inc.unpersist(false)
  }

  test("knnIvf recall vs knnBrute; candidates bounded by probed cells") {
    val emb = spark.read.parquet(s"$docsDir/embeddings.parquet")
    val brute = Similarity.knnBrute(emb, col("vec_id") < 5, k = 10)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.knnIvf(emb, col("vec_id") < 5, k = 10,
      centroidsK = 8, nprobe = 4)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val recall = ivf.intersect(brute).size.toDouble / brute.size
    assert(recall >= 0.5, s"IVF recall $recall vs brute") // nprobe/k = half the cells
    assert(ivf.size == brute.size) // still returns full top-k per query
  }

  test("filtered kNN: neighbours satisfy the predicate; IVF recall vs filtered brute") {
    val emb = spark.read.parquet(s"$docsDir/embeddings.parquet")
    val filter = col("label").isin(1, 3, 5)
    val eligible = emb.where(filter).select("vec_id").as[Long].collect().toSet
    val brute = Similarity.knnBrute(emb, col("vec_id") < 5, k = 10,
        corpusFilter = filter)
      .select("q_id", "n_id").as[(Long, Long)].collect()
    // eligibility: the pre-filter contract — nothing outside the
    // predicate is ever returned, and each query still gets a full
    // top-k (the eligible corpus is far larger than k)
    assert(brute.nonEmpty && brute.forall { case (_, n) => eligible(n) })
    assert(brute.length == 5 * 10)
    // exactness, derived independently of the corpusFilter code path:
    // rank the FULL corpus (k = corpus size), restrict to eligible ids,
    // re-take the top 10 per query under the same (sim desc, id) order
    val full = Similarity.knnBrute(emb, col("vec_id") < 5, k = 500)
      .select("q_id", "n_id", "cos_sim").as[(Long, Long, Double)].collect()
    val expected = full.filter { case (_, n, _) => eligible(n) }
      .groupBy(_._1).toSeq.flatMap { case (q, rows) =>
        rows.sortBy { case (_, n, s) => (-s, n) }.take(10).map(r => (q, r._2))
      }.toSet
    assert(brute.toSet == expected)
    // IVF form: same eligibility guarantee, recall bounded only by the
    // probed-cell fraction (same yardstick as the unfiltered IVF test)
    val ivf = Similarity.knnIvf(emb, col("vec_id") < 5, k = 10,
        centroidsK = 8, nprobe = 4, corpusFilter = filter)
      .select("q_id", "n_id").as[(Long, Long)].collect()
    assert(ivf.forall { case (_, n) => eligible(n) })
    assert(ivf.length == brute.length)
    val recall = ivf.toSet.intersect(brute.toSet).size.toDouble / brute.length
    assert(recall >= 0.5, s"filtered IVF recall $recall vs filtered brute")
  }

  test("knnLsh recall vs knnBrute on the same queries") {
    val emb = spark.read.parquet(s"$docsDir/embeddings.parquet")
    val brute = Similarity.knnBrute(emb, col("vec_id") < 5, k = 10)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.knnLsh(emb, col("vec_id") < 5, k = 10)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val recall = approx.intersect(brute).size.toDouble / brute.size
    assert(recall >= 0.3, s"ANN recall $recall vs brute") // 8 tables x 4 bits on 500 vecs
  }

  test("lshBuckets: seeded planes at width 64, hashed coordinates past it") {
    // width 64: exactly the buckets of the seeded Gaussian planes
    val rnd = new scala.util.Random(0x517eL)
    val planes = Array.fill(8, 4, 64)(rnd.nextGaussian())
    val vr = new scala.util.Random(3)
    val narrow = (0 until 50).map(i => (i.toLong, Seq.fill(64)(vr.nextGaussian())))
    val got = Similarity.lshBuckets(Similarity.prepared(narrow.toDF("vec_id", "embedding")),
        "v", tables = 8, bitsPerTable = 4)
      .select("vec_id", "table_idx", "bucket").as[(Long, Int, Int)].collect().toSet
    val want = narrow.flatMap { case (id, v) =>
      planes.indices.map { t =>
        (id, t, planes(t).indices.map { b =>
          var s = 0.0; var d = 0
          while (d < 64) { s += v(d) * planes(t)(b)(d); d += 1 }
          if (s >= 0) 1 << b else 0
        }.sum)
      }
    }.toSet
    assert(got == want)
    // width 96 with all signal in coordinates 64-95: head-only planes
    // would score every vector 0 and put all 200 in one bucket per table
    val cr = new scala.util.Random(5)
    val centers = Array.fill(10, 32)(cr.nextGaussian())
    val wide = (0 until 200).map { i =>
      (i.toLong, Seq.fill(64)(0.0) ++ centers(i % 10).map(_ + 0.2 * cr.nextGaussian()))
    }.toDF("vec_id", "embedding")
    val spread = Similarity.lshBuckets(Similarity.prepared(wide), "v",
        tables = 8, bitsPerTable = 4)
      .groupBy("table_idx").agg(countDistinct("bucket")).as[(Int, Long)].collect()
    assert(spread.length == 8 && spread.forall(_._2 > 1), spread.toSeq)
    val brute = Similarity.knnBrute(wide, col("vec_id") < 20, k = 10)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.knnLsh(wide, col("vec_id") < 20, k = 10)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val recall = approx.intersect(brute).size.toDouble / brute.size
    assert(recall >= 0.8, s"width-96 LSH recall $recall vs brute")
  }

  test("knnIvfPq: shipping codes costs ~no recall vs the vector-shipping IVF path") {
    val emb = spark.read.parquet(s"$docsDir/embeddings.parquet")
    val brute = Similarity.knnBrute(emb, col("vec_id") < 5, k = 10)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    // random test vectors have near-zero cosine margins — the hardest
    // regime for PQ ranking — so spend the knobs accuracy buys: finer
    // sub-codebooks + a deeper exact re-rank of the SAME candidate set.
    // The yardstick is knnIvf at IDENTICAL (centroidsK, nprobe): the two
    // paths see the same candidates, so any recall gap is pure
    // quantization loss (PQ can never out-recall the cells it probes).
    val pq = Similarity.knnIvfPq(emb, col("vec_id") < 5, k = 10,
      centroidsK = 8, nprobe = 4, m = 16, kSub = 32, refine = 10)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.knnIvf(emb, col("vec_id") < 5, k = 10,
      centroidsK = 8, nprobe = 4)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val recallPq = pq.intersect(brute).size.toDouble / brute.size
    val recallIvf = ivf.intersect(brute).size.toDouble / brute.size
    assert(pq.size == brute.size) // still a full top-k per query
    assert(recallPq >= 0.5, s"IVF-PQ recall $recallPq vs brute")
    assert(recallPq >= recallIvf - 0.05,
      s"quantization lost recall: IVF-PQ $recallPq vs IVF $recallIvf")
  }

  test("IVF-PQ index: build once to parquet, probe deterministically, recall holds") {
    val emb = spark.read.parquet(s"$docsDir/embeddings.parquet")
    val dir = java.nio.file.Files.createTempDirectory("graft_pq_index").toString
    Similarity.buildIvfPqIndex(emb, dir, centroidsK = 8, m = 16, kSub = 32)
    // the stored index is model-sized + one codes row per vector
    assert(spark.read.parquet(s"$dir/codes").count() == emb.count())
    assert(spark.read.parquet(s"$dir/centroids").count() == 8)
    assert(spark.read.parquet(s"$dir/codebooks").count() == 16 * 32)
    val s1 = Similarity.searchIvfPqIndex(emb, col("vec_id") < 5, dir,
      k = 10, nprobe = 4, refine = 10)
      .select("q_id", "n_id", "rank").as[(Long, Long, Long)].collect().toSet
    // a fixed index makes search fully deterministic
    val s2 = Similarity.searchIvfPqIndex(emb, col("vec_id") < 5, dir,
      k = 10, nprobe = 4, refine = 10)
      .select("q_id", "n_id", "rank").as[(Long, Long, Long)].collect().toSet
    assert(s1 == s2)
    val brute = Similarity.knnBrute(emb, col("vec_id") < 5, k = 10)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val recall = s1.map(t => (t._1, t._2)).intersect(brute).size.toDouble / brute.size
    assert(s1.size == brute.size)
    assert(recall >= 0.5, s"stored-index recall $recall vs brute")
  }

  test("stored-index probe agrees with in-flight knnIvfPq at identical params") {
    // knn_ivfpq_probe's contract: training is deterministic and shared
    // (trainIvfPq feeds both), so probing a freshly-built default index
    // must reproduce the in-flight search bit-for-bit
    val emb = spark.read.parquet(s"$docsDir/embeddings.parquet")
    val dir = java.nio.file.Files.createTempDirectory("graft_pq_agree").toString
    Similarity.buildIvfPqIndex(emb, dir)
    val probed = Similarity.searchIvfPqIndex(emb, col("vec_id") < 5, dir, k = 10)
      .select("q_id", "n_id", "rank", "cos_sim")
      .as[(Long, Long, Long, Double)].collect().toSet
    val inflight = Similarity.knnIvfPq(emb, col("vec_id") < 5, k = 10)
      .select("q_id", "n_id", "rank", "cos_sim")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(probed == inflight)
  }

  test("serving-shaped stored-index search agrees with the in-corpus probe") {
    val emb = spark.read.parquet(s"$docsDir/embeddings.parquet")
    val dir = java.nio.file.Files.createTempDirectory("graft_pq_serve").toString
    Similarity.buildIvfPqIndex(emb, dir)
    // queries = clones of corpus vectors 0..4 in a disjoint id space
    val offset = 1000000L
    val queries = emb.where(col("vec_id") < 5)
      .select((col("vec_id") + offset).as("vec_id"), col("embedding"))
    val served = Similarity.searchIvfPqIndexFrom(queries, emb, dir,
        k = 10, refine = 10)
      .select("q_id", "n_id", "rank", "cos_sim")
      .as[(Long, Long, Long, Double)].collect()
    // each clone query finds its corpus twin at rank 1 with cos 1.0
    // (the twin IS indexed; the query itself is not, so nothing is
    // self-excluded)
    val twins = served.filter(_._3 == 1L)
    assert(twins.length == 5 &&
      twins.forall { case (q, n, _, c) => n == q - offset && c == 1.0 })
    // the serving shape is a pure re-expression of the single-relation
    // API: running searchIvfPqIndex over the UNION relation with an
    // id-space predicate must reproduce it bit-for-bit (ids are
    // disjoint, so the self-exclusion filter never fires and both
    // paths see identical candidates, budgets, and re-ranks)
    val viaUnion = Similarity.searchIvfPqIndex(
        emb.select("vec_id", "embedding").unionByName(queries),
        col("vec_id") >= offset, dir,
        k = 10, refine = 10)
      .select("q_id", "n_id", "rank", "cos_sim")
      .as[(Long, Long, Long, Double)].collect()
    assert(served.toSet == viaUnion.toSet && served.length == viaUnion.length)
  }

  test("applySpanMask rebuilds the corpus with one canonical copy per repeated span") {
    val boiler = (0 until 8).map(i => s"license$i").mkString(" ")
    val docs = Seq(
      (1L, boiler + " " + (0 until 8).map(i => s"a$i").mkString(" ")),
      (2L, boiler + " " + (0 until 8).map(i => s"b$i").mkString(" ")),
      (3L, boiler + " mid " + boiler), // in-doc repeat at pos 0 and 9
      (4L, "too short")
    ).toDF("doc_id", "text")
    val out = Dedup.applySpanMask(docs, Dedup.repeatedSpanMask(docs, n = 8), n = 8)
      .orderBy("doc_id")
      .select("doc_id", "masked_text", "n_tokens", "n_dropped")
      .as[(Long, String, Long, Long)].collect().toSeq
    val aTail = (0 until 8).map(i => s"a$i").mkString(" ")
    val bTail = (0 until 8).map(i => s"b$i").mkString(" ")
    assert(out == Seq(
      // doc 1 holds the canonical copy — nothing dropped
      (1L, boiler + " " + aTail, 16L, 0L),
      // doc 2's boilerplate is a later occurrence — elided
      (2L, bTail, 16L, 8L),
      // doc 3: BOTH copies elide (doc 1 holds the global first) — only
      // the middle token survives
      (3L, "mid", 17L, 16L),
      (4L, "too short", 2L, 0L)))
  }

  test("degenerate inputs: no matching queries, empty corpus stats") {
    val emb = spark.read.parquet(s"$docsDir/embeddings.parquet")
    // isQuery selects nothing -> empty top-k, not an error
    assert(Similarity.knnIvfPq(emb, col("vec_id") < 0, k = 5,
      centroidsK = 4, m = 8, kSub = 8).isEmpty)
    // empty corpus -> empty span stats, not an error
    val none = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Dedup.repeatedSpans(none).isEmpty)
  }

  test("connected components close duplicate chains that pairs alone miss") {
    // chain 1-2-3 (one cluster), pair 5-6, singletons 4 and 7
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("a_id", "b_id")
    val nodes = (1L to 7L).toDF("doc_id")
    val out = Dedup.connectedComponents(pairs, nodes)
      .orderBy("id").as[(Long, Long)].collect().toSeq
    assert(out == Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L),
      (5L, 5L), (6L, 5L), (7L, 7L)))
  }

  test("connected components converge on a long path and a cycle") {
    // path 10->11->...->16 (diameter 6) plus cycle 20-21-22-20
    val path = (10L until 16L).map(i => (i, i + 1))
    val cyc = Seq((20L, 21L), (21L, 22L), (20L, 22L))
    val pairs = (path ++ cyc).toDF("a_id", "b_id")
    val nodes = ((10L to 16L) ++ (20L to 22L)).toDF("doc_id")
    val out = Dedup.connectedComponents(pairs, nodes)
      .as[(Long, Long)].collect().toMap
    assert((10L to 16L).forall(out(_) == 10L))
    assert((20L to 22L).forall(out(_) == 20L))
  }

  test("connected components match driver union-find on random graphs") {
    // independent oracle: plain union-find over the collected edge list,
    // labels = component min — exactly the operator's contract. Three
    // deterministic graph shapes: sparse random, clique-heavy (the
    // near-dup group shape the operator optimizes for), and edgeless.
    def unionFind(n: Long, edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map((0L until n).map(i => i -> i): _*)
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != r) { val nxt = parent(c); parent(c) = r; c = nxt }
        r
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      (0L until n).map(i => i -> find(i)).toMap
    }
    val rnd = new scala.util.Random(42)
    val shapes = Seq(
      Seq.fill(160)((rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
        .filter { case (a, b) => a != b },                       // sparse random
      (0L until 4L).flatMap(g => {
        val ids = (g * 20L until g * 20L + 20L)
        for (a <- ids; b <- ids if a < b) yield (a, b)           // 4 cliques of 20
      }),
      Seq.empty[(Long, Long)])                                   // edgeless
    shapes.zipWithIndex.foreach { case (es, i) =>
      val n = 80L
      val nodes = (0L until n).toDF("doc_id")
      val pairs =
        if (es.isEmpty) Seq.empty[(Long, Long)].toDF("a_id", "b_id")
        else es.toDF("a_id", "b_id")
      val got = Dedup.connectedComponents(pairs, nodes)
        .as[(Long, Long)].collect().toMap
      assert(got == unionFind(n, es), s"shape $i diverged from union-find")
      // hash-min: rounds tracks graph diameter (sparse random can be ~7+)
      assert(Dedup.lastCcRounds <= 12, s"shape $i took ${Dedup.lastCcRounds} rounds")
    }
  }

  test("contrastive triplets: positive is the best near-dup, negative the best non-dup") {
    // two tight near-dup pairs + a confusable-but-distinct neighbour
    // direction + one orthogonal loner
    val vecs = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),
      (1L, Array(0.995f, 0.1f, 0f, 0f)),   // near-dup of 0
      (2L, Array(0.8f, 0.6f, 0f, 0f)),     // confusable with 0/1, not a dup
      (3L, Array(0f, 0f, 1f, 0f)),
      (4L, Array(0f, 0.1f, 0.995f, 0f)),   // near-dup of 3
      (5L, Array(0f, 0f, 0f, 1f)))         // loner: no positive -> no triplet
      .toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDups(vecs, -1.0)
    val out = Similarity.contrastiveTriplets(pairs, threshold = 0.9)
      .select("anchor_id", "pos_id", "neg_id", "gap")
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1)
    // anchors 0,1 (pair), 3,4 (pair); 2 and 5 have no >=0.9 positive
    assert(out.map(_._1).toSeq == Seq(0L, 1L, 3L, 4L))
    val m = out.map(t => t._1 -> t).toMap
    assert(m(0L)._2 == 1L && m(0L)._3 == 2L) // pos = its dup, neg = the confusable
    assert(m(1L)._2 == 0L && m(1L)._3 == 2L)
    assert(m(3L)._2 == 4L)
    out.foreach(t => assert(t._4 > 0.0, s"gap must be positive: $t"))
    // the deployable cell-bucketed feed agrees with the exact feed on
    // real embeddings for the bulk of anchors (the IVF trainer needs a
    // real-sized corpus, so this leg runs on the sf0.001 table)
    val emb = spark.read.parquet(sf() + "/embeddings.parquet")
    val exact = Similarity.contrastiveTriplets(
        Dedup.embeddingNearDups(emb, -1.0), threshold = 0.45)
      .select("anchor_id", "pos_id").as[(Long, Long)].collect().toMap
    // the FUSED bucketed miner (score + argmax in one pass, nothing
    // quadratic materialised) must produce byte-identical triplets to
    // running the miner over the materialised cell-pair feed — the
    // fusion is a plan change, not a semantics change
    val materialized = Similarity.contrastiveTriplets(
        Dedup.embeddingNearDups(emb, -1.0, allPairs = false), threshold = 0.45)
      .orderBy("anchor_id").collect().toSeq
    val fused = Similarity.contrastiveTripletsBucketed(emb, threshold = 0.45)
      .orderBy("anchor_id").collect().toSeq
    assert(fused == materialized,
      s"fused miner diverged: ${fused.size} vs ${materialized.size} rows")
    // at this SF every cell fits under the candidate cap: the ledger
    // must report ZERO dropped candidates (the byte-identity above is
    // only meaningful if nothing was silently sampled away)
    assert(Similarity.lastTripletFeedStats.droppedCandidates == 0L)
    assert(Similarity.lastTripletFeedStats.memberRows > 0L)
    // with a tiny cap the sample engages: drops are RECORDED, coverage
    // holds (anchors are never capped), output stays well-formed
    val capped = Similarity.contrastiveTripletsBucketed(emb, threshold = 0.45,
      candidateCap = 2)
    val cappedRows = capped.collect()
    assert(Similarity.lastTripletFeedStats.droppedCandidates > 0L)
    cappedRows.foreach { r =>
      assert(r.getDouble(2) >= 0.45 && r.getDouble(4) < 0.45,
        s"capped triplet violates threshold sides: $r")
    }
    val lsh = fused.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(exact.nonEmpty && lsh.nonEmpty)
    // the bucketed feed emits a triplet only when an anchor's CELLS
    // hold both a dup and a non-dup (negatives must be cell-mates —
    // which is exactly what makes them hard), so its coverage is a
    // subset; on the anchors it does cover, the chosen positive must
    // agree with the exact feed's
    val shared = lsh.keySet.intersect(exact.keySet)
    assert(shared.nonEmpty, s"lsh anchors ${lsh.size} vs exact ${exact.size}")
    val agree = shared.count(a => lsh(a) == exact(a))
    assert(agree >= (shared.size * 0.8).toInt,
      s"positive agreement $agree/${shared.size}")
  }

  test("nearest-centroid classifier: planted clusters recovered, ties to smaller label, margins sane") {
    // three well-separated direction clusters in 4d + per-point jitter
    val dirs = Map(0 -> Array(1f, 0f, 0f, 0f), 1 -> Array(0f, 1f, 0f, 0f),
      2 -> Array(0f, 0f, 1f, 0.2f))
    val pts = (0L until 90L).map { i =>
      val lb = (i % 3).toInt
      val d = dirs(lb)
      (i, d.zipWithIndex.map { case (x, j) =>
        x + (math.sin(i * 0.7 + j) * 0.08).toFloat }, lb)
    }.toDF("vec_id", "embedding", "label")
    val out = Similarity.classifyByCentroid(pts, col("vec_id") % 5 =!= 0)
      .select("vec_id", "label", "in_train", "pred_label", "pred_cos", "margin")
      .as[(Long, Int, Boolean, Int, Double, Double)].collect()
    assert(out.length == 90)
    // every point (train AND held-out) lands on its planted cluster
    out.foreach { case (id, lb, _, pred, cos, margin) =>
      assert(pred == lb, s"vec $id: planted $lb predicted $pred")
      assert(cos > 0.9 && margin > 0.0, s"vec $id cos=$cos margin=$margin")
    }
    assert(out.count(!_._3) == 18) // the %5 held-out fifth
    // the STORED centroid model classifies byte-identically (both
    // paths score against the published 6-dp table)
    val dir = java.nio.file.Files.createTempDirectory("graft_centm").toString
    Similarity.saveCentroidModel(pts, col("vec_id") % 5 =!= 0, dir)
    val stored = Similarity.classifyStored(pts, dir,
        inTrain = col("vec_id") % 5 =!= 0)
      .select("vec_id", "label", "in_train", "pred_label", "pred_cos", "margin")
      .as[(Long, Int, Boolean, Int, Double, Double)].collect()
    assert(stored.sortBy(_._1).toSeq == out.sortBy(_._1).toSeq)
    // zero vector: cosine 0 to every centroid -> tie -> smallest label
    val withZero = pts.union(Seq((999L, Array(0f, 0f, 0f, 0f), 2))
      .toDF("vec_id", "embedding", "label"))
    val z = Similarity.classifyByCentroid(withZero, col("vec_id") % 5 =!= 0)
      .where(col("vec_id") === 999).select("pred_label", "pred_cos", "margin")
      .as[(Int, Double, Double)].head()
    assert(z == ((0, 0.0, 0.0)))
  }

  test("lshPlan: steepest S-curve meeting the recall target; reproduces the shipped default") {
    import graft.functions.{lshCandidateProb, lshPlan}
    // the production default (128 hashes, 32 bands of 4 at threshold
    // 0.8) is exactly what the advisor derives for recall 0.95: 8-row
    // bands land at 0.947 (just short), 4-row bands at ~1.0
    val (b, r, p) = lshPlan(k = 128, threshold = 0.8)
    assert((b, r) == (32, 4) && p > 0.9999)
    assert(lshCandidateProb(0.8, 16, 8) < 0.95)
    // returned probability always honors the target
    for (k <- Seq(32, 64, 128); t <- Seq(0.5, 0.7, 0.9)) {
      val (_, _, prob) = lshPlan(k, t, 0.9)
      assert(prob >= 0.9, s"k=$k t=$t prob=$prob")
    }
    // S-curve is monotone in similarity
    val probs = Seq(0.2, 0.4, 0.6, 0.8).map(lshCandidateProb(_, 32, 4))
    assert(probs == probs.sorted && probs.last > probs.head)
    // an impossible ask fails loudly instead of silently flattening
    intercept[RuntimeException](lshPlan(k = 4, threshold = 0.1, targetRecall = 0.99))
  }

  test("salted join spreads a hot key across buckets yet matches the plain join") {
    val big = ((1 to 5000).map(i => ("hot", i.toLong)) ++
      (1 to 50).map(i => (s"k$i", i.toLong))).toDF("key", "v")
    val small = (Seq("hot") ++ (1 to 50).map(i => s"k$i")).zipWithIndex
      .map { case (k, i) => (k, i * 10) }.toDF("key", "w")
    val plain = big.join(small, Seq("key"))
      .select("key", "v", "w").as[(String, Long, Int)].collect().toSeq.sorted
    val salted = graft.operators.Skew.saltedJoin(big, small, "key", buckets = 8)
      .select("key", "v", "w").as[(String, Long, Int)].collect().toSeq.sorted
    assert(salted == plain)
    // the hot key's rows really are spread over multiple salt buckets
    import graft.operators.Skew
    val spread = big.where(col("key") === "hot")
      .withColumn("s", pmod(hash(big.columns.map(col): _*), lit(8)))
      .select("s").distinct().count()
    assert(spread == 8, s"expected 8 salt buckets for the hot key, got $spread")
  }

  test("stored embedding-dedup model: probe agrees with the re-training form AND ground truth") {
    // dedup_embedding_probe's certificate, same contract as the stored
    // ANN probe's: (a) the stored-model probe reproduces the all-pairs
    // incremental ground truth on the deployment-shaped %10 split —
    // corpus-trained cells lose no true pair at the oracle SF — and
    // (b) it agrees with embeddingIncrement (union-trained cells) on
    // the same inputs, so the train-per-run and train-once forms are
    // interchangeable where both are certified.
    val emb = spark.read.parquet(s"${sf("sf0.01")}/embeddings.parquet")
    val corpus = emb.where(col("vec_id") % 10 =!= 0)
    val inc = emb.where(col("vec_id") % 10 === 0)
    val dir = java.nio.file.Files.createTempDirectory("graft_embdedup_model").toString
    Dedup.buildEmbeddingDedupState(corpus, dir)
    // the model is complete and sized to its corpus
    val nCorpus = corpus.count()
    assert(spark.read.parquet(s"$dir/vectors").count() == nCorpus)
    assert(spark.read.parquet(s"$dir/cells").select("vec_id").distinct().count() == nCorpus)
    val meta = spark.read.parquet(s"$dir/meta")
      .select("k", "assign", "dim").as[(Int, Int, Int)].head()
    assert(meta._2 == 3 && meta._3 == 64)
    val probed = Dedup.embeddingIncrementStored(inc, dir, threshold = 0.45)
      .select("vec_id").as[Long].collect().toSet
    // ground truth from the exact all-pairs feed, incremental semantics
    val pairs = Dedup.embeddingNearDups(emb, 0.45, allPairs = true)
      .select("a_id", "b_id").as[(Long, Long)].collect()
    val expectedDropped = pairs.flatMap { case (a, b) =>
      (a % 10 == 0, b % 10 == 0) match {
        case (false, true) => Seq(b)  // cross: drop the incoming side
        case (true, false) => Seq(a)
        case (true, true) => Seq(b)   // in-batch: larger id loses
        case _ => Nil                 // both corpus: no drop
      }
    }.toSet
    val incIds = inc.select("vec_id").as[Long].collect().toSet
    assert(probed == incIds.diff(expectedDropped))
    assert(expectedDropped.nonEmpty, "test data should exercise drops")
    val retrained = Dedup.embeddingIncrement(corpus, inc, threshold = 0.45)
      .select("vec_id").as[Long].collect().toSet
    assert(probed == retrained)
  }

  test("semantic decontamination: cell path reproduces the all-pairs ground truth + crafted cases") {
    import graft.operators.Contamination
    // crafted: benchmark vec, a near-paraphrase of it in the corpus
    // (high cosine), and an orthogonal clean vec
    val bench = Seq((11L, Array.fill(8)(1.0f))).toDF("vec_id", "embedding")
    val near = Array.fill(8)(1.0f); near(0) = 0.8f
    val ortho = Array.tabulate(8)(i => if (i % 2 == 0) 1.0f else -1.0f)
    val corpus = Seq((1L, near), (2L, ortho)).toDF("vec_id", "embedding")
    val flagged = Contamination.flagSemanticOverlap(corpus, bench, threshold = 0.45)
      .orderBy("vec_id")
      .select("vec_id", "n_benchmark_matches", "contaminated")
      .as[(Long, Long, Boolean)].collect().toSeq
    assert(flagged == Seq((1L, 1L, true), (2L, 0L, false)))
    // the filtering form drops exactly the flagged vec
    assert(Contamination.decontaminateSemantic(corpus, bench, 0.45)
      .select("vec_id").as[Long].collect().toSeq == Seq(2L))

    // ground truth on real data: the %11 split at the oracle SF — the
    // cell path must flag EXACTLY the vectors an all-pairs exact-cosine
    // join flags (recall totality; precision is by construction since
    // every candidate is exact-verified)
    val emb = spark.read.parquet(s"${sf("sf0.01")}/embeddings.parquet")
    val c = emb.where(col("vec_id") % 11 =!= 0)
    val b = emb.where(col("vec_id") % 11 === 0)
    val got = Contamination.flagSemanticOverlap(c, b, threshold = 0.45)
      .where(col("contaminated")).select("vec_id").as[Long].collect().toSet
    val cp = Similarity.prepared(c).select(col("vec_id").as("a_id"),
      col("v").as("av"), col("norm").as("anorm"))
    val bp = Similarity.prepared(b).select(col("vec_id").as("b_id"),
      col("v").as("bv"), col("norm").as("bnorm"))
    val expect = cp.crossJoin(bp)
      .where(round(graft.functions.cosineWithNorms(
        graft.functions.dotProduct(col("av"), col("bv")),
        col("anorm"), col("bnorm")), 6) >= 0.45)
      .select("a_id").distinct().as[Long].collect().toSet
    assert(got == expect, s"cell path flagged ${got.size} vs exact ${expect.size}")
    assert(expect.nonEmpty, "fixture should contain semantic contamination")
  }

  test("stored IVF-PQ search with corpusFilter: eligibility + recall vs filtered brute") {
    val emb = spark.read.parquet(s"$docsDir/embeddings.parquet")
    val dir = java.nio.file.Files.createTempDirectory("graft_pq_filtered").toString
    Similarity.buildIvfPqIndex(emb, dir)
    val filter = col("label").isin(1, 3, 5)
    val eligible = emb.where(filter).select("vec_id").as[Long].collect().toSet
    // nprobe scaled up with the filter's selectivity, as a serving
    // system would (the filter thins each probed cell's eligible rows)
    val out = Similarity.searchIvfPqIndex(emb, col("vec_id") < 5, dir,
        k = 10, nprobe = 8, refine = 10, corpusFilter = filter)
      .select("q_id", "n_id").as[(Long, Long)].collect()
    // pre-filter semantics: every neighbour satisfies the predicate
    assert(out.nonEmpty && out.forall(t => eligible(t._2)))
    val brute = Similarity.knnBrute(emb, col("vec_id") < 5, k = 10,
        corpusFilter = filter)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val recall = out.toSet.intersect(brute).size.toDouble / brute.size
    assert(recall >= 0.5, s"filtered stored-index recall $recall vs filtered brute")
    // filtering the probe can only restrict, never invent: the filtered
    // result is a subset of the unfiltered search's eligible slice at
    // the same refine budget... not in general (ranks shift), so assert
    // determinism instead: a fixed index + fixed filter reproduces.
    val again = Similarity.searchIvfPqIndex(emb, col("vec_id") < 5, dir,
        k = 10, nprobe = 8, refine = 10, corpusFilter = filter)
      .select("q_id", "n_id").as[(Long, Long)].collect()
    assert(out.toSeq.sorted == again.toSeq.sorted)
  }

  test("dHash: identical payloads collide; near-identical within hamming reach; block buckets find known pairs") {
    import graft.operators.Multimodal
    val big = (0 until 300).map(i => s"word$i").mkString(" ")
    val media = Seq(
      (1L, big),
      (2L, big),                        // byte-identical -> hamming 0
      // SAME-LENGTH edit: the byte grid (like real dHash under crops)
      // is robust to in-place edits, not to length-shifting ones
      (3L, big.replace("word150", "zzzzzzz")),
      (4L, (0 until 300).map(i => s"other${i * 7}").mkString(" "))
    ).toDF("doc_id", "text")
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("content"))
    val hashes = Multimodal.dHashes(media)
      .as[(Long, Long)].collect().toMap
    assert(hashes(1L) == hashes(2L))
    assert(java.lang.Long.bitCount(hashes(1L) ^ hashes(3L)) <= 3,
      "a one-token edit must stay within hamming reach of the original")
    val pairs = Multimodal.dHashNearDups(media, maxHamming = 3)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((1L, 3L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L),
      "an unrelated payload must not pair up")
  }

  test("dHash planted replicas: every replica pairs with its original, none cross-pair") {
    import graft.operators.Multimodal
    val docs = Ingestor.table(spark, sf(), "documents")
    val media = Multimodal.withNearDupReplicas(Multimodal.withMedia(docs))
    val planted = docs.select("doc_id").as[Long].collect()
      .filter(id => id % 5 == 0).map(id => (id, id + 1000000000L)).toSet
    val pairs = Multimodal.dHashNearDups(media, maxHamming = 3)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    // a single-cell in-place edit flips at most 2 grid comparisons, so
    // every planted pair must land inside hamming 3
    assert(planted.subsetOf(pairs),
      s"missing planted pairs: ${(planted -- pairs).take(5)}")
    // replicas must not pair with unrelated originals
    val cross = pairs.filter { case (a, b) =>
      b >= 1000000000L && a < 1000000000L && b - 1000000000L != a }
    assert(cross.isEmpty, s"unrelated cross pairs: ${cross.take(5)}")
  }

  test("centroidDrift: identity release drifts nowhere, shifts and gaps surface") {
    val emb = spark.read.parquet(s"$docsDir/embeddings.parquet")
    // identical releases: cosine 1, zero shift, every label present
    val same = Similarity.centroidDrift(emb, emb)
      .select("label", "cos_sim", "l2_shift")
      .as[(Int, Option[Double], Option[Double])].collect()
    assert(same.nonEmpty)
    assert(same.forall { case (_, c, d) => c.contains(1.0) && d.contains(0.0) })
    // a deliberately shifted new release: add 0.5 to dimension 0
    val shifted = emb.withColumn("embedding",
      concat(array((element_at(col("embedding"), 1) + lit(0.5f)).as("h")),
        slice(col("embedding"), 2, 10000)))
    val drift = Similarity.centroidDrift(emb, shifted)
      .select("label", "cos_sim", "l2_shift")
      .as[(Int, Option[Double], Option[Double])].collect()
    assert(drift.forall { case (_, c, d) => c.exists(_ < 1.0) && d.exists(_ > 0.4) })
    // a label absent from the new release: counts survive, geometry null
    val gone = Similarity.centroidDrift(emb, emb.where(col("label") =!= 0))
      .where(col("label") === 0)
      .select("n_old", "n_new", "cos_sim", "l2_shift")
      .as[(Option[Long], Option[Long], Option[Double], Option[Double])].collect()
    assert(gone.length == 1 &&
      gone(0)._1.isDefined && gone(0)._2.isEmpty &&
      gone(0)._3.isEmpty && gone(0)._4.isEmpty)
  }

  test("MMR rerank: lambda=1 equals brute top-k, diversity improves, deterministic") {
    val emb = spark.read.parquet(s"$docsDir/embeddings.parquet")
    val isQ = col("vec_id") < 5
    // lambda=1: pure relevance — must reproduce knnBrute exactly
    val pure = Similarity.mmrRerank(emb, isQ, k = 10, lambdaRel = 1.0)
      .select("q_id", "n_id", "rank").as[(Long, Long, Long)].collect().toSeq.sorted
    val brute = Similarity.knnBrute(emb, isQ, k = 10)
      .select("q_id", "n_id", "rank").as[(Long, Long, Long)].collect().toSeq.sorted
    assert(pure == brute)
    // diversified: selected set is a subset of the candidate pool and
    // its mean pairwise similarity never exceeds plain top-k's
    val mmr = Similarity.mmrRerank(emb, isQ, k = 10, lambdaRel = 0.5)
    val mmrRows = mmr.select("q_id", "n_id").as[(Long, Long)].collect()
    val pool = Similarity.knnBrute(emb, isQ, k = 50)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    assert(mmrRows.forall(pool.contains))
    val vecs = emb.select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Array[Double])].collect().toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    def meanPairSim(sel: Seq[Long]): Double = {
      val ps = for (i <- sel.indices; j <- i + 1 until sel.size)
        yield cos(vecs(sel(i)), vecs(sel(j)))
      ps.sum / ps.size
    }
    val bruteByQ = Similarity.knnBrute(emb, isQ, k = 10)
      .select("q_id", "n_id").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (q, r) => q -> r.map(_._2).toSeq }
    val mmrByQ = mmrRows.groupBy(_._1).map { case (q, r) => q -> r.map(_._2).toSeq }
    val diffs = bruteByQ.keys.map(q => meanPairSim(bruteByQ(q)) - meanPairSim(mmrByQ(q)))
    assert(diffs.forall(_ >= -1e-9), "MMR must never be LESS diverse than top-k")
    assert(diffs.exists(_ > 1e-6), "MMR should measurably diversify some query")
    // ranks contiguous per query; deterministic under repartitioning
    assert(mmrByQ.values.forall(_.size == 10))
    val again = Similarity.mmrRerank(emb.repartition(7), isQ, k = 10, lambdaRel = 0.5)
      .select("q_id", "n_id", "rank").as[(Long, Long, Long)].collect().toSeq.sorted
    assert(again == mmr.select("q_id", "n_id", "rank")
      .as[(Long, Long, Long)].collect().toSeq.sorted)
  }

  test("hard negatives: never same-label, k per query, equals label-filtered brute kNN") {
    val e = Ingestor.table(spark, sf(), "embeddings")
    val out = Similarity.hardNegatives(e, col("vec_id") < 10, k = 5)
      .collect()
    assert(out.length == 50, "5 negatives per query for 10 queries")
    out.foreach { r =>
      assert(r.getAs[Long]("q_label") != r.getAs[Long]("n_label"),
        s"same-label pair leaked: $r")
    }
    out.groupBy(_.getAs[Long]("q_id")).foreach { case (_, rs) =>
      val byRank = rs.sortBy(_.getAs[Long]("rank")).map(_.getAs[Double]("cos_sim"))
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b },
        "similarity must be non-increasing in rank")
    }
    // per-query equivalence with the static-filter brute path
    val q0Label = e.where(col("vec_id") === 0).select(col("label").cast("long"))
      .as[Long].collect().head
    val viaFilter = Similarity.knnBrute(e, col("vec_id") === 0, k = 5,
        corpusFilter = col("label").cast("long") =!= q0Label)
      .select("q_id", "n_id", "rank").as[(Long, Long, Long)].collect().toSet
    val viaHard = out.filter(_.getAs[Long]("q_id") == 0L)
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id"), r.getAs[Long]("rank"))).toSet
    assert(viaHard == viaFilter)
  }

  test("multimodal feature kNN: a planted replica is its original's nearest neighbour") {
    import graft.operators.Multimodal
    val docs = Ingestor.table(spark, sf(), "documents")
    val media = Multimodal.withNearDupReplicas(Multimodal.withMedia(docs))
    val feats = Multimodal.gridFeatures(media).toDF("vec_id", "embedding")
    val out = Similarity.knnBrute(feats,
        col("vec_id") % 5 === 0 && col("vec_id") < 100, k = 1)
      .select("q_id", "n_id").as[(Long, Long)].collect().toMap
    // a single-cell edit moves one of 72 grid cells, so the replica
    // dominates every unrelated doc on cosine
    out.foreach { case (q, n) =>
      assert(n == q + 1000000000L, s"query $q nearest $n, expected its replica")
    }
    assert(out.nonEmpty)
  }

  test("dHash real-image path: rescaled image collides, inverted image is far") {
    import graft.operators.Multimodal
    def gradientPng(w: Int, h: Int, invert: Boolean): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) {
        val v = (x * 255) / math.max(w - 1, 1)
        val g = if (invert) 255 - v else v
        img.setRGB(x, y, (g << 16) | (g << 8) | g)
      }
      val buf = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", buf)
      buf.toByteArray
    }
    val media = Seq(
      (1L, gradientPng(90, 40, invert = false)),
      (2L, gradientPng(45, 20, invert = false)), // same image, rescaled
      (3L, gradientPng(90, 40, invert = true))
    ).toDF("doc_id", "content")
    val hashes = Multimodal.dHashes(media).as[(Long, Long)].collect().toMap
    // a horizontal gradient's sign pattern survives rescaling exactly
    assert(java.lang.Long.bitCount(hashes(1L) ^ hashes(2L)) <= 3)
    // the inverted gradient flips every comparison
    assert(java.lang.Long.bitCount(hashes(1L) ^ hashes(3L)) >= 32)
  }

  test("hash splits: proportions, completeness, determinism") {
    val docs = Ingestor.table(spark, sf(), "documents")
    val split = Splits.byHash(docs, "doc_id", Seq("train" -> 0.8, "val" -> 0.1))
    val counts = split.groupBy("split").count()
      .as[(String, Long)].collect().toMap
    val n = counts.values.sum.toDouble
    assert(math.abs(counts("train") / n - 0.8) < 0.1)
    assert(counts.keySet == Set("train", "val", "test"))
    // stable: same ids -> same assignment, independent of partitioning
    val again = Splits.byHash(docs.repartition(7), "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1))
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    val first = split.select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(first == again)
  }

  test("sampleExact: exact size, partitioning-invariant, seed-sensitive") {
    val docs = Ingestor.table(spark, sf(), "documents")
    val s1 = Splits.sampleExact(docs, 50)
      .select("doc_id").as[Long].collect().toSet
    assert(s1.size == 50)
    // same membership regardless of physical partitioning
    val s2 = Splits.sampleExact(docs.repartition(13), 50)
      .select("doc_id").as[Long].collect().toSet
    assert(s1 == s2)
    // a different seed draws a different pool (overwhelmingly likely)
    val s3 = Splits.sampleExact(docs, 50, seed = "other")
      .select("doc_id").as[Long].collect().toSet
    assert(s3.size == 50 && s1 != s3)
    // n >= corpus: everything sampled
    assert(Splits.sampleExact(docs, 100000).count() == docs.count())
  }

  test("pair-report cap + occupancy profile: subset, exact ledger, profile arithmetic") {
    val docs = spark.read.parquet(s"${sf("sf0.01")}/documents.parquet")
    // ground-truth occupancies straight from the public banding pass
    val occ = Dedup.bandBuckets(Dedup.shingleHashSets(docs))
      .groupBy("bucket").agg(count(lit(1)).as("g"))
      .select("g").as[Long].collect()
    def pairsOf(g: Long) = g * (g - 1) / 2
    // the profile's histogram must reproduce those occupancies exactly
    val prof = Dedup.pairVolumeProfile(docs)
      .select("occupancy", "n_buckets", "est_pairs")
      .as[(Long, Long, Long)].collect()
    val expectedHist = occ.groupBy(identity).view.mapValues(_.length.toLong).toMap
    assert(prof.map(p => p._1 -> p._2).toMap == expectedHist)
    assert(prof.map(_._3).sum == occ.map(pairsOf).sum,
      "est_pairs must total the full candidate emission volume")
    // a generous cap changes nothing and drops nothing
    val full = Dedup.minhashNearDups(docs, 0.8)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val uncapped = Dedup.minhashNearDups(docs, 0.8,
        maxPairsPerBucket = 1000000)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(uncapped == full && Dedup.lastPairEmissionStats.droppedPairs == 0)
    // a tight cap: verified output is a SUBSET and the ledger is exact
    val capped = Dedup.minhashNearDups(docs, 0.8, maxPairsPerBucket = 1)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(capped.subsetOf(full))
    val st = Dedup.lastPairEmissionStats
    val m = 2 // largest m with C(m,2) <= 1
    assert(st.buckets == occ.length)
    assert(st.cappedBuckets == occ.count(_ > m))
    assert(st.candidatePairs == occ.map(g => pairsOf(math.min(g, m))).sum)
    assert(st.droppedPairs == occ.map(g => pairsOf(g) - pairsOf(math.min(g, m))).sum)
    assert(st.candidatePairs + st.droppedPairs == occ.map(pairsOf).sum)
  }

  test("firstBandPairsCapped == selfPairsCapped: same output set and ledger under binding and loose caps") {
    // the governed gate must be a pure economics change: the kept
    // member sample, the emitted pair SET and the drop ledger all
    // bit-match the distinct-form reference, cap binding or not
    val docs = spark.read.parquet(s"${sf("sf0.01")}/documents.parquet")
    val sets = Dedup.shingleHashSets(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    for (cap <- Seq(1, 100, 1000000)) {
      val gated = Dedup.firstBandPairsCapped(
          Dedup.bandBucketArrays(sets), cap, bands = 32)
        .as[(Long, Long)].collect().toSet
      val stGated = Dedup.lastPairEmissionStats
      val ref = Dedup.selfPairsCapped(Dedup.bandBuckets(sets), cap)
        .as[(Long, Long)].collect().toSet
      val stRef = Dedup.lastPairEmissionStats
      assert(gated == ref, s"pair-set mismatch at cap=$cap")
      assert(stGated == stRef, s"ledger mismatch at cap=$cap")
      if (cap == 1) assert(stGated.droppedPairs > 0,
        "cap=1 must bind on this corpus or the test is vacuous")
    }
    sets.unpersist()
  }

  test("embedding cell report cap + occupancy profile: subset, exact ledger, profile arithmetic") {
    val emb = spark.read.parquet(s"$docsDir/embeddings.parquet")
    // ground-truth occupancies straight from the shared train+assign pass
    val occ = Dedup.embeddingCells(emb)
      .groupBy("cell").agg(count(lit(1)).as("g"))
      .select("g").as[Long].collect()
    def pairsOf(g: Long) = g * (g - 1) / 2
    // the profile's histogram must reproduce those occupancies exactly,
    // and memberships must total assign (= 2) per vector
    val prof = Dedup.embeddingCellProfile(emb)
      .select("occupancy", "n_buckets", "est_pairs")
      .as[(Long, Long, Long)].collect()
    val expectedHist = occ.groupBy(identity).view.mapValues(_.length.toLong).toMap
    assert(prof.map(p => p._1 -> p._2).toMap == expectedHist)
    assert(prof.map(_._3).sum == occ.map(pairsOf).sum,
      "est_pairs must total the full candidate emission volume")
    assert(occ.sum == 2 * emb.count(), "every vector in exactly 2 cells")
    // a generous cap changes nothing and drops nothing
    val full = Dedup.embeddingNearDups(emb, 0.45, allPairs = false)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val uncapped = Dedup.embeddingNearDups(emb, 0.45, allPairs = false,
        maxPairsPerCell = 100000000)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(uncapped == full && Dedup.lastCellPairEmissionStats.droppedPairs == 0)
    // a tight cap: verified output is a SUBSET and the ledger is exact
    val capped = Dedup.embeddingNearDups(emb, 0.45, allPairs = false,
        maxPairsPerCell = 1)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(capped.subsetOf(full))
    val st = Dedup.lastCellPairEmissionStats
    val m = 2 // largest m with C(m,2) <= 1
    assert(st.buckets == occ.length)
    assert(st.cappedBuckets == occ.count(_ > m))
    assert(st.candidatePairs == occ.map(g => pairsOf(math.min(g, m))).sum)
    assert(st.droppedPairs == occ.map(g => pairsOf(g) - pairsOf(math.min(g, m))).sum)
    assert(st.candidatePairs + st.droppedPairs == occ.map(pairsOf).sum)
    // the governed form is rejected everywhere it cannot apply
    intercept[IllegalArgumentException] {
      Dedup.embeddingNearDups(emb, 0.45, maxPairsPerCell = 10)
    }
  }

  test("witness-bounded cross feed: survivors match the all-pairs incremental ground truth") {
    // dedup_neardup_incr's certificate, mirroring the embedding one:
    // expected survivors derive from the FULL batch pair set (every
    // in-bucket pair verified) with incremental drop semantics —
    // cross pair drops the incoming side, in-batch pair drops the
    // larger id. Agreement proves the hub-first witness feed
    // (witnessDroppedIds) decides every doc exactly like the full
    // increment x bucket-members cross join it replaced.
    val docs = spark.read.parquet(s"${sf("sf0.01")}/documents.parquet")
    val split = 250L
    val pairs = Dedup.minhashNearDups(docs, 0.8)
      .select("a_id", "b_id").as[(Long, Long)].collect()
    val expectedDropped = pairs.flatMap { case (a, b) =>
      (a < split, b < split) match {
        case (true, false)  => Seq(b) // cross: drop the incoming side
        case (false, false) => Seq(b) // in-batch: drop the later id
        case _              => Nil
      }
    }.toSet
    val incIds = docs.where(col("doc_id") >= split)
      .select("doc_id").as[Long].collect().toSet
    val survivors = Dedup.nearDupIncrement(
        docs.where(col("doc_id") < split), docs.where(col("doc_id") >= split),
        threshold = 0.8)
      .select("doc_id").as[Long].collect().toSet
    assert(survivors == incIds.diff(expectedDropped))
    assert(expectedDropped.nonEmpty, "test data should exercise drops")
    // at spec scale the witness feed size-dispatches to the one-round
    // direct cross join — the dispatch itself is part of the contract
    val st = Dedup.lastWitnessStats
    assert(st.dispatchedFull && st.corpusMaxOccupancy >= 1)
    // and the FORCED hub/residual path (limit 0) decides the exact
    // same increment docs on the same real data
    val setsC = Dedup.shingleHashSets(docs.where(col("doc_id") < split))
    val setsI = Dedup.shingleHashSets(docs.where(col("doc_id") >= split))
    val witnessed = Dedup.witnessDroppedIds(
        Dedup.bandBuckets(setsI).select(col("id").as("a_id"), col("bucket")),
        Dedup.bandBuckets(setsC).select(col("id").as("b_id"), col("bucket")),
        cand => Dedup.jaccardVerify(cand, setsI.unionByName(setsC), 0.8),
        fullFeedMaxOccupancy = 0)
      .select("a_id").as[Long].collect().toSet
    val crossTruth = pairs.filter { case (a, b) => a < split && b >= split }
      .map(_._2).toSet
    assert(witnessed == crossTruth,
      s"forced witness path decided ${witnessed.size} vs ground truth ${crossTruth.size}")
    assert(!Dedup.lastWitnessStats.dispatchedFull)
  }

  test("witness-bounded cross feed: hub decides, residual catches non-hub witnesses") {
    // synthetic bucket/set tables drive witnessDroppedIds directly so
    // both stages are exercised deterministically: doc 11 matches the
    // bucket hub (stage-1 drop), doc 10 matches only a NON-hub member
    // (its hub edge fails -> residual must catch it), doc 12 matches
    // nothing (pays the fallback, survives).
    val sets = Seq(
      (1L, Seq(1L, 2L, 3L, 4L)),     // corpus hub of bucket 100
      (2L, Seq(100L, 101L, 102L)),   // corpus member, matches nothing
      (3L, Seq(50L, 51L, 52L, 53L)), // corpus member, doc 10's witness
      (10L, Seq(50L, 51L, 52L, 54L)), // inc: J(10,3)=3/5, J(10,1)=0
      (11L, Seq(1L, 2L, 3L, 5L)),     // inc: J(11,1)=3/5 (hub witness)
      (12L, Seq(200L, 201L)))         // inc: no witness
      .toDF("doc_id", "shash")
    val incB = Seq((10L, 100L), (11L, 100L), (12L, 100L))
      .toDF("a_id", "bucket")
    val corpusB = Seq((1L, 100L), (2L, 100L), (3L, 100L))
      .toDF("b_id", "bucket")
    val dropped = Dedup.witnessDroppedIds(incB, corpusB,
        cand => Dedup.jaccardVerify(cand, sets, 0.5),
        fullFeedMaxOccupancy = 0)
      .select("a_id").as[Long].collect().toSet
    assert(dropped == Set(10L, 11L))
    val st = Dedup.lastWitnessStats
    // one hub edge per (inc doc, colliding bucket), exactly one decides
    assert(st.hubCandidates == 3 && st.hubDropped == 1)
    // fallback: only the two undecided docs x the two non-hub members
    assert(st.residualCandidates == 4 && st.residualDropped == 1)
  }

  test("stored near-dup state: probe agrees with the re-shingling incremental form") {
    // dedup_neardup_probe's certificate, mirroring the stored embedding
    // model's: state built once from the corpus split, the increment
    // probes it, and the survivor set is byte-identical to
    // nearDupIncrement (which re-shingles the corpus per run) — the
    // train-per-run and build-once forms are interchangeable, so the
    // probe inherits the incr entry's all-pairs oracle.
    val docs = spark.read.parquet(s"${sf("sf0.01")}/documents.parquet")
    val corpus = docs.where(col("doc_id") < 250)
    val inc = docs.where(col("doc_id") >= 250)
    val dir = java.nio.file.Files.createTempDirectory("graft_neardup_state").toString
    Dedup.buildNearDupState(corpus, dir)
    // complete, corpus-sized state with pinned banding params
    assert(spark.read.parquet(s"$dir/meta")
      .select("k", "bands", "n_docs").as[(Int, Int, Long)].head()
      == ((128, 32, corpus.count())))
    assert(spark.read.parquet(s"$dir/shingle_sets").count() == corpus.count())
    // meta also carries the bucket table's occupancy, so the probe's
    // witness dispatch reads it instead of aggregating band_buckets
    val occ = spark.read.parquet(s"$dir/band_buckets")
      .groupBy("bucket").agg(count(lit(1)).as("g"))
      .agg(max("g"), sum("g")).as[(Long, Long)].head()
    assert(spark.read.parquet(s"$dir/meta")
      .select("max_occupancy", "bucket_rows").as[(Long, Long)].head() == occ)
    val probed = Dedup.nearDupIncrementStored(inc, dir)
      .select("doc_id").as[Long].collect().sorted.toSeq
    val probedStats = Dedup.lastWitnessStats
    assert(probedStats.corpusMaxOccupancy == occ._1)
    val inflight = Dedup.nearDupIncrement(corpus, inc)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(probed.nonEmpty && probed == inflight)
    // a state whose meta predates the occupancy columns still probes to
    // the same survivors, dispatching on the aggregate instead
    val oldDir = java.nio.file.Files.createTempDirectory("graft_neardup_state_v0").toString
    Seq("shingle_sets", "band_buckets").foreach { t =>
      spark.read.parquet(s"$dir/$t").write.parquet(s"$oldDir/$t")
    }
    spark.read.parquet(s"$dir/meta").select("k", "bands", "n_docs")
      .write.parquet(s"$oldDir/meta")
    val probedOld = Dedup.nearDupIncrementStored(inc, oldDir)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(probedOld == probed)
    assert(Dedup.lastWitnessStats == probedStats)
  }

  test("stored closure state: persisted labels byte-identical to the fresh closure, meta-pinned") {
    // the cross-application form of nearDupClustersCached: labels are
    // deterministic component minima, so the persisted table must agree
    // byte-for-byte with a fresh rebuild — the certificate that lets
    // dedup_clusters_stored inherit dedup_clusters' recursive-CTE oracle
    val docs = spark.read.parquet(s"${sf("sf0.01")}/documents.parquet")
    val dir = java.nio.file.Files.createTempDirectory("graft_closure_state").toString
    Dedup.buildClosureState(docs, dir, threshold = 0.8)
    val meta = spark.read.parquet(s"$dir/meta")
      .select("threshold", "k", "bands", "n_docs").head()
    assert(meta.getDouble(0) == 0.8 && meta.getInt(1) == 128
      && meta.getInt(2) == 32 && meta.getLong(3) == docs.count())
    val stored = Dedup.closureFromStored(spark, dir, expectThreshold = 0.8)
      .orderBy("id").as[(Long, Long)].collect().toSeq
    val fresh = Dedup.nearDupClusters(docs, 0.8)
      .orderBy("id").as[(Long, Long)].collect().toSeq
    assert(stored.nonEmpty && stored == fresh)
    // a consumer pinned to a different threshold must refuse the state
    intercept[IllegalArgumentException] {
      Dedup.closureFromStored(spark, dir, expectThreshold = 0.7)
    }
  }

  test("lazy builders fire zero jobs over an uncached chain (r17 ADVICE); dispatch count resolves cheap plans only") {
    // cheapRows: bare relations (local rows, raw scans, projections of
    // them) count; a transformation chain returns -1 = unknown = pin —
    // so the builder never re-executes an upstream chain at BUILD time.
    val docs = Seq((1L, "a b c d"), (2L, "e f g h")).toDF("doc_id", "text")
    assert(graft.functions.cheapRows(docs) == 2L)
    assert(graft.functions.cheapRows(docs.select("doc_id", "text")) == 2L)
    val scan = spark.read.parquet(s"$docsDir/documents.parquet")
    assert(graft.functions.cheapRows(scan) >= 0L)
    val chain = scan.withColumn("text", upper(col("text")))
      .where(length(col("text")) > 0)
    assert(graft.functions.cheapRows(chain) == -1L)
    // resolveRows: explicit counts win; autoRows defers to cheapRows
    assert(graft.functions.resolveRows(chain, 7L) == 7L)
    assert(graft.functions.resolveRows(chain, -1L) == -1L)
    assert(graft.functions.resolveRows(chain, graft.functions.autoRows) == -1L)
    // constructing the lazy builders over the chain must fire ZERO
    // Spark jobs (minhashNearDups is excluded: its localCheckpoint is
    // eager by contract)
    val fired = jobsDuring {
      Dedup.repeatedSpans(chain, n = 8)
      Dedup.applySpanMask(chain, Dedup.repeatedSpanMask(chain, n = 8), n = 8)
      Dedup.minhashCandidates(chain)
      Splits.leakageSafeFromLabels(chain,
        Seq((1L, 1L)).toDF("id", "cluster_id"), "doc_id")
    }
    assert(fired == 0,
      "a builder ran a Spark job at construction time over an uncached chain")
    // and the chain-built feed still verifies correctly when executed
    // (pinned plan, same rows as the bare-scan build)
    val viaChain = Dedup.minhashCandidates(scan.where(col("doc_id") >= 0))
      .orderBy("a_id", "b_id").as[(Long, Long)].collect().toSeq
    val viaScan = Dedup.minhashCandidates(scan)
      .orderBy("a_id", "b_id").as[(Long, Long)].collect().toSeq
    assert(viaChain == viaScan)
  }

  test("firstBandPairs dispatch bound is bytes-based: high band counts shrink the free region (r17 ADVICE)") {
    // at the default 32 bands the byte bound reproduces the 512k-row
    // arithmetic exactly; at bands=128 each exploded row carries a
    // 128-int band array, so the same row count must PIN.
    val rows32 = graft.functions.pinFreeSideRowLimit
    assert(rows32 * (72L + 4L * 32) <= graft.functions.pinFreeSideByteLimit)
    assert((rows32 + 1) * (72L + 4L * 32) > graft.functions.pinFreeSideByteLimit)
    assert(rows32 * (72L + 4L * 128) > graft.functions.pinFreeSideByteLimit,
      "a 512k-row side at 128 bands deserializes ~3x the proven bound and must pin")
    // executed-plan check: the SAME declared sideRows (300k — between
    // the 32-band free bound and the 128-band pin bound) frees AQE at
    // 32 bands and pins sort-merge at 128, because only the row WIDTH
    // changed. The underlying corpus is spec-scale either way; dispatch
    // rides the declared arithmetic, exactly as at sf10.
    val docs = spark.read.parquet(s"$docsDir/documents.parquet")
    val claimed = 300000L
    assert(claimed * (72L + 4L * 32) <= graft.functions.pinFreeSideByteLimit)
    assert(claimed * (72L + 4L * 128) > graft.functions.pinFreeSideByteLimit)
    def feed(bands: Int) =
      Dedup.firstBandPairs(
        Dedup.bandBucketArrays(Dedup.shingleHashSets(docs), 128, bands),
        sideRows = claimed, bands = bands)
    val free = feed(32)
    free.collect()
    assert(executedNodes(free.queryExecution.executedPlan).exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastHashJoinExec]),
      "a side under the byte bound at 32 bands should free AQE to broadcast")
    val pinned = feed(128)
    pinned.collect()
    assert(executedNodes(pinned.queryExecution.executedPlan).exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.SortMergeJoinExec]),
      "the same side row count at 128 bands exceeds the byte bound and must pin sort-merge")
  }

  test("Mersenne fold in the signature pass === % (exact over the full operand range)") {
    val p31 = graft.functions.minhashPrime
    val rnd = new scala.util.Random(19L)
    var t = 0
    while (t < 200000) {
      val h = rnd.nextLong() & 0x7FFFFFFFL
      val a = (rnd.nextLong() & 0x7FFFFFFFL) % p31
      val b = (rnd.nextLong() & 0x7FFFFFFFL) % p31
      val x = h * a + b
      var v = (x & p31) + (x >>> 31)
      v = (v & p31) + (v >>> 31)
      if (v >= p31) v -= p31
      assert(v == x % p31, s"fold mismatch for x=$x")
      t += 1
    }
    // boundary cases
    for (x <- Seq(0L, 1L, p31 - 1, p31, p31 + 1, 2 * p31, (1L << 62) - 1)) {
      var v = (x & p31) + (x >>> 31)
      v = (v & p31) + (v >>> 31)
      if (v >= p31) v -= p31
      assert(v == x % p31, s"fold mismatch for boundary x=$x")
    }
  }

  test("Simhash64 expression === the 63-sum aggregate vote (legacy simhashed)") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    val hashed = Dedup.shingleHashSets(docs, 3)
      .select(col("doc_id"), explode(col("shash")).as("h"))
    val votes = (0 until 63).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L))
        .as(s"bit_$b")
    }
    val fold = (0 until 63).map { b =>
      when(col(s"bit_$b") >= 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    val legacy = hashed.groupBy("doc_id").agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), fold.as("simhash"))
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    val fast = Dedup.simhashed(docs)
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    assert(fast == legacy)
  }

  test("blocked centroid dots are bit-identical to the scalar loop") {
    // r20: dotsBlocked runs 4 independent accumulator chains; each dot
    // must still be the exact left-to-right sum of the scalar loop —
    // pinned over random matrices at k not divisible by 4, k < 4, and
    // adversarial magnitudes where FP reassociation WOULD show.
    val rnd = new scala.util.Random(7)
    for (k <- Seq(1, 2, 3, 4, 5, 7, 8, 64, 129); dim <- Seq(1, 3, 64)) {
      val v = Array.fill(dim)(
        (rnd.nextGaussian() * math.pow(10, rnd.nextInt(13) - 6)))
      val cents = Array.fill(k)(Array.fill(dim)(
        rnd.nextGaussian() * math.pow(10, rnd.nextInt(13) - 6)))
      val dots = new Array[Double](k)
      Similarity.dotsBlocked(v, cents, dots)
      cents.zipWithIndex.foreach { case (c, ci) =>
        var s = 0.0; var d = 0
        while (d < dim) { s += v(d) * c(d); d += 1 }
        assert(java.lang.Double.doubleToRawLongBits(dots(ci)) ==
          java.lang.Double.doubleToRawLongBits(s),
          s"k=$k dim=$dim ci=$ci: ${dots(ci)} vs $s")
      }
    }
  }

  /** `n` random 64-dim vectors with ids from `idBase`; every
    * `copyEvery`-th is a near-copy of the one before it, so a cell of
    * them verifies pairs. */
  private def randomVecs(n: Int, idBase: Long, seed: Int,
                         copyEvery: Int = 50): org.apache.spark.sql.DataFrame = {
    val rnd = new scala.util.Random(seed)
    var prev = Array.empty[Float]
    val rows = (0 until n).map { i =>
      val v =
        if (i % copyEvery == copyEvery - 1) prev.map(x => x + 0.05f * rnd.nextGaussian().toFloat)
        else Array.fill(64)(rnd.nextGaussian().toFloat)
      prev = v
      (idBase + i, v)
    }
    Similarity.prepared(rows.toDF("vec_id", "embedding"))
  }

  /** Twelve vectors from `idBase`, each odd one a near-copy of the one
    * before it, and their cells: the first eleven in cell 0 (block size
    * 3 leaves it a short last block) and the first six also in cell 1,
    * so their pairs share two cells. */
  private def plantedCells(idBase: Long, seed: Int)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val vecs = randomVecs(12, idBase, seed, copyEvery = 2)
    val rank = col("vec_id") - idBase
    (vecs.where(rank < 11).select(col("vec_id"), lit(0).as("cell"))
      .unionByName(vecs.where(rank < 6).select(col("vec_id"), lit(1).as("cell"))),
      vecs)
  }

  /** The forced tilings every cell-kernel spec runs besides the derived
    * block size (0): one member per block, and three. */
  private val tilings = Seq(0, 1, 3)

  test("cell pair-report kernel === the relational cell feed at any tiling") {
    // the block-tiled kernel behind dedup_embedding_lsh/_capped must
    // reproduce the relational feed's exact (a_id, b_id, cosine) set at
    // the derived block size (one block per cell here) and at forced
    // tilings of 1 and 3, on the oracle-SF cells and on the planted
    // cells (short last block; pairs sharing two cells reported once)
    import org.apache.spark.sql.DataFrame
    val emb = spark.read.parquet(s"${sf("sf0.01")}/embeddings.parquet")
    val e = Similarity.prepared(emb)
    def relational(members: DataFrame, vecs: DataFrame): Set[(Long, Long, Double)] = {
      val cand = members.as("x").join(members.as("y"),
          col("x.cell") === col("y.cell") &&
            col("x.vec_id") < col("y.vec_id"))
        .select(col("x.vec_id").as("a_id"), col("y.vec_id").as("b_id"))
        .distinct()
      cand
        .join(vecs.select(col("vec_id").as("a_id"), col("v").as("av"),
          col("norm").as("anorm")), "a_id")
        .join(vecs.select(col("vec_id").as("b_id"), col("v").as("bv"),
          col("norm").as("bnorm")), "b_id")
        .select(col("a_id"), col("b_id"),
          round(graft.functions.cosineWithNorms(
            graft.functions.dotProduct(col("av"), col("bv")),
            col("anorm"), col("bnorm")), 6).as("cosine"))
        .where(col("cosine") >= 0.45)
        .as[(Long, Long, Double)].collect().toSet
    }
    Seq((Similarity.cellAssignmentsCached(emb), e), plantedCells(0L, 11))
      .foreach { case (cells, vecs) =>
        val ref = relational(cells, vecs)
        assert(ref.nonEmpty, "each input must produce verified pairs")
        tilings.foreach { bs =>
          val got = Dedup.cellVerifiedPairs(cells, vecs, 0.45, blockSize = bs)
            .as[(Long, Long, Double)].collect().toSeq
          assert(got.toSet == ref, s"block size $bs")
          assert(got.size == ref.size, s"block size $bs: a pair reported twice")
        }
      }
  }

  test("cross-cell scan kernel === the relational cross feed (semantic decon)") {
    // the oracle-SF split, and planted cells: corpus ids 0–11 (cells 0
    // and 1 as in plantedCells, ids 6–11 also alone in cell 3) against
    // benchmark copies of every third corpus vector plus six random
    // ones, in cells 0 and 1 (each copy's pair shares both cells and is
    // reported once) and, for the random six, alone in cell 4 — cells
    // 3 and 4 each have an empty side
    import org.apache.spark.sql.DataFrame
    val all = spark.read.parquet(s"${sf("sf0.01")}/embeddings.parquet")
    val c = Similarity.prepared(all.where(col("vec_id") % 11 =!= 0))
    val b = Similarity.prepared(all.where(col("vec_id") % 11 === 0))
    val centroids = Similarity.trainIvfCentroids(c.unionByName(b), 0)
    val (plantedA, synthA) = plantedCells(0L, 12)
    val synthB = synthA.where(col("vec_id") % 3 === 0)
      .select((col("vec_id") + 100L).as("vec_id"), col("v"), col("norm"))
      .unionByName(randomVecs(6, 200L, 13))
    val synthAm = plantedA.unionByName(
      synthA.where(col("vec_id") >= 6).select(col("vec_id"), lit(3).as("cell")))
    val synthBm = synthB.select(col("vec_id"), lit(0).as("cell"))
      .unionByName(synthB.select(col("vec_id"), lit(1).as("cell")))
      .unionByName(synthB.where(col("vec_id") >= 200)
        .select(col("vec_id"), lit(4).as("cell")))
    def relational(am: DataFrame, bm: DataFrame, av: DataFrame,
                   bv: DataFrame): Set[(Long, Long, Double)] =
      am.as("c").join(bm.as("b"), col("c.cell") === col("b.cell"))
        .select(col("c.vec_id").as("a_id"), col("b.vec_id").as("b_id"))
        .distinct()
        .join(av.select(col("vec_id").as("a_id"), col("v").as("av"),
          col("norm").as("anorm")), "a_id")
        .join(bv.select(col("vec_id").as("b_id"), col("v").as("bv"),
          col("norm").as("bnorm")), "b_id")
        .select(col("a_id"), col("b_id"),
          round(graft.functions.cosineWithNorms(
            graft.functions.dotProduct(col("av"), col("bv")),
            col("anorm"), col("bnorm")), 6).as("cosine"))
        .where(col("cosine") >= 0.45)
        .as[(Long, Long, Double)].collect().toSet
    Seq((Similarity.cellAssignments(c, centroids, 2),
        Similarity.cellAssignments(b, centroids, 2), c, b),
      (synthAm, synthBm, synthA, synthB))
      .foreach { case (am, bm, av, bv) =>
        val ref = relational(am, bm, av, bv)
        assert(ref.nonEmpty)
        tilings.foreach { bs =>
          val got = Dedup.cellCrossVerifiedPairs(am, bm, av, bv, 0.45, blockSize = bs)
            .as[(Long, Long, Double)].collect().toSeq
          assert(got.toSet == ref, s"block size $bs")
          assert(got.size == ref.size, s"block size $bs: a pair reported twice")
        }
      }
  }

  /** 60 unit vectors of width `dim` with pairwise cosines under 0.7,
    * plus a near-copy (cosine ≈ 0.995) of every third one, under
    * shuffled ids. Returns the (vec_id, embedding) table and the planted
    * (a_id < b_id) pairs — the only pairs at cosine ≥ 0.9. */
  private def plantedVecs(dim: Int): (org.apache.spark.sql.DataFrame, Set[(Long, Long)]) = {
    val rnd = new scala.util.Random(dim)
    def unit(v: Array[Double]) = { val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n) }
    def dot(a: Array[Double], b: Array[Double]) = a.indices.map(i => a(i) * b(i)).sum
    val bases = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
    while (bases.length < 60) {
      val v = unit(Array.fill(dim)(rnd.nextGaussian()))
      if (bases.forall(dot(_, v) < 0.7)) bases += v
    }
    val copies = bases.indices.filter(_ % 3 == 0).map { i =>
      i -> unit(bases(i).map(_ + 0.1 / math.sqrt(dim) * rnd.nextGaussian()))
    }
    val vecs = bases ++ copies.map(_._2)
    val ids = rnd.shuffle(vecs.indices.map(_.toLong).toVector)
    val planted = copies.zipWithIndex.map { case ((i, _), c) =>
      val (x, y) = (ids(i), ids(bases.length + c))
      (math.min(x, y), math.max(x, y))
    }.toSet
    (vecs.indices.map(i => (ids(i), vecs(i).map(_.toFloat))).toDF("vec_id", "embedding"),
      planted)
  }

  test("embedding operators take the vector width from the data (dims 8 and 96)") {
    // the dim-64 specs' properties, on widths no caller declares
    import graft.operators.Contamination
    Seq(8, 96).foreach { dim =>
      val (emb, planted) = plantedVecs(dim)
      val exact = Dedup.embeddingNearDups(emb, 0.9, allPairs = true)
        .select("a_id", "b_id").as[(Long, Long)].collect().toSet
      assert(exact == planted, s"dim $dim")
      // cell report: exact-verified subset, recall as at the oracle SF
      val bucketed = Dedup.embeddingNearDups(emb, 0.9, allPairs = false)
        .select("a_id", "b_id").as[(Long, Long)].collect().toSet
      assert(bucketed.subsetOf(exact))
      assert(bucketed.size >= 0.9 * exact.size, s"dim $dim: ${bucketed.size}/${exact.size}")
      // increment: incoming side of a cross pair, larger id of an
      // in-batch pair
      val split = 40L
      val survivors = Dedup.embeddingIncrement(emb.where(col("vec_id") < split),
          emb.where(col("vec_id") >= split), threshold = 0.9)
        .select("vec_id").as[Long].collect().toSet
      assert(survivors == (split until 80L).toSet -- exact.map(_._2))
      // semantic decon: flags exactly the corpus side of cross pairs
      def inBench(id: Long) = id % 3 == 0
      val flagged = Contamination.flagSemanticOverlap(
          emb.where(col("vec_id") % 3 =!= 0), emb.where(col("vec_id") % 3 === 0),
          threshold = 0.9)
        .where(col("contaminated")).select("vec_id").as[Long].collect().toSet
      val expect = exact.collect {
        case (a, b) if inBench(a) != inBench(b) => if (inBench(a)) b else a
      }
      assert(expect.nonEmpty && flagged == expect, s"dim $dim")
      // IVF and IVF-PQ top-k against brute force
      val brute = Similarity.knnBrute(emb, col("vec_id") < 5, k = 10)
        .select("q_id", "n_id").as[(Long, Long)].collect().toSet
      val ivf = Similarity.knnIvf(emb, col("vec_id") < 5, k = 10,
          centroidsK = 8, nprobe = 4)
        .select("q_id", "n_id").as[(Long, Long)].collect().toSet
      val pq = Similarity.knnIvfPq(emb, col("vec_id") < 5, k = 10,
          centroidsK = 8, nprobe = 4, kSub = 32, refine = 10)
        .select("q_id", "n_id").as[(Long, Long)].collect().toSet
      val recallIvf = ivf.intersect(brute).size.toDouble / brute.size
      val recallPq = pq.intersect(brute).size.toDouble / brute.size
      assert(ivf.size == brute.size && pq.size == brute.size)
      assert(recallIvf >= 0.5, s"dim $dim: IVF recall $recallIvf")
      assert(recallPq >= 0.5 && recallPq >= recallIvf - 0.05,
        s"dim $dim: IVF-PQ recall $recallPq vs IVF $recallIvf")
    }
  }
}
