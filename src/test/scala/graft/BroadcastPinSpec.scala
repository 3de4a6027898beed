package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** The r17 broadcast-roulette audit's enforcement spec (see
  * BROADCAST_AUDIT.md): `graft.functions.mergePinned` is the one
  * mechanism every audited corpus-scaled join side routes through, so
  * its dispatch — AQE-free under a PROVEN row bound, sort-merge pinned
  * above it or when unproven — is asserted here on executed adaptive
  * plans, plus the spanning feed's unconditionally pinned at-scale
  * branch. */
class BroadcastPinSpec extends SparkSpec {
  import spark.implicits._

  private def bhj(nodes: Seq[org.apache.spark.sql.execution.SparkPlan]) =
    nodes.filter(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastHashJoinExec])
  private def smj(nodes: Seq[org.apache.spark.sql.execution.SparkPlan]) =
    nodes.filter(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.SortMergeJoinExec])

  test("mergePinned: proven-tiny side frees AQE, unproven or large pins sort-merge") {
    val big = spark.range(0, 10000).select(col("id"), (col("id") * 2).as("x"))
    val small = spark.range(0, 100).select(col("id"), (col("id") + 1).as("y"))

    // proven tiny: AQE is free — on this data it broadcasts
    val free = big.join(graft.functions.mergePinned(small, 100L), "id")
    free.collect()
    assert(bhj(executedNodes(free.queryExecution.executedPlan)).nonEmpty,
      "proven-tiny side should let AQE broadcast")

    // unproven (-1, the default): pinned to sort-merge even though the
    // side is actually tiny — exactly the conversion the pin forbids
    val pinnedDefault = big.join(graft.functions.mergePinned(small), "id")
    pinnedDefault.collect()
    val nd = executedNodes(pinnedDefault.queryExecution.executedPlan)
    assert(bhj(nd).isEmpty && smj(nd).nonEmpty,
      "unproven side must pin sort-merge")

    // proven above the bound: pinned
    val pinnedBig = big.join(graft.functions.mergePinned(
      small, graft.functions.pinFreeSideRowLimit + 1), "id")
    pinnedBig.collect()
    val nb = executedNodes(pinnedBig.queryExecution.executedPlan)
    assert(bhj(nb).isEmpty && smj(nb).nonEmpty,
      "above the bound the pin must hold")

    // boundary: exactly the bound is still free (<=)
    val edge = big.join(graft.functions.mergePinned(
      small, graft.functions.pinFreeSideRowLimit), "id")
    edge.collect()
    assert(bhj(executedNodes(edge.queryExecution.executedPlan)).nonEmpty)
  }

  test("spanning feed: the residual side's proven bound scales with bands") {
    // every band puts {1, 2, 3} in one bucket; hub 1 matches neither 2
    // nor 3, so both star edges fail and each failed edge yields one
    // residual row per band: 2 x bands rows, twice what a fixed 64-band
    // bound allows at bands = 128
    val sets = Seq(
      (1L, Seq(1L, 2L)),
      (2L, Seq(30L, 31L, 32L)),
      (3L, Seq(31L, 32L, 33L))).toDF("doc_id", "shash")
    for (bands <- Seq(32, 128)) {
      val buckets = (0 until bands).flatMap(b => Seq(1L, 2L, 3L).map(id => (id, b.toLong)))
        .toDF("id", "bucket")
      val out = Dedup.spanningVerifiedPairs(buckets, sets, 0.5, bands,
          fullFeedPairLimit = 0L)
        .select("a_id", "b_id").as[(Long, Long)].collect().toSet
      assert(out == Set((2L, 3L)))
      val st = Dedup.lastSpanningStats
      val nFailed = st.starCandidates - st.starVerified
      val residualRows = 2L * bands
      assert(nFailed == 2 && st.residualBound == nFailed * bands, s"bands=$bands: $st")
      assert(st.residualBound >= residualRows, s"bands=$bands: bound below the residual rows")
    }
  }

  test("spanning feed's star/residual joins never broadcast (at-scale branch)") {
    // fullFeedPairLimit = 0 forces the spanning branch — the branch a
    // big corpus takes — on this small corpus, so the spec exercises
    // exactly the broadcasts the unconditional pins forbid. The feed
    // localCheckpoints its intermediates, so the joins live in the
    // CHECKPOINT materializations' plans, not the returned frame's —
    // a QueryExecutionListener captures every execution during the
    // call and the assertion sweeps them all for a broadcast on a
    // bucket key (bucket/hub tables are corpus x bands scaled with
    // compression-deceptive rows at scale; the r16 OOM class).
    val plans = java.util.Collections.synchronizedList(
      new java.util.ArrayList[org.apache.spark.sql.execution.SparkPlan]())
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = plans.add(qe.executedPlan)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val docs = spark.read.parquet(s"${sf("sf0.01")}/documents.parquet")
      val sets = Dedup.shingleHashSets(docs)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val feed = Dedup.spanningVerifiedPairs(
        Dedup.bandBuckets(sets), sets, threshold = 0.8, fullFeedPairLimit = 0L)
      assert(feed.count() > 0)
      sets.unpersist(false)
      // the listener bus is async: wait until the captured executions
      // include at least one sort-merge join (the pinned star join must
      // produce one), then go quiet
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      var lastSize = -1
      while (System.nanoTime() < deadline &&
             (plans.size() != lastSize || plans.size() == 0)) {
        lastSize = plans.size()
        Thread.sleep(300)
      }
      import scala.jdk.CollectionConverters._
      val nodes = plans.asScala.toSeq.flatMap(executedNodes)
      // r20 contract: the hub is a WINDOW over the checkpointed bucket
      // rows (no join at all — the strongest form of the pin), and the
      // only bucket-keyed join left (residual x members) may broadcast
      // ONLY a side with a PROVEN row bound (mergePinned on the failed-
      // edge count). Enforced by checking every bucket-keyed broadcast
      // build's MEASURED numOutputRows against the proven-free bound —
      // a corpus-scaled side can never slip through on a compressed-
      // bytes estimate (the r16 OOM class).
      assert(nodes.exists(
        _.isInstanceOf[org.apache.spark.sql.execution.window.WindowExec]),
        "spanning branch must build hubs with a window, not a join")
      val bucketBhj = bhj(nodes).collect {
        case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
            if (j.leftKeys ++ j.rightKeys).exists(_.references.exists(
              _.name.toLowerCase.contains("bucket"))) => j
      }
      val oversized = bucketBhj.flatMap { j =>
        val build = j.buildSide match {
          case org.apache.spark.sql.catalyst.optimizer.BuildLeft => j.left
          case org.apache.spark.sql.catalyst.optimizer.BuildRight => j.right
        }
        val rows = build.collect {
          case p if p.metrics.contains("numOutputRows") =>
            p.metrics("numOutputRows").value
        }
        rows.headOption.filter(_ > graft.functions.pinFreeSideRowLimit)
      }
      assert(oversized.isEmpty,
        s"a bucket-keyed broadcast build exceeded the proven-free row bound: $oversized")
    } finally spark.listenerManager.unregister(listener)
  }

  test("verify dispatch: the set-bytes limit comes from the heap; above it the verify plans sort-merge") {
    // two builds alive at once, each ~2x its payload as a hashed
    // relation, within half the heap
    val limit = Dedup.verifyBroadcastSetBytesLimit
    assert(limit == Runtime.getRuntime.maxMemory / 8)
    val sets = Seq((1L, Seq(1L, 2L, 3L)), (2L, Seq(1L, 2L, 4L)), (3L, Seq(7L)))
      .toDF("doc_id", "shash")
    val cand = Seq((1L, 2L), (1L, 3L)).toDF("a_id", "b_id")
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(key)
    // with size-based broadcasting off, only verifyPairs' own hint can
    // broadcast, so the plan shows the dispatch alone
    spark.conf.set(key, "-1")
    try {
      def planned(bytes: Long) = {
        val v = Dedup.verifyPairs(cand, sets, sets, 0.5, provenSetBytes = bytes)
        assert(v.select("a_id", "b_id").as[(Long, Long)].collect().toSeq == Seq((1L, 2L)))
        executedNodes(v.queryExecution.executedPlan)
      }
      val at = planned(limit)
      assert(bhj(at).size == 2 && smj(at).isEmpty, "at the limit both set sides broadcast")
      val above = planned(limit + 1)
      assert(bhj(above).isEmpty && smj(above).size == 2,
        "above the limit the verify must plan sort-merge")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }
}
