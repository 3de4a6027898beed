package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Contamination, Dedup, Similarity}

/** The lazy contract of the four curation builders the daily-drop loop
  * runs (text near-dup against stored state, embedding dedup, semantic
  * decontamination, IVF-PQ search): each checkpoints its prepared
  * inputs once and returns ONE lazy plan that the caller's action runs.
  * Pinned here: the Spark jobs a build fires before any action, and
  * that the returned plan stays readable after the driver collects
  * everything else — the checkpoints it reads are freed by the
  * ContextCleaner only once the plan itself is dropped. */
class LazyCurationSpec extends SparkSpec {

  private def docs = spark.read.parquet(s"${sf("sf0.01")}/documents.parquet")
  private def emb = spark.read.parquet(s"${sf("sf0.01")}/embeddings.parquet")

  private lazy val stateDir = {
    val dir = java.nio.file.Files.createTempDirectory("graft_lazy_state").toString
    Dedup.buildNearDupState(docs.where(col("doc_id") < 250), dir)
    dir
  }

  /** The four builders, each over the oracle-scale data. */
  private def builders: Seq[(String, () => DataFrame)] = Seq(
    "nearDupIncrementStored" -> (() =>
      Dedup.nearDupIncrementStored(docs.where(col("doc_id") >= 250), stateDir)),
    "embeddingIncrement" -> (() =>
      Dedup.embeddingIncrement(emb.where(col("vec_id") < 250),
        emb.where(col("vec_id") >= 250), threshold = 0.45)),
    "flagSemanticOverlap" -> (() =>
      Contamination.flagSemanticOverlap(emb.where(col("vec_id") % 11 =!= 0),
        emb.where(col("vec_id") % 11 === 0), threshold = 0.45)),
    "knnIvfPq" -> (() => Similarity.knnIvfPq(emb, col("vec_id") < 5, k = 10)))

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("curation builders fire only their checkpoint and dispatch jobs at construction") {
    stateDir // the state build is not part of any probe's construction
    // per builder: its input checkpoints plus the dispatch aggregates
    // and IVF training that cannot wait for the action; the verify,
    // union and anti-join run at the caller's action
    val expected = Map(
      "nearDupIncrementStored" -> 8,
      "embeddingIncrement" -> 14,
      "flagSemanticOverlap" -> 11,
      "knnIvfPq" -> 12)
    val fired = builders.map { case (name, build) =>
      name -> jobsDuring { build() }
    }.toMap
    assert(fired == expected)
  }

  test("the four cell kernels fire no job at construction") {
    // block layout, width and block size all come from the plan itself:
    // no width probe and no pair-volume aggregate runs before an action
    val e = Similarity.prepared(emb).localCheckpoint()
    val cells = Similarity.cellAssignmentsCached(emb)
    val (a, b) = (cells.where(col("vec_id") % 11 =!= 0), cells.where(col("vec_id") % 11 === 0))
    val kernels: Seq[(String, () => DataFrame)] = Seq(
      "cellVerifiedPairs" -> (() => Dedup.cellVerifiedPairs(cells, e, 0.45)),
      "cellCrossVerifiedPairs" -> (() => Dedup.cellCrossVerifiedPairs(a, b, e, e, 0.45)),
      "embeddingSelfDroppedIds" -> (() => Dedup.embeddingSelfDroppedIds(cells, e, 0.45)),
      "embeddingCellForestEdges" -> (() => Dedup.embeddingCellForestEdges(cells, e, 0.45)))
    val fired = kernels.map { case (name, build) => name -> jobsDuring { build() } }
    assert(fired.forall(_._2 == 0), fired)
  }

  test("a built plan survives the ContextCleaner: collected twice after GC, equal to an eager reference") {
    val sc = spark.sparkContext
    def persisted: Set[Int] = sc.getPersistentRDDs.keySet.toSet
    builders.foreach { case (name, build) =>
      // eager reference: the rows of a plan collected right after its build
      val reference = rows(build())
      val before = persisted
      var held = build()
      val heldIds = persisted -- before
      assert(heldIds.nonEmpty, s"$name: the build should checkpoint its inputs")
      // a second build dropped at once gives the cleaner work; wait
      // (bounded) until it frees that build's checkpoints
      build()
      val droppedIds = persisted -- before -- heldIds
      val deadline = System.nanoTime() + 5L * 1000 * 1000 * 1000
      while ((persisted & droppedIds).nonEmpty && System.nanoTime() < deadline) {
        System.gc()
        Thread.sleep(200)
      }
      assert(heldIds.subsetOf(persisted),
        s"$name: the held plan's checkpoints were freed while it was alive")
      assert(rows(held) == reference, s"$name: first collect after GC")
      assert(rows(held) == reference, s"$name: second collect after GC")
      held = null
    }
  }
}
