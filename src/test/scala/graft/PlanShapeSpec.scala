package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.SparkPlan
import graft.sources.Ingestor

/** Scale-shape assertions: the plans the 100 TB story depends on —
  * pushdown reaching the parquet scan, pruned read schemas, dimension
  * joins broadcasting — verified on the real query plans, not by eye. */
class PlanShapeSpec extends SparkSpec {

  private def planString(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("ingest_pushdown: predicate and projection reach the parquet scan") {
    val df = Ingestor.read(spark, s"${sf("sf0.001")}/lineitem.parquet",
      columns = Seq("l_orderkey", "l_quantity"),
      predicate = Some(col("l_quantity") >= 45))
    val scan = df.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThanOrEqual(l_quantity,45.0)]"),
      s"missing pushed filter in: $scan")
    assert(scan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      s"unpruned read schema in: $scan")
  }

  test("q3: filtered dimension joins are broadcast, not shuffled") {
    val df = queries.Relational.queries("q3_shipping_priority")(spark, sf("sf0.001"))
    val plan = planString(df)
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join in:\n$plan")
  }

  test("q5: all five dimension joins broadcast; no shuffle join on lineitem") {
    val df = queries.Relational.queries("q5_local_supplier")(spark, sf("sf0.001"))
    val plan = planString(df)
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 4, s"expected broadcast star joins in:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"fact table should not sort-merge:\n$plan")
  }

  test("q1: aggregation is partial (map-side) before the shuffle") {
    val df = queries.Relational.queries("q1_pricing_summary")(spark, sf("sf0.001"))
    val plan = planString(df)
    assert(plan.contains("HashAggregate"), plan)
    // partial + final pair means map-side combine happened
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan)
  }

  test("bucketed embedding near-dup plan has no nested-loop pair join") {
    // the 100x screen for the deployable path: candidates come from an
    // equi-join on cell ids, so the executed plan must contain NO
    // cartesian/nested-loop operator — those belong exclusively to the
    // allPairs oracle feed (asserted as the positive control below)
    val emb = spark.read.parquet(s"${sf("sf0.001")}/embeddings.parquet")
    val bucketed = operators.Dedup.embeddingNearDups(emb, 0.45, allPairs = false)
    val bp = planString(bucketed)
    assert(!bp.contains("BroadcastNestedLoopJoin") && !bp.contains("CartesianProduct"),
      s"bucketed path fell back to a pair scan:\n$bp")
    val allPairs = operators.Dedup.embeddingNearDups(emb, 0.45, allPairs = true)
    val ap = planString(allPairs)
    assert(ap.contains("BroadcastNestedLoopJoin") || ap.contains("CartesianProduct"),
      "positive control: the oracle feed IS the all-pairs join")
  }

  test("fused triplet miner: cell-pair feed streams into a partial aggregate, no feed window") {
    // the 100 TB claim behind emb_triplets_lsh: the occupancy²-sized
    // cell self-join output must flow straight into a map-side partial
    // aggregate — never be distinct'ed, re-shuffled, or windowed. The
    // only Window in the plan is the per-cell candidate-cap rank over
    // the (corpus-sized) cells table, and Spark rewrites that rank
    // filter to WindowGroupLimit (bounded per-key state, no full sort
    // materialisation).
    val emb = spark.read.parquet(s"${sf("sf0.001")}/embeddings.parquet")
    val fused = operators.Similarity.contrastiveTripletsBucketed(emb, 0.45)
    val plan = planString(fused)
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"fused miner fell back to a pair scan:\n$plan")
    // the candidate-cap Window runs inside the cells localCheckpoint
    // (corpus-sized, WindowGroupLimit-bounded); the RETURNED plan must
    // hold no Window at all — the feed is never ranked
    assert(!plan.contains("Window ["), s"feed window leaked into the plan:\n$plan")
    // the triplet reduction is a HASH aggregate with a partial phase —
    // the packed-long argmax keeps it off SortAggregate, which would
    // sort the occupancy²-sized feed per partition before aggregating
    assert(plan.contains("HashAggregate") && plan.contains("partial_max"),
      s"no partial map-side argmax aggregate in:\n$plan")
    assert(!plan.contains("SortAggregate"),
      s"argmax fell back to SortAggregate (feed gets sorted):\n$plan")
    // ONE prep pass: the corpus vectors ride the eager cell checkpoint,
    // so the action-time plan reads checkpointed RDDs only — no fresh
    // parquet scan (and hence no second prepared() pass per join side;
    // the pre-fix plan re-scanned + re-normed the corpus once per side)
    assert(!plan.contains("Scan parquet") && !plan.contains("FileScan"),
      s"action-time plan re-scans the source (prep runs again):\n$plan")
  }

  test("merge-scan jaccard verify is codegen'd; capped emission plans as WindowGroupLimit") {
    // the fused verify's two 100 TB claims: (a) the per-pair
    // intersection runs as sorted_intersect_count INSIDE whole-stage
    // codegen (not an interpreted fallback, not the array-materialising
    // built-ins), (b) the governed reports' per-group member cap plans
    // as WindowGroupLimit (bounded per-key state), never a full
    // per-bucket sort materialisation
    val docs = spark.read.parquet(s"${sf("sf0.001")}/documents.parquet")
    // jaccardVerify directly: minhashNearDups checkpoints its result,
    // which would hide the verify plan behind an RDD scan
    val sets = operators.Dedup.shingleHashSets(docs)
    val verified = operators.Dedup.jaccardVerify(
      operators.Dedup.minhashCandidates(docs), sets, 0.8)
    val vp = planString(verified)
    assert(vp.contains("sorted_intersect_count"),
      s"verify lost the merge-scan expression:\n$vp")
    assert(!vp.contains("array_intersect") && !vp.contains("array_union"),
      s"array-materialising built-ins back in the verify:\n$vp")
    // AQE wraps the join plan and only materialises WholeStageCodegen
    // stages at execution — drive the query, then read the FINAL plan:
    // the projection carrying the merge scan must sit inside a codegen
    // stage (its line carries the `*(n)` marker)
    verified.collect()
    val finalPlan = verified.queryExecution.executedPlan.toString
    assert(finalPlan.contains("isFinalPlan=true"), finalPlan.take(500))
    val fusedInCodegen = finalPlan.linesIterator
      .filter(_.contains("sorted_intersect_count"))
      .exists(_.contains("*("))
    assert(fusedInCodegen,
      s"sorted_intersect_count fell out of whole-stage codegen:\n${finalPlan.take(2000)}")
    // the governed reports' member-cap rank filter plans as
    // WindowGroupLimit (bounded per-key state, no per-bucket sort
    // materialisation) — asserted on the pre-checkpoint plan, since the
    // shipped path eagerly checkpoints the kept members
    import org.apache.spark.sql.expressions.Window
    val buckets = operators.Dedup.bandBuckets(sets)
    val rk = org.apache.spark.sql.functions.row_number()
      .over(Window.partitionBy("bucket")
        .orderBy(org.apache.spark.sql.functions.hash(col("id")), col("id")))
    val keptShape = buckets.withColumn("__rk", rk).where(col("__rk") <= 14)
    assert(planString(keptShape).contains("WindowGroupLimit"),
      s"member cap materialises a full per-bucket sort:\n${planString(keptShape)}")
    val emb = spark.read.parquet(s"${sf("sf0.001")}/embeddings.parquet")
    val cappedEmb = operators.Dedup.embeddingNearDups(emb, 0.45,
      allPairs = false, maxPairsPerCell = 100)
    val cp = planString(cappedEmb)
    assert(!cp.contains("BroadcastNestedLoopJoin") && !cp.contains("CartesianProduct"),
      s"governed report fell back to a pair scan:\n$cp")
  }

  test("double_dot_product registered as a SQL function via extensions") {
    import spark.implicits._
    Seq((Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0))).toDF("a", "b")
      .createOrReplaceTempView("vec_pair")
    val r = spark.sql("SELECT double_dot_product(a, b) AS d FROM vec_pair")
      .as[Double].head()
    assert(r == 32.0)
    Seq((Array(1L, 3L, 7L, 9L), Array(2L, 3L, 9L, 11L))).toDF("x", "y")
      .createOrReplaceTempView("set_pair")
    val c = spark.sql("SELECT sorted_intersect_count(x, y) AS c FROM set_pair")
      .as[Int].head()
    assert(c == 2)
  }

  test("text analysis stays inside whole-stage codegen") {
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    val df = operators.TextAnalysis.qualityScore(
      spark.read.parquet(s"${sf("sf0.001")}/documents.parquet"))
    val projInCodegen = df.queryExecution.executedPlan.collect {
      case w: WholeStageCodegenExec => w.child.toString
    }.exists(_.contains("Project"))
    assert(projInCodegen, df.queryExecution.executedPlan.toString)
  }

  test("hash split is a pure projection: no shuffle, no UDF, codegen'd") {
    import org.apache.spark.sql.execution.exchange.Exchange
    val df = operators.Splits.byHash(
      spark.read.parquet(s"${sf("sf0.001")}/documents.parquet"), "doc_id")
    val plan = df.queryExecution.executedPlan
    assert(plan.collect { case e: Exchange => e }.isEmpty,
      s"split must not shuffle:\n$plan")
    // `*(n)` prefixes are whole-stage-codegen'd spans in simpleString
    assert(plan.toString.contains("*(1) Project"), plan.toString)
    assert(!plan.toString.contains("ScalaUDF"))
  }

  test("training_corpus: enrichments fuse over the scan; dedup is the only data shuffle") {
    val df = SparkEntry.queries("training_corpus")(spark, sf("sf0.001"))
    df.collect() // materialize so AQE's final physical plan is inspectable
    // AdaptiveSparkPlan prints final plan + "== Initial Plan ==": keep final
    val planStr = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    def occurrences(s: String) = planStr.sliding(s.length).count(_ == s)
    // exactly two exchanges: the dedup window's hash repartition and the
    // final presentation sort's range partition — quality/langid/filter/
    // split all fused into projections over the single scan
    assert(occurrences("Exchange hashpartitioning") == 1, planStr)
    assert(occurrences("Exchange rangepartitioning") == 1, planStr)
    assert(occurrences("FileScan parquet") == 1,
      "one scan of documents, not one per enrichment\n" + planStr)
  }

  test("swept text operators: at most ONE FileScan of documents in the executed plan") {
    // Regression pin for the r18 multi-scan defect class: divergent
    // Catalyst pruning defeats exchange reuse, so without the
    // tokenize-once checkpoint barrier these queries re-scan and
    // re-TOKENIZE the corpus once per consumer (text_bigram_lp carried
    // SIX FileScans while its doc-comment claimed one — the class
    // already rotted back once undetected). With the barrier the final
    // adaptive plan reads the checkpoint (0 scans) or the corpus once
    // (tfidf's n_docs branch); >=2 scans of documents = the barrier
    // rotted again.
    val swept = Seq("text_tfidf", "text_bigram_lp", "text_unigram_lp",
      "corpus_dsir", "text_quality_blend",
      // r19: the heavy-hitter sketches' two-pass feed joined the class
      "text_heavy_hitters", "text_heavy_hitters_grouped")
    swept.foreach { q =>
      val df = SparkEntry.queries(q)(spark, sf("sf0.001"))
      df.write.format("noop").mode("overwrite").save()
      val plan = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      val docScans = plan.linesIterator.count(l =>
        l.contains("FileScan parquet") && l.contains("documents"))
      assert(docScans <= 1,
        s"$q: $docScans FileScans of documents — the tokenize-once barrier rotted:\n$plan")
    }
  }

  test("seq_pack: every window is partitioned (no global-order single-task scan)") {
    val df = SparkEntry.queries("seq_pack")(spark, sf("sf0.001"))
    df.collect()
    val plan = planString(df).split("== Initial Plan ==")(0)
    // a partitioned Window prints 3 bracket groups (fns, partition, order);
    // a global one only 2 — every window here must partition by bucket
    val winLines = plan.linesIterator.filter(_.contains("Window [")).toSeq
    assert(winLines.nonEmpty, s"expected the within-bucket prefix-sum window in:\n$plan")
    winLines.foreach(l => assert(l.contains("[bucket#"),
      s"global (unpartitioned) window in seq_pack plan line: $l"))
    // the bucket-offset rejoin must broadcast, never shuffle the corpus
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("corpus_mix: per-domain rates broadcast onto the scan") {
    val df = SparkEntry.queries("corpus_mix")(spark, sf("sf0.001"))
    df.collect()
    assert(planString(df).contains("BroadcastHashJoin"), planString(df))
    assert(!planString(df).contains("SortMergeJoin"), planString(df))
  }

  test("kanon_suppress: one hash shuffle on the quasi-identifiers, no join") {
    val df = operators.Privacy.kAnonymize(
      Ingestor.table(spark, sf("sf0.001"), "documents"), Seq("lang", "source"), k = 3)
    df.collect()
    val plan = planString(df).split("== Initial Plan ==")(0)
    def occurrences(s: String) = plan.sliding(s.length).count(_ == s)
    assert(occurrences("Exchange hashpartitioning") == 1, plan)
    assert(!plan.contains("Join"), plan)
  }

  test("scd2_history: one data shuffle — groupBy and lead reuse the key partitioning") {
    val df = operators.Cdc.type2History(
      Ingestor.events(spark, sf("sf0.001")).select("user_id", "ts", "event_id", "event_type"),
      Seq("user_id"), Seq("ts", "event_id"), "event_type")
    df.collect()
    val plan = planString(df).split("== Initial Plan ==")(0)
    def occurrences(s: String) = plan.sliding(s.length).count(_ == s)
    // islands window, run groupBy, and the lead window all cluster by
    // user_id (or a superset), so hashpartitioning(user_id) is planned once
    assert(occurrences("Exchange hashpartitioning") == 1, plan)
  }

  test("cdc_apply: latest-wins replay is one shuffle and a windowed filter") {
    val df = SparkEntry.queries("cdc_apply")(spark, sf("sf0.001"))
    df.collect()
    val plan = planString(df).split("== Initial Plan ==")(0)
    def occurrences(s: String) = plan.sliding(s.length).count(_ == s)
    assert(occurrences("Exchange hashpartitioning") == 1, plan)
    assert(!plan.contains("Join"), plan)
  }

  test("z-order compaction keeps BOTH dimensions file-selective") {
    def ranges(dir: String, c: String): Seq[(Long, Long)] =
      spark.read.parquet(dir)
        .select(org.apache.spark.sql.functions.input_file_name().as("f"), col(c))
        .groupBy("f").agg(org.apache.spark.sql.functions.min(c).as("lo"),
          org.apache.spark.sql.functions.max(c).as("hi"))
        .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    def meanSpan(rs: Seq[(Long, Long)]): Double =
      rs.map { case (lo, hi) => (hi - lo).toDouble / 99.0 }.sum / rs.length

    // 100x100 grid of two independent dimensions
    val grid = spark.range(0, 10000)
      .selectExpr("id div 100 AS x", "id % 100 AS y", "id AS payload")
    val zDir = java.nio.file.Files.createTempDirectory("graft_zorder").toString + "/t"
    grid.repartition(8).write.parquet(zDir)
    sinks.Compaction.compact(spark, zDir, targetFileBytes = 15000,
      zOrderCols = Seq("x", "y"))
    val (zx, zy) = (ranges(zDir, "x"), ranges(zDir, "y"))
    assert(zx.length > 2, "need multiple files for the selectivity check")
    assert(meanSpan(zx) < 0.8 && meanSpan(zy) < 0.8,
      s"z-order should bound both dims: x=${meanSpan(zx)}, y=${meanSpan(zy)}")

    // contrast: a linear sort on x leaves y unselective (full-range files)
    val lDir = java.nio.file.Files.createTempDirectory("graft_linear").toString + "/t"
    grid.repartition(8).write.parquet(lDir)
    sinks.Compaction.compact(spark, lDir, targetFileBytes = 15000,
      sortCols = Seq("x"))
    assert(meanSpan(ranges(lDir, "y")) > 0.9, "linear sort shouldn't bound y")
  }

  test("compaction range-clusters output files by the sort column") {
    val dir = java.nio.file.Files.createTempDirectory("graft_pscompact").toString + "/t"
    spark.range(0, 10000).selectExpr("id", "id * 2 AS v")
      .repartition(8).write.parquet(dir)
    sinks.Compaction.compact(spark, dir, targetFileBytes = 20000, sortCols = Seq("id"))
    // each output file covers a disjoint id range (min/max stats selective)
    val perFile = spark.read.parquet(dir)
      .select(org.apache.spark.sql.functions.input_file_name().as("f"), col("id"))
      .groupBy("f").agg(org.apache.spark.sql.functions.min("id").as("lo"),
        org.apache.spark.sql.functions.max("id").as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(perFile.length > 1, "expected multiple output files for range check")
    perFile.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) =>
        assert(hi1 < lo2, s"file ranges overlap: $perFile")
      case _ =>
    }
  }
}
