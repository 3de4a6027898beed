package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

import graft.streaming.EventStream
import graft.operators.{Contamination, Dedup, Multimodal, Similarity}
import graft.sources.Ingestor

/** Streaming-sink throughput bench: drives every streaming ingest /
  * serve sink through its (package-visible) per-micro-batch core over a
  * real SF's tables split into B deterministic batches, and records
  * rows/s plus the per-batch wall-time CURVE — the evidence the scale
  * story needs: a flat curve means per-batch cost tracks the batch and
  * its collisions, a growing curve means the sink re-pays the stream's
  * history every batch.
  *
  *   SPARK_GRAFT_SF_DIR=data/sf1 sbt "runMain graft.StreamBench"
  *   (args: [sfDir] [outPath] [nBatches]; defaults sf0.1, STREAMBENCH.json, 8)
  *
  * The batch cores are driven directly (same code the foreachBatch
  * lambdas run) rather than through a MemoryStream + engine loop: the
  * engine's own per-trigger overhead is milliseconds and identical
  * across sinks, while checkpoint fsyncs would add noise the per-batch
  * numbers don't need. Setup artifacts (IVF-PQ index, embedding-dedup
  * model, benchmark index, drift reference) are built OUTSIDE the
  * timed region — they are release-time costs, benched separately by
  * the batch suite's stored-artifact entries.
  *
  * For the two stateful dedup sinks the final batch is additionally
  * decomposed: `probe_s` re-times just the state-probe + verify
  * (the nearDupStateStep/embeddingStateStep core with state loaded
  * from the durable tables, outputs materialised, nothing written) —
  * the difference to the batch's full replay time is the
  * state-append (parquet write) share. */
object StreamBench {

  private case class SinkResult(rows: Long, batchMs: Seq[Long],
                                extra: Map[String, Double] = Map.empty)

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0)
      else sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outPath = if (args.length > 1) args(1) else "STREAMBENCH.json"
    val nBatches = if (args.length > 2) args(2).toInt else 8
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
    import spark.implicits._

    val base = Files.createTempDirectory("graft_streambench").toString
    val docs = Ingestor.read(spark, s"$sfDir/documents.parquet")
      .localCheckpoint() // batches must not re-pay the source scan
    val emb = Ingestor.read(spark, s"$sfDir/embeddings.parquet").localCheckpoint()
    val nDocs = docs.count()
    val nEmb = emb.count()
    def docBatch(b: Int): DataFrame = docs.where(col("doc_id") % nBatches === b)
    def embStreamSide(b: Int): DataFrame =
      emb.where(col("vec_id") % 2 === 1 && pmod(col("vec_id"), lit(2 * nBatches)) === 2 * b + 1)

    def timed[A](f: => A): (A, Long) = {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1000000)
    }
    def runSink(name: String, rows: Long)(runBatch: Int => Unit)
        (decompose: => Map[String, Double] = Map.empty): (String, SinkResult) = {
      val times = (0 until nBatches).map { b => timed(runBatch(b))._2 }
      val res = SinkResult(rows, times, decompose)
      System.err.println(f"[streambench] $name%-24s ${rows}%8d rows  " +
        f"${times.sum / 1000.0}%7.1f s  ${rows * 1000.0 / math.max(1L, times.sum)}%9.0f rows/s  " +
        s"batches ${times.mkString(",")} ms ${res.extra}")
      name -> res
    }

    // ---- setup artifacts (untimed: release-time costs) ----
    val modelHalf = emb.where(col("vec_id") % 2 === 0)
    Dedup.buildEmbeddingDedupState(modelHalf, s"$base/embmodel")
    Similarity.buildIvfPqIndex(emb, s"$base/annindex")
    Contamination.buildBenchmarkIndex(
      docs.where(col("doc_id") % 97 === 0).select(col("doc_id"), col("text")),
      s"$base/benchindex", n = 8)
    val dims = Seq("lang" -> col("lang"), "source" -> col("source"))
    graft.operators.Cdc.buildDriftReference(docs, dims, s"$base/driftref")

    val results = scala.collection.mutable.LinkedHashMap.empty[String, SinkResult]

    results += runSink("dedup_exact_ingest", nDocs) { b =>
      EventStream.dedupIngestBatch(docBatch(b), s"$base/ex/corpus", s"$base/ex/fp")
    }()

    val ndState = s"$base/nd/state"
    results += runSink("neardup_ingest", nDocs) { b =>
      EventStream.nearDupIngestBatch(docBatch(b), b.toLong,
        s"$base/nd/corpus", ndState, 0.8)
    } {
      // decompose the final batch: probe+verify alone vs full replay
      val lastB = nBatches - 1
      def earlier(dir: String) = EventStream.earlierBatches(spark, dir, lastB).get
      val (_, probeMs) = timed {
        val (kept, ks, kb) = Dedup.nearDupStateStep(
          earlier(s"$ndState/shingle_sets"), earlier(s"$ndState/band_buckets"),
          docBatch(lastB), 0.8)
        kept.count(); ks.count(); kb.count()
      }
      val (_, replayMs) = timed {
        EventStream.nearDupIngestBatch(docBatch(lastB), lastB.toLong,
          s"$base/nd/corpus", ndState, 0.8)
      }
      Map("probe_s" -> probeMs / 1000.0,
        "append_s_est" -> math.max(0L, replayMs - probeMs) / 1000.0)
    }

    val emState = s"$base/em/state"
    val streamRows = (0 until nBatches).map(b => embStreamSide(b).count()).sum
    results += runSink("embedding_dedup_ingest", streamRows) { b =>
      EventStream.embeddingDedupIngestBatch(embStreamSide(b), b.toLong,
        s"$base/embmodel", s"$base/em/corpus", emState, 0.45)
    } {
      val lastB = nBatches - 1
      def earlier(dir: String) = EventStream.earlierBatches(spark, dir, lastB).get
      val model = Dedup.storedEmbeddingModel(spark, s"$base/embmodel")
      val exVecs = model.vectors.unionByName(earlier(s"$emState/vectors"))
      val exCells = model.cells.unionByName(earlier(s"$emState/cells"))
      val (_, probeMs) = timed {
        val (kept, kv, kc) = Dedup.embeddingStateStep(exVecs, exCells,
          model.centroids, embStreamSide(lastB), 0.45, model.assign)
        kept.count(); kv.count(); kc.count()
      }
      val (_, replayMs) = timed {
        EventStream.embeddingDedupIngestBatch(embStreamSide(lastB), lastB.toLong,
          s"$base/embmodel", s"$base/em/corpus", emState, 0.45)
      }
      Map("probe_s" -> probeMs / 1000.0,
        "append_s_est" -> math.max(0L, replayMs - probeMs) / 1000.0)
    }

    results += runSink("ann_serve", nEmb) { b =>
      EventStream.annServeBatch(
        emb.where(col("vec_id") % nBatches === b)
          .select((col("vec_id") + 10000000L).as("vec_id"), col("embedding")),
        b.toLong, emb, s"$base/annindex", s"$base/ann/results", 10, 4, 5)
    }()

    results += runSink("decontaminate_ingest", nDocs) { b =>
      EventStream.decontaminateIngestBatch(docBatch(b), b.toLong,
        s"$base/benchindex", s"$base/deco/corpus")
    }()

    results += runSink("heavy_hitters_ingest", nDocs) { b =>
      EventStream.heavyHitterBatch(docBatch(b), b.toLong,
        s"$base/hh/state", 4096, "text")
    }()

    results += runSink("drift_monitor", nDocs) { b =>
      EventStream.driftMonitorBatch(docBatch(b), b.toLong, dims,
        s"$base/driftref", s"$base/drift/reports")
    }()

    results += runSink("media_screen_ingest", nDocs) { b =>
      EventStream.mediaScreenIngestBatch(Multimodal.withMedia(docBatch(b)),
        b.toLong, s"$base/media/corpus", s"$base/media/quarantine",
        1L << 20, 1L << 22, Seq("jpeg", "png", "webp"), 2)
    }()

    val json = results.map { case (name, r) =>
      val extras = r.extra.map { case (k, v) => s""""$k": $v""" }
      val fields = Seq(
        s""""rows": ${r.rows}""",
        s""""total_s": ${r.batchMs.sum / 1000.0}""",
        s""""rows_per_s": ${math.round(r.rows * 1000.0 / math.max(1L, r.batchMs.sum))}""",
        s""""batch_ms": [${r.batchMs.mkString(", ")}]""") ++ extras
      s""""$name": {${fields.mkString(", ")}}"""
    }.mkString(s"""{"sf_dir": "$sfDir", "n_batches": $nBatches, "sinks": {""", ", ", "}}")
    Files.writeString(Paths.get(outPath), json)
    System.err.println(s"[streambench] -> $outPath")
    spark.stop()
  }
}
