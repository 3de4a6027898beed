package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Ingestor

/** Deterministic scale-up generator: builds an sf-N dataset from an
  * existing sf directory by replicating every table `factor` times with
  * consistent key offsets, so the result is referentially intact (every
  * shifted `o_custkey` still finds its shifted customer, every shifted
  * `l_orderkey` its order) and every distribution — dates, prices,
  * flags, text lengths, session gaps — is preserved exactly. This is
  * the scale-evidence harness: bench the same 88 queries at 10x the
  * rows and compare against the sf0.1 record; anything super-linear is
  * a hidden driver-side or skew bottleneck that 100 TB would amplify.
  *
  * Mechanics (scale-safe by construction): each table is cross-joined
  * against a BROADCAST `replica ∈ [0, factor)` range — a narrow,
  * shuffle-free map over the source scan — and key columns are shifted
  * by `replica * span` where span = max(key)+1 measured from the
  * source. Dimension tables fixed across TPC-H scale factors (region,
  * nation) are copied through unchanged, exactly as dbgen does.
  *
  * Intentional semantic choices, documented because dedup/ANN queries
  * see them:
  *  - `documents.text` gets a per-replica suffix (` r<i>`, i>0), so the
  *    scaled corpus is ~90% NEAR-duplicates in groups of `factor` —
  *    a deliberate worst-case dedup stress (bounded group size, so
  *    candidate pairs grow linearly: groups x C(factor,2), never
  *    all-pairs). `n_chars` is recomputed from the new text.
  *  - `embeddings.embedding` gets element 0 perturbed by `replica *
  *    1e-3`, so replicas are distinct points (no degenerate top-k ties)
  *    while the vector-space clustering structure survives.
  *  - `events.ts` is copied through in whatever physical form the source
  *    files carry (int64 nanos under `nanosAsLong`, or plain TIMESTAMP);
  *    Ingestor.events is schema-adaptive and treats both identically.
  */
object ScaleGen {

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "data/sf1"
    val factor = if (args.length > 2) args(2).toInt else 10
    val spark = Sessions.local(appName = "graft-scalegen")
    spark.sparkContext.setLogLevel("WARN")
    generate(spark, src, out, factor)
    spark.stop()
  }

  def generate(spark: SparkSession, src: String, out: String, factor: Int): Unit = {
    def read(name: String) = Ingestor.read(spark, s"$src/$name.parquet")
    // span = max(key)+1: one driver-sized row per table, read once so
    // every referencing table shifts by the same stride.
    def span(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head.getLong(0) + 1L

    val customer = read("customer"); val custSpan = span(customer, "c_custkey")
    val supplier = read("supplier"); val suppSpan = span(supplier, "s_suppkey")
    val part     = read("part");     val partSpan = span(part, "p_partkey")
    val orders   = read("orders");   val ordSpan  = span(orders, "o_orderkey")
    val events   = read("events")
    val evSpan   = span(events, "event_id")
    val userSpan = span(events, "user_id")
    val docs     = read("documents"); val docSpan = span(docs, "doc_id")
    val embs     = read("embeddings"); val vecSpan = span(embs, "vec_id")

    // Broadcast replica axis: the cross join is a narrow flatMap over
    // the source scan — zero shuffle, streams straight into the writer.
    val reps = broadcast(spark.range(factor).select(col("id").as("__rep")))
    def shifted(df: DataFrame, shifts: (String, Long)*): DataFrame = {
      val base = df.crossJoin(reps)
      shifts.foldLeft(base) { case (d, (c, s)) =>
        d.withColumn(c, col(c) + col("__rep") * s)
      }
    }
    def write(df: DataFrame, name: String, files: Int): Unit =
      df.drop("__rep").repartition(files)
        .write.mode("overwrite").parquet(s"$out/$name.parquet")

    // Fixed dims: copied through, same as dbgen at any SF.
    read("region").write.mode("overwrite").parquet(s"$out/region.parquet")
    read("nation").write.mode("overwrite").parquet(s"$out/nation.parquet")

    write(shifted(customer, "c_custkey" -> custSpan), "customer", 4)
    write(shifted(supplier, "s_suppkey" -> suppSpan), "supplier", 1)
    write(shifted(part, "p_partkey" -> partSpan), "part", 4)
    write(shifted(orders, "o_orderkey" -> ordSpan, "o_custkey" -> custSpan),
      "orders", 8)
    write(shifted(read("lineitem"),
        "l_orderkey" -> ordSpan, "l_partkey" -> partSpan,
        "l_suppkey" -> suppSpan),
      "lineitem", 16)
    // user_id shift keeps each replica's sessions disjoint, so the
    // sessionize/funnel/cohort structure is N independent copies.
    write(shifted(events, "event_id" -> evSpan, "user_id" -> userSpan),
      "events", 8)
    write(
      shifted(docs, "doc_id" -> docSpan)
        .withColumn("text",
          when(col("__rep") === 0, col("text"))
            .otherwise(concat(col("text"), lit(" r"), col("__rep"))))
        .withColumn("n_chars", length(col("text")).cast("long")),
      "documents", 4)
    write(
      shifted(embs, "vec_id" -> vecSpan)
        .withColumn("embedding",
          transform(col("embedding"), (x, i) =>
            when(i === 0, x + col("__rep").cast("float") * lit(1e-3f))
              .otherwise(x))),
      "embeddings", 4)
  }
}
