package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Ingestor

/** Change-data-capture semantics over ordinary DataFrames: replaying an
  * insert/update/delete changelog into current state, and building
  * slowly-changing-dimension (type 2) history from an event stream.
  * These are the warehouse-side operators a pipeline platform needs the
  * moment its sources are databases rather than append-only files (the
  * reference's JDBC ingestion story implies exactly this downstream).
  *
  * Both are single-shuffle plans: one hash partition by key, one
  * ordered window pass within each key. No driver-side state, no
  * iteration — history length per key only affects partition skew,
  * which AQE's skew handling covers at scale.
  */
object Cdc {

  /** Replay a changelog into final state: for each key keep only the
    * latest change (by `seqCols`, which must be a deterministic total
    * order within a key — e.g. ts + change id), then drop keys whose
    * latest op is a delete. Output = the non-deleted latest rows. */
  def applyChangeLog(log: DataFrame, keyCols: Seq[String], seqCols: Seq[String],
                     opCol: String = "op", deleteOp: String = "D"): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(seqCols.map(c => col(c).desc): _*)
    log.withColumn("__rk", row_number().over(w))
      .where(col("__rk") === 1 && col(opCol) =!= deleteOp)
      .drop("__rk")
  }

  /** Type-2 SCD history: collapse each key's consecutive runs of equal
    * `stateCol` values (ordered by `seqCols`) into one row per run with
    * `valid_from` (first seq value of the run), `valid_to` (start of the
    * next run, null while current), `is_current`, and `n_events` in the
    * run. The run id is the classic gaps-and-islands running sum of
    * change flags — two window passes over the same key partitioning,
    * one shuffle total. */
  def type2History(df: DataFrame, keyCols: Seq[String], seqCols: Seq[String],
                   stateCol: String): DataFrame = {
    val keys = keyCols.map(col)
    val ord = seqCols.map(col)
    val w = Window.partitionBy(keys: _*).orderBy(ord: _*)
    val wRun = Window.partitionBy(keys :+ col("__run"): _*)
    val changed = when(
      lag(col(stateCol), 1).over(w).isNull ||
        lag(col(stateCol), 1).over(w) =!= col(stateCol), 1L).otherwise(0L)
    val runs = df
      .withColumn("__chg", changed)
      .withColumn("__run", sum("__chg").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val seqFirst = seqCols.head
    val grouped = runs.groupBy(keys :+ col("__run"): _*)
      .agg(
        first(col(stateCol)).as(stateCol),
        min(col(seqFirst)).as("valid_from"),
        count(lit(1)).as("n_events"))
    val wNext = Window.partitionBy(keys: _*).orderBy(col("__run"))
    grouped
      .withColumn("valid_to", lead(col("valid_from"), 1).over(wNext))
      .withColumn("is_current", col("valid_to").isNull)
      .drop("__run")
  }

  /** Snapshot diff — the inverse direction of [[applyChangeLog]]:
    * derive the change set BETWEEN two corpus snapshots (added /
    * removed / changed / unchanged per key), the dataset-versioning
    * delta a release pipeline publishes alongside each refresh.
    *
    * Scale shape: each side collapses to (key, md5-of-payload) BEFORE
    * the join, so the one full-outer hash join ships an id and a
    * 32-char fingerprint per row — never document payloads. At 100 TB
    * the fingerprint scans are map-side column-pruned passes and the
    * join is the only shuffle. */
  def snapshotDiff(oldSnap: DataFrame, newSnap: DataFrame,
                   idCol: String = "doc_id",
                   payloadCols: Seq[String] = Seq("text")): DataFrame = {
    def fp(df: DataFrame, as: String) = df.select(col(idCol),
      md5(concat_ws("", payloadCols.map(col): _*)).as(as))
    fp(oldSnap, "__old_fp")
      .join(fp(newSnap, "__new_fp"), Seq(idCol), "full_outer")
      .withColumn("change",
        when(col("__old_fp").isNull, lit("added"))
          .when(col("__new_fp").isNull, lit("removed"))
          .when(col("__old_fp") =!= col("__new_fp"), lit("changed"))
          .otherwise(lit("unchanged")))
      .select(col(idCol), col("change"))
  }

  /** Distribution DRIFT between two corpus releases — the statistical
    * companion of [[snapshotDiff]]'s row-level report: a release can be
    * row-wise healthy (every change intentional) while its COMPOSITION
    * silently shifts (a crawler starts over-sampling one domain, a
    * filter update halves one language), which changes what a model
    * trained on it learns. For each monitored dimension (a named
    * categorical expression: language, source, a length bucket, …)
    * both sides aggregate to per-cell counts; cells full-outer join so
    * appearing/vanishing cells surface with a zero side; shares and the
    * per-cell total-variation contribution `drift = |share_new -
    * share_old|` are reported at fixed 6-dp so the report is
    * engine-exact. Σ drift / 2 per dimension is the TV distance.
    *
    * Scale shape: each dimension is one map-side-combined count
    * aggregate per side (output = cell cardinality, a handful of rows);
    * the join and window run on that group-sized relation. Document
    * payloads never shuffle — at 100 TB the cost is the two
    * column-pruned scans, shared across all dimensions via one
    * unioned aggregate each. */
  /** Per-(dim, cell) counts for every monitored dimension — the one
    * aggregate shape [[distributionDrift]], the stored reference
    * profile, and the streaming drift monitor all share. */
  private[graft] def sideCountsFor(df: DataFrame, dims: Seq[(String, Column)],
                                   as: String): DataFrame =
    dims.map { case (name, expr) =>
      df.groupBy(expr.cast("string").as("cell"))
        .agg(count(lit(1)).as(as))
        .select(lit(name).as("dim"), col("cell"), col(as))
    }.reduce(_ unionByName _)

  def distributionDrift(oldSnap: DataFrame, newSnap: DataFrame,
                        dims: Seq[(String, Column)]): DataFrame = {
    def sideCounts(df: DataFrame, as: String): DataFrame =
      sideCountsFor(df, dims, as)
    val joined = sideCounts(oldSnap, "n_old")
      .join(sideCounts(newSnap, "n_new"), Seq("dim", "cell"), "full_outer")
      .select(col("dim"), col("cell"),
        coalesce(col("n_old"), lit(0L)).as("n_old"),
        coalesce(col("n_new"), lit(0L)).as("n_new"))
    val w = Window.partitionBy("dim")
    joined
      .withColumn("share_old", round(col("n_old") / sum("n_old").over(w), 6))
      .withColumn("share_new", round(col("n_new") / sum("n_new").over(w), 6))
      .withColumn("drift", round(abs(col("share_new") - col("share_old")), 6))
  }

  /** Persist a composition REFERENCE PROFILE for `df` over `dims` —
    * the baseline the streaming drift monitor compares every arriving
    * batch against. The profile is cell-cardinality-sized (a handful of
    * rows per dimension), built in one unioned map-side-combined
    * aggregate; `meta` records the dimension names LAST as the
    * completeness marker, and a monitor refuses a profile whose
    * dimensions don't match its own — comparing `lang` shares against a
    * `source` profile must be a loud error, not a quiet zero-drift. */
  def buildDriftReference(df: DataFrame, dims: Seq[(String, Column)],
                          dir: String): Unit = {
    val spark = df.sparkSession
    import spark.implicits._
    val metaPath = new org.apache.hadoop.fs.Path(s"$dir/meta")
    val f = metaPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (f.exists(metaPath)) f.delete(metaPath, true)
    sideCountsFor(df, dims, "n_ref")
      .write.mode("overwrite").parquet(s"$dir/ref")
    Seq(dims.map(_._1).mkString(",")).toDF("dims")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
  }

  /** One batch's composition vs a stored reference profile
    * ([[buildDriftReference]]): per (dim, cell) the reference and batch
    * shares plus the total-variation contribution, full-outer joined so
    * cells the reference never saw (and cells the batch is missing)
    * surface with a zero side. 6-dp-rounded — deterministic given
    * (batch, profile), which is what makes the streaming monitor's
    * replay idempotent. The profile relation is cell-sized, so at any
    * corpus scale the batch pays its own aggregate + a broadcast-sized
    * join. */
  def driftAgainstReference(batch: DataFrame, dims: Seq[(String, Column)],
                            refDir: String): DataFrame = {
    val spark = batch.sparkSession
    import spark.implicits._
    val stored = Ingestor.read(spark, s"$refDir/meta")
      .select("dims").as[String].head()
    val mine = dims.map(_._1).mkString(",")
    require(stored == mine,
      s"drift profile at $refDir monitors [$stored] but the caller asked for [$mine]")
    val ref = Ingestor.read(spark, s"$refDir/ref")
    val w = Window.partitionBy("dim")
    sideCountsFor(batch, dims, "n_batch")
      .join(ref, Seq("dim", "cell"), "full_outer")
      .select(col("dim"), col("cell"),
        coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        coalesce(col("n_batch"), lit(0L)).as("n_batch"))
      .withColumn("share_ref", round(col("n_ref") / sum("n_ref").over(w), 6))
      .withColumn("share_batch", round(col("n_batch") / sum("n_batch").over(w), 6))
      .withColumn("drift", round(abs(col("share_batch") - col("share_ref")), 6))
  }
}
