package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetOptions, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Batch ingestion, re-expressed Spark-first.
  *
  * The reference ingests with SQL queries + chunked pagination against a
  * source database (reference: src/pipeline/ingestion/batch_ingestor.py:67
  * `ingest`, :102 `ingest_batches`, :323 `_add_pagination`, :164 streaming
  * generator). In Spark the same capabilities are native to the source API:
  *  - pagination/chunking  -> file-split partitioned scans
  *    (`spark.sql.files.maxPartitionBytes` is the chunk size; every
  *    partition is read by an independent task — this is what makes a
  *    100 TB scan parallel across 1000 executors);
  *  - per-chunk streaming  -> lazy evaluation: nothing materialises on one
  *    node, each operator consumes partitions as an iterator;
  *  - WHERE-clause source filters -> predicate pushdown into the parquet
  *    row-group reader (verified via `PushedFilters` in the plan);
  *  - column selection -> parquet column pruning (`ReadSchema`).
  */
object Ingestor {
  val tableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Read one of the standard test tables from `dir`. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    name match {
      case "events" => events(spark, dir)
      case n        => read(spark, s"$dir/$n.parquet")
    }

  /** `events.ts` normalised to TIMESTAMP_NTZ, schema-adaptive.
    *
    * The test generator has shipped this column in two physical forms:
    * parquet TIMESTAMP(NANOS) — which Spark's reader rejects outright
    * ([PARQUET_TYPE_ILLEGAL]) unless `spark.sql.legacy.parquet.nanosAsLong`
    * (set once in [[graft.Sessions.tuning]]) surfaces it as raw int64 —
    * and plain TIMESTAMP(MICROS). Branching on the dtype actually read
    * keeps every downstream query working against either vintage of the
    * files (and against [[graft.ScaleGen]] outputs, which persist the
    * int64 form):
    *  - LongType: int64 nanos → floor to microsecond precision. Floor
    *    (not truncate-toward-zero) matches DuckDB's TIMESTAMP_NS →
    *    TIMESTAMP cast for pre-epoch instants too.
    *  - any timestamp type: already micros; just unify to NTZ.
    * The result is TIMESTAMP_NTZ: the source column is a naive
    * (wall-clock) timestamp, and keeping it NTZ end-to-end means derived
    * timestamps round-trip through parquet as naive values, exactly like
    * every other engine reading the same files (session TZ is pinned to
    * UTC, so an LTZ→NTZ cast is value-preserving). */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = read(spark, s"$dir/events.parquet")
    val ts = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        timestamp_micros(expr("(ts - pmod(ts, 1000L)) div 1000L"))
      case _ => col("ts")
    }
    raw.withColumn("ts", ts.cast("timestamp_ntz"))
  }

  /** Generic batch read with explicit projection + predicate, the Spark
    * analogue of the reference's `ingest(query=...)`: both land in the
    * scan itself (pruned ReadSchema + PushedFilters), so a 2-column query
    * over a 100-column 100 TB table reads only those column chunks.
    * A parquet read without a `schema` takes its schema from one footer
    * ([[parquetSchema]]), so building the DataFrame runs no Spark job.
    * Every batch parquet read in graft goes through here. */
  def read(spark: SparkSession,
           path: String,
           format: String = "parquet",
           schema: Option[StructType] = None,
           options: Map[String, String] = Map.empty,
           columns: Seq[String] = Nil,
           predicate: Option[Column] = None): DataFrame = {
    var r = spark.read.format(format).options(options)
    schema.orElse(if (format.equalsIgnoreCase("parquet")) footerSchema(spark, path, options)
      else None).foreach(s => r = r.schema(s))
    var df = r.load(path)
    predicate.foreach(p => df = df.where(p))
    if (columns.nonEmpty) df = df.select(columns.map(col): _*)
    df
  }

  /** The data schema of the parquet files at `path`, resolved on the
    * driver with no Spark job. Schema inference in `spark.read.parquet`
    * runs a one-task job to read what is one footer: Spark (without
    * `mergeSchema`) touches only the first data file by sorted path.
    * This lists the same leaf files with the Hadoop FS, skipping the
    * names Spark's file index skips (`_*` except `k=v` directories,
    * `.*`, `*._COPYING_`; graft writes no `_metadata` summary files),
    * and converts that file's footer with Spark's
    * own reader and session converter, so the stored Spark schema,
    * `nanosAsLong` and the other session flags apply as they do in
    * inference. Partition columns are not part of it: with a user data
    * schema Spark still discovers and appends the `k=v` columns.
    * Where [[footerSchema]] defers, this is Spark's inference. */
  def parquetSchema(spark: SparkSession, path: String): StructType =
    footerSchema(spark, path, Map.empty)
      .getOrElse(spark.read.parquet(path).schema)

  /** [[parquetSchema]]'s footer read under the read `options`, or None
    * where Spark keeps the inference: a read that merges schemas
    * (`mergeSchema` option or session flag), and a path with no data
    * file (missing, empty, a glob), so the schema or the error stays
    * Spark's own. */
  private def footerSchema(spark: SparkSession, path: String,
                           options: Map[String, String]): Option[StructType] = {
    if (new ParquetOptions(options, spark.sessionState.conf).mergeSchema) return None
    val conf = spark.sessionState.newHadoopConfWithOptions(options)
    firstDataFile(new Path(path), conf).map { f =>
      val footer = ParquetFileReader.readFooter(conf, f, ParquetMetadataConverter.SKIP_ROW_GROUPS)
      ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, footer),
        new ParquetToSparkSchemaConverter(spark.sessionState.conf))
    }
  }

  /** The file Spark's parquet inference reads the schema from: the
    * first listed data file by sorted path, or None if there is none. */
  private def firstDataFile(root: Path,
                            conf: org.apache.hadoop.conf.Configuration): Option[FileStatus] = {
    val fs = root.getFileSystem(conf)
    def hidden(name: String) = (name.startsWith("_") && !name.contains("=")) ||
      name.startsWith(".") || name.endsWith("._COPYING_")
    def leaves(s: FileStatus): Seq[FileStatus] =
      if (!s.isDirectory) Seq(s)
      else fs.listStatus(s.getPath).toSeq
        .filterNot(c => hidden(c.getPath.getName)).flatMap(leaves)
    val files = if (fs.exists(root)) leaves(fs.getFileStatus(root)) else Nil
    files.sortBy(_.getPath.toString).headOption
  }

  /** Table introspection (reference `get_table_info`,
    * batch_ingestor.py:375): column names/types/nullability from one
    * parquet footer on the driver ([[parquetSchema]]), plus the row
    * count, which is the one job. */
  def describeTable(spark: SparkSession, path: String): (StructType, Long) = {
    val df = read(spark, path)
    (df.schema, df.count())
  }

  /** Source health check with backoff (reference
    * connection_manager.py:147 `health_check`; JDBC variant at
    * [[JdbcIngestor.healthCheck]]): true iff the path exists and its
    * schema resolves. For parquet that is [[parquetSchema]]: a listing
    * and one footer read on the driver, no data scan and no job (a
    * missing path, a truncated file or an empty directory fails it);
    * other formats still resolve through Spark's inference. Runs
    * driver-side BEFORE a read is planned, so a missing/corrupt source
    * fails one pipeline in milliseconds instead of surfacing as
    * thousands of scheduled-task failures mid-job. */
  def healthCheck(spark: SparkSession, path: String,
                  format: String = "parquet",
                  maxRetries: Int = 3, baseDelayMs: Long = 100,
                  sleep: Long => Unit = Thread.sleep): Boolean =
    try {
      graft.pipeline.Retry.withBackoff(maxAttempts = maxRetries,
        baseDelayMs = baseDelayMs, sleep = sleep) {
        val p = new Path(path)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (!fs.exists(p)) throw new java.io.FileNotFoundException(path)
        if (format.equalsIgnoreCase("parquet")) parquetSchema(spark, path)
        else spark.read.format(format).load(path).schema
      }
      true
    } catch { case scala.util.control.NonFatal(_) => false }

  /** Chunked-read semantics (reference `ingest_batches`, batch_ingestor.py:102):
    * in Spark a scan is already chunked by file splits; this controls the
    * split size so each task's chunk fits executor memory, and optionally
    * re-buckets by a key so downstream per-key work is co-located. */
  def readChunked(spark: SparkSession,
                  path: String,
                  maxPartitionBytes: Long = 128L * 1024 * 1024,
                  bucketBy: Option[(Column, Int)] = None): DataFrame = {
    spark.conf.set("spark.sql.files.maxPartitionBytes", maxPartitionBytes.toString)
    val df = read(spark, path)
    bucketBy match {
      case Some((key, n)) => df.repartition(n, key)
      case None           => df
    }
  }
}
