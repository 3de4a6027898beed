package graft

import java.nio.file.Files

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType}
import graft.pipeline.Pipeline
import graft.sinks.BatchWriter
import graft.sources.Ingestor

class IngestorSpec extends SparkSpec {

  test("table loader reads every standard table; events gets µs timestamps") {
    Ingestor.tableNames.foreach { n =>
      val df = Ingestor.table(spark, sf(), n)
      assert(df.count() > 0, s"$n empty")
    }
    // NTZ (naive) end-to-end so derived timestamps round-trip through
    // parquet the same way every other engine reads these files
    val events = Ingestor.table(spark, sf(), "events")
    assert(events.schema("ts").dataType.typeName == "timestamp_ntz")
  }

  test("csv and json sources read through the same API with schema + pushdown predicate") {
    import org.apache.spark.sql.types._
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_src").toString
    spark.read.parquet(s"${sf()}/region.parquet")
      .write.option("header", "true").csv(s"$dir/csv")
    spark.read.parquet(s"${sf()}/region.parquet").write.json(s"$dir/json")
    val schema = StructType(Seq(
      StructField("r_regionkey", IntegerType), StructField("r_name", StringType)))
    val csv = Ingestor.read(spark, s"$dir/csv", format = "csv",
      schema = Some(schema), options = Map("header" -> "true"),
      columns = Seq("r_name"), predicate = Some(col("r_regionkey") > 2))
    assert(csv.as[String].collect().toSet == Set("EUROPE", "MIDDLE EAST"))
    val json = Ingestor.read(spark, s"$dir/json", format = "json",
      schema = Some(schema), predicate = Some(col("r_name").startsWith("A")))
    assert(json.count() == 3) // AFRICA, AMERICA, ASIA
    // ORC: columnar alternative with the same pushdown behavior
    spark.read.parquet(s"${sf()}/region.parquet").write.orc(s"$dir/orc")
    val orc = Ingestor.read(spark, s"$dir/orc", format = "orc",
      columns = Seq("r_name"), predicate = Some(col("r_regionkey") > 2))
    assert(orc.as[String].collect().toSet == Set("EUROPE", "MIDDLE EAST"))
    val scan = orc.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PushedFilters") && scan.contains("GreaterThan"),
      s"orc pushdown missing:\n$scan")
  }

  test("readChunked controls split size and optional key bucketing") {
    val df = Ingestor.readChunked(spark, s"${sf()}/orders.parquet",
      maxPartitionBytes = 1024 * 1024,
      bucketBy = Some((col("o_custkey"), 6)))
    assert(df.rdd.getNumPartitions == 6)
    assert(df.count() == 1500)
    // same key lands in the same partition (co-location contract)
    val parts = df.select(col("o_custkey"), spark_partition_id().as("p"))
      .groupBy("o_custkey").agg(countDistinct(col("p")).as("n"))
      .agg(max(col("n"))).head().getLong(0)
    assert(parts == 1L)
  }

  /** `spark.read.parquet(p)`'s schema, and `p` read with
    * [[Ingestor.parquetSchema]]'s schema plus the jobs that took. */
  private def bothSchemas(p: String): (StructType, StructType, Int) = {
    val inferred = spark.read.parquet(p).schema
    var given: StructType = null
    val jobs = jobsDuring {
      given = spark.read.schema(Ingestor.parquetSchema(spark, p)).parquet(p).schema
    }
    (inferred, given, jobs)
  }

  /** A one-file `events.parquet` under a new directory whose `ts` is
    * parquet TIMESTAMP(NANOS), the older test-data vintage. */
  private def nanosEvents(): String = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val dir = Files.createTempDirectory("graft_nanos").toString
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,false)); }")
    val w = ExampleParquetWriter.builder(
        new org.apache.hadoop.fs.Path(s"$dir/events.parquet"))
      .withType(schema).withConf(spark.sparkContext.hadoopConfiguration).build()
    val rows = new SimpleGroupFactory(schema)
    try Seq(1L -> 1700000000123456789L, 2L -> -1L).foreach { case (id, ts) =>
      w.write(rows.newGroup().append("event_id", id).append("ts", ts))
    } finally w.close()
    dir
  }

  test("parquetSchema: spark.read.parquet's schema with no job, on every standard table and a nanos timestamp") {
    Ingestor.tableNames.foreach { n =>
      val (inferred, given, jobs) = bothSchemas(s"${sf()}/$n.parquet")
      assert(given == inferred, n)
      assert(jobs == 0, s"$n: $jobs jobs")
    }
    // TIMESTAMP(NANOS) surfaces as int64 under the session's nanosAsLong,
    // through the footer exactly as through inference
    val dir = nanosEvents()
    val (inferred, given, jobs) = bothSchemas(s"$dir/events.parquet")
    assert(inferred("ts").dataType == LongType)
    assert(given == inferred && jobs == 0)
    val events = Ingestor.events(spark, dir)
    assert(events.schema("ts").dataType == TimestampNTZType)
    assert(events.orderBy("event_id").select(col("ts").cast("string")).collect()
      .map(_.getString(0)).toSeq == Seq("2023-11-14 22:13:20.123456", "1969-12-31 23:59:59.999999"))
  }

  test("parquetSchema: multi-file and hive-partitioned BatchWriter directories, no job") {
    val dir = Files.createTempDirectory("graft_schema_dirs").toString
    val orders = spark.read.parquet(s"${sf()}/orders.parquet")
    BatchWriter.write(orders.repartition(3), s"$dir/flat", BatchWriter.Replace)
    val names = new java.io.File(s"$dir/flat").list().toSeq
    assert(names.contains("_SUCCESS") && names.exists(_.endsWith(".crc")) &&
      names.count(_.endsWith(".parquet")) == 3, names)
    val (flatInferred, flatGiven, flatJobs) = bothSchemas(s"$dir/flat")
    assert(flatGiven == flatInferred && flatJobs == 0)

    BatchWriter.write(orders.withColumn("bucket", (col("o_orderkey") % 3).cast("int")),
      s"$dir/parts", BatchWriter.Replace, partitionCols = Seq("o_orderpriority", "bucket"))
    val (inferred, given, jobs) = bothSchemas(s"$dir/parts")
    // the partition columns keep their names, inferred types and order
    assert(given.takeRight(2).map(f => f.name -> f.dataType.typeName) ==
      Seq("o_orderpriority" -> "string", "bucket" -> "integer"))
    assert(given == inferred && jobs == 0)
    assert(Ingestor.read(spark, s"$dir/parts").count() == orders.count())

    // mergeSchema keeps Spark's inference: the union of both files' columns
    orders.select("o_orderkey").write.parquet(s"$dir/merge/a=1")
    orders.select("o_orderkey", "o_custkey").write.parquet(s"$dir/merge/a=2")
    val merged = Ingestor.read(spark, s"$dir/merge", options = Map("mergeSchema" -> "true"))
    assert(merged.schema == spark.read.option("mergeSchema", "true").parquet(s"$dir/merge").schema)
    assert(merged.columns.toSeq == Seq("o_orderkey", "o_custkey", "a"))
  }

  test("parquetSchema: a missing path and an empty directory fail as spark.read.parquet does") {
    val empty = Files.createTempDirectory("graft_schema_empty").toString
    Files.createFile(java.nio.file.Paths.get(empty, "_SUCCESS"))
    Seq(s"$empty/nope.parquet", empty).foreach { p =>
      val spark0 = intercept[AnalysisException](spark.read.parquet(p))
      val viaHelper = intercept[AnalysisException](Ingestor.parquetSchema(spark, p))
      val viaRead = intercept[AnalysisException](Ingestor.read(spark, p))
      assert(spark0.getCondition != null)
      assert(viaHelper.getCondition == spark0.getCondition, p)
      assert(viaRead.getCondition == spark0.getCondition, p)
    }
  }

  test("healthCheck: false on a missing path and a truncated file, true on a good one, with no job") {
    val dir = Files.createTempDirectory("graft_health").toString
    val good = java.nio.file.Paths.get(s"${sf()}/orders.parquet")
    val bytes = Files.readAllBytes(good)
    Files.write(java.nio.file.Paths.get(dir, "truncated.parquet"), bytes.take(bytes.length / 2))
    def check(p: String) = Ingestor.healthCheck(spark, p, sleep = _ => ())
    var ok = false
    assert(jobsDuring { ok = check(good.toString) } == 0)
    assert(ok)
    assert(!check(s"$dir/missing.parquet"))
    assert(!check(s"$dir/truncated.parquet"))
  }

  test("a spec-driven upsert batch into an existing table runs 2 jobs") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_upsert_jobs").toString
    def day(n: Int, rows: Seq[(Long, String, Int)]): String = {
      rows.toDF("k", "region", "qty").write.parquet(s"$dir/day$n")
      s"""{"ingestion": {"path": "$dir/day$n", "columns": ["k", "region", "qty"],
         |   "predicate": "qty > 0"},
         | "transformation": [{"type": "config",
         |   "config": {"add_columns": {"src": "config_pipeline"}}}],
         | "persistence": {"path": "$dir/table", "strategy": "upsert", "keys": ["k"]}}""".stripMargin
    }
    Pipeline.runJson(spark, day(1, Seq((1L, "a", 1), (2L, "b", 2))))
    val spec = day(2, Seq((2L, "B", 3), (3L, "c", 0), (4L, "d", 4)))
    var result: Pipeline.RunResult = null
    val jobs = jobsDuring { result = Pipeline.runJson(spark, spec) }
    val ws = result.writeStats.get
    assert((ws.rowsInserted, ws.rowsUpdated, ws.rowsWritten) == (1L, 1L, 3L))
    // health check, source read and the upsert's read of the table
    // resolve their schemas from footers: none of the jobs is inference
    assert(jobs == 2, s"$jobs jobs")
  }
}
