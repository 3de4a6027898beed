package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.sinks.BatchWriter
import graft.pipeline.{IdempotencyLedger, Pipeline, Retry}

/** BatchWriter strategies (reference tests/unit/test_batch_writer.py),
  * idempotency ledger (test_idempotency.py), retry (test_retry.py), and
  * the end-to-end pipeline flow (tests/integration/test_pipeline_flow.py). */
class PersistenceSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft_spec").toString + "/tbl"

  private def base = Seq(
    (1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0),
  ).toDF("k", "name", "v")

  test("INSERT creates, second INSERT fails") {
    val p = tmp()
    val st = BatchWriter.write(base, p, BatchWriter.Insert)
    assert(st.rowsWritten == 3)
    intercept[Exception] { BatchWriter.write(base, p, BatchWriter.Insert) }
  }

  test("APPEND adds rows; REPLACE truncates; stats come free, table count opt-in") {
    val p = tmp()
    BatchWriter.write(base, p, BatchWriter.Append)
    // rowsWritten = this operation's rows (observed in the write job);
    // tableRows = whole-table count, only when explicitly requested
    val st2 = BatchWriter.write(base, p, BatchWriter.Append, countTable = true)
    assert(st2.rowsWritten == 3 && st2.tableRows == 6)
    val st3 = BatchWriter.write(base, p, BatchWriter.Replace)
    assert(st3.rowsWritten == 3 && st3.tableRows == -1)
  }

  test("UPSERT: delta wins on key, non-matching rows survive; stats split ins/upd") {
    val p = tmp()
    BatchWriter.write(base, p, BatchWriter.Insert)
    val delta = Seq((2L, "b2", 99.0), (4L, "d", 40.0)).toDF("k", "name", "v")
    val st = BatchWriter.write(delta, p, BatchWriter.Upsert(Seq("k")))
    assert(st.rowsWritten == 4) // merged table: 2 delta + 2 survivors
    assert(st.rowsInserted == 1 && st.rowsUpdated == 1)
    val out = spark.read.parquet(p).orderBy("k")
      .as[(Long, String, Double)].collect().toSeq
    assert(out == Seq((1L, "a", 10.0), (2L, "b2", 99.0), (3L, "c", 30.0), (4L, "d", 40.0)))
  }

  test("partitioned UPSERT rewrites only delta-touched partitions") {
    val p = tmp()
    val basePart = Seq(
      (1L, "a", "2024-01"), (2L, "b", "2024-01"),
      (3L, "c", "2024-02"), (4L, "d", "2024-03"),
    ).toDF("k", "name", "mo")
    BatchWriter.write(basePart, p, BatchWriter.Insert, partitionCols = Seq("mo"))
    val untouched = new java.io.File(s"$p/mo=2024-02")
    val before = untouched.listFiles().map(f => (f.getName, f.lastModified())).toSet

    // delta touches 2024-01 (update k=2) and a brand-new 2024-04 partition
    val delta = Seq((2L, "b2", "2024-01"), (5L, "e", "2024-04")).toDF("k", "name", "mo")
    val st = BatchWriter.write(delta, p, BatchWriter.Upsert(Seq("k")),
      partitionCols = Seq("mo"))
    assert(st.rowsInserted == 1 && st.rowsUpdated == 1)
    // merged output covers only affected partitions: 2024-01 (2 rows) + 2024-04 (1)
    assert(st.rowsWritten == 3)

    // untouched partition's files were not rewritten
    val after = untouched.listFiles().map(f => (f.getName, f.lastModified())).toSet
    assert(after == before, "untouched partition must not be rewritten")
    // and the merge is still correct across all partitions
    val out = spark.read.parquet(p).select("k", "name")
      .orderBy("k").as[(Long, String)].collect().toSeq
    assert(out == Seq((1L, "a"), (2L, "b2"), (3L, "c"), (4L, "d"), (5L, "e")))
  }

  test("partitioned write: date-ranged read prunes partitions before IO") {
    val p = tmp()
    val orders = spark.read.parquet(s"${sf()}/orders.parquet")
      .withColumn("yr", year(col("o_orderdate")))
    BatchWriter.write(orders, p, BatchWriter.Replace, partitionCols = Seq("yr"))
    val pruned = spark.read.parquet(p).where(col("yr") === 1997)
    val scan = pruned.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PartitionFilters: [isnotnull(yr"),
      s"partition filter missing from scan:\n$scan")
    assert(pruned.count() == orders.where(col("yr") === 1997).count())
  }

  test("bucketed tables join with no shuffle exchange on either side") {
    val spark2 = spark
    import spark2.implicits._
    val facts = (0L until 1000L).map(i => (i % 50, i, i * 1.5)).toDF("custkey", "okey", "v")
    val dims = (0L until 50L).map(i => (i, s"cust_$i")).toDF("custkey", "cname")
    // in-memory catalog forgets tables across JVMs but their warehouse
    // dirs survive -> LOCATION_ALREADY_EXISTS on recreate; clean both
    Seq("b_facts", "b_dims").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(s"spark-warehouse/$t")
      if (loc.exists()) org.apache.commons.io.FileUtils.deleteDirectory(loc)
    }
    BatchWriter.writeBucketed(facts, "b_facts", "custkey", 8)
    BatchWriter.writeBucketed(dims, "b_dims", "custkey", 8)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force non-broadcast
      val joined = spark.table("b_facts").join(spark.table("b_dims"), "custkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join should be shuffle-free:\n$plan")
      assert(joined.count() == 1000)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("UPSERT into empty path behaves as insert") {
    val p = tmp()
    val st = BatchWriter.write(base, p, BatchWriter.Upsert(Seq("k")))
    assert(st.rowsWritten == 3)
  }

  test("idempotency: key deterministic + order-insensitive, CAS fires once") {
    val led = new IdempotencyLedger(Files.createTempDirectory("graft_led").toString)
    val k1 = led.keyFor(Map("a" -> "1", "b" -> "2"))
    val k2 = led.keyFor(Map("b" -> "2", "a" -> "1"))
    assert(k1 == k2 && k1.length == 64)
    assert(led.checkAndSet(k1, "run1"))
    assert(!led.checkAndSet(k1, "run2"))
    assert(led.get(k1).contains("run1"))
    led.clear(k1)
    assert(led.checkAndSet(k1))
  }

  test("idempotency: non-hex keys are rejected at every entry point") {
    // the `.g*` generation glob's no-collision argument relies on keys
    // being keyFor()'s hex — arbitrary keys (glob metacharacters, path
    // separators, uppercase) must fail loudly, not misparse
    val led = new IdempotencyLedger(Files.createTempDirectory("graft_led_badkey").toString)
    for (bad <- Seq("run-A", "abc*", "ABC123", "a{b,c}", "", "a/b", "k?"))
      intercept[IllegalArgumentException](led.checkAndSet(bad))
    intercept[IllegalArgumentException](led.isSet("zz"))
    intercept[IllegalArgumentException](led.get("x y"))
    intercept[IllegalArgumentException](led.clear("[ab]"))
  }

  test("idempotency TTL: expired keys are reclaimed, fresh keys still block") {
    // reference semantics: Redis keys carry IDEMPOTENCY_KEY_TTL_DAYS
    // expiry (setex), so a run older than the TTL stops suppressing
    // re-execution; the file-ledger analogue reclaims on stale mtime
    val dir = Files.createTempDirectory("graft_led_ttl").toString
    val led = new IdempotencyLedger(dir, ttlDays = Some(7))
    val k = led.keyFor(Map("spec" -> "x"))
    assert(led.checkAndSet(k, "run1"))
    assert(!led.checkAndSet(k, "run2"), "fresh key must still block")
    // backdate the ledger file past the TTL
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(new org.apache.hadoop.conf.Configuration())
    val stale = System.currentTimeMillis() - 8L * 24 * 60 * 60 * 1000
    fs.setTimes(new org.apache.hadoop.fs.Path(dir, k), stale, stale)
    assert(led.checkAndSet(k, "run3"), "expired key must be reclaimed")
    assert(led.get(k).contains("run3"))
    assert(!led.checkAndSet(k, "run4"), "reclaimed key is fresh again")
    // a no-TTL ledger never expires anything
    val forever = new IdempotencyLedger(dir)
    fs.setTimes(new org.apache.hadoop.fs.Path(dir, k), stale, stale)
    assert(!forever.checkAndSet(k, "run5"))
  }

  test("idempotency TTL: racing reclaims admit exactly one claimant") {
    // Reclaim is generation-versioned: an expired key is superseded by
    // one exclusive create of the next generation — the live file is
    // never deleted or renamed, so no claimant ever observes a key-less
    // window. N concurrent checkAndSet calls against one expired key
    // must yield exactly ONE winner, every round (both the delete-based
    // and the rename-tombstone designs failed this spec with 2+ wins).
    val dir = Files.createTempDirectory("graft_led_race").toString
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(new org.apache.hadoop.conf.Configuration())
    val led = new IdempotencyLedger(dir, ttlDays = Some(7))
    val k = led.keyFor(Map("spec" -> "race"))
    val stale = System.currentTimeMillis() - 8L * 24 * 60 * 60 * 1000
    assert(led.checkAndSet(k, "seed"))
    for (round <- 1 to 5) {
      // backdate the CURRENT (highest-generation) claim past the TTL
      val current = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
        .filter(_.getPath.getName.startsWith(k))
        .maxBy(s => s.getPath.getName.length -> s.getPath.getName)
      fs.setTimes(current.getPath, stale, stale)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
      try {
        val start = new java.util.concurrent.CountDownLatch(1)
        val futures = (1 to 8).map { i =>
          pool.submit(new java.util.concurrent.Callable[Option[String]] {
            def call(): Option[String] = {
              start.await()
              // each racer gets its own ledger instance (its own driver)
              val me = s"racer_${round}_$i"
              if (new IdempotencyLedger(dir, ttlDays = Some(7))
                .checkAndSet(k, me)) Some(me) else None
            }
          })
        }
        start.countDown()
        val winners = futures.flatMap(f => f.get())
        assert(winners.size == 1,
          s"round $round: ${winners.size} claimants won (want exactly 1): $winners")
        // the ledger's value is the winner's, and the key is held again
        assert(led.get(k).contains(winners.head))
        assert(led.isSet(k) && !led.checkAndSet(k, "straggler"))
      } finally pool.shutdown()
    }
    // clear removes every generation the 5 reclaim rounds created
    led.clear(k)
    assert(!led.isSet(k))
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .count(_.getPath.getName.startsWith(k)) == 0)
  }

  test("retry: recovers after transient failures, honors maxAttempts") {
    var calls = 0
    val delays = scala.collection.mutable.ArrayBuffer[Long]()
    val r = Retry.withBackoff(maxAttempts = 4, baseDelayMs = 10, sleep = delays.+=(_)) {
      calls += 1
      if (calls < 3) throw new RuntimeException("transient")
      "ok"
    }
    assert(r == "ok" && calls == 3)
    assert(delays.toSeq == Seq(10L, 20L)) // exponential: base, base*2
    calls = 0
    intercept[RuntimeException] {
      Retry.withBackoff(maxAttempts = 2, baseDelayMs = 1, sleep = _ => ()) {
        calls += 1; throw new RuntimeException("always")
      }
    }
    assert(calls == 2)
  }

  test("pipeline e2e: spec runs ingest->config->persist with stats; rerun skips") {
    val out = tmp()
    val led = new IdempotencyLedger(Files.createTempDirectory("graft_led2").toString)
    val spec =
      s"""{
         | "ingestion": {"path": "${sf()}/orders.parquet",
         |   "predicate": "o_orderstatus = 'O'"},
         | "transformation": [{"type": "config", "config":
         |   {"aggregations": {"group_by": ["o_orderpriority"],
         |    "aggregate": {"n": "COUNT(*)"}}}}],
         | "persistence": {"path": "$out", "strategy": "replace"}
         |}""".stripMargin
    val r1 = Pipeline.runJson(spark, spec, Some(led))
    assert(!r1.skippedIdempotent)
    assert(r1.writeStats.exists(_.rowsWritten == 5))
    assert(r1.stats.map(_.stage) == Seq("ingestion", "transformation", "persistence"))
    val r2 = Pipeline.runJson(spark, spec, Some(led))
    assert(r2.skippedIdempotent)
  }

  test("pipeline: a failed run releases its idempotency claim, so the retry runs") {
    val dir = Files.createTempDirectory("graft_retry").toString
    val src = s"$dir/src.parquet"
    val out = s"$dir/out"
    val led = new IdempotencyLedger(s"$dir/ledger")
    val spec =
      s"""{"ingestion": {"path": "$src"},
         | "persistence": {"path": "$out", "strategy": "replace"}}""".stripMargin
    val err = intercept[IllegalStateException](Pipeline.runJson(spark, spec, Some(led)))
    assert(err.getMessage.contains("source health check failed"))
    base.write.parquet(src)
    val r = Pipeline.runJson(spark, spec, Some(led))
    assert(!r.skippedIdempotent)
    assert(r.writeStats.exists(_.rowsWritten == 3))
    assert(spark.read.parquet(out).count() == 3)
  }
}
