package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, lit}
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, parse, render}

import graft.operators.{ConfigTransform, Contamination, Dedup, Similarity, SqlTransform}
import graft.pipeline.{IdempotencyLedger, Pipeline, RunLedger}
import graft.sinks.BatchWriter
import graft.sources.Ingestor

/** The benchmark's JVM side. It only calls graft's public entry points,
  * on inputs generated by `perfbench/gen.py`, and times them from here:
  *
  *  1. set-up: session, one warm-up pass of every timed call on tiny
  *     inputs, and the per-corpus stored-state build (curation);
  *  2. the timed phase: whole rounds of the same fixed work until the
  *     requested seconds have passed (at least one round);
  *  3. retained heap after a forced full GC, session still alive.
  *
  * With tracing on, every call runs under a job group that names its
  * layer, a [[Trace]] listener folds the Spark events per group, and the
  * per-layer metrics are derived from the spans and groups.
  *
  * Usage: Harness <plan.json>. Writes `result.json` and `check.json`
  * into the plan's output directory; run.py does the rest. */
object Harness {
  implicit val formats: Formats = DefaultFormats

  final case class Span(name: String, startMs: Long, endMs: Long, secs: Double)

  def main(args: Array[String]): Unit = {
    val plan = parse(new String(Files.readAllBytes(Paths.get(args(0))), StandardCharsets.UTF_8))
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val h = new Harness(plan)
    val result = h.run(jvmStartMs)
    Files.write(Paths.get(h.out, "result.json"),
      compact(render(result)).getBytes(StandardCharsets.UTF_8))
    h.spark.stop()
  }

  def secsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def sha(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(StandardCharsets.UTF_8)).map("%02x".format(_)).mkString
}

class Harness(plan: JValue) {
  import Harness._

  val workload: String = (plan \ "workload").extract[String]
  val out: String = (plan \ "out").extract[String]
  val seconds: Double = (plan \ "seconds").extract[Double]
  val traced: Boolean = (plan \ "trace").extract[Int] == 1
  val cores: Int = (plan \ "cores").extract[Int]
  /** The per-corpus state build is repeated this many times in set-up
    * and its median enters setup_s; the timed phase uses the last build.
    * The ETL workload has no such build beyond its warm-up. */
  val setupRepeats: Int = if (workload == "etl_upsert") 1 else 3

  lazy val spark: SparkSession = graft.Sessions.local(cores, "perfbench")
  private lazy val sc = spark.sparkContext
  private val trace = new Trace
  private val spans = mutable.ArrayBuffer.empty[Span]
  var attempted = 0L
  var failed = 0L

  /** Run `f` as one named span; with tracing on its jobs carry the
    * span's name as their job group. */
  def span[T](name: String)(f: => T): T = {
    val ms = System.currentTimeMillis(); val t0 = System.nanoTime()
    if (traced) sc.setJobGroup(name, name, interruptOnCancel = false)
    try f
    finally {
      if (traced) sc.clearJobGroup()
      spans += Span(name, ms, System.currentTimeMillis(), secsSince(t0))
    }
  }

  /** One counted operation: a failure is logged and counted, never fatal. */
  def op[T](what: String)(f: => T): Option[T] = {
    attempted += 1
    try Some(f)
    catch {
      case scala.util.control.NonFatal(e) =>
        failed += 1
        System.err.println(s"perfbench: $what failed: $e")
        e.printStackTrace()
        None
    }
  }

  /** Wait until the listener has seen every event posted so far: a
    * trivial job's end arrives after all earlier events. */
  private def fence(): Unit = if (traced) {
    val want = trace.fences + 1
    sc.setJobGroup(Trace.Fence, Trace.Fence, interruptOnCancel = false)
    sc.parallelize(Seq(1), 1).count()
    sc.clearJobGroup()
    val deadline = System.currentTimeMillis() + 30000
    while (trace.fences < want && System.currentTimeMillis() < deadline) Thread.sleep(5)
  }

  private def rm(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.delete(x))
  }

  def run(jvmStartMs: Long): JValue = {
    if (traced) sc.addSparkListener(trace) else sc.version
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val w = Workload(workload)
    val t0 = System.nanoTime()
    w.warm()
    val warmS = secsSince(t0)
    val builds = (0 until setupRepeats).map { i =>
      val tb = System.nanoTime(); w.prepare(i); secsSince(tb)
    }
    val setupS = sessionS + warmS + median(builds)
    spans.clear(); fence(); trace.reset()
    attempted = 0; failed = 0

    val rounds = mutable.ArrayBuffer.empty[JValue]
    val layer = mutable.ArrayBuffer.empty[Map[String, Double]]
    var plans: JValue = JNothing
    val begin = System.nanoTime()
    var r = 0
    while (r == 0 || secsSince(begin) < seconds) {
      spans.clear()
      val tr = System.nanoTime()
      val (batches, digest) = w.round(r)
      val wall = secsSince(tr)
      val extra = spans.filter(_.name.startsWith("x.")).map(_.secs).sum
      if (traced) {
        fence()
        layer += layerMetrics(wall - extra) ++ w.layerExtras()
        plans = w.planNodes
        trace.reset()
      }
      rounds += JObject("wall_s" -> JDouble(wall - extra),
        "batches_s" -> JArray(batches.map(JDouble(_)).toList),
        "digest" -> JString(digest))
      r += 1
    }
    w.finish()
    val storageMb = sc.getExecutorMemoryStatus.values
      .map { case (max, free) => max - free }.sum / 1e6
    val heapMb = retainedHeapMb()
    val layerOut =
      if (!traced) JNothing
      else {
        val keys = layer.flatMap(_.keys).distinct
        JObject(keys.map(k => k -> JDouble(median(layer.map(_.getOrElse(k, 0.0)).toSeq))).toList
          :+ ("spark.storage_mb" -> JDouble(storageMb)))
      }
    JObject(
      "setup" -> JObject("session_s" -> JDouble(sessionS), "warm_s" -> JDouble(warmS),
        "builds_s" -> JArray(builds.map(JDouble(_)).toList), "setup_s" -> JDouble(setupS)),
      "rounds" -> JArray(rounds.toList),
      "attempted" -> JInt(attempted), "failed" -> JInt(failed),
      "retained_heap_mb" -> JDouble(heapMb),
      "stored_dirs" -> JArray(w.storedDirs.map(JString(_)).toList),
      "layer" -> layerOut,
      "plans" -> plans)
  }

  private def retainedHeapMb(): Double = {
    // the context cleaner frees blocks of collected RDDs asynchronously,
    // so collect, let it run, and collect again before reading
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(300) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }

  /** Per-layer figures of one traced round. `wall` is the round's wall
    * time without the traced-only extra calls. */
  private def layerMetrics(wall: Double): Map[String, Double] = {
    val groups = trace.snapshot()
    def g(name: String) = groups.getOrElse(name, new trace.Agg)
    def secs(name: String) = spans.filter(_.name == name).map(_.secs).sum
    val m = mutable.LinkedHashMap.empty[String, Double]
    m("traced.run_s") = wall
    m("pipeline.run_s") = secs("pipeline.run")
    m("pipeline.jobs") = g("pipeline.run").jobs.toDouble
    // the same batches through direct calls (the scan probe aside)
    m("pipeline.self_s") = m("pipeline.run_s") - Seq("x.sources.read",
      "x.operators.config.build", "x.operators.sql.build", "x.sinks.write").map(secs).sum
    for (o <- Seq("config", "sql")) {
      m(s"operators.$o.build_s") = secs(s"x.operators.$o.build")
      m(s"operators.$o.build_jobs") = g(s"x.operators.$o.build").jobs.toDouble
    }
    for (o <- Seq("report", "dedup_text", "dedup_emb", "decon_sem", "ann")) {
      m(s"operators.$o.build_s") = secs(s"operators.$o.build")
      m(s"operators.$o.build_jobs") = g(s"operators.$o.build").jobs.toDouble
      m(s"operators.$o.exec_s") = secs(s"operators.$o.exec")
      m(s"operators.$o.exec_jobs") = g(s"operators.$o.exec").jobs.toDouble
    }
    m("sources.input_mb") = g("x.sources.scan").inputBytes / 1e6
    m("sources.input_rows") = g("x.sources.scan").inputRecords.toDouble
    m("sinks.write_s") = secs("x.sinks.write")
    // the workload's own Spark work: every group but the traced-only
    // extras and the fence
    val own = groups.filter { case (k, _) => !k.startsWith("x.") && k != Trace.Fence }.values
    m("spark.jobs") = own.map(_.jobs).sum.toDouble
    m("spark.stages") = own.map(_.stages).sum.toDouble
    m("spark.tasks") = own.map(_.tasks).sum.toDouble
    m("spark.task_cpu_s") = own.map(_.cpuNs).sum / 1e9
    m("spark.task_gc_s") = own.map(_.gcMs).sum / 1e3
    m("spark.shuffle_write_mb") = own.map(_.shuffleWrite).sum / 1e6
    m("spark.shuffle_read_mb") = own.map(_.shuffleRead).sum / 1e6
    m("spark.spill_mb") = own.map(_.spill).sum / 1e6
    m("spark.rdd_blocks") = trace.rddBlocks.toDouble
    m("spark.idle_s") = spans.filterNot(_.name.startsWith("x.")).map { s =>
      val iv = trace.intervals.filter(i => i._1 == s.name && i._3 >= s.startMs && i._2 <= s.endMs)
        .map(i => (math.max(i._2, s.startMs), math.min(i._3, s.endMs))).sortBy(_._1)
      var covered = 0L; var end = Long.MinValue
      iv.foreach { case (a, b) =>
        val from = math.max(a, end)
        if (b > from) covered += b - from
        end = math.max(end, b)
      }
      math.max(0.0, s.secs - covered / 1000.0)
    }.sum
    m.toMap
  }

  // ------------------------------------------------------------ workloads

  trait Workload {
    def warm(): Unit
    /** Per-corpus set-up, repeated `setupRepeats` times; the timed phase
      * uses the last build. */
    def prepare(i: Int): Unit
    /** One round: (batch seconds, digest of every output). */
    def round(r: Int): (Seq[Double], String)
    def layerExtras(): Map[String, Double] = Map.empty
    def finish(): Unit
    def storedDirs: Seq[String]
    def planNodes: JValue = {
      // operator names seen in each call's SQL executions, by span
      val bySpan = spans.filterNot(_.name.startsWith("x.")).map { s =>
        s.name -> trace.plans.filter(p => p._1 >= s.startMs && p._1 <= s.endMs)
          .flatMap(_._2).toSet
      }.groupBy(_._1).map { case (k, v) => k -> v.flatMap(_._2).toSet.toList.sorted }
      JObject(bySpan.toList.sortBy(_._1).map { case (k, v) => k -> JArray(v.map(JString(_))) })
    }
  }

  object Workload {
    def apply(name: String): Workload = name match {
      case "etl_upsert" => new Etl
      case _            => new Curation
    }
  }

  private def writeCheck(v: JValue): Unit =
    Files.write(Paths.get(out, "check.json"), compact(render(v)).getBytes(StandardCharsets.UTF_8))

  // ETL: one JSON spec per daily batch through Pipeline.runJson, an
  // immediate re-submit that must be skipped, and a downstream report.
  class Etl extends Workload {
    private val specs = (plan \ "etl" \ "specs").extract[List[String]]
    private val warmSpecs = (plan \ "etl" \ "warm_specs").extract[List[String]]
    private val reportCols = (plan \ "etl" \ "report_columns").extract[List[String]]
    private val reportCfg = plan \ "etl" \ "report_config"
    private var lastDir = ""
    private var lastCheck: JValue = JNothing
    private var sinkFacts = Map.empty[String, Double]

    def warm(): Unit = { runBatches(warmSpecs, s"$out/warm", direct = traced); () }
    def prepare(i: Int): Unit = ()
    def storedDirs: Seq[String] = Seq(lastDir)

    def round(r: Int): (Seq[Double], String) = {
      if (lastDir.nonEmpty) rm(lastDir)
      lastDir = s"$out/etl/r$r"
      val (times, check) = runBatches(specs, lastDir, direct = traced)
      lastCheck = check
      (times, sha(compact(render(check \ "batches"))))
    }

    override def layerExtras(): Map[String, Double] = sinkFacts

    def finish(): Unit = writeCheck(lastCheck ~~ ("table" -> JString(s"$lastDir/table")))

    private implicit class Merge(a: JValue) {
      def ~~(kv: (String, JValue)): JValue = a match {
        case JObject(fs) => JObject(fs :+ kv)
        case _           => JObject(kv)
      }
    }

    private def report(table: String): Seq[JValue] = {
      val df = span("operators.report.build") {
        new ConfigTransform(reportCfg).apply(Ingestor.read(spark, table, columns = reportCols))
      }
      span("operators.report.exec")(df.collect()).toSeq.map { row =>
        JArray(List(JString(row.getString(0)), JString(row.getString(1)),
          JString(row.get(2).toString), JInt(row.getLong(3))))
      }.sortBy(v => compact(render(v)))
    }

    /** The same batch through direct sources -> operators -> sinks calls
      * into a twin table (traced runs only): the difference to the
      * runJson span is the pipeline layer's own time. */
    private def directBatch(spec: String, table: String): BatchWriter.WriteStats = {
      val s = parse(spec)
      val ing = s \ "ingestion"
      val steps = (s \ "transformation").children
      val df0 = span("x.sources.read") {
        Ingestor.read(spark, (ing \ "path").extract[String],
          columns = (ing \ "columns").extract[List[String]],
          predicate = Some(expr((ing \ "predicate").extract[String])))
      }
      span("x.sources.scan")(df0.write.format("noop").mode("overwrite").save())
      val df1 = span("x.operators.config.build")(new ConfigTransform(steps.head \ "config").apply(df0))
      val df2 = span("x.operators.sql.build") {
        new SqlTransform(spark).transform(df1, (steps(1) \ "query").extract[String])
      }
      span("x.sinks.write") {
        BatchWriter.write(df2, table,
          BatchWriter.Upsert((s \ "persistence" \ "keys").extract[List[String]]))
      }
    }

    private def runBatches(templates: Seq[String], dir: String,
                           direct: Boolean): (Seq[Double], JValue) = {
      val table = s"$dir/table"
      val twin = s"$dir/table_direct"
      val idem = new IdempotencyLedger(s"$dir/idempotency")
      val ledger = new RunLedger(s"$dir/run_ledger")
      val times = mutable.ArrayBuffer.empty[Double]
      val checks = mutable.ArrayBuffer.empty[JValue]
      var written = 0L; var delta = 0L
      for ((tpl, b) <- templates.zipWithIndex) {
        val spec = tpl.replace("@TABLE@", table)
        def viaDirect(): Unit = op("direct batch")(directBatch(tpl.replace("@TABLE@", twin), twin))
          .foreach { ws => written += ws.rowsWritten; delta += ws.rowsInserted + ws.rowsUpdated }
        if (direct && b % 2 == 1) viaDirect()
        val tb = System.nanoTime()
        val first = op("pipeline run")(span("pipeline.run") {
          Pipeline.runJson(spark, spec, Some(idem), Some(ledger), "perfbench_etl")
        })
        val again = op("pipeline re-submit")(span("pipeline.run") {
          Pipeline.runJson(spark, spec, Some(idem), Some(ledger), "perfbench_etl")
        })
        val rep = op("report")(report(table))
        times += secsSince(tb)
        if (direct && b % 2 == 0) viaDirect()
        val ws = first.flatMap(_.writeStats)
        checks += JObject(
          "skipped" -> JBool(first.exists(_.skippedIdempotent)),
          "inserted" -> JInt(BigInt(ws.map(_.rowsInserted).getOrElse(-1L))),
          "updated" -> JInt(BigInt(ws.map(_.rowsUpdated).getOrElse(-1L))),
          "written" -> JInt(BigInt(ws.map(_.rowsWritten).getOrElse(-1L))),
          "resubmit_skipped" -> JBool(again.exists(_.skippedIdempotent)),
          "resubmit_wrote" -> JBool(again.exists(_.writeStats.nonEmpty)),
          "report" -> rep.map(r => JArray(r.toList)).getOrElse(JNothing))
      }
      if (direct) {
        val files = Files.walk(Paths.get(twin)).filter(p =>
          p.getFileName.toString.endsWith(".parquet")).toArray
        sinkFacts = Map(
          "sinks.rows_written" -> written.toDouble,
          "sinks.rewrite_ratio" -> (if (delta > 0) written.toDouble / delta else 0.0),
          "sinks.output_mb" -> files.map(p => Files.size(p.asInstanceOf[java.nio.file.Path])).sum / 1e6,
          "sinks.output_files" -> files.length.toDouble)
        rm(twin)
      }
      (times.toSeq, JObject("batches" -> JArray(checks.toList)))
    }
  }

  // Curation: each daily drop through text near-dup against stored
  // corpus state, embedding near-dup with in-flight IVF training,
  // semantic decontamination against a benchmark split, and IVF-PQ top-k.
  class Curation extends Workload {
    private val main = plan \ "main"
    private val warmIn = plan \ "warm"
    private def state(i: Int) = s"$out/state/neardup_$i"
    private var current = ""
    private var lastCheck: JValue = JNothing

    def storedDirs: Seq[String] = Seq(current)

    def warm(): Unit = {
      val dir = s"$out/warm_state"
      Dedup.buildNearDupState(Ingestor.read(spark, (warmIn \ "base_docs").extract[String]), dir)
      drops(warmIn, dir)
      rm(dir)
    }

    def prepare(i: Int): Unit = {
      if (current.nonEmpty) rm(current)
      current = state(i)
      Dedup.buildNearDupState(Ingestor.read(spark, (main \ "base_docs").extract[String]), current)
    }

    def round(r: Int): (Seq[Double], String) = {
      val (times, check) = drops(main, current)
      lastCheck = check
      (times, sha(compact(render(check))))
    }

    def finish(): Unit = writeCheck(lastCheck)

    private def drops(in: JValue, stateDir: String): (Seq[Double], JValue) = {
      val tText = (in \ "text_threshold").extract[Double]
      val tEmb = (in \ "emb_threshold").extract[Double]
      val k = (in \ "ann_k").extract[Int]
      val baseEmb = (in \ "base_emb").extract[String]
      val benchEmb = (in \ "bench_emb").extract[String]
      val times = mutable.ArrayBuffer.empty[Double]
      val checks = (in \ "drops").children.map { d =>
        val docs = (d \ "docs").extract[String]
        val emb = (d \ "emb").extract[String]
        val vec0 = (d \ "vec0").extract[Long]
        val q = (d \ "queries").extract[Long]
        val tb = System.nanoTime()
        val text = op("dedup_text")(call("dedup_text") {
          Dedup.nearDupIncrementStored(Ingestor.read(spark, docs), stateDir, tText)
        }(_.select("doc_id").collect().map(_.getLong(0)).sorted.toList.map(JInt(_))))
        val embDedup = op("dedup_emb")(call("dedup_emb") {
          Dedup.embeddingIncrement(Ingestor.read(spark, baseEmb), Ingestor.read(spark, emb),
            threshold = tEmb)
        }(_.select("vec_id").collect().map(_.getLong(0)).sorted.toList.map(JInt(_))))
        val decon = op("decon_sem")(call("decon_sem") {
          Contamination.flagSemanticOverlap(Ingestor.read(spark, emb),
            Ingestor.read(spark, benchEmb), threshold = tEmb)
        }(_.collect().toList.sortBy(_.getLong(0)).map { r =>
          JArray(List(JInt(r.getLong(0)), JInt(r.getLong(1)),
            if (r.isNullAt(2)) JNull else JDouble(r.getDouble(2)), JBool(r.getBoolean(3))))
        }))
        val ann = op("ann")(call("ann") {
          Similarity.knnIvfPq(
            Ingestor.read(spark, baseEmb).unionByName(Ingestor.read(spark, emb)),
            col("vec_id") >= lit(vec0) && col("vec_id") < lit(vec0 + q), k = k)
        }(_.collect().toList.map(r => (r.getLong(0), r.getLong(2), r.getLong(1), r.getDouble(3)))
          .sorted.map { case (qid, rank, nid, cos) =>
            JArray(List(JInt(qid), JInt(rank), JInt(nid), JDouble(cos)))
          }))
        times += secsSince(tb)
        JObject("dedup_text" -> JArray(text.getOrElse(Nil)),
          "dedup_emb" -> JArray(embDedup.getOrElse(Nil)),
          "decon_sem" -> JArray(decon.getOrElse(Nil)),
          "ann" -> JArray(ann.getOrElse(Nil)))
      }
      (times.toSeq, JObject("drops" -> JArray(checks)))
    }

    /** Build the call's plan (the builder may fire eager jobs) and run
      * its action, as two spans. */
    private def call[T](name: String)(build: => DataFrame)(exec: DataFrame => T): T = {
      val df = span(s"operators.$name.build")(build)
      span(s"operators.$name.exec")(exec(df))
    }
  }
}
