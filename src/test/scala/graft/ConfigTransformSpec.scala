package graft

import org.apache.spark.sql.functions._
import graft.operators.{ConfigRegistry, ConfigTransform}

/** Mirrors the reference's unit coverage
  * (reference: tests/unit/test_config_transformer.py): verb order, full
  * filter op set, add-column expr-vs-literal, map -> NULL for unmapped,
  * aggregation output naming. */
class ConfigTransformSpec extends SparkSpec {
  import spark.implicits._

  private def people = Seq(
    (1L, "alice", 30, 1200.0, "A"),
    (2L, "bob", 25, 800.0, "I"),
    (3L, "carol", 35, 1500.0, "A"),
    (4L, "dave", 28, 950.0, null.asInstanceOf[String]),
  ).toDF("id", "name", "age", "balance", "status")

  test("select keeps only listed columns, skipping missing ones") {
    val out = ConfigTransform.fromJson("""{"select": ["id", "name", "nope"]}""")(people)
    assert(out.columns.toSeq == Seq("id", "name"))
  }

  test("rename maps column names") {
    val out = ConfigTransform.fromJson("""{"rename": {"name": "full_name"}}""")(people)
    assert(out.columns.contains("full_name") && !out.columns.contains("name"))
  }

  test("filter op set: comparison, in/not_in, contains, is_null") {
    def ids(cfg: String): Set[Long] =
      ConfigTransform.fromJson(cfg)(people).select("id").as[Long].collect().toSet
    assert(ids("""{"filter": {"age": {">": 28}}}""") == Set(1L, 3L))
    assert(ids("""{"filter": {"age": {">=": 28, "<": 35}}}""") == Set(1L, 4L))
    assert(ids("""{"filter": {"status": {"==": "A"}}}""") == Set(1L, 3L))
    assert(ids("""{"filter": {"status": {"!=": "A"}}}""") == Set(2L))
    assert(ids("""{"filter": {"name": {"in": ["alice", "bob"]}}}""") == Set(1L, 2L))
    assert(ids("""{"filter": {"name": {"not_in": ["alice", "bob"]}}}""") == Set(3L, 4L))
    assert(ids("""{"filter": {"name": {"contains": "ar"}}}""") == Set(3L))
    assert(ids("""{"filter": {"status": {"is_null": true}}}""") == Set(4L))
    assert(ids("""{"filter": {"status": {"is_not_null": true}}}""") == Set(1L, 2L, 3L))
    // bare value = equality (reference :242)
    assert(ids("""{"filter": {"status": "I"}}""") == Set(2L))
    // missing column skipped with no filter applied (reference :210)
    assert(ids("""{"filter": {"ghost": {">": 1}}}""") == Set(1L, 2L, 3L, 4L))
  }

  test("add_columns: expression when resolvable, literal otherwise") {
    val out = ConfigTransform.fromJson(
      """{"add_columns": {"dbl": "balance * 2", "tag": "team_x", "answer": 42}}""")(people)
    val row = out.where($"id" === 1).select("dbl", "tag", "answer").head()
    assert(row.getDouble(0) == 2400.0)
    assert(row.getString(1) == "team_x")
    assert(row.getLong(2) == 42L)
  }

  test("add_columns: a literal is told apart from an expression without a failed analysis") {
    val failures = new java.util.concurrent.atomic.AtomicInteger(0)
    val successes = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             ns: Long): Unit = successes.incrementAndGet()
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             e: Exception): Unit = failures.incrementAndGet()
    }
    // listener events arrive in order: once a marker action's success
    // is in, every earlier event (an earlier suite's too) has been seen
    def flush(): Unit = {
      val n = successes.get()
      spark.range(1).collect()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (successes.get() <= n && System.nanoTime() < deadline) Thread.sleep(20)
      assert(successes.get() > n, "query listener events not flushed")
    }
    spark.listenerManager.register(listener)
    try {
      flush()
      failures.set(0)
      val orders = Seq((1L, 2.5, 4), (2L, 1.0, 3)).toDF("id", "amount", "qty")
      val out = ConfigTransform.fromJson(
        """{"add_columns": {"src": "config_pipeline", "total": "amount * qty",
          |  "today": "current_date", "nested": "transform(array(qty), x -> x + 1)"}}"""
          .stripMargin)(orders)
      val rows = out.orderBy("id").select("src", "total").as[(String, Double)].collect().toSeq
      assert(rows == Seq(("config_pipeline", 10.0), ("config_pipeline", 3.0)))
      assert(out.schema("today").dataType.typeName == "date")
      assert(out.where($"id" === 1).select("nested").as[Seq[Int]].head() == Seq(5))
      flush()
      assert(failures.get() == 0)
    } finally spark.listenerManager.unregister(listener)
  }

  test("map transformation sends unmapped values to NULL (pandas .map)") {
    val out = ConfigTransform.fromJson(
      """{"transformations": [{"type": "map", "column": "status",
        |  "mapping": {"A": "Active"}}]}""".stripMargin)(people)
    val vals = out.orderBy("id").select("status").as[String].collect().toSeq
    assert(vals == Seq("Active", null, "Active", null))
  }

  test("apply upper/lower/strip") {
    val padded = Seq((1L, "  padded  ")).toDF("id", "name")
    val out = ConfigTransform.fromJson(
      """{"transformations": [
        | {"type": "apply", "column": "name", "function": "strip"},
        | {"type": "apply", "column": "name", "function": "upper"}]}""".stripMargin)(padded)
    assert(out.select("name").as[String].head() == "PADDED")
  }

  test("aggregations: {col}_{func} naming, COUNT(*) keeps config key") {
    val out = ConfigTransform.fromJson(
      """{"aggregations": {"group_by": ["status"],
        |  "aggregate": {"t": "SUM(balance)", "m": "AVG(age)", "n": "COUNT(*)"}}}""".stripMargin)(people)
    assert(out.columns.toSet == Set("status", "balance_sum", "age_mean", "n"))
    val a = out.where($"status" === "A").head()
    assert(a.getAs[Double]("balance_sum") == 2700.0)
    assert(a.getAs[Double]("age_mean") == 32.5)
    assert(a.getAs[Long]("n") == 2L)
  }

  test("verb order: filter sees renamed columns") {
    val out = ConfigTransform.fromJson(
      """{"rename": {"balance": "bal"}, "filter": {"bal": {">": 1000}}}""")(people)
    assert(out.count() == 2)
  }

  test("config registry versions and returns latest") {
    val reg = new ConfigRegistry
    reg.register("t1", 1, """{"select": ["id"]}""")
    reg.register("t1", 2, """{"select": ["id", "name"]}""")
    assert(reg.latestVersion("t1").contains(2))
    assert(reg.latest("t1").get(people).columns.toSeq == Seq("id", "name"))
    assert(reg.get("t1", 1).get(people).columns.toSeq == Seq("id"))
  }

  test("config migration derives a new version structurally") {
    import org.json4s._
    val reg = new ConfigRegistry
    reg.register("t2", 1, """{"filter": {"age": {">": 28}}}""")
    reg.migrate("t2", 1, 2) { cfg =>
      cfg merge JObject("select" -> JArray(List(JString("id"), JString("age"))))
    }
    val out = reg.get("t2", 2).get(people)
    assert(out.columns.toSeq == Seq("id", "age"))
    assert(out.count() == 2)
    intercept[NoSuchElementException] { reg.migrate("ghost", 1, 2)(identity) }
  }
}
