package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{CodeTransform, ConfigTransform, Profiler, SchemaEvolution, Sketches, SqlTransform}
import graft.pipeline.Pipeline
import graft.sinks.BatchWriter
import graft.sources.Ingestor
import graft.functions.dsum

/** SURVEY §2.2 + §2.3 operator queries: each exercises one transformation
  * / ingestion / persistence operator end-to-end against the oracle. */
object OperatorQueries {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Ingestor.table(s, dir, n)

  private val configFullJson =
    """{
      | "select": ["c_custkey", "c_name", "c_acctbal", "c_mktsegment", "c_nationkey"],
      | "rename": {"c_mktsegment": "segment"},
      | "filter": {
      |   "c_acctbal": {">": 500.0, "<=": 9000.0},
      |   "segment": {"in": ["BUILDING", "MACHINERY", "AUTOMOBILE"]},
      |   "c_name": {"contains": "1"}
      | },
      | "add_columns": {
      |   "bal_x2": "c_acctbal * 2",
      |   "tier": "CASE WHEN c_acctbal > 5000 THEN 'GOLD' ELSE 'STD' END",
      |   "src": "config_pipeline"
      | },
      | "drop_columns": ["c_nationkey"],
      | "transformations": [
      |   {"type": "apply", "column": "c_name", "function": "upper"},
      |   {"type": "map", "column": "segment",
      |    "mapping": {"BUILDING": "B", "MACHINERY": "M", "AUTOMOBILE": "A"}}
      | ]
      |}""".stripMargin

  private val configAggJson =
    """{
      | "filter": {"o_orderstatus": {"!=": "P"}},
      | "aggregations": {
      |   "group_by": ["o_orderpriority", "o_orderstatus"],
      |   "aggregate": {
      |     "total": "SUM(o_totalprice)",
      |     "avg": "AVG(o_totalprice)",
      |     "n": "COUNT(o_custkey)",
      |     "lo": "MIN(o_totalprice)",
      |     "hi": "MAX(o_totalprice)",
      |     "cnt_all": "COUNT(*)"
      |   }
      | }
      |}""".stripMargin

  private val sqlTransformQuery =
    """SELECT l_returnflag, COUNT(*) AS n,
      | CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS qty
      |FROM input_data WHERE l_discount > 0.02
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "config_full" -> ((s, d) => {
      ConfigTransform.fromJson(configFullJson)(t(s, d, "customer"))
        .orderBy("c_custkey")
    }),

    "config_agg" -> ((s, d) => {
      ConfigTransform.fromJson(configAggJson)(t(s, d, "orders"))
        .orderBy("o_orderpriority", "o_orderstatus")
    }),

    "sql_transform" -> ((s, d) => {
      val st = new SqlTransform(s)
      st.registerQueryVersion("flag_qty", 1, sqlTransformQuery)
      st.transformVersioned(t(s, d, "lineitem"), "flag_qty")
    }),

    "code_transform" -> ((s, d) => {
      val ct = new CodeTransform
      ct.register("band_orders", 1, df =>
        df.withColumn("price_band",
            when(col("o_totalprice") >= 300000.0, "H")
              .when(col("o_totalprice") >= 100000.0, "M")
              .otherwise("L"))
          .groupBy("price_band")
          .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total")))
      ct.transformNamed(t(s, d, "orders"), "band_orders").orderBy("price_band")
    }),

    "schema_evolve" -> ((s, d) => {
      import org.apache.spark.sql.types._
      import SchemaEvolution.ColumnSpec
      val declared = Seq(
        ColumnSpec("c_custkey", LongType, nullable = false),
        ColumnSpec("c_name", StringType),
        ColumnSpec("c_acctbal", DoubleType),
        ColumnSpec("c_nationkey", LongType),
        ColumnSpec("loyalty_tier", StringType, default = Some("STANDARD")),
        ColumnSpec("signup_source", StringType))
      SchemaEvolution.evolve(t(s, d, "customer"), declared, dropExtra = true)
        .orderBy("c_custkey")
    }),

    "ingest_pushdown" -> ((s, d) => {
      Ingestor.read(s, s"$d/lineitem.parquet",
          columns = Seq("l_orderkey", "l_partkey", "l_quantity", "l_shipdate"),
          predicate = Some(col("l_quantity") >= 45 &&
            col("l_shipdate") > lit("2000-06-01").cast("timestamp")))
        .orderBy("l_orderkey", "l_partkey", "l_quantity", "l_shipdate")
    }),

    "upsert_merge" -> ((s, d) => {
      val orders = t(s, d, "orders")
      val tbl = Files.createTempDirectory("graft_upsert").toString + "/orders_tbl"
      BatchWriter.write(orders, tbl, BatchWriter.Replace)
      val delta = orders.where(col("o_orderkey") % 10 === 0)
        .select(col("o_orderkey"), col("o_custkey"),
          lit("X").as("o_orderstatus"),
          (col("o_totalprice") * 2).as("o_totalprice"),
          col("o_orderdate"), col("o_orderpriority"))
      BatchWriter.write(delta, tbl, BatchWriter.Upsert(Seq("o_orderkey")))
      Ingestor.read(s, tbl).orderBy("o_orderkey")
    }),

    "pipeline_e2e" -> ((s, d) => {
      val out = Files.createTempDirectory("graft_pipe").toString + "/agg_out"
      val spec =
        s"""{
           | "ingestion": {"path": "$d/orders.parquet", "format": "parquet",
           |   "columns": ["o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"],
           |   "predicate": "o_orderstatus = 'O'"},
           | "transformation": [
           |   {"type": "config", "config": {"aggregations": {
           |     "group_by": ["o_orderpriority"],
           |     "aggregate": {"spend": "SUM(o_totalprice)", "n_cust": "COUNT(o_custkey)"}}}}
           | ],
           | "persistence": {"path": "$out", "strategy": "append"}
           |}""".stripMargin
      Pipeline.runJson(s, spec)
      Ingestor.read(s, out).orderBy("o_orderpriority")
    }),

    "data_profile" -> ((s, d) =>
      Profiler.profile(t(s, d, "orders"))),

    "q_grouping_sets" -> ((s, d) =>
      new SqlTransform(s).transform(t(s, d, "orders"),
        """SELECT o_orderstatus, o_orderpriority,
          | CAST(COUNT(*) AS BIGINT) AS n,
          | CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total
          |FROM input_data
          |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
          |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin)),

    "q_percentiles" -> ((s, d) =>
      Sketches.percentiles(t(s, d, "lineitem"), "l_extendedprice",
        Seq("l_returnflag"))),

    // data-quality gate: Tukey-fence outliers on the event value stream
    "q_outliers" -> ((s, d) =>
      Profiler.iqrOutliers(Ingestor.events(s, d), "value")
        .where(col("is_outlier"))
        .select("event_id", "value", "lo", "hi")
        .orderBy("event_id")),

    // rows-only: sketch internals (HLL++ registers, percentile_approx
    // histogram) aren't reproducible in SQL; SketchesSpec bounds the
    // error vs the exact values instead. All sketches are
    // non-distinct-style aggregates, so ONE grouped aggregate computes
    // every column — no join, one scan, one shuffle.
    "q_approx_sketch" -> ((s, d) => {
      t(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          approx_count_distinct(col("l_orderkey"), 0.01).as("approx_nd_l_orderkey"),
          approx_count_distinct(col("l_partkey"), 0.01).as("approx_nd_l_partkey"),
          percentile_approx(col("l_extendedprice"),
            array(lit(0.5), lit(0.9), lit(0.99)), lit(10000)).as("aps"))
        .select(col("l_returnflag"), col("approx_nd_l_orderkey"),
          col("approx_nd_l_partkey"),
          element_at(col("aps"), 1).as("ap50"),
          element_at(col("aps"), 2).as("ap90"),
          element_at(col("aps"), 3).as("ap99"))
        .orderBy("l_returnflag")
    }),
  )

  val oracles: Map[String, String] = Map(
    "config_full" ->
      """SELECT c_custkey, upper(c_name) AS c_name, c_acctbal,
        | CASE segment WHEN 'BUILDING' THEN 'B' WHEN 'MACHINERY' THEN 'M'
        |   WHEN 'AUTOMOBILE' THEN 'A' ELSE NULL END AS segment,
        | c_acctbal * 2 AS bal_x2,
        | CASE WHEN c_acctbal > 5000 THEN 'GOLD' ELSE 'STD' END AS tier,
        | 'config_pipeline' AS src
        |FROM (SELECT c_custkey, c_name, c_acctbal, c_mktsegment AS segment FROM customer)
        |WHERE c_acctbal > 500.0 AND c_acctbal <= 9000.0
        |  AND segment IN ('BUILDING', 'MACHINERY', 'AUTOMOBILE')
        |  AND c_name LIKE '%1%'
        |ORDER BY c_custkey""".stripMargin,

    "config_agg" ->
      """SELECT o_orderpriority, o_orderstatus,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS o_totalprice_sum,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)/COUNT(o_totalprice) AS o_totalprice_mean,
        | COUNT(o_custkey) AS o_custkey_count,
        | MIN(o_totalprice) AS o_totalprice_min,
        | MAX(o_totalprice) AS o_totalprice_max,
        | COUNT(*) AS cnt_all
        |FROM orders WHERE o_orderstatus != 'P'
        |GROUP BY o_orderpriority, o_orderstatus
        |ORDER BY o_orderpriority, o_orderstatus""".stripMargin,

    "sql_transform" ->
      """SELECT l_returnflag, COUNT(*) AS n,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS qty
        |FROM lineitem WHERE l_discount > 0.02
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "code_transform" ->
      """SELECT CASE WHEN o_totalprice >= 300000.0 THEN 'H'
        |   WHEN o_totalprice >= 100000.0 THEN 'M' ELSE 'L' END AS price_band,
        | COUNT(*) AS n_orders,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total
        |FROM orders GROUP BY 1 ORDER BY price_band""".stripMargin,

    "schema_evolve" ->
      """SELECT c_custkey, c_name, c_acctbal,
        | CAST(c_nationkey AS BIGINT) AS c_nationkey,
        | 'STANDARD' AS loyalty_tier,
        | CAST(NULL AS VARCHAR) AS signup_source
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "ingest_pushdown" ->
      """SELECT l_orderkey, l_partkey, l_quantity, l_shipdate
        |FROM lineitem
        |WHERE l_quantity >= 45 AND l_shipdate > TIMESTAMP '2000-06-01'
        |ORDER BY l_orderkey, l_partkey, l_quantity, l_shipdate""".stripMargin,

    "upsert_merge" ->
      """WITH delta AS (
        | SELECT o_orderkey, o_custkey, 'X' AS o_orderstatus,
        |  o_totalprice * 2 AS o_totalprice, o_orderdate, o_orderpriority
        | FROM orders WHERE o_orderkey % 10 = 0)
        |SELECT * FROM delta
        |UNION ALL
        |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
        |FROM orders o WHERE NOT EXISTS (SELECT 1 FROM delta d WHERE d.o_orderkey = o.o_orderkey)
        |ORDER BY o_orderkey""".stripMargin,

    "pipeline_e2e" ->
      """SELECT o_orderpriority,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS o_totalprice_sum,
        | COUNT(o_custkey) AS o_custkey_count
        |FROM orders WHERE o_orderstatus = 'O'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority,
        | CAST(COUNT(*) AS BIGINT) AS n,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,

    "q_outliers" ->
      """WITH q AS (SELECT
        |   round(quantile_cont(value, 0.25)
        |     - 1.5 * (quantile_cont(value, 0.75) - quantile_cont(value, 0.25)), 6) AS lo,
        |   round(quantile_cont(value, 0.75)
        |     + 1.5 * (quantile_cont(value, 0.75) - quantile_cont(value, 0.25)), 6) AS hi
        |  FROM events)
        |SELECT e.event_id, e.value, q.lo, q.hi
        |FROM events e, q WHERE e.value < q.lo OR e.value > q.hi
        |ORDER BY e.event_id""".stripMargin,

    "q_percentiles" ->
      """SELECT l_returnflag,
        | round(quantile_cont(l_extendedprice, 0.25), 6) AS p25,
        | round(quantile_cont(l_extendedprice, 0.5), 6) AS p50,
        | round(quantile_cont(l_extendedprice, 0.75), 6) AS p75,
        | round(quantile_cont(l_extendedprice, 0.9), 6) AS p90,
        | round(quantile_cont(l_extendedprice, 0.99), 6) AS p99
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "data_profile" -> {
      def num(c: String, dt: String) =
        s"""SELECT '$c' AS column_name, '$dt' AS data_type,
           | CAST(COUNT(*) AS BIGINT) AS n_rows,
           | CAST(COUNT(*) - COUNT($c) AS BIGINT) AS n_nulls,
           | CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct,
           | CAST(MIN($c) AS DOUBLE) AS min_num,
           | CAST(MAX($c) AS DOUBLE) AS max_num,
           | round(CAST(SUM(CAST($c AS DECIMAL(38,6))) AS DOUBLE)/COUNT($c), 6) AS mean_val,
           | CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
           |FROM orders""".stripMargin
      def str(c: String, dt: String) =
        s"""SELECT '$c' AS column_name, '$dt' AS data_type,
           | CAST(COUNT(*) AS BIGINT) AS n_rows,
           | CAST(COUNT(*) - COUNT($c) AS BIGINT) AS n_nulls,
           | CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct,
           | CAST(NULL AS DOUBLE) AS min_num, CAST(NULL AS DOUBLE) AS max_num,
           | CAST(NULL AS DOUBLE) AS mean_val,
           | CAST(MIN($c) AS VARCHAR) AS min_str, CAST(MAX($c) AS VARCHAR) AS max_str
           |FROM orders""".stripMargin
      Seq(num("o_orderkey", "long"), num("o_custkey", "long"),
        str("o_orderstatus", "string"), num("o_totalprice", "double"),
        str("o_orderdate", "timestamp_ntz"), str("o_orderpriority", "string"))
        .mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n) ORDER BY column_name")
    },
  )
}
