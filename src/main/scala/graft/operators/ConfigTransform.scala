package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.analysis.{LiteralFunctionResolution, UnresolvedAttribute}
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods
import graft.functions.{davg, dsum}

import scala.collection.mutable
import scala.util.Try

/** Declarative config-driven transformation.
  *
  * Re-expresses the reference's ConfigTransformer
  * (reference: src/pipeline/transformation/config_transformer.py:149-182
  * verb order select -> rename -> filter -> add_columns -> drop_columns ->
  * transformations -> aggregations; filter op set :204-242; custom
  * transformations :268-296; aggregation parsing :296-350) — but instead
  * of interpreting the config row-at-a-time over pandas, the config is
  * compiled ONCE into Catalyst `Column` expressions, so the resulting plan
  * is whole-stage-codegen'd, filters are pushed into the scan, and the
  * same JSON config that processed 60k rows locally runs unchanged over
  * 100 TB on a cluster.
  *
  * Fidelity notes vs the reference:
  *  - filter ops: > >= < <= == != equals not_equals in not_in contains
  *    is_null is_not_null, plus bare-value equality (:242).
  *  - missing select/filter columns are skipped with a warning, not an
  *    error (:193-199, :210).
  *  - `map` transformation sends unmapped values to NULL (pandas `.map`
  *    yields NaN, :279).
  *  - grouped aggregate output columns are named `{col}_{func}` with
  *    pandas func names (sum, mean, count, min, max) (:341).
  *  - SUM/AVG accumulate in exact decimal (graft-wide determinism rule);
  *    the reference's float sums are partitioning-dependent at scale.
  */
object ConfigTransform {
  def fromJson(json: String): ConfigTransform =
    new ConfigTransform(JsonMethods.parse(json))

  /** Load a config from a JSON file (reference accepts dict | str | Path,
    * config_transformer.py `_load_config`). */
  def fromFile(path: String): ConfigTransform =
    fromJson(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), java.nio.charset.StandardCharsets.UTF_8))

  private[operators] def jvalueToAny(v: JValue): Any = v match {
    case JInt(i)     => i.toLong
    case JLong(i)    => i
    case JDouble(d)  => d
    case JDecimal(d) => d.toDouble
    case JString(s)  => s
    case JBool(b)    => b
    case JNull       => null
    case other       => throw new IllegalArgumentException(s"unsupported literal: $other")
  }

  private[operators] def jvalueToLit(v: JValue): Column = v match {
    case JInt(i)     => lit(i.toLong)
    case JLong(i)    => lit(i)
    case JDouble(d)  => lit(d)
    case JDecimal(d) => lit(d.toDouble)
    case JString(s)  => lit(s)
    case JBool(b)    => lit(b)
    case JNull       => lit(null)
    case other       => throw new IllegalArgumentException(s"unsupported literal: $other")
  }
}

class ConfigTransform(config: JValue) {
  import ConfigTransform._

  def apply(df: DataFrame): DataFrame = {
    var r = df
    config \ "select" match {
      case JArray(cols) =>
        val want = cols.collect { case JString(c) => c }
        // missing cols skipped (ref :199); case-insensitive like the resolver
        val present = want.filter(c => r.columns.exists(_.equalsIgnoreCase(c)))
        r = r.select(present.map(col): _*)
      case _ =>
    }
    config \ "rename" match {
      case JObject(fields) =>
        val m = fields.collect { case (from, JString(to)) => from -> to }.toMap
        r = r.withColumnsRenamed(m)
      case _ =>
    }
    config \ "filter" match {
      case JObject(fields) =>
        val preds = fields.flatMap { case (c, spec) => compileFilter(r, c, spec) }
        if (preds.nonEmpty) r = r.where(preds.reduce(_ && _))
      case _ =>
    }
    config \ "add_columns" match {
      case JObject(fields) =>
        fields.foreach {
          case (name, JString(s)) =>
            // Expression if it parses AND resolves against the frame,
            // else a string literal (ref :252-259 eval-then-literal).
            // The common literal (a bare word naming no column) is told
            // apart before analysis: a failed analysis is reported to
            // every query-execution listener.
            r = if (!resolvesAgainst(r, s)) r.withColumn(name, lit(s))
              else Try(r.withColumn(name, expr(s)))
                .getOrElse(r.withColumn(name, lit(s)))
          case (name, v) => r = r.withColumn(name, jvalueToLit(v))
        }
      case _ =>
    }
    config \ "drop_columns" match {
      case JArray(cols) =>
        r = r.drop(cols.collect { case JString(c) => c }: _*)
      case _ =>
    }
    config \ "transformations" match {
      case JArray(ts) => ts.foreach { t => r = applyCustom(r, t) }
      case _ =>
    }
    config \ "aggregations" match {
      case o: JObject => r = applyAggregations(r, o)
      case _ =>
    }
    r
  }

  /** True iff `s` parses as a SQL expression and every column it names
    * resolves against `df`, or is a bare literal function such as
    * `current_date` (the parser already binds lambda variables). */
  private def resolvesAgainst(df: DataFrame, s: String): Boolean =
    Try(df.sparkSession.sessionState.sqlParser.parseExpression(s)).toOption.exists { e =>
      val plan = df.queryExecution.analyzed
      val resolver = df.sparkSession.sessionState.conf.resolver
      e.collect { case a: UnresolvedAttribute => a.nameParts }
        .forall(n => plan.resolve(n, resolver).isDefined ||
          LiteralFunctionResolution.resolve(n).isDefined)
    }

  /** Filter op set, reference config_transformer.py:204-242. */
  private def compileFilter(df: DataFrame, c: String, spec: JValue): Seq[Column] = {
    if (!hasColumn(df, c)) return Nil // ref :210: warn + skip
    spec match {
      case JObject(ops) =>
        ops.map { case (op, v) =>
          op match {
            case ">"                    => col(c) > jvalueToLit(v)
            case ">="                   => col(c) >= jvalueToLit(v)
            case "<"                    => col(c) < jvalueToLit(v)
            case "<="                   => col(c) <= jvalueToLit(v)
            case "==" | "equals"        => col(c) === jvalueToLit(v)
            case "!=" | "not_equals"    => col(c) =!= jvalueToLit(v)
            case "in" =>
              val JArray(vs) = v: @unchecked
              col(c).isin(vs.map(jvalueToAny): _*)
            case "not_in" =>
              val JArray(vs) = v: @unchecked
              !col(c).isin(vs.map(jvalueToAny): _*)
            case "contains" =>
              val JString(s) = v: @unchecked
              col(c).contains(s)
            case "is_null"              => col(c).isNull
            case "is_not_null"          => col(c).isNotNull
            case other => throw new IllegalArgumentException(s"unknown filter op: $other")
          }
        }
      case v => Seq(col(c) === jvalueToLit(v)) // bare value = equality (ref :242)
    }
  }

  /** `map` and `apply` custom transformations, reference :268-296. */
  private def applyCustom(df: DataFrame, t: JValue): DataFrame = t \ "type" match {
    case JString("map") =>
      val JString(c) = (t \ "column"): @unchecked
      if (!hasColumn(df, c)) df
      else t \ "mapping" match {
        case JObject(pairs) if pairs.nonEmpty =>
          // pandas .map: unmapped -> NaN, so no otherwise() fallback.
          val chained = pairs.tail.foldLeft(when(col(c) === lit(pairs.head._1), jvalueToLit(pairs.head._2))) {
            case (acc, (k, v)) => acc.when(col(c) === lit(k), jvalueToLit(v))
          }
          df.withColumn(c, chained)
        case _ => df
      }
    case JString("apply") =>
      val JString(c) = (t \ "column"): @unchecked
      val JString(f) = (t \ "function"): @unchecked
      if (!hasColumn(df, c)) df
      else f match {
        case "upper" => df.withColumn(c, upper(col(c)))
        case "lower" => df.withColumn(c, lower(col(c)))
        case "strip" => df.withColumn(c, trim(col(c)))
        case _       => df
      }
    case _ => df
  }

  /** Column existence matching Spark's own case-insensitive resolver —
    * a JDBC source that reports UPPERCASE names (Derby, DB2) must not
    * silently drop lowercase config references. */
  private def hasColumn(df: DataFrame, c: String): Boolean =
    df.columns.exists(_.equalsIgnoreCase(c))

  /** Aggregations, reference :296-350. Output naming `{col}_{func}` with
    * pandas func names; COUNT(*) keeps its config key as the name (the
    * reference only supports COUNT(*) ungrouped — here it works grouped
    * too, since in Spark that's free). */
  private def applyAggregations(df: DataFrame, aggs: JObject): DataFrame = {
    val groupBy = aggs \ "group_by" match {
      case JArray(cs) => cs.collect { case JString(c) => c }
      case _          => Nil
    }
    val parsed = aggs \ "aggregate" match {
      case JObject(fields) =>
        fields.flatMap { case (outName, JString(funcExpr)) =>
          if (funcExpr == "COUNT(*)") Some(count(lit(1)).as(outName))
          else {
            val m = "([A-Za-z_]+)\\(([^)]+)\\)".r.findFirstMatchIn(funcExpr)
            m.flatMap { mm =>
              val (fn, c) = (mm.group(1).toUpperCase, mm.group(2).trim)
              if (!hasColumn(df, c)) None
              else fn match {
                case "SUM"             => Some(dsum(col(c)).as(s"${c}_sum"))
                case "AVG" | "AVERAGE" => Some(davg(col(c)).as(s"${c}_mean"))
                case "COUNT"           => Some(count(col(c)).as(s"${c}_count"))
                case "MIN"             => Some(min(col(c)).as(s"${c}_min"))
                case "MAX"             => Some(max(col(c)).as(s"${c}_max"))
                case _                 => None
              }
            }
          }
        case _ => None
        }
      case _ => Nil
    }
    if (groupBy.isEmpty && parsed.isEmpty) df
    else if (groupBy.isEmpty) df.agg(parsed.head, parsed.tail: _*)
    else if (parsed.isEmpty)
      df.groupBy(groupBy.map(col): _*).agg(count(lit(1)).as("count"))
    else df.groupBy(groupBy.map(col): _*).agg(parsed.head, parsed.tail: _*)
  }
}

/** Versioned config registry (reference config_transformer.py:352
  * `register_config_version`, :484 migration helpers). */
class ConfigRegistry {
  private val configs = mutable.Map[(String, Int), JValue]()

  def register(id: String, version: Int, json: String): Unit =
    configs((id, version)) = JsonMethods.parse(json)

  /** Derive version `toVersion` from an existing one by structural
    * transformation (reference `migrate_config`, config_transformer.py:484
    * — e.g. renaming a verb key or tightening a filter across a fleet of
    * registered pipelines without re-authoring them). */
  def migrate(id: String, fromVersion: Int, toVersion: Int)
             (f: JValue => JValue): Unit = {
    val base = configs.getOrElse((id, fromVersion),
      throw new NoSuchElementException(s"no config $id v$fromVersion"))
    configs((id, toVersion)) = f(base)
  }

  def get(id: String, version: Int): Option[ConfigTransform] =
    configs.get((id, version)).map(new ConfigTransform(_))

  def latestVersion(id: String): Option[Int] =
    configs.keys.collect { case (i, v) if i == id => v } match {
      case vs if vs.nonEmpty => Some(vs.max)
      case _                 => None
    }

  def latest(id: String): Option[ConfigTransform] =
    latestVersion(id).flatMap(v => get(id, v))
}
