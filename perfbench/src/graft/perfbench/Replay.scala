package graft.perfbench

import scala.collection.concurrent.TrieMap
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SimpleMode

import graft.api.{Engine, Prompting}
import graft.catalog.Profiler
import graft.core._
import graft.exec.Executor
import graft.explain.{Explainer, Lineage}
import graft.gen.{Ranker, Templates}
import graft.link.{Fuzzy, Intent}
import graft.plans.ReadOnlyGuard
import graft.safety.Validator

/** One engine plus what the traced replay needs to repeat its stages.
  * `Engine` keeps its schema map, full slice and value-domain memo
  * private, so the replay rebuilds them here from the same public calls. */
final class EngineCtx(val spark: SparkSession, val tables: Seq[String], val fks: Seq[FkEdge],
    tracer: Tracer) {
  val engine = new Engine(spark, tables, fks)
  private lazy val schema: Map[String, Seq[String]] =
    tables.map(t => t -> spark.table(t).schema.fieldNames.toSeq).toMap
  private lazy val fullSlice = SchemaSlice(
    scala.collection.immutable.ListMap(schema.toSeq.sortBy(_._1): _*))
  private val domains = TrieMap.empty[String, Map[String, Seq[String]]]
  private def valueDomains(table: String): Map[String, Seq[String]] =
    if (!tables.contains(table)) Map.empty
    else domains.getOrElseUpdate(table, tracer.span("catalog") {
      tracer.count("catalog.domain_scans")
      try Profiler.stringDomains(spark, table) catch { case NonFatal(_) => Map.empty }
    })

  private def validate(sql: String, needsAgg: Boolean, wantsDistinct: Boolean) =
    tracer.span("safety") {
      tracer.count("safety.calls")
      val v = Validator.validate(spark, sql, tables.toSet, needsAgg, wantsDistinct)
      if (v.isLeft) tracer.count("safety.denied")
      v
    }

  /** `Executor.run`, stage by stage: plan + cost gate, read-only guard,
    * timed collect and result envelope. */
  private def execute(v: Validator.Validated): Either[EngineError, QueryResult] =
    try {
      val df = tracer.span("exec.gate")(Executor.frame(spark, v, Executor.DefaultLimit))
      for {
        _ <- tracer.span("safety") {
          val offense = ReadOnlyGuard.firstOffenseDeep(df.queryExecution.analyzed)
          if (offense.isDefined) tracer.count("safety.denied")
          offense.map(w => SqlSafetyError(s"Statically un-vettable construct: $w is not allowed")).toLeft(())
        }
        _ <- tracer.span("exec.gate")(Executor.costGate(df))
        rows <- tracer.span("exec.collect")(Executor.collectWithTimeout(spark, df, Executor.DefaultTimeoutMs))
      } yield tracer.span("exec.collect") {
        tracer.count("exec.rows", rows.length)
        QueryResult(v.sql, df.columns.toSeq, rows.toSeq.map(_.toSeq.map(Executor.jsonSafe)),
          rows.length, df.queryExecution.explainString(SimpleMode))
      }
    } catch {
      case NonFatal(e) =>
        Left(ExecutionError(Option(e.getMessage).getOrElse(e.getClass.getName).take(1000)))
    }

  private def explained(r: QueryResult, sql: String): QueryResult = tracer.span("explain") {
    val text = Validator.parse(spark, sql).toOption.map(Explainer.explain).getOrElse("")
    val lineage =
      try Lineage.of(spark, sql).map(c => (c.column, c.sources))
      catch { case NonFatal(_) => Nil }
    r.copy(explanation = text, lineage = lineage)
  }

  /** `Engine.run` replayed through the public stage functions. */
  def runTraced(sql: String): Either[EngineError, QueryResult] =
    validate(sql, needsAgg = false, wantsDistinct = false).flatMap(execute).map(explained(_, sql))

  /** `Engine.ask` replayed through the public stage functions, in its
    * order: link, generate and rank, then validate and execute each
    * ranked candidate until one succeeds, then explain and lineage. The
    * engines here have no LLM client, no document collections and no
    * sketch indexes, so those branches of `Engine.ask` never fire. */
  def askTraced(question: String): Either[EngineError, QueryResult] = {
    val slice = tracer.span("link")(Fuzzy.selectRelevant(question, schema))
    val analysis = tracer.span("link")(Intent.analyze(question, tables))
    val ranked = tracer.span("gen") {
      Prompting.build(question, slice, analysis)
      val cands = Templates.candidates(slice, fks, analysis, question, valueDomains, fullSlice)
      Ranker.rank(cands, slice.tables.keySet)
    }
    tracer.count("gen.candidates", ranked.size)
    tracer.count("gen.asks")
    if (ranked.isEmpty) return Left(SqlSafetyError("No candidates generated"))
    val needsAgg = tracer.span("link")(Intent.needsAggregation(question))
    val wantsDistinct = tracer.span("link")(Intent.wantsDistinct(question))
    var lastErr: EngineError = SqlSafetyError("No candidate validated")
    var attempts = 0
    for ((c, _) <- ranked) {
      attempts += 1
      validate(c.sql, needsAgg, wantsDistinct).flatMap(execute) match {
        case Right(r) =>
          tracer.count("gen.attempts", attempts)
          if (attempts == 1) tracer.count("gen.first_choice")
          return Right(explained(r, c.sql))
        case Left(err) => lastErr = err
      }
    }
    tracer.count("gen.attempts", attempts)
    Left(lastErr)
  }
}
