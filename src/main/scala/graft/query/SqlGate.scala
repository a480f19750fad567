package graft.query

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.plans.logical.{Command, DeleteFromTable, InsertIntoStatement, LogicalPlan, MergeIntoTable, UpdateTable}
import org.apache.spark.sql.graft.PlanBridge

/** SELECT-only gate + table extraction.
  *
  * The reference gates with regexes over the SQL text
  * (`internal/security/sql_sanitizer.go:259-298`) and extracts table
  * names with more regexes (`table_extractor.go:57-100`). Here both use
  * the real parser: parse once, whitelist by plan node type, then apply
  * Spark's own CTE substitution and collect the `UnresolvedRelation`s
  * left — robust against the comment/casing/whitespace tricks the
  * reference's regexes chase. The gated plan is the one the engine
  * executes: the SQL text is never parsed again.
  *
  * Differences kept intentionally: UNION is allowed (the reference
  * banned it only as injection paranoia; Spark executes it natively).
  * DDL/DML (any `Command`), EXPLAIN-of-DML, and multi-statement input
  * are rejected, as is oversized SQL (same 10000-char cap). */
object SqlGate {

  /** @param plan the parse with CTE references substituted
    * @param tables the relation names it reads */
  final case class Gated(plan: LogicalPlan, tables: Seq[String])

  val MaxQueryLength = 10000

  /** Functions a SELECT-level principal must not reach: `reflect`/
    * `java_method` invoke ARBITRARY static Java methods (e.g.
    * `reflect('java.lang.System','getenv','PATH')` — environment
    * disclosure from a query), and `graft_secret_key` is the engine's
    * key accessor (not registered in any SQL registry, but gated here
    * too so a future registration mistake cannot re-open key
    * exfiltration). */
  private val BlockedFunctions = Set("reflect", "java_method", "graft_secret_key")

  def validate(spark: SparkSession, sql: String): Either[String, Gated] = {
    if (sql == null || sql.trim.isEmpty) return Left("empty query")
    if (sql.length > MaxQueryLength) return Left(s"query exceeds $MaxQueryLength chars")
    Try(spark.sessionState.sqlParser.parsePlan(sql)) match {
      case Failure(e) => Left(s"parse error: ${e.getMessage}")
      case Success(plan) =>
        // DML statements (INSERT/UPDATE/DELETE/MERGE) are plain logical
        // plans in Spark 4, not Command subclasses — reject explicitly.
        val mutating = plan.exists {
          case _: Command | _: InsertIntoStatement | _: UpdateTable |
              _: DeleteFromTable | _: MergeIntoTable => true
          case _ => false
        }
        if (mutating) Left("only SELECT queries are allowed")
        else {
          // the engine's table namespace is flat; a qualified name is
          // either a typo or a datasource-on-file escape
          // (parquet.`/path`, text.`/etc/...`) — reject both. Defense in
          // depth with spark.sql.runSQLOnFiles=false (GraftSession).
          val qualified = collectQualified(plan)
          if (qualified.nonEmpty)
            Left(s"qualified relation names are not supported: ${qualified.head}")
          else {
            val blocked = collectBlockedFunctions(plan)
            if (blocked.nonEmpty)
              Left(s"function is not allowed: ${blocked.head}")
            else Try(PlanBridge.substituteCtes(spark, plan)) match {
              case Failure(e) => Left(s"analysis error: ${e.getMessage}")
              case Success(substituted) => Right(Gated(substituted, tables(substituted)))
            }
          }
        }
    }
  }

  /** Multipart relation names anywhere in the query (subqueries and CTE
    * bodies included). */
  private def collectQualified(plan: LogicalPlan): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    def walk(p: LogicalPlan): Unit = p.foreach {
      case w: org.apache.spark.sql.catalyst.plans.logical.UnresolvedWith =>
        w.cteRelations.foreach { case (_, cte, _) => walk(cte) }
      case r: UnresolvedRelation if r.multipartIdentifier.length > 1 =>
        out += r.multipartIdentifier.mkString(".")
      case other => other.subqueries.foreach(walk)
    }
    walk(plan)
    out.toSeq
  }

  /** Blocked function invocations anywhere in the query, including CTE
    * bodies, expression subqueries, and lambda bodies. */
  private def collectBlockedFunctions(plan: LogicalPlan): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    def walkExpr(e: org.apache.spark.sql.catalyst.expressions.Expression): Unit = e.foreach {
      case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction =>
        val name = f.nameParts.last.toLowerCase
        if (BlockedFunctions(name)) out += name
      case sub: org.apache.spark.sql.catalyst.expressions.SubqueryExpression =>
        walk(sub.plan)
      case _ => ()
    }
    def walk(p: LogicalPlan): Unit = p.foreach {
      // cteRelations are innerChildren (not traversed by foreach); the
      // main body IS in children and gets its own visit below
      case w: org.apache.spark.sql.catalyst.plans.logical.UnresolvedWith =>
        w.cteRelations.foreach { case (_, cte, _) => walk(cte) }
      case node => node.expressions.foreach(walkExpr)
    }
    walk(plan)
    out.toSeq
  }

  /** Relation names left after CTE substitution — real relations, never
    * CTE names — anywhere in the plan, expression subqueries and CTE
    * bodies included (lowercased, deduped). */
  private def tables(substituted: LogicalPlan): Seq[String] =
    substituted.collectWithSubqueries {
      case r: UnresolvedRelation => r.multipartIdentifier.last.toLowerCase
    }.distinct
}
