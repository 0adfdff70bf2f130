package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.catalog.HiveTableRelation
import org.apache.spark.sql.catalyst.expressions.{And, Cast, EqualTo, Expression, Literal, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.LogicalRelation

/** Catalyst rule enforcing tenant isolation at the plan level: every scan of
  * a `*_raw` catalog table gains the tenant equality filter, whether or not
  * the query author remembered it.
  *
  * The reference trusts each generated extraction query to carry the
  * `tenant_filter` predicate (reference: base.py:63-68 builds it,
  * _tenant_factory.py:222-230 wires it); ad-hoc reads of the raw tables
  * have no such guarantee. This rule closes that hole — the engine-level
  * equivalent of row-level security for the multi-tenant warehouse.
  *
  * Injected as a post-hoc *resolution* rule (not an optimizer rule) so the
  * filter is part of the analyzed plan: cached raw tables then cache the
  * *filtered* plan — a later tenant switch can't be served another tenant's
  * cached rows, and caching can't bypass isolation.
  *
  * Configured per session (empty column disables the rule):
  * {{{
  *   spark.conf.set("graft.tenant.filterColumn", "project_id")
  *   spark.conf.set("graft.tenant.filterValue",  "EED70012-...")
  * }}}
  * The literal is cast to the column's type, so numeric tenant keys work.
  *
  * Maintenance operations (compaction, delete-rewrite, watermark reads in
  * graft.store.Warehouse) are tenant-agnostic BY DESIGN — they run under
  * [[TenantIsolationRule.withMaintenanceBypass]], which suspends injection
  * for the enclosed reads; without it a tenant-scoped session compacting a
  * shared raw table would silently drop every other tenant's rows.
  *
  * Idempotency is structural (a raw relation already sitting under exactly
  * this filter is left alone) — node tags or analyzed-flags cannot be used
  * because the session catalog's tableRelationCache SHARES relation
  * instances across queries, so per-node state from one query's analysis
  * would wrongly suppress injection in the next.
  */
case class TenantIsolationRule(spark: SparkSession) extends Rule[LogicalPlan] {

  import TenantIsolationRule._

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val column = spark.conf.get(ColumnKey, "")
    val value = spark.conf.get(ValueKey, "")
    if (column.isEmpty ||
        spark.sparkContext.getLocalProperty(BypassKey) == "true") return plan

    def isRawRelation(p: LogicalPlan): Boolean = p match {
      case rel: LogicalRelation =>
        rel.catalogTable.exists(_.identifier.database.exists(_.endsWith("_raw")))
      case rel: HiveTableRelation =>
        rel.tableMeta.identifier.database.exists(_.endsWith("_raw"))
      case _ => false
    }

    // `db.table` WITHOUT the catalog prefix (the exemption-list key —
    // Spark 4 identifiers print as spark_catalog.db.table)
    def identOf(p: LogicalPlan): String = {
      def key(id: org.apache.spark.sql.catalyst.TableIdentifier): String =
        (id.database.toSeq :+ id.table).mkString(".")
      p match {
        case rel: LogicalRelation =>
          rel.catalogTable.map(t => key(t.identifier)).getOrElse(p.nodeName)
        case rel: HiveTableRelation => key(rel.tableMeta.identifier)
        case _ => p.nodeName
      }
    }

    val exempt = spark.conf.get(ExemptKey, "").split(',')
      .map(_.trim.toLowerCase).filter(_.nonEmpty).toSet

    def predicateFor(rel: LogicalPlan) =
      rel.output.find(a => a.name.equalsIgnoreCase(column))
        .map(attr => EqualTo(attr, Cast(Literal(value), attr.dataType)))

    // FAIL CLOSED (round-13 review): a raw relation without the configured
    // isolation column (or a typo'd column name) must refuse loudly — the
    // old `.getOrElse(rel)` served every tenant's rows silently, the one
    // failure mode a row-level-security mechanism must not have. Raw
    // tables that are tenant-agnostic BY DESIGN (the reference's
    // tenantFilter-less TableSpecs: shared reference data) are declared,
    // not inferred: list them in graft.tenant.exemptTables.
    def filterOrRefuse(rel: LogicalPlan): LogicalPlan =
      predicateFor(rel) match {
        case Some(p) => Filter(p, rel)
        case None if exempt.contains(identOf(rel).toLowerCase) => rel
        case None => throw new IllegalStateException(
          s"tenant isolation: raw relation ${identOf(rel)} carries no " +
            s"column '$column' (graft.tenant.filterColumn) — refusing the " +
            "unfiltered scan; fix the column name, or declare the table " +
            s"tenant-agnostic in $ExemptKey")
      }

    // top-level CONJUNCTS only: `cond.find` would match the tenant
    // predicate anywhere — including under OR/NOT, where it guards
    // nothing (`project_id = 'own' OR true` admits every tenant)
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }

    // subquery plans are NOT children of the operator tree — an IN/EXISTS/
    // scalar subquery scanning a raw table would otherwise escape the rule
    // entirely (the cross-tenant leak the rule exists to close)
    def injectSubqueries(p: LogicalPlan): LogicalPlan =
      p.transformExpressions {
        case se: SubqueryExpression => se.withNewPlan(inject(se.plan))
      }

    // manual recursion: transform's automatic descent would re-wrap the
    // relation under its own freshly injected (or pre-existing) filter
    def inject(p: LogicalPlan): LogicalPlan = p match {
      case f @ Filter(cond, rel) if isRawRelation(rel) &&
          predicateFor(rel).exists(exp =>
            conjuncts(cond).exists(_.semanticEquals(exp))) =>
        injectSubqueries(f) // guarded; still police subqueries in the cond
      case rel if isRawRelation(rel) =>
        filterOrRefuse(rel)
      case other => injectSubqueries(other.mapChildren(inject))
    }
    inject(plan)
  }
}

object TenantIsolationRule {
  val ColumnKey = "graft.tenant.filterColumn"
  val ValueKey = "graft.tenant.filterValue"
  val BypassKey = "graft.tenant.maintenanceBypass"

  /** Comma-separated `db.table` list of raw tables that are
    * tenant-agnostic BY DESIGN (no isolation column to filter on) —
    * everything else without the column fails closed.
    */
  val ExemptKey = "graft.tenant.exemptTables"

  /** Run `body` with tenant-filter injection suspended (maintenance ops).
    * The flag is a SparkContext local property, not a session conf: it
    * holds for the calling thread and the threads it creates inside
    * `body`, so a maintenance read on one thread never switches isolation
    * off for another thread's queries on the same session, and
    * overlapping blocks on two threads cannot leave the flag set.
    */
  def withMaintenanceBypass[T](spark: SparkSession)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(BypassKey)
    sc.setLocalProperty(BypassKey, "true")
    try body finally sc.setLocalProperty(BypassKey, prev) // null removes it
  }
}
