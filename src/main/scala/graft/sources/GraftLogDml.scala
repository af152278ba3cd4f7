package graft.sources

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{AssignmentUtils, EliminateSubqueryAliases, UnresolvedAttribute}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, Cast, EqualTo, Expression, Literal, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, DeleteFromTable, InsertAction, LogicalPlan, MergeIntoTable, UpdateAction, UpdateTable}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.graft.{ColumnBridge, PlanBridge}

/** The SQL front door of row-level DML on the log: an analysis rule
  * (injected by [[graft.plans.GraftExtensions]]) that replaces a
  * resolved `DELETE`, `UPDATE` or `MERGE INTO` whose target is a
  * [[GraftLogTable]] with one command running [[GraftLogOps]]' row-level
  * body — the same key match, candidate prune and one-version commit
  * the utilities use:
  *
  *  - `DELETE FROM t [WHERE c]` → `deleteFromLog(c)`, in the write shape
  *    [[GraftLogOps.DeleteModeConf]] picks;
  *  - `UPDATE t SET a = e, ... [WHERE c]` → `updateLog(c, a -> e, ...)`,
  *    copy-on-write;
  *  - the keyed upsert [[MergeShape]] → `mergeIntoLog` of the source
  *    projected to the table's columns, copy-on-write.
  *
  * Target-column references become column names over the snapshot read;
  * assignment values keep Spark's store-assignment casts and refusals.
  * Every other MERGE shape, a nested-field assignment, and a MERGE
  * whose source key matches more than one table row (Spark would
  * replace each such row, the upsert keeps one) refuse loudly.
  */
object GraftLogDml extends Rule[LogicalPlan] with PredicateHelper {

  /** The one MERGE shape the front door runs. */
  val MergeShape: String =
    "MERGE INTO t USING s ON t.k = s.k [AND t.k2 = s.k2 ...] " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.resolveOperators {
      case d @ DeleteFromTable(Target(t, r), cond) if d.resolved =>
        val c = column(r, cond)
        GraftLogDmlCommand("DELETE", t.root)(s => delete(s, t.root, c))
      case u @ UpdateTable(Target(t, r), assignments, cond) if u.resolved =>
        val cols = dataColumns(t, r)
        val keys = assignments.map(_.key)
        keys.find(k => !cols.exists(c => k.semanticEquals(c))).foreach(k =>
          throw PlanBridge.analysisError(s"graftlog UPDATE assigns " +
            s"top-level columns only, not ${k.sql}: write UPDATE t SET " +
            "c = e, ... and replace a struct whole, as in SET meta = " +
            "named_struct(...)"))
        val aligned = AssignmentUtils.alignUpdateAssignments(cols,
          storeAssigned(assignments), false, false)
        val values = cols.zip(aligned).collect {
          case (c, a) if keys.exists(_.semanticEquals(c)) =>
            c.name -> column(r, a.value)
        }.toMap
        val c = column(r, cond.getOrElse(Literal.TrueLiteral))
        GraftLogDmlCommand("UPDATE", t.root)(s =>
          GraftLogOps.updateLog(s, t.root, c, values))
      case m @ MergeIntoTable(Target(t, r), source, on, matched,
          notMatched, bySource, evolve) if m.resolved =>
        val cols = dataColumns(t, r)
        def refuse = throw PlanBridge.analysisError(
          s"graftlog MERGE INTO runs one shape, the keyed upsert: $MergeShape")
        val (update, insert) = (matched, notMatched, bySource) match {
          case (Seq(UpdateAction(None, u, star)), Seq(InsertAction(None, i)),
              Seq()) if !evolve =>
            (AssignmentUtils.alignUpdateAssignments(cols, storeAssigned(u),
              star, false).map(a => bare(a.value)),
              AssignmentUtils.alignInsertAssignments(cols, storeAssigned(i))
                .map(a => bare(a.value)))
          case _ => refuse
        }
        if (update.zip(insert).exists { case (a, b) => !a.semanticEquals(b) })
          refuse
        // each ON conjunct equates a table column with the source
        // column its row is upserted from (so of the same type)
        val keys = splitConjunctivePredicates(on).map {
          case EqualTo(a: Attribute, b: Attribute) =>
            val (key, from) = if (cols.exists(_.semanticEquals(a))) (a, b)
              else (b, a)
            val i = cols.indexWhere(_.semanticEquals(key))
            if (i < 0 || !insert(i).semanticEquals(from)) refuse
            cols(i).name
          case _ => refuse
        }
        if (keys.distinct.size != keys.size) refuse
        GraftLogDmlCommand("MERGE", t.root) { s =>
          val src = PlanBridge.ofRows(s, source).select(
            cols.zip(insert).map { case (c, v) =>
              ColumnBridge.column(Alias(v, c.name)()) }: _*)
          GraftLogOps.mergeIntoLog(s, t.root, src, keys,
            GraftLogOps.DeleteModeCow, oneRowPerKey = true)
        }
    }

  /** SQL `DELETE` and `TRUNCATE`: [[GraftLogOps.deleteFromLog]] in the
    * write shape the session conf [[GraftLogOps.DeleteModeConf]] picks.
    */
  private[sources] def delete(s: SparkSession, root: String,
      cond: Column): Int =
    GraftLogOps.deleteFromLog(s, root, cond,
      s.conf.getOption(GraftLogOps.DeleteModeConf)
        .getOrElse(GraftLogOps.DeleteModeCow))

  /** A writable log table behind a (possibly aliased) relation. */
  private object Target {
    def unapply(p: LogicalPlan)
        : Option[(GraftLogTable, DataSourceV2Relation)] =
      EliminateSubqueryAliases(p) match {
        case r: DataSourceV2Relation => r.table match {
          case t: GraftLogTable =>
            if (t.cdc) throw PlanBridge.analysisError(
              "graftlog: a change-feed read is not writable")
            Some((t, r))
          case _ => None
        }
        case _ => None
      }
  }

  /** The relation's table columns, without scan metadata columns. */
  private def dataColumns(t: GraftLogTable, r: DataSourceV2Relation)
      : Seq[Attribute] =
    r.output.filter(a => t.tableSchema.fieldNames.contains(a.name))

  /** Assignments as written: Spark's analyzer casts each value to its
    * column's type for a table without row-level operations, with no
    * store-assignment check; the cast goes, so alignment re-applies
    * the checked one.
    */
  private def storeAssigned(as: Seq[Assignment]): Seq[Assignment] =
    as.map { a =>
      a.value match {
        case c: Cast if c.getTagValue(Cast.BY_TABLE_INSERTION).isDefined =>
          a.copy(value = c.child)
        case _ => a
      }
    }

  private def bare(e: Expression): Expression = e match {
    case a: Alias => a.child
    case other    => other
  }

  /** A resolved expression over the target relation as a Column whose
    * table references are names, resolved again over the snapshot read.
    */
  private def column(r: DataSourceV2Relation, e: Expression): Column = {
    val ids = r.output.map(_.exprId).toSet
    ColumnBridge.column(e.transform {
      case a: AttributeReference if ids(a.exprId) =>
        UnresolvedAttribute(Seq(a.name))
    })
  }
}

/** One SQL DML statement on the log table at `table`, run as one of
  * [[GraftLogOps]]' row-level bodies.
  */
case class GraftLogDmlCommand(statement: String, table: String)(
    body: SparkSession => Int) extends LeafRunnableCommand {
  override protected def otherCopyArgs: Seq[AnyRef] = body :: Nil
  override def run(s: SparkSession): Seq[Row] = {
    body(s)
    Nil
  }
}
