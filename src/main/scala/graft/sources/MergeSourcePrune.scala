package graft.sources

import graft.storage.KeyPrune
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, EqualTo, Expression, IsNotNull, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LogicalPlan, MergeRows, Project, ReplaceData, WriteDelta}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.connector.catalog.Table
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, DataSourceV2ScanRelation}
import org.apache.spark.sql.graftshim.ColumnBridge

/** SOURCE-BOUNDED group discovery for SQL `MERGE INTO` on graft tables.
  *
  * Spark's group-based rewrite finds the affected groups with a runtime
  * subquery that joins the (column-pruned) WHOLE target with the source —
  * O(table) per MERGE, the one scale creep the API upsert path doesn't have
  * (it prunes candidate files against the source keys first). This rule
  * gives the SQL path the same property through the same pruner
  * ([[graft.storage.KeyPrune]]): before execution, hand it the merge
  * SOURCE's key column — one bounded job collects its distinct values
  * (over the cap, a distributed range join) — and pass the surviving
  * candidate paths to the operation ([[SourceBoundedRowLevelOp]]:
  * the group-based [[GraftRowLevelOperation]] AND the deletion-vector
  * delta path [[GraftDvRowLevelOperation]]) — every scan instance (the
  * matching-rows subquery, the ReplaceData scan, the WriteDelta match
  * scan) then reads O(candidate files). At 100 TB a 100-row CDC MERGE scans a handful
  * of files to discover its groups instead of the whole key column. Same
  * find-touched-files-first design the public lake engines use for MERGE;
  * the reference's CDC apply step is exactly such a MERGE
  * (src/iceberg/iceberg-cdc-load.py:130-150).
  *
  * Safety rules (decline ⇒ full scan, never wrong):
  *   - only `EqualTo` conjuncts on the table's stat-tracked leading key are
  *     used (null keys can't equal-match, so null-blind file stats prune
  *     exactly; a `<=>` condition is ignored);
  *   - a MERGE with NOT MATCHED BY SOURCE clauses touches target rows the
  *     source can't reach — no prune;
  *   - streaming or non-deterministic sources are never re-evaluated;
  *   - any failure in the bounds job falls back to no prune.
  */
final class MergeSourcePrune private[graft] (
    session: SparkSession, maxKeys: Int)
  extends Rule[LogicalPlan] with PredicateHelper {

  def this(session: SparkSession) = this(session, KeyPrune.MaxKeys)

  /** Below this many manifest files the bounds job cannot pay for itself —
    * it is one extra Spark job (~0.3–0.6 s locally) while the runtime group
    * filter already bounds the rewrite on a handful of files. The prune is
    * a BIG-table device (flat-at-×32 evidence in BASELINE.md); specs that
    * exercise it on tiny fixtures set this to 0. */
  private def minFiles: Int =
    session.conf.get("graft.mergeSourcePruneMinFiles", "64").toInt

  override def apply(plan: LogicalPlan): LogicalPlan = {
    plan.foreach {
      // group-based (COW) and delta-based (deletion-vector) rewrites both
      // discover matches by scanning the target — the same source-bounds
      // prune applies to either
      case rd: ReplaceData => attempt(rd.table, rd.query)
      case wd: WriteDelta => attempt(wd.table, wd.query)
      case _ => ()
    }
    plan
  }

  private def attempt(tableRel: LogicalPlan, query: LogicalPlan): Unit =
    tableRel match {
      case r: DataSourceV2Relation =>
        ColumnBridge.rowLevelOperationOf(r.table) match {
          case Some(op: SourceBoundedRowLevelOp)
              if op.manifest.files.size >= minFiles =>
            if (!op.sourcePruneAttempted) {
              op.sourcePruneAttempted = true
              // any surprise (exotic plan shape, unparseable stat value)
              // must degrade to the unpruned scan, not fail the MERGE
              scala.util.Try(candidatePaths(query, r.table, op)).toOption
                .flatten.foreach(paths => op.sourceKeyFiles = Some(paths))
            }
            // REBIND on every optimizer pass (idempotent, plan-walk only):
            // the one-shot guard covers only the bounds JOB. An instance of
            // this rule registered in the operator-optimization batch (the
            // GraftExtensions injectOptimizerRule path) runs BEFORE Spark's
            // PartitionPruning batch plants the group filter's
            // DynamicPruningExpression — were the whole attempt one-shot,
            // the later extraOptimizations instance (the only one that SEES
            // the DPE) would skip and the subquery scan would stay O(table).
            // Try: the bind is purely an optimization — an unexpected
            // plan shape in the DPE walk must degrade to the unpruned
            // subquery scan, never abort the statement
            op.sourceKeyFiles.foreach(paths => scala.util.Try(
              boundGroupFilterSubquery(query, op, paths)): Unit)
          case _ => ()
        }
      case _ => ()
    }

  /** Spark's runtime group filter (RowLevelOperationRuntimeGroupFiltering,
    * which ran earlier in the optimizer) discovers matched groups with a
    * `DynamicPruningExpression(InSubquery(...))` whose build plan joins a
    * FRESH scan of the plain table (projecting `_file`) with the source —
    * that scan has no static predicates, so it reads the WHOLE table. The
    * candidate set bounds it exactly like the operation's own scans: a file
    * no source key can reach cannot contain a matched row.
    *
    * WHICH scan: only the one whose own `_file` attribute IS the
    * subquery's output value (exprId traced). The build join's SOURCE side
    * may legitimately re-read the same table with `_file` projected (e.g.
    * `USING (SELECT *, _file ...) s ON t.id = s.other_col`) — bounding THAT
    * scan would filter source rows by leading-pk stats computed over the
    * join-key values, silently dropping legitimate source rows whenever
    * the join key is not the source row's own pk. Matching name+table
    * alone cannot tell the two apart; the output exprId can, because the
    * group filter's build plan projects the TARGET scan's `_file`
    * attribute unaliased. An aliased/exotic shape simply never matches —
    * a safe decline to the unpruned subquery scan. */
  private def boundGroupFilterSubquery(
      query: LogicalPlan, op: SourceBoundedRowLevelOp,
      paths: Set[String]): Unit = {
    val key = (op.tableRoot.toString, op.manifest.version)
    query.foreach { node =>
      node.expressions.foreach(_.foreach {
        case dp: org.apache.spark.sql.catalyst.expressions
            .DynamicPruningExpression =>
          dp.child.foreach {
            case in: org.apache.spark.sql.catalyst.expressions.InSubquery =>
              val outIds = in.query.plan.output.map(_.exprId).toSet
              in.query.plan.foreach {
                case sr: DataSourceV2ScanRelation => sr.scan match {
                  case g: GraftScan if g.tableKey == key &&
                    sr.output.exists(a =>
                      a.name == GraftTable.FileColumnName &&
                        outIds.contains(a.exprId)) =>
                    g.extraKeep = Some(paths)
                  case _ => ()
                }
                case _ => ()
              }
            case _ => ()
          }
        case _ => ()
      })
    }
  }

  /** Every group-based MERGE carries ONE synthetic
    * `Keep(Copy, true, <target row>)` in its not-matched-by-source
    * instructions — the pass-through that re-emits unmatched target rows of
    * scanned groups. Anything else there is a REAL `WHEN NOT MATCHED BY
    * SOURCE` action: it touches rows the source can't reach, so source-key
    * pruning is unsound. */
  private def hasRealNotMatchedBySource(mr: MergeRows): Boolean =
    mr.notMatchedBySourceInstructions.exists {
      case k: MergeRows.Keep =>
        k.context != MergeRows.Copy ||
          k.condition != org.apache.spark.sql.catalyst.expressions
            .Literal.TrueLiteral
      case _ => true
    }

  private def candidatePaths(
      query: LogicalPlan, tbl: Table,
      op: SourceBoundedRowLevelOp): Option[Set[String]] = {
    val mr = query.collectFirst { case m: MergeRows => m } match {
      case Some(m) => m
      case None => return None // UPDATE/DELETE rewrites: not this rule's job
    }
    if (hasRealNotMatchedBySource(mr)) return None
    // group mode puts the Join directly under MergeRows; delta mode
    // interposes a Project (row-id / from-target bookkeeping columns)
    @scala.annotation.tailrec
    def unwrap(p: LogicalPlan): LogicalPlan = p match {
      case Project(_, c) => unwrap(c)
      case other => other
    }
    val join = unwrap(mr.child) match {
      case j: Join => j
      case _ => return None
    }
    val cond = join.condition.getOrElse(return None)
    // depending on where in optimization this runs, the target read is a
    // plain relation (pre-pushdown) or a scan relation (post-pushdown)
    def hasTarget(p: LogicalPlan): Boolean = p.exists {
      case r: DataSourceV2Relation => r.table eq tbl
      case s: DataSourceV2ScanRelation => s.relation.table eq tbl
      case _ => false
    }
    val (targetSide, sourceSide) =
      (hasTarget(join.left), hasTarget(join.right)) match {
        case (true, false) => (join.left, join.right)
        case (false, true) => (join.right, join.left)
        case _ => return None // self-merge or unrecognized shape
      }
    if (sourceSide.isStreaming) return None
    if (sourceSide.exists(_.expressions.exists(!_.deterministic)))
      return None

    val m = op.manifest
    val keyName = m.primaryKey.headOption.getOrElse(return None)
    val resolver = session.sessionState.conf.resolver
    val targetKey = targetSide.output
      .find(a => resolver(a.name, keyName)).getOrElse(return None)
    val srcKey: Expression =
      splitConjunctivePredicates(cond).collectFirst {
        case EqualTo(l: Attribute, r) if l.exprId == targetKey.exprId &&
          r.references.subsetOf(sourceSide.outputSet) => r
        case EqualTo(l, r: Attribute) if r.exprId == targetKey.exprId &&
          l.references.subsetOf(sourceSide.outputSet) => l
      }.getOrElse(return None)

    // the pruner reads the key column by the table's key name; a NULL
    // source key never equal-matches, so dropping its row is exact (NaN
    // does match NaN: it must reach the pruner, which keeps every file)
    val keys = ColumnBridge.ofRows(session, Project(
      Seq(Alias(srcKey, keyName)()), Filter(IsNotNull(srcKey), sourceSide)))
    val candidates =
      KeyPrune.touched(m, op.tableRoot, keys, maxKeys).map(_._1).getOrElse(Nil)
    logInfo(s"graft MERGE source-bounded prune: ${candidates.size}/" +
      s"${m.files.size} candidate files")
    Some(candidates.map(_.path).toSet)
  }
}
