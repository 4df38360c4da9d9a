package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule

/** Physical WITHIN-FILE row-group skipping for constancy-prunable
  * predicates (r13): the scan-path refinement (`PartPrune.refine`, a
  * caller of the row-group constancy engine) can only
  * drop whole files through `listFiles` — a row group dropped inside a
  * surviving file is observability, not IO, because the standard parquet
  * reader cannot push a computed-key predicate (`year(ts) = 1996`,
  * `dayofweek(ts) IN (1,7)`) to its own row-group filter. This rule
  * substitutes the relation with the byte-range [[RowGroupScan]] leaf
  * (the idx7/top-k machinery) when the refinement narrows STRICTLY
  * within at least one file, so skipped groups are physically never
  * read. On a range-sorted layout a one-year slice of a decade-spanning
  * file set reads ~1/10 of each file instead of all of it.
  *
  * Soundness: the Filter stays ABOVE the substituted scan (Inexact
  * contract — Spark re-applies the full predicate), the refinement is
  * over-approximate by construction, and translatable conjuncts still
  * reach the reader for page-level skipping inside kept groups. Runs
  * AFTER StatsAggPushdown in the injected rule list, so catalog folds
  * (which replace the whole Aggregate) always get first claim; a fold
  * that declines leaves its Filter to this rule. Whole-file-only drops
  * stay with the `listFiles` path (standard FileSourceScanExec). The
  * swap itself, byte-range check and pruning record included, is
  * [[IndexedRelation.substitute]], shared with [[TopKPushdown]] and
  * [[JoinPruneRule]]; this rule owns only its strip, its decision and
  * its consumed columns. Kill switches: shared `spark.graft.partPrune`,
  * plus this rule's own `spark.graft.partPruneScan`. */
final case class PartPruneScan(session: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (session.conf.get("spark.graft.partPrune", "true") != "true") return plan
    if (session.conf.get("spark.graft.partPruneScan", "true") != "true") return plan
    plan.transform {
      // the render Project above the Filter fixes the column set — fold
      // it into the leaf's required schema so kept row groups read only
      // the consumed column chunks
      case p @ Project(pl, f @ Filter(cond, child)) if cond.deterministic =>
        rewrite(f, cond, child, Some(pl.flatMap(_.references.map(_.name)).toSet))
          .map(nf => p.copy(child = nf)).getOrElse(p)
      case f @ Filter(cond, child) if cond.deterministic =>
        rewrite(f, cond, child, None).getOrElse(f)
    }
  }

  private def rewrite(
      f: Filter, cond: Expression, child: LogicalPlan,
      consumed: Option[Set[String]]): Option[LogicalPlan] = {
    def strip(p: LogicalPlan): Option[IndexedRelation] = p match {
      case Project(pl, c) if pl.forall(_.isInstanceOf[AttributeReference]) =>
        strip(c)
      case other => IndexedRelation.of(other)
    }
    val ir = strip(child).getOrElse(return None)
    val idx = ir.index
    // cheap pure-expression gate BEFORE any catalog IO: ordinary
    // predicates (no determined part / unrenderable image) never pay a
    // planning-time stats fetch here
    if (!graft.prune.PartPrune.qualifies(idx, Seq(cond))) return None
    // the stats walk's plans are what listFiles would hand the reader —
    // the baseline; the refinement must narrow WITHIN a file to justify
    // the byte-range leaf (whole-file drops are already physical)
    val statsPlans = idx.getFiles(cond)
    val (refined, partRoute) =
      graft.prune.PartPrune.refine(idx, Seq(cond), statsPlans)
    if (partRoute.isEmpty) return None
    val base = statsPlans.map(p => p.fileName -> p.scanRowGroups.size).toMap
    if (!refined.exists(p => p.scanRowGroups.size < base(p.fileName)))
      return None
    // every column any surviving node consumes must resolve against the
    // substituted scan; a known render Project narrows it to the
    // actually-consumed set
    val needed = (child.collect {
      case p: Project => p.projectList.map(_.name)
    }.flatten ++ cond.references.map(_.name).toSeq ++
      consumed.getOrElse(child.output.map(_.name).toSet)).toSet
    ir.substitute(child, refined, needed, Seq(cond), idx.catalogCounts(),
      partRoute :+ "part-rowgroup-scan").map(c => f.copy(child = c))
  }
}
