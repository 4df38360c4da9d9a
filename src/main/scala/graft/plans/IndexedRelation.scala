package graft.plans

import graft.index.FileScanPlan
import graft.sources.{IndexedParquetFileIndex, RowGroupSkipScan}
import org.apache.spark.sql.catalyst.expressions.{Alias, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.StructType

/** An unpartitioned relation over an [[IndexedParquetFileIndex]] — the
  * leaf every graft optimizer rule consults the catalog for — and the one
  * hand-off from a catalog row-group choice to the scan that reads it
  * (the reference's one `scan()` seam handing the reader one access
  * plan, main.rs:256-305). */
final case class IndexedRelation(
    rel: LogicalRelation, fs: HadoopFsRelation, fileIndex: IndexedParquetFileIndex) {

  def index: graft.index.StatsIndex = fileIndex.statsIndex

  /** `plan` with this relation replaced, in place, by a [[RowGroupScan]]
    * over exactly `plans`, under an exprId-preserving alias Project, so
    * every node above it — the Filter Spark re-applies (the Inexact
    * contract), Projects, a Join — still resolves. `consumed` names the
    * columns those nodes read; only their chunks are read. `filters` are
    * the data filters the decision answered: recorded with it, and their
    * translatable conjuncts reach the reader for page-level skipping
    * inside kept groups. The decision is recorded on the file index with
    * the caller's `counts`. None — nothing recorded, plan unchanged —
    * when a kept group has no byte range (a pre-range catalog). */
  def substitute(
      plan: LogicalPlan,
      plans: Seq[FileScanPlan],
      consumed: Set[String],
      filters: Seq[Expression],
      counts: Option[(Long, Long)],
      route: Seq[String]): Option[LogicalPlan] = {
    if (plans.exists(p => p.scanRowGroups.exists(rg => !p.rowGroupRanges.contains(rg))))
      return None
    fileIndex.record(filters, plans, counts, route)
    val required = StructType(fs.dataSchema.filter(f => consumed.contains(f.name)))
    val scan = RowGroupScan(
      DataTypeUtils.toAttributes(required),
      fileIndex.rootPaths.head.toString, plans, fs.dataSchema, required,
      mergeRuns = true,
      pushedFilters = filters.flatMap(RowGroupSkipScan.translateDataFilters))
    val byName = scan.output.map(o => o.name -> o).toMap
    val remap = Project(
      rel.output.filter(o => consumed.contains(o.name)).map(o =>
        Alias(byName(o.name), o.name)(exprId = o.exprId, qualifier = o.qualifier)),
      scan)
    Some(plan.transformUp { case l: LogicalRelation if l eq rel => remap })
  }
}

object IndexedRelation {
  def of(p: LogicalPlan): Option[IndexedRelation] = p match {
    case l: LogicalRelation => l.relation match {
      case h: HadoopFsRelation if h.partitionSchema.isEmpty => h.location match {
        case fi: IndexedParquetFileIndex => Some(IndexedRelation(l, h, fi))
        case _ => None
      }
      case _ => None
    }
    case _ => None
  }
}
