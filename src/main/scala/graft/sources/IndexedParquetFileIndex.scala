package graft.sources

import graft.index.{FileScanPlan, RowLevelIndex, StatsBridge, StatsIndex}
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, EqualNullSafe, EqualTo, Expression, In, InSet, Literal}
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.types.StructType

import scala.collection.immutable.SortedSet

/** What the last planning pass decided to scan — the observability hook
  * mirroring the reference's `SimpleExecutionLog`/`last_execution()`
  * (/root/reference/sqlx-sqlite/src/main.rs:202-204, 319-323, 426-445).
  * Golden pruning tests assert on this, exactly like the reference's
  * "Files scanned:" console assertions (sqlx-sqlite/README.md:38-70).
  *
  * `route` records which index kinds the provider consulted beyond the
  * stats catalog: `rowlevel(col)` = precise point/IN postings intersected
  * in; `rowlevel-range(col)` = bounded-range postings (one B-tree range
  * read of the posting catalog); `rowlevel-degraded(col)` = postings
  * overflowed the driver cap (hot key / too-wide range), the range has
  * string bounds, or the lookup failed, and the stats-pruned plans stand
  * alone; `rowlevel-stale(col)` = the posting catalog's covered-files
  * table doesn't cover every live file (built before an
  * append/compaction), or the catalog is incomplete — catalog path only.
  * Empty = stats(+bloom) only.
  */
final case class PruneExecution(
    dataFilters: Seq[Expression],
    plans: Seq[FileScanPlan],
    totalFiles: Int,
    totalRowGroups: Int,
    route: Seq[String] = Nil) {
  def scannedFiles: Seq[String] = plans.map(_.fileName)
  def scannedRowGroups: Int = plans.map(_.scanRowGroups.size).sum
  def render: String =
    plans.map(p => s"${p.fileName} ${p.render}").mkString("Files scanned: [", "; ", "]")
}

/** Custom [[FileIndex]] that consults the external stats index at planning
  * time: Spark pushes the scan's data filters into `listFiles`, we fold them
  * into one conjunction (reference's `conjunction`, main.rs:265-272), ask
  * the index which files still matter, and return only those. Spark
  * re-applies every data filter above the scan, giving the reference's
  * `Inexact` pushdown semantics for free (main.rs:308-316) — pruning here
  * can only over-scan, never change results.
  *
  * Row-group granularity: the index's per-row-group decision is recorded in
  * [[lastExecution]] (through [[record]], which the graft optimizer rules
  * that substitute a [[graft.plans.RowGroupScan]] share); the physical
  * skip of non-matching row groups happens in the vectorized parquet
  * reader via footer-stats filter pushdown
  * (`spark.sql.parquet.filterPushdown`), which reproduces the reference's
  * ParquetAccessPlan outcome from the same min/max values (SURVEY.md §7.4).
  *
  * Automatic index routing (the reference's design seam — ONE `scan()`
  * call consults "the index", main.rs:256-305, with the row-level index
  * named as the precise extension, index.rs:30-35): when `rowLevelIndexes`
  * maps a column to a posting-catalog directory, equality/IN conjuncts on
  * that column are answered by the PRECISE postings (row groups where the
  * key actually occurs) intersected with the stats-pruned plans, so plain
  * `df.filter(col === k)` syntax gets the best index available with zero
  * caller involvement. Each posting question is one JDBC query against
  * the embedded catalog, so routing launches no Spark job while the
  * query is planned. Fallback order per conjunct:
  *  1. row-level postings (capped driver lookup; hot key ⇒ degrade),
  *  2. per-row-group bloom probe (equality on a bloom column, in-catalog),
  *  3. min/max range overlap — 2 and 3 both live inside `index.getFiles`.
  * Every step over-approximates independently, so intersecting is sound.
  */
final class IndexedParquetFileIndex(
    dir: Path,
    index: StatsIndex,
    fileSystemBlockSize: Long = 128L * 1024 * 1024,
    rowLevelIndexes: Map[String, String] = Map.empty,
    maxPostings: Int = RowLevelIndex.MaxPostings)
    extends FileIndex {

  /** The backing stats index (for scans that consult it directly). */
  def statsIndex: StatsIndex = index

  /** Column → posting-catalog directory for the row-level indexes this
    * relation routes through (plans/StatsAggPushdown's COUNT DISTINCT
    * rewrite consults the same registry the filter router uses). */
  def rowLevelIndexDirs: Map[String, String] = rowLevelIndexes

  /** Read and reset by callers; written only through [[record]]. */
  @volatile var lastExecution: Option[PruneExecution] = None

  /** Records what a planning pass chose to scan. `counts` is the
    * catalog's (files, row groups) as [[StatsIndex.catalogCounts]] gives
    * them, which the caller already holds; unknown totals read -1. */
  def record(
      dataFilters: Seq[Expression],
      plans: Seq[FileScanPlan],
      counts: Option[(Long, Long)],
      route: Seq[String]): Unit = {
    val (nf, ng) = counts.getOrElse((-1L, -1L))
    lastExecution = Some(PruneExecution(dataFilters, plans, nf.toInt, ng.toInt, route))
  }

  override def rootPaths: Seq[Path] = Seq(dir)

  override def listFiles(
      partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val statsPlans =
      if (dataFilters.isEmpty) index.allFiles()
      else index.getFiles(dataFilters.reduce(And))
    // planner-side constancy refinement (r13): conjuncts over determined
    // calendar parts / Derby-unrenderable images drop row groups — and
    // whole files — the interval walk cannot (over-scan-only; Spark
    // re-applies every filter). Kill switch mirrors the fold family's.
    val (partPlans, partRoute) =
      if (SparkSession.active.conf.get("spark.graft.partPrune", "true") != "true")
        (statsPlans, Nil)
      else graft.prune.PartPrune.refine(index, dataFilters, statsPlans)
    val (plans, route) = routeRowLevel(dataFilters, partPlans)
    // an unfiltered listing holds every plan already; a filtered one asks
    // the catalog's O(1) counts rather than fetching every plan to count
    val counts =
      if (dataFilters.isEmpty)
        Some((statsPlans.size.toLong, statsPlans.map(_.rowGroupCount.toLong).sum))
      else index.catalogCounts()
    record(dataFilters, plans, counts, partRoute ++ route)
    val statuses = plans.map { p =>
      new FileStatus(p.fileSizeBytes, false, 1, fileSystemBlockSize, 0L,
        new Path(dir, p.fileName))
    }.toArray
    Seq(PartitionDirectory(InternalRow.empty, statuses))
  }

  // ---- row-level routing ----------------------------------------------------

  /** Equality/IN conjuncts — and bounded range conjuncts — on row-level-
    * indexed columns → intersect the precise posting row groups into the
    * stats-pruned plans. */
  private def routeRowLevel(
      dataFilters: Seq[Expression],
      statsPlans: Seq[FileScanPlan]): (Seq[FileScanPlan], Seq[String]) = {
    if (rowLevelIndexes.isEmpty || dataFilters.isEmpty) return (statsPlans, Nil)
    val conjuncts = dataFilters.flatMap(StatsBridge.conjuncts)
    val points = conjuncts.flatMap(pointKeys)
    val ranges = rangeBounds(conjuncts)
    if (points.isEmpty && ranges.isEmpty) return (statsPlans, Nil)
    // Staleness guard: a posting index built before an append/compaction
    // changed the file set has NO postings for the new files — intersecting
    // would silently prune them (rows lost). The catalog's covered-files
    // table must cover every live stats-plan file or the column degrades
    // to the catalog path (over-scan, never wrong). Checked against the
    // FULL stats plan set: the fold only narrows, and a superset check
    // covers every subset. One catalog query per column per planning
    // pass, cached across this call's point+range conjuncts.
    val coverageOk = scala.collection.mutable.Map.empty[String, Boolean]
    def covered(colName: String): Boolean =
      coverageOk.getOrElseUpdate(colName,
        RowLevelIndex.coveredFiles(rowLevelIndexes(colName))
          .exists(cov => statsPlans.forall(p => cov.contains(p.fileName))))
    val afterPoints = points.foldLeft((statsPlans, Seq.empty[String])) {
      case ((plans, route), (colName, keys)) =>
        if (!covered(colName)) (plans, route :+ s"rowlevel-stale($colName)")
        else lookupPostings(colName, keys) match {
          case Some(hits) => (FileScanPlan.intersect(plans, hits), route :+ s"rowlevel($colName)")
          case None       => (plans, route :+ s"rowlevel-degraded($colName)")
        }
    }
    ranges.foldLeft(afterPoints) {
      case ((plans, route), (colName, (lo, loInc), (hi, hiInc))) =>
        if (!covered(colName)) (plans, route :+ s"rowlevel-stale($colName)")
        else lookupRangePostings(colName, lo, loInc, hi, hiInc) match {
          case Some(hits) => (FileScanPlan.intersect(plans, hits), route :+ s"rowlevel-range($colName)")
          case None       => (plans, route :+ s"rowlevel-degraded($colName)")
        }
    }
  }

  /** A conjunct the row-level index can answer exactly: equality or IN
    * between a row-level-indexed column and non-null literals. NULL keys
    * never match (`= NULL` is never TRUE; the posting catalog holds no
    * null keys), and an all-null key list keeps nothing. */
  private def pointKeys(e: Expression): Option[(String, Seq[Any])] = {
    def indexed(a: Attribute): Boolean = rowLevelIndexes.contains(a.name)
    def v(l: Literal): Any = CatalystTypeConverters.convertToScala(l.value, l.dataType)
    e match {
      case EqualTo(a: Attribute, l: Literal) if indexed(a) && l.value != null =>
        Some(a.name -> Seq(v(l)))
      case EqualTo(l: Literal, a: Attribute) if indexed(a) && l.value != null =>
        Some(a.name -> Seq(v(l)))
      case EqualNullSafe(a: Attribute, l: Literal) if indexed(a) && l.value != null =>
        Some(a.name -> Seq(v(l)))
      case EqualNullSafe(l: Literal, a: Attribute) if indexed(a) && l.value != null =>
        Some(a.name -> Seq(v(l)))
      case In(a: Attribute, list) if indexed(a) && list.forall(_.isInstanceOf[Literal]) =>
        Some(a.name -> list.collect { case l: Literal if l.value != null => v(l) })
      case InSet(a: Attribute, set) if indexed(a) =>
        val conv = CatalystTypeConverters.createToScalaConverter(a.dataType)
        Some(a.name -> set.toSeq.filter(_ != null).map(conv))
      case _ => None
    }
  }

  /** BOUNDED range conjuncts per row-level-indexed column: a column routes
    * only when the conjunction gives it both a lower AND an upper bound
    * (`k BETWEEN a AND b` splits into exactly that) — a half-open range
    * would usually cover too many postings to beat min/max stats, so it
    * stays on the catalog path. With multiple bounds on one column the
    * FIRST of each side is kept: a looser bound reads a posting superset,
    * and intersecting a superset is still sound (over-scan, never wrong).
    * Null literals never bound (comparison with NULL is never TRUE).
    * Comparisons are read by [[StatsBridge.Comparison]]. */
  private def rangeBounds(conjuncts: Seq[Expression])
      : Seq[(String, (Any, Boolean), (Any, Boolean))] = {
    def v(l: Literal): Any = CatalystTypeConverters.convertToScala(l.value, l.dataType)
    val lowers = scala.collection.mutable.LinkedHashMap.empty[String, (Any, Boolean)]
    val uppers = scala.collection.mutable.LinkedHashMap.empty[String, (Any, Boolean)]
    conjuncts.foreach {
      // an equality bounds both sides: the point path answers it
      case StatsBridge.Comparison(a, lo, hi)
          if rowLevelIndexes.contains(a.name) && (lo.isEmpty || hi.isEmpty) =>
        lo.foreach { case (l, inc) => lowers.getOrElseUpdate(a.name, (v(l), inc)) }
        hi.foreach { case (l, inc) => uppers.getOrElseUpdate(a.name, (v(l), inc)) }
      case _ => ()
    }
    lowers.keys.toSeq.filter(uppers.contains)
      .map(c => (c, lowers(c), uppers(c)))
  }

  /** Bounded range-posting lookup; same degrade contract as
    * [[lookupPostings]] (None = overflow or any failure ⇒ over-scan). */
  private def lookupRangePostings(
      colName: String, lo: Any, loInc: Boolean,
      hi: Any, hiInc: Boolean): Option[Map[String, SortedSet[Int]]] =
    try RowLevelIndex.postingsRange(
      rowLevelIndexes(colName), lo, loInc, hi, hiInc, maxPostings)
    catch { case scala.util.control.NonFatal(_) => None }

  /** Bounded posting lookup; None on overflow (hot key), empty map when no
    * row group contains any key. Any catalog failure degrades to "no
    * routing" (over-scan). */
  private def lookupPostings(
      colName: String, keys: Seq[Any]): Option[Map[String, SortedSet[Int]]] =
    if (keys.isEmpty) Some(Map.empty)
    else
      try RowLevelIndex.postings(rowLevelIndexes(colName), keys, maxPostings)
      catch { case scala.util.control.NonFatal(_) => None }

  // ---------------------------------------------------------------------------

  override def inputFiles: Array[String] =
    index.allFiles().map(p => new Path(dir, p.fileName).toString).toArray

  override def refresh(): Unit = ()

  override def sizeInBytes: Long = index.allFiles().map(_.fileSizeBytes).sum

  override def partitionSchema: StructType = new StructType()
}
