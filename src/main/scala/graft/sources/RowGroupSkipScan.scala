package graft.sources

import graft.index.{FileScanPlan, StatsIndex}
import org.apache.spark.sql.{Column, DataFrame, GraftSqlShim, SparkSession}
import org.apache.spark.sql.execution.datasources.FileScanRDD
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** Explicit external row-group skip — the stretch goal of SURVEY.md §7.4:
  * the reference attaches a `ParquetAccessPlan` (per-row-group Scan/Skip)
  * to each file so the scan physically never touches skipped row groups
  * (/root/reference/sqlx-sqlite/src/index.rs:163-175, main.rs:292-297).
  *
  * Spark has no public per-row-group seam, but its parquet reader honors
  * byte-range splits: a reader for `[start, start+length)` reads exactly
  * the row groups whose midpoint falls inside the range. The external
  * index stores each row group's byte range, so we emit one split per
  * selected row group — skipped row groups are physically never read, and
  * the decision comes entirely from the remote catalog (no footer
  * consulted at planning time; planning stays O(index)).
  *
  * Scale note: one task per selected row group is the natural parallelism
  * for a pruned scan (a 100 TB table pruned to k row groups costs k tasks,
  * independent of total file count); adjacent selected groups in the same
  * file are merged into one split to avoid task storms on unpruned files.
  */
object RowGroupSkipScan {

  /** DataFrame over EXACTLY the row groups selected in `plans`.
    *
    * With graft extensions registered (the supported configuration) this
    * plans a [[graft.plans.RowGroupScan]] — a columnar physical node over
    * the vectorized parquet reader (Spark adds its codegen ColumnarToRow).
    * Without extensions it falls back to a row-based FileScanRDD wrap,
    * correct but ~8× slower per scanned byte.
    *
    * `mergeRuns=false` emits one partition per selected row group (the
    * row-level index build relies on partition-id ↔ row-group identity).
    */
  def scan(
      spark: SparkSession,
      dir: String,
      plans: Seq[FileScanPlan],
      dataSchema: StructType,
      mergeRuns: Boolean = true,
      requiredCols: Seq[String] = Nil,
      pushedFilters: Seq[org.apache.spark.sql.sources.Filter] = Nil): DataFrame = {
    // functionExists proxies "GraftExtensions ran for this session" — the
    // function and the planner strategy are injected together
    if (spark.catalog.functionExists("graft_dot"))
      graft.plans.RowGroupScan.dataFrame(
        spark, dir, plans, dataSchema, mergeRuns, requiredCols, pushedFilters)
    else scanRowBased(spark, dir, plans, dataSchema, mergeRuns, requiredCols,
      pushedFilters)
  }

  /** The no-extensions fallback: a row-based FileScanRDD wrap. Correct but
    * ~8× slower per scanned byte than the columnar node — and with the
    * SAME residual pushdown: `pushedFilters` reach the parquet reader, so
    * page-level (column-index) skipping inside selected row groups works
    * on both paths (RowGroupSkipSpec asserts it). */
  private[graft] def scanRowBased(
      spark: SparkSession,
      dir: String,
      plans: Seq[FileScanPlan],
      dataSchema: StructType,
      mergeRuns: Boolean = true,
      requiredCols: Seq[String] = Nil,
      pushedFilters: Seq[org.apache.spark.sql.sources.Filter] = Nil): DataFrame = {
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val required =
      if (requiredCols.isEmpty) dataSchema
      else StructType(dataSchema.filter(f => requiredCols.contains(f.name)))
    // row-based reader: this path's vectorized output (ColumnarBatch)
    // cannot pass through internalCreateDataFrame. The conf override is
    // scoped to a CLONED session (r17, ADVICE): flipping the shared
    // session's conf — even try/finally-restored — let a query planned
    // concurrently on another thread observe the flipped value.
    val confSession = GraftSqlShim.cloneSession(spark)
    confSession.conf.set("spark.sql.parquet.enableVectorizedReader", "false")
    val reader = new ParquetFileFormat().buildReaderWithPartitionValues(
      sparkSession = confSession,
      dataSchema = dataSchema,
      partitionSchema = new StructType(),
      requiredSchema = required,
      filters = pushedFilters,
      options = Map(org.apache.spark.sql.execution.datasources.FileFormat
        .OPTION_RETURNING_BATCH -> "false"),
      hadoopConf = new org.apache.hadoop.conf.Configuration(
        spark.sparkContext.hadoopConfiguration))
    val partitions = graft.plans.RowGroupScan.filePartitions(dir, plans, mergeRuns)
    val rdd = new FileScanRDD(cs, reader, partitions, required)
    GraftSqlShim.internalCreateDataFrame(spark, rdd, required)
  }

  /** Resolve a public `Column` predicate against `dataSchema` into a
    * Catalyst expression (via analysis over an empty relation), folding
    * constant subtrees (e.g. `CAST(100 AS BIGINT)`) so the stats-space
    * rewriter sees plain typed literals. */
  def resolvePredicate(
      spark: SparkSession,
      dataSchema: StructType,
      predicate: Column): org.apache.spark.sql.catalyst.expressions.Expression = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.plans.logical.Filter
    val empty = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), dataSchema)
    val analyzed = empty.filter(predicate).queryExecution.analyzed
    val cond = analyzed.collectFirst { case f: Filter => f.condition }
      .getOrElse(Literal.TrueLiteral)
    cond.transformUp {
      case e if e.foldable && !e.isInstanceOf[Literal] =>
        Literal.create(e.eval(), e.dataType)
    }
  }

  /** The resolved predicate's conjuncts as data-source `Filter`s — the
    * translatable subset reaches the parquet reader for page-level
    * (column-index) skipping; untranslatable conjuncts are simply not
    * pushed (the residual filter still applies the full predicate). */
  def translateDataFilters(
      resolved: org.apache.spark.sql.catalyst.expressions.Expression)
      : Seq[org.apache.spark.sql.sources.Filter] = {
    graft.index.StatsBridge.conjuncts(resolved).flatMap(GraftSqlShim.translateFilter)
  }

  /** Full path: consult the index with `predicate`, scan only surviving
    * row groups — with the predicate's translatable conjuncts pushed to
    * the reader for page-level skipping inside them — then re-apply the
    * predicate (the reference's Inexact pushdown contract — pruning may
    * over-scan, results never change). Returns the pruning decision for
    * observability. */
  def scanWithPredicate(
      spark: SparkSession,
      dir: String,
      index: StatsIndex,
      dataSchema: StructType,
      predicate: Column): (DataFrame, Seq[FileScanPlan]) = {
    val resolved = resolvePredicate(spark, dataSchema, predicate)
    val plans = index.getFiles(resolved)
    val df = scan(spark, dir, plans, dataSchema,
      pushedFilters = translateDataFilters(resolved))
    (df.filter(predicate), plans)
  }
}
