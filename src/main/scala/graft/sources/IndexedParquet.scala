package graft.sources

import graft.index.{DerbyStatsIndex, FooterStats, StatsIndex}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.HadoopFsRelation
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** End-to-end wiring: build the external index over a directory of parquet
  * files, then read the directory through a relation whose file listing is
  * the index (the reference's `IndexTableProvider`,
  * /root/reference/sqlx-sqlite/src/main.rs:190-317, at Spark's
  * FileIndex/HadoopFsRelation seam).
  */
object IndexedParquet {

  private def classic(spark: SparkSession) =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  /** Distributed index build (reference entry point B, main.rs:215-240 —
    * but scaled out: footer reads run as a Spark job, one task per batch of
    * files, which is the 100 TB path per SURVEY.md §3.2; stats then flow to
    * the catalog store through one transactional JDBC writer per file).
    */
  def buildIndex(
      spark: SparkSession,
      dir: String,
      indexedCols: Seq[String],
      dbPath: String,
      bloomCols: Seq[String] = Nil,
      // true = never register JVM probe functions in the catalog; bloom
      // probes run planner-side over shipped candidate bytes (the
      // portability fallback for catalogs that can't host Java functions)
      plannerSideBloomProbe: Boolean = false): (StatsIndex, StructType) = {
    val dirPath = new Path(dir)
    val hconf = spark.sparkContext.hadoopConfiguration
    val fs = dirPath.getFileSystem(hconf)
    val files = fs.listStatus(dirPath).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.getName) // sorted listing, main.rs:410-423
      .map(_.getPath.toString)

    // schema of the table = parquet footer schema (main.rs:228-236).
    // mergeSchema: an EVOLVED directory (files written before a column
    // existed next to files written after) must yield the union schema —
    // single-footer inference could pick an old file and silently drop
    // the new column from the index (SchemaEvolutionSpec pins this).
    val dataSchema = spark.read.option("mergeSchema", "true").parquet(dir).schema
    val indexedSchema = StructType(
      dataSchema.fields.filter(f =>
        indexedCols.contains(f.name) && FooterStats.supported(f.dataType)))

    val serConf = new SerializableConfiguration(hconf)
    val colNames = indexedSchema.fieldNames.toSeq
    val index = new DerbyStatsIndex(dbPath, indexedSchema, bloomCols.toSet,
      plannerSideBloomProbe = plannerSideBloomProbe)
    index.initialize(indexedSchema)
    // footer reads AND catalog writes both run inside the job: stats flow
    // from each task straight to the catalog over that task's own JDBC
    // connection (per-file transactional upsert preserved) — the driver
    // never materializes a FileStats, so a million-file table is bounded
    // by the catalog's write throughput, not a driver collect
    val statsRdd = spark.sparkContext
      .parallelize(files, math.max(1, math.min(files.size, spark.sparkContext.defaultParallelism)))
      .map(f => FooterStats.read(new Path(f), serConf.value, colNames))
    index.ingestAll(statsRdd)
    index.retainOnly(files.map(f => new Path(f).getName).toSet)
    // bloom pass AFTER footer ingest (it updates the catalog rows the
    // ingest wrote); one distributed job per bloom column, one task per
    // row group, executor-side JDBC — same shape as ingestAll
    index.rebuildBlooms(spark, dir, index.allFiles(), dataSchema)
    (index, dataSchema)
  }

  /** Read a directory through the index-backed FileIndex. Returns the
    * DataFrame plus the FileIndex for `lastExecution` observability.
    * `rowLevelIndexes` (column → posting-catalog dir) turns on automatic
    * routing: equality/IN on those columns consult the precise row-level
    * postings with bloom/min-max as the fallback (the reference's
    * one-scan-seam design, main.rs:256-305). */
  def read(
      spark: SparkSession,
      dir: String,
      index: StatsIndex,
      dataSchema: StructType,
      rowLevelIndexes: Map[String, String] = Map.empty,
      maxPostings: Int = graft.index.RowLevelIndex.MaxPostings)
      : (DataFrame, IndexedParquetFileIndex) = {
    val cs = classic(spark)
    val fileIndex = new IndexedParquetFileIndex(
      new Path(dir), index, rowLevelIndexes = rowLevelIndexes,
      maxPostings = maxPostings)
    val relation = HadoopFsRelation(
      location = fileIndex,
      partitionSchema = new StructType(),
      dataSchema = dataSchema,
      bucketSpec = None,
      fileFormat = new ParquetFileFormat(),
      options = Map.empty)(cs)
    (cs.baseRelationToDataFrame(relation), fileIndex)
  }
}
