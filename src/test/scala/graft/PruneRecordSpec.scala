package graft

import graft.index.{FileScanPlan, SortKeySpec, StatsIndex}
import graft.sources.IndexedParquet
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The pruning record (`IndexedParquetFileIndex.lastExecution`) takes its
  * totals from the catalog's O(1) counts: neither a filtered `listFiles`
  * nor a fired top-k rewrite fetches every plan of the catalog to count
  * it. Fixture: one file, 4000 rows in 500-row row groups (8 groups),
  * `id` ascending, `g = id % 7`, both indexed. */
class PruneRecordSpec extends SparkSpec {

  /** Delegates to the catalog and counts `allFiles()` calls. */
  private final class CountingIndex(u: StatsIndex) extends StatsIndex {
    @volatile var allFilesCalls = 0
    def initialize(s: StructType): Unit = u.initialize(s)
    def addFile(st: graft.index.FileStats): Unit = u.addFile(st)
    def retainOnly(f: Set[String]): Unit = u.retainOnly(f)
    def removeFiles(f: Set[String]): Unit = u.removeFiles(f)
    def getFiles(p: org.apache.spark.sql.catalyst.expressions.Expression) = u.getFiles(p)
    def allFiles(): Seq[FileScanPlan] = { allFilesCalls += 1; u.allFiles() }
    def indexedSchema: StructType = u.indexedSchema
    override def catalogCounts(): Option[(Long, Long)] = u.catalogCounts()
    override def rowGroupStats(c: String) = u.rowGroupStats(c)
    override def topKSurvivors(c: String, k: Long, d: Boolean, nf: Boolean,
        lo: Option[(Any, Boolean)], hi: Option[(Any, Boolean)]) =
      u.topKSurvivors(c, k, d, nf, lo, hi)
    override def topKSurvivorsLexN(keys: Seq[SortKeySpec], k: Long) =
      u.topKSurvivorsLexN(keys, k)
    def close(): Unit = u.close()
  }

  private lazy val fixture = {
    val base = tempDir("graft-prune-record")
    val dir = s"$base/data"
    spark.range(0, 4000).selectExpr("id", "id % 7 AS g")
      .coalesce(1)
      .write.option("parquet.block.row.count.limit", "500")
      .mode("overwrite").parquet(dir)
    val (index, schema) = IndexedParquet.buildIndex(spark, dir, Seq("id", "g"), s"$base/statsdb")
    val counting = new CountingIndex(index)
    val (df, fi) = IndexedParquet.read(spark, dir, counting, schema)
    (index, counting, df, fi)
  }

  test("a filtered read fetches no allFiles and records catalogCounts totals") {
    val (index, counting, df, fi) = fixture
    val (nf, ng) = index.catalogCounts().get
    assert((nf, ng) === ((1L, 8L)))
    fi.lastExecution = None
    counting.allFilesCalls = 0
    val rows = df.filter(col("id") >= 1000 && col("id") < 1200).collect()
    assert(rows.length === 200)
    assert(counting.allFilesCalls === 0)
    val exec = fi.lastExecution.getOrElse(fail("listFiles recorded nothing"))
    assert((exec.totalFiles.toLong, exec.totalRowGroups.toLong) === ((nf, ng)))
    assert(exec.scannedRowGroups === 1)
  }

  test("a fired top-k rewrite fetches no allFiles and records catalogCounts totals") {
    val (index, counting, df, fi) = fixture
    val (nf, ng) = index.catalogCounts().get
    fi.lastExecution = None
    counting.allFilesCalls = 0
    val rows = df.orderBy(col("id").desc).limit(3).collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(3999L, 3998L, 3997L))
    assert(counting.allFilesCalls === 0)
    val exec = fi.lastExecution.getOrElse(fail("the top-k rewrite recorded nothing"))
    assert(exec.route === Seq("topk(id)"))
    assert((exec.totalFiles.toLong, exec.totalRowGroups.toLong) === ((nf, ng)))
    assert(exec.scannedRowGroups === 1)
  }

  test("a fired multi-key top-k fetches no allFiles and records catalogCounts totals") {
    val (index, counting, df, fi) = fixture
    val (nf, ng) = index.catalogCounts().get
    fi.lastExecution = None
    counting.allFilesCalls = 0
    val rows = df.orderBy(col("id").desc, col("g")).limit(3).collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(3999L, 3998L, 3997L))
    assert(counting.allFilesCalls === 0)
    val exec = fi.lastExecution.getOrElse(fail("the top-k rewrite recorded nothing"))
    assert(exec.route === Seq("topk-lex2(id,g)"))
    assert((exec.totalFiles.toLong, exec.totalRowGroups.toLong) === ((nf, ng)))
    assert(exec.scannedRowGroups === 1)
  }
}
