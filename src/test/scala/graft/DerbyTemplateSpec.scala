package graft

import graft.index._
import org.apache.spark.sql.types._

/** r17 template-copied fresh catalogs (DerbyStatsIndex.freshInitialized):
  * a catalog served from the per-JVM cleanly-shut-down template copy must
  * behave exactly like a directly-created one — same DDL surface, same
  * ingest/pruning/estimates — and a second copy from the same template
  * must be fully independent (no state carried across "fresh" catalogs). */
class DerbyTemplateSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("s", StringType)))

  private def rg(i: Int, lo: Long, hi: Long) =
    RowGroupStats(i, 10L, i * 100L, 100L, Map(
      "k" -> ColumnStats(Some(0L), Some(lo), Some(hi)),
      "s" -> ColumnStats(Some(0L), Some(s"a$lo"), Some(s"a$hi"))))

  private def ingest(db: DerbyStatsIndex): Unit =
    db.addFile(FileStats("f1.parquet", 1000L, 30L, Vector(
      rg(0, 0L, 9L), rg(1, 10L, 19L), rg(2, 20L, 29L))))

  test("template copy behaves like a direct create, and copies are independent") {
    val direct = new DerbyStatsIndex(
      tempDir("graft-tmpl-direct") + "/db", schema)
    direct.initialize(schema)
    val copy1 = DerbyStatsIndex.freshInitialized(
      tempDir("graft-tmpl-c1") + "/db", schema)
    val copy2 = DerbyStatsIndex.freshInitialized(
      tempDir("graft-tmpl-c2") + "/db", schema)
    try {
      // fresh copies are EMPTY (no data rides the template)
      assert(copy1.catalogCounts() === Some((0L, 0L)))
      ingest(direct); ingest(copy1)
      // identical ingest → identical counts, plans, stats, estimates
      assert(copy1.catalogCounts() === direct.catalogCounts())
      val pred = graft.sources.RowGroupSkipScan.resolvePredicate(
        spark, schema,
        org.apache.spark.sql.functions.col("k") >= 10L &&
          org.apache.spark.sql.functions.col("k") < 20L)
      assert(copy1.getFiles(pred) === direct.getFiles(pred))
      assert(copy1.rowGroupStatsFor("k", Set("f1.parquet")) ===
        direct.rowGroupStatsFor("k", Set("f1.parquet")))
      assert(copy1.minIndexedValue("k") === direct.minIndexedValue("k"))
      // the sibling copy saw none of copy1's ingest — fully independent
      assert(copy2.catalogCounts() === Some((0L, 0L)))
      // initialize() on a template copy is an idempotent no-op
      copy1.initialize(schema)
      assert(copy1.catalogCounts() === direct.catalogCounts())
    } finally { direct.close(); copy1.close(); copy2.close() }
  }
}
