package graft

import graft.sources.{IndexedParquet, RowGroupSkipScan}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths}

/** Proves PHYSICAL row-group skip (SURVEY.md §7.4 stretch): a scan built
  * from the index's access plan returns exactly the selected row groups'
  * rows — skipped row groups are never read — and the full predicate path
  * matches a plain scan's results.
  */
class RowGroupSkipSpec extends SparkSpec {

  // 2 files x 100 rows, 50-row row groups => 4 row groups total
  private lazy val env = {
    val base = tempDir("graft-rgskip")
    val dir = s"$base/data"
    Files.createDirectories(Paths.get(dir))
    import spark.implicits._
    Seq("f1.parquet" -> (0 until 100), "f2.parquet" -> (100 until 200))
      .foreach { case (name, range) =>
        val tmp = s"$base/tmp-$name"
        range.map(v => (v, s"t$v")).toDF("value", "tag").coalesce(1)
          .write.option("parquet.block.row.count.limit", "50")
          .mode("overwrite").parquet(tmp)
        val part = Files.list(Paths.get(tmp)).toArray.map(_.asInstanceOf[Path])
          .find(_.getFileName.toString.endsWith(".parquet")).get
        Files.move(part, Paths.get(dir, name))
      }
    val (index, schema) = IndexedParquet.buildIndex(spark, dir, Seq("value"), s"$base/statsdb")
    (dir, index, schema)
  }

  test("scanning an access plan reads exactly the selected row groups") {
    val (dir, index, schema) = env
    // plan: only f2's second row group (values 150..199)
    val plans = index.getFiles(
      RowGroupSkipScan.resolvePredicate(spark, schema, col("value") === 150))
    assert(plans.map(_.fileName) == Seq("f2.parquet"))
    assert(plans.head.scanRowGroups.toSeq == Seq(1))
    val rows = RowGroupSkipScan.scan(spark, dir, plans, schema)
      .select("value").collect().map(_.getInt(0)).sorted
    // no filter applied: we get the WHOLE selected row group and nothing else
    assert(rows.toSeq == (150 until 200))
  }

  test("predicate path: pruned physical scan + residual filter == plain scan") {
    val (dir, index, schema) = env
    val (df, plans) = RowGroupSkipScan.scanWithPredicate(
      spark, dir, index, schema, col("value") === 150)
    assert(df.collect().map(_.getInt(0)).toSeq == Seq(150))
    assert(plans.map(p => (p.fileName, p.scanRowGroups.toSeq)) ==
      Seq(("f2.parquet", Seq(1))))
  }

  test("adjacent selected row groups merge into one split; full plan reads all") {
    val (dir, index, schema) = env
    val all = index.allFiles()
    val df = RowGroupSkipScan.scan(spark, dir, all, schema)
    assert(df.count() == 200)
    assert(df.rdd.getNumPartitions == 2) // one merged split per file, not 4
    val plain = spark.read.parquet(dir).select("value", "tag")
    assert(df.select("value", "tag").except(plain).isEmpty &&
      plain.except(df.select("value", "tag")).isEmpty)
  }

  test("pushed filters skip pages INSIDE a selected row group (column index)") {
    val base = tempDir("graft-pageskip")
    val dir = s"$base/data"
    Files.createDirectories(Paths.get(dir))
    import spark.implicits._
    // one file, ONE row group, 20 pages of 50 sorted rows each: the
    // catalog's row-group skip cannot help here, only page-level skipping
    // inside the group can reduce bytes read
    val tmp = s"$base/tmp"
    (0 until 1000).map(v => (v, s"t$v")).toDF("value", "tag").coalesce(1)
      .write.option("parquet.page.row.count.limit", "50")
      .mode("overwrite").parquet(tmp)
    val part = Files.list(Paths.get(tmp)).toArray.map(_.asInstanceOf[Path])
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.move(part, Paths.get(dir, "f.parquet"))
    val (index, schema) = IndexedParquet.buildIndex(spark, dir, Seq("value"), s"$base/statsdb")
    val resolved = RowGroupSkipScan.resolvePredicate(spark, schema, col("value") === 123)
    val plans = index.getFiles(resolved)
    assert(plans.map(p => (p.fileName, p.scanRowGroups.toSeq)) ==
      Seq(("f.parquet", Seq(0)))) // the single row group survives
    // without pushed filters, the whole selected row group is read
    val rawAll = RowGroupSkipScan.scan(spark, dir, plans, schema).count()
    assert(rawAll == 1000L)
    // with the predicate pushed, the reader's column index drops every
    // page whose [min, max] cannot contain 123 — one 50-row page remains
    val rawPaged = RowGroupSkipScan.scan(spark, dir, plans, schema,
      pushedFilters = RowGroupSkipScan.translateDataFilters(resolved)).count()
    assert(rawPaged < 1000L, "pushed filter did not skip any page")
    assert(rawPaged <= 100L, s"expected ~1 surviving 50-row page, read $rawPaged rows")
    // the no-extensions row-based fallback gets the SAME pushdown: its
    // reader honors the column index too (both paths page-skip)
    val fallbackAll = RowGroupSkipScan.scanRowBased(spark, dir, plans, schema).count()
    assert(fallbackAll == 1000L)
    val fallbackPaged = RowGroupSkipScan.scanRowBased(spark, dir, plans, schema,
      pushedFilters = RowGroupSkipScan.translateDataFilters(resolved)).count()
    assert(fallbackPaged <= 100L,
      s"fallback path: expected ~1 surviving 50-row page, read $fallbackPaged rows")
    // end-to-end result unchanged
    val (df, _) = RowGroupSkipScan.scanWithPredicate(
      spark, dir, index, schema, col("value") === 123)
    assert(df.collect().map(_.getInt(0)).toSeq == Seq(123))
  }

  test("range predicate crossing files: per-file partial row-group plans") {
    val (dir, index, schema) = env
    val (df, plans) = RowGroupSkipScan.scanWithPredicate(
      spark, dir, index, schema, col("value") >= 90 && col("value") < 110)
    assert(df.collect().map(_.getInt(0)).sorted.toSeq == (90 until 110))
    val byFile = plans.map(p => p.fileName -> p.scanRowGroups.toSeq).toMap
    assert(byFile == Map("f1.parquet" -> Seq(1), "f2.parquet" -> Seq(0)))
  }
}
