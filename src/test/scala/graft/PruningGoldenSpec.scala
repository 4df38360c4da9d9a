package graft

import graft.sources.IndexedParquet
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths}
import scala.collection.immutable.SortedSet

/** The reference's five golden pruning scenarios
  * (/root/reference/sqlx-sqlite/README.md:16-71, BASELINE.md) reproduced on
  * an equivalent fixture: 3 parquet files, 3000 rows, 50-row row groups ⇒
  * 60 row groups (2 + 2 + 56). Asserts BOTH result correctness and the
  * exact pruning decision via the FileIndex's lastExecution hook — the
  * Spark analog of the reference's "Files scanned:" console assertions.
  */
class PruningGoldenSpec extends SparkSpec {

  /** Injective base-26 a..z encoding, 0 -> "a" (role of main.rs:377-391's
    * text column: a string whose order correlates with value only weakly).
    */
  private def base26(v: Int): String = {
    var x = v
    val sb = new StringBuilder
    while ({ sb.insert(0, ('a' + x % 26).toChar); x /= 26; x > 0 }) ()
    sb.toString
  }

  private lazy val fixture: (DataFrame, graft.sources.IndexedParquetFileIndex) = {
    val base = tempDir("graft-golden")
    val dir = s"$base/data"
    Files.createDirectories(Paths.get(dir))
    val ranges = Seq("file1.parquet" -> (0 until 100),
                     "file2.parquet" -> (100 until 200),
                     "file3.parquet" -> (200 until 3000))
    import spark.implicits._
    ranges.foreach { case (name, range) =>
      val tmp = s"$base/tmp-$name"
      range.map(v => (name, v, base26(v))).toDF("file_name", "value", "text")
        .coalesce(1)
        .write.option("parquet.block.row.count.limit", "50")
        .option("parquet.page.row.count.limit", "50")
        .mode("overwrite").parquet(tmp)
      val part = Files.list(Paths.get(tmp)).toArray.map(_.asInstanceOf[Path])
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, Paths.get(dir, name))
    }
    val (index, schema) =
      IndexedParquet.buildIndex(spark, dir, Seq("value", "text"), s"$base/statsdb")
    IndexedParquet.read(spark, dir, index, schema)
  }

  private def df = fixture._1
  private def exec = fixture._2.lastExecution.get

  private def plansByFile: Map[String, String] =
    exec.plans.map(p => p.fileName -> p.render).toMap

  test("fixture layout: 3 files, 60 row groups of 50 rows") {
    // force a real scan so lastExecution exists — a bare count() would be
    // answered from the catalog by StatsAggPushdown and never plan a scan
    df.collect()
    assert(exec.totalFiles == 3)
    assert(exec.totalRowGroups == 60)
  }

  test("scenario 1: no predicate, LIMIT 10 — scans everything") {
    assert(df.limit(10).count() == 10)
    assert(exec.scannedFiles.toSet == Set("file1.parquet", "file2.parquet", "file3.parquet"))
    assert(exec.scannedRowGroups == 60)
  }

  test("scenario 2: value = 150 — 1 file, 1 row group [Skip, Scan]") {
    val rows = df.filter(col("value") === 150).select("file_name", "value").collect()
    assert(rows.map(r => (r.getString(0), r.getInt(1))).toSeq == Seq(("file2.parquet", 150)))
    assert(exec.scannedFiles == Seq("file2.parquet"))
    assert(plansByFile("file2.parquet") == "[Skip, Scan]")
    assert(exec.scannedRowGroups == 1)
  }

  test("scenario 3: value < 20 OR value > 500 — 2 files, 51 row groups") {
    val counts = df.filter(col("value") < 20 || col("value") > 500)
      .groupBy("file_name").agg(count(col("value")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map("file1.parquet" -> 20L, "file3.parquet" -> 2499L))
    assert(exec.scannedFiles.toSet == Set("file1.parquet", "file3.parquet"))
    assert(plansByFile("file1.parquet") == "[Scan, Skip]")
    assert(exec.scannedRowGroups == 51)
  }

  test("scenario 4: value < 20 AND text = 'a' — 1 file, 1 row group [Scan, Skip]") {
    val counts = df.filter(col("value") < 20 && col("text") === "a")
      .groupBy("file_name").agg(count(col("value")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map("file1.parquet" -> 1L))
    assert(exec.scannedFiles == Seq("file1.parquet"))
    assert(plansByFile("file1.parquet") == "[Scan, Skip]")
    assert(exec.scannedRowGroups == 1)
  }

  test("scenario 5: value > 500 AND text = 'a' — everything pruned, empty result") {
    val rows = df.filter(col("value") > 500 && col("text") === "a").collect()
    assert(rows.isEmpty)
    assert(exec.scannedFiles.isEmpty)
    assert(exec.scannedRowGroups == 0)
  }

  test("render matches the reference's access-plan formatting") {
    df.filter(col("value") === 150).count()
    assert(exec.render == "Files scanned: [file2.parquet [Skip, Scan]]")
  }

  test("the ctx.sql flagship path: SQL over the indexed provider prunes identically") {
    // the reference's entry point is ctx.sql("SELECT ... WHERE value = 150")
    // (main.rs:146); same here via a temp view over the indexed relation
    df.createOrReplaceTempView("index_table")
    val rows = spark.sql(
      "SELECT file_name, value FROM index_table WHERE value = 150").collect()
    assert(rows.map(r => (r.getString(0), r.getInt(1))).toSeq ==
      Seq(("file2.parquet", 150)))
    assert(exec.scannedFiles == Seq("file2.parquet"))
    assert(plansByFile("file2.parquet") == "[Skip, Scan]")
  }
}
