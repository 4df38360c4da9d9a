package graft

import graft.sources.{IndexedParquet, RowGroupSkipScan}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths}
import scala.concurrent.{Await, Future}
import scala.concurrent.duration._
import scala.concurrent.ExecutionContext.Implicits.global

/** Robustness of the index path: concurrent planning threads over one
  * embedded connection, and graceful degradation (full scan, not an
  * error) when the stats-space query itself fails at the store.
  */
class IndexRobustnessSpec extends SparkSpec {

  private lazy val env = {
    val base = tempDir("graft-robust")
    val dir = s"$base/data"
    Files.createDirectories(Paths.get(dir))
    import spark.implicits._
    (1 to 4).foreach { fi =>
      val tmp = s"$base/tmp-$fi"
      (0 until 100).map(v => (v + fi * 100, s"v$v")).toDF("k", "s").coalesce(1)
        .write.option("parquet.block.row.count.limit", "50")
        .mode("overwrite").parquet(tmp)
      val part = Files.list(Paths.get(tmp)).toArray.map(_.asInstanceOf[Path])
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, Paths.get(dir, s"f$fi.parquet"))
    }
    val (index, schema) = IndexedParquet.buildIndex(spark, dir, Seq("k"), s"$base/statsdb")
    val (df, fileIndex) = IndexedParquet.read(spark, dir, index, schema)
    (dir, df, index, schema, fileIndex)
  }

  test("concurrent queries share the index connection safely") {
    val (_, df, _, _, _) = env
    val futures = (1 to 8).map { i =>
      Future(df.filter(col("k") === i * 47).count())
    }
    val counts = Await.result(Future.sequence(futures), 120.seconds)
    val expected = (1 to 8).map { i =>
      val v = i * 47; if (v >= 100 && v < 500) 1L else 0L
    }
    assert(counts == expected)
  }

  test("a failing stats-space query degrades to a full scan, not an error") {
    val (_, _, index, schema, _) = env
    // k * Long.MaxValue overflows BIGINT inside Derby -> SQLException path
    val pred = RowGroupSkipScan.resolvePredicate(
      spark, schema, col("k") * Long.MaxValue === 5L)
    val plans = index.getFiles(pred)
    assert(plans.map(_.fileName).toSet ==
      Set("f1.parquet", "f2.parquet", "f3.parquet", "f4.parquet"),
      "overflowing pruning query must fall back to scanning everything")
  }

  test("a pre-r11 catalog (no shadow columns) reads degraded, then upgrades in place") {
    import spark.implicits._
    val base = tempDir("graft-upgrade")
    val dir = s"$base/data"
    (0 until 200).map(i => (i.toLong, s"s$i")).toDF("k", "s").coalesce(1)
      .write.option("parquet.block.row.count.limit", "50")
      .mode("overwrite").parquet(dir)
    val db = s"$base/statsdb"
    val (index, schema) = IndexedParquet.buildIndex(spark, dir, Seq("k", "s"), db)
    // simulate a catalog created BEFORE the r11 ledger/marker columns:
    // drop them out from under the running index
    val conn = java.sql.DriverManager.getConnection(s"jdbc:derby:$db")
    try {
      val st = conn.createStatement()
      Seq("k_sum", "k_min_freq", "k_max_freq",
          "s_min_exact", "s_min_freq", "s_max_freq").foreach { c =>
        st.executeUpdate(s"ALTER TABLE row_group_statistics DROP COLUMN $c")
      }
      st.close()
    } finally conn.close()
    // reads DEGRADE (42X04 fallback): stats still served, shadows unknown
    val st1 = index.rowGroupStats("k").get
    assert(st1.nonEmpty && st1.forall(s =>
      s.sumVal.isEmpty && s.minFreq.isEmpty && s.minExact.isEmpty))
    assert(index.rowGroupStats("s").get.forall(_.minExact.isEmpty))
    assert(index.totalSum("k").isEmpty, "a missing ledger must be unknown")
    // re-initialize: the upgrade ALTERs re-add the columns (NULL = the
    // sound unknown), and the build steps fill them
    index.initialize(schema)
    assert(index.rowGroupStats("k").get.forall(s =>
      s.sumVal.isEmpty && s.minFreq.isEmpty)) // still unbuilt, now present
    index.rebuildShadows(spark, dir, index.allFiles(), schema, freqCols = Nil, sumCols = Seq("k"))
    assert(index.totalSum("k") === Some(((0L until 200L).sum, 200L)))
    index.close()
  }

  test("re-indexing after file deletion retains only surviving files") {
    val (dir, _, _, _, _) = env
    // build a second index over a copy, then delete a file and re-index
    val base = tempDir("graft-retain")
    val dir2 = s"$base/data"
    Files.createDirectories(Paths.get(dir2))
    Files.list(Paths.get(dir)).toArray.map(_.asInstanceOf[Path])
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .foreach(p => Files.copy(p, Paths.get(dir2, p.getFileName.toString)))
    val (i1, _) = IndexedParquet.buildIndex(spark, dir2, Seq("k"), s"$base/db")
    assert(i1.allFiles().size == 4)
    i1.close()
    Files.delete(Paths.get(dir2, "f3.parquet"))
    val (i2, schema2) = IndexedParquet.buildIndex(spark, dir2, Seq("k"), s"$base/db")
    assert(i2.allFiles().map(_.fileName).toSet ==
      Set("f1.parquet", "f2.parquet", "f4.parquet"))
    val (df2, _) = IndexedParquet.read(spark, dir2, i2, schema2)
    assert(df2.count() == 300)
  }
}
