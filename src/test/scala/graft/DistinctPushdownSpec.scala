package graft

import graft.sources.IndexedParquet
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** COUNT(DISTINCT key) pushdown to the row-level posting catalog
  * (plans/StatsAggPushdown.distinctRewrite): the aggregate must be
  * answered from the posting catalog (a LocalRelation, no scan at all),
  * not from the data — and must NOT when certification fails (stale
  * coverage, unindexed column, mixed aggregates, kill switch), with
  * identical results either way.
  */
class DistinctPushdownSpec extends SparkSpec {

  // k = i/2 (1000 distinct, null every 5th row), so the distinct count is
  // neither the row count nor the posting row count — a wrong source shows
  private lazy val fx: (DataFrame, String, String) = {
    val base = Files.createTempDirectory("graft-distinct").toString
    val dir = s"$base/data"
    import spark.implicits._
    (0 until 2000)
      .map(i => (if (i % 5 == 0) None else Some(i.toLong / 2), f"s$i%04d"))
      .toDF("k", "s")
      .coalesce(1)
      .write.option("parquet.block.row.count.limit", "50")
      .mode("overwrite").parquet(dir)
    val (index, schema) = IndexedParquet.buildIndex(
      spark, dir, Seq("k", "s"), s"$base/statsdb")
    val idxDir = s"$base/rowidx"
    graft.index.RowLevelIndex.build(
      spark, dir, index.allFiles(), schema, "k", idxDir)
    val (df, _) = IndexedParquet.read(spark, dir, index, schema,
      rowLevelIndexes = Map("k" -> idxDir))
    (df, dir, idxDir)
  }
  private def routed = fx._1
  private def dataDir = fx._2
  private def idxDir = fx._3

  /** Which parquet locations the optimized plan reads. */
  private def scansOf(df: DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collect { case l: LogicalRelation =>
      l.relation match {
        case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
          h.location.rootPaths.map(_.toString).mkString(",")
        case _ => ""
      }
    }

  private def expected: Long = {
    val r = spark.read.parquet(dataDir).agg(count_distinct(col("k"))).collect()
    r.head.getLong(0)
  }

  /** True when the optimized plan is answered by a catalog LocalRelation. */
  private def answeredFromCatalog(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => l
    }.nonEmpty

  test("countDistinct over the routed relation scans the posting index") {
    val q = routed.agg(count_distinct(col("k")).as("n"))
    val scans = scansOf(q)
    assert(scans.isEmpty && answeredFromCatalog(q), q.queryExecution.optimizedPlan)
    assert(q.collect().head.getLong(0) === expected)
    assert(expected === 1000L) // nulls excluded, k = i/2
  }

  test("stale coverage keeps the declarative scan, result unchanged") {
    routed // build the fixture
    val c = java.sql.DriverManager.getConnection(s"jdbc:derby:$idxDir")
    val st = c.createStatement()
    val rs = st.executeQuery("SELECT MIN(file_name) FROM covered")
    rs.next()
    val dropped = rs.getString(1)
    rs.close()
    try {
      // drop one covered file name -> covered set no longer equals live set
      assert(st.executeUpdate(s"DELETE FROM covered WHERE file_name = '$dropped'") == 1)
      val q = routed.agg(count_distinct(col("k")).as("n"))
      val scans = scansOf(q)
      assert(scans.exists(_.contains("/data")), scans.mkString("; "))
      assert(q.collect().head.getLong(0) === expected)
    } finally {
      st.executeUpdate(s"INSERT INTO covered (file_name) VALUES ('$dropped')")
      c.close()
    }
  }

  test("disqualifiers: unindexed column, mixed aggregates, kill switch") {
    // s has no posting index
    val q1 = routed.agg(count_distinct(col("s")).as("n"))
    assert(scansOf(q1).exists(_.contains("/data")))

    // a non-distinct aggregate alongside disqualifies the posting rewrite
    // (and DISTINCT disqualifies the catalog fold) -> declarative plan
    val q2 = routed.agg(count_distinct(col("k")).as("n"), max(col("k")).as("mx"))
    assert(scansOf(q2).exists(_.contains("/data")))
    val r2 = q2.collect().head
    assert(r2.getLong(0) === expected && r2.getLong(1) === 999L)

    spark.conf.set("spark.graft.distinctAggPushdown", "false")
    try {
      val q3 = routed.agg(count_distinct(col("k")).as("n"))
      assert(scansOf(q3).exists(_.contains("/data")))
      assert(q3.collect().head.getLong(0) === expected)
    } finally spark.conf.unset("spark.graft.distinctAggPushdown")
  }

  test("two countDistinct over the same key both answer from postings") {
    val q = routed.agg(
      count_distinct(col("k")).as("a"), count_distinct(col("k")).as("b"))
    assert(scansOf(q).isEmpty && answeredFromCatalog(q), q.queryExecution.optimizedPlan)
    val r = q.collect().head
    assert(r.getLong(0) === expected && r.getLong(1) === expected)
  }
}
