package graft

import graft.index.DerbyStatsIndex
import graft.sources.{IndexedParquet, RowGroupSkipScan}
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** Per-row-group bloom filters (BloomIndex — the reference's third named
  * index extension, /root/reference/sqlx-sqlite/src/main.rs:34-37).
  *
  * Fixture: a high-cardinality key written in SHUFFLED order, so every row
  * group's min/max spans nearly the whole key domain — range statistics
  * prune nothing. The per-row-group bloom pins equality probes to the row
  * groups that actually (might) contain the key.
  *
  * Asserts the two halves of the contract:
  *  - effectiveness: min/max alone keeps ALL row groups; with blooms the
  *    same probe keeps <10%;
  *  - soundness (no false prune): for many EXISTING keys, the bloom-pruned
  *    scan returns exactly the full-scan rows (a bloom has no false
  *    negatives; NULL blooms fall back to keep).
  */
class BloomPruningSpec extends SparkSpec {

  // 8000 rows, 50-row row groups => 160 row groups; key = value * 7919 mod
  // 8009 (a permutation of 0..8008 restricted to our domain) — decorrelated
  // from write order, so row-group ranges all span ~the full domain
  private lazy val fixture: (String, String) = {
    val base = tempDir("graft-bloom")
    val dir = s"$base/data"
    import spark.implicits._
    (0 until 8000)
      .map(i => (i, (i.toLong * 7919L % 8009L), s"key-${i.toLong * 7919L % 8009L}"))
      .toDF("seq", "key", "skey")
      .coalesce(1)
      .write.option("parquet.block.row.count.limit", "50")
      .mode("overwrite").parquet(dir)
    (base, dir)
  }

  private lazy val indexed = {
    val (base, dir) = fixture
    val (index, schema) = IndexedParquet.buildIndex(
      spark, dir, Seq("seq", "key", "skey"), s"$base/statsdb",
      bloomCols = Seq("key", "skey"))
    (index, schema, dir)
  }

  private def resolved(pred: org.apache.spark.sql.Column) =
    RowGroupSkipScan.resolvePredicate(spark, indexed._2, pred)

  test("min/max alone cannot prune a shuffled-key equality probe") {
    val (index, _, _) = indexed
    val all = index.allFiles().map(_.scanRowGroups.size).sum
    assert(all === 160)
    // same catalog, blooms ignored: a second handle with no bloom columns
    val noBloom = new DerbyStatsIndex(
      s"${fixture._1}/statsdb", index.indexedSchema)
    val kept = noBloom.getFiles(resolved(col("key") === 4242L))
      .map(_.scanRowGroups.size).sum
    assert(kept === all, "range stats were expected to keep every row group")
  }

  test("bloom prunes >90% of row groups on the same probe (long key)") {
    val (index, _, _) = indexed
    val kept = index.getFiles(resolved(col("key") === 4242L))
      .map(_.scanRowGroups.size).sum
    // the true posting is 1 row group; the rest are fpp survivors — sized
    // at fpp=0.01 over 160 groups, even 16 (10%) is a >5 sigma excursion
    assert(kept >= 1 && kept <= 16, s"bloom kept $kept of 160 row groups")
  }

  test("bloom prunes string-key probes") {
    val (index, _, _) = indexed
    val kept = index.getFiles(resolved(col("skey") === "key-777"))
      .map(_.scanRowGroups.size).sum
    assert(kept >= 1 && kept <= 16, s"bloom kept $kept of 160 row groups")
  }

  test("IN-list probes bloom every member") {
    val (index, _, _) = indexed
    val kept = index.getFiles(resolved(col("key").isin(1L, 1000L, 7000L)))
      .map(_.scanRowGroups.size).sum
    assert(kept >= 1 && kept <= 48, s"bloom kept $kept of 160 row groups")
  }

  test("no false prune: every existing key's rows survive bloom pruning") {
    val (index, schema, dir) = indexed
    // 25 existing keys spread over the domain, incl. both ends
    val keys = (0 until 25).map(i => (i.toLong * 331L) % 8009L).filter(_ < 8009)
    keys.foreach { k =>
      val pred = col("key") === k
      val plans = index.getFiles(resolved(pred))
      val got =
        if (plans.isEmpty) 0L
        else RowGroupSkipScan.scan(spark, dir, plans, schema)
          .filter(pred).count()
      val expected = spark.read.parquet(dir).filter(pred).count()
      assert(got === expected, s"key $k: bloom-pruned scan lost rows")
    }
  }

  test("idx12 fixture: bloom pins the md5-key probe to ~1 row group") {
    val dir = sf("sf0.001")
    val q = SparkEntry.registry.find(_.name == "idx12_bloom").get
    val n = q.fn(spark, dir).count()
    assert(n >= 1, "probe key must exist (min orderkey's first line)")
    val exec = graft.operators.Indexed.lastExecution(spark, dir).get
    assert(exec.totalRowGroups >= 8)
    // one true posting; fpp leaves at most ~one stray survivor
    assert(exec.scannedRowGroups <= 2,
      s"bloom kept ${exec.scannedRowGroups} of ${exec.totalRowGroups} row groups")
  }

  test("re-running the index build keeps blooms effective (idempotent re-index)") {
    val (base, dir) = fixture
    // second buildIndex over the same data: footer ingest wipes and
    // re-inserts the row-group rows (bloom columns go NULL), then the
    // bloom pass must re-attach — a probe after the rebuild still prunes
    val (index2, _) = IndexedParquet.buildIndex(
      spark, dir, Seq("seq", "key", "skey"), s"$base/statsdb",
      bloomCols = Seq("key", "skey"))
    val kept = index2.getFiles(resolved(col("key") === 4242L))
      .map(_.scanRowGroups.size).sum
    assert(kept >= 1 && kept <= 16, s"post-reindex bloom kept $kept of 160")
  }

  test("absent key prunes everything the fpp allows and returns empty") {
    val (index, schema, dir) = indexed
    // 8009..8999 never occur (key domain is mod 8009 over 0..7999 inputs)
    val plans = index.getFiles(resolved(col("key") === 8888L))
    val kept = plans.map(_.scanRowGroups.size).sum
    assert(kept <= 16, s"absent key kept $kept row groups")
    val rows =
      if (plans.isEmpty) 0L
      else RowGroupSkipScan.scan(spark, dir, plans, schema)
        .filter(col("key") === 8888L).count()
    assert(rows === 0L)
  }
}
