package graft

import graft.index.{ColumnStats, DerbyStatsIndex, FileStats, RowGroupStats, RowLevelIndex}
import graft.sources.IndexedParquet
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.nio.file.Files

/** Automatic index routing (the reference's one-scan-seam design intent,
  * /root/reference/sqlx-sqlite/src/main.rs:256-305: ONE `scan()` consults
  * "the index"; index.rs:30-35 names the row-level posting index as the
  * precise extension): the PROVIDER picks the best index per predicate —
  * plain `df.filter` syntax, no caller involvement.
  *
  * Pins the fallback order per equality/IN conjunct:
  *  1. row-level postings (exact occurrence; capped driver lookup),
  *  2. bloom probe / min-max overlap (both in-catalog via getFiles),
  * and that a hot key (posting overflow) degrades to 2 instead of melting
  * the driver. Every step over-approximates independently, so the
  * intersection the router takes is sound — asserted against full scans.
  *
  * Also pins the catalog-side exact-min scalar (`minIndexedValue`) the
  * idx12/idx13 probes derive from: exact where certifiable, None where a
  * NULL-min row group may hide the true minimum, a truncated stored min,
  * or a catalog error (the ADVICE r5 soundness findings).
  */
class RoutingSpec extends SparkSpec {

  // same shuffled-key shape as BloomPruningSpec: 8000 rows in 50-row row
  // groups => 160 row groups whose key ranges all span ~the whole domain
  // (min/max prunes nothing), bloom on both keys, row-level postings on
  // `key` only — so `key` routes and `skey` exercises the bloom fallback
  private lazy val fx: Fx = {
    val base = tempDir("graft-routing")
    val dir = s"$base/data"
    import spark.implicits._
    (0 until 8000)
      .map(i => (i, (i.toLong * 7919L % 8009L), s"key-${i.toLong * 7919L % 8009L}"))
      .toDF("seq", "key", "skey")
      .coalesce(1)
      .write.option("parquet.block.row.count.limit", "50")
      .mode("overwrite").parquet(dir)
    val (index, schema) = IndexedParquet.buildIndex(
      spark, dir, Seq("seq", "key", "skey"), s"$base/statsdb",
      bloomCols = Seq("key", "skey"))
    val rowIdx = s"$base/rowidx-key"
    RowLevelIndex.build(spark, dir, index.allFiles(), schema, "key", rowIdx)
    Fx(base, dir, index, schema, rowIdx)
  }
  private case class Fx(base: String, dir: String, index: graft.index.StatsIndex,
      schema: StructType, rowIdx: String)

  private def routed(maxPostings: Int = RowLevelIndex.MaxPostings) =
    IndexedParquet.read(spark, fx.dir, fx.index, fx.schema,
      rowLevelIndexes = Map("key" -> fx.rowIdx), maxPostings = maxPostings)

  private def plain = spark.read.parquet(fx.dir)

  test("plain df.filter equality routes to posting-exact row groups") {
    val (df, fi) = routed()
    val rows = df.filter(col("key") === 4242L).count()
    assert(rows === plain.filter(col("key") === 4242L).count())
    val exec = fi.lastExecution.get
    assert(exec.route === Seq("rowlevel(key)"))
    // the key occurs in exactly 1 of 160 row groups; postings are exact
    assert(exec.scannedRowGroups === 1,
      s"postings kept ${exec.scannedRowGroups} row groups")
  }

  test("postings keep no more than the bloom keeps (routing only narrows)") {
    val (df, fi) = routed()
    df.filter(col("key") === 777L).count()
    val viaRouting = fi.lastExecution.get.scannedRowGroups
    val pred = graft.sources.RowGroupSkipScan.resolvePredicate(
      spark, fx.schema, col("key") === 777L)
    val viaBloom = fx.index.getFiles(pred).map(_.scanRowGroups.size).sum
    assert(viaRouting <= viaBloom && viaRouting === 1,
      s"routing kept $viaRouting, bloom alone keeps $viaBloom")
  }

  test("fallback: a column without a row-level index takes the bloom path") {
    val (df, fi) = routed()
    val rows = df.filter(col("skey") === "key-777").count()
    assert(rows === plain.filter(col("skey") === "key-777").count())
    val exec = fi.lastExecution.get
    assert(exec.route === Nil, "skey must not route")
    assert(exec.scannedRowGroups <= 16,
      s"bloom fallback kept ${exec.scannedRowGroups} of 160")
  }

  test("fallback: a hot key (posting overflow) degrades to the stats plans") {
    val (df, fi) = routed(maxPostings = 0)
    val rows = df.filter(col("key") === 4242L).count()
    assert(rows === plain.filter(col("key") === 4242L).count())
    val exec = fi.lastExecution.get
    assert(exec.route === Seq("rowlevel-degraded(key)"))
    // identical to what the catalog alone keeps for this probe
    val pred = graft.sources.RowGroupSkipScan.resolvePredicate(
      spark, fx.schema, col("key") === 4242L)
    val statsKept = fx.index.getFiles(pred)
      .map(p => p.fileName -> p.scanRowGroups).toMap
    assert(exec.plans.map(p => p.fileName -> p.scanRowGroups).toMap === statsKept)
  }

  test("IN-list routes as the union of member postings") {
    val (df, fi) = routed()
    val rows = df.filter(col("key").isin(1L, 1000L, 7000L)).count()
    assert(rows === plain.filter(col("key").isin(1L, 1000L, 7000L)).count())
    val exec = fi.lastExecution.get
    assert(exec.route === Seq("rowlevel(key)"))
    assert(exec.scannedRowGroups >= 1 && exec.scannedRowGroups <= 3,
      s"3-key IN kept ${exec.scannedRowGroups} row groups")
  }

  test("large IN-lists (optimizer-converted to InSet) still route") {
    // past spark.sql.optimizer.inSetConversionThreshold (default 10) the
    // IN becomes an InSet — a different expression class in pointKeys
    val keys = (0 until 15).map(i => (i * 501L) % 8009L)
    val (df, fi) = routed()
    val rows = df.filter(col("key").isin(keys: _*)).count()
    assert(rows === plain.filter(col("key").isin(keys: _*)).count())
    val exec = fi.lastExecution.get
    assert(exec.route === Seq("rowlevel(key)"))
    assert(exec.scannedRowGroups <= keys.size,
      s"15-key InSet kept ${exec.scannedRowGroups} row groups")
  }

  test("half-open range predicates on the routed column do not route") {
    val (df, fi) = routed()
    val rows = df.filter(col("key") > 8000L).count()
    assert(rows === plain.filter(col("key") > 8000L).count())
    assert(fi.lastExecution.get.route === Nil)
  }

  // ---- bounded range routing (idx15 seam) ----------------------------------

  test("a bounded range (BETWEEN) routes as a posting-table range read") {
    val (df, fi) = routed()
    val pred = col("key").between(100L, 110L)
    val rows = df.filter(pred).count()
    assert(rows === plain.filter(pred).count())
    val exec = fi.lastExecution.get
    assert(exec.route === Seq("rowlevel-range(key)"))
    // 11 in-range keys, each in exactly 1 of 160 shuffled row groups whose
    // min/max spans ~the whole domain (stats alone keep everything)
    assert(exec.scannedRowGroups <= 11,
      s"range postings kept ${exec.scannedRowGroups} row groups")
  }

  test("exclusive bounds route and keep strictly fewer keys' postings") {
    val (df, fi) = routed()
    val pred = col("key") > 100L && col("key") < 103L // keys 101, 102
    val rows = df.filter(pred).count()
    assert(rows === plain.filter(pred).count())
    val exec = fi.lastExecution.get
    assert(exec.route === Seq("rowlevel-range(key)"))
    assert(exec.scannedRowGroups <= 2)
  }

  test("a too-wide range (posting overflow) degrades to the stats plans") {
    val (df, fi) = routed(maxPostings = 0)
    val pred = col("key").between(100L, 110L)
    val rows = df.filter(pred).count()
    assert(rows === plain.filter(pred).count())
    assert(fi.lastExecution.get.route === Seq("rowlevel-degraded(key)"))
  }

  test("point and range conjuncts on different columns both route") {
    // second routed column via a second posting index on seq
    val seqIdx = s"${fx.base}/rowidx-seq"
    if (!RowLevelIndex.isComplete(seqIdx))
      RowLevelIndex.build(spark, fx.dir, fx.index.allFiles(), fx.schema, "seq", seqIdx)
    val (df, fi) = IndexedParquet.read(spark, fx.dir, fx.index, fx.schema,
      rowLevelIndexes = Map("key" -> fx.rowIdx, "seq" -> seqIdx))
    val pred = col("key") === 4242L && col("seq").between(0, 7999)
    val rows = df.filter(pred).count()
    assert(rows === plain.filter(pred).count())
    val exec = fi.lastExecution.get
    assert(exec.route.toSet === Set("rowlevel(key)", "rowlevel-range(seq)"))
    // the point posting (1 row group) intersected with the wide range
    assert(exec.scannedRowGroups <= 1)
  }

  test("soundness sweep: routed range scans lose no rows over many ranges") {
    val (df, fi) = routed()
    // deterministic pseudo-random bounded ranges across the key domain,
    // including empty, single-key, inverted (lo > hi), and wide ranges
    val ranges = (0 until 12).map { i =>
      val a = (i.toLong * 997L) % 8009L
      val b = a + (i.toLong * 131L) % 400L - 50L
      (math.min(a, b), math.max(a, b))
    } ++ Seq((0L, 8008L), (42L, 42L), (9000L, 9100L), (200L, 100L))
    ranges.foreach { case (lo, hi) =>
      val pred = col("key") >= lo && col("key") <= hi
      assert(df.filter(pred).count() === plain.filter(pred).count(),
        s"range [$lo,$hi] lost rows (route=${fi.lastExecution.get.route})")
    }
  }

  test("a STALE posting index (file set grew) degrades instead of losing rows") {
    import spark.implicits._
    val base = tempDir("graft-routing-stale")
    val dir = s"$base/data"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    def addFile(name: String, lo: Int, hi: Int): Unit = {
      val tmp = s"$base/tmp-$name"
      (lo until hi).map(i => (i.toLong, s"r$i")).toDF("key", "s")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = java.nio.file.Files.list(java.nio.file.Paths.get(tmp)).toArray
        .map(_.asInstanceOf[java.nio.file.Path])
        .find(_.getFileName.toString.endsWith(".parquet")).get
      java.nio.file.Files.move(part, java.nio.file.Paths.get(dir, name))
    }
    addFile("f1.parquet", 0, 100)
    val (idx1, schema) = IndexedParquet.buildIndex(spark, dir, Seq("key"), s"$base/db")
    val rowIdx = s"$base/rowidx"
    RowLevelIndex.build(spark, dir, idx1.allFiles(), schema, "key", rowIdx)
    idx1.close()

    // the table grows AFTER the posting index was built; the stats catalog
    // is re-ingested (the cheap, always-maintained index) but the posting
    // table is not — key 150 exists ONLY in the uncovered file
    addFile("f2.parquet", 100, 200)
    val (idx2, _) = IndexedParquet.buildIndex(spark, dir, Seq("key"), s"$base/db")
    val (df, fi) = IndexedParquet.read(spark, dir, idx2, schema,
      rowLevelIndexes = Map("key" -> rowIdx))
    assert(df.filter(col("key") === 150L).count() === 1L,
      "stale postings must not prune the uncovered file")
    assert(fi.lastExecution.get.route === Seq("rowlevel-stale(key)"))
    assert(df.filter(col("key").between(140L, 160L)).count() === 21L)
    assert(fi.lastExecution.get.route === Seq("rowlevel-stale(key)"))

    // rebuilding the posting index restores precise routing
    RowLevelIndex.build(spark, dir, idx2.allFiles(), schema, "key", rowIdx)
    assert(df.filter(col("key") === 150L).count() === 1L)
    assert(fi.lastExecution.get.route === Seq("rowlevel(key)"))
    idx2.close()
  }

  test("idx15_routed_range end-to-end: bounded range resolves via postings") {
    val dir = sf("sf0.001")
    val q = SparkEntry.registry.find(_.name == "idx15_routed_range").get
    assert(q.fn(spark, dir).count() >= 1)
    val exec = graft.operators.Indexed.lastRoutedExecution(spark, dir).get
    assert(exec.route === Seq("rowlevel-range(l_orderkey)"))
  }

  test("literal-first bounds route as a posting-table range read") {
    val dir = sf("sf0.001")
    // `a <= k && k <= b`: the lower bound in its literal-first mirror
    val pred = lit(1000L) <= col("l_orderkey") && col("l_orderkey") <= lit(1100L)
    def shape(d: org.apache.spark.sql.DataFrame) = d.filter(pred)
      .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
      .orderBy("l_returnflag").collect().toSeq
    val got = shape(graft.operators.Indexed.lineitemRouted(spark, dir))
    val exec = graft.operators.Indexed.lastRoutedExecution(spark, dir).get
    assert(exec.route === Seq("rowlevel-range(l_orderkey)"))
    assert(got === shape(spark.read.parquet(s"$dir/lineitem.parquet")))
  }

  test("extra conjuncts intersect: routing composes with stats pruning") {
    val (df, fi) = routed()
    val pred = col("key") === 4242L && col("seq") < 100
    val rows = df.filter(pred).count()
    assert(rows === plain.filter(pred).count())
    val exec = fi.lastExecution.get
    assert(exec.route === Seq("rowlevel(key)"))
    // seq is write-ordered: seq < 100 alone keeps 2 of 160 row groups, so
    // the intersection with the (single) posting can keep at most 1
    assert(exec.scannedRowGroups <= 1)
  }

  test("soundness sweep: routed scans lose no rows over many existing keys") {
    val (df, _) = routed()
    (0 until 15).map(i => (i.toLong * 331L) % 8009L).foreach { k =>
      assert(df.filter(col("key") === k).count() ===
        plain.filter(col("key") === k).count(), s"key $k lost rows")
    }
  }

  test("absent key: empty result, still routed") {
    val (df, fi) = routed()
    assert(df.filter(col("key") === 8888L).count() === 0L)
    assert(fi.lastExecution.get.route === Seq("rowlevel(key)"))
    assert(fi.lastExecution.get.scannedRowGroups === 0)
  }

  test("idx13_routed end-to-end: catalog-derived probe, posting-exact scan") {
    val dir = sf("sf0.001")
    val q = SparkEntry.registry.find(_.name == "idx13_routed").get
    assert(q.fn(spark, dir).count() >= 1)
    val exec = graft.operators.Indexed.lastRoutedExecution(spark, dir).get
    assert(exec.route === Seq("rowlevel(l_ukey)"))
    assert(exec.scannedRowGroups === 1,
      s"unique key must resolve to exactly 1 row group, got ${exec.scannedRowGroups}")
  }

  // ---- minIndexedValue (catalog-side exact min; ADVICE r5) -----------------

  test("minIndexedValue is the exact data minimum when stats are complete") {
    assert(fx.index.minIndexedValue("key") === Some(0L))
    assert(fx.index.minIndexedValue("skey") === Some("key-0"))
  }

  test("minIndexedValue refuses when a NULL-min row group may hide values") {
    val schema = StructType(Seq(StructField("k", LongType)))
    def rg(i: Int, cs: ColumnStats) =
      RowGroupStats(i, 10L, i * 100L, 100L, Map("k" -> cs))
    val db = new DerbyStatsIndex(
      tempDir("graft-minval") + "/db", schema)
    db.initialize(schema)
    db.addFile(FileStats("f1.parquet", 1000L, 20L, Vector(
      rg(0, ColumnStats(Some(0L), Some(5L), Some(9L))),
      // no usable stats but 10 possibly-non-null rows: min could be < 5
      rg(1, ColumnStats(None, None, None)))))
    assert(db.minIndexedValue("k") === None)
    // an ALL-null row group hides nothing — exactness is restored
    db.addFile(FileStats("f1.parquet", 1000L, 20L, Vector(
      rg(0, ColumnStats(Some(0L), Some(5L), Some(9L))),
      rg(1, ColumnStats(Some(10L), None, None)))))
    assert(db.minIndexedValue("k") === Some(5L))
    db.close()
  }

  test("minIndexedValue refuses possibly-truncated minima and bad SQL types") {
    val schema = StructType(Seq(
      StructField("s", StringType), StructField("b", BinaryType)))
    val db = new DerbyStatsIndex(
      tempDir("graft-minval2") + "/db", schema)
    db.initialize(schema)
    val longStr = "x" * (DerbyStatsIndex.MaxStringLen + 10)
    db.addFile(FileStats("f1.parquet", 1000L, 10L, Vector(
      RowGroupStats(0, 10L, 0L, 100L, Map(
        // stored min is the 1024-char truncation — a bound, not a value
        "s" -> ColumnStats(Some(0L), Some(longStr), None),
        "b" -> ColumnStats(Some(0L), Some(Array[Byte](1, 2)), Some(Array[Byte](9))))))))
    assert(db.minIndexedValue("s") === None)
    // Derby's bit-data collation is uncertified vs Catalyst's unsigned
    // lexicographic binary order — conservative None, no exception
    // propagated to the caller (ADVICE r5)
    assert(db.minIndexedValue("b") === None)
    db.close()
  }
}
