package graft

import graft.index.{DerbyStatsIndex, RowLevelIndex}
import graft.sources.{Compaction, IndexedParquet, RowGroupSkipScan}
import graft.streaming.IndexedSink
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.util.SerializableConfiguration

import java.nio.file.{Files, Paths}

/** The posting catalog answers routing at planning time without Spark:
  * a point, an IN list and a bounded range on a row-level column each
  * resolve inside `listFiles` with ZERO Spark jobs (a posting table read
  * through Spark paid a schema-inference job and a collect per lookup),
  * and record the same route strings. Also pins replay safety: postings
  * inserted twice for one batch are accepted and deduplicated on read, so
  * routing stays exact — and the posting cap counts distinct row groups,
  * not duplicate rows. Pins key storage: date and timestamp keys route
  * exactly, string keys route in Spark's byte order, over-long string
  * keys only over-scan, and a key type the catalog cannot store is
  * refused. And pins shape: appends to a row-number catalog (compaction)
  * keep row numbers.
  */
class PostingCatalogSpec extends SparkSpec {

  private def writeFile(dir: String, name: String, keys: Seq[Long]): Unit = {
    import spark.implicits._
    val tmp = tempDir("graft-posting-part")
    keys.map(k => (k, s"r$k")).toDF("key", "s").coalesce(1)
      .write.option("parquet.block.row.count.limit", "50")
      .mode("overwrite").parquet(tmp)
    val part = Files.list(Paths.get(tmp)).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.createDirectories(Paths.get(dir))
    Files.move(part, Paths.get(dir, name))
  }

  // 8000 shuffled keys in 50-row row groups: every row group's min/max
  // spans ~the whole domain, so only postings narrow the scan
  private lazy val fx = {
    val base = tempDir("graft-posting-jobs")
    val dir = s"$base/data"
    writeFile(dir, "f0.parquet", (0 until 8000).map(i => i.toLong * 7919L % 8009L))
    val (index, schema) = IndexedParquet.buildIndex(spark, dir, Seq("key"), s"$base/statsdb")
    val rowIdx = s"$base/rowidx"
    RowLevelIndex.build(spark, dir, index.allFiles(), schema, "key", rowIdx)
    (dir, index, schema, rowIdx)
  }

  test("routing a point, an IN list and a bounded range launches no Spark job") {
    val (dir, index, schema, rowIdx) = fx
    val (df, fi) = IndexedParquet.read(spark, dir, index, schema,
      rowLevelIndexes = Map("key" -> rowIdx))
    val plain = spark.read.parquet(dir)
    Seq[(Column, Seq[String])](
      (col("key") === 4242L, Seq("rowlevel(key)")),
      (col("key").isin(1L, 1000L, 7000L), Seq("rowlevel(key)")),
      (col("key").between(100L, 110L), Seq("rowlevel-range(key)"))
    ).foreach { case (pred, route) =>
      val filter = RowGroupSkipScan.resolvePredicate(spark, schema, pred)
      val jobs = jobsDuring { fi.listFiles(Nil, Seq(filter)) }
      assert(jobs === 0, s"$pred: routing launched $jobs Spark jobs")
      assert(fi.lastExecution.get.route === route, pred.toString)
      assert(fi.lastExecution.get.scannedRowGroups <= 11, pred.toString)
      // and the routed read stays exact
      assert(df.filter(pred).count() === plain.filter(pred).count(), pred.toString)
    }
  }

  test("postings inserted twice for one batch still route exactly") {
    val base = tempDir("graft-posting-replay")
    val dir = s"$base/data"
    writeFile(dir, "f1.parquet", 0L until 100L)
    val (idx1, schema) = IndexedParquet.buildIndex(spark, dir, Seq("key"), s"$base/db")
    val rowIdx = s"$base/rowidx"
    RowLevelIndex.build(spark, dir, idx1.allFiles(), schema, "key", rowIdx)
    idx1.close()

    // a batch lands, and its posting append runs twice (a replay)
    writeFile(dir, "f2.parquet", 100L until 200L)
    val (index, _) = IndexedParquet.buildIndex(spark, dir, Seq("key"), s"$base/db")
    val batch = index.allFiles().filter(_.fileName == "f2.parquet")
    RowLevelIndex.append(spark, dir, batch, schema, "key", rowIdx)
    RowLevelIndex.append(spark, dir, batch, schema, "key", rowIdx)
    val c = java.sql.DriverManager.getConnection(s"jdbc:derby:$rowIdx")
    val stored = try {
      val rs = c.createStatement().executeQuery(
        "SELECT COUNT(*) FROM postings WHERE pkey = 150")
      rs.next(); rs.getLong(1)
    } finally c.close()
    assert(stored === 2L, "the replayed insert must be kept, not rejected")

    // keys 150..199 fill f2's second row group: duplicates must collapse
    // before the cap, so a cap of ONE row group still routes
    val (df, fi) = IndexedParquet.read(spark, dir, index, schema,
      rowLevelIndexes = Map("key" -> rowIdx), maxPostings = 1)
    Seq[(Column, String, Long)](
      (col("key") === 150L, "rowlevel(key)", 1L),
      (col("key").isin(150L, 151L), "rowlevel(key)", 2L),
      (col("key").between(150L, 160L), "rowlevel-range(key)", 11L)
    ).foreach { case (pred, route, rows) =>
      assert(df.filter(pred).count() === rows, pred.toString)
      val exec = fi.lastExecution.get
      assert(exec.route === Seq(route), pred.toString)
      assert(exec.plans.map(p => p.fileName -> p.scanRowGroups.toSeq) ===
        Seq("f2.parquet" -> Seq(1)), pred.toString)
    }
    index.close()
  }

  test("key types: dates and timestamps route, long strings only over-scan, doubles are refused") {
    import spark.implicits._
    val base = tempDir("graft-posting-types")
    val dir = s"$base/data"
    val long = "x" * (DerbyStatsIndex.MaxStringLen + 5)
    val day0 = java.time.LocalDate.of(2020, 1, 1)
    def d(i: Int) = java.sql.Date.valueOf(day0.plusDays(i))
    def ts(i: Int) = new java.sql.Timestamp(1600000000000L + i * 1000L)
    def s(i: Int) = if (i % 2 == 0) s"${long}a$i" else s"s$i"
    (0 until 200).map(i => (i, d(i), ts(i), s(i), i.toDouble))
      .toDF("i", "d", "ts", "s", "x").coalesce(1)
      .write.option("parquet.block.row.count.limit", "50").parquet(dir)
    // stats on `i` only: min/max cannot narrow d, ts or s
    val (index, schema) = IndexedParquet.buildIndex(spark, dir, Seq("i"), s"$base/db")
    val dirs = Seq("d", "ts", "s").map { c =>
      RowLevelIndex.build(spark, dir, index.allFiles(), schema, c, s"$base/idx-$c")
      c -> s"$base/idx-$c"
    }.toMap
    val (df, fi) = IndexedParquet.read(spark, dir, index, schema, rowLevelIndexes = dirs)
    val plain = spark.read.parquet(dir)
    Seq[(Column, String, Int)](
      (col("d") === d(120), "rowlevel(d)", 1),
      (col("d").between(d(10), d(20)), "rowlevel-range(d)", 1),
      (col("ts") === ts(75), "rowlevel(ts)", 1),
      (col("s") === "s101", "rowlevel(s)", 1),
      // every long key is stored as the same truncated prefix
      (col("s") === s(100), "rowlevel(s)", 4),
      (col("s").between("s150", "s160"), "rowlevel-range(s)", 1),
      (col("s").between(s(0), s(0) + "z"), "rowlevel-range(s)", 4)
    ).foreach { case (pred, route, rowGroups) =>
      assert(df.filter(pred).count() === plain.filter(pred).count(), pred.toString)
      assert(fi.lastExecution.get.route === Seq(route), pred.toString)
      assert(fi.lastExecution.get.scannedRowGroups === rowGroups, pred.toString)
    }
    val refused = intercept[IllegalArgumentException](
      RowLevelIndex.build(spark, dir, index.allFiles(), schema, "x", s"$base/idx-x"))
    assert(refused.getMessage.contains("'x'") && refused.getMessage.contains("double"),
      refused.getMessage)
    // distinct long keys share a stored prefix: COUNT DISTINCT declines
    assert(RowLevelIndex.distinctKeys(dirs("s"), StringType) === None)
    index.close()
  }

  test("string keys follow Spark's byte order, not Derby's UTF-16 order or space padding") {
    import spark.implicits._
    val base = tempDir("graft-posting-strings")
    val dir = s"$base/data"
    // one key per 50-row group: "a", "a " (equal to "a" under VARCHAR
    // padding), U+FFFD, and U+1F600 (a surrogate pair, so below U+FFFD
    // in UTF-16 code units but above it in UTF-8 bytes)
    val keys = Seq("a", "a ", "b\uFFFD", "b\uD83D\uDE00")
    (0 until 200).map(i => (i, keys(i / 50))).toDF("i", "s").coalesce(1)
      .write.option("parquet.block.row.count.limit", "50").parquet(dir)
    val (index, schema) = IndexedParquet.buildIndex(spark, dir, Seq("i"), s"$base/db")
    val rowIdx = s"$base/idx-s"
    RowLevelIndex.build(spark, dir, index.allFiles(), schema, "s", rowIdx)
    val (df, fi) = IndexedParquet.read(spark, dir, index, schema,
      rowLevelIndexes = Map("s" -> rowIdx))
    val plain = spark.read.parquet(dir)
    Seq[(Column, String, Int)](
      (col("s") === "a", "rowlevel(s)", 1),
      (col("s") === "a ", "rowlevel(s)", 1),
      (col("s").between("a", "a"), "rowlevel-range(s)", 1),
      (col("s").between("b\uF000", "b\uD83D\uDE01"), "rowlevel-range(s)", 2),
      (col("s").between("b\uFFFD", "b\uFFFF"), "rowlevel-range(s)", 1)
    ).foreach { case (pred, route, rowGroups) =>
      assert(df.filter(pred).count() === plain.filter(pred).count(), pred.toString)
      assert(fi.lastExecution.get.route === Seq(route), pred.toString)
      assert(fi.lastExecution.get.scannedRowGroups === rowGroups, pred.toString)
    }
    // no key was truncated: COUNT DISTINCT is answered from the catalog
    val q = df.agg(count_distinct(col("s")))
    assert(q.queryExecution.optimizedPlan.collect { case l: LocalRelation => l }.nonEmpty,
      q.queryExecution.optimizedPlan)
    assert(q.collect().head.getLong(0) === 4L)
    index.close()
  }

  test("compacting a table whose catalog carries row numbers keeps them, and routing exact") {
    import spark.implicits._
    val base = tempDir("graft-posting-rownum-compact")
    val dataDir = s"$base/data"
    new java.io.File(dataDir).mkdirs()
    val schema = StructType(Seq(StructField("k", LongType), StructField("p", LongType)))
    val index = new DerbyStatsIndex(s"$base/db", schema)
    index.initialize(schema)
    val rowIdx = s"$base/rowidx"
    val hconf = new SerializableConfiguration(spark.sparkContext.hadoopConfiguration)
    (0 until 3).foreach { b =>
      IndexedSink.commitBatch(
        (b * 100L until (b + 1) * 100L).map(i => (i * 17L, i)).toDF("k", "p").repartition(4),
        b.toLong, dataDir, index, Seq("k"), hconf, Map("k" -> rowIdx),
        rowLevelRowNumbers = true)
    }
    val before = index.allFiles().map(_.fileName).toSet
    Compaction.compactIndexed(spark, dataDir, index, Seq("k"),
      targetBytes = 1L << 20, smallThresholdBytes = 1L << 20,
      rowLevel = Map("k" -> rowIdx))
    val after = index.allFiles().map(_.fileName).toSet
    assert(after.nonEmpty && after.intersect(before).isEmpty, "compaction rewrote nothing")

    // the compacted files' postings carry row numbers that match Spark's own
    val truth = spark.read.parquet(dataDir)
      .select(col("k"), col("_metadata.file_name"), col("_metadata.row_index"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    Seq(0L, 170L, 3400L, 299L * 17L).foreach { k =>
      val got = RowLevelIndex.postingsRows(rowIdx, Seq(Long.box(k))).get
        .toSeq.flatMap { case (f, prs) => prs.map { case (_, rn) => (f, rn) } }
        .filter { case (f, _) => after.contains(f) }
      assert(got === Seq(truth(k)), s"key $k")
    }
    val rows = RowLevelIndex.fetchRows(spark, dataDir, rowIdx, index.allFiles(), schema,
      "k", Seq(170L, 3400L).map(Long.box))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(rows === Seq((170L, 10L), (3400L, 200L)))
    val (df, fi) = IndexedParquet.read(spark, dataDir, index, schema,
      rowLevelIndexes = Map("k" -> rowIdx))
    assert(df.filter(col("k") === 3400L).count() === 1L)
    assert(fi.lastExecution.get.route === Seq("rowlevel(k)"),
      s"routing degraded after compaction: ${fi.lastExecution.get.route}")
    assert(fi.lastExecution.get.scannedRowGroups === 1)
    index.close()
  }
}
