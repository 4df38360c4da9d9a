package graft

import graft.index.DerbyStatsIndex
import graft.sources.IndexedParquet
import graft.streaming.IndexedSink
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.nio.file.Files

/** Streaming append with continuous index maintenance (IndexedSink): each
  * micro-batch's new parquet files are footer-ingested into the stats
  * catalog, so the growing table stays index-served with no full
  * re-index — the reference's index build (entry point B) made
  * continuous. Pins: per-batch catalog growth, idempotent re-ingest,
  * and that an indexed read over the grown table prunes AND answers
  * catalog-backed aggregates exactly.
  */
class IndexedSinkSpec extends SparkSpec {

  test("streaming appends keep the catalog in sync; indexed reads follow") {
    import spark.implicits._
    val base = tempDir("graft-sink")
    val dataDir = s"$base/data"
    new java.io.File(dataDir).mkdirs()
    val schema = StructType(Seq(StructField("k", LongType)))
    val index = new DerbyStatsIndex(s"$base/db", schema)
    index.initialize(schema)

    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Long]
    def runBatch(): Unit = {
      val q = IndexedSink.start(
        mem.toDF().select(col("value").as("k")),
        dataDir, index, Seq("k"), s"$base/ckpt")
      q.awaitTermination() // AvailableNow: drains what's queued, stops
    }

    // batch 1
    mem.addData(0L until 100L: _*)
    runBatch()
    assert(index.totalRowCount() === Some(100L))
    val filesAfter1 = index.allFiles().map(_.fileName).toSet
    assert(filesAfter1.nonEmpty)

    // batch 2 appends; only the NEW files are ingested
    mem.addData(1000L until 1100L: _*)
    runBatch()
    assert(index.totalRowCount() === Some(200L))
    val filesAfter2 = index.allFiles().map(_.fileName).toSet
    assert(filesAfter1.subsetOf(filesAfter2) && filesAfter2.size > filesAfter1.size)

    // an empty run ingests nothing and changes nothing (idempotence)
    runBatch()
    assert(index.totalRowCount() === Some(200L))
    assert(index.allFiles().map(_.fileName).toSet === filesAfter2)

    // the indexed relation serves the grown table: values + pruning +
    // catalog-answered aggregates all reflect both batches
    val (df, fi) = IndexedParquet.read(spark, dataDir, index, spark.read.parquet(dataDir).schema)
    assert(df.count() === 200L) // catalog-answered (StatsAggPushdown)
    assert(df.filter(col("k") >= 1000L).count() === 100L)
    val exec = fi.lastExecution.get
    assert(exec.scannedFiles.toSet.subsetOf(filesAfter2))
    assert(exec.scannedFiles.size < filesAfter2.size,
      s"k>=1000 should prune batch-1 files: scanned ${exec.scannedFiles}")
    val agg = df.agg(min(col("k")).as("mn"), max(col("k")).as("mx")).collect().head
    assert(agg.getLong(0) === 0L && agg.getLong(1) === 1099L)
    index.close()
  }

  test("a replayed batch replaces its previous attempt — exactly-once end to end") {
    import spark.implicits._
    val base = tempDir("graft-sink-replay")
    val dataDir = s"$base/data"
    new java.io.File(dataDir).mkdirs()
    val schema = StructType(Seq(StructField("k", LongType)))
    val index = new DerbyStatsIndex(s"$base/db", schema)
    index.initialize(schema)
    val hconf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)

    val batch = (0L until 100L).toDF("k")
    IndexedSink.commitBatch(batch, 7L, dataDir, index, Seq("k"), hconf)
    val files1 = index.allFiles().map(f => f.fileName -> f.fileSizeBytes).toMap
    assert(index.totalRowCount() === Some(100L))

    // foreachBatch is at-least-once: the SAME batch id commits again
    // (crash-before-checkpoint replay) — names are deterministic, so the
    // table and catalog end byte-identical, not doubled
    IndexedSink.commitBatch(batch, 7L, dataDir, index, Seq("k"), hconf)
    assert(index.totalRowCount() === Some(100L))
    assert(index.allFiles().map(f => f.fileName -> f.fileSizeBytes).toMap === files1)
    assert(spark.read.parquet(dataDir).count() === 100L)
    index.close()
  }

  test("readAsOf serves each version exactly, across replay and later batches") {
    import spark.implicits._
    val base = tempDir("graft-sink-asof")
    val dataDir = s"$base/data"
    new java.io.File(dataDir).mkdirs()
    val schema = StructType(Seq(StructField("k", LongType)))
    val index = new DerbyStatsIndex(s"$base/db", schema)
    index.initialize(schema)
    val hconf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)

    IndexedSink.commitBatch((0L until 100L).toDF("k"), 0L, dataDir, index, Seq("k"), hconf)
    IndexedSink.commitBatch((100L until 150L).toDF("k"), 1L, dataDir, index, Seq("k"), hconf)
    // batch 1 replays with DIFFERENT content and partitioning — the
    // snapshot must reflect the LAST committed attempt, nothing doubled
    IndexedSink.commitBatch((100L until 160L).toDF("k").repartition(2),
      1L, dataDir, index, Seq("k"), hconf)
    IndexedSink.commitBatch((200L until 210L).toDF("k"), 2L, dataDir, index, Seq("k"), hconf)

    def asOf(b: Long): Seq[Long] =
      IndexedSink.readAsOf(spark, dataDir, index, schema, b)
        .collect().map(_.getLong(0)).sorted.toSeq
    assert(asOf(0L) == (0L until 100L))
    assert(asOf(1L) == (0L until 160L))
    assert(asOf(2L) == ((0L until 160L) ++ (200L until 210L)))
    // a cataloged file the sink did not commit (no batch id, no _rewrites
    // record) makes snapshots UNDERIVABLE — readAsOf fails closed (r16:
    // silent exclusion could quietly drop committed rows that merely lost
    // their name; the ADVICE-endorsed unknown-provenance throw)
    (990L until 995L).toDF("k").coalesce(1).write.mode("overwrite")
      .parquet(s"$base/tmp-x")
    val part = Files.list(java.nio.file.Paths.get(s"$base/tmp-x")).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.move(part, java.nio.file.Paths.get(dataDir, "manual.parquet"))
    index.addFile(graft.index.FooterStats.read(
      new org.apache.hadoop.fs.Path(s"$dataDir/manual.parquet"),
      spark.sparkContext.hadoopConfiguration, Seq("k")))
    val ex = intercept[RuntimeException](asOf(2L))
    assert(ex.getMessage.contains("unknown provenance"), ex.getMessage)
    assert(IndexedSink.batchIdOf("b12-3.parquet") == Some(12L))
    assert(IndexedSink.batchIdOf("manual.parquet").isEmpty)
    index.close()
  }

  test("shadow maintenance keeps SUM folds and freq certificates served as batches land") {
    import spark.implicits._
    val base = tempDir("graft-sink-shadow")
    val dataDir = s"$base/data"
    new java.io.File(dataDir).mkdirs()
    val schema = StructType(Seq(StructField("k", LongType)))
    val index = new DerbyStatsIndex(s"$base/db", schema)
    index.initialize(schema)
    val hconf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)

    def commit(rows: Range, id: Long): Unit =
      IndexedSink.commitBatch(rows.map(_.toLong).toDF("k"), id, dataDir,
        index, Seq("k"), hconf,
        freqShadowCols = Seq("k"), sumShadowCols = Seq("k"))
    commit(0 until 100, 0L)
    commit(100 until 250, 1L)
    // every row group of the GROWN table carries both ledgers, so the
    // catalog SUM answers exactly and no certificate declines on an
    // unshadowed tail
    val st = index.rowGroupStats("k").get
    assert(st.nonEmpty && st.forall(s =>
      s.sumVal.isDefined && s.minFreq.isDefined && s.maxFreq.isDefined),
      s"unshadowed row groups after sink maintenance: $st")
    assert(index.totalSum("k") === Some(((0L until 250L).sum, 250L)))
    // replay re-attaches over the re-ingested rows — still exact
    commit(100 until 250, 1L)
    assert(index.totalSum("k") === Some(((0L until 250L).sum, 250L)))
    index.close()
  }

  test("a replay that produces FEWER parts removes the prior attempt's orphans") {
    import spark.implicits._
    val base = tempDir("graft-sink-shrink")
    val dataDir = s"$base/data"
    new java.io.File(dataDir).mkdirs()
    val schema = StructType(Seq(StructField("k", LongType)))
    val index = new DerbyStatsIndex(s"$base/db", schema)
    index.initialize(schema)
    val hconf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)

    val rows = (0L until 100L).toDF("k")
    // first attempt commits 4 parts (b3-0..3); the "crash + restart with
    // different partitioning" replay produces only 2 — b3-2/b3-3 and their
    // catalog rows must not survive, or rows double-count
    IndexedSink.commitBatch(rows.repartition(4), 3L, dataDir, index, Seq("k"), hconf)
    assert(index.allFiles().size >= 4)
    IndexedSink.commitBatch(rows.repartition(2), 3L, dataDir, index, Seq("k"), hconf)
    val names = new java.io.File(dataDir).list().filter(_.endsWith(".parquet")).toSet
    assert(names === Set("b3-0.parquet", "b3-1.parquet"),
      s"orphan parts survived the shrinking replay: $names")
    assert(index.allFiles().map(_.fileName).toSet === names)
    assert(index.totalRowCount() === Some(100L))
    assert(spark.read.parquet(dataDir).count() === 100L)
    index.close()
  }

  test("rowLevel maintenance keeps routing PRECISE on the growing table") {
    import spark.implicits._
    val base = tempDir("graft-sink-rowlevel")
    val dataDir = s"$base/data"
    val rowIdx = s"$base/rowidx-k"
    new java.io.File(dataDir).mkdirs()
    val schema = StructType(Seq(StructField("k", LongType)))
    val index = new DerbyStatsIndex(s"$base/db", schema)
    index.initialize(schema)
    val hconf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val rowLevel = Map("k" -> rowIdx)

    IndexedSink.commitBatch((0L until 100L).toDF("k").repartition(2),
      0L, dataDir, index, Seq("k"), hconf, rowLevel)
    val (df, fi) = graft.sources.IndexedParquet.read(
      spark, dataDir, index, schema, rowLevelIndexes = rowLevel)
    assert(df.filter(col("k") === 50L).count() === 1L)
    assert(fi.lastExecution.get.route === Seq("rowlevel(k)"))

    // the table GROWS; per-batch incremental posting append must keep the
    // coverage manifest in step, so routing stays posting-exact instead of
    // tripping the staleness guard
    IndexedSink.commitBatch((1000L until 1100L).toDF("k").repartition(2),
      1L, dataDir, index, Seq("k"), hconf, rowLevel)
    assert(df.filter(col("k") === 1050L).count() === 1L)
    assert(fi.lastExecution.get.route === Seq("rowlevel(k)"),
      s"grew stale: ${fi.lastExecution.get.route}")
    assert(df.filter(col("k") === 50L).count() === 1L)
    // precise: a point key lives in exactly one row group of the 4 files
    assert(fi.lastExecution.get.scannedRowGroups === 1)
    index.close()
  }

  test("rowLevelRowNumbers maintenance keeps id->row fetches exact as batches land") {
    import spark.implicits._
    val base = tempDir("graft-sink-rownum")
    val dataDir = s"$base/data"
    val rowIdx = s"$base/rowidx-k"
    new java.io.File(dataDir).mkdirs()
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("p", LongType)))
    val index = new DerbyStatsIndex(s"$base/db", schema)
    index.initialize(schema)
    val hconf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val rowLevel = Map("k" -> rowIdx)
    def commit(ks: Seq[Long], batchId: Long): Unit =
      IndexedSink.commitBatch(
        ks.map(k => (k, k * 10)).toDF("k", "p").repartition(2),
        batchId, dataDir, index, Seq("k"), hconf, rowLevel,
        rowLevelRowNumbers = true)
    commit(0L until 100L, 0L)
    commit(1000L until 1100L, 1L)
    // ground truth: the maintained postings equal Spark's own
    // _metadata.row_index over the grown table, per key
    val truth = spark.read.parquet(dataDir)
      .select(col("k"), col("_metadata.file_name").as("f"),
        col("_metadata.row_index").as("rn"))
      .collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.map(r => (r.getString(1), r.getLong(2))).toSet).toMap
    Seq(0L, 50L, 1050L, 1099L).foreach { k =>
      val got = graft.index.RowLevelIndex
        .postingsRows(rowIdx, Seq(Long.box(k))).get
        .toSeq.flatMap { case (f, prs) => prs.map { case (_, rn) => (f, rn) } }
        .toSet
      assert(got == truth(k), s"key $k")
    }
    // fetch across batches at row precision
    val got = graft.index.RowLevelIndex.fetchRows(
      spark, dataDir, rowIdx, index.allFiles(), schema, "k",
      Seq(50L, 1050L).map(Long.box))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(got == Seq((50L, 500L), (1050L, 10500L)))
    // a REPLAYED batch (same id, different partitioning => same-name file
    // rewrite) leaves at worst stale extra postings: fetch stays exact
    IndexedSink.commitBatch(
      (1000L until 1100L).map(k => (k, k * 10)).toDF("k", "p").repartition(3),
      1L, dataDir, index, Seq("k"), hconf, rowLevel,
      rowLevelRowNumbers = true)
    val replayed = graft.index.RowLevelIndex.fetchRows(
      spark, dataDir, rowIdx, index.allFiles(), schema, "k",
      Seq(50L, 1050L).map(Long.box))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(replayed == Seq((50L, 500L), (1050L, 10500L)),
      "replay with a repartitioned batch broke the row fetch")
    index.close()
  }
}
