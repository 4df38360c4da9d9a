package graft

import graft.index.DerbyStatsIndex
import graft.sources.{Compaction, IndexedParquet}
import graft.streaming.IndexedSink
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.util.SerializableConfiguration

import java.nio.file.{Files, Paths}

/** The full table lifecycle the components compose into: streaming appends
  * that keep the catalog in sync (IndexedSink) → the table fragments into
  * many small batch files → one-job compaction rewrites them → incremental
  * re-ingest (footer upsert) + `retainOnly` of the replaced names bring
  * the catalog back in step → the indexed relation keeps serving exact,
  * pruned reads — and streaming resumes on the compacted table. At 100 TB
  * every step is O(changed files), never O(table): per-batch footer
  * ingest, one clustered rewrite job, per-file catalog upserts, one
  * catalog-sweep delete.
  */
class LifecycleSpec extends SparkSpec {

  test("stream → compact → re-ingest → prune keeps the catalog exact end to end") {
    import spark.implicits._
    val base = tempDir("graft-lifecycle")
    val dataDir = s"$base/data"
    new java.io.File(dataDir).mkdirs()
    val schema = StructType(Seq(StructField("k", LongType)))
    val index = new DerbyStatsIndex(s"$base/db", schema)
    index.initialize(schema)
    val hconf = new SerializableConfiguration(spark.sparkContext.hadoopConfiguration)

    // --- streaming phase: 3 batches, 4 small part files each ---------------
    (0 until 3).foreach { b =>
      val rows = (b * 100L until (b + 1) * 100L).toDF("k").repartition(4)
      IndexedSink.commitBatch(rows, b.toLong, dataDir, index, Seq("k"), hconf)
    }
    assert(index.totalRowCount() === Some(300L))
    assert(index.allFiles().size === 12)

    // --- compaction + catalog maintenance in one call ----------------------
    // compactIndexed rewrites the bins in one job, then does O(changed)
    // catalog work: keyed delete of the removed originals + distributed
    // footer ingest of the files it wrote
    val bins = Compaction.compactIndexed(spark, dataDir, index, Seq("k"),
      targetBytes = 1L << 20, smallThresholdBytes = 1L << 20)
    assert(bins >= 1)
    val currentPaths = fileNames(dataDir).map(n => s"$dataDir/$n")
    assert(currentPaths.size < 12, s"compaction must shrink: $currentPaths")
    assert(index.totalRowCount() === Some(300L))
    assert(index.allFiles().map(_.fileName).toSet ===
      currentPaths.map(new Path(_).getName).toSet)

    // --- the indexed relation serves the compacted table exactly -----------
    val (df, fi) = IndexedParquet.read(spark, dataDir, index, schema)
    assert(df.count() === 300L) // catalog-answered aggregate
    assert(df.filter(col("k").between(100L, 199L)).count() === 100L)
    assert(fi.lastExecution.get.scannedFiles.toSet
      .subsetOf(currentPaths.map(new Path(_).getName).toSet))
    assert(df.select(sum(col("k"))).collect().head.getLong(0) ===
      (0L until 300L).sum)

    // --- streaming resumes on the compacted table --------------------------
    IndexedSink.commitBatch((300L until 400L).toDF("k").repartition(2),
      3L, dataDir, index, Seq("k"), hconf)
    assert(index.totalRowCount() === Some(400L))
    val (df2, fi2) = IndexedParquet.read(spark, dataDir, index, schema)
    assert(df2.count() === 400L)
    // a point read over the freshly appended range prunes the compacted bulk
    assert(df2.filter(col("k") >= 350L).count() === 50L)
    val scanned = fi2.lastExecution.get.scannedFiles
    assert(scanned.forall(_.startsWith("b3-")),
      s"k>=350 must prune everything but batch 3: $scanned")
    index.close()
  }

  test("compaction + sink maintain blooms and postings — no degrade, no stale routing") {
    import spark.implicits._
    val base = tempDir("graft-lifecycle2")
    val dataDir = s"$base/data"
    new java.io.File(dataDir).mkdirs()
    val schema = StructType(Seq(StructField("k", LongType)))
    // bloom-carrying catalog + a row-level posting index, both maintained
    // incrementally by the sink and by compactIndexed
    val index = new DerbyStatsIndex(s"$base/db", schema, bloomCols = Set("k"))
    index.initialize(schema)
    val rowIdx = s"$base/rowidx"
    val hconf = new SerializableConfiguration(spark.sparkContext.hadoopConfiguration)

    // SPARSE keys (multiples of 17), hash-spread over 4 parts per batch so
    // every part's min/max spans ~the whole batch range — range stats
    // cannot prune an in-range probe; only blooms/postings can
    (0 until 3).foreach { b =>
      val rows = (b * 100L until (b + 1) * 100L).map(_ * 17L).toDF("k").repartition(4)
      IndexedSink.commitBatch(rows, b.toLong, dataDir, index, Seq("k"), hconf,
        rowLevel = Map("k" -> rowIdx))
    }

    def bloomKept(key: Long): Int = {
      val pred = graft.sources.RowGroupSkipScan.resolvePredicate(
        spark, schema, col("k") === key)
      index.getFiles(pred).map(_.scanRowGroups.size).sum
    }
    // 1701 is inside batch 1's [1700, 3383] range but absent (not a
    // multiple of 17): min/max keeps batch 1's parts, the sink-attached
    // blooms prune them all (deterministic fixture — not a flaky fpp draw)
    assert(bloomKept(1700L) >= 1, "existing key must survive its own bloom")
    assert(bloomKept(1701L) === 0,
      "sink-maintained blooms must prune an absent in-range key")

    // routing is posting-exact on the streamed table (coverage manifest
    // grew batch by batch — no staleness degrade)
    val (df1, fi1) = IndexedParquet.read(spark, dataDir, index, schema,
      rowLevelIndexes = Map("k" -> rowIdx))
    assert(df1.filter(col("k") === 1700L).count() === 1L)
    assert(fi1.lastExecution.get.route === Seq("rowlevel(k)"))
    assert(fi1.lastExecution.get.scannedRowGroups === 1)

    // --- compaction maintains all three layers in the same call ------------
    val bins = Compaction.compactIndexed(spark, dataDir, index, Seq("k"),
      targetBytes = 1L << 20, smallThresholdBytes = 1L << 20,
      rowLevel = Map("k" -> rowIdx))
    assert(bins >= 1)
    assert(fileNames(dataDir).size < 12, "compaction must shrink the file set")

    // blooms were rebuilt for the compacted files: the absent key still
    // prunes to zero even though every original file (and its bloom) is gone
    assert(bloomKept(1701L) === 0,
      "compacted files must carry fresh blooms, not NULL might-match")
    assert(bloomKept(1700L) >= 1)

    // postings + coverage were appended for the compacted files: routing
    // stays precise instead of tripping the staleness guard
    val (df2, fi2) = IndexedParquet.read(spark, dataDir, index, schema,
      rowLevelIndexes = Map("k" -> rowIdx))
    assert(df2.filter(col("k") === 1700L).count() === 1L)
    assert(fi2.lastExecution.get.route === Seq("rowlevel(k)"),
      s"routing degraded after compaction: ${fi2.lastExecution.get.route}")
    assert(df2.count() === 300L)

    // --- streaming resumes; automatic top-k reads only the newest batch ---
    // "latest 5" over the compacted-then-grown table: the rule certifies
    // its threshold from the per-batch-ingested footer stats and prunes
    // the compacted bulk entirely — the time-series serving pattern the
    // whole maintenance loop exists for
    IndexedSink.commitBatch(
      (300L until 400L).map(_ * 17L).toDF("k").repartition(4),
      3L, dataDir, index, Seq("k"), hconf, rowLevel = Map("k" -> rowIdx))
    val (df3, fi3) = IndexedParquet.read(spark, dataDir, index, schema,
      rowLevelIndexes = Map("k" -> rowIdx))
    val top = df3.orderBy(col("k").desc).limit(5).collect().map(_.getLong(0)).toSeq
    assert(top === Seq(399L, 398L, 397L, 396L, 395L).map(_ * 17L))
    val exec3 = fi3.lastExecution.get
    assert(exec3.route === Seq("topk(k)"),
      s"top-k rule did not fire on the maintained table: ${exec3.route}")
    assert(exec3.scannedFiles.forall(_.startsWith("b3-")),
      s"latest-k must prune the compacted bulk: ${exec3.scannedFiles}")
    index.close()
  }

  test("merge and delete compose with the maintained catalog — routing stays precise") {
    import spark.implicits._
    val base = tempDir("graft-lifecycle3")
    val dataDir = s"$base/data"
    new java.io.File(dataDir).mkdirs()
    val dataSchema = StructType(Seq(
      StructField("k", LongType), StructField("v", LongType)))
    val indexSchema = StructType(Seq(StructField("k", LongType)))
    val index = new DerbyStatsIndex(s"$base/db", indexSchema)
    index.initialize(indexSchema)
    val rowIdx = s"$base/rowidx"
    val hconf = new SerializableConfiguration(spark.sparkContext.hadoopConfiguration)

    // stream in 3 batches of sparse keys, then compact — the maintained
    // starting state every long-lived table reaches
    (0 until 3).foreach { b =>
      val rows = (b * 100L until (b + 1) * 100L).map(i => (i * 17L, i)).toDF("k", "v")
        .repartition(4)
      IndexedSink.commitBatch(rows, b.toLong, dataDir, index, Seq("k"), hconf,
        rowLevel = Map("k" -> rowIdx))
    }
    Compaction.compactIndexed(spark, dataDir, index, Seq("k"),
      targetBytes = 1L << 20, smallThresholdBytes = 1L << 20,
      rowLevel = Map("k" -> rowIdx))

    // MERGE: two updates (v := -1) + three inserts, located via postings
    val source = (Seq((170L, -1L), (3400L, -1L)) ++
      (0 until 3).map(i => (100000L + i, 7L))).toDF("k", "v")
    val rm = graft.sources.MergeUpsert.merge(spark, dataDir, source, "k",
      Some(index), Seq("k"), Some(rowIdx))
    assert(rm.matchedFiles.nonEmpty)
    assert(index.totalRowCount() === Some(303L))
    assert(index.allFiles().map(_.fileName).toSet === fileNames(dataDir).toSet)

    // routing stays posting-exact on the merged table; the update is live
    val (df1, fi1) = IndexedParquet.read(spark, dataDir, index, dataSchema,
      rowLevelIndexes = Map("k" -> rowIdx))
    assert(df1.filter(col("k") === 170L).select("v").as[Long].collect().toSeq
      === Seq(-1L))
    assert(fi1.lastExecution.get.route === Seq("rowlevel(k)"),
      s"routing degraded after merge: ${fi1.lastExecution.get.route}")

    // DELETE: one original key, one merged-in key
    val rd = graft.sources.MergeUpsert.delete(spark, dataDir,
      Seq(3400L, 100001L).toDF("k"), "k",
      Some(index), Seq("k"), Some(rowIdx))
    assert(rd.matchedFiles.nonEmpty)
    assert(index.totalRowCount() === Some(301L))
    val (df2, fi2) = IndexedParquet.read(spark, dataDir, index, dataSchema,
      rowLevelIndexes = Map("k" -> rowIdx))
    assert(df2.filter(col("k") === 3400L).count() === 0L)
    assert(df2.count() === 301L)
    assert(index.allFiles().map(_.fileName).toSet === fileNames(dataDir).toSet)
    index.close()
  }

  private def fileNames(dir: String): Seq[String] =
    Files.list(Paths.get(dir)).toArray
      .map(_.asInstanceOf[java.nio.file.Path].getFileName.toString)
      .filter(_.endsWith(".parquet")).toSeq
}
