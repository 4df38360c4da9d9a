package graft

import graft.sources.{Compaction, IndexedParquet}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}

/** Compaction must preserve data exactly, reduce file count, and compose
  * with incremental re-indexing (upsert + retention). */
class CompactionSpec extends SparkSpec {

  test("bin-packing: big files untouched, singleton bins skipped") {
    val p = Compaction.plan(
      Seq("a" -> 10L, "b" -> 10L, "c" -> 10L, "big" -> 100L, "lone" -> 25L),
      targetBytes = 30L, smallThresholdBytes = 30L)
    assert(p.untouched.contains("big"))
    assert(p.bins.flatten.toSet ++ p.untouched.toSet ==
      Set("a", "b", "c", "big", "lone"))
    assert(p.bins.forall(_.size > 1))
  }

  private def writeTinyFiles(dir: String, base: String, n: Int, offset: Int = 0): Unit = {
    import spark.implicits._
    Files.createDirectories(Paths.get(dir))
    (1 to n).foreach { fi =>
      val tmp = s"$base/tmp-${offset + fi}"
      (0 until 50).map(v => (v + (offset + fi) * 1000, s"r$v")).toDF("k", "s").coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      val part = Files.list(Paths.get(tmp)).toArray
        .map(_.asInstanceOf[java.nio.file.Path])
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, Paths.get(dir, s"f${offset + fi}.parquet"))
    }
  }

  test("the rewrite is ONE Spark job regardless of bin count") {
    val base = tempDir("graft-compact-1job")
    val dir = s"$base/data"
    writeTinyFiles(dir, base, 8)
    val before = spark.read.parquet(dir).orderBy("k").collect().toSeq
    // force >= 4 bins: each tiny file is ~1 KB, target fits 2 per bin
    val oneFile = Files.size(Paths.get(dir, "f1.parquet"))
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val bins = Compaction.compact(spark, dir,
        targetBytes = oneFile * 2 + 16, smallThresholdBytes = 1L << 20)
      assert(bins >= 3, s"expected several bins, got $bins")
      // listener events are async — wait for the count to settle
      val deadline = System.nanoTime() + 5L * 1000 * 1000 * 1000
      var last = -1
      while (jobs.get() != last && System.nanoTime() < deadline) {
        last = jobs.get(); Thread.sleep(200)
      }
      // the whole rewrite — every bin — is one clustered partitioned-write
      // pass: AQE may execute it as shuffle-stage + result (2 jobs), but
      // the count is O(1), never one job PER BIN like a driver loop
      // (schema comes from one driver-side footer read, no inference job)
      assert(jobs.get() <= 2, s"compact ran ${jobs.get()} jobs for $bins bins")
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(spark.read.parquet(dir).orderBy("k").collect().toSeq === before)
  }

  test("a second pass never renames over survivors of the first") {
    val base = tempDir("graft-compact-2pass")
    val dir = s"$base/data"
    writeTinyFiles(dir, base, 4)
    assert(Compaction.compact(spark, dir,
      targetBytes = 1L << 20, smallThresholdBytes = 1L << 20) === 1)
    val afterFirst = spark.read.parquet(dir).orderBy("k").collect().toSeq
    // grow the table: 4 more tiny files next to compacted-00000.parquet;
    // the second pass may bin the first pass's output together with them —
    // its output name must continue the numbering, never clobber
    writeTinyFiles(dir, base, 4, offset = 4)
    assert(Compaction.compact(spark, dir,
      targetBytes = 1L << 20, smallThresholdBytes = 1L << 20) >= 1)
    val names = Files.list(Paths.get(dir)).toArray
      .map(_.asInstanceOf[java.nio.file.Path].getFileName.toString)
      .filter(_.endsWith(".parquet")).toSeq
    assert(names.distinct.size === names.size)
    val all = spark.read.parquet(dir).orderBy("k").collect().toSeq
    assert(all.size === 400, s"rows lost: ${all.size} of 400")
    assert(all.take(200) === afterFirst)
  }

  test("compaction preserves data and the index stays correct after re-build") {
    val base = tempDir("graft-compact")
    val dir = s"$base/data"
    Files.createDirectories(Paths.get(dir))
    import spark.implicits._
    // 6 tiny files + nothing big
    (1 to 6).foreach { fi =>
      val tmp = s"$base/tmp-$fi"
      (0 until 50).map(v => (v + fi * 1000, s"r$v")).toDF("k", "s").coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      val part = Files.list(Paths.get(tmp)).toArray
        .map(_.asInstanceOf[java.nio.file.Path])
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, Paths.get(dir, s"f$fi.parquet"))
    }
    val before = spark.read.parquet(dir).orderBy("k").collect().toSeq

    val bins = Compaction.compact(spark, dir,
      targetBytes = 1L << 20, smallThresholdBytes = 1L << 20)
    assert(bins >= 1)
    val filesAfter = Files.list(Paths.get(dir)).toArray
      .map(_.asInstanceOf[java.nio.file.Path].getFileName.toString)
      .filter(_.endsWith(".parquet"))
    assert(filesAfter.length < 6, s"expected fewer files, got ${filesAfter.toSeq}")

    val after = spark.read.parquet(dir).orderBy("k").collect().toSeq
    assert(after == before)

    // incremental re-index over the compacted layout stays sound
    val (index, schema) = IndexedParquet.buildIndex(spark, dir, Seq("k"), s"$base/db")
    val (df, fileIndex) = IndexedParquet.read(spark, dir, index, schema)
    assert(df.filter(col("k") === 3025).count() == 1)
    assert(fileIndex.lastExecution.get.scannedFiles.nonEmpty)
    assert(df.count() == 300)
  }

  test("compactIndexed rebuilds the shadow ledgers over the new files") {
    val base = tempDir("graft-compact-ledger")
    val dir = s"$base/data"
    Files.createDirectories(Paths.get(dir))
    import spark.implicits._
    (1 to 6).foreach { fi =>
      val tmp = s"$base/tmp-$fi"
      (0 until 50).map(v => (v + fi * 1000, s"r$v")).toDF("k", "s").coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      val part = Files.list(Paths.get(tmp)).toArray
        .map(_.asInstanceOf[java.nio.file.Path])
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, Paths.get(dir, s"f$fi.parquet"))
    }
    val (index, schema) = IndexedParquet.buildIndex(spark, dir, Seq("k"), s"$base/db")
    index.rebuildHll(spark, dir, index.allFiles(), schema, Seq("k"))
    index.rebuildQuantiles(spark, dir, index.allFiles(), schema, Seq("k"))
    assert(index.approxDistinct("k").isDefined)
    assert(index.approxQuantiles("k", Seq(0.5)).isDefined)

    val bins = Compaction.compactIndexed(spark, dir, index, Seq("k"),
      targetBytes = 1L << 20, smallThresholdBytes = 1L << 20,
      hllShadowCols = Seq("k"), quantileShadowCols = Seq("k"))
    assert(bins >= 1)
    // the re-ingest wiped the rewritten files' ledgers; the maintenance
    // hook must have rebuilt them — both estimates keep serving
    val ndv = index.approxDistinct("k")
      .getOrElse(fail("NDV declined after a maintained compaction"))
    assert(math.abs(ndv - 300L) <= math.max(4L, (300 * 0.092).toLong))
    val Seq(p50) = index.approxQuantiles("k", Seq(0.5))
      .getOrElse(fail("quantile declined after a maintained compaction"))
    // k values: 1000..1049, 2000..2049, …, 6000..6049 — median ≈ 3025
    assert(p50 >= 2000 && p50 <= 4049, s"p50=$p50")
  }
}
