package graft

import graft.index.RowLevelIndex
import graft.sources.{IndexedParquet, MergeUpsert}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}

/** MERGE-by-key with index-pruned file rewrite: pins that (a) ONLY the
  * files containing matched keys are rewritten — the untouched bulk of
  * the table keeps its exact file bytes, (b) the merged content equals
  * the declarative merge semantics, (c) the catalog and posting coverage
  * stay consistent afterwards (pruned reads remain exact on the merged
  * table), and (d) a STALE posting index (not covering a live file)
  * forces the sound scan fallback instead of a silent wrong merge.
  */
class MergeUpsertSpec extends SparkSpec {
  import spark.implicits._

  /** Fresh 4-file table keyed 0..399, one file per 100-key range. */
  private def mkTable(base: String): String = {
    val dir = s"$base/data"
    (0 until 400).map(i => (i.toLong, s"v$i", i * 10L)).toDF("k", "s", "v")
      .repartitionByRange(4, col("k"))
      .write.mode("overwrite").parquet(dir)
    dir
  }

  private def names(dir: String): Set[String] =
    new java.io.File(dir).listFiles().map(_.getName)
      .filter(_.endsWith(".parquet")).toSet

  test("only files containing matched keys are rewritten; content is the declarative merge") {
    val base = Files.createTempDirectory("graft-merge").toString
    val dir = mkTable(base)
    val (index, schema) = IndexedParquet.buildIndex(spark, dir, Seq("k"), s"$base/db")
    try {
      RowLevelIndex.build(spark, dir, index.allFiles(), schema, "k", s"$base/pk")
      val before = names(dir)
      val sizesBefore = new java.io.File(dir).listFiles()
        .map(f => f.getName -> f.lastModified()).toMap
      // updates hit keys 5 and 17 (both in the first range file) plus
      // inserts 1000..1004 (match nothing)
      val source = (Seq((5L, "UP5", -1L), (17L, "UP17", -2L)) ++
        (1000L to 1004L).map(k => (k, s"NEW$k", k))).toDF("k", "s", "v")
      val r = MergeUpsert.merge(spark, dir, source, "k",
        Some(index), Seq("k"), Some(s"$base/pk"))

      // exactly one file contained keys 5 and 17
      assert(r.matchedFiles.size == 1, r)
      assert(r.untouchedFiles.toSet == before -- r.matchedFiles)
      // untouched files were not rewritten (same mtime)
      r.untouchedFiles.foreach { n =>
        assert(new java.io.File(dir, n).lastModified() == sizesBefore(n), n)
      }
      // declarative-merge content
      val got = spark.read.parquet(dir).as[(Long, String, Long)].collect().toSet
      val expected = (0 until 400).map(i => (i.toLong, s"v$i", i * 10L))
        .filterNot(t => t._1 == 5L || t._1 == 17L).toSet ++
        Set((5L, "UP5", -1L), (17L, "UP17", -2L)) ++
        (1000L to 1004L).map(k => (k, s"NEW$k", k)).toSet
      assert(got == expected)
      // catalog tracks exactly the live file set; pruned point read is exact
      assert(index.allFiles().map(_.fileName).toSet == names(dir))
      // posting coverage still spans every live file → routing stays certified
      val cov = RowLevelIndex.coveredFiles(s"$base/pk").get
      assert(names(dir).subsetOf(cov))
      // the posting index resolves a merged-in key to its new file
      val hit = RowLevelIndex.lookup(s"$base/pk", 1002L, index.allFiles())
      assert(hit.map(_.fileName).forall(r.newFiles.contains), hit.map(_.fileName))
    } finally index.close()
  }

  test("insert-only merge rewrites nothing") {
    val base = Files.createTempDirectory("graft-merge-ins").toString
    val dir = mkTable(base)
    val (index, schema) = IndexedParquet.buildIndex(spark, dir, Seq("k"), s"$base/db")
    try {
      RowLevelIndex.build(spark, dir, index.allFiles(), schema, "k", s"$base/pk")
      val before = names(dir)
      val source = Seq((9999L, "NEW", 0L)).toDF("k", "s", "v")
      val r = MergeUpsert.merge(spark, dir, source, "k",
        Some(index), Seq("k"), Some(s"$base/pk"))
      assert(r.matchedFiles.isEmpty)
      assert(before.subsetOf(names(dir)))
      assert(spark.read.parquet(dir).count() == 401)
    } finally index.close()
  }

  test("stale posting coverage forces the scan fallback — merge stays correct") {
    val base = Files.createTempDirectory("graft-merge-stale").toString
    val dir = mkTable(base)
    val (index, schema) = IndexedParquet.buildIndex(spark, dir, Seq("k"), s"$base/db")
    try {
      RowLevelIndex.build(spark, dir, index.allFiles(), schema, "k", s"$base/pk")
      // a file lands AFTER the posting build (append outside the sink path)
      Seq((5000L, "late", 1L)).toDF("k", "s", "v")
        .coalesce(1).write.mode("overwrite").parquet(s"$base/late")
      val part = new java.io.File(s"$base/late").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, Paths.get(dir, "zz-late.parquet"))
      // the locator must NOT trust the stale postings: key 5000 lives in
      // the uncovered file, and skipping its rewrite would duplicate it
      val source = Seq((5000L, "UPDATED", 2L)).toDF("k", "s", "v")
      val r = MergeUpsert.merge(spark, dir, source, "k",
        postingDir = Some(s"$base/pk"))
      assert(r.matchedFiles == Seq("zz-late.parquet"))
      val got = spark.read.parquet(dir).filter(col("k") === 5000L)
        .as[(Long, String, Long)].collect().toSeq
      assert(got == Seq((5000L, "UPDATED", 2L)))
    } finally index.close()
  }

  test("delete-by-key rewrites only matched files; fully-deleted files disappear") {
    val base = Files.createTempDirectory("graft-merge-del").toString
    val dir = mkTable(base)
    val (index, schema) = IndexedParquet.buildIndex(spark, dir, Seq("k"), s"$base/db")
    try {
      RowLevelIndex.build(spark, dir, index.allFiles(), schema, "k", s"$base/pk")
      val before = names(dir)
      // the whole first range file (keys 0..99) plus one key from the second
      val doomed = ((0L until 100L) :+ 150L).toDF("k")
      val r = MergeUpsert.delete(spark, dir, doomed, "k",
        Some(index), Seq("k"), Some(s"$base/pk"))
      assert(r.matchedFiles.size == 2, r)
      assert(r.untouchedFiles.toSet == before -- r.matchedFiles)
      val got = spark.read.parquet(dir).select("k").as[Long].collect().toSet
      assert(got == (100L until 400L).toSet - 150L)
      // catalog tracks exactly the live files (one rewritten survivor file,
      // two untouched; the all-deleted bin produced no replacement)
      assert(index.allFiles().map(_.fileName).toSet == names(dir))
    } finally index.close()
  }

  test("sequential merges compose (numbering never collides)") {
    val base = Files.createTempDirectory("graft-merge-seq").toString
    val dir = mkTable(base)
    val r1 = MergeUpsert.merge(spark, dir,
      Seq((1L, "a1", 0L)).toDF("k", "s", "v"), "k")
    val r2 = MergeUpsert.merge(spark, dir,
      Seq((1L, "a2", 0L), (2L, "b2", 0L)).toDF("k", "s", "v"), "k")
    assert(r1.newFiles.intersect(r2.newFiles).isEmpty)
    val got = spark.read.parquet(dir)
      .filter(col("k") <= 2L).select("k", "s")
      .as[(Long, String)].collect().toSet
    assert(got == Set((0L, "v0"), (1L, "a2"), (2L, "b2")))
  }
}
