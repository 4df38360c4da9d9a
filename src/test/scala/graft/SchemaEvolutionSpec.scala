package graft

import graft.sources.IndexedParquet
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}

/** Schema evolution under the external index: a directory holding files
  * written BEFORE a column existed next to files written after it must
  * (a) index under the union schema, (b) answer queries on the new column
  * exactly (old files contribute nulls), and (c) never prune an old file
  * on a new-column predicate — its stats for that column are absent, and
  * absent statistics are "might match" (the rewriter's unknown ⇒ keep
  * discipline, StatsPredicateRewriter.scala:19-22). This is the ALTER
  * TABLE ADD COLUMN lifecycle every long-lived 100 TB table goes through.
  */
class SchemaEvolutionSpec extends SparkSpec {

  private lazy val fx = {
    val base = tempDir("graft-evolve")
    val dir = s"$base/data"
    Files.createDirectories(Paths.get(dir))
    import spark.implicits._
    def move(tmp: String, name: String): Unit = {
      val part = Files.list(Paths.get(tmp)).toArray
        .map(_.asInstanceOf[java.nio.file.Path])
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, Paths.get(dir, name))
    }
    // epoch 1: (k, s) only — written before column v existed
    (0 until 100).map(i => (i.toLong, s"old-$i")).toDF("k", "s")
      .coalesce(1).write.mode("overwrite").parquet(s"$base/t1")
    move(s"$base/t1", "a-epoch1.parquet")
    // epoch 2: (k, s, v) — the evolved schema
    (100 until 200).map(i => (i.toLong, s"new-$i", i.toLong * 10L))
      .toDF("k", "s", "v")
      .coalesce(1).write.mode("overwrite").parquet(s"$base/t2")
    move(s"$base/t2", "b-epoch2.parquet")
    val (index, schema) = IndexedParquet.buildIndex(
      spark, dir, Seq("k", "v"), s"$base/db")
    (dir, index, schema)
  }

  test("buildIndex infers the UNION schema over an evolved directory") {
    val (_, _, schema) = fx
    assert(schema.fieldNames.toSet === Set("k", "s", "v"),
      s"single-footer inference dropped a column: ${schema.fieldNames.toSeq}")
  }

  test("queries on the evolved column are exact; old files read as null") {
    val (dir, index, schema) = fx
    val (df, _) = IndexedParquet.read(spark, dir, index, schema)
    assert(df.count() === 200L)
    assert(df.filter(col("v").isNull).count() === 100L) // the epoch-1 file
    assert(df.filter(col("v") === 1500L).count() === 1L)
    assert(df.filter(col("v") >= 1990L).count() === 1L)
    // conjunct across epochs: old column still prunes/filters normally
    assert(df.filter(col("k") < 100L && col("v").isNotNull).count() === 0L)
  }

  test("a new-column predicate never prunes the pre-evolution file") {
    val (dir, index, schema) = fx
    val (df, fi) = IndexedParquet.read(spark, dir, index, schema)
    df.filter(col("v") === 1500L).count()
    val scanned = fi.lastExecution.get.scannedFiles
    // epoch-1 stats for v are ABSENT -> might match -> must stay in the
    // plan (the scan's re-applied filter then drops its null rows)
    assert(scanned.contains("a-epoch1.parquet"),
      s"unknown stats must not prune: scanned only $scanned")
    assert(scanned.contains("b-epoch2.parquet"))
  }

  test("predicates on the old column still prune the evolved file set") {
    val (dir, index, schema) = fx
    val (df, fi) = IndexedParquet.read(spark, dir, index, schema)
    assert(df.filter(col("k") >= 150L).count() === 50L)
    val scanned = fi.lastExecution.get.scannedFiles
    assert(scanned === Seq("b-epoch2.parquet"),
      s"k >= 150 should prune the epoch-1 file: $scanned")
  }
}
