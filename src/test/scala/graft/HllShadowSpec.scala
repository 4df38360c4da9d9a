package graft

import graft.index.{FooterStats, HllShadow, RowLevelIndex}
import graft.sources.IndexedParquet
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths}

/** Per-row-group HLL ledger (index/HllShadow.scala, r15): estimator
  * accuracy, merge-is-union, end-to-end catalog estimates with coverage
  * certification (fail closed on any unsketched selected group), null
  * skipping, subset composition, and re-index staleness.
  */
class HllShadowSpec extends SparkSpec {

  private val rnd = new scala.util.Random(20260815L)

  test("estimator tracks true cardinality across regimes (ideal hashes)") {
    // random 64-bit longs ARE the idealized hash; rse = 1.04/sqrt(2048)
    // ≈ 2.3%, asserted at 4 sigma plus a small absolute floor for the
    // linear-counting regime
    for (n <- Seq(1, 100, 2500, 40000, 400000)) {
      val regs = new Array[Byte](HllShadow.M)
      (1 to n).foreach(_ => HllShadow.add(regs, rnd.nextLong()))
      val est = HllShadow.estimate(regs)
      val tol = math.max(4, (n * 0.092).toLong)
      assert(math.abs(est - n) <= tol, s"n=$n est=$est")
    }
    // empty sketch estimates exactly zero
    assert(HllShadow.estimate(new Array[Byte](HllShadow.M)) == 0L)
  }

  test("merge is union: sketch(A) max sketch(B) equals sketch(A ++ B)") {
    val a = Array.fill(5000)(rnd.nextLong())
    val b = Array.fill(5000)(rnd.nextLong())
    val ra = new Array[Byte](HllShadow.M)
    val rb = new Array[Byte](HllShadow.M)
    val rab = new Array[Byte](HllShadow.M)
    a.foreach(HllShadow.add(ra, _))
    b.foreach(HllShadow.add(rb, _))
    (a ++ b).foreach(HllShadow.add(rab, _))
    HllShadow.merge(ra, rb)
    assert(ra.sameElements(rab), "merged registers diverge from the union's")
  }

  // fixture: 2 files x 2 row groups of 100 rows; k has 300 distincts
  // overall (200 in file 0), s has 50 distincts with 1/4 nulls, z is
  // all-null
  private lazy val env = {
    val base = tempDir("graft-hll")
    val dir = s"$base/data"
    Files.createDirectories(Paths.get(dir))
    import spark.implicits._
    (0 until 2).foreach { fi =>
      val rows = (0 until 200).map { j =>
        val i = fi * 200 + j
        (i % 300, if (i % 4 == 0) None else Some(s"s${i % 50}"),
          None: Option[Long])
      }
      val tmp = s"$base/tmp-$fi"
      rows.toDF("k", "s", "z").coalesce(1)
        .write.option("parquet.block.row.count.limit", "100")
        .mode("overwrite").parquet(tmp)
      val part = Files.list(Paths.get(tmp)).toArray.map(_.asInstanceOf[Path])
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, Paths.get(dir, s"f$fi.parquet"))
    }
    val (index, schema) =
      IndexedParquet.buildIndex(spark, dir, Seq("k", "s", "z"), s"$base/hlldb")
    index.rebuildHll(spark, dir, index.allFiles(), schema, Seq("k", "s", "z"))
    (dir, index, schema)
  }

  test("catalog estimate matches exact NDV within bound; nulls skipped") {
    val (dir, index, _) = env
    val plain = spark.read.parquet(dir)
    def exact(c: String): Long =
      plain.agg(countDistinct(col(c))).collect()(0).getLong(0)
    // k: 300 distinct; s: 50 distinct (nulls skipped); z: all-null -> 0
    for ((c, want) <- Seq("k" -> exact("k"), "s" -> exact("s"), "z" -> 0L)) {
      val est = index.approxDistinct(c)
        .getOrElse(fail(s"$c: sketches built but estimate declined"))
      val tol = math.max(4, (want * 0.092).toLong)
      assert(math.abs(est - want) <= tol, s"$c: est=$est exact=$want")
    }
  }

  test("a plan subset estimates just its groups' NDV (merge composes)") {
    val (dir, index, _) = env
    val f0 = index.allFiles().filter(_.fileName == "f0.parquet")
    assert(f0.map(_.scanRowGroups.size).sum == 2)
    val est = index.approxDistinct("k", Some(f0)).get
    val want = spark.read.parquet(s"$dir/f0.parquet")
      .agg(countDistinct(col("k"))).collect()(0).getLong(0)
    val tol = math.max(4, (want * 0.092).toLong)
    assert(math.abs(est - want) <= tol, s"est=$est exact=$want")
    // empty selection is exactly zero
    assert(index.approxDistinct("k",
      Some(f0.map(p => p.copy(scanRowGroups =
        scala.collection.immutable.SortedSet.empty[Int])))) == Some(0L))
  }

  test("coverage fails closed: unknown groups and unsketched rows decline") {
    val (dir, index, schema) = env
    // a plan naming a row group the catalog has no row for
    val ghost = index.allFiles().map(p =>
      p.copy(scanRowGroups = p.scanRowGroups + 99))
    assert(index.approxDistinct("k", Some(ghost)).isEmpty)
    // re-ingesting a file drops its catalog rows -> fresh rows carry no
    // sketch -> the estimate declines until the ledger is rebuilt
    val hconf = spark.sparkContext.hadoopConfiguration
    index.addFile(FooterStats.read(
      new org.apache.hadoop.fs.Path(s"$dir/f0.parquet"), hconf,
      Seq("k", "s", "z")))
    assert(index.approxDistinct("k").isEmpty,
      "stale sketch survived a re-index")
    val f0 = index.allFiles().filter(_.fileName == "f0.parquet")
    index.rebuildHll(spark, dir, f0, schema, Seq("k", "s", "z"))
    assert(index.approxDistinct("k").isDefined, "rebuild did not restore")
  }
}
