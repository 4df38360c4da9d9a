package graft

import graft.index.{FooterStats, QuantileShadow}
import graft.sources.IndexedParquet
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths}

/** Per-row-group quantile ledger (index/QuantileShadow.scala, r15): the
  * merged-summary rank bound, merge composition over subsets, NaN/null
  * exclusion, fail-closed coverage, and re-index staleness.
  */
class QuantileShadowSpec extends SparkSpec {

  private val rnd = new scala.util.Random(20260815L)

  test("merged summaries answer within the N/(2K) rank bound") {
    // 6 "row groups" of uneven sizes and disjoint-ish skewed
    // distributions — the merge must still pin every quantile's rank
    val groups = Seq(
      Array.fill(10000)(rnd.nextDouble() * 100),
      Array.fill(3000)(rnd.nextGaussian() * 10 + 500),
      Array.fill(17)(rnd.nextDouble()), // tiny group: n < K
      Array.fill(8000)(math.pow(rnd.nextDouble(), 4) * 1e6),
      Array.fill(1)(42.0),
      Array.fill(5000)(-rnd.nextDouble() * 50))
    val summaries = groups.map { g =>
      val s = g.clone(); java.util.Arrays.sort(s)
      QuantileShadow.summarize(s)
    }
    val all = groups.flatten.sorted
    val n = all.length
    for (q <- Seq(0.0, 0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99, 1.0)) {
      val est = QuantileShadow.quantile(summaries, q)
        .getOrElse(fail(s"q=$q declined on a non-empty merge"))
      // rank of the returned value in the true data
      val lo = all.indexWhere(_ >= est) match { case -1 => n case i => i }
      val hi = all.lastIndexWhere(_ <= est) + 1
      val target = q * n
      // bound: N/(2K) from the merge + one point of discretization slack
      // per group
      val tol = n.toDouble / (2 * QuantileShadow.K) + groups.size + 1
      assert(lo - tol <= target && target <= hi + tol,
        s"q=$q est=$est rank∈[$lo,$hi] target=$target tol=$tol")
    }
  }

  test("serialize/deserialize round-trips; empty input is the identity") {
    val pts = Array(1.5, 2.5, -3.25)
    val (p2, c2) = QuantileShadow.deserialize(QuantileShadow.serialize(pts, 77L))
    assert(p2.toSeq == pts.toSeq && c2 == 77L)
    val (e, c0) = QuantileShadow.summarize(Array.empty)
    assert(e.isEmpty && c0 == 0L)
    assert(QuantileShadow.quantile(Seq((e, c0)), 0.5).isEmpty)
  }

  // fixture: 2 files x 2 row groups of 100 rows; v uniform-ish doubles
  // with nulls and NaNs sprinkled, z all-null
  private lazy val env = {
    val base = tempDir("graft-qsk")
    val dir = s"$base/data"
    Files.createDirectories(Paths.get(dir))
    import spark.implicits._
    (0 until 2).foreach { fi =>
      val rows = (0 until 200).map { j =>
        val i = fi * 200 + j
        val v =
          if (i % 17 == 0) None
          else if (i % 23 == 0) Some(Double.NaN)
          else Some((i * 37 % 400).toDouble)
        (v, None: Option[Double], i.toLong)
      }
      val tmp = s"$base/tmp-$fi"
      rows.toDF("v", "z", "k").coalesce(1)
        .write.option("parquet.block.row.count.limit", "100")
        .mode("overwrite").parquet(tmp)
      val part = Files.list(Paths.get(tmp)).toArray.map(_.asInstanceOf[Path])
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, Paths.get(dir, s"f$fi.parquet"))
    }
    val (index, schema) =
      IndexedParquet.buildIndex(spark, dir, Seq("v", "z", "k"), s"$base/qskdb")
    index.rebuildQuantiles(spark, dir, index.allFiles(), schema,
      Seq("v", "z", "k"))
    (dir, index, schema)
  }

  test("catalog quantiles bracket the exact ones; nulls and NaN excluded") {
    val (dir, index, _) = env
    val plain = spark.read.parquet(dir).filter(col("v").isNotNull &&
      !isnan(col("v")))
    val exact = plain.agg(
        expr("percentile(v, array(0.4, 0.6, 0.85, 0.95))"))
      .collect()(0).getSeq[Double](0)
    val Seq(p50, p90) = index.approxQuantiles("v", Seq(0.5, 0.9))
      .getOrElse(fail("declined on a fully-summarized column"))
    assert(p50 >= exact(0) && p50 <= exact(1), s"p50=$p50 not in ±10% rank")
    assert(p90 >= exact(2) && p90 <= exact(3), s"p90=$p90 not in ±5% rank")
    // all-null column: population 0 ⇒ undefined ⇒ None (not a guess)
    assert(index.approxQuantiles("z", Seq(0.5)).isEmpty)
  }

  test("a plan subset answers just its groups; empty selection declines") {
    val (dir, index, _) = env
    val f0 = index.allFiles().filter(_.fileName == "f0.parquet")
    val Seq(est) = index.approxQuantiles("k", Seq(0.5), Some(f0)).get
    // f0 holds k = 0..199 exactly; its median must sit near 100
    assert(est >= 80 && est <= 120, s"f0 median=$est")
    val Seq(full) = index.approxQuantiles("k", Seq(0.5)).get
    assert(full >= 160 && full <= 240, s"full median=$full")
    assert(index.approxQuantiles("k", Seq(0.5),
      Some(f0.map(p => p.copy(scanRowGroups =
        scala.collection.immutable.SortedSet.empty[Int])))).isEmpty)
  }

  test("coverage fails closed; a re-index wipes summaries until rebuilt") {
    val (dir, index, schema) = env
    val ghost = index.allFiles().map(p =>
      p.copy(scanRowGroups = p.scanRowGroups + 99))
    assert(index.approxQuantiles("k", Seq(0.5), Some(ghost)).isEmpty)
    val hconf = spark.sparkContext.hadoopConfiguration
    index.addFile(FooterStats.read(
      new org.apache.hadoop.fs.Path(s"$dir/f0.parquet"), hconf,
      Seq("v", "z", "k")))
    assert(index.approxQuantiles("k", Seq(0.5)).isEmpty,
      "stale summary survived a re-index")
    val f0 = index.allFiles().filter(_.fileName == "f0.parquet")
    index.rebuildQuantiles(spark, dir, f0, schema, Seq("v", "z", "k"))
    assert(index.approxQuantiles("k", Seq(0.5)).isDefined,
      "rebuild did not restore")
  }
}
