package graft

import graft.sources.{IndexedParquet, ZOrderLayout}
import org.apache.spark.sql.functions._


/** Z-order clustering (sources/ZOrderLayout): Morton-code correctness of
  * the pure-expression bit interleave, and the layout's point — for a 2-d
  * BOX predicate the stats index prunes strictly more row groups over the
  * z-clustered layout than over a single-column range-clustered layout of
  * the SAME data, while results stay layout-invariant.
  */
class ZOrderSpec extends SparkSpec {

  test("zValue interleaves bits (known Morton codes)") {
    import spark.implicits._
    val df = Seq(
      (0L, 0L), (1L, 0L), (0L, 1L), (1L, 1L), (3L, 3L), (5L, 2L),
      (0xFFFFFFFFL, 0L), (-7L, 4L))
      .toDF("a", "b")
      .select(ZOrderLayout.zValue(col("a"), col("b")).as("z"))
    val z = df.collect().map(_.getLong(0)).toSeq
    // spread(5)=0b10001, spread(2)<<1=0b01000 → 0b11001 = 25
    // negatives clamp to 0: z(-7,4) = z(0,4) = spread(4)<<1 = 32
    assert(z === Seq(0L, 1L, 2L, 3L, 15L, 25L, 0x5555555555555555L, 32L))
  }

  test("z-curve locality: consecutive codes decode to nearby points") {
    import spark.implicits._
    // within one 4x4 tile the curve's worst step is the quadrant jump
    // (3,1)→(0,2): Manhattan distance 4 — never worse
    val pts = for (a <- 0 until 4; b <- 0 until 4) yield (a.toLong, b.toLong)
    val sorted = pts.toDF("a", "b")
      .withColumn("z", ZOrderLayout.zValue(col("a"), col("b")))
      .orderBy("z").collect().map(r => (r.getLong(0), r.getLong(1)))
    sorted.sliding(2).foreach { case Array((a1, b1), (a2, b2)) =>
      assert(math.abs(a1 - a2) + math.abs(b1 - b2) <= 4)
    }
  }

  test("zValue is injective and monotone along each axis (exhaustive 64x64)") {
    import spark.implicits._
    val pts = for (a <- 0 until 64; b <- 0 until 64) yield (a.toLong, b.toLong)
    val z = pts.toDF("a", "b")
      .select(col("a"), col("b"), ZOrderLayout.zValue(col("a"), col("b")).as("z"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(z.values.toSet.size === pts.size) // injective
    for (b <- 0L until 64L; a <- 1L until 64L)
      assert(z((a - 1, b)) < z((a, b)), s"not monotone in a at ($a,$b)")
    for (a <- 0L until 64L; b <- 1L until 64L)
      assert(z((a, b - 1)) < z((a, b)), s"not monotone in b at ($a,$b)")
  }

  /** Same 8000-row grid written two ways: x-range-clustered vs z-ordered,
    * both with 100-row groups (80 row groups each), both stats-indexed. */
  private lazy val fx = {
    val base = tempDir("graft-zorder")
    import spark.implicits._
    val grid = (0 until 8000).map { i =>
      (i.toLong % 100L, i.toLong / 100L, i.toLong)
    }.toDF("x", "y", "payload")

    val rangeDir = s"$base/range"
    grid.repartitionByRange(4, col("x")).sortWithinPartitions("x")
      .write.option("parquet.block.row.count.limit", "100")
      .mode("overwrite").parquet(rangeDir)
    val (rIdx, rSchema) = IndexedParquet.buildIndex(
      spark, rangeDir, Seq("x", "y"), s"$base/rangedb")

    val zDir = s"$base/zorder"
    ZOrderLayout.write(grid, "x", "y", zDir, numFiles = 4, rowGroupRows = 100)
    val (zIdx, zSchema) = IndexedParquet.buildIndex(
      spark, zDir, Seq("x", "y"), s"$base/zorderdb")

    (IndexedParquet.read(spark, rangeDir, rIdx, rSchema),
      IndexedParquet.read(spark, zDir, zIdx, zSchema))
  }

  // wide in the range layout's sort dimension, narrow in the other — the
  // realistic shape a single-column sort cannot serve: its x-pruning is
  // diluted while every row group spans the full y domain
  private val box = col("x").between(10L, 79L) && col("y").between(10L, 19L)

  test("a 2-d box predicate prunes strictly more row groups on the z layout") {
    val ((rDf, rFi), (zDf, zFi)) = fx
    val expected = rDf.filter(box).count()
    assert(zDf.filter(box).count() === expected) // layout-invariant result
    assert(expected === 700L) // 70x10 box on the 100x80 grid
    val rKept = rFi.lastExecution.get.scannedRowGroups
    val zKept = zFi.lastExecution.get.scannedRowGroups
    // x-range layout: row groups span the full y domain, so only the x
    // bound prunes; z layout: row groups are key-space rectangles and both
    // bounds prune
    assert(zKept < rKept,
      s"z layout kept $zKept row groups, range layout kept $rKept")
    assert(zKept <= rKept / 2,
      s"expected a decisive improvement, got $zKept vs $rKept")
  }

  test("single-dimension predicates still prune on the z layout (no cliff)") {
    val ((rDf, _), (zDf, zFi)) = fx
    val expected = rDf.filter(col("x") === 42L).count()
    assert(zDf.filter(col("x") === 42L).count() === expected)
    val kept = zFi.lastExecution.get.scannedRowGroups
    val total = zFi.lastExecution.get.totalRowGroups
    // interleaving halves the per-group x resolution vs a pure x sort but
    // must still exclude most groups
    assert(kept < total / 2, s"kept $kept of $total row groups")
  }

  // ---- N-dimensional generalization + rank-binning -------------------------

  test("zValueN interleaves with stride 3 (known Morton-3 codes)") {
    import spark.implicits._
    val df = Seq(
      (0L, 0L, 0L), (1L, 0L, 0L), (0L, 1L, 0L), (0L, 0L, 1L),
      (1L, 1L, 1L), (2L, 0L, 0L), (3L, 3L, 3L), (-5L, 2L, 0L))
      .toDF("a", "b", "c")
      .select(ZOrderLayout.zValueN(Seq(col("a"), col("b"), col("c"))).as("z"))
    val z = df.collect().map(_.getLong(0)).toSeq
    // bit i of a → position 3i; of b → 3i+1; of c → 3i+2
    // z(2,0,0) = bit1 of a at position 3 = 8; z(3,3,3) = 0b111111 = 63
    // negatives clamp to 0: z(-5,2,0) = z(0,2,0) = bit1 of b at 4 = 16
    assert(z === Seq(0L, 1L, 2L, 4L, 7L, 8L, 63L, 16L))
  }

  test("zValueN(3) is injective and monotone per axis (exhaustive 16^3)") {
    import spark.implicits._
    val pts = for (a <- 0 until 16; b <- 0 until 16; c <- 0 until 16)
      yield (a.toLong, b.toLong, c.toLong)
    val z = pts.toDF("a", "b", "c")
      .select(col("a"), col("b"), col("c"),
        ZOrderLayout.zValueN(Seq(col("a"), col("b"), col("c"))).as("z"))
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1), r.getLong(2)), r.getLong(3))).toMap
    assert(z.values.toSet.size === pts.size)
    for (b <- 0L until 16L; c <- 0L until 16L; a <- 1L until 16L)
      assert(z((a - 1, b, c)) < z((a, b, c)))
    for (a <- 0L until 16L; c <- 0L until 16L; b <- 1L until 16L)
      assert(z((a, b - 1, c)) < z((a, b, c)))
    for (a <- 0L until 16L; b <- 0L until 16L; c <- 1L until 16L)
      assert(z((a, b, c - 1)) < z((a, b, c)))
  }

  test("oversized values saturate into the bit budget (no wrap-around)") {
    import spark.implicits._
    // 3 dims → 21 bits each; 2^21 and beyond must clamp to 2^21-1, never
    // wrap to a SMALLER code than an in-budget value
    val max21 = (1L << 21) - 1
    val z = Seq((max21, 0L, 0L), (1L << 21, 0L, 0L), (Long.MaxValue, 0L, 0L))
      .toDF("a", "b", "c")
      .select(ZOrderLayout.zValueN(Seq(col("a"), col("b"), col("c"))).as("z"))
      .collect().map(_.getLong(0)).toSeq
    assert(z(1) === z(0) && z(2) === z(0), s"overflow must saturate: $z")
  }

  test("rankBin: dense monotone buckets from one quantile pass") {
    import spark.implicits._
    // heavily skewed double column: 90% mass at small values
    val vals = (0 until 1000).map(i => if (i < 900) i / 100.0 else (i - 890) * 50.0)
    val df = vals.toDF("v")
    val bounds = ZOrderLayout.rankBoundaries(df, "v", 16)
    assert(bounds.size <= 15 && bounds === bounds.sorted)
    val binned = df.select(col("v"), ZOrderLayout.rankBin(col("v"), bounds).as("bin"))
      .collect().map(r => (r.getDouble(0), r.getLong(1)))
    // monotone in the raw value
    binned.sortBy(_._1).map(_._2).sliding(2).foreach {
      case Array(b1, b2) => assert(b1 <= b2)
      case _             =>
    }
    // dense: every bin id in [0, bounds.size] is hit (skew equalized)
    val used = binned.map(_._2).toSet
    assert(used === (0L to bounds.size.toLong).toSet,
      s"bins not dense: ${used.toSeq.sorted}")
  }

  /** 20x20x20 grid written as a 2-d z layout (x,y) vs a 3-d z layout
    * (x,y,w): for a 3-d box only the 3-d layout's row groups are compact
    * in w, so it prunes strictly more. */
  private lazy val fx3 = {
    val base = tempDir("graft-zorder3")
    import spark.implicits._
    val grid = (0 until 8000).map { i =>
      (i.toLong % 20L, (i.toLong / 20L) % 20L, i.toLong / 400L, i.toLong)
    }.toDF("x", "y", "w", "payload")

    val z2Dir = s"$base/z2"
    ZOrderLayout.writeN(grid, Seq("x", "y"), z2Dir, numFiles = 4, rowGroupRows = 100)
    val (i2, s2) = IndexedParquet.buildIndex(spark, z2Dir, Seq("x", "y", "w"), s"$base/z2db")

    val z3Dir = s"$base/z3"
    ZOrderLayout.writeN(grid, Seq("x", "y", "w"), z3Dir, numFiles = 4, rowGroupRows = 100)
    val (i3, s3) = IndexedParquet.buildIndex(spark, z3Dir, Seq("x", "y", "w"), s"$base/z3db")

    (IndexedParquet.read(spark, z2Dir, i2, s2),
      IndexedParquet.read(spark, z3Dir, i3, s3))
  }

  test("a 3-d box prunes strictly more row groups on the 3-d layout") {
    val ((df2, fi2), (df3, fi3)) = fx3
    val box3 = col("x").between(2L, 7L) && col("y").between(2L, 7L) &&
      col("w").between(2L, 7L)
    val expected = df2.filter(box3).count()
    assert(df3.filter(box3).count() === expected)
    assert(expected === 216L) // 6^3 box on the 20^3 grid
    val kept2 = fi2.lastExecution.get.scannedRowGroups
    val kept3 = fi3.lastExecution.get.scannedRowGroups
    assert(kept3 < kept2,
      s"3-d layout kept $kept3 row groups, 2-d layout kept $kept2")
  }

  test("zo2_zorder_3col end-to-end: 3-d layout + rank-binned float matches plain") {
    val dir = sf("sf0.001")
    val q = SparkEntry.registry.find(_.name == "zo2_zorder_3col").get
    val via = q.fn(spark, dir).orderBy("l_returnflag").collect().toSeq
    val plain = graft.Tables.load(spark, dir, "lineitem")
      .filter(col("l_orderkey").between(200L, 399L) &&
        col("l_partkey").between(40L, 119L) &&
        col("l_extendedprice").between(20000.0, 45000.0))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), sum(col("l_linenumber").cast("long")).as("sln"))
      .orderBy("l_returnflag").collect().toSeq
    assert(via === plain)
    assert(via.nonEmpty)
  }

  test("zo1_zorder_2col end-to-end: indexed z layout matches the plain table") {
    val dir = sf("sf0.001")
    val q = SparkEntry.registry.find(_.name == "zo1_zorder_2col").get
    val viaZ = q.fn(spark, dir).orderBy("l_returnflag").collect().toSeq
    val plain = graft.Tables.load(spark, dir, "lineitem")
      .filter(col("l_orderkey").between(200L, 299L) &&
        col("l_partkey").between(40L, 79L))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), sum(col("l_linenumber").cast("long")).as("sln"))
      .orderBy("l_returnflag").collect().toSeq
    assert(viaZ === plain)
    assert(viaZ.nonEmpty)
  }
}
