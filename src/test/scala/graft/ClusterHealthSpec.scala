package graft

import graft.index.ClusterHealth
import graft.sources.IndexedParquet

import java.nio.file.{Files, Path, Paths}

/** Clustering-health metric (index/ClusterHealth, r15): exact overlap
  * degrees on hand-built layouts, the fail-closed ladder, and the
  * advisor thresholds.
  */
class ClusterHealthSpec extends SparkSpec {

  // one file, 4 row groups of 50 rows:
  //  - d: disjoint ranges (0-49, 50-99, 100-149, 150-199)  -> degree 1
  //  - o: identical ranges (every group spans 0..199)      -> degree 4
  //  - c: chained 50% overlap (0-99, 50-149, 100-199, 150-249) -> mean 2.5
  //  - z: all NULL                                          -> None
  //  - s: strings                                           -> declines
  private lazy val env = {
    val base = tempDir("graft-chealth")
    val dir = s"$base/data"
    Files.createDirectories(Paths.get(dir))
    import spark.implicits._
    val rows = (0 until 200).map { i =>
      val g = i / 50 // row group ordinal under the 50-row block limit
      val within = i % 50
      (i, // d: globally sorted => disjoint per group
        (i * 211) % 200, // o: pseudo-random => every group spans ~0..199
        g * 50 + within * 2, // c: group g spans [50g, 50g+98] ~ 50% overlap
        Option.empty[Long], // z
        s"s$i") // s
    }
    val tmp = s"$base/tmp"
    rows.toDF("d", "o", "c", "z", "s").coalesce(1)
      .sortWithinPartitions("d")
      .write.option("parquet.block.row.count.limit", "50")
      .mode("overwrite").parquet(tmp)
    val part = Files.list(Paths.get(tmp)).toArray.map(_.asInstanceOf[Path])
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.move(part, Paths.get(dir, "f0.parquet"))
    val (index, _) = IndexedParquet.buildIndex(
      spark, dir, Seq("d", "o", "c", "z", "s"), s"$base/db")
    index
  }

  test("disjoint ranges measure 1, identical ranges measure G") {
    val index = env
    val (dDeg, g) = ClusterHealth.overlapDegree(index, "d").get
    assert(g == 4)
    assert(dDeg == 1.0, s"disjoint degree $dDeg")
    val (oDeg, _) = ClusterHealth.overlapDegree(index, "o").get
    assert(oDeg == 4.0, s"identical-range degree $oDeg")
  }

  test("a 50%-overlap chain measures the exact sweep value") {
    val index = env
    // c group ranges: [0,98], [50,148], [100,198], [150,248] — each inner
    // group intersects 3 others? [0,98] hits [50,148] only among later;
    // overlaps: g0:{g0,g1}, g1:{g0,g1,g2}, g2:{g1,g2,g3}, g3:{g2,g3}
    // => (2+3+3+2)/4 = 2.5
    val (cDeg, _) = ClusterHealth.overlapDegree(index, "c").get
    assert(cDeg == 2.5, s"chain degree $cDeg")
  }

  test("all-NULL and string columns fail closed; advisor thresholds") {
    val index = env
    assert(ClusterHealth.overlapDegree(index, "z").isEmpty)
    assert(ClusterHealth.overlapDegree(index, "s").isEmpty)
    assert(ClusterHealth.wantsRecluster(index, "d").contains(false))
    assert(ClusterHealth.wantsRecluster(index, "o", threshold = 3.0)
      .contains(true))
    assert(ClusterHealth.wantsRecluster(index, "z").isEmpty)
  }
}
