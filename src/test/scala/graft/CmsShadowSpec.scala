package graft

import graft.index.{CmsShadow, FooterStats}
import graft.sources.IndexedParquet
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths}

/** Per-row-group count-min ledger (index/CmsShadow, r15): the
  * never-undercount / bounded-overcount guarantees, merge linearity,
  * slice composition, null exclusion, fail-closed coverage, and
  * re-index staleness.
  */
class CmsShadowSpec extends SparkSpec {

  test("estimate never undercounts and overcounts within the epsilon bound") {
    val rnd = new scala.util.Random(20260815L)
    // zipf-ish: key k appears ~ N/(k+1) times
    val keys = (0 until 200).flatMap(k => Seq.fill(2000 / (k + 1))(k.toLong))
    val counts = new Array[Int](CmsShadow.Depth * CmsShadow.Width)
    def h(v: Long): Long = { // same hash family the builder uses
      org.apache.spark.sql.catalyst.expressions.XxHash64(
        Seq(org.apache.spark.sql.catalyst.expressions.Literal(v)), 42L)
        .eval(org.apache.spark.sql.catalyst.InternalRow.empty)
        .asInstanceOf[Long]
    }
    keys.foreach(v => CmsShadow.add(counts, h(v)))
    val exact = keys.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val n = keys.size
    val bound = math.max(4L, (n * 0.005).toLong)
    (0 until 200 by 7).foreach { k =>
      val est = CmsShadow.estimate(counts, h(k.toLong))
      val x = exact(k.toLong)
      assert(est >= x, s"k=$k undercounted: $est < $x")
      assert(est <= x + bound, s"k=$k overcounted: $est > $x + $bound")
    }
    // absent keys estimate near zero
    (1000 until 1010).foreach { k =>
      assert(CmsShadow.estimate(counts, h(k.toLong)) <= bound)
    }
  }

  test("merge is linear: cms(A) + cms(B) == cms(A ++ B)") {
    val rnd = new scala.util.Random(7L)
    val a = Array.fill(3000)(rnd.nextLong() % 100)
    val b = Array.fill(3000)(rnd.nextLong() % 100)
    def sketch(vs: Seq[Long]): Array[Int] = {
      val c = new Array[Int](CmsShadow.Depth * CmsShadow.Width)
      vs.foreach(v => CmsShadow.add(c, v * 0x9e3779b97f4a7c15L)) // any hash
      c
    }
    val sa = sketch(a.toSeq)
    CmsShadow.merge(sa, sketch(b.toSeq))
    assert(sa.sameElements(sketch(a.toSeq ++ b.toSeq)))
    val rt = CmsShadow.deserialize(CmsShadow.serialize(sa))
    assert(rt.sameElements(sa))
  }

  // fixture: 2 files × 2 groups of 100; k cycles 0..9 (so each value
  // appears 40 times overall, 20 per file), s has nulls, z all-null
  private lazy val env = {
    val base = tempDir("graft-cms")
    val dir = s"$base/data"
    Files.createDirectories(Paths.get(dir))
    import spark.implicits._
    (0 until 2).foreach { fi =>
      val rows = (0 until 200).map { j =>
        val i = fi * 200 + j
        (i % 10L, if (i % 4 == 0) None else Some(s"s${i % 5}"),
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
      IndexedParquet.buildIndex(spark, dir, Seq("k", "s", "z"), s"$base/cmsdb")
    index.rebuildCms(spark, dir, index.allFiles(), schema, Seq("k", "s", "z"))
    (dir, index, schema)
  }

  test("catalog estimates match exact frequencies; nulls excluded") {
    val (_, index, _) = env
    // 400 rows, tiny vs the table — estimates are EXACT here (no
    // collisions can add 0.2% of 400 < 1)
    (0L until 10L).foreach { k =>
      assert(index.approxFrequency("k", k) == Some(40L), s"k=$k")
    }
    assert(index.approxFrequency("k", 99L) == Some(0L))
    // s: 'sX' appears in 3 of 4 positions per 5-cycle; nulls not counted
    val sx = index.approxFrequency("s", "s1").get
    assert(sx == 60L, s"s1=$sx") // 400 * (1/5) * (3/4) = 60
    // all-null column: zero frequencies, never a guess
    assert(index.approxFrequency("z", 1L) == Some(0L))
  }

  test("a plan subset estimates just its groups; coverage fails closed") {
    val (dir, index, schema) = env
    val f0 = index.allFiles().filter(_.fileName == "f0.parquet")
    assert(index.approxFrequency("k", 3L, Some(f0)) == Some(20L))
    val ghost = index.allFiles().map(p =>
      p.copy(scanRowGroups = p.scanRowGroups + 99))
    assert(index.approxFrequency("k", 3L, Some(ghost)).isEmpty)
    // re-index wipes the tables until rebuilt
    val hconf = spark.sparkContext.hadoopConfiguration
    index.addFile(FooterStats.read(
      new org.apache.hadoop.fs.Path(s"$dir/f0.parquet"), hconf,
      Seq("k", "s", "z")))
    assert(index.approxFrequency("k", 3L).isEmpty,
      "stale cms survived a re-index")
    index.rebuildCms(spark, dir,
      index.allFiles().filter(_.fileName == "f0.parquet"), schema,
      Seq("k", "s", "z"))
    assert(index.approxFrequency("k", 3L) == Some(40L))
  }
}
