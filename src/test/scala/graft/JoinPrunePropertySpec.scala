package graft

import graft.prune.JoinPrune
import graft.sources.IndexedParquet
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths}

/** Randomized never-wrong sweep for the semi-join pruning family: on a
  * fixed multi-group layout with NULL pockets, 30 seeded random key sets
  * — biased into group boundaries, duplicates, NULLs, out-of-domain
  * points, and route-flipping cardinalities — must all satisfy
  * semiJoinScan + exact join == plain IN, and every decision's plan set
  * must be a SUPERSET of the groups holding matching rows (the Inexact
  * contract, checked directly against the data's group occupancy).
  */
class JoinPrunePropertySpec extends SparkSpec {

  // 3 files × 4 groups of 25 rows; values 0..249 with every 11th NULL;
  // group g covers [25g, 25g+24] of the non-null sequence (sorted write)
  private lazy val env = {
    val base = tempDir("graft-jpprop")
    val dir = s"$base/data"
    Files.createDirectories(Paths.get(dir))
    import spark.implicits._
    (0 until 3).foreach { fi =>
      val rows = (0 until 100).map { j =>
        val i = fi * 100 + j
        (if (i % 11 == 0) None else Some(i), i)
      }
      val tmp = s"$base/tmp-$fi"
      rows.toDF("value", "rid").coalesce(1).sortWithinPartitions("rid")
        .write.option("parquet.block.row.count.limit", "25")
        .mode("overwrite").parquet(tmp)
      val part = Files.list(Paths.get(tmp)).toArray.map(_.asInstanceOf[Path])
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, Paths.get(dir, s"f$fi.parquet"))
    }
    val (index, schema) =
      IndexedParquet.buildIndex(spark, dir, Seq("value"), s"$base/db")
    (dir, index, schema)
  }

  test("30 seeded key sets: pruned == plain, and plans cover every match") {
    val (dir, index, schema) = env
    val plain = spark.read.parquet(dir)
    val rnd = new scala.util.Random(20260815L)
    // which groups actually HOLD each value: rid -> (file, group)
    val occupancy: Map[Int, (String, Int)] = plain
      .select("value", "rid").collect()
      .flatMap(r => if (r.isNullAt(0)) None
        else Some(r.getInt(0) -> (s"f${r.getInt(1) / 100}.parquet", (r.getInt(1) % 100) / 25)))
      .toMap
    import spark.implicits._
    (1 to 30).foreach { it =>
      val mode = it % 5
      val keys: Seq[Int] = mode match {
        case 0 => Seq.fill(rnd.nextInt(6) + 1)(rnd.nextInt(300) - 20) // sparse ± domain edges
        case 1 => // boundary-biased: multiples of 25 ± 1
          Seq.fill(rnd.nextInt(10) + 1)(rnd.nextInt(12) * 25 + rnd.nextInt(3) - 1)
        case 2 => // dense: a contiguous run (envelope-refine when > 128)
          val s = rnd.nextInt(120); (s until s + rnd.nextInt(160) + 1)
        case 3 => Seq.fill(5)(rnd.nextInt(250)).flatMap(k => Seq(k, k)) // dups
        case 4 => (1000 to 1000 + rnd.nextInt(200)) // out of domain
      }
      val dim = keys.map(k => Some(k)).toDF("k")
      val (scan, dec) = JoinPrune.semiJoinScan(
        spark, dir, index, schema, "value", dim)
      val got = scan.join(broadcast(dim), scan("value") === dim("k"), "left_semi")
        .select("rid").as[Int].collect().sorted.toSeq
      val want = plain.filter(col("value").isin(keys.distinct: _*))
        .select("rid").as[Int].collect().sorted.toSeq
      assert(got == want, s"iter $it mode $mode keys=${keys.take(10)}… " +
        s"route=${dec.route}: $got != $want")
      // superset check: every group holding a matching value is in plans
      val held = keys.distinct.flatMap(occupancy.get).toSet
      val planned = dec.plans
        .flatMap(p => p.scanRowGroups.map(rg => (p.fileName, rg))).toSet
      assert(held.subsetOf(planned),
        s"iter $it route=${dec.route} under-scan: ${held -- planned}")
    }
  }
}
