package graft

import graft.prune.JoinPrune
import graft.sources.IndexedParquet
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths}

/** Catalog semi-join pruning (r15, prune/JoinPrune): route selection,
  * exact survivor sets (including the all-NULL-group skip and the
  * drop-nothing scatter case), the degrade ladder, and end-to-end
  * equality of the pruned scan + exact join against a plain scan.
  */
class JoinPruneSpec extends SparkSpec {

  // f1: values 0..99 (two 50-row groups), f2: 100..199 (two), f3: 50 rows
  // of NULL value (one group) — the group a semi-join may soundly SKIP.
  private lazy val env = {
    val base = tempDir("graft-joinprune")
    val dir = s"$base/data"
    Files.createDirectories(Paths.get(dir))
    import spark.implicits._
    val parts: Seq[(String, Seq[Option[Int]])] = Seq(
      "f1.parquet" -> (0 until 100).map(Some(_)),
      "f2.parquet" -> (100 until 200).map(Some(_)),
      "f3.parquet" -> Seq.fill(50)(Option.empty[Int]))
    parts.foreach { case (name, vals) =>
      val tmp = s"$base/tmp-$name"
      vals.map(v => (v, v.map(_.toDouble), s"t$v")).toDF("value", "d", "tag")
        .coalesce(1)
        .write.option("parquet.block.row.count.limit", "50")
        .mode("overwrite").parquet(tmp)
      val part = Files.list(Paths.get(tmp)).toArray.map(_.asInstanceOf[Path])
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, Paths.get(dir, name))
    }
    val (index, schema) =
      IndexedParquet.buildIndex(spark, dir, Seq("value", "d"), s"$base/statsdb")
    (dir, index, schema)
  }

  private def groupsOf(d: JoinPrune.Decision): Seq[(String, Seq[Int])] =
    d.plans.map(p => (p.fileName, p.scanRowGroups.toSeq)).sortBy(_._1)

  test("small key set routes through the IN probe and prunes to point groups") {
    val (_, index, schema) = env
    val d = JoinPrune.prunePlans(spark, index, schema, "value", Seq(10, 160))
    assert(d.route == "in-probe")
    assert(d.totalGroups == 5)
    // the two keys live in f1#0 and f2#1; the pruning walk must keep those
    // and may keep nothing else valued (stats are point-precise here)
    assert(groupsOf(d) == Seq(("f1.parquet", Seq(0)), ("f2.parquet", Seq(1))))
  }

  test("large key set takes envelope-refine: gap groups and the all-NULL group drop") {
    val (_, index, schema) = env
    // 129 keys (> MaxProbeKeys): all of 0..79 plus 150..198 — f2#0
    // (100..149) is inside the envelope but holds no key; f3 is all-NULL
    val keys = (0 until 80) ++ (150 until 199)
    assert(keys.size > JoinPrune.MaxProbeKeys)
    val d = JoinPrune.prunePlans(spark, index, schema, "value", keys)
    assert(d.route == "envelope-refine")
    assert(groupsOf(d) ==
      Seq(("f1.parquet", Seq(0, 1)), ("f2.parquet", Seq(1))))
    assert(d.scannedGroups == 3 && d.totalGroups == 5)
  }

  test("scattered keys that hit every group prune nothing — and stay exact") {
    val (dir, index, schema) = env
    val keys = (0 until 200 by 1).filter(_ % 3 == 0) // 67 keys… still in-probe
    val big = (0 until 200).filter(_ % 3 == 0) ++ (1000 to 1100) // 168 keys
    val d = JoinPrune.prunePlans(spark, index, schema, "value", big)
    assert(d.route == "envelope-refine")
    // every valued group holds a multiple of 3; f3 (NULL) still drops
    assert(d.scannedGroups == 4)
    import spark.implicits._
    val dim = big.toDF("k")
    val (scan, dec) = JoinPrune.semiJoinScan(
      spark, dir, index, schema, "value", dim)
    val got = scan.join(broadcast(dim), scan("value") === dim("k"), "left_semi")
      .select("value").as[Int].collect().sorted.toSeq
    assert(dec.route == "envelope-refine")
    assert(got == keys)
  }

  test("empty key set yields zero plans; an over-limit set degrades unpruned") {
    val (_, index, schema) = env
    val empty = JoinPrune.prunePlans(spark, index, schema, "value", Nil)
    assert(empty.route == "empty" && empty.plans.isEmpty)
    val over = JoinPrune.prunePlans(
      spark, index, schema, "value", 0 until 20, maxKeys = 10)
    assert(over.route == "degrade-cardinality")
    assert(over.scannedGroups == over.totalGroups)
  }

  test("float/double keys are never pruned (degrade-type)") {
    val (_, index, schema) = env
    val d = JoinPrune.prunePlans(
      spark, index, schema, "d", Seq(1.0, 2.0))
    assert(d.route == "degrade-type")
    assert(d.scannedGroups == d.totalGroups)
  }

  test("keys entirely outside the domain scan nothing and return empty") {
    val (dir, index, schema) = env
    val keys = (1000 until 1129)
    val d = JoinPrune.prunePlans(spark, index, schema, "value", keys)
    assert(d.route == "envelope-refine" && d.scannedGroups == 0)
    import spark.implicits._
    val dim = keys.toDF("k")
    val (scan, _) = JoinPrune.semiJoinScan(
      spark, dir, index, schema, "value", dim)
    assert(scan.join(broadcast(dim), scan("value") === dim("k"), "left_semi")
      .isEmpty)
  }

  test("NULL dim keys are dropped before pruning and match nothing") {
    val (dir, index, schema) = env
    import spark.implicits._
    val dim = Seq(Some(10), None, Some(160), None).toDF("k")
    val (scan, dec) = JoinPrune.semiJoinScan(
      spark, dir, index, schema, "value", dim)
    assert(dec.keyCount == 2 && dec.route == "in-probe")
    val got = scan.join(broadcast(dim), scan("value") === dim("k"), "left_semi")
      .select("value").as[Int].collect().sorted.toSeq
    assert(got == Seq(10, 160))
  }

  test("semiJoinScan + exact join == plain scan + IN, at the lineitem fixture") {
    val dir = sf("sf0.001")
    val (index, schema, dataDir) = operators.Indexed.fixture(spark, dir)
    val dim = Tables.load(spark, dir, "orders")
      .filter(col("o_totalprice") > 450000.0).select("o_orderkey")
    val (scan, dec) = JoinPrune.semiJoinScan(
      spark, dataDir, index, schema, "l_orderkey", dim,
      requiredCols = Seq("l_orderkey", "l_linenumber"))
    val keys = dim.distinct()
    val got = scan.join(broadcast(keys),
        scan("l_orderkey") === keys("o_orderkey"), "left_semi")
      .select("l_orderkey", "l_linenumber")
    val want = Tables.load(spark, dir, "lineitem")
      .join(broadcast(keys), col("l_orderkey") === keys("o_orderkey"), "left_semi")
      .select("l_orderkey", "l_linenumber")
    assert(got.except(want).isEmpty && want.except(got).isEmpty)
    assert(dec.keyCount > 0)
  }

  test("bloom route: l_ukey probes keep at most the probed groups") {
    val dir = sf("sf0.001")
    val (index, schema, dataDir) = operators.Indexed.fixture(spark, dir)
    val dim = operators.Indexed.lineitemIndexed(spark, dir)
      .filter(col("l_orderkey") < 3L).select(col("l_ukey").as("probe"))
    val (scan, dec) = JoinPrune.semiJoinScan(
      spark, dataDir, index, schema, "l_ukey", dim,
      requiredCols = Seq("l_ukey", "l_orderkey"))
    assert(dec.route == "in-probe")
    // min/max stats cannot prune an md5 key — only the blooms can; the
    // fixture has them, so the probe must beat the full scan
    assert(dec.scannedGroups < dec.totalGroups,
      s"blooms pruned nothing: ${dec.scannedGroups}/${dec.totalGroups}")
    val keys = dim.distinct()
    val got = scan.join(broadcast(keys), scan("l_ukey") === keys("probe"),
        "left_semi")
      .select("l_orderkey").distinct()
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(0L, 1L, 2L))
  }
}
