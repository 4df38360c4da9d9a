package graft

import graft.sources.IndexedParquet
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._


/** Planner-side constancy pruning (prune/PartPrune.scala, r13): row-group
  * refinement for ROW-selecting predicates the stats-space interval
  * rewrite cannot serve — determined calendar parts (`dayofweek`,
  * `date_format` labels) and Derby-unrenderable monotone images
  * (`year(ts)`, calendar truncs). Extends the reference's pruning seam
  * (/root/reference/sqlx-sqlite/src/index.rs:102-176 rewrites raw-column
  * predicates only) to computed keys on the SCAN path. Soundness is
  * over-scan-only: a group drops only when zero-null constancy proves
  * every row fails the conjunct; Spark re-applies the filter above the
  * scan (Inexact semantics), pinned here by kill-switch equality. */
class PartPruneSpec extends SparkSpec {

  private def sfDir = sf("sf0.001")

  private def noPrune[A](body: => A): A = {
    spark.conf.set("spark.graft.partPrune", "false")
    try body finally spark.conf.unset("spark.graft.partPrune")
  }

  test("weekend row select drops weekday day-files before the reader (idx56)") {
    val q = SparkEntry.registry.find(_.name == "idx56_filter_part_rows").get
    val rows = q.fn(spark, sfDir).collect().sortBy(_.toString)
    val ex = graft.operators.Indexed.lastDayPartsExecution(spark, sfDir).get
    assert(ex.route.exists(_.startsWith("part-const(")), ex.route.toString)
    assert(ex.scannedFiles.size < ex.totalFiles,
      s"weekday files not dropped: ${ex.render}")
    // ground truth: the identical query with the refinement disabled
    val want = noPrune(q.fn(spark, sfDir).collect()).sortBy(_.toString)
    assert(rows === want)
    assert(rows.nonEmpty, "fixture has no weekend rows — fixture bug")
    val exOff = graft.operators.Indexed.lastDayPartsExecution(spark, sfDir).get
    assert(!exOff.route.exists(_.startsWith("part-const(")),
      "kill switch did not bypass the refinement")
    assert(exOff.scannedFiles.size == exOff.totalFiles)
  }

  test("a Derby-unrenderable image conjunct (year) refines the scan too") {
    val li = graft.operators.Indexed.lineitemTime(spark, sfDir)
    def sel = li.filter(year(col("l_shipdate")) === lit(1996))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_shipdate"))
    val rows = sel.collect().sortBy(_.toString)
    val ex = graft.operators.Indexed.lastTimeExecution(spark, sfDir).get
    assert(ex.route.exists(_.startsWith("part-const(")), ex.route.toString)
    assert(ex.scannedRowGroups < ex.totalRowGroups, ex.render)
    val want = noPrune(sel.collect()).sortBy(_.toString)
    assert(rows === want)
    assert(rows.nonEmpty)
  }

  test("within-file narrowing takes the byte-range RowGroupScan leaf") {
    // nfx is ONE file of four day-constant row groups: the Saturday
    // slice narrows inside the file, which listFiles cannot make
    // physical — PartPruneScan substitutes the byte-range leaf
    val (df, fi, _) = nfx
    def q = df.filter(dayofweek(col("ts")) === lit(7)).select("k")
    assert(q.queryExecution.optimizedPlan.collectFirst {
      case r: graft.plans.RowGroupScan => r
    }.isDefined, q.queryExecution.optimizedPlan.toString)
    val rows = q.collect().map(_.getLong(0)).sorted
    assert(rows === (100L until 150L).toArray)
    val ex = fi.lastExecution.get
    assert(ex.route.contains("part-rowgroup-scan"), ex.route.toString)
    // Saturday plus the conservatively-kept partial-null group; the
    // re-applied filter above the leaf removes the latter's rows
    assert(ex.scannedRowGroups === 2, ex.render)
    assert(ex.render.contains("[Scan, Skip, Scan, Skip]"), ex.render)
    // the scan-leaf kill switch alone reverts to the listFiles path —
    // same rows, no RowGroupScan node
    spark.conf.set("spark.graft.partPruneScan", "false")
    try {
      assert(q.queryExecution.optimizedPlan.collectFirst {
        case r: graft.plans.RowGroupScan => r
      }.isEmpty)
      assert(q.collect().map(_.getLong(0)).sorted ===
        (100L until 150L).toArray)
    } finally spark.conf.unset("spark.graft.partPruneScan")
  }

  // four 50-row day-constant row groups; the first has 25 NULL ts — the
  // partial-null and IS NULL hazards the refinement must survive
  private lazy val nfx: (DataFrame,
      graft.sources.IndexedParquetFileIndex, DataFrame) = {
    val base = tempDir("graft-partprune")
    val dir = s"$base/data"
    import spark.implicits._
    graft.operators.Indexed.withMicrosTimestamps(spark) {
      (0 until 200)
        .map { i =>
          val ts = if (i < 25) None
          else Some(new java.sql.Timestamp((i / 50).toLong * 86400000L))
          (i.toLong, ts)
        }
        .toDF("k", "ts")
        .coalesce(1)
        .write.option("parquet.block.row.count.limit", "50")
        .mode("overwrite").parquet(dir)
    }
    val (index, schema) = IndexedParquet.buildIndex(
      spark, dir, Seq("k", "ts"), s"$base/statsdb")
    val (df, fi) = IndexedParquet.read(spark, dir, index, schema)
    (df, fi, spark.read.parquet(dir))
  }

  test("IS NULL over a partial-null group: null rows survive, clean groups drop") {
    val (df, fi, plain) = nfx
    def q(d: DataFrame) = d.filter(dayofweek(col("ts")).isNull).select("k")
    val rows = q(df).collect().map(_.getLong(0)).sorted
    assert(rows === (0L until 25L).toArray,
      "null-ts rows lost or phantom rows kept")
    val ex = fi.lastExecution.get
    // groups 1..3 are zero-null day-constant: IS NULL is provably false
    assert(ex.route.exists(_.startsWith("part-const(dropped=3)")), ex.route)
    assert(q(plain).collect().map(_.getLong(0)).sorted === rows)
  }

  test("a matching-part group is kept, a non-matching one dropped, raw-only untouched") {
    val (df, fi, plain) = nfx
    // day 0 = 1970-01-01 (Thursday, dayofweek=5); days 1..3 = Fri/Sat/Sun
    def q(d: DataFrame) = d.filter(dayofweek(col("ts")) === lit(7)).select("k")
    val rows = q(df).collect().map(_.getLong(0)).sorted
    assert(rows === (100L until 150L).toArray) // the Saturday group
    val ex = fi.lastExecution.get
    // Fri and Sun groups drop; the partial-null group is kept (its
    // non-null slice is Thursday, but nulls make it uncertifiable)
    assert(ex.route.exists(_.startsWith("part-const(dropped=2)")), ex.route)
    assert(q(plain).collect().map(_.getLong(0)).sorted === rows)
    // a raw-only conjunct never qualifies: no part-const tag
    df.filter(col("k") > 150L).collect()
    assert(!fi.lastExecution.get.route.exists(_.startsWith("part-const(")))
  }

  test("a determined-part filter under ORDER BY ... LIMIT still prunes the scan") {
    // the top-k certificate can't consume a determined part (not
    // monotone), so the plan falls to TakeOrderedAndProject over the
    // scan — where the constancy refinement drops the weekday files
    val dp = graft.operators.Indexed.eventsDayParts(spark, sf("sf0.001"))
    def q = dp.filter(dayofweek(col("ts")).isin(1, 7))
      .orderBy(col("ts").desc, col("event_id").desc).limit(5)
      .select("event_id", "ts")
    val rows = q.collect()
    val ex = graft.operators.Indexed.lastDayPartsExecution(spark, sf("sf0.001")).get
    assert(ex.route.exists(_.startsWith("part-const(")), ex.route)
    assert(ex.scannedFiles.size < ex.totalFiles, ex.render)
    val want = noPrune(q.collect())
    assert(rows.map(_.toString) === want.map(_.toString))
    assert(rows.length === 5)
  }

  // four 50-row row groups: the first is ALL-NULL ts, the other three
  // day-constant (1970-01-02..04 = Fri, Sat, Sun)
  private lazy val allNullFx: (DataFrame, graft.index.StatsIndex, DataFrame) = {
    val base = tempDir("graft-partprune-allnull")
    val dir = s"$base/data"
    import spark.implicits._
    graft.operators.Indexed.withMicrosTimestamps(spark) {
      (0 until 200)
        .map { i =>
          val ts = if (i < 50) None
          else Some(new java.sql.Timestamp((i / 50).toLong * 86400000L))
          (i.toLong, ts)
        }
        .toDF("k", "ts")
        .coalesce(1)
        .write.option("parquet.block.row.count.limit", "50")
        .mode("overwrite").parquet(dir)
    }
    val (index, schema) = IndexedParquet.buildIndex(
      spark, dir, Seq("k", "ts"), s"$base/statsdb")
    val (df, _) = IndexedParquet.read(spark, dir, index, schema)
    (df, index, spark.read.parquet(dir))
  }

  test("an all-NULL group is decided at NULL: a comparison drops it, IS NULL keeps it") {
    val (df, index, plain) = allNullFx
    val plans = index.allFiles()
    // the refinement alone, on the analyzed conjunct: the optimizer's
    // inferred isnotnull(ts) would let the interval walk drop the
    // all-null group first and hide what the engine decides
    def refined(c: org.apache.spark.sql.Column) = {
      val cond = df.filter(c).queryExecution.analyzed.collectFirst {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
      }.get
      graft.prune.PartPrune.refine(index, Seq(cond), plans)
    }
    val sat = dayofweek(col("ts")) === lit(7)
    val (satPlans, satRoute) = refined(sat)
    assert(satRoute === Seq("part-const(dropped=3)"), satRoute)
    assert(satPlans.flatMap(_.scanRowGroups) === Seq(2), satPlans)
    val isNull = dayofweek(col("ts")).isNull
    val (nullPlans, nullRoute) = refined(isNull)
    assert(nullRoute === Seq("part-const(dropped=3)"), nullRoute)
    assert(nullPlans.flatMap(_.scanRowGroups) === Seq(0), nullPlans)
    // end to end, both answers equal plain Parquet
    def keys(d: DataFrame, c: org.apache.spark.sql.Column) =
      d.filter(c).select("k").collect().map(_.getLong(0)).sorted.toSeq
    assert(keys(df, sat) === (100L until 150L))
    assert(keys(df, sat) === keys(plain, sat))
    assert(keys(df, isNull) === (0L until 50L))
    assert(keys(df, isNull) === keys(plain, isNull))
  }

  test("part and raw conjuncts compose: both prunes intersect in one pass") {
    val (df, fi, plain) = nfx
    // raw range keeps groups 2-3 via the interval walk; the part
    // conjunct (Sat = 7) drops group 3 via constancy — intersection
    // scans exactly the Saturday group
    def q(d: DataFrame) = d
      .filter(col("k") >= 100L && dayofweek(col("ts")) === lit(7))
      .select("k")
    val rows = q(df).collect().map(_.getLong(0)).sorted
    assert(rows === (100L until 150L).toArray)
    val ex = fi.lastExecution.get
    assert(ex.route.exists(_.startsWith("part-const(")), ex.route)
    assert(ex.scannedRowGroups == 1, ex.render)
    assert(q(plain).collect().map(_.getLong(0)).sorted === rows)
  }
}
