package graft

import graft.index.{ColumnStats, DerbyStatsIndex, FileStats, RowGroupStats}
import graft.sources.IndexedParquet
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.nio.file.Files

/** Aggregate pushdown to the stats catalog (plans/StatsAggPushdown): a
  * global MIN/MAX/COUNT over the index-backed relation folds to a
  * LocalRelation answered from the catalog — zero data scanned — and ONLY
  * when every scalar is certified exact; any disqualifier (filter,
  * grouping, DISTINCT, uncertified type, unindexed column, kill switch)
  * leaves the declarative scan plan untouched. Unit-level: the catalog
  * scalars' own certification guards (maxIndexedValue / totalRowCount /
  * nonNullCount — the mirrors of RoutingSpec's minIndexedValue pins).
  */
class StatsAggPushdownSpec extends SparkSpec {

  // 2000 rows in 50-row groups; s is null every 3rd row so COUNT(col) and
  // null-skipping MIN/MAX semantics are genuinely exercised
  private lazy val fx: (DataFrame, DataFrame) = {
    val base = tempDir("graft-aggpush")
    val dir = s"$base/data"
    import spark.implicits._
    (0 until 2000)
      .map(i => (i.toLong, if (i % 3 == 0) null else f"s$i%04d", i / 7.0))
      .toDF("k", "s", "v")
      .coalesce(1)
      .write.option("parquet.block.row.count.limit", "50")
      .mode("overwrite").parquet(dir)
    val (index, schema) = IndexedParquet.buildIndex(
      spark, dir, Seq("k", "s", "v"), s"$base/statsdb")
    val (df, _) = IndexedParquet.read(spark, dir, index, schema)
    (df, spark.read.parquet(dir))
  }
  private def indexed = fx._1
  private def plain = fx._2

  private def folded(df: DataFrame): Boolean = {
    val p = df.queryExecution.optimizedPlan
    p.collectFirst { case l: LocalRelation => l }.isDefined &&
      p.collectFirst { case r: LogicalRelation => r }.isEmpty
  }

  test("global min/max/count folds to a catalog-answered LocalRelation") {
    val agg = indexed.agg(
      min(col("k")).as("mn"), max(col("k")).as("mx"),
      min(col("s")).as("smn"), max(col("s")).as("smx"),
      count(lit(1)).as("n"), count(col("s")).as("ns"))
    assert(folded(agg), agg.queryExecution.optimizedPlan.toString)
    val r = agg.collect().head
    assert(r.getLong(0) === 0L && r.getLong(1) === 1999L)
    // null-skipping string extremes: s0000 is NULL (i%3==0), so min is s0001
    assert(r.getString(2) === "s0001" && r.getString(3) === "s1999")
    assert(r.getLong(4) === 2000L)
    assert(r.getLong(5) === 2000L - 667L) // 667 nulls: i%3==0 for 0..1999
  }

  test("a literal-first bound at the column minimum keeps the global fold") {
    // `0 <= k` is the mirror of `k >= 0`: vacuous on k's 0..1999 stats
    def shape(d: DataFrame) = d.filter(lit(0L) <= col("k"))
      .agg(min(col("k")).as("mn"), max(col("k")).as("mx"), count(lit(1)).as("n"))
    val agg = shape(indexed)
    assert(folded(agg), agg.queryExecution.optimizedPlan.toString)
    assert(agg.collect().head === shape(plain).collect().head)
  }

  // value-aligned grouping fixture: g = i/500 is constant within every
  // 50-row group (boundaries align), null every 7th row so the NULL
  // group and mixed null/value groups are genuinely exercised
  private lazy val fxg: (DataFrame, DataFrame) = {
    val base = tempDir("graft-aggpush-g")
    val dir = s"$base/data"
    import spark.implicits._
    (0 until 2000)
      .map(i => (i.toLong,
        if (i % 7 == 0) None else Some(i.toLong / 500L)))
      .toDF("k", "g")
      .coalesce(1)
      .write.option("parquet.block.row.count.limit", "50")
      .mode("overwrite").parquet(dir)
    val (index, schema) = IndexedParquet.buildIndex(
      spark, dir, Seq("k", "g"), s"$base/statsdb")
    val (df, _) = IndexedParquet.read(spark, dir, index, schema)
    (df, spark.read.parquet(dir))
  }

  test("GROUP BY on a value-aligned column folds to catalog row-count sums") {
    def shape(df: DataFrame) = df
      .groupBy("g")
      .agg(count(lit(1)).as("n"), count(col("g")).as("ng"),
        min(col("g")).as("mn"), max(col("g")).as("mx"))
    val agg = shape(fxg._1)
    assert(folded(agg), agg.queryExecution.optimizedPlan.toString)
    def key(r: org.apache.spark.sql.Row) =
      (if (r.isNullAt(0)) None else Some(r.getLong(0))) ->
        ((r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3)),
          if (r.isNullAt(4)) None else Some(r.getLong(4))))
    val got = agg.collect().map(key).toMap
    val want = shape(fxg._2).collect().map(key).toMap
    assert(got === want, s"catalog group-by diverged\ngot  $got\nwant $want")
    // the NULL group is present (i%7 nulls) and count(g) there is 0
    assert(got(None)._2 === 0L)
  }

  test("GROUP BY per-group extremes of another column fold — only without grouping nulls") {
    // fxg's g HAS nulls: min(k) per group must NOT fold (a null-g row's
    // k could leak into the wrong group's extreme)
    val withNulls = fxg._1.groupBy("g").agg(min(col("k")).as("mk"))
    assert(!folded(withNulls))
    // a null-free aligned fixture: min/max of the other column fold and
    // match ground truth
    val base = tempDir("graft-aggpush-g2")
    val dir = s"$base/data"
    import spark.implicits._
    (0 until 2000).map(i => (i.toLong, i.toLong / 500L))
      .toDF("k", "g").coalesce(1)
      .write.option("parquet.block.row.count.limit", "50")
      .mode("overwrite").parquet(dir)
    val (index, schema) = IndexedParquet.buildIndex(
      spark, dir, Seq("k", "g"), s"$base/statsdb")
    val (df, _) = IndexedParquet.read(spark, dir, index, schema)
    def shape(d: DataFrame) = d.groupBy("g")
      .agg(min(col("k")).as("mk"), max(col("k")).as("xk"),
        count(lit(1)).as("n"))
    val agg = shape(df)
    assert(folded(agg), agg.queryExecution.optimizedPlan.toString)
    val key = (r: org.apache.spark.sql.Row) =>
      r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(agg.collect().map(key).toMap ===
      shape(spark.read.parquet(dir)).collect().map(key).toMap)
  }

  test("GROUP BY fails closed on a straddling column and on disqualifying aggregates") {
    // k is sequential — every row group straddles values: no fold
    val byK = fxg._1.groupBy("k").agg(count(lit(1)).as("n"))
    assert(!folded(byK))
    // sum(k) is not a certified aggregate even on the aligned column
    val sumAgg = fxg._1.groupBy("g").agg(sum(col("k")).as("sk"))
    assert(!folded(sumAgg))
    // two grouping columns disqualify
    val two = fxg._1.groupBy("g", "k").agg(count(lit(1)).as("n"))
    assert(!folded(two))
    // kill switch restores the scan
    spark.conf.set("spark.graft.groupByAggPushdown", "false")
    try {
      val off = fxg._1.groupBy("g").agg(count(lit(1)).as("n"))
      assert(!folded(off))
    } finally spark.conf.unset("spark.graft.groupByAggPushdown")
  }

  // null-free value-aligned fixture with the catalog handles exposed, for
  // the r11 filtered / SUM extensions
  private lazy val fxg3: (DataFrame, DataFrame, String, String,
      org.apache.spark.sql.types.StructType, graft.index.StatsIndex) = {
    val base = tempDir("graft-aggpush-g3")
    val dir = s"$base/data"
    import spark.implicits._
    (0 until 2000).map(i => (i.toLong, i.toLong / 500L))
      .toDF("k", "g").coalesce(1)
      .write.option("parquet.block.row.count.limit", "50")
      .mode("overwrite").parquet(dir)
    val db = s"$base/statsdb"
    val (index, schema) = IndexedParquet.buildIndex(spark, dir, Seq("k", "g"), db)
    val (df, _) = IndexedParquet.read(spark, dir, index, schema)
    (df, spark.read.parquet(dir), dir, db, schema, index)
  }

  test("r11: an ALL-PASS filter keeps the GROUP BY fold; a biting one declines") {
    val (df, plainDf, _, _, _, _) = fxg3
    def shape(d: DataFrame, cond: org.apache.spark.sql.Column) = d
      .filter(cond).groupBy("g")
      .agg(count(lit(1)).as("n"), min(col("k")).as("mk"))
    // k >= 0 and IsNotNull(k) are provably vacuous from the stats
    val vacuous = col("k") >= 0L && col("k").isNotNull
    val agg = shape(df, vacuous)
    assert(folded(agg), agg.queryExecution.optimizedPlan.toString)
    val key = (r: org.apache.spark.sql.Row) =>
      r.getLong(0) -> ((r.getLong(1), r.getLong(2)))
    assert(agg.collect().map(key).toMap ===
      shape(plainDf, vacuous).collect().map(key).toMap)
    // a filter that actually bites must fail the certificate closed —
    // and the declarative answer must still be right
    val biting = shape(df, col("k") > 100L)
    assert(!folded(biting), biting.queryExecution.optimizedPlan.toString)
    assert(biting.collect().map(key).toMap ===
      shape(plainDf, col("k") > 100L).collect().map(key).toMap)
    // a filter on an unindexed/unknown shape (OR) declines too
    assert(!folded(shape(df, col("k") >= 0L || col("g") >= 0L)))
  }

  test("r11: SUM/COUNT of another column fold from the SumShadow ledger") {
    val (df, plainDf, dir, db, schema, index) = fxg3
    def shape(d: DataFrame) = d.groupBy("g")
      .agg(sum(col("k")).as("sk"), count(col("k")).as("nk"),
        count(lit(1)).as("n"))
    // COUNT(k) alone folds from null counts — no shadow needed
    val cntOnly = df.groupBy("g").agg(count(col("k")).as("nk"))
    assert(folded(cntOnly), cntOnly.queryExecution.optimizedPlan.toString)
    // SUM(k) declines until the ledger is built
    assert(!folded(shape(df)))
    index.rebuildShadows(spark, dir, index.allFiles(), schema, freqCols = Nil, sumCols = Seq("k"))
    val agg = shape(df)
    assert(folded(agg), agg.queryExecution.optimizedPlan.toString)
    val key = (r: org.apache.spark.sql.Row) =>
      r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(agg.collect().map(key).toMap ===
      shape(plainDf).collect().map(key).toMap,
      "catalog SUM diverged from the scan")
    // grouping nulls still poison the other-column tallies (fxg's g has
    // nulls): neither SUM nor COUNT(k) may fold there
    assert(!folded(fxg._1.groupBy("g").agg(count(col("k")).as("nk"))))
  }

  test("r11: idx27/idx28 registered queries fold (no scan in the plan)") {
    Seq("idx27_groupby_filtered", "idx28_groupby_sum").foreach { name =>
      val q = SparkEntry.registry.find(_.name == name).get
      val df = q.fn(spark, sf("sf0.001"))
      assert(folded(df), s"$name:\n${df.queryExecution.optimizedPlan}")
      assert(df.collect().length === 3)
    }
  }

  test("r11: global SUM folds from the ledger; all-pass filters keep the global fold") {
    val (df, plainDf, dir, db, schema, index) = fxg3
    // the ledger was built by the SUM/COUNT test (shared fixture) — build
    // idempotently in case of test-order changes
    index.rebuildShadows(spark, dir, index.allFiles(), schema, freqCols = Nil, sumCols = Seq("k"))
    def shape(d: DataFrame, cond: Option[org.apache.spark.sql.Column]) =
      cond.fold(d)(d.filter(_))
        .agg(sum(col("k")).as("sk"), count(lit(1)).as("n"), min(col("k")).as("mk"))
    val agg = shape(df, None)
    assert(folded(agg), agg.queryExecution.optimizedPlan.toString)
    assert(agg.collect().head === shape(plainDf, None).collect().head)
    // a vacuous filter keeps the global fold; a biting one declines
    val vac = shape(df, Some(col("k") >= 0L))
    assert(folded(vac), vac.queryExecution.optimizedPlan.toString)
    assert(vac.collect().head === shape(plainDf, Some(col("k") >= 0L)).collect().head)
    val biting = shape(df, Some(col("k") > 100L))
    assert(!folded(biting))
    assert(biting.collect().head ===
      shape(plainDf, Some(col("k") > 100L)).collect().head)
    // a column without a ledger declines the SUM (g has no SumShadow)
    assert(!folded(df.agg(sum(col("g")).as("sg"))))
    // the registered idx31 row folds
    val q = SparkEntry.registry.find(_.name == "idx31_agg_sum").get
    val reg = q.fn(spark, sf("sf0.001"))
    assert(folded(reg), reg.queryExecution.optimizedPlan.toString)
    assert(reg.collect().length === 1)
  }

  test("r11: TWO-column GROUP BY folds on the doubly-aligned layout only") {
    // the registered idx29 query folds (joint-key certification + the
    // SumShadow-served SUM + per-key extremes)
    val q = SparkEntry.registry.find(_.name == "idx29_groupby_2col").get
    val df = q.fn(spark, sf("sf0.001"))
    assert(folded(df), df.queryExecution.optimizedPlan.toString)
    assert(df.collect().length === 6) // 3 flags x 2 statuses
    // the SINGLY-aligned layout straddles l_linestatus inside each flag
    // band: the joint key cannot certify, the declarative plan stands —
    // and its answer matches the folded layout's
    val single = graft.operators.Indexed.lineitemValueAligned(spark, sf("sf0.001"))
      .groupBy("l_returnflag", "l_linestatus").agg(count(lit(1)).as("n"))
    assert(!folded(single), single.queryExecution.optimizedPlan.toString)
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getString(1)) -> r.getLong(2)
    val viaFold = graft.operators.Indexed.lineitemValueAligned2(spark, sf("sf0.001"))
      .groupBy("l_returnflag", "l_linestatus").agg(count(lit(1)).as("n"))
    assert(folded(viaFold))
    assert(viaFold.collect().map(key).toMap === single.collect().map(key).toMap,
      "folded two-column group-by diverged from the declarative scan")
    // a third grouping column still disqualifies
    val three = graft.operators.Indexed.lineitemValueAligned2(spark, sf("sf0.001"))
      .groupBy("l_returnflag", "l_linestatus", "l_orderkey")
      .agg(count(lit(1)).as("n"))
    assert(!folded(three))
  }

  test("r11: two-column null-split — one partial column splits, two fail closed") {
    // layout aligned on (a, b) with: a never null; b null on a PARTIAL
    // slice of some groups (splits soundly); plus one row group where
    // BOTH a and b have partial nulls (joint distribution unknowable)
    val base = tempDir("graft-aggpush-2col")
    import spark.implicits._
    def write(dir: String, rows: Seq[(Option[Long], Option[Long], Long)]): DataFrame = {
      rows.toDF("a", "b", "k").coalesce(1)
        .write.option("parquet.block.row.count.limit", "50")
        .mode("overwrite").parquet(dir)
      val (index, schema) = IndexedParquet.buildIndex(
        spark, dir, Seq("a", "b"), s"$dir-db")
      IndexedParquet.read(spark, dir, index, schema)._1
    }
    // groups of 50: a = i/100 constant per 50-block; b constant except
    // nulls in the second half-block of every odd block
    val ok = (0 until 400).map { i =>
      val blk = i / 50
      (Some(blk.toLong / 2), if (blk % 2 == 1 && i % 50 >= 25) None
        else Some(blk.toLong / 2 * 10), i.toLong)
    }
    val okDf = write(s"$base/ok", ok)
    def shape(d: DataFrame) = d.groupBy("a", "b")
      .agg(count(lit(1)).as("n"), count(col("b")).as("nb"))
    val agg = shape(okDf)
    assert(folded(agg), agg.queryExecution.optimizedPlan.toString)
    def key(r: org.apache.spark.sql.Row) =
      ((if (r.isNullAt(0)) None else Some(r.getLong(0))),
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))) ->
        ((r.getLong(2), r.getLong(3)))
    assert(agg.collect().map(key).toMap ===
      shape(spark.read.parquet(s"$base/ok")).collect().map(key).toMap,
      "null-split two-column fold diverged")
    // both columns partial in one row group: fail closed, stay correct
    val bad = (0 until 200).map { i =>
      (if (i < 50 && i % 7 == 0) None else Some(i.toLong / 100),
        if (i < 50 && i % 11 == 0) None else Some(i.toLong / 100 * 10),
        i.toLong)
    }
    val badDf = write(s"$base/bad", bad)
    val badAgg = shape(badDf)
    assert(!folded(badAgg), badAgg.queryExecution.optimizedPlan.toString)
    assert(badAgg.collect().map(key).toMap ===
      shape(spark.read.parquet(s"$base/bad")).collect().map(key).toMap)
  }

  test("idx25: the registered group-by query folds (no scan in the plan)") {
    val q = SparkEntry.registry.find(_.name == "idx25_groupby_pushdown").get
    val df = q.fn(spark, sf("sf0.001"))
    assert(folded(df), df.queryExecution.optimizedPlan.toString)
    val rows = df.collect()
    assert(rows.length === 3) // A / N / R, no null flags
  }

  test("r13: THREE-column GROUP BY folds on the triply-aligned layout") {
    val q = SparkEntry.registry.find(_.name == "idx35_groupby_3col").get
    val df = q.fn(spark, sf("sf0.001"))
    assert(folded(df), df.queryExecution.optimizedPlan.toString)
    val viaFold = df.collect().map(_.toString).sorted
    spark.conf.set("spark.graft.groupByAggPushdown", "false")
    val viaScan = try {
      val d = q.fn(spark, sf("sf0.001"))
      assert(!folded(d))
      d.collect().map(_.toString).sorted
    } finally spark.conf.unset("spark.graft.groupByAggPushdown")
    assert(viaFold === viaScan, "3-col catalog fold diverged from the scan")
    // a fourth column that STRADDLES row groups still fails closed — the
    // partial-null / constancy certification, not the column count, is
    // the boundary
    val bad = graft.operators.Indexed.lineitemValueAligned3(spark, sf("sf0.001"))
      .groupBy("l_returnflag", "l_linestatus", "l_linenumber", "l_orderkey")
      .agg(count(lit(1)).as("n"))
    assert(!folded(bad), bad.queryExecution.optimizedPlan.toString)
  }

  test("r13: DECIMAL SUM folds from the unscaled ledger, globally and per group") {
    val q = SparkEntry.registry.find(_.name == "idx36_agg_sum_decimal").get
    val df = q.fn(spark, sf("sf0.001"))
    assert(folded(df), df.queryExecution.optimizedPlan.toString)
    val viaFold = df.collect()
    spark.conf.set("spark.graft.statsAggPushdown", "false")
    val viaScan = try {
      val d = q.fn(spark, sf("sf0.001"))
      assert(!folded(d))
      d.collect()
    } finally spark.conf.unset("spark.graft.statsAggPushdown")
    assert(viaFold === viaScan, "global decimal ledger diverged from the scan")
    // the raw decimal aggregate (no string render) folds too, and the
    // per-group decimal extremes ride the same certification
    val d3 = graft.operators.Indexed.lineitemValueAligned3(spark, sf("sf0.001"))
    val agg = d3.agg(sum(col("l_price_dec")).as("sp"),
      min(col("l_price_dec")).as("mn"), max(col("l_price_dec")).as("mx"))
    assert(folded(agg), agg.queryExecution.optimizedPlan.toString)
    val grouped = d3.groupBy("l_returnflag", "l_linestatus", "l_linenumber")
      .agg(sum(col("l_price_dec")).as("sp"),
        min(col("l_price_dec")).as("mn"), max(col("l_price_dec")).as("mx"))
    assert(folded(grouped), grouped.queryExecution.optimizedPlan.toString)
    spark.conf.set("spark.graft.statsAggPushdown", "false")
    try {
      assert(agg.collect() ===
        d3.agg(sum(col("l_price_dec")).as("sp"),
          min(col("l_price_dec")).as("mn"),
          max(col("l_price_dec")).as("mx")).collect())
      val key = (r: org.apache.spark.sql.Row) =>
        (r.getString(0), r.getString(1), r.getInt(2)) -> r.toSeq.drop(3)
      assert(grouped.collect().map(key).toMap ===
        d3.groupBy("l_returnflag", "l_linestatus", "l_linenumber")
          .agg(sum(col("l_price_dec")).as("sp"),
            min(col("l_price_dec")).as("mn"),
            max(col("l_price_dec")).as("mx")).collect().map(key).toMap,
        "grouped decimal ledger/extremes diverged from the scan")
    } finally spark.conf.unset("spark.graft.statsAggPushdown")
  }

  test("r13: DECIMAL footer stats certify predicate pruning end to end") {
    val dir = sf("sf0.001")
    val df = graft.operators.Indexed.lineitemValueAligned3(spark, dir)
    // price predicates prune through the catalog's DECIMAL(31,2) stats:
    // an impossible price prunes everything; a vacuous bound keeps all
    val none = df.filter(col("l_price_dec") < new java.math.BigDecimal("0.00"))
      .agg(count(lit(1)).as("n"))
    assert(none.collect().head.getLong(0) === 0L)
    val exec = graft.operators.Indexed.lastAligned3Execution(spark, dir).get
    assert(exec.scannedRowGroups === 0,
      s"kept ${exec.scannedRowGroups} of ${exec.totalRowGroups} for an impossible price")
    // a real range agrees with the plain-parquet answer
    val lo = new java.math.BigDecimal("20000.00")
    val hi = new java.math.BigDecimal("30000.00")
    val got = df.filter(col("l_price_dec") >= lo && col("l_price_dec") <= hi)
      .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = spark.read.parquet(s"$dir/lineitem.parquet")
      .withColumn("l_price_dec", col("l_extendedprice").cast("decimal(12,2)"))
      .filter(col("l_price_dec") >= lo && col("l_price_dec") <= hi)
      .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === want, "decimal-pruned scan diverged from plain parquet")
  }

  test("r13: MIN/MAX/COUNT of a monotone image fold from the raw extremes") {
    val q = SparkEntry.registry.find(_.name == "idx40_agg_imgbounds").get
    val df = q.fn(spark, sf("sf0.001"))
    assert(folded(df), df.queryExecution.optimizedPlan.toString)
    val viaFold = df.collect()
    spark.conf.set("spark.graft.statsAggPushdown", "false")
    val viaScan = try {
      val d = q.fn(spark, sf("sf0.001"))
      assert(!folded(d))
      d.collect()
    } finally spark.conf.unset("spark.graft.statsAggPushdown")
    assert(viaFold === viaScan, "image-aggregate fold diverged from the scan")
    // an instant-reading image under a geographic zone must NOT fold
    // (l_shipdate is NTZ, so date_trunc goes through the session-zone
    // cast — no monotonicity certificate under DST)
    graft.operators.Indexed.withSessionTz(spark, "America/New_York") {
      val d = graft.operators.Indexed.lineitemTime(spark, sf("sf0.001"))
        .agg(max(date_trunc("day", col("l_shipdate"))).as("mx"))
      assert(!folded(d), d.queryExecution.optimizedPlan.toString)
      // the zone-free shapes still fold there
      val z = graft.operators.Indexed.lineitemTime(spark, sf("sf0.001"))
        .agg(max(col("l_shipdate").cast("date")).as("mx"),
          min(unix_timestamp(col("l_shipdate"))).as("mn"))
      assert(folded(z), z.queryExecution.optimizedPlan.toString)
    }
  }

  test("r13: IMAGE grouping keys — GROUP BY year/day/month folds on aligned layouts") {
    // the registered year rollup folds and equals the kill-switched scan
    val q = SparkEntry.registry.find(_.name == "idx41_groupby_year").get
    val df = q.fn(spark, sf("sf0.001"))
    assert(folded(df), df.queryExecution.optimizedPlan.toString)
    val viaFold = df.collect().map(_.toString).sorted
    spark.conf.set("spark.graft.groupByAggPushdown", "false")
    val viaScan = try {
      val d = q.fn(spark, sf("sf0.001"))
      assert(!folded(d))
      d.collect().map(_.toString).sorted
    } finally spark.conf.unset("spark.graft.groupByAggPushdown")
    assert(viaFold === viaScan, "year-rollup fold diverged from the scan")
    // the TIME-CLUSTERED (unaligned) layout fails closed: row groups
    // straddle days, so GROUP BY cast-to-date keeps the declarative plan
    val straddle = graft.operators.Indexed.lineitemTime(spark, sf("sf0.001"))
      .groupBy(col("l_shipdate").cast("date")).agg(count(lit(1)).as("n"))
    assert(!folded(straddle), straddle.queryExecution.optimizedPlan.toString)
    // a MONTH-pure synthetic layout: date_trunc('month', ts) grouping
    // folds (calendar units need no Derby render on this path). Month 2
    // carries a leading ALL-null 100-row block — a whole-row-group null
    // slice lands in the NULL group and keeps other-column tallies alive
    val base = tempDir("graft-gby-img")
    import spark.implicits._
    graft.operators.Indexed.withMicrosTimestamps(spark) {
      (0 until 6).foreach { m =>
        (0 until 300).map { i =>
          // a true CALENDAR month per file (300 × 8000 s ≈ 27.8 d fits
          // the shortest month); month 2's first 100 rows are null
          val millis = java.time.LocalDate.of(1970, m + 1, 1).toEpochDay *
            86400000L + i.toLong * 8000000L
          (if (m == 2 && i < 100) None else Some(new java.sql.Timestamp(millis)),
            (m * 1000 + i).toLong)
        }.toDF("ts", "id").coalesce(1)
          .write.option("parquet.block.row.count.limit", "100")
          .mode(if (m == 0) "overwrite" else "append").parquet(s"$base/data")
      }
    }
    val (index, schema) = graft.sources.IndexedParquet.buildIndex(
      spark, s"$base/data", Seq("ts", "id"), s"$base/db")
    val (idf, _) = graft.sources.IndexedParquet.read(
      spark, s"$base/data", index, schema)
    def shape(d: org.apache.spark.sql.DataFrame) = d
      .groupBy(date_trunc("month", col("ts")).as("mo"))
      .agg(count(lit(1)).as("n"), count(col("ts")).as("nts"),
        max(unix_timestamp(col("ts"))).as("mxu"),
        min(col("id")).as("idmin"))
    val gq = shape(idf)
    assert(folded(gq), gq.queryExecution.optimizedPlan.toString)
    val key = (r: org.apache.spark.sql.Row) => r.toSeq.head -> r.toSeq.tail
    assert(gq.collect().map(key).toMap ===
      shape(spark.read.parquet(s"$base/data")).collect().map(key).toMap,
      "month-rollup fold diverged from the scan")
    // a PARTIAL-null slice (nulls sharing a row group with values) still
    // folds pure counts — the split is per-column sound — but fails any
    // other-column tally closed (no unsplit key for that row group)
    val base2 = tempDir("graft-gby-img2")
    graft.operators.Indexed.withMicrosTimestamps(spark) {
      (0 until 600).map { i =>
        val m = i / 300
        val millis = java.time.LocalDate.of(1970, m + 1, 1).toEpochDay *
          86400000L + (i % 300).toLong * 8000000L
        (if (i % 60 == 13) None else Some(new java.sql.Timestamp(millis)), i.toLong)
      }.toDF("ts", "id").coalesce(1)
        .write.option("parquet.block.row.count.limit", "100")
        .mode("overwrite").parquet(s"$base2/data")
    }
    val (index2, schema2) = graft.sources.IndexedParquet.buildIndex(
      spark, s"$base2/data", Seq("ts", "id"), s"$base2/db")
    val (idf2, _) = graft.sources.IndexedParquet.read(
      spark, s"$base2/data", index2, schema2)
    def cnts(d: org.apache.spark.sql.DataFrame) = d
      .groupBy(date_trunc("month", col("ts")).as("mo"))
      .agg(count(lit(1)).as("n"), count(col("ts")).as("nts"))
    val cq = cnts(idf2)
    assert(folded(cq), cq.queryExecution.optimizedPlan.toString)
    assert(cq.collect().map(key).toMap ===
      cnts(spark.read.parquet(s"$base2/data")).collect().map(key).toMap,
      "partial-null month counts diverged from the scan")
    val oq = idf2.groupBy(date_trunc("month", col("ts")).as("mo"))
      .agg(min(col("id")).as("idmin"))
    assert(!folded(oq), oq.queryExecution.optimizedPlan.toString)
  }

  test("r13: count(DISTINCT image) folds from row-group constancy") {
    val q = SparkEntry.registry.find(_.name == "idx42_distinct_years").get
    val df = q.fn(spark, sf("sf0.001"))
    assert(folded(df), df.queryExecution.optimizedPlan.toString)
    spark.conf.set("spark.graft.statsAggPushdown", "false")
    val want = try q.fn(spark, sf("sf0.001")).collect()
      finally spark.conf.unset("spark.graft.statsAggPushdown")
    assert(df.collect() === want, "distinct-years fold diverged from the scan")
    // a finer image the layout cannot certify declines (year files span
    // many days), and the kill switch restores the declarative plan
    val fine = graft.operators.Indexed.lineitemYearParts(spark, sf("sf0.001"))
      .agg(count_distinct(col("l_shipdate").cast("date")).as("nd"))
    assert(!folded(fine), fine.queryExecution.optimizedPlan.toString)
    spark.conf.set("spark.graft.distinctAggPushdown", "false")
    try {
      val off = graft.operators.Indexed.lineitemYearParts(spark, sf("sf0.001"))
        .agg(count_distinct(year(col("l_shipdate"))).as("ny"))
      assert(!folded(off), off.queryExecution.optimizedPlan.toString)
    } finally spark.conf.unset("spark.graft.distinctAggPushdown")
  }

  test("r13: key-only filter drops groups wholesale in the fold") {
    val q = SparkEntry.registry.find(_.name == "idx43_groupby_period").get
    val df = q.fn(spark, sf("sf0.001"))
    assert(folded(df), df.queryExecution.optimizedPlan.toString)
    spark.conf.set("spark.graft.statsAggPushdown", "false")
    val want = try q.fn(spark, sf("sf0.001")).collect()
      finally spark.conf.unset("spark.graft.statsAggPushdown")
    assert(df.collect().sortBy(_.getInt(0)) === want.sortBy(_.getInt(0)),
      "period rollup diverged from the scan")
    assert(want.nonEmpty && want.length < 7,
      s"fixture must span more years than the window (got ${want.length})")
    // a row-dropping conjunct on a NON-key column declines the whole fold
    val off = graft.operators.Indexed.lineitemYearParts(spark, sf("sf0.001"))
      .filter(year(col("l_shipdate")) >= 1994 && col("l_quantity") > 25)
      .groupBy(year(col("l_shipdate")))
      .agg(count(lit(1)).as("n"))
    assert(!folded(off), off.queryExecution.optimizedPlan.toString)
    // IN on the key folds and matches the scan
    val inq = graft.operators.Indexed.lineitemYearParts(spark, sf("sf0.001"))
      .filter(year(col("l_shipdate")).isin(1992, 1997))
      .groupBy(year(col("l_shipdate")).as("y"))
      .agg(count(lit(1)).as("n"))
    assert(folded(inq), inq.queryExecution.optimizedPlan.toString)
    spark.conf.set("spark.graft.statsAggPushdown", "false")
    val inWant = try graft.operators.Indexed
        .lineitemYearParts(spark, sf("sf0.001"))
        .filter(year(col("l_shipdate")).isin(1992, 1997))
        .groupBy(year(col("l_shipdate")).as("y"))
        .agg(count(lit(1)).as("n")).collect()
      finally spark.conf.unset("spark.graft.statsAggPushdown")
    assert(inq.collect().sortBy(_.getInt(0)) === inWant.sortBy(_.getInt(0)))
  }

  test("r13: key-constant filter folds the GLOBAL aggregate wholesale") {
    val q = SparkEntry.registry.find(_.name == "idx44_agg_filtered_year").get
    val df = q.fn(spark, sf("sf0.001"))
    assert(folded(df), df.queryExecution.optimizedPlan.toString)
    spark.conf.set("spark.graft.statsAggPushdown", "false")
    val want = try q.fn(spark, sf("sf0.001")).collect()
      finally spark.conf.unset("spark.graft.statsAggPushdown")
    assert(df.collect() === want, "filtered global fold diverged from scan")
    // an empty year folds to the SQL empty-aggregate row (0, NULL sum)
    val none = graft.operators.Indexed.lineitemYearParts(spark, sf("sf0.001"))
      .filter(year(col("l_shipdate")) === 1901)
      .agg(count(lit(1)).as("n"), sum(col("l_orderkey")).as("sok"))
    assert(folded(none), none.queryExecution.optimizedPlan.toString)
    val r = none.collect()
    assert(r.length == 1 && r(0).getLong(0) == 0L && r(0).isNullAt(1))
    // a predicate over a non-key (double, uncertified) column declines
    val off = graft.operators.Indexed.lineitemYearParts(spark, sf("sf0.001"))
      .filter(col("l_quantity") > 25)
      .agg(count(lit(1)).as("n"))
    assert(!folded(off), off.queryExecution.optimizedPlan.toString)
    // kill switch restores the declarative plan with the same answer
    spark.conf.set("spark.graft.filteredAggPushdown", "false")
    try {
      val ks = q.fn(spark, sf("sf0.001"))
      assert(!folded(ks), ks.queryExecution.optimizedPlan.toString)
      assert(ks.collect() === want)
    } finally spark.conf.unset("spark.graft.filteredAggPushdown")
  }

  test("r13: AVG folds from the ledger globally, per group, and filtered") {
    // global: exact ledger sum / non-null tally through Average's own eval
    val (df, plainDf, dir, db, schema, index) = fxg3
    index.rebuildShadows(spark, dir, index.allFiles(), schema, freqCols = Nil, sumCols = Seq("k"))
    val g = df.agg(avg(col("k")).as("ak"), count(col("k")).as("n"))
    assert(folded(g), g.queryExecution.optimizedPlan.toString)
    assert(g.collect() === plainDf.agg(avg(col("k")).as("ak"),
      count(col("k")).as("n")).collect(), "global avg diverged from the scan")
    // a column without a ledger declines the AVG (g has no SumShadow)
    val off = df.agg(avg(col("g")).as("ag"))
    assert(!folded(off), off.queryExecution.optimizedPlan.toString)
    // registered queries (render-cast CHAINS over the aggregate): folded
    // and equal to the kill-switched scan
    for (name <- Seq("idx45_agg_avg", "idx46_groupby_avg")) {
      val q = SparkEntry.registry.find(_.name == name).get
      val df = q.fn(spark, sf("sf0.001"))
      assert(folded(df), name + ": " + df.queryExecution.optimizedPlan.toString)
      spark.conf.set("spark.graft.statsAggPushdown", "false")
      val w = try q.fn(spark, sf("sf0.001")).collect()
        finally spark.conf.unset("spark.graft.statsAggPushdown")
      assert(df.collect().sortBy(_.toString) === w.sortBy(_.toString), name)
    }
    // the filtered global fold serves AVG over the kept row groups too
    def filteredAvg() = graft.operators.Indexed
      .lineitemYearParts(spark, sf("sf0.001"))
      .filter(year(col("l_shipdate")) === 1995)
      .agg(avg(col("l_orderkey")).as("a"), count(lit(1)).as("n"))
    val f = filteredAvg()
    assert(folded(f), f.queryExecution.optimizedPlan.toString)
    spark.conf.set("spark.graft.statsAggPushdown", "false")
    val fw = try filteredAvg().collect()
      finally spark.conf.unset("spark.graft.statsAggPushdown")
    assert(f.collect() === fw, "filtered avg diverged from the scan")
  }

  test("r13: non-key rg-constant filter restricts the grouped fold's universe") {
    val q = SparkEntry.registry.find(_.name == "idx47_groupby_rgfilter").get
    val df = q.fn(spark, sf("sf0.001"))
    assert(folded(df), df.queryExecution.optimizedPlan.toString)
    spark.conf.set("spark.graft.statsAggPushdown", "false")
    val want = try q.fn(spark, sf("sf0.001")).collect()
      finally spark.conf.unset("spark.graft.statsAggPushdown")
    assert(df.collect().sortBy(_.getString(0)) === want.sortBy(_.getString(0)),
      "rg-filtered grouped fold diverged from the scan")
    // mixed: one key-only conjunct + one rg-constant conjunct compose
    def mixed() = graft.operators.Indexed
      .lineitemValueAligned3(spark, sf("sf0.001"))
      .filter(col("l_linestatus") === "F" && col("l_linenumber") <= 3)
      .groupBy("l_linestatus")
      .agg(count(lit(1)).as("n"), sum(col("l_orderkey")).as("sok"))
    val m = mixed()
    assert(folded(m), m.queryExecution.optimizedPlan.toString)
    spark.conf.set("spark.graft.statsAggPushdown", "false")
    val mw = try mixed().collect()
      finally spark.conf.unset("spark.graft.statsAggPushdown")
    assert(m.collect() === mw)
    // a conjunct over a NON-constant, non-key column (l_orderkey varies
    // within row groups) declines the whole fold
    val off = graft.operators.Indexed
      .lineitemValueAligned3(spark, sf("sf0.001"))
      .filter(col("l_orderkey") > 100L)
      .groupBy("l_linestatus").agg(count(lit(1)).as("n"))
    assert(!folded(off), off.queryExecution.optimizedPlan.toString)
    // kill switch (shared with the global path) restores the scan plan
    spark.conf.set("spark.graft.filteredAggPushdown", "false")
    try {
      val ks = q.fn(spark, sf("sf0.001"))
      assert(!folded(ks), ks.queryExecution.optimizedPlan.toString)
      assert(ks.collect().sortBy(_.getString(0)) ===
        want.sortBy(_.getString(0)))
    } finally spark.conf.unset("spark.graft.filteredAggPushdown")
  }

  // hour-aligned time fixture: each 50-row group sits inside ONE
  // wall-clock hour (i/50 = hour index, minutes vary within), 40 hours
  // spanning two days so hour-of-day groups merge across row groups
  private lazy val fxh: (DataFrame, DataFrame) = {
    val base = tempDir("graft-aggpush-h")
    val dir = s"$base/data"
    import spark.implicits._
    graft.operators.Indexed.withMicrosTimestamps(spark) {
      (0 until 2000)
        .map { i =>
          val micros = (i / 50).toLong * 3600000000L +
            (i % 50).toLong * 60000000L
          (i.toLong, new java.sql.Timestamp(micros / 1000L))
        }
        .toDF("k", "ts")
        .coalesce(1)
        .write.option("parquet.block.row.count.limit", "50")
        .mode("overwrite").parquet(dir)
    }
    val (index, schema) = IndexedParquet.buildIndex(
      spark, dir, Seq("k", "ts"), s"$base/statsdb")
    val (df, _) = IndexedParquet.read(spark, dir, index, schema)
    (df, spark.read.parquet(dir))
  }

  test("r13: determined calendar parts serve day-partitioned rollups (idx48-50)") {
    for (name <- Seq("idx48_groupby_dow", "idx49_agg_filtered_dow",
        "idx50_groupby_dom", "idx51_groupby_daylabel",
        "idx52_groupby_dayname", "idx53_groupby_monthanchor",
        "idx54_agg_filtered_label", "idx57_distinct_labels",
        "idx58_weekend_daily_report", "idx60_groupby_yearlabel")) {
      val q = SparkEntry.registry.find(_.name == name).get
      val df = q.fn(spark, sf("sf0.001"))
      assert(folded(df), name + ": " + df.queryExecution.optimizedPlan.toString)
      spark.conf.set("spark.graft.statsAggPushdown", "false")
      val w = try q.fn(spark, sf("sf0.001")).collect()
        finally spark.conf.unset("spark.graft.statsAggPushdown")
      assert(df.collect().sortBy(_.toString) === w.sortBy(_.toString), name)
    }
    // hour(ts) straddles the day-partitioned groups' hour buckets: the
    // determined certificate fails closed, the declarative plan stands
    val off = graft.operators.Indexed.eventsDayParts(spark, sf("sf0.001"))
      .groupBy(hour(col("ts")).as("h")).agg(count(lit(1)).as("n"))
    assert(!folded(off), off.queryExecution.optimizedPlan.toString)
    // month(ts) on the month-straddling lineitemTime layout: declines
    val off2 = graft.operators.Indexed.lineitemTime(spark, sf("sf0.001"))
      .groupBy(month(col("l_shipdate")).as("m")).agg(count(lit(1)).as("n"))
    assert(!folded(off2), off2.queryExecution.optimizedPlan.toString)
  }

  test("r13: determined time parts — hour folds on hour-aligned groups") {
    val (df, plainDf) = fxh
    def q(d: DataFrame) = d.groupBy(hour(col("ts")).as("h"))
      .agg(count(lit(1)).as("n"), min(col("k")).as("mnk"),
        max(col("k")).as("mxk"))
    val g = q(df)
    assert(folded(g), g.queryExecution.optimizedPlan.toString)
    assert(g.collect().sortBy(_.getInt(0)) ===
      q(plainDf).collect().sortBy(_.getInt(0)),
      "hour-of-day profile diverged from the scan")
    // minutes vary within every row group: minute(ts) fails closed
    val m = df.groupBy(minute(col("ts")).as("mi")).agg(count(lit(1)).as("n"))
    assert(!folded(m), m.queryExecution.optimizedPlan.toString)
    // a geographic session zone has no fixed offset — since r14 the
    // DST-PIECEWISE certificate serves it anyway: the fixture's groups
    // are transition-free and NY's offsets are whole hours, so the hour
    // grid at the per-group offset stays row-group aligned. Folds, and
    // equals the scan built under the SAME zone.
    graft.operators.Indexed.withSessionTz(spark, "America/New_York") {
      val zg = q(df)
      assert(folded(zg), zg.queryExecution.optimizedPlan.toString)
      assert(zg.collect().sortBy(_.getInt(0)) ===
        q(plainDf).collect().sortBy(_.getInt(0)))
    }
    // a half-hour offset shifts the hour grid off the row-group
    // alignment: buckets straddle, fail closed
    graft.operators.Indexed.withSessionTz(spark, "+05:30") {
      assert(!folded(q(df)))
    }
    // a whole-hour offset keeps the grid aligned: folds, equals the
    // scan built under the SAME zone
    graft.operators.Indexed.withSessionTz(spark, "+05:00") {
      val zg = q(df)
      assert(folded(zg), zg.queryExecution.optimizedPlan.toString)
      assert(zg.collect().sortBy(_.getInt(0)) ===
        q(plainDf).collect().sortBy(_.getInt(0)))
    }
  }

  test("r13: date_format and calendar-name keys fold at their pattern's grid") {
    val (df, plainDf) = fxh
    def q(d: DataFrame, fmt: String) = d
      .groupBy(date_format(col("ts"), fmt).as("lbl"))
      .agg(count(lit(1)).as("n"), min(col("k")).as("mnk"))
    def scanOf(mk: => DataFrame): Array[org.apache.spark.sql.Row] = {
      spark.conf.set("spark.graft.statsAggPushdown", "false")
      try mk.collect() finally spark.conf.unset("spark.graft.statsAggPushdown")
    }
    // an hour-grid pattern folds on the hour-aligned fixture
    val g = q(df, "yyyy-MM-dd HH")
    assert(folded(g), g.queryExecution.optimizedPlan.toString)
    assert(g.collect().sortBy(_.getString(0)) ===
      scanOf(q(df, "yyyy-MM-dd HH")).sortBy(_.getString(0)))
    // a minute-grid pattern straddles every row group: fails closed
    assert(!folded(q(df, "HH:mm")))
    // sub-second and zone tokens decline outright
    assert(!folded(q(df, "HH:mm:ss.SSS")))
    assert(!folded(q(df, "yyyy z")))
    // a geographic session zone: since r14 the DST-piecewise grid
    // serves the label too (transition-free groups, whole-hour NY
    // offsets keep the hour grid aligned) — folds, equals the scan
    // built under the SAME zone
    graft.operators.Indexed.withSessionTz(spark, "America/New_York") {
      val zg = q(df, "yyyy-MM-dd HH")
      assert(folded(zg), zg.queryExecution.optimizedPlan.toString)
      assert(zg.collect().sortBy(_.getString(0)) ===
        scanOf(q(df, "yyyy-MM-dd HH")).sortBy(_.getString(0)))
    }
    // a whole-hour offset keeps the hour grid aligned: folds, equals the
    // scan built under the SAME zone (labels shift together)
    graft.operators.Indexed.withSessionTz(spark, "+03:00") {
      val zg = q(df, "yyyy-MM-dd HH")
      assert(folded(zg), zg.queryExecution.optimizedPlan.toString)
      assert(zg.collect().sortBy(_.getString(0)) ===
        scanOf(q(df, "yyyy-MM-dd HH")).sortBy(_.getString(0)))
    }
    // day-partitioned layout: day labels, calendar names, month anchors
    val dp = graft.operators.Indexed.eventsDayParts(spark, sf("sf0.001"))
    def labels = dp.groupBy(date_format(col("ts"), "yyyy-MM-dd").as("lbl"))
      .agg(count(lit(1)).as("n"))
    def names = dp.groupBy(dayname(col("ts")).as("dn"),
        monthname(col("ts")).as("mn")).agg(count(lit(1)).as("n"))
    def anchors = dp.groupBy(last_day(col("ts")).as("ld"),
        next_day(col("ts"), "Mon").as("nd")).agg(count(lit(1)).as("n"))
    for ((mk, tag) <- Seq((() => labels, "labels"), (() => names, "names"),
        (() => anchors, "anchors"))) {
      val f = mk()
      assert(folded(f), tag + ": " + f.queryExecution.optimizedPlan.toString)
      assert(f.collect().sortBy(_.toString) ===
        scanOf(mk()).sortBy(_.toString), tag)
    }
    // an hour label on the day-partitioned layout: hours vary within the
    // day's row groups, so the determined certificate fails closed
    assert(!folded(dp.groupBy(date_format(col("ts"), "HH").as("h"))
      .agg(count(lit(1)).as("n"))))
  }

  // epoch-STRADDLING day-aligned fixture: 40 calendar days centered on
  // 1970-01-01 (negative micros with sub-second components — the classic
  // floor-vs-truncate hazard), one 50-row group per day, rows inside the
  // day's first hour so hour-grid patterns certify but minute/second
  // grids straddle
  private lazy val fxe: (DataFrame, DataFrame) = {
    val base = tempDir("graft-aggpush-e")
    val dir = s"$base/data"
    import spark.implicits._
    graft.operators.Indexed.withMicrosTimestamps(spark) {
      (0 until 2000)
        .map { i =>
          val day = (i / 50) - 20
          (i.toLong,
            day.toLong * 86400000000L + (i % 50).toLong * 1234567L + 13L)
        }
        .toDF("k", "us")
        .select(col("k"), timestamp_micros(col("us")).as("ts"))
        .coalesce(1)
        .write.option("parquet.block.row.count.limit", "50")
        .mode("overwrite").parquet(dir)
    }
    val (index, schema) = IndexedParquet.buildIndex(
      spark, dir, Seq("k", "ts"), s"$base/statsdb")
    val (df, _) = IndexedParquet.read(spark, dir, index, schema)
    (df, spark.read.parquet(dir))
  }

  test("r13: date_format pattern sweep straddling the epoch — fold or decline, never wrong") {
    val (df, plain) = fxe
    def q(d: DataFrame, p: String) = d
      .groupBy(date_format(col("ts"), p).as("lbl"))
      .agg(count(lit(1)).as("n"), min(col("k")).as("mnk"))
    // pattern -> must the day-grid fixture fold it?
    val cases = Seq(
      "yyyy" -> true, "yyyy-MM" -> true, "yyyy-'Q'QQ" -> true,
      "yyyy-MM-dd" -> true, "EEEE" -> true, "E" -> true, "D" -> true,
      "yyyy-MM-dd HH" -> true, "a" -> true,
      "HH:mm" -> false, "mm:ss" -> false, "s" -> false)
    for ((p, expectFold) <- cases) {
      val g = q(df, p)
      assert(folded(g) == expectFold,
        s"pattern $p: " + g.queryExecution.optimizedPlan.toString)
      assert(g.collect().sortBy(_.toString) ===
        q(plain, p).collect().sortBy(_.toString),
        s"pattern $p diverged from the scan on pre-1970 days")
    }
  }

  test("an alias shadowing an indexed column declines every fold (soundness)") {
    // withColumn("k", k % 10): same name+type as the indexed column but
    // different values — serving it from the raw catalog stats would be
    // wrong ANSWERS, so the traversal must decline, not certify
    val shadowed = indexed.withColumn("k", pmod(col("k"), lit(10L)))
    def g = shadowed.agg(min(col("k")).as("mn"), max(col("k")).as("mx"),
      sum(col("k")).as("su"))
    assert(!folded(g), g.queryExecution.optimizedPlan.toString)
    val r = g.collect().head
    assert(r.getLong(0) === 0L)
    assert(r.getLong(1) === 9L)
    // the grouped fold and a rename onto an indexed name decline too
    val g2 = shadowed.groupBy(col("k")).agg(count(lit(1)).as("n"))
    assert(!folded(g2), g2.queryExecution.optimizedPlan.toString)
    val renamed = indexed.select(col("s").as("k"))
      .agg(count(col("k")).as("c"))
    assert(!folded(renamed), renamed.queryExecution.optimizedPlan.toString)
    // a non-shadowing computed alias still traverses: the fold survives
    val benign = indexed.withColumn("k2", pmod(col("k"), lit(10L)))
      .agg(min(col("k")).as("mn"), max(col("k")).as("mx"))
    assert(folded(benign), benign.queryExecution.optimizedPlan.toString)
  }

  test("r13: SQL-surface forms (extract / date_part) reach the same certificate") {
    // extract(DOW FROM ts) and date_part('month', ts) are
    // RuntimeReplaceable — the optimizer rewrites them to the same
    // field-extraction expressions the recognizer serves
    val dp = graft.operators.Indexed.eventsDayParts(spark, sf("sf0.001"))
    dp.createOrReplaceTempView("dayparts_sql")
    def q = spark.sql(
      """SELECT extract(DOW FROM ts) AS dw, date_part('month', ts) AS m,
        |  count(*) AS n FROM dayparts_sql GROUP BY 1, 2""".stripMargin)
    assert(folded(q), q.queryExecution.optimizedPlan.toString)
    val got = q.collect().sortBy(_.toString)
    spark.conf.set("spark.graft.statsAggPushdown", "false")
    val want = try q.collect().sortBy(_.toString)
      finally spark.conf.unset("spark.graft.statsAggPushdown")
    assert(got === want)
  }

  test("r13: two date_format patterns on one column are DISTINCT keys") {
    // the certificate id embeds the pattern — month and day labels over
    // the same ts must not dedup into one key
    val dp = graft.operators.Indexed.eventsDayParts(spark, sf("sf0.001"))
    def q = dp.groupBy(date_format(col("ts"), "yyyy-MM").as("mlbl"),
        date_format(col("ts"), "yyyy-MM-dd").as("dlbl"))
      .agg(count(lit(1)).as("n"))
    assert(folded(q), q.queryExecution.optimizedPlan.toString)
    val got = q.collect().sortBy(_.toString)
    spark.conf.set("spark.graft.statsAggPushdown", "false")
    val want = try q.collect().sortBy(_.toString)
      finally spark.conf.unset("spark.graft.statsAggPushdown")
    assert(got === want)
    assert(got.forall(r => r.getString(1).startsWith(r.getString(0))))
  }

  test("r13: global MIN/MAX/COUNT of determined parts fold from constancy") {
    def scanOf(mk: => DataFrame): Array[org.apache.spark.sql.Row] = {
      spark.conf.set("spark.graft.statsAggPushdown", "false")
      try mk.collect() finally spark.conf.unset("spark.graft.statsAggPushdown")
    }
    val q = SparkEntry.registry.find(_.name == "idx55_agg_part_extremes").get
    val df = q.fn(spark, sf("sf0.001"))
    assert(folded(df), df.queryExecution.optimizedPlan.toString)
    assert(df.collect() === scanOf(q.fn(spark, sf("sf0.001"))))
    val dp = graft.operators.Indexed.eventsDayParts(spark, sf("sf0.001"))
    // a straddling part declines: hours vary within a day's row groups
    assert(!folded(dp.agg(min(hour(col("ts"))).as("mh"))))
    // next_day is not null-preserving: COUNT declines ...
    assert(!folded(dp.agg(count(next_day(col("ts"), "Mon")).as("c"))))
    // ... but its MIN folds (the constant-set walk replays Spark's pick)
    def ndq = dp.agg(min(next_day(col("ts"), "Mon")).as("mnnd"),
      max(next_day(col("ts"), "Sun")).as("mxnd"))
    assert(folded(ndq), ndq.queryExecution.optimizedPlan.toString)
    assert(ndq.collect() === scanOf(ndq))
    // hour extremes fold on the hour-aligned fixture
    val (hdf, _) = fxh
    def hq = hdf.agg(min(hour(col("ts"))).as("mn"),
      max(hour(col("ts"))).as("mx"), count(hour(col("ts"))).as("c"))
    assert(folded(hq), hq.queryExecution.optimizedPlan.toString)
    assert(hq.collect() === scanOf(hq))
  }

  test("catalog answers equal the scan answers (kill switch off = ground truth)") {
    def row() = indexed.agg(
      min(col("k")), max(col("k")), min(col("s")), max(col("s")),
      count(lit(1)), count(col("s"))).collect().head
    val viaCatalog = row()
    spark.conf.set("spark.graft.statsAggPushdown", "false")
    try {
      val q = indexed.agg(
        min(col("k")), max(col("k")), min(col("s")), max(col("s")),
        count(lit(1)), count(col("s")))
      assert(!folded(q))
      assert(q.collect().head === viaCatalog)
    } finally spark.conf.unset("spark.graft.statsAggPushdown")
  }

  test("disqualifiers keep the declarative scan plan") {
    // a filter means the catalog scalars no longer answer the question
    assert(!folded(indexed.filter(col("k") > 100).agg(min(col("k")))))
    // grouping
    assert(!folded(indexed.groupBy(col("s")).agg(min(col("k")))))
    // DISTINCT aggregates
    assert(!folded(indexed.agg(countDistinct(col("k")))))
    // floating-point extremes are never certified (NaN/-0.0 comparators)
    assert(!folded(indexed.agg(min(col("v")))))
    // but FP COUNT is type-independent and still folds
    assert(folded(indexed.agg(count(col("v")))))
    // computed input, not an attribute
    assert(!folded(indexed.agg(min(col("k") + 1))))
    // correctness of the fallbacks
    assert(indexed.filter(col("k") > 100).agg(min(col("k"))).collect().head.getLong(0) === 101L)
    assert(indexed.agg(min(col("v"))).collect().head.getDouble(0) === 0.0)
  }

  test("plain parquet relations are untouched") {
    assert(!folded(plain.agg(min(col("k")))))
  }

  test("composition: the ROUTED relation's aggregates fold from the same catalog") {
    // automatic index routing (8.7c) and aggregate pushdown (8.7d) share
    // the IndexedParquetFileIndex seam — a routed relation's global
    // count/min answers from the catalog exactly like the plain one
    val dir = sf("sf0.001")
    val routed = graft.operators.Indexed.lineitemRouted(spark, dir)
    val q = routed.agg(count(lit(1)).as("n"), min(col("l_orderkey")).as("mn"))
    assert(folded(q), q.queryExecution.optimizedPlan.toString)
    val plainCount = graft.Tables.load(spark, dir, "lineitem").count()
    val r = q.collect().head
    assert(r.getLong(0) === plainCount && r.getLong(1) === 0L)
  }

  test("SQL text over the registered indexed view folds too (plan-level rule)") {
    indexed.createOrReplaceTempView("aggpush_indexed")
    val q = spark.sql(
      "SELECT min(k) AS mn, max(s) AS smx, count(*) AS n FROM aggpush_indexed")
    assert(folded(q), q.queryExecution.optimizedPlan.toString)
    val r = q.collect().head
    assert(r.getLong(0) === 0L && r.getString(1) === "s1999" && r.getLong(2) === 2000L)
  }

  test("stale catalog stays consistent: an unindexed file is invisible to BOTH paths") {
    // the relation's file listing IS the catalog (IndexedParquetFileIndex
    // serves allFiles), so a file dropped into the directory without
    // re-indexing is ignored by the scan AND by the catalog scalars —
    // the pushdown can never disagree with the scan it replaces
    val base = tempDir("graft-aggstale")
    val dir = s"$base/data"
    import spark.implicits._
    (0 until 100).map(i => (i.toLong, s"v$i")).toDF("k", "s")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val (index, schema) = IndexedParquet.buildIndex(
      spark, dir, Seq("k"), s"$base/db")
    // a new file arrives AFTER the index build
    (1000 until 1100).map(i => (i.toLong, s"v$i")).toDF("k", "s")
      .coalesce(1).write.mode("append").parquet(dir)
    val (df, _) = IndexedParquet.read(spark, dir, index, schema)
    val viaCatalog = df.agg(max(col("k")).as("mx"), count(lit(1)).as("n")).collect().head
    spark.conf.set("spark.graft.statsAggPushdown", "false")
    try {
      val viaScan = df.agg(max(col("k")).as("mx"), count(lit(1)).as("n")).collect().head
      assert(viaCatalog === viaScan)
      assert(viaCatalog.getLong(0) === 99L && viaCatalog.getLong(1) === 100L)
    } finally spark.conf.unset("spark.graft.statsAggPushdown")
    // re-indexing brings the new file into BOTH views atomically; release
    // the first handle first — an open embedded-Derby connection can hold
    // locks that make the executor-side re-ingest time out under load
    index.close()
    val (index2, schema2) = IndexedParquet.buildIndex(spark, dir, Seq("k"), s"$base/db")
    val (df2, _) = IndexedParquet.read(spark, dir, index2, schema2)
    val after = df2.agg(max(col("k")).as("mx"), count(lit(1)).as("n")).collect().head
    assert(after.getLong(0) === 1099L && after.getLong(1) === 200L)
  }

  // ---- catalog scalar guards (mirrors of RoutingSpec's minIndexedValue) ----

  private def rg(i: Int, cs: ColumnStats, rows: Long = 10L) =
    RowGroupStats(i, rows, i * 100L, 100L, Map("k" -> cs))

  test("maxIndexedValue: exact when certified, refused when NULL-max may hide values") {
    val schema = StructType(Seq(StructField("k", LongType)))
    val db = new DerbyStatsIndex(
      tempDir("graft-maxval") + "/db", schema)
    db.initialize(schema)
    db.addFile(FileStats("f1.parquet", 1000L, 20L, Vector(
      rg(0, ColumnStats(Some(0L), Some(5L), Some(9L))),
      rg(1, ColumnStats(None, None, None))))) // unknown stats, 10 live rows
    assert(db.maxIndexedValue("k") === None)
    db.addFile(FileStats("f1.parquet", 1000L, 20L, Vector(
      rg(0, ColumnStats(Some(0L), Some(5L), Some(9L))),
      rg(1, ColumnStats(Some(10L), None, None))))) // all-null hides nothing
    assert(db.maxIndexedValue("k") === Some(9L))
    db.close()
  }

  test("maxIndexedValue: over-long string maxima were stored NULL — refused") {
    val schema = StructType(Seq(StructField("s", StringType)))
    val db = new DerbyStatsIndex(
      tempDir("graft-maxval2") + "/db", schema)
    db.initialize(schema)
    val longStr = "x" * (DerbyStatsIndex.MaxStringLen + 10)
    db.addFile(FileStats("f1.parquet", 1000L, 10L, Vector(
      RowGroupStats(0, 10L, 0L, 100L, Map(
        "s" -> ColumnStats(Some(0L), Some("a"), Some(longStr)))))))
    // setValue dropped the max to NULL (a truncated max would be a lower
    // bound — unsound), and NULL max over live rows is uncertifiable
    assert(db.maxIndexedValue("s") === None)
    db.close()
  }

  test("totalRowCount / nonNullCount: footer sums, certification, empty catalog") {
    val schema = StructType(Seq(StructField("k", LongType)))
    val db = new DerbyStatsIndex(
      tempDir("graft-counts") + "/db", schema)
    db.initialize(schema)
    assert(db.totalRowCount() === Some(0L)) // empty catalog = zero files scanned
    assert(db.nonNullCount("k") === Some(0L))
    db.addFile(FileStats("f1.parquet", 1000L, 30L, Vector(
      rg(0, ColumnStats(Some(2L), Some(5L), Some(9L)), rows = 10L),
      rg(1, ColumnStats(Some(3L), Some(1L), Some(4L)), rows = 20L))))
    assert(db.totalRowCount() === Some(30L))
    assert(db.nonNullCount("k") === Some(25L))
    // one unknown null count poisons certification of COUNT(col) — but not
    // COUNT(*) (row counts are always present)
    db.addFile(FileStats("f2.parquet", 1000L, 10L, Vector(
      rg(0, ColumnStats(None, Some(0L), Some(1L)), rows = 10L))))
    assert(db.totalRowCount() === Some(40L))
    assert(db.nonNullCount("k") === None)
    db.close()
  }
}
