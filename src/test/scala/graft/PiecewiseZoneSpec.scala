package graft

import graft.index.{KeyImage, PiecewiseZoneConstKey}
import graft.sources.IndexedParquet
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import java.nio.file.Files

/** DST-piecewise constancy certificates (r14): calendar keys read
  * through a GEOGRAPHIC zone certify per row group on transition-free
  * pieces, fail closed on straddlers, and never lie — plus the
  * end-to-end serving paths (grouped fold, scan-path filter) on the
  * NY-day-partitioned fixture.
  */
class PiecewiseZoneSpec extends SparkSpec {

  private val NY = "America/New_York"

  private def micros(s: String): Long =
    java.time.Instant.parse(s).toEpochMilli * 1000L

  private def folded(df: DataFrame): Boolean = {
    val p = df.queryExecution.optimizedPlan
    p.collectFirst { case l: LocalRelation => l }.isDefined &&
      p.collectFirst { case r: LogicalRelation => r }.isEmpty
  }

  test("constantOf certifies transition-free pieces, declines straddlers") {
    val ar = AttributeReference("ts", TimestampType)()
    val (kar, ck) = KeyImage.constKeyOf(Hour(ar, Some(NY)), _ => true).get
    assert(kar.exprId == ar.exprId)
    assert(ck.isInstanceOf[PiecewiseZoneConstKey], ck.toString)
    // NY spring-forward 2024: 2024-03-10 07:00:00Z (02:00 EST -> 03:00 EDT)
    val spring = micros("2024-03-10T07:00:00Z")
    val hourUs = 3600000000L
    // entirely before, inside one EST local hour (01:00-01:59:59 EST)
    assert(ck.constantOf(Long.box(spring - hourUs), Long.box(spring - 1L))
      .contains(1))
    // starting exactly ON the transition: post-transition offset is in
    // force for the whole piece (03:00-03:59:59 EDT)
    assert(ck.constantOf(Long.box(spring), Long.box(spring + hourUs - 1L))
      .contains(3))
    // straddling the transition instant: fail closed
    assert(ck.constantOf(
      Long.box(spring - 1000000L), Long.box(spring)).isEmpty)
    // fall-back 2024-11-03 06:00:00Z (02:00 EDT -> 01:00 EST): straddle
    // declines even though the local hour REPEATS (ambiguity is exactly
    // why the certificate must not reason through the fold)
    val fall = micros("2024-11-03T06:00:00Z")
    assert(ck.constantOf(
      Long.box(fall - 1000000L), Long.box(fall + 1000000L)).isEmpty)
  }

  test("from_utc local-day key: certifies one local day, splits at local midnight") {
    val ar = AttributeReference("ts", TimestampType)()
    val e = Cast(
      FromUTCTimestamp(ar, Literal(UTF8String.fromString(NY), StringType)),
      DateType, Some("UTC"))
    val (_, ck) = KeyImage.constKeyOf(e, _ => true).get
    assert(ck.isInstanceOf[PiecewiseZoneConstKey], ck.toString)
    // the NY local day 2024-01-05 = instants [05:00Z, 05:00Z + 24h)
    val d0 = micros("2024-01-05T05:00:00Z")
    val day = java.time.LocalDate.of(2024, 1, 5).toEpochDay.toInt
    assert(ck.constantOf(Long.box(d0), Long.box(d0 + 86399999999L))
      .contains(day))
    // reaching the next local midnight: grid inequality, declines
    assert(ck.constantOf(Long.box(d0), Long.box(d0 + 86400000000L)).isEmpty)
  }

  test("piecewise certificates never lie (sweep around DST transitions)") {
    val rnd = new scala.util.Random(20260815L)
    val t2023 = micros("2023-01-01T00:00:00Z")
    // Lord Howe Island is the adversarial zone: base offset +10:30, DST
    // delta only 30 MINUTES (+11:00) — half-hour offsets mis-align hour
    // grids and the transition shift is smaller than any other zone's
    for (zone <- Seq(NY, "Europe/Berlin", "Australia/Sydney",
        "Australia/Lord_Howe")) {
      val ltz = AttributeReference("ts", TimestampType)()
      val zlit = Literal(UTF8String.fromString(zone), StringType)
      def futc = FromUTCTimestamp(ltz, zlit)
      val utc: Option[String] = Some("UTC")
      val geo: Option[String] = Some(zone)
      def s(p: String) = Literal(UTF8String.fromString(p), StringType)
      val shapes: Seq[(String, Expression)] = Seq(
        ("castdate-session", Cast(ltz, DateType, geo)),
        ("castdate-futc", Cast(futc, DateType, utc)),
        ("hour-session", Hour(ltz, geo)),
        ("hour-futc", Hour(futc, utc)),
        ("minute-futc", Minute(futc, utc)),
        ("month-futc", Month(Cast(futc, DateType, utc))),
        ("year-session", Year(Cast(ltz, DateType, geo))),
        ("dayofweek-futc", DayOfWeek(Cast(futc, DateType, utc))),
        ("dayname-session", DayName(Cast(ltz, DateType, geo))),
        ("lastday-futc", LastDay(Cast(futc, DateType, utc))),
        ("fmtday-futc", DateFormatClass(futc, s("yyyy-MM-dd EEEE"), utc)),
        ("fmthour-session", DateFormatClass(ltz, s("yyyy-MM-dd HH"), geo)),
        ("fmtmonth-futc", DateFormatClass(futc, s("yyyy-MM"), utc)),
        ("truncday-futc", TruncTimestamp(s("day"), futc, utc)),
        ("truncmonth-session", TruncTimestamp(s("month"), ltz, geo)))
      // the zone's transition instants across 2023-2025, to bias half
      // the sampled intervals into the hard neighborhoods
      val rules = java.time.ZoneId.of(zone).getRules
      val transitions = Iterator
        .iterate(rules.nextTransition(java.time.Instant.ofEpochSecond(t2023 / 1000000L)))(
          t => rules.nextTransition(t.getInstant))
        .takeWhile(t => t != null &&
          t.getInstant.getEpochSecond < t2023 / 1000000L + 3L * 365 * 86400)
        .map(_.getInstant.getEpochSecond * 1000000L)
        .toVector
      assert(transitions.nonEmpty, s"$zone has no transitions in range")
      for ((tag, e) <- shapes) {
        val ckOpt = KeyImage.constKeyOf(e, _ => true)
        assert(ckOpt.isDefined, s"$tag @$zone: recognizer declined")
        val (kar, key) = ckOpt.get
        assert(kar.exprId == ltz.exprId, s"$tag @$zone: wrong leg")
        assert(key.isInstanceOf[PiecewiseZoneConstKey],
          s"$tag @$zone: expected piecewise, got $key")
        def evalAt(v: Long): Any = e.transformUp {
          case x: AttributeReference if x.exprId == ltz.exprId =>
            Literal(java.lang.Long.valueOf(v), TimestampType)
        }.eval(null)
        var certified = 0
        var straddleDeclined = 0
        (1 to 400).foreach { i =>
          val a =
            if (i % 2 == 0) {
              val t = transitions(rnd.nextInt(transitions.size))
              t + ((rnd.nextDouble() * 2 - 1) * 48L * 3600000000L).toLong
            } else t2023 + (rnd.nextDouble() * 2 * 365 * 86400000000L).toLong
          val span = math.pow(10, 2 + rnd.nextDouble() * 11).toLong
          val mn = a
          val mx = a + span
          key.constantOf(java.lang.Long.valueOf(mn), java.lang.Long.valueOf(mx)) match {
            case Some(c) =>
              certified += 1
              assert(evalAt(mn) == c && evalAt(mx) == c,
                s"$tag @$zone: [$mn,$mx] certified $c, endpoints " +
                  s"${evalAt(mn)}/${evalAt(mx)}")
              (1 to 10).foreach { _ =>
                val v = mn + (rnd.nextDouble() * span).toLong
                val got = evalAt(v)
                assert(got == c,
                  s"$tag @$zone: [$mn,$mx] certified $c but micros $v evals $got")
              }
            case None =>
              if (transitions.exists(t => mn < t && t <= mx)) straddleDeclined += 1
          }
        }
        assert(certified > 0, s"$tag @$zone never certified — vacuous sweep")
        assert(straddleDeclined > 0,
          s"$tag @$zone never saw a straddler — the hard case went untested")
      }
    }
  }

  test("idx62 NY local-day rollup folds from the catalog and equals the scan") {
    val q = SparkEntry.registry.find(_.name == "idx62_groupby_nyday").get
    val df = q.fn(spark, sf("sf0.001"))
    assert(folded(df), df.queryExecution.optimizedPlan.toString)
    val viaFold = df.collect().map(_.toString).sorted.toSeq
    spark.conf.set("spark.graft.groupByAggPushdown", "false")
    val viaScan = try {
      val d = q.fn(spark, sf("sf0.001"))
      assert(!folded(d))
      d.collect().map(_.toString).sorted.toSeq
    } finally spark.conf.unset("spark.graft.groupByAggPushdown")
    assert(viaFold === viaScan, "piecewise fold diverged from the scan")
  }

  test("idx63 local labels + parts fold; idx64 filter narrows the scan") {
    val q63 = SparkEntry.registry.find(_.name == "idx63_groupby_nydow").get
    val df63 = q63.fn(spark, sf("sf0.001"))
    assert(folded(df63), df63.queryExecution.optimizedPlan.toString)
    val viaFold = df63.collect().map(_.toString).sorted.toSeq
    spark.conf.set("spark.graft.groupByAggPushdown", "false")
    val viaScan = try q63.fn(spark, sf("sf0.001")).collect().map(_.toString).sorted.toSeq
      finally spark.conf.unset("spark.graft.groupByAggPushdown")
    assert(viaFold === viaScan)

    val q64 = SparkEntry.registry.find(_.name == "idx64_filter_nyweekend").get
    val got = q64.fn(spark, sf("sf0.001")).collect().map(_.toString).sorted.toSeq
    assert(got.nonEmpty)
    val ex = graft.operators.Indexed
      .lastNyDayPartsExecution(spark, sf("sf0.001")).get
    assert(ex.scannedRowGroups < ex.totalRowGroups,
      s"weekday groups not dropped: $ex")
    spark.conf.set("spark.graft.partPrune", "false")
    val want = try q64.fn(spark, sf("sf0.001")).collect().map(_.toString).sorted.toSeq
      finally spark.conf.unset("spark.graft.partPrune")
    assert(got === want, "piecewise scan-path filter diverged")
  }

  test("idx66 one-local-day drill-down narrows; idx67 filtered report folds") {
    // equality on the piecewise local-day key keeps ~1 of ~31 day files
    val q66 = SparkEntry.registry.find(_.name == "idx66_filter_nyday_eq").get
    val got66 = q66.fn(spark, sf("sf0.001")).collect().map(_.toString).sorted.toSeq
    assert(got66.nonEmpty)
    val ex = graft.operators.Indexed
      .lastNyDayPartsExecution(spark, sf("sf0.001")).get
    assert(ex.scannedRowGroups * 10 < ex.totalRowGroups,
      s"one local day should scan ~1/31 of the groups: $ex")
    assert(ex.route.exists(_.startsWith("part-pw-interval")),
      s"interval drops must carry their own route tag: ${ex.route}")
    spark.conf.set("spark.graft.partPrune", "false")
    val want66 = try q66.fn(spark, sf("sf0.001")).collect().map(_.toString).sorted.toSeq
      finally spark.conf.unset("spark.graft.partPrune")
    assert(got66 === want66)

    // the combined local-weekend report: piecewise filter + piecewise
    // label + ledgers, one LocalRelation, equals the kill-switched scan
    val q67 = SparkEntry.registry.find(_.name == "idx67_ny_weekend_report").get
    val df67 = q67.fn(spark, sf("sf0.001"))
    assert(folded(df67), df67.queryExecution.optimizedPlan.toString)
    val viaFold = df67.collect().map(_.toString).sorted.toSeq
    spark.conf.set("spark.graft.groupByAggPushdown", "false")
    val viaScan = try q67.fn(spark, sf("sf0.001")).collect().map(_.toString).sorted.toSeq
      finally spark.conf.unset("spark.graft.groupByAggPushdown")
    assert(viaFold === viaScan, "combined piecewise report diverged from the scan")
  }

  test("idx68 distinct local labels and idx69 part extremes fold") {
    Seq("idx68_distinct_nylabels", "idx69_agg_nyextremes").foreach { name =>
      val q = SparkEntry.registry.find(_.name == name).get
      val df = q.fn(spark, sf("sf0.001"))
      assert(folded(df), s"$name: " + df.queryExecution.optimizedPlan.toString)
      val viaFold = df.collect().map(_.toString).sorted.toSeq
      spark.conf.set("spark.graft.statsAggPushdown", "false")
      spark.conf.set("spark.graft.groupByAggPushdown", "false")
      val viaScan = try q.fn(spark, sf("sf0.001")).collect().map(_.toString).sorted.toSeq
        finally {
          spark.conf.unset("spark.graft.statsAggPushdown")
          spark.conf.unset("spark.graft.groupByAggPushdown")
        }
      assert(viaFold === viaScan, s"$name diverged from the scan")
    }
  }

  test("interval narrowing INSIDE a file takes the byte-range scan leaf") {
    import spark.implicits._
    // a ts-SORTED events layout (one file, many row groups): a
    // one-local-day drill-down narrows WITHIN the file, where listFiles
    // can only drop whole files — PartPruneScan must substitute the
    // byte-range RowGroupScan leaf so off-day groups are never read
    val base = tempDir("graft-pwz-sorted")
    val dir = s"$base/data"
    val start = micros("2024-01-01T00:00:00Z")
    val src = (0 until 24 * 20).map(h => (start + h * 3600000000L, h.toLong))
      .toDF("us", "v")
      .select(timestamp_micros(col("us")).as("ts"), col("v"))
    graft.operators.Indexed.withMicrosTimestamps(spark) {
      src.orderBy("ts").coalesce(1)
        .write.option("parquet.block.row.count.limit", "48")
        .mode("overwrite").parquet(dir)
    }
    val (idx, schema) = IndexedParquet.buildIndex(
      spark, dir, Seq("ts", "v"), s"$base/db")
    val (df, fi) = IndexedParquet.read(spark, dir, idx, schema)
    val nyDay = to_date(from_utc_timestamp(col("ts"), NY))
    val q = df.filter(nyDay === lit(java.sql.Date.valueOf("2024-01-10")))
    val got = q.collect().map(_.getLong(1)).sorted.toSeq
    val want = spark.read.parquet(dir)
      .filter(nyDay === lit(java.sql.Date.valueOf("2024-01-10")))
      .collect().map(_.getLong(1)).sorted.toSeq
    assert(got === want)
    assert(got.size === 24)
    val ex = fi.lastExecution.get
    assert(ex.scannedRowGroups < ex.totalRowGroups,
      s"within-file narrowing missing: $ex")
    // the narrowed groups live INSIDE the single file, so the plan must
    // carry the byte-range RowGroupScan leaf (whole-file drops can't serve)
    val planStr = q.queryExecution.executedPlan.toString
    assert(planStr.contains("RowGroupScan"),
      s"expected the byte-range leaf, got:\n${planStr.take(1200)}")
  }

  test("interval engine soundness sweep: random local ranges across both 2024 transitions") {
    import spark.implicits._
    // ~12 days of 10-minute ticks around BOTH 2024 NY transitions,
    // 4-row row groups: ~430 groups, many straddling candidates. Every
    // random local-date range filtered through the indexed read (the
    // interval engine decides keep/drop per group) must equal the plain
    // scan — a single wrong wholesale drop shows up as missing rows.
    val base = tempDir("graft-pwz-sweep")
    val dir = s"$base/data"
    val spans = Seq(
      micros("2024-03-07T00:00:00Z") -> (6 * 144),  // Mar 7-13
      micros("2024-10-31T00:00:00Z") -> (6 * 144))  // Oct 31 - Nov 6
    val rows = spans.flatMap { case (s0, n) =>
      (0 until n).map(i => (s0 + i * 600000000L, i.toLong))
    }
    graft.operators.Indexed.withMicrosTimestamps(spark) {
      rows.toDF("us", "v")
        .select(timestamp_micros(col("us")).as("ts"), col("v"))
        .orderBy("ts").coalesce(1)
        .write.option("parquet.block.row.count.limit", "4")
        .mode("overwrite").parquet(dir)
    }
    val (idx, schema) = IndexedParquet.buildIndex(
      spark, dir, Seq("ts", "v"), s"$base/db")
    val (df, fi) = IndexedParquet.read(spark, dir, idx, schema)
    val plain = spark.read.parquet(dir)
    val nyDay = to_date(from_utc_timestamp(col("ts"), NY))
    val rnd = new scala.util.Random(20260815L)
    val days = Seq("2024-03-08", "2024-03-09", "2024-03-10", "2024-03-11",
      "2024-11-01", "2024-11-02", "2024-11-03", "2024-11-04")
    var narrowed = 0
    (1 to 60).foreach { i =>
      val d1 = java.sql.Date.valueOf(days(rnd.nextInt(days.size)))
      val d2 = java.sql.Date.valueOf(days(rnd.nextInt(days.size)))
      val (lo, hi) = if (d1.before(d2)) (d1, d2) else (d2, d1)
      val pred = i % 4 match {
        case 0 => nyDay >= lit(lo) && nyDay <= lit(hi) // range
        case 1 => nyDay === lit(lo)                    // equality
        case 2 => nyDay =!= lit(lo)                    // negation (Not∘decided)
        case _ => nyDay.isin(lo, hi)                   // IN-list
      }
      val got = df.filter(pred).collect().map(_.getLong(1)).sorted.toSeq
      val want = plain.filter(pred).collect().map(_.getLong(1)).sorted.toSeq
      assert(got === want, s"shape ${i % 4} [$lo, $hi] diverged through the engine")
      val ex = fi.lastExecution.get
      if (ex.scannedRowGroups < ex.totalRowGroups) narrowed += 1
    }
    assert(narrowed > 0, "the sweep never narrowed — vacuous")
  }

  test("a sink-built catalog serves the piecewise fold (streaming composition)") {
    import spark.implicits._
    // three NY-local days land as three micro-batches through
    // IndexedSink; the local-day rollup must fold from exactly the
    // catalog the SINK built, through the piecewise certificate
    val base = tempDir("graft-pwz-sink")
    val dataDir = s"$base/data"
    new java.io.File(dataDir).mkdirs()
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("ts",
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.LongType)))
    val index = new graft.index.DerbyStatsIndex(s"$base/db", schema)
    index.initialize(schema)
    val hconf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val day0 = micros("2024-01-05T05:00:00Z") // NY-local midnight
    graft.operators.Indexed.withMicrosTimestamps(spark) {
      (0 until 3).foreach { d =>
        val rows = (0 until 24).map { h =>
          (day0 + (d * 24 + h) * 3600000000L, (d * 100 + h).toLong)
        }
        graft.streaming.IndexedSink.commitBatch(
          rows.toDF("us", "v")
            .select(timestamp_micros(col("us")).as("ts"), col("v")),
          d.toLong, dataDir, index, Seq("ts", "v"), hconf)
      }
    }
    index.rebuildShadows(spark, dataDir, index.allFiles(), schema,
      freqCols = Nil, sumCols = Seq("v"))
    val (df, _) = IndexedParquet.read(spark, dataDir, index, schema)
    val nyDay = to_date(from_utc_timestamp(col("ts"), NY))
    val g = df.groupBy(nyDay.as("d"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
    assert(folded(g), g.queryExecution.optimizedPlan.toString)
    val got = g.collect().map(r =>
      (r.getDate(0).toString, r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    val want = spark.read.parquet(dataDir).groupBy(nyDay.as("d"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
      .collect().map(r =>
        (r.getDate(0).toString, r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    assert(got === want, "sink-built piecewise fold diverged from the scan")
    assert(got.size === 3)
    index.close()
  }

  test("a local-date range folds a global count/sum over groups wholly inside or outside it") {
    import spark.implicits._
    // hourly instants from NY-local midnight 2024-01-01, sorted into
    // 48-row groups = two local days each: no group is constant in the
    // local day, but against a range starting on a group boundary every
    // group lies wholly inside or wholly outside it
    val base = tempDir("graft-pwz-range-fold")
    val dir = s"$base/data"
    val start = micros("2024-01-01T05:00:00Z")
    graft.operators.Indexed.withMicrosTimestamps(spark) {
      (0 until 6 * 24).map(h => (start + h * 3600000000L, h.toLong))
        .toDF("us", "v")
        .select(timestamp_micros(col("us")).as("ts"), col("v"))
        .orderBy("ts").coalesce(1)
        .write.option("parquet.block.row.count.limit", "48")
        .mode("overwrite").parquet(dir)
    }
    val (idx, schema) = IndexedParquet.buildIndex(
      spark, dir, Seq("ts", "v"), s"$base/db")
    idx.rebuildShadows(spark, dir, idx.allFiles(), schema, freqCols = Nil, sumCols = Seq("v"))
    val (df, _) = IndexedParquet.read(spark, dir, idx, schema)
    val nyDay = to_date(from_utc_timestamp(col("ts"), NY))
    def q(from: String) = df.filter(nyDay >= lit(java.sql.Date.valueOf(from)))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
    def answer(d: DataFrame) = d.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    def killSwitched(from: String) = {
      spark.conf.set("spark.graft.filteredAggPushdown", "false")
      try {
        val d = q(from)
        assert(!folded(d))
        answer(d)
      } finally spark.conf.unset("spark.graft.filteredAggPushdown")
    }
    // Jan 3 starts the second group: the last two groups lie inside, the
    // first outside
    val inside = q("2024-01-03")
    assert(folded(inside), inside.queryExecution.optimizedPlan.toString)
    assert(answer(inside) === killSwitched("2024-01-03"))
    assert(answer(inside) === Seq((96L, (48L until 144L).sum)))
    // Jan 4 splits the second group: undecided, so the fold declines
    val straddling = q("2024-01-04")
    assert(!folded(straddling), straddling.queryExecution.optimizedPlan.toString)
    assert(answer(straddling) === killSwitched("2024-01-04"))
  }

  test("a transition-straddling row group fails the fold closed, stays correct") {
    import spark.implicits._
    val base = tempDir("graft-pwz")
    val dir = s"$base/data"
    // hourly instants Mar 8-12 2024, partitioned by NY local day, ONE
    // row group per day: the Mar 10 group contains the 07:00Z
    // spring-forward, so the local-day fold must decline wholesale
    val start = micros("2024-03-08T05:00:00Z")
    val src = (0 until 4 * 24).map(h => (start + h * 3600000000L, h.toLong))
      .toDF("us", "v")
      .select(timestamp_micros(col("us")).as("ts"), col("v"))
    val nyDay = to_date(from_utc_timestamp(col("ts"), NY))
    val days = src.select(nyDay.as("d")).distinct()
      .collect().map(_.getDate(0)).sortBy(_.getTime)
    graft.operators.Indexed.withMicrosTimestamps(spark) {
      days.zipWithIndex.foreach { case (d, i) =>
        src.filter(nyDay === lit(d)).coalesce(1)
          .write.mode(if (i == 0) "overwrite" else "append").parquet(dir)
      }
    }
    val (idx, schema) = IndexedParquet.buildIndex(
      spark, dir, Seq("ts", "v"), s"$base/db")
    val (df, _) = IndexedParquet.read(spark, dir, idx, schema)
    val g = df.groupBy(nyDay.as("d")).agg(count(lit(1)).as("n"))
    assert(!folded(g),
      "the Mar 10 straddler must fail the whole fold closed:\n" +
        g.queryExecution.optimizedPlan.toString)
    val got = g.collect().map(r => (r.getDate(0).toString, r.getLong(1)))
      .sortBy(_._1).toSeq
    val want = spark.read.parquet(dir)
      .groupBy(nyDay.as("d")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getDate(0).toString, r.getLong(1)))
      .sortBy(_._1).toSeq
    assert(got === want, "declined fold must still answer via the scan")
    // the piecewise INTERVAL engine across the same transition: a
    // local-day equality (Spark unwraps it to a from_utc range) must
    // keep the straddling Mar 10 group (undecidable wholesale) and
    // still answer exactly on every day, transition day included
    Seq("2024-03-09", "2024-03-10", "2024-03-11").foreach { d =>
      val gotDay = df.filter(nyDay === lit(java.sql.Date.valueOf(d)))
        .collect().map(_.getLong(1)).sorted.toSeq
      val wantDay = spark.read.parquet(dir)
        .filter(nyDay === lit(java.sql.Date.valueOf(d)))
        .collect().map(_.getLong(1)).sorted.toSeq
      assert(gotDay === wantDay, s"local day $d through the interval engine")
      assert(gotDay.nonEmpty, s"local day $d unexpectedly empty")
    }
  }
}
