package graft

import graft.index.DerbyStatsIndex
import graft.prune.TopKPruning
import graft.sources.{IndexedParquet, RowGroupSkipScan}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.nio.file.Files

/** Catalog-side top-k pruning (prune/TopKPruning): `ORDER BY c LIMIT k`
  * scans only row groups that can provably contribute.
  *
  *  - Effectiveness: on the range-clustered idx fixture a top-10 probe
  *    keeps ≤ a handful of ~60 row groups (clustering makes minima tight,
  *    so one tail row group's guarantee covers k).
  *  - Soundness: on an adversarial fixture (shuffled values, nulls, ties)
  *    the pruned scan's sorted top k equals the full scan's for many
  *    (k, direction, null-order) combinations.
  *  - Degrade: an uncoverable k (> table rows) returns the full plan set.
  */
class TopKPruningSpec extends SparkSpec {

  // ---- effectiveness on the clustered idx fixture --------------------------

  test("top-10 DESC on the clustering key keeps a handful of ~60 row groups") {
    val dir = sf("sf0.001")
    val q = SparkEntry.registry.find(_.name == "idx16_topk").get
    val rows = q.fn(spark, dir).collect()
    assert(rows.length === 10)
    val (index, _, _) = graft.operators.Indexed.fixture(spark, dir)
    val total = index.allFiles().map(_.scanRowGroups.size).sum
    val kept = TopKPruning.prune(index, "l_orderkey", 10, descending = true)
      .map(_.scanRowGroups.size).sum
    assert(total >= 8, s"fixture should have several row groups, saw $total")
    assert(kept <= math.max(2, total / 4),
      s"top-k pruning kept $kept of $total row groups")
  }

  test("ascending top-k prunes via maxima (the mirror path)") {
    val dir = sf("sf0.001")
    val (index, _, _) = graft.operators.Indexed.fixture(spark, dir)
    val total = index.allFiles().map(_.scanRowGroups.size).sum
    // l_orderkey has no nulls, so Spark's ASC NULLS FIRST default cannot
    // be beaten by a null — but the pruner doesn't know that and must
    // still keep any group with nullCount > 0 (here: none)
    val kept = TopKPruning.prune(index, "l_orderkey", 10, descending = false)
      .map(_.scanRowGroups.size).sum
    assert(kept <= math.max(2, total / 4),
      s"ASC top-k pruning kept $kept of $total row groups")
  }

  // ---- soundness on an adversarial fixture ---------------------------------

  // 4000 rows over 50-row row groups (80 groups). LOCALLY shuffled,
  // globally increasing (v = i + noise(500)): row-group ranges overlap
  // their ~10 neighbors but trend upward — the realistic
  // roughly-time-clustered shape where top-k pruning fires without being
  // trivially exact. ~10% nulls, heavy ties (key = v / 3), plus a unique
  // tiebreak column. (A FULLY shuffled key is the degrade case — every
  // group spans the domain and nothing can prune; the sweep below still
  // covers it implicitly through the groups whose ranges do overlap.)
  private lazy val fx: (String, DerbyStatsIndex, StructType) = {
    val base = tempDir("graft-topk")
    val dir = s"$base/data"
    import spark.implicits._
    (0 until 4000)
      .map { i =>
        val v = i.toLong + ((i.toLong * 2971L) % 500L)
        (i.toLong, if (v % 10 == 0) None else Some(v / 3), s"s-${v % 97}")
      }
      .toDF("id", "key", "skey")
      .coalesce(1)
      .write.option("parquet.block.row.count.limit", "50")
      .mode("overwrite").parquet(dir)
    val (index, schema) = IndexedParquet.buildIndex(
      spark, dir, Seq("id", "key", "skey"), s"$base/statsdb")
    (dir, index.asInstanceOf[DerbyStatsIndex], schema)
  }

  private def topK(
      k: Int, descending: Boolean, nullsFirst: Boolean): (Seq[Row], Seq[Row], Int) = {
    val (dir, index, schema) = fx
    val key = if (descending) {
      if (nullsFirst) col("key").desc_nulls_first else col("key").desc_nulls_last
    } else {
      if (nullsFirst) col("key").asc_nulls_first else col("key").asc_nulls_last
    }
    val order = Seq(key, col("id").asc)
    val plans = TopKPruning.prune(index, "key", k, descending, nullsFirst)
    val kept = plans.map(_.scanRowGroups.size).sum
    val got = RowGroupSkipScan.scan(spark, dir, plans, schema)
      .orderBy(order: _*).limit(k).select("id", "key").collect().toSeq
    val want = spark.read.parquet(dir)
      .orderBy(order: _*).limit(k).select("id", "key").collect().toSeq
    (got, want, kept)
  }
  private type Row = org.apache.spark.sql.Row

  test("pruned top-k equals full top-k across k × direction × null order") {
    val total = fx._2.allFiles().map(_.scanRowGroups.size).sum
    var anyPruned = false
    for {
      k <- Seq(1, 7, 64, 500)
      descending <- Seq(true, false)
      nullsFirst <- Seq(true, false)
    } {
      val (got, want, kept) = topK(k, descending, nullsFirst)
      assert(got === want,
        s"k=$k desc=$descending nullsFirst=$nullsFirst: pruned scan diverged")
      assert(kept <= total)
      if (kept < total) anyPruned = true
    }
    assert(anyPruned, "pruning never fired — the fixture is too easy")
  }

  test("string keys prune soundly (code-point ordering, truncation-safe minima)") {
    val (got, want, kept) = {
      val (dir, index, schema) = fx
      val order = Seq(col("skey").desc_nulls_last, col("id").asc)
      val plans = TopKPruning.prune(index, "skey", 25, descending = true)
      (RowGroupSkipScan.scan(spark, dir, plans, schema)
        .orderBy(order: _*).limit(25).select("id", "skey").collect().toSeq,
        spark.read.parquet(dir)
          .orderBy(order: _*).limit(25).select("id", "skey").collect().toSeq,
        plans.map(_.scanRowGroups.size).sum)
    }
    assert(got === want)
    assert(kept >= 1)
  }

  // ---- the automatic optimizer rule (plans/TopKPushdown) -------------------

  test("plain orderBy().limit() on the indexed relation prunes automatically") {
    val dir = sf("sf0.001")
    val df = graft.operators.Indexed.lineitemIndexed(spark, dir)
    // (l_orderkey, l_linenumber) is not unique in the synthetic data —
    // order by every selected column so the boundary is deterministic
    val ord = Seq(col("l_orderkey").desc, col("l_linenumber").desc,
      col("l_quantity").desc)
    val got = df.orderBy(ord: _*)
      .limit(10).select("l_orderkey", "l_linenumber", "l_quantity").collect()
    val want = spark.read.parquet(s"$dir/lineitem.parquet")
      .orderBy(ord: _*)
      .limit(10).select("l_orderkey", "l_linenumber", "l_quantity").collect()
    assert(got === want)
    val exec = graft.operators.Indexed.lastExecution(spark, dir).get
    assert(exec.route === Seq("topk(l_orderkey)"),
      s"rule did not fire: ${exec.route}")
    assert(exec.scannedRowGroups <= math.max(2, exec.totalRowGroups / 4),
      s"kept ${exec.scannedRowGroups} of ${exec.totalRowGroups}")
  }

  test("the SQL surface fires the rule too (ORDER BY ... LIMIT over the view)") {
    val dir = sf("sf0.001")
    graft.operators.Indexed.lineitemIndexed(spark, dir)
      .createOrReplaceTempView("topk_lineitem")
    val got = spark.sql(
      """SELECT l_orderkey, l_linenumber, l_quantity FROM topk_lineitem
        |ORDER BY l_orderkey DESC, l_linenumber DESC, l_quantity DESC
        |LIMIT 10""".stripMargin).collect()
    val exec = graft.operators.Indexed.lastExecution(spark, dir).get
    assert(exec.route === Seq("topk(l_orderkey)"), s"route: ${exec.route}")
    assert(got.length === 10)
    assert(got.head.getLong(0) >= got.last.getLong(0))
  }

  test("a sort-column range filter takes the filtered top-k path") {
    val dir = sf("sf0.001")
    val df = graft.operators.Indexed.lineitemIndexed(spark, dir)
    val ord = Seq(col("l_orderkey").desc, col("l_linenumber").desc)
    // time-window-latest-k shape: both the filter and the ordering are on
    // the clustering key, so stats certify the threshold inside the window
    val got = df.filter(col("l_orderkey").between(100L, 1200L))
      .orderBy(ord: _*).limit(5)
      .select("l_orderkey", "l_linenumber").collect()
    val want = spark.read.parquet(s"$dir/lineitem.parquet")
      .filter(col("l_orderkey").between(100L, 1200L))
      .orderBy(ord: _*).limit(5)
      .select("l_orderkey", "l_linenumber").collect()
    assert(got === want)
    val exec = graft.operators.Indexed.lastExecution(spark, dir).get
    assert(exec.route === Seq("topk-filtered(l_orderkey)"), s"${exec.route}")
    // the window spans ~45 of 60 row groups; the top-5 needs ~1
    assert(exec.scannedRowGroups <= 4,
      s"kept ${exec.scannedRowGroups} of ${exec.totalRowGroups}")
  }

  test("a literal-first sort-column bound takes the filtered top-k path") {
    val dir = sf("sf0.001")
    val df = graft.operators.Indexed.lineitemIndexed(spark, dir)
    val ord = Seq(col("l_orderkey"), col("l_linenumber"))
    // `100 <= l_orderkey` is the mirror of `l_orderkey >= 100`
    val pred = lit(100L) <= col("l_orderkey")
    val got = df.filter(pred).orderBy(ord: _*).limit(5)
      .select("l_orderkey", "l_linenumber").collect()
    val exec = graft.operators.Indexed.lastExecution(spark, dir).get
    assert(exec.route === Seq("topk-filtered(l_orderkey)"), s"${exec.route}")
    val want = spark.read.parquet(s"$dir/lineitem.parquet")
      .filter(pred).orderBy(ord: _*).limit(5)
      .select("l_orderkey", "l_linenumber").collect()
    assert(got === want)
  }

  test("an OTHER-column filter on an UNCLUSTERED layout leaves the declarative plan") {
    val dir = sf("sf0.001")
    val df = graft.operators.Indexed.lineitemIndexed(spark, dir)
    // l_returnflag is not the sort column AND the idx fixture clusters only
    // l_orderkey — every row group spans all flags, so the composite
    // certificate can never prove a group all-pass: pruneComposite degrades
    // to the filter's own stats plans, the rewrite sees no narrowing, and
    // the declarative plan must stand (the sound fallback)
    val got = df.filter(col("l_returnflag") === "R")
      .orderBy(col("l_orderkey").desc, col("l_linenumber").desc).limit(5)
      .select("l_orderkey", "l_linenumber").collect()
    val want = spark.read.parquet(s"$dir/lineitem.parquet")
      .filter(col("l_returnflag") === "R")
      .orderBy(col("l_orderkey").desc, col("l_linenumber").desc).limit(5)
      .select("l_orderkey", "l_linenumber").collect()
    assert(got === want)
    val exec = graft.operators.Indexed.lastExecution(spark, dir).get
    assert(!exec.route.exists(_.startsWith("topk")),
      s"rule fired through a non-sort-column Filter: ${exec.route}")
  }

  test("filtered pruning is sound across windows × k × direction (fixture sweep)") {
    val (dir, index, schema) = fx
    val total = index.allFiles().map(_.scanRowGroups.size).sum
    var anyNarrowed = false
    for {
      (loV, hiV) <- Seq((200L, 900L), (0L, 1400L), (600L, 650L))
      k <- Seq(1, 16, 200)
      descending <- Seq(true, false)
    } {
      val pred = col("key") >= loV && col("key") <= hiV
      val resolved = RowGroupSkipScan.resolvePredicate(spark, schema, pred)
      val statsPlans = index.getFiles(resolved)
      val plans = TopKPruning.pruneFiltered(index, "key", k.toLong, descending,
        Some((loV, true)), Some((hiV, true)), statsPlans)
      val kept = plans.map(_.scanRowGroups.size).sum
      assert(kept <= statsPlans.map(_.scanRowGroups.size).sum)
      if (kept < statsPlans.map(_.scanRowGroups.size).sum) anyNarrowed = true
      val ord =
        if (descending) Seq(col("key").desc_nulls_last, col("id").asc)
        else Seq(col("key").asc_nulls_last, col("id").asc)
      val got =
        if (plans.isEmpty) Seq.empty
        else RowGroupSkipScan.scan(spark, dir, plans, schema)
          .filter(pred).orderBy(ord: _*).limit(k).select("id", "key")
          .collect().toSeq
      val want = spark.read.parquet(dir)
        .filter(pred).orderBy(ord: _*).limit(k).select("id", "key")
        .collect().toSeq
      assert(got === want,
        s"window=[$loV,$hiV] k=$k desc=$descending diverged (kept $kept/$total)")
    }
    assert(anyNarrowed, "filtered pruning never narrowed — fixture too easy")
  }

  test("composite filtered top-k fires on the (flag, orderkey)-clustered layout") {
    val dir = sf("sf0.001")
    val df = graft.operators.Indexed.lineitemComposite(spark, dir)
    val ord = Seq(col("l_orderkey").desc, col("l_linenumber").desc,
      col("l_quantity").desc)
    val got = df.filter(col("l_returnflag") === "R")
      .orderBy(ord: _*).limit(10)
      .select("l_orderkey", "l_linenumber", "l_quantity").collect()
    val want = spark.read.parquet(s"$dir/lineitem.parquet")
      .filter(col("l_returnflag") === "R")
      .orderBy(ord: _*).limit(10)
      .select("l_orderkey", "l_linenumber", "l_quantity").collect()
    assert(got === want)
    val exec = graft.operators.Indexed.lastCompositeExecution(spark, dir).get
    assert(exec.route.exists(_.startsWith("topk-composite(l_orderkey")),
      s"composite rule did not fire: ${exec.route}")
    assert(exec.scannedRowGroups < exec.totalRowGroups,
      s"kept ${exec.scannedRowGroups} of ${exec.totalRowGroups}")
  }

  test("composite pruning is sound across other-col windows × k × direction × null order") {
    val (dir, index, schema) = fx
    var anyNarrowed = false
    for {
      (loV, hiV) <- Seq((0L, 1000L), (1200L, 3200L), (3900L, 3999L))
      k <- Seq(1, 16, 200)
      descending <- Seq(true, false)
      nullsFirst <- Seq(true, false)
    } {
      // filter on `id` (perfectly clustered: written in id order), sort by
      // `key` (locally shuffled, globally increasing, ~10% nulls, ties)
      val pred = col("id") >= loV && col("id") <= hiV
      val resolved = RowGroupSkipScan.resolvePredicate(spark, schema, pred)
      val statsPlans = index.getFiles(resolved)
      val others = Seq(TopKPruning.OtherColBounds(
        "id", Some((loV, true)), Some((hiV, true))))
      val plans = TopKPruning.pruneComposite(index, "key", k.toLong,
        descending, nullsFirst, None, None, others, statsPlans)
      // the Derby index serves the composite fast path; the planner-side
      // reference algorithm must produce the identical plan set
      val viaPlanner = TopKPruning.pruneComposite(plannerOnly(index), "key",
        k.toLong, descending, nullsFirst, None, None, others, statsPlans)
      assert(plans.map(p => p.fileName -> p.scanRowGroups).toMap ===
        viaPlanner.map(p => p.fileName -> p.scanRowGroups).toMap,
        s"id∈[$loV,$hiV] k=$k desc=$descending nf=$nullsFirst: " +
          "catalog and planner composite paths diverged")
      val statsKept = statsPlans.map(_.scanRowGroups.size).sum
      val kept = plans.map(_.scanRowGroups.size).sum
      assert(kept <= statsKept)
      if (kept < statsKept) anyNarrowed = true
      val keyOrd = (descending, nullsFirst) match {
        case (true, true)   => col("key").desc_nulls_first
        case (true, false)  => col("key").desc_nulls_last
        case (false, true)  => col("key").asc_nulls_first
        case (false, false) => col("key").asc_nulls_last
      }
      val ord = Seq(keyOrd, col("id").asc)
      val got =
        if (plans.isEmpty) Seq.empty
        else RowGroupSkipScan.scan(spark, dir, plans, schema)
          .filter(pred).orderBy(ord: _*).limit(k).select("id", "key")
          .collect().toSeq
      val want = spark.read.parquet(dir)
        .filter(pred).orderBy(ord: _*).limit(k).select("id", "key")
        .collect().toSeq
      assert(got === want,
        s"id∈[$loV,$hiV] k=$k desc=$descending nf=$nullsFirst diverged " +
          s"(kept $kept/$statsKept)")
    }
    assert(anyNarrowed, "composite pruning never narrowed — fixture too easy")
  }

  test("disjunctive IN-list top-k fires on the clustered layout (idx20 shape)") {
    val dir = sf("sf0.001")
    val df = graft.operators.Indexed.lineitemComposite(spark, dir)
    val ord = Seq(col("l_orderkey").desc, col("l_linenumber").desc,
      col("l_quantity").desc)
    val got = df.filter(col("l_returnflag").isin("R", "A"))
      .orderBy(ord: _*).limit(10)
      .select("l_orderkey", "l_linenumber", "l_quantity").collect()
    val want = spark.read.parquet(s"$dir/lineitem.parquet")
      .filter(col("l_returnflag").isin("R", "A"))
      .orderBy(ord: _*).limit(10)
      .select("l_orderkey", "l_linenumber", "l_quantity").collect()
    assert(got === want)
    val exec = graft.operators.Indexed.lastCompositeExecution(spark, dir).get
    assert(exec.route.exists(_.startsWith("topk-composite(l_orderkey")),
      s"disjunctive rule did not fire: ${exec.route}")
    assert(exec.scannedRowGroups < exec.totalRowGroups,
      s"kept ${exec.scannedRowGroups} of ${exec.totalRowGroups}")
  }

  test("an OR of conjunct sets fires the disjunctive rule too") {
    val dir = sf("sf0.001")
    val df = graft.operators.Indexed.lineitemComposite(spark, dir)
    val ord = Seq(col("l_orderkey").desc, col("l_linenumber").desc,
      col("l_quantity").desc)
    val pred = (col("l_returnflag") === "R" && col("l_orderkey") >= 100L) ||
      (col("l_returnflag") === "A")
    val got = df.filter(pred).orderBy(ord: _*).limit(10)
      .select("l_orderkey", "l_linenumber", "l_quantity").collect()
    val want = spark.read.parquet(s"$dir/lineitem.parquet")
      .filter(pred).orderBy(ord: _*).limit(10)
      .select("l_orderkey", "l_linenumber", "l_quantity").collect()
    assert(got === want)
    val exec = graft.operators.Indexed.lastCompositeExecution(spark, dir).get
    assert(exec.route.exists(_.startsWith("topk-composite(l_orderkey")),
      s"disjunctive rule did not fire on OR: ${exec.route}")
  }

  test("disjunctive pruning is sound across disjunct shapes × k × direction × null order") {
    val (dir, index, schema) = fx
    var anyNarrowed = false
    // shapes: two disjoint other-col windows; overlapping windows; a
    // window OR a bare sort-side disjunct (nulls may pass the OR)
    val shapes: Seq[(org.apache.spark.sql.Column, Seq[TopKPruning.Disjunct])] = Seq(
      (col("id").between(0L, 800L) || col("id").between(3200L, 3999L),
        Seq(
          TopKPruning.Disjunct(None, None, Seq(TopKPruning.OtherColBounds(
            "id", Some((0L, true)), Some((800L, true))))),
          TopKPruning.Disjunct(None, None, Seq(TopKPruning.OtherColBounds(
            "id", Some((3200L, true)), Some((3999L, true))))))),
      (col("id").between(0L, 2200L) || col("id").between(1800L, 3999L),
        Seq(
          TopKPruning.Disjunct(None, None, Seq(TopKPruning.OtherColBounds(
            "id", Some((0L, true)), Some((2200L, true))))),
          TopKPruning.Disjunct(None, None, Seq(TopKPruning.OtherColBounds(
            "id", Some((1800L, true)), Some((3999L, true))))))),
      (col("id").between(0L, 500L) || col("key") >= 1200L,
        Seq(
          TopKPruning.Disjunct(None, None, Seq(TopKPruning.OtherColBounds(
            "id", Some((0L, true)), Some((500L, true))))),
          TopKPruning.Disjunct(Some((1200L, true)), None, Nil))))
    for {
      (pred, disjuncts) <- shapes
      k <- Seq(1, 16, 200)
      descending <- Seq(true, false)
      nullsFirst <- Seq(true, false)
    } {
      val resolved = RowGroupSkipScan.resolvePredicate(spark, schema, pred)
      val statsPlans = index.getFiles(resolved)
      val plans = TopKPruning.pruneDisjunctive(index, "key", k.toLong,
        descending, nullsFirst, disjuncts, statsPlans)
      // the Derby catalog serves the disjunctive fast path; the
      // planner-side reference algorithm must produce the identical set
      val viaPlanner = TopKPruning.pruneDisjunctive(plannerOnly(index), "key",
        k.toLong, descending, nullsFirst, disjuncts, statsPlans)
      assert(plans.map(p => p.fileName -> p.scanRowGroups).toMap ===
        viaPlanner.map(p => p.fileName -> p.scanRowGroups).toMap,
        s"$pred k=$k desc=$descending nf=$nullsFirst: " +
          "catalog and planner disjunctive paths diverged")
      val statsKept = statsPlans.map(_.scanRowGroups.size).sum
      val kept = plans.map(_.scanRowGroups.size).sum
      assert(kept <= statsKept)
      if (kept < statsKept) anyNarrowed = true
      val keyOrd = (descending, nullsFirst) match {
        case (true, true)   => col("key").desc_nulls_first
        case (true, false)  => col("key").desc_nulls_last
        case (false, true)  => col("key").asc_nulls_first
        case (false, false) => col("key").asc_nulls_last
      }
      val ord = Seq(keyOrd, col("id").asc)
      val got =
        if (plans.isEmpty) Seq.empty
        else RowGroupSkipScan.scan(spark, dir, plans, schema)
          .filter(pred).orderBy(ord: _*).limit(k).select("id", "key")
          .collect().toSeq
      val want = spark.read.parquet(dir)
        .filter(pred).orderBy(ord: _*).limit(k).select("id", "key")
        .collect().toSeq
      assert(got === want,
        s"$pred k=$k desc=$descending nf=$nullsFirst diverged " +
          s"(kept $kept/$statsKept)")
    }
    assert(anyNarrowed, "disjunctive pruning never narrowed — fixture too easy")
  }

  test("two-key lexicographic top-k fires and beats leading-key-only pruning") {
    val dir = sf("sf0.001")
    val df = graft.operators.Indexed.lineitemComposite(spark, dir)
    val ord = Seq(col("l_returnflag").desc, col("l_orderkey").desc,
      col("l_linenumber").desc, col("l_quantity").desc)
    val got = df.orderBy(ord: _*).limit(10)
      .select("l_returnflag", "l_orderkey", "l_linenumber", "l_quantity")
      .collect()
    val want = spark.read.parquet(s"$dir/lineitem.parquet")
      .orderBy(ord: _*).limit(10)
      .select("l_returnflag", "l_orderkey", "l_linenumber", "l_quantity")
      .collect()
    assert(got === want)
    val exec = graft.operators.Indexed.lastCompositeExecution(spark, dir).get
    assert(exec.route === Seq("topk-lex2(l_returnflag,l_orderkey)"),
      s"lex2 rule did not fire: ${exec.route}")
    // the whole point: leading-key-only pruning keeps the top flag's
    // ENTIRE band (l_returnflag is 3-valued — maximally tie-heavy); the
    // pair certificate must keep strictly fewer groups
    val (index, _, _) = graft.operators.Indexed.compositeFixture(spark, dir)
    val leadKept = TopKPruning.prune(index, "l_returnflag", 10,
      descending = true, nullsFirst = false).map(_.scanRowGroups.size).sum
    assert(exec.scannedRowGroups < leadKept,
      s"pair kept ${exec.scannedRowGroups}, leading-only kept $leadKept")
  }

  // tie-heavy two-key fixture: grp = i/500 (8 distinct values, constant
  // within every 50-row group — boundaries align), key noisy/increasing
  // with ~10% nulls, id unique
  private lazy val fx2: (String, DerbyStatsIndex, StructType) = {
    val base = tempDir("graft-topk2")
    val dir = s"$base/data"
    import spark.implicits._
    (0 until 4000)
      .map { i =>
        val v = i.toLong + ((i.toLong * 2971L) % 500L)
        (i.toLong / 500L, if (v % 10 == 0) None else Some(v / 3), i.toLong)
      }
      .toDF("grp", "key", "id")
      .coalesce(1)
      .write.option("parquet.block.row.count.limit", "50")
      .mode("overwrite").parquet(dir)
    val (index, schema) = IndexedParquet.buildIndex(
      spark, dir, Seq("grp", "key", "id"), s"$base/statsdb")
    (dir, index.asInstanceOf[DerbyStatsIndex], schema)
  }

  test("two-key pruning is sound across directions × k × null order (tie-heavy fixture)") {
    val (dir, index, schema) = fx2
    var anyNarrower = false
    for {
      descA <- Seq(true, false)
      descB <- Seq(true, false)
      nfB <- Seq(true, false)
      k <- Seq(1, 16, 200)
    } {
      val nfA = !descA // Spark default null ordering for the leading key
      val plans = TopKPruning.pruneLex2(
        index, "grp", descA, nfA, "key", descB, nfB, k.toLong)
      // the Derby catalog serves the lex2 fast path; the planner-side
      // reference algorithm must produce the identical plan set
      val viaPlanner = TopKPruning.pruneLex2(
        plannerOnly(index), "grp", descA, nfA, "key", descB, nfB, k.toLong)
      assert(plans.map(p => p.fileName -> p.scanRowGroups).toMap ===
        viaPlanner.map(p => p.fileName -> p.scanRowGroups).toMap,
        s"descA=$descA descB=$descB nfB=$nfB k=$k: " +
          "catalog and planner lex2 paths diverged")
      val leadPlans = TopKPruning.prune(index, "grp", k.toLong, descA, nfA)
      val kept = plans.map(_.scanRowGroups.size).sum
      val leadKept = leadPlans.map(_.scanRowGroups.size).sum
      assert(kept <= leadKept,
        s"descA=$descA descB=$descB nfB=$nfB k=$k: pair kept $kept > leading $leadKept")
      if (kept < leadKept) anyNarrower = true
      val grpOrd = if (descA) col("grp").desc else col("grp").asc
      val keyOrd = (descB, nfB) match {
        case (true, true)   => col("key").desc_nulls_first
        case (true, false)  => col("key").desc_nulls_last
        case (false, true)  => col("key").asc_nulls_first
        case (false, false) => col("key").asc_nulls_last
      }
      val ord = Seq(grpOrd, keyOrd, col("id").asc)
      val got =
        if (plans.isEmpty) Seq.empty
        else RowGroupSkipScan.scan(spark, dir, plans, schema)
          .orderBy(ord: _*).limit(k).select("grp", "key", "id")
          .collect().toSeq
      val want = spark.read.parquet(dir)
        .orderBy(ord: _*).limit(k).select("grp", "key", "id")
        .collect().toSeq
      assert(got === want,
        s"descA=$descA descB=$descB nfB=$nfB k=$k diverged (kept $kept/$leadKept)")
    }
    assert(anyNarrower,
      "pair pruning never beat leading-only — fixture not tie-heavy enough")
  }

  test("three-key lexicographic top-k fires and beats the two-key prefix") {
    val dir = sf("sf0.001")
    val df = graft.operators.Indexed.lineitemComposite3(spark, dir)
    val ord = Seq(col("l_returnflag").desc, col("l_linenumber").desc,
      col("l_orderkey").desc, col("l_quantity").desc)
    val got = df.orderBy(ord: _*).limit(10)
      .select("l_returnflag", "l_linenumber", "l_orderkey", "l_quantity")
      .collect()
    val want = spark.read.parquet(s"$dir/lineitem.parquet")
      .orderBy(ord: _*).limit(10)
      .select("l_returnflag", "l_linenumber", "l_orderkey", "l_quantity")
      .collect()
    assert(got === want)
    val exec = graft.operators.Indexed.lastComposite3Execution(spark, dir).get
    assert(exec.route ===
      Seq("topk-lex3(l_returnflag,l_linenumber,l_orderkey)"),
      s"lex3 rule did not fire: ${exec.route}")
    // never worse than the two-key prefix, and a real prune vs the full
    // set (at sf0.001 the ~8-group layout is tight enough that lex2
    // already reaches the floor — the STRICT lex3-vs-lex2 win is pinned
    // on the many-group synthetic fixture below)
    val (index, _, _) = graft.operators.Indexed.composite3Fixture(spark, dir)
    import graft.index.SortKeySpec
    val keys2 = Seq(SortKeySpec("l_returnflag", desc = true, nullsFirst = false),
      SortKeySpec("l_linenumber", desc = true, nullsFirst = false))
    val kept2 = TopKPruning.pruneLexN(index, keys2, 10)
      .map(_.scanRowGroups.size).sum
    val total = index.allFiles().map(_.scanRowGroups.size).sum
    assert(exec.scannedRowGroups <= kept2,
      s"lex3 kept ${exec.scannedRowGroups}, two-key prefix kept $kept2")
    assert(exec.scannedRowGroups < total,
      s"lex3 pruned nothing (kept ${exec.scannedRowGroups} of $total)")
  }

  // three-key fixture: grp1 = i/1000 (4 values), grp2 = (i/100)%5
  // (changes every 100 rows — both tie-heavy, constant within most
  // 50-row groups), key noisy/increasing with ~10% nulls, id unique
  private lazy val fx4: (String, DerbyStatsIndex, StructType) = {
    val base = tempDir("graft-topk3")
    val dir = s"$base/data"
    import spark.implicits._
    (0 until 4000)
      .map { i =>
        val v = i.toLong + ((i.toLong * 2971L) % 500L)
        (i.toLong / 1000L, (i.toLong / 100L) % 5L,
          if (v % 10 == 0) None else Some(v / 3), i.toLong)
      }
      .toDF("grp1", "grp2", "key", "id")
      .coalesce(1)
      .write.option("parquet.block.row.count.limit", "50")
      .mode("overwrite").parquet(dir)
    val (index, schema) = IndexedParquet.buildIndex(
      spark, dir, Seq("grp1", "grp2", "key", "id"), s"$base/statsdb")
    (dir, index.asInstanceOf[DerbyStatsIndex], schema)
  }

  test("three-key pruning is sound across directions × k × null order and never worse than prefixes") {
    val (dir, index, schema) = fx4
    import graft.index.SortKeySpec
    var anyNarrower = false
    for {
      descA <- Seq(true, false)
      descB <- Seq(true, false)
      descC <- Seq(true, false)
      nfC <- Seq(true, false)
      k <- Seq(1, 16, 200)
    } {
      val keys = Seq(
        SortKeySpec("grp1", descA, nullsFirst = !descA),
        SortKeySpec("grp2", descB, nullsFirst = !descB),
        SortKeySpec("key", descC, nfC))
      val plans = TopKPruning.pruneLexN(index, keys, k.toLong)
      val viaPlanner = TopKPruning.pruneLexN(plannerOnly(index), keys, k.toLong)
      assert(plans.map(p => p.fileName -> p.scanRowGroups).toMap ===
        viaPlanner.map(p => p.fileName -> p.scanRowGroups).toMap,
        s"descA=$descA descB=$descB descC=$descC nfC=$nfC k=$k: " +
          "catalog and planner lex3 paths diverged")
      val kept = plans.map(_.scanRowGroups.size).sum
      val kept2 = TopKPruning.pruneLexN(index, keys.init, k.toLong)
        .map(_.scanRowGroups.size).sum
      assert(kept <= kept2,
        s"descA=$descA descB=$descB descC=$descC nfC=$nfC k=$k: " +
          s"lex3 kept $kept > two-key prefix $kept2")
      if (kept < kept2) anyNarrower = true
      def keyOrd(c: String, desc: Boolean, nf: Boolean) = (desc, nf) match {
        case (true, true)   => col(c).desc_nulls_first
        case (true, false)  => col(c).desc_nulls_last
        case (false, true)  => col(c).asc_nulls_first
        case (false, false) => col(c).asc_nulls_last
      }
      val ord = Seq(keyOrd("grp1", descA, !descA), keyOrd("grp2", descB, !descB),
        keyOrd("key", descC, nfC), col("id").asc)
      val got =
        if (plans.isEmpty) Seq.empty
        else RowGroupSkipScan.scan(spark, dir, plans, schema)
          .orderBy(ord: _*).limit(k).select("grp1", "grp2", "key", "id")
          .collect().toSeq
      val want = spark.read.parquet(dir)
        .orderBy(ord: _*).limit(k).select("grp1", "grp2", "key", "id")
        .collect().toSeq
      assert(got === want,
        s"descA=$descA descB=$descB descC=$descC nfC=$nfC k=$k diverged " +
          s"(kept $kept/$kept2)")
    }
    assert(anyNarrower,
      "three-key pruning never beat the two-key prefix — fixture not tie-heavy enough")
  }

  // NEAR-constant two-key fixture (r10): same shape as fx2, but ONE row
  // per 50-row group is perturbed to the adjacent grp value, so NO row
  // group has a constant leading key (min ≠ max everywhere). The pre-r10
  // build certified pairs only from constant-leading groups and fell
  // back to leading-only here; the generalized certificate (every group
  // guarantees ≥lex (a_guarantee, b_guarantee)) must still separate the
  // tied bands.
  private lazy val fx3: (String, DerbyStatsIndex, StructType) = {
    val base = tempDir("graft-topk2nc")
    val dir = s"$base/data"
    import spark.implicits._
    (0 until 4000)
      .map { i =>
        val g = i.toLong / 500L
        val grp = if (i % 50 == 23) (if (g > 0) g - 1 else g + 1) else g
        val v = i.toLong + ((i.toLong * 2971L) % 500L)
        (grp, if (v % 10 == 0) None else Some(v / 3), i.toLong)
      }
      .toDF("grp", "key", "id")
      .coalesce(1)
      .write.option("parquet.block.row.count.limit", "50")
      .mode("overwrite").parquet(dir)
    val (index, schema) = IndexedParquet.buildIndex(
      spark, dir, Seq("grp", "key", "id"), s"$base/statsdb")
    (dir, index.asInstanceOf[DerbyStatsIndex], schema)
  }

  test("near-constant leading key: pair pruning still beats leading-only (no constant groups)") {
    val (dir, index, schema) = fx3
    // precondition: the fixture really has NO constant-leading group
    val statsA = index.rowGroupStats("grp").get
    assert(statsA.forall(s => s.min != s.max),
      "fixture broke: some row group has a constant leading key")
    var anyNarrower = false
    for {
      descA <- Seq(true, false)
      descB <- Seq(true, false)
      nfB <- Seq(true, false)
      k <- Seq(1, 16, 200)
    } {
      val nfA = !descA
      val plans = TopKPruning.pruneLex2(
        index, "grp", descA, nfA, "key", descB, nfB, k.toLong)
      val viaPlanner = TopKPruning.pruneLex2(
        plannerOnly(index), "grp", descA, nfA, "key", descB, nfB, k.toLong)
      assert(plans.map(p => p.fileName -> p.scanRowGroups).toMap ===
        viaPlanner.map(p => p.fileName -> p.scanRowGroups).toMap,
        s"descA=$descA descB=$descB nfB=$nfB k=$k: " +
          "catalog and planner lex2 paths diverged (near-constant fixture)")
      val leadKept = TopKPruning.prune(index, "grp", k.toLong, descA, nfA)
        .map(_.scanRowGroups.size).sum
      val kept = plans.map(_.scanRowGroups.size).sum
      assert(kept <= leadKept)
      if (kept < leadKept) anyNarrower = true
      val grpOrd = if (descA) col("grp").desc else col("grp").asc
      val keyOrd = (descB, nfB) match {
        case (true, true)   => col("key").desc_nulls_first
        case (true, false)  => col("key").desc_nulls_last
        case (false, true)  => col("key").asc_nulls_first
        case (false, false) => col("key").asc_nulls_last
      }
      val ord = Seq(grpOrd, keyOrd, col("id").asc)
      val got =
        if (plans.isEmpty) Seq.empty
        else RowGroupSkipScan.scan(spark, dir, plans, schema)
          .orderBy(ord: _*).limit(k).select("grp", "key", "id")
          .collect().toSeq
      val want = spark.read.parquet(dir)
        .orderBy(ord: _*).limit(k).select("grp", "key", "id")
        .collect().toSeq
      assert(got === want,
        s"descA=$descA descB=$descB nfB=$nfB k=$k diverged (kept $kept/$leadKept)")
    }
    assert(anyNarrower,
      "generalized pair certificate never beat leading-only on the " +
        "near-constant fixture — the r10 generalization regressed")
  }

  test("filtered two-key top-k fires (idx24) and result matches the declarative plan") {
    val dir = sf("sf0.001")
    val q = SparkEntry.registry.find(_.name == "idx24_topk_filtered_lex2").get
    val got = q.fn(spark, dir).collect()
    val want = spark.read.parquet(s"$dir/lineitem.parquet")
      .filter(col("l_returnflag") === "R")
      .orderBy(col("l_linenumber").desc, col("l_orderkey").desc,
        col("l_quantity").desc)
      .limit(10)
      .select("l_linenumber", "l_orderkey", "l_quantity")
      .collect()
    assert(got === want)
    val exec = graft.operators.Indexed.lastComposite3Execution(spark, dir).get
    assert(exec.route ===
      Seq("topk-composite-lex2(l_linenumber,l_orderkey;l_returnflag)"),
      s"filtered lex2 rule did not fire: ${exec.route}")
  }

  test("filtered lex pruning is sound, catalog==planner, never worse than single-key (fx4)") {
    val (dir, index, schema) = fx4
    import graft.index.SortKeySpec
    var anyNarrower = false
    for {
      descB <- Seq(true, false)
      descC <- Seq(true, false)
      nfC <- Seq(true, false)
      filterVal <- Seq(0L, 3L)
      k <- Seq(1, 16, 120)
    } {
      val keys = Seq(SortKeySpec("grp2", descB, nullsFirst = !descB),
        SortKeySpec("key", descC, nfC))
      val disjuncts = Seq(TopKPruning.Disjunct(None, None,
        Seq(TopKPruning.OtherColBounds("grp1",
          Some((filterVal, true)), Some((filterVal, true))))))
      val pred = col("grp1") === filterVal
      val resolved = RowGroupSkipScan.resolvePredicate(spark, schema, pred)
      val statsPlans = index.getFiles(resolved)
      val plans = TopKPruning.pruneDisjunctiveLex(
        index, keys, k.toLong, disjuncts, statsPlans)
      val viaPlanner = TopKPruning.pruneDisjunctiveLex(
        plannerOnly(index), keys, k.toLong, disjuncts, statsPlans)
      assert(plans.map(p => p.fileName -> p.scanRowGroups).toMap ===
        viaPlanner.map(p => p.fileName -> p.scanRowGroups).toMap,
        s"descB=$descB descC=$descC nfC=$nfC f=$filterVal k=$k: " +
          "catalog and planner filtered-lex paths diverged")
      val singleKey = TopKPruning.pruneDisjunctive(index, "grp2", k.toLong,
        descB, !descB, disjuncts, statsPlans)
      val kept = plans.map(_.scanRowGroups.size).sum
      val keptSingle = singleKey.map(_.scanRowGroups.size).sum
      assert(kept <= keptSingle,
        s"descB=$descB descC=$descC nfC=$nfC f=$filterVal k=$k: " +
          s"filtered lex kept $kept > single-key $keptSingle")
      if (kept < keptSingle) anyNarrower = true
      val g2Ord = if (descB) col("grp2").desc else col("grp2").asc
      val keyOrd = (descC, nfC) match {
        case (true, true)   => col("key").desc_nulls_first
        case (true, false)  => col("key").desc_nulls_last
        case (false, true)  => col("key").asc_nulls_first
        case (false, false) => col("key").asc_nulls_last
      }
      val ord = Seq(g2Ord, keyOrd, col("id").asc)
      val got =
        if (plans.isEmpty) Seq.empty
        else RowGroupSkipScan.scan(spark, dir, plans, schema)
          .filter(pred).orderBy(ord: _*).limit(k)
          .select("grp2", "key", "id").collect().toSeq
      val want = spark.read.parquet(dir)
        .filter(pred).orderBy(ord: _*).limit(k)
        .select("grp2", "key", "id").collect().toSeq
      assert(got === want,
        s"descB=$descB descC=$descC nfC=$nfC f=$filterVal k=$k diverged " +
          s"(kept $kept/$keptSingle)")
    }
    assert(anyNarrower,
      "filtered lex pruning never beat the single-key composite — fixture too easy")
  }

  // DOMINANT-value fixture (late r10): every 50-row group holds 40 rows
  // of its own band and 10 bled from the PREVIOUS one (min = band-1
  // freq 10, max = band freq 40) — the shape where the generalized
  // certificate still anchors at the weak min guarantee but the
  // FreqShadow can certify the dominant slice AT the max
  private lazy val fx5: (String, DerbyStatsIndex, StructType, String) = {
    val base = tempDir("graft-topk-freq")
    val dir = s"$base/data"
    import spark.implicits._
    (0 until 4000)
      .map { i =>
        val band = i.toLong / 500L
        val grp = if (i % 50 < 10 && band > 0) band - 1 else band
        val v = i.toLong + ((i.toLong * 2971L) % 500L)
        (grp, if (v % 10 == 0) None else Some(v / 3), i.toLong)
      }
      .toDF("grp", "key", "id")
      .coalesce(1)
      .write.option("parquet.block.row.count.limit", "50")
      .mode("overwrite").parquet(dir)
    val db = s"$base/statsdb"
    val (index, schema) = IndexedParquet.buildIndex(
      spark, dir, Seq("grp", "key", "id"), db)
    (dir, index.asInstanceOf[DerbyStatsIndex], schema, db)
  }

  test("freq shadow certifies dominant slices — strictly fewer groups, still sound") {
    val (dir, index, schema, db) = fx5
    import graft.index.SortKeySpec
    val keys = Seq(SortKeySpec("grp", desc = true, nullsFirst = false),
      SortKeySpec("key", desc = true, nullsFirst = false))
    val keptBefore = TopKPruning.pruneLexN(index, keys, 16L)
      .map(_.scanRowGroups.size).sum
    index.rebuildShadows(spark, dir, index.allFiles(), schema, freqCols = Seq("grp"), sumCols = Nil)
    val keptAfter = TopKPruning.pruneLexN(index, keys, 16L)
      .map(_.scanRowGroups.size).sum
    assert(keptAfter < keptBefore,
      s"freq shadow did not narrow: $keptAfter vs $keptBefore")
    // soundness + catalog==planner parity across directions and ks,
    // with the shadow live
    var anyNarrower = false
    for {
      descA <- Seq(true, false)
      descB <- Seq(true, false)
      k <- Seq(1, 16, 200)
    } {
      val ks = Seq(SortKeySpec("grp", descA, !descA),
        SortKeySpec("key", descB, nullsFirst = false))
      val plans = TopKPruning.pruneLexN(index, ks, k.toLong)
      val viaPlanner = TopKPruning.pruneLexN(plannerOnly(index), ks, k.toLong)
      assert(plans.map(p => p.fileName -> p.scanRowGroups).toMap ===
        viaPlanner.map(p => p.fileName -> p.scanRowGroups).toMap,
        s"descA=$descA descB=$descB k=$k: catalog and planner diverged with freqs")
      if (plans.map(_.scanRowGroups.size).sum <
          TopKPruning.prune(index, "grp", k.toLong, descA, !descA)
            .map(_.scanRowGroups.size).sum) anyNarrower = true
      val ord = Seq(
        if (descA) col("grp").desc else col("grp").asc,
        if (descB) col("key").desc_nulls_last else col("key").asc_nulls_last,
        col("id").asc)
      val got =
        if (plans.isEmpty) Seq.empty
        else RowGroupSkipScan.scan(spark, dir, plans, schema)
          .orderBy(ord: _*).limit(k).select("grp", "key", "id")
          .collect().toSeq
      val want = spark.read.parquet(dir)
        .orderBy(ord: _*).limit(k).select("grp", "key", "id")
        .collect().toSeq
      assert(got === want, s"descA=$descA descB=$descB k=$k diverged with freqs")
    }
    assert(anyNarrower)
  }

  // STRING-headed dominant-value fixture (r11): fx5's shape MIRRORED —
  // each 50-row group holds 40 rows of its own band (the group MIN) and
  // 10 bled from the NEXT one (the max), with the band key a zero-padded
  // string (lex order == numeric order). The ASC-side dominant slice must
  // then pair a frequency with the stored MIN — sound only where the
  // min-is-exact marker certifies it verbatim.
  private lazy val fx6: (String, DerbyStatsIndex, StructType, String) = {
    val base = tempDir("graft-topk-freq-str")
    val dir = s"$base/data"
    import spark.implicits._
    (0 until 4000)
      .map { i =>
        val band = i.toLong / 500L
        val grp = if (i % 50 >= 40 && band < 7) band + 1 else band
        val v = i.toLong + ((i.toLong * 2971L) % 500L)
        (f"g$grp%03d", if (v % 10 == 0) None else Some(v / 3), i.toLong)
      }
      .toDF("grp", "key", "id")
      .coalesce(1)
      .write.option("parquet.block.row.count.limit", "50")
      .mode("overwrite").parquet(dir)
    val db = s"$base/statsdb"
    val (index, schema) = IndexedParquet.buildIndex(
      spark, dir, Seq("grp", "key", "id"), db)
    (dir, index.asInstanceOf[DerbyStatsIndex], schema, db)
  }

  test("string-ASC freq certificates fire under the min-is-exact marker") {
    val (dir, index, schema, db) = fx6
    import graft.index.SortKeySpec
    // short stored minima ⇒ the ingest recorded every marker as exact
    assert(index.rowGroupStats("grp").get.forall(_.minExact.contains(true)),
      "ingest did not record min-is-exact markers")
    val keys = Seq(SortKeySpec("grp", desc = false, nullsFirst = false),
      SortKeySpec("key", desc = true, nullsFirst = false))
    val keptBefore = TopKPruning.pruneLexN(index, keys, 16L)
      .map(_.scanRowGroups.size).sum
    index.rebuildShadows(spark, dir, index.allFiles(), schema, freqCols = Seq("grp"), sumCols = Nil)
    val keptAfter = TopKPruning.pruneLexN(index, keys, 16L)
      .map(_.scanRowGroups.size).sum
    assert(keptAfter < keptBefore,
      s"string-ASC freq did not narrow: $keptAfter vs $keptBefore")
    // soundness + catalog==planner parity with the marker live
    for {
      descB <- Seq(true, false)
      k <- Seq(1, 16, 200)
    } {
      val ks = Seq(SortKeySpec("grp", desc = false, nullsFirst = false),
        SortKeySpec("key", descB, nullsFirst = false))
      val plans = TopKPruning.pruneLexN(index, ks, k.toLong)
      val viaPlanner = TopKPruning.pruneLexN(plannerOnly(index), ks, k.toLong)
      assert(plans.map(p => p.fileName -> p.scanRowGroups).toMap ===
        viaPlanner.map(p => p.fileName -> p.scanRowGroups).toMap,
        s"descB=$descB k=$k: catalog and planner diverged (string-ASC freq)")
      val ord = Seq(col("grp").asc_nulls_last,
        if (descB) col("key").desc_nulls_last else col("key").asc_nulls_last,
        col("id").asc)
      val got =
        if (plans.isEmpty) Seq.empty
        else RowGroupSkipScan.scan(spark, dir, plans, schema)
          .orderBy(ord: _*).limit(k).select("grp", "key", "id")
          .collect().toSeq
      val want = spark.read.parquet(dir)
        .orderBy(ord: _*).limit(k).select("grp", "key", "id")
        .collect().toSeq
      assert(got === want, s"descB=$descB k=$k diverged (string-ASC freq)")
    }
    // negative pin: clear the markers (what a truncated stored min records
    // at ingest) — BOTH sides must stop pairing min frequencies, restoring
    // exactly the pre-shadow plan set, and must stay equal
    val conn = java.sql.DriverManager.getConnection(s"jdbc:derby:$db")
    try {
      val st = conn.createStatement()
      st.executeUpdate("UPDATE row_group_statistics SET grp_min_exact = 0")
      st.close()
    } finally conn.close()
    assert(index.rowGroupStats("grp").get.forall(_.minExact.contains(false)))
    val keptNeg = TopKPruning.pruneLexN(index, keys, 16L)
      .map(_.scanRowGroups.size).sum
    assert(keptNeg === keptBefore,
      s"an inexact marker must disable the min-side pairing ($keptNeg vs $keptBefore)")
    val viaPlannerNeg = TopKPruning.pruneLexN(plannerOnly(index), keys, 16L)
      .map(p => p.fileName -> p.scanRowGroups).toMap
    assert(TopKPruning.pruneLexN(index, keys, 16L)
      .map(p => p.fileName -> p.scanRowGroups).toMap === viaPlannerNeg,
      "catalog and planner diverged after the markers were cleared")
  }

  // TIMESTAMP fixture for IMAGE keys (r11): ~55 days of 20-minute events,
  // time-clustered with local noise, ~5% null timestamps, 50-row groups —
  // the shape where `ORDER BY date_trunc(unit, ts), id LIMIT k` must
  // prune via stats DERIVED through the monotone image.
  private lazy val fx7: (String, DerbyStatsIndex, StructType) = {
    val base = tempDir("graft-topk-img")
    val dir = s"$base/data"
    import spark.implicits._
    // INT96 (Spark's default) carries no footer min/max for timestamps;
    // scoped + restored so later suites' parquet writes keep the default
    graft.operators.Indexed.withMicrosTimestamps(spark) {
      (0 until 4000)
        .map { i =>
          val millis = i.toLong * 1200000L + ((i.toLong * 2971L) % 500L) * 1000L
          (if (i % 20 == 0) None else Some(new java.sql.Timestamp(millis)),
            i.toLong)
        }
        .toDF("ts", "id")
        .coalesce(1)
        .write.option("parquet.block.row.count.limit", "50")
        .mode("overwrite").parquet(dir)
    }
    val (index, schema) = IndexedParquet.buildIndex(
      spark, dir, Seq("ts", "id"), s"$base/statsdb")
    (dir, index.asInstanceOf[DerbyStatsIndex], schema)
  }

  test("image keys (date_trunc / cast-to-date) prune soundly with catalog==planner parity") {
    val (dir, index, schema) = fx7
    import graft.index.{CastDateImage, KeyImage, SortKeySpec, TruncTimestampImage}
    val total = index.allFiles().map(_.scanRowGroups.size).sum
    var anyNarrower = false
    for {
      unit <- Seq("day", "hour", "week", "month", "date") // month: planner-only render
      desc <- Seq(true, false)
      k <- Seq(1, 16, 300)
      prefixLen <- Seq(1, 2)
    } {
      val img: KeyImage =
        if (unit == "date") CastDateImage else TruncTimestampImage.forUnit(unit).get
      val keys = Seq(SortKeySpec("ts", desc, !desc, Some(img)))
        .take(prefixLen) ++
        (if (prefixLen == 2)
          Seq(SortKeySpec("id", desc = false, nullsFirst = true)) else Nil)
      val plans = TopKPruning.pruneLexN(index, keys, k.toLong)
      val viaPlanner = TopKPruning.pruneLexN(plannerOnly(index), keys, k.toLong)
      assert(plans.map(p => p.fileName -> p.scanRowGroups).toMap ===
        viaPlanner.map(p => p.fileName -> p.scanRowGroups).toMap,
        s"unit=$unit desc=$desc k=$k len=$prefixLen: catalog/planner diverged")
      val kept = plans.map(_.scanRowGroups.size).sum
      if (kept < total) anyNarrower = true
      val trunc =
        if (unit == "date") col("ts").cast("date") else date_trunc(unit, col("ts"))
      val ord = Seq(if (desc) trunc.desc else trunc.asc, col("id").asc)
      val got =
        if (plans.isEmpty) Seq.empty
        else RowGroupSkipScan.scan(spark, dir, plans, schema)
          .orderBy(ord: _*).limit(k)
          .select(trunc.as("b"), col("id")).collect().toSeq
      val want = spark.read.parquet(dir)
        .orderBy(ord: _*).limit(k)
        .select(trunc.as("b"), col("id")).collect().toSeq
      assert(got === want, s"unit=$unit desc=$desc k=$k len=$prefixLen diverged")
    }
    assert(anyNarrower, "image-key pruning never narrowed — fixture too easy")
  }

  test("date_trunc latest-k fires the automatic image-key rule (idx26)") {
    val dir = sf("sf0.001")
    val q = SparkEntry.registry.find(_.name == "idx26_topk_datetrunc").get
    val rows = q.fn(spark, dir).collect()
    assert(rows.length === 10)
    val exec = graft.operators.Indexed.lastTimeExecution(spark, dir).get
    assert(exec.route === Seq("topk-lex2(day(l_shipdate),l_orderkey)"),
      s"route: ${exec.route}")
    assert(exec.scannedRowGroups < exec.totalRowGroups,
      s"kept ${exec.scannedRowGroups} of ${exec.totalRowGroups}")
  }

  test("cast-to-date latest-k fires the image-key rule too (idx30)") {
    val dir = sf("sf0.001")
    val q = SparkEntry.registry.find(_.name == "idx30_topk_castdate").get
    val rows = q.fn(spark, dir).collect()
    assert(rows.length === 10)
    val exec = graft.operators.Indexed.lastTimeExecution(spark, dir).get
    assert(exec.route === Seq("topk-lex2(date(l_shipdate),l_orderkey)"),
      s"route: ${exec.route}")
    assert(exec.scannedRowGroups < exec.totalRowGroups,
      s"kept ${exec.scannedRowGroups} of ${exec.totalRowGroups}")
  }

  test("FILTERED image-head top-k: raw-column bounds ride the all-pass certificate") {
    val dir = sf("sf0.001")
    val df = graft.operators.Indexed.lineitemTime(spark, dir)
    val plain = spark.read.parquet(s"$dir/lineitem.parquet")
    def shape(d: org.apache.spark.sql.DataFrame,
        cond: org.apache.spark.sql.Column) = d
      .filter(cond)
      .orderBy(date_trunc("day", col("l_shipdate")).desc,
        col("l_orderkey").desc, col("l_linenumber").desc,
        col("l_quantity").desc, col("l_shipdate").desc)
      .limit(10)
      .select("l_shipdate", "l_orderkey", "l_linenumber", "l_quantity")
    // a bound on ANOTHER indexed column: the composite certificate
    val c1 = col("l_orderkey") >= 0L
    assert(shape(df, c1).collect() === shape(plain, c1).collect())
    val exec1 = graft.operators.Indexed.lastTimeExecution(spark, dir).get
    assert(exec1.route.exists(_.startsWith("topk-composite-lex2(day(l_shipdate)")),
      s"route: ${exec1.route}")
    // a bound on the RAW underlying timestamp: TopKPushdown remaps it to
    // an other-column all-pass entry (image space cannot compare raw
    // bounds) — the rewrite still fires and results stay exact
    val t0 = java.sql.Timestamp.valueOf("1992-01-01 00:00:00")
    val c2 = col("l_shipdate") >= lit(t0)
    assert(shape(df, c2).collect() === shape(plain, c2).collect())
    val exec2 = graft.operators.Indexed.lastTimeExecution(spark, dir).get
    assert(exec2.route.exists(r => r.startsWith("topk-composite-lex2(day(l_shipdate)")
        && r.contains("l_shipdate")),
      s"route: ${exec2.route}")
  }

  test("a non-UTC session keeps the declarative plan for date_trunc keys") {
    val dir = sf("sf0.001")
    val df = graft.operators.Indexed.lineitemTime(spark, dir)
    // a DST zone has no monotonicity certificate — the rule must not fire
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try {
      val plan = df.orderBy(date_trunc("day", col("l_shipdate")).desc,
          col("l_orderkey").desc)
        .limit(5).queryExecution.optimizedPlan.toString
      assert(!plan.contains("RowGroupScan"),
        s"image rule fired under a DST timezone:\n${plan.take(2000)}")
    } finally spark.conf.set("spark.sql.session.timeZone", "UTC")
  }

  test("composite certification fails closed on an unclustered filter column") {
    val (_, index, schema) = fx
    // skey (s-<v%97>) varies inside every 50-row group — no group can be
    // all-pass, so the result must be the stats plans unchanged
    val pred = col("skey") === "s-42"
    val resolved = RowGroupSkipScan.resolvePredicate(spark, schema, pred)
    val statsPlans = index.getFiles(resolved)
    val others = Seq(TopKPruning.OtherColBounds(
      "skey", Some(("s-42", true)), Some(("s-42", true))))
    val plans = TopKPruning.pruneComposite(index, "key", 5L,
      descending = true, nullsFirst = false, None, None, others, statsPlans)
    assert(plans.map(p => p.fileName -> p.scanRowGroups).toMap ===
      statsPlans.map(p => p.fileName -> p.scanRowGroups).toMap)
  }

  test("kill switch restores the declarative plan") {
    val dir = sf("sf0.001")
    val df = graft.operators.Indexed.lineitemIndexed(spark, dir)
    spark.conf.set("spark.graft.topkPushdown", "false")
    try {
      val plan = df.orderBy(col("l_orderkey").desc).limit(3)
        .queryExecution.optimizedPlan.toString
      assert(!plan.contains("RowGroupScan"), s"rule fired while disabled:\n$plan")
    } finally spark.conf.unset("spark.graft.topkPushdown")
  }

  // ---- catalog-side fast path (DerbyStatsIndex.topKSurvivors) --------------

  /** The fixture index with the catalog fast path masked off — forces
    * TopKPruning down its planner-side reference algorithm. */
  private def plannerOnly(u: DerbyStatsIndex): graft.index.StatsIndex =
    new graft.index.StatsIndex {
      def initialize(s: StructType): Unit = u.initialize(s)
      def addFile(st: graft.index.FileStats): Unit = u.addFile(st)
      def retainOnly(f: Set[String]): Unit = u.retainOnly(f)
      def removeFiles(f: Set[String]): Unit = u.removeFiles(f)
      def getFiles(p: org.apache.spark.sql.catalyst.expressions.Expression) =
        u.getFiles(p)
      def allFiles() = u.allFiles()
      def indexedSchema: StructType = u.indexedSchema
      override def rowGroupStats(c: String) = u.rowGroupStats(c)
      override def topKSurvivors(c: String, k: Long, d: Boolean, nf: Boolean,
          lo: Option[(Any, Boolean)], hi: Option[(Any, Boolean)]) = None
      def close(): Unit = ()
    }

  test("catalog-side survivors equal planner-side pruning exactly") {
    val (_, index, _) = fx
    val slow = plannerOnly(index)
    def keySet(plans: Seq[graft.index.FileScanPlan]) =
      plans.map(p => p.fileName -> p.scanRowGroups).toMap
    for {
      k <- Seq(1, 7, 64, 500)
      descending <- Seq(true, false)
      nullsFirst <- Seq(true, false)
    } {
      val fast = index.topKSurvivors("key", k.toLong, descending, nullsFirst)
      assert(fast.isDefined, s"numeric fast path must serve k=$k")
      val viaPlanner = TopKPruning.prune(slow, "key", k.toLong, descending, nullsFirst)
      assert(keySet(fast.get) === keySet(viaPlanner),
        s"k=$k desc=$descending nullsFirst=$nullsFirst: paths diverged")
    }
  }

  test("filtered fast path equals planner-side filtered pruning exactly") {
    val (_, index, schema) = fx
    val slow = plannerOnly(index)
    def keySet(plans: Seq[graft.index.FileScanPlan]) =
      plans.map(p => p.fileName -> p.scanRowGroups).toMap
    for {
      (loV, hiV) <- Seq((200L, 900L), (0L, 1400L), (600L, 650L))
      k <- Seq(1, 16, 200)
      descending <- Seq(true, false)
    } {
      val pred = col("key") >= loV && col("key") <= hiV
      val resolved = RowGroupSkipScan.resolvePredicate(spark, schema, pred)
      val statsPlans = index.getFiles(resolved)
      val lo = Some((loV: Any, true))
      val hi = Some((hiV: Any, true))
      val fast = TopKPruning.pruneFiltered(
        index, "key", k.toLong, descending, lo, hi, statsPlans)
      val viaPlanner = TopKPruning.pruneFiltered(
        slow, "key", k.toLong, descending, lo, hi, statsPlans)
      assert(keySet(fast) === keySet(viaPlanner),
        s"window=[$loV,$hiV] k=$k desc=$descending: filtered paths diverged")
    }
  }

  test("string fast path serves from the hex shadow and equals the planner exactly") {
    val (_, index, _) = fx
    val slow = plannerOnly(index)
    def keySet(plans: Seq[graft.index.FileScanPlan]) =
      plans.map(p => p.fileName -> p.scanRowGroups).toMap
    for {
      k <- Seq(1, 7, 64, 500)
      descending <- Seq(true, false)
      nullsFirst <- Seq(true, false)
    } {
      val fast = index.topKSurvivors("skey", k.toLong, descending, nullsFirst)
      assert(fast.isDefined,
        s"string fast path must serve k=$k (hex shadow columns)")
      val viaPlanner =
        TopKPruning.prune(slow, "skey", k.toLong, descending, nullsFirst)
      assert(keySet(fast.get) === keySet(viaPlanner),
        s"k=$k desc=$descending nullsFirst=$nullsFirst: string paths diverged")
    }
  }

  test("string fast path agrees with the planner beyond U+E000 (code-point order)") {
    // Derby's raw VARCHAR collation (UTF-16 code units) disagrees with
    // UTF-8 byte order exactly in [U+E000, U+FFFF] vs supplementary
    // planes: surrogate pairs (0xD800-0xDFFF units) sort BELOW U+E000 in
    // code-unit order but ABOVE it in code-point order. Build a fixture
    // whose group boundaries straddle that band and pin catalog ==
    // planner == full-scan truth.
    val base = tempDir("graft-topk-uni")
    val dir = s"$base/data"
    import spark.implicits._
    val vals = Seq("a", "𐀀", "zz", "�", "😀",
      "a", "", "𐀁", "m", "￿")
    (0 until 400).map(i => (i.toLong, vals(i % vals.size) + s"-$i"))
      .toDF("id", "ukey")
      .coalesce(1)
      .write.option("parquet.block.row.count.limit", "40")
      .mode("overwrite").parquet(dir)
    val (index, schema) = IndexedParquet.buildIndex(
      spark, dir, Seq("id", "ukey"), s"$base/statsdb")
    val slow = plannerOnly(index.asInstanceOf[DerbyStatsIndex])
    def keySet(plans: Seq[graft.index.FileScanPlan]) =
      plans.map(p => p.fileName -> p.scanRowGroups).toMap
    for (descending <- Seq(true, false)) {
      val fast = index.topKSurvivors("ukey", 25L, descending, nullsFirst = false)
      assert(fast.isDefined)
      val viaPlanner = TopKPruning.prune(slow, "ukey", 25L, descending,
        nullsFirst = false)
      assert(keySet(fast.get) === keySet(viaPlanner),
        s"desc=$descending: supplementary-plane ordering diverged")
      val ord = if (descending) Seq(col("ukey").desc_nulls_last, col("id").asc)
                else Seq(col("ukey").asc_nulls_last, col("id").asc)
      val got = RowGroupSkipScan.scan(spark, dir, fast.get, schema)
        .orderBy(ord: _*).limit(25).select("id", "ukey").collect().toSeq
      val want = spark.read.parquet(dir)
        .orderBy(ord: _*).limit(25).select("id", "ukey").collect().toSeq
      assert(got === want, s"desc=$descending: pruned scan diverged")
    }
  }

  // ---- r13: the r12 image-key family, pinned ------------------------------

  test("year/month datepart run collapses to the trunc-month image (idx32)") {
    val dir = sf("sf0.001")
    val q = SparkEntry.registry.find(_.name == "idx32_topk_year_run").get
    val rows = q.fn(spark, dir).collect()
    assert(rows.length === 10)
    val exec = graft.operators.Indexed.lastTimeExecution(spark, dir).get
    assert(exec.route === Seq("topk-lex2(trunc-month.date(l_shipdate),l_orderkey)"),
      s"route: ${exec.route}")
    assert(exec.scannedRowGroups < exec.totalRowGroups,
      s"kept ${exec.scannedRowGroups} of ${exec.totalRowGroups}")
    // the full (year, month, day) run IS the date leg: deeper prefix, no image
    val df = graft.operators.Indexed.lineitemTime(spark, dir)
    val full = df.orderBy(year(col("l_shipdate")).desc,
        month(col("l_shipdate")).desc, dayofmonth(col("l_shipdate")).desc,
        col("l_orderkey").desc, col("l_linenumber").desc)
      .limit(10).select("l_shipdate", "l_orderkey", "l_linenumber")
    val gotFull = full.collect()
    val execFull = graft.operators.Indexed.lastTimeExecution(spark, dir).get
    assert(execFull.route === Seq("topk-lex2(date(l_shipdate),l_orderkey)"),
      s"route: ${execFull.route}")
    val plain = spark.read.parquet(s"$dir/lineitem.parquet")
      .orderBy(year(col("l_shipdate")).desc, month(col("l_shipdate")).desc,
        dayofmonth(col("l_shipdate")).desc, col("l_orderkey").desc,
        col("l_linenumber").desc)
      .limit(10).select("l_shipdate", "l_orderkey", "l_linenumber")
    assert(gotFull === plain.collect(), "ymd-run result diverged")
    // a month() with no leading year() is NOT monotone: the prefix must
    // not absorb it (route would start at the month key)
    val bare = df.orderBy(month(col("l_shipdate")).desc, col("l_orderkey").desc)
      .limit(5)
    val barePlan = bare.queryExecution.optimizedPlan.toString
    assert(!barePlan.contains("RowGroupScan"),
      s"lone month() must keep the declarative plan:\n${barePlan.take(1500)}")
  }

  test("unix_timestamp head key fires with the raw timestamp as a deeper key (idx33)") {
    val dir = sf("sf0.001")
    val q = SparkEntry.registry.find(_.name == "idx33_topk_unixsec").get
    val rows = q.fn(spark, dir).collect()
    assert(rows.length === 10)
    val exec = graft.operators.Indexed.lastTimeExecution(spark, dir).get
    assert(exec.route ===
      Seq("topk-lex3(unixsec(l_shipdate),l_shipdate,l_orderkey)"),
      s"route: ${exec.route}")
    assert(exec.scannedRowGroups < exec.totalRowGroups)
  }

  test("trunc(date, week) fires over the DATE-typed fixture (idx34)") {
    val dir = sf("sf0.001")
    val q = SparkEntry.registry.find(_.name == "idx34_topk_trunc_week").get
    val rows = q.fn(spark, dir).collect()
    assert(rows.length === 10)
    val exec = graft.operators.Indexed.lastDateExecution(spark, dir).get
    assert(exec.route === Seq("topk-lex2(trunc-week(l_shipdate),l_orderkey)"),
      s"route: ${exec.route}")
    assert(exec.scannedRowGroups < exec.totalRowGroups)
    // calendar units decline the Derby render but still prune planner-side
    val df = graft.operators.Indexed.lineitemDateClustered(spark, dir)
    val y = df.orderBy(trunc(col("l_shipdate"), "year").desc,
        col("l_orderkey").desc, col("l_linenumber").desc)
      .limit(10).select("l_shipdate", "l_orderkey", "l_linenumber").collect()
    val execY = graft.operators.Indexed.lastDateExecution(spark, dir).get
    assert(execY.route === Seq("topk-lex2(trunc-year(l_shipdate),l_orderkey)"),
      s"route: ${execY.route}")
    val plainY = spark.read.parquet(s"$dir/lineitem.parquet")
      .withColumn("l_shipdate", col("l_shipdate").cast("date"))
      .orderBy(trunc(col("l_shipdate"), "year").desc,
        col("l_orderkey").desc, col("l_linenumber").desc)
      .limit(10).select("l_shipdate", "l_orderkey", "l_linenumber").collect()
    assert(y === plainY, "trunc-year result diverged")
    // year(date) as the head key: same planner-side calendar image
    val yr = df.orderBy(year(col("l_shipdate")).desc, col("l_orderkey").desc,
        col("l_linenumber").desc)
      .limit(10).select("l_shipdate", "l_orderkey", "l_linenumber").collect()
    val execYr = graft.operators.Indexed.lastDateExecution(spark, dir).get
    assert(execYr.route === Seq("topk-lex2(year(l_shipdate),l_orderkey)"),
      s"route: ${execYr.route}")
    val plainYr = spark.read.parquet(s"$dir/lineitem.parquet")
      .withColumn("l_shipdate", col("l_shipdate").cast("date"))
      .orderBy(year(col("l_shipdate")).desc, col("l_orderkey").desc,
        col("l_linenumber").desc)
      .limit(10).select("l_shipdate", "l_orderkey", "l_linenumber").collect()
    assert(yr === plainYr, "year(date) result diverged")
  }

  test("to_date(ts) and year/month runs over DATE columns take the image path too") {
    val dir = sf("sf0.001")
    // to_date(ts): RuntimeReplaceable — the optimizer folds it to the
    // cast, so the cast-to-date image serves it with no extra recognizer
    val df = graft.operators.Indexed.lineitemTime(spark, dir)
    val got = df.orderBy(to_date(col("l_shipdate")).desc, col("l_orderkey").desc,
        col("l_linenumber").desc)
      .limit(10).select("l_shipdate", "l_orderkey", "l_linenumber").collect()
    val exec = graft.operators.Indexed.lastTimeExecution(spark, dir).get
    assert(exec.route === Seq("topk-lex2(date(l_shipdate),l_orderkey)"),
      s"route: ${exec.route}")
    val plain = spark.read.parquet(s"$dir/lineitem.parquet")
      .orderBy(to_date(col("l_shipdate")).desc, col("l_orderkey").desc,
        col("l_linenumber").desc)
      .limit(10).select("l_shipdate", "l_orderkey", "l_linenumber").collect()
    assert(got === plain, "to_date result diverged")
    // (year, month) run over a true DATE column collapses with NO cast
    // leg: the image is the bare trunc-month grid
    val dd = graft.operators.Indexed.lineitemDateClustered(spark, dir)
    val gotRun = dd.orderBy(year(col("l_shipdate")).desc,
        month(col("l_shipdate")).desc, col("l_orderkey").desc,
        col("l_linenumber").desc)
      .limit(10).select("l_shipdate", "l_orderkey", "l_linenumber").collect()
    val execRun = graft.operators.Indexed.lastDateExecution(spark, dir).get
    assert(execRun.route === Seq("topk-lex2(trunc-month(l_shipdate),l_orderkey)"),
      s"route: ${execRun.route}")
    val plainRun = spark.read.parquet(s"$dir/lineitem.parquet")
      .withColumn("l_shipdate", col("l_shipdate").cast("date"))
      .orderBy(year(col("l_shipdate")).desc, month(col("l_shipdate")).desc,
        col("l_orderkey").desc, col("l_linenumber").desc)
      .limit(10).select("l_shipdate", "l_orderkey", "l_linenumber").collect()
    assert(gotRun === plainRun, "date-column ymd run diverged")
    // WHERE to_date(ts) = d prunes through the same image (the predicate
    // rewriter's MonotoneImage seam)
    val d0 = java.sql.Date.valueOf("1995-03-15")
    val cnt = df.filter(to_date(col("l_shipdate")) === lit(d0)).count()
    val cntPlain = spark.read.parquet(s"$dir/lineitem.parquet")
      .filter(to_date(col("l_shipdate")) === lit(d0)).count()
    assert(cnt === cntPlain)
    val execF = graft.operators.Indexed.lastTimeExecution(spark, dir).get
    assert(execF.scannedRowGroups < execF.totalRowGroups,
      s"to_date filter never pruned (${execF.scannedRowGroups}/${execF.totalRowGroups})")
  }

  test("a fixed-offset session zone rides INTO the image; idx37 fires at +05:30") {
    val dir = sf("sf0.001")
    val q = SparkEntry.registry.find(_.name == "idx37_topk_zone_offset").get
    val rows = q.fn(spark, dir).collect()
    assert(rows.length === 10)
    val exec = graft.operators.Indexed.lastTimeExecution(spark, dir).get
    assert(exec.route === Seq("topk-lex2(day@19800.ntz(l_shipdate),l_orderkey)"),
      s"route: ${exec.route}")
    assert(exec.scannedRowGroups < exec.totalRowGroups)
    // the same shape under a NEGATIVE offset zone
    graft.operators.Indexed.withSessionTz(spark, "-08:00") {
      val df = graft.operators.Indexed.lineitemTime(spark, dir)
      val got = df.orderBy(date_trunc("day", col("l_shipdate")).desc,
          col("l_orderkey").desc, col("l_linenumber").desc)
        .limit(10).select("l_shipdate", "l_orderkey", "l_linenumber")
        .collect()
      val ex2 = graft.operators.Indexed.lastTimeExecution(spark, dir).get
      assert(ex2.route === Seq("topk-lex2(day@-28800.ntz(l_shipdate),l_orderkey)"),
        s"route: ${ex2.route}")
      val want = spark.read.parquet(s"$dir/lineitem.parquet")
        .orderBy(date_trunc("day", col("l_shipdate")).desc,
          col("l_orderkey").desc, col("l_linenumber").desc)
        .limit(10).select("l_shipdate", "l_orderkey", "l_linenumber")
        .collect()
      assert(got === want, "-08:00 zoned image result diverged")
    }
  }

  // EPOCH-STRADDLING fixture (r13): timestamps with negative micros and
  // sub-second components (the truncating-vs-floor division seam of
  // UnixSecondsImage), a DATE column with pre-1970 days (floorToGrid's
  // Monday anchor below zero), ~4% nulls, 50-row groups.
  private lazy val fx8: (String, DerbyStatsIndex, StructType) = {
    val base = tempDir("graft-topk-epoch")
    val dir = s"$base/data"
    import spark.implicits._
    graft.operators.Indexed.withMicrosTimestamps(spark) {
      (0 until 2000)
        .map { i =>
          // ~23 days either side of the epoch; the noise term guarantees
          // sub-second micros on both signs
          val millis = (i.toLong - 1000L) * 2000000L + ((i.toLong * 2971L) % 997L)
          (if (i % 25 == 0) None else Some(new java.sql.Timestamp(millis)),
            if (i % 30 == 0) None
            else Some(java.time.LocalDate.ofEpochDay(i.toLong / 4L - 250L)),
            i.toLong)
        }
        .toDF("ts", "d", "id")
        .coalesce(1)
        .write.option("parquet.block.row.count.limit", "50")
        .mode("overwrite").parquet(dir)
    }
    val (index, schema) = IndexedParquet.buildIndex(
      spark, dir, Seq("ts", "d", "id"), s"$base/statsdb")
    (dir, index.asInstanceOf[DerbyStatsIndex], schema)
  }

  test("UnixSecondsImage equals Spark's unix_timestamp on pre-1970 instants") {
    val (dir, _, _) = fx8
    import graft.index.UnixSecondsImage
    val pairs = spark.read.parquet(dir).filter(col("ts").isNotNull)
      .select(col("ts"), unix_timestamp(col("ts")).as("u")).collect()
    assert(pairs.nonEmpty)
    var sawNegativeFraction = false
    pairs.foreach { r =>
      val micros = org.apache.spark.sql.catalyst.util.DateTimeUtils
        .fromJavaTimestamp(r.getTimestamp(0))
      if (micros < 0 && micros % 1000000L != 0) sawNegativeFraction = true
      assert(UnixSecondsImage(java.lang.Long.valueOf(micros)) ===
        java.lang.Long.valueOf(r.getLong(1)),
        s"image diverged from unix_timestamp at micros=$micros")
    }
    assert(sawNegativeFraction,
      "fixture never exercised the trunc-vs-floor seam (negative sub-second micros)")
  }

  test("epoch-straddling image keys: catalog==planner, pruned==full, all images") {
    val (dir, index, schema) = fx8
    import graft.index.{CastDateImage, ChainedImage, KeyImage, SortKeySpec, TruncDateImage, TruncTimestampImage, UnixSecondsImage, YearImage}
    val total = index.allFiles().map(_.scanRowGroups.size).sum
    // (tag, sort column, image, equivalent data-space expression)
    val cases: Seq[(String, String, KeyImage, org.apache.spark.sql.Column)] = Seq(
      ("unixsec", "ts", UnixSecondsImage, unix_timestamp(col("ts"))),
      ("castdate", "ts", CastDateImage, col("ts").cast("date")),
      ("trunc-day", "ts", TruncTimestampImage.forUnit("day").get,
        date_trunc("day", col("ts"))),
      ("trunc-week", "ts", TruncTimestampImage.forUnit("week").get,
        date_trunc("week", col("ts"))),
      ("chained-week", "ts",
        ChainedImage(CastDateImage, TruncDateImage.forUnit("week").get),
        trunc(col("ts").cast("date"), "week")),
      ("date-week", "d", TruncDateImage.forUnit("week").get,
        trunc(col("d"), "week")),
      ("date-year", "d", YearImage, year(col("d"))))
    var anyNarrower = false
    for {
      (tag, c, img, expr) <- cases
      desc <- Seq(true, false)
      k <- Seq(1, 40, 600)
    } {
      val keys = Seq(SortKeySpec(c, desc, !desc, Some(img)),
        SortKeySpec("id", desc = false, nullsFirst = true))
      val plans = TopKPruning.pruneLexN(index, keys, k.toLong)
      val viaPlanner = TopKPruning.pruneLexN(plannerOnly(index), keys, k.toLong)
      assert(plans.map(p => p.fileName -> p.scanRowGroups).toMap ===
        viaPlanner.map(p => p.fileName -> p.scanRowGroups).toMap,
        s"$tag desc=$desc k=$k: catalog/planner diverged")
      if (plans.map(_.scanRowGroups.size).sum < total) anyNarrower = true
      val ord = Seq(if (desc) expr.desc else expr.asc, col("id").asc)
      val got =
        if (plans.isEmpty) Seq.empty
        else RowGroupSkipScan.scan(spark, dir, plans, schema)
          .orderBy(ord: _*).limit(k)
          .select(expr.as("b"), col("id")).collect().toSeq
      val want = spark.read.parquet(dir)
        .orderBy(ord: _*).limit(k)
        .select(expr.as("b"), col("id")).collect().toSeq
      assert(got === want, s"$tag desc=$desc k=$k: pruned top-k diverged")
    }
    assert(anyNarrower, "epoch fixture never narrowed — fixture too easy")
  }

  test("offset-zoned images prune the epoch fixture under their session zone") {
    val (dir, index, schema) = fx8
    import graft.index.{KeyImage, SortKeySpec, TruncTimestampImage}
    for {
      (tz, off) <- Seq(("+05:30", 19800), ("-08:00", -28800))
      unit <- Seq("day", "week")
      desc <- Seq(true, false)
      k <- Seq(1, 40)
    } graft.operators.Indexed.withSessionTz(spark, tz) {
      val img = TruncTimestampImage.forUnit(unit, off).get
      val keys = Seq(SortKeySpec("ts", desc, !desc, Some(img)),
        SortKeySpec("id", desc = false, nullsFirst = true))
      val plans = TopKPruning.pruneLexN(index, keys, k.toLong)
      val viaPlanner = TopKPruning.pruneLexN(plannerOnly(index), keys, k.toLong)
      assert(plans.map(p => p.fileName -> p.scanRowGroups).toMap ===
        viaPlanner.map(p => p.fileName -> p.scanRowGroups).toMap,
        s"$tz $unit desc=$desc k=$k: catalog/planner diverged")
      val expr = date_trunc(unit, col("ts")) // truncates in the session zone
      val ord = Seq(if (desc) expr.desc else expr.asc, col("id").asc)
      val got =
        if (plans.isEmpty) Seq.empty
        else RowGroupSkipScan.scan(spark, dir, plans, schema)
          .orderBy(ord: _*).limit(k)
          .select(col("ts"), col("id")).collect().toSeq
      val want = spark.read.parquet(dir)
        .orderBy(ord: _*).limit(k)
        .select(col("ts"), col("id")).collect().toSeq
      assert(got === want, s"$tz $unit desc=$desc k=$k: pruned top-k diverged")
    }
  }

  test("k beyond the table degrades to the full plan set") {
    val (_, index, _) = fx
    val total = index.allFiles().map(_.scanRowGroups.size).sum
    val kept = TopKPruning.prune(index, "key", 1000000, descending = true)
      .map(_.scanRowGroups.size).sum
    assert(kept === total)
  }
}
