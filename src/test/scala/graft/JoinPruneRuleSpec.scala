package graft

import graft.prune.JoinPrune
import org.apache.spark.sql.{DataFrame, GraftSqlShim}
import org.apache.spark.sql.catalyst.plans.logical.{Join, LocalRelation}
import org.apache.spark.sql.functions._

/** Automatic semi-join pruning (plans/JoinPruneRule, r15): the rule
  * fires on a plain equi-join against the indexed relation, records its
  * route, and equals the kill-switched declarative join; outer joins,
  * huge dim sides, and over-limit key sets decline to the declarative
  * plan. A dim within the row bound is read once and its rows both prune
  * and join (`dim:rows`); a bigger one prunes by its distinct keys
  * (`dim:keys`); a plain semi-join on one key becomes an IN filter.
  */
class JoinPruneRuleSpec extends SparkSpec {

  private val dir = sf("sf0.001")

  private lazy val fact = operators.Indexed.lineitemIndexed(spark, dir)
  // 499000 keeps the key set point-sparse on the 8-group sf0.001 fixture
  // (a scattered-everywhere set cannot narrow, and the rule then declines
  // by design)
  private lazy val dim = Tables.load(spark, dir, "orders")
    .filter(col("o_totalprice") > 499000.0).select("o_orderkey")

  private def joined =
    fact.join(dim, fact("l_orderkey") === dim("o_orderkey"), "left_semi")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"))

  test("the rule fires on a plain join, prunes, and stays exact") {
    val got = joined.collect().map(_.toString).sorted
    val exec = operators.Indexed.lastExecution(spark, dir)
      .getOrElse(fail("no pruning execution recorded"))
    assert(exec.route.exists(_.startsWith("join-prune:")),
      s"route was ${exec.route}")
    assert(exec.scannedRowGroups < exec.totalRowGroups,
      "the join pruned nothing on the range-clustered fixture")
    spark.conf.set("spark.graft.joinPrune", "false")
    val want = try joined.collect().map(_.toString).sorted
      finally spark.conf.unset("spark.graft.joinPrune")
    assert(got === want)
  }

  test("scan leaf: the optimized plan carries RowGroupScan, not the relation") {
    val p = joined.queryExecution.optimizedPlan
    assert(p.collectFirst { case s: plans.RowGroupScan => s }.isDefined,
      s"no RowGroupScan leaf:\n$p")
  }

  test("an OUTER join never fires (unmatched fact rows must survive)") {
    val q = fact.join(dim, fact("l_orderkey") === dim("o_orderkey"), "left_outer")
      .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
    val p = q.queryExecution.optimizedPlan
    assert(p.collectFirst { case s: plans.RowGroupScan => s }.isEmpty,
      s"rule fired on an outer join:\n$p")
    // and the answer is the full fact tally (outer semantics intact)
    assert(q.agg(sum("n")).collect()(0).getLong(0) ==
      Tables.load(spark, dir, "lineitem").count())
  }

  test("a dim past the size estimate declines to the declarative join") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1")
    try {
      val p = joined.queryExecution.optimizedPlan
      assert(p.collectFirst { case s: plans.RowGroupScan => s }.isEmpty,
        s"rule fired past the size gate:\n$p")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("a fact-side Filter is traversed and stays above the substituted leaf") {
    val q = fact.filter(col("l_quantity") > 10.0)
      .join(dim, fact("l_orderkey") === dim("o_orderkey"), "left_semi")
      .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
    val p = q.queryExecution.optimizedPlan
    assert(p.collectFirst { case s: plans.RowGroupScan => s }.isDefined,
      s"rule did not traverse the fact-side Filter:\n$p")
    val got = q.collect().map(_.toString).sorted
    spark.conf.set("spark.graft.joinPrune", "false")
    val want = try q.collect().map(_.toString).sorted
      finally spark.conf.unset("spark.graft.joinPrune")
    assert(got === want)
  }

  test("an INNER join with the fact on the RIGHT fires via the mirror") {
    val q = dim.join(fact, fact("l_orderkey") === dim("o_orderkey"), "inner")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), sum("o_orderkey").as("sk"))
    val p = q.queryExecution.optimizedPlan
    assert(p.collectFirst { case s: plans.RowGroupScan => s }.isDefined,
      s"mirror did not fire:\n$p")
    val got = q.collect().map(_.toString).sorted
    spark.conf.set("spark.graft.joinPrune", "false")
    val want = try q.collect().map(_.toString).sorted
      finally spark.conf.unset("spark.graft.joinPrune")
    assert(got === want)
  }

  test("an over-limit key set declines (bounded collect, unpruned plan)") {
    // every orderkey qualifies -> key count > DefaultMaxKeys only if the
    // fixture were big enough; emulate by dropping the limit to the conf?
    // The rule's bound is a constant, so instead verify the bounded
    // collect contract at the JoinPrune API level:
    val (index, schema, _) = operators.Indexed.fixture(spark, dir)
    val dec = JoinPrune.prunePlans(spark, index, schema, "l_orderkey",
      (0L until 100L), maxKeys = 50)
    assert(dec.route == "degrade-cardinality")
    assert(dec.scannedGroups == dec.totalGroups)
  }

  private def route: Seq[String] = operators.Indexed.lastExecution(spark, dir)
    .getOrElse(fail("no pruning execution recorded")).route

  private def ruleOff[T](body: => T): T = {
    spark.conf.set("spark.graft.joinPrune", "false")
    try body finally spark.conf.unset("spark.graft.joinPrune")
  }

  private def rows(q: DataFrame): Seq[String] = q.collect().map(_.toString).toSeq.sorted

  /** The fixture dim's keys, as a local (`Seq.toDF`) dimension. */
  private lazy val dimKeys: Seq[Long] = dim.collect().map(_.getLong(0)).toSeq

  test("a local dim is read with no Spark job; the Parquet dim needs at most the keys collect's two") {
    import spark.implicits._
    val local = dimKeys.toDF("o_orderkey")
    val q = fact.join(local, fact("l_orderkey") === local("o_orderkey"), "left_semi")
      .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
    assert(jobsDuring(q.queryExecution.optimizedPlan) === 0)
    assert(route.contains(s"dim:rows(${dimKeys.size})") && route.contains("semi:in"),
      s"route was $route")
    // the whole read: the aggregate's map and result stages, no dim run
    // and no broadcast
    val read = fact.join(local, fact("l_orderkey") === local("o_orderkey"), "left_semi")
      .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
    val readJobs = jobsDuring(read.collect())
    info(s"$readJobs job(s) for the whole read")
    assert(readJobs <= 2)
    // the distinct-keys collect this replaced ran 2 jobs on this dim
    val jq = joined
    val parquetJobs = jobsDuring(jq.queryExecution.optimizedPlan)
    info(s"$parquetJobs job(s) for the Parquet dim")
    assert(parquetJobs <= 2, s"$parquetJobs jobs")
    assert(route.exists(_.startsWith("dim:rows(")), s"route was $route")
    assert(rows(q) === ruleOff(rows(q)))
  }

  test("an INNER join with duplicate dim keys keeps their multiplicity, dim on either side") {
    import spark.implicits._
    val dup = (dimKeys ++ dimKeys ++ dimKeys.take(1)).zipWithIndex
      .map { case (k, i) => (k, i.toLong) }.toDF("o_orderkey", "tag")
    val onRight = fact.join(dup, fact("l_orderkey") === dup("o_orderkey"), "inner")
    val onLeft = dup.join(fact, fact("l_orderkey") === dup("o_orderkey"), "inner")
    Seq(onRight, onLeft).foreach { j =>
      val q = j.groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), sum("tag").as("st"), sum("o_orderkey").as("sk"))
      val got = rows(q)
      assert(route.contains(s"dim:rows(${2 * dimKeys.size + 1})"), s"route was $route")
      assert(q.queryExecution.optimizedPlan.collectFirst { case l: LocalRelation => l }
        .exists(_.data.size == 2 * dimKeys.size + 1))
      assert(got === ruleOff(rows(q)))
    }
  }

  test("a dim past the row bound prunes by its distinct keys and stays exact") {
    val ten = Tables.load(spark, dir, "orders").orderBy("o_orderkey").limit(10)
      .collect().map(_.getLong(0)).toSeq
    val big = spark.range(70000).select(
      element_at(typedLit(ten), (col("id") % 10 + 1).cast("int")).as("o_orderkey"))
    val q = fact.join(big, fact("l_orderkey") === big("o_orderkey"), "inner")
      .groupBy("l_returnflag").agg(count(lit(1)).as("n"), sum("o_orderkey").as("sk"))
    val got = rows(q)
    assert(route.contains("dim:keys(10)") && !route.exists(_.startsWith("dim:rows")),
      s"route was $route")
    val exec = operators.Indexed.lastExecution(spark, dir).get
    assert(exec.scannedRowGroups < exec.totalRowGroups)
    assert(got === ruleOff(rows(q)))
  }

  test("a left_semi with a non-equi condition keeps its Join; NULL keys and an empty dim stay exact") {
    import spark.implicits._
    val withLim = dimKeys.map(k => (k, 3)).toDF("o_orderkey", "lim")
    val cond = fact.join(withLim, fact("l_orderkey") === withLim("o_orderkey") &&
      fact("l_linenumber") > withLim("lim"), "left_semi")
      .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
    val got = rows(cond)
    assert(route.exists(_.startsWith("dim:rows(")) && !route.contains("semi:in"),
      s"route was $route")
    val p = cond.queryExecution.optimizedPlan
    assert(p.collectFirst { case j: Join => j }.isDefined, s"the Join was dropped:\n$p")
    assert(got === ruleOff(rows(cond)))

    val nulls = (dimKeys.map(Option(_)) :+ None).toDF("o_orderkey")
    val empty = Seq.empty[Long].toDF("o_orderkey")
    Seq(nulls, empty).foreach { d =>
      val q = fact.join(d, fact("l_orderkey") === d("o_orderkey"), "left_semi")
        .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
      assert(rows(q) === ruleOff(rows(q)))
    }
  }

  test("a non-deterministic dim fires through row reuse and joins the rows it pruned with") {
    val rnd = Tables.load(spark, dir, "orders")
      .filter(col("o_orderkey") < 200 && rand(7) < 0.5).select("o_orderkey")
    val q = fact.join(rnd, fact("l_orderkey") === rnd("o_orderkey"), "inner")
      .groupBy("l_returnflag").agg(count(lit(1)).as("n"), sum("o_orderkey").as("sk"))
    val lr = q.queryExecution.optimizedPlan.collectFirst { case l: LocalRelation => l }
      .getOrElse(fail(s"no LocalRelation:\n${q.queryExecution.optimizedPlan}"))
    assert(route.exists(_.startsWith("dim:rows(")), s"route was $route")
    val got = rows(q)
    val d = GraftSqlShim.ofRows(spark, lr)
    val want = ruleOff(rows(fact.join(d, fact("l_orderkey") === d("o_orderkey"), "inner")
      .groupBy("l_returnflag").agg(count(lit(1)).as("n"), sum("o_orderkey").as("sk"))))
    assert(got === want)
  }

  test("idx79 and idx83 join against the dim rows they pruned with") {
    Seq("idx79_semijoin_routed" -> true, "idx83_starjoin_inner" -> false).foreach {
      case (name, semiIn) =>
        SparkEntry.queries(name)(spark, dir).collect()
        assert(route.exists(_.startsWith("dim:rows(")) && route.contains("semi:in") == semiIn,
          s"$name route was $route")
    }
  }
}
