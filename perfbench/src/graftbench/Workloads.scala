package graftbench

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** One operation of a workload's fixed sequence. */
sealed trait Op { def kind: String }

/** A read through the indexed relation. `query` builds the DataFrame from
  * the relation; `expected` is the answer in canonical form; `pred` is the
  * row filter the query applies (for counting the row groups that truly
  * hold a match); `target` is the graft rule that must fire, `Some("")`
  * when none may fire, None when the read asserts no rule. */
final case class Read(kind: String, query: DataFrame => DataFrame, expected: () => Seq[String],
    ordered: Boolean, pred: Option[Column], target: Option[String]) extends Op

/** Append batch `i` of the pool through `IndexedSink.start`. A warm-up
  * append (`measured = false`) runs the streaming path once untimed: the
  * first append of a JVM costs about twice a warm one. */
final case class Append(i: Int, measured: Boolean = true) extends Op { def kind = "append" }

/** `Compaction.compactIndexed` over the table. */
case object Compact extends Op { def kind = "compact" }

/** The catalog layout and table shape of a workload. With `sideTable`,
  * appends go to a second table, so that they can interleave with reads
  * whose answers are the base table's. */
final case class Shape(
    baseFiles: Int, rgsPerFile: Int, rowsPerRg: Int, rowsPerDay: Int,
    appends: Int, appendRows: Int, sideTable: Boolean = false,
    bloomCols: Seq[String] = Nil, rowLevel: Seq[String] = Nil,
    freqCols: Seq[String] = Nil, sumCols: Seq[String] = Nil, hllCols: Seq[String] = Nil,
    quantileCols: Seq[String] = Nil, cmsCols: Seq[String] = Nil) {
  def baseRows: Long = baseFiles.toLong * rgsPerFile * rowsPerRg
  def universe: Long = baseRows + appends.toLong * appendRows
}

/** A workload: its table shape and its fixed, seeded op sequence. */
abstract class Workload(val name: String) {
  def shape(seconds: Int): Shape
  /** (warm-up ops, run untimed to load code and caches; measured ops) */
  def plan(ctx: Ctx, seconds: Int): (Seq[Op], Seq[Op])
}

/** What op builders need: the generator, the shape and an unindexed view
  * of the base table (for answers the generator cannot give in closed
  * form). */
final case class Ctx(spark: SparkSession, gen: Gen, shape: Shape, plain: () => DataFrame,
    rnd: scala.util.Random)

object Workload {
  val all: Seq[Workload] = Seq(Analytics, Ingest)
  def apply(n: String): Workload = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(s"unknown workload '$n' (expected ${all.map(_.name).mkString(", ")})"))

  def canon(rows: Seq[Row], ordered: Boolean): Seq[String] = {
    val s = rows.map(_.toSeq.map(String.valueOf).mkString("|"))
    if (ordered) s else s.sorted
  }

  /** Kinds interleaved by smooth weighted round robin: every window of the
    * sequence holds each kind in proportion to its weight. */
  def schedule(weights: Seq[(String, Int)], n: Int): Seq[String] = {
    val total = weights.map(_._2).sum
    val cur = Array.fill(weights.size)(0)
    (0 until n).map { _ =>
      weights.indices.foreach(i => cur(i) += weights(i)._2)
      val best = cur.indices.maxBy(cur(_))
      cur(best) -= total
      weights(best)._1
    }
  }

  /** A key read of one flavour around row `id`, drawing any further keys
    * from the ids [lo, lo + span). */
  def point(ctx: Ctx, kind: String, id: Long, lo: Long, span: Long): Read = {
    val g = ctx.gen
    val (p, rows) = kind match {
      case "point"  => (col("k") === g.k(id), Seq(id))
      case "bloom"  => (col("u") === g.u(id), Seq(id))
      case "routed" => (col("r") === g.r(id), Seq(id))
      case "absent" => (col("k") === -2 * id - 2, Nil)
      case "in" =>
        val ids = (0 until 8).map(j => lo + (id - lo + j * 977L * ctx.shape.rowsPerRg) % span).distinct
        (col("k").isin(ids.map(g.k): _*), ids)
      case "range" =>
        val first = math.min(id, lo + span - 16)
        (col("k").between(g.k(first), g.k(first + 15)), first until first + 16)
    }
    Read(kind, _.filter(p), () => canon(rows.map(g.row), ordered = false), ordered = false,
      Some(p), None)
  }
}

/** A few larger files with every ledger built and a catalog that fits in
  * Derby's cache. Each read targets one graft optimizer rule (asserted to
  * fire), plus one full-scan aggregate graft declines. */
object Analytics extends Workload("analytics") {
  val warmAppends = 2
  def shape(seconds: Int) = Shape(baseFiles = 8, rgsPerFile = 4, rowsPerRg = 16384,
    rowsPerDay = 1024, appends = warmAppends + 7, appendRows = 2048, sideTable = true,
    bloomCols = Seq("u"), freqCols = Seq("k", "v"), sumCols = Seq("k", "v"),
    hllCols = Seq("u"), quantileCols = Seq("v"))

  private def instances(ctx: Ctx): Seq[Read] = {
    val spark = ctx.spark
    import spark.implicits._
    val n = ctx.shape.baseRows
    def read(kind: String, target: String, ordered: Boolean = false, pred: Option[Column] = None)
        (q: DataFrame => DataFrame): Read = {
      lazy val answer = Workload.canon(q(ctx.plain()).collect().toSeq, ordered)
      Read(kind, q, () => answer, ordered, pred, Some(target))
    }
    val globals = Seq("k", "d").map(c =>
      read("agg_minmax", "StatsAggPushdown")(_.agg(min(c), max(c), count(lit(1)))))
    val sums = Seq("k", "v").map(c =>
      read("agg_sum", "StatsAggPushdown")(_.agg(sum(c), count(c))))
    val groups = Seq("v").map(c =>
      read("groupby", "StatsAggPushdown")(_.groupBy("g").agg(count(lit(1)), sum(c), max(c))))
    val topk = Seq((col("k").desc, 10), (col("d").asc, 25)).map { case (o, k) =>
      read("topk", "TopKPushdown", ordered = true)(_.orderBy(o, col("k")).limit(k).select("k", "v", "d"))
    }
    val topkFiltered = (0 until 2).map { _ =>
      val lo = ((ctx.rnd.nextLong() & Long.MaxValue) % (n / 2)) * 2
      val p = col("k") >= lo
      // no `pred`: the limit, not the filter, decides which row groups matter
      read("topk_filtered", "TopKPushdown", ordered = true)(
        _.filter(p).orderBy(col("k")).limit(10).select("k", "u", "v"))
    }
    val parts = Seq(2, 7).map { m =>
      val p = month(col("d")) === m
      read("part_agg", "PartPruneScan", pred = Some(p))(
        _.filter(p).groupBy("g").agg(count(lit(1)), sum("v")))
    }
    val joins = (0 until 2).map { _ =>
      val ids = Seq.fill(24)((ctx.rnd.nextLong() & Long.MaxValue) % n).distinct
      val dim = ids.map(ctx.gen.k).toDF("dk")
      read("join", "JoinPruneRule", pred = Some(col("k").isin(ids.map(ctx.gen.k): _*)))(
        f => f.join(dim, f("k") === dim("dk"), "left_semi").groupBy("g").agg(count(lit(1)), sum("v")))
    }
    val full = Seq(7).map(m =>
      read("full_scan", "")(_.groupBy("g").agg(sum(pmod(col("v") * col("u"), lit(m.toLong))))))
    globals ++ sums ++ groups ++ topk ++ topkFiltered ++ parts ++ joins ++ full
  }
  private val weights = Seq("agg_minmax" -> 2, "agg_sum" -> 2, "groupby" -> 2, "topk" -> 1,
    "topk_filtered" -> 4, "part_agg" -> 2, "join" -> 3, "full_scan" -> 2)
  def plan(ctx: Ctx, seconds: Int): (Seq[Op], Seq[Op]) = {
    val byKind = instances(ctx).groupBy(_.kind)
    val next = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    def seq(n: Int): Seq[Op] = Workload.schedule(weights, n).map { k =>
      val is = byKind(k); val i = next(k); next(k) = i + 1
      is(i % is.size)
    }
    // measured appends spread evenly through the reads
    val reads = seq(math.max(100, seconds * 10))
    val m = ctx.shape.appends - warmAppends
    val ops = (0 until m).flatMap(a =>
      reads.slice(a * reads.size / m, (a + 1) * reads.size / m) :+ Append(warmAppends + a))
    (seq(weights.size * 3) ++ (0 until warmAppends).map(Append(_, measured = false)), ops)
  }
}

/** Many small files, each clustered on `k`, under a catalog larger than
  * Derby's page cache (blooms and count-min ledgers on `u`, freq/sum ledgers
  * on `v`, row-level postings on `r`); then a fixed sequence: an append of
  * new keys through the indexed sink, key reads of every flavour on
  * just-appended and on old keys, and a compaction every few appends. Every
  * read walks the out-of-cache catalog; graft's rules rarely fire. */
object Ingest extends Workload("ingest") {
  val readsPerAppend = 13
  val compactEvery = 4
  val warmAppends = 2
  def shape(seconds: Int) = Shape(baseFiles = 16, rgsPerFile = 4, rowsPerRg = 512,
    rowsPerDay = 4096, appends = warmAppends + math.max(8, seconds * 4 / 5), appendRows = 1024,
    bloomCols = Seq("u"), rowLevel = Seq("r"), freqCols = Seq("v"), sumCols = Seq("v"),
    cmsCols = Seq("u"))
  private val weights = Seq("absent" -> 2, "point" -> 4, "in" -> 2, "range" -> 3,
    "bloom" -> 2, "routed" -> 3)
  private def rid(ctx: Ctx, lo: Long, span: Long) = lo + (ctx.rnd.nextLong() & Long.MaxValue) % span
  def plan(ctx: Ctx, seconds: Int): (Seq[Op], Seq[Op]) = {
    val s = ctx.shape
    val warm = Workload.schedule(weights, 16).map(k =>
      Workload.point(ctx, k, rid(ctx, 0, s.baseRows), 0, s.baseRows)) ++
      (0 until warmAppends).map(Append(_, measured = false))
    val kinds = Workload.schedule(weights, (s.appends - warmAppends) * readsPerAppend).iterator
    warm -> (warmAppends until s.appends).flatMap { a =>
      val fresh = s.baseRows + a.toLong * s.appendRows
      val compact = if ((a - warmAppends + 1) % compactEvery == 0) Seq(Compact) else Nil
      Seq(Append(a)) ++ compact ++ (0 until readsPerAppend).map { j =>
        val (lo, span) = if (j % 2 == 0) (fresh, s.appendRows.toLong) else (0L, fresh)
        Workload.point(ctx, kinds.next(), rid(ctx, lo, span), lo, span)
      }
    }
  }
}
