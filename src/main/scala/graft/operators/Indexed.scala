package graft.operators

import graft.QueryDef
import graft.sources.{IndexedParquet, IndexedParquetFileIndex}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}
import scala.collection.concurrent.TrieMap

/** The reference's flagship capability under the driver's correctness gate:
  * query a directory of parquet files through the external-stats-index
  * provider and get the same answer as a plain scan — with files pruned at
  * planning time.
  *
  * `lineitem` at every SF is a single parquet file, where file-level pruning
  * is trivial; to exercise it meaningfully we materialize (once per sfDir) a
  * range-partitioned copy — 8 files range-clustered on `l_orderkey`, several
  * row groups each — index it, and run the reference's five demo-query
  * shapes (point / range+OR / AND-two-cols / all-pruned / no-predicate,
  * /root/reference/sqlx-sqlite/src/main.rs:135-186) against the indexed
  * provider. Oracles run on the original `lineitem`, proving layout +
  * pruning change nothing.
  */
object Indexed {

  private case class Entry(
      df: DataFrame,
      fileIndex: IndexedParquetFileIndex,
      dataDir: String,
      index: graft.index.StatsIndex,
      dataSchema: org.apache.spark.sql.types.StructType)
  private val cache = TrieMap.empty[String, Entry]

  /** Indexed, range-clustered copy of lineitem for `sfDir`. */
  def lineitemIndexed(spark: SparkSession, sfDir: String): DataFrame =
    cached(spark, sfDir).df

  def lastExecution(spark: SparkSession, sfDir: String) =
    cached(spark, sfDir).fileIndex.lastExecution

  /** Test seam: the cached fixture's (stats index, data schema, data dir)
    * so specs can replay planning decisions through alternate index modes
    * (e.g. the planner-side bloom probe) against the same catalog. */
  private[graft] def fixture(spark: SparkSession, sfDir: String)
      : (graft.index.StatsIndex, org.apache.spark.sql.types.StructType, String) = {
    val e = cached(spark, sfDir)
    (e.index, e.dataSchema, e.dataDir)
  }

  private def rmrf(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(rmrf)
    f.delete(); ()
  }

  /** Scope the TIMESTAMP_MICROS writer setting to one fixture write: the
    * session is shared, so a leaked conf would silently change every
    * later parquet write's timestamp encoding (order-dependent fixture
    * coupling). Restores the prior value — or clears back to the
    * session default — even when the write throws. */
  private[graft] def withMicrosTimestamps[A](spark: SparkSession)(body: => A): A = {
    val key = "spark.sql.parquet.outputTimestampType"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "TIMESTAMP_MICROS")
    try body
    finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  /** (allFiles plans, data schema, data dir) of the registered lineitem
    * fixture — the raw handles spec-side index builds need (e.g. the
    * ScaleTrendSpec posting-build timing) without re-deriving the layout. */
  private[graft] def indexHandles(spark: SparkSession, sfDir: String)
      : (Seq[graft.index.FileScanPlan], org.apache.spark.sql.types.StructType, String) = {
    val e = cached(spark, sfDir)
    (e.index.allFiles(), e.dataSchema, e.dataDir)
  }

  private def cached(spark: SparkSession, sfDir: String): Entry =
    cache.getOrElseUpdate(sfDir + "@" + spark.hashCode(), {
      val safe = sfDir.replaceAll("[^A-Za-z0-9.]", "_")
      // absolute: a relative Derby path would resolve under derby.system.home,
      // detaching the stats DB from the data dir it describes
      val base = new java.io.File(s"target/tmp/indexed/$safe").getAbsolutePath
      // -v5 (r11): timestamps written as TIMESTAMP_MICROS — Spark's INT96
      // default carries NO footer min/max, silently degrading every
      // l_shipdate stats decision to "keep" (sound but blind)
      val dataDir = s"$base/lineitem-v5"
      if (!Files.exists(Paths.get(dataDir, "_SUCCESS"))) {
        // stale stats DB describes the previous materialization — drop it
        rmrf(new java.io.File(s"$base/statsdb-v6"))
        withMicrosTimestamps(spark) {
        spark.read.parquet(s"$sfDir/lineitem.parquet")
          // l_ukey: a high-cardinality key (md5 of the row identity) that
          // is UNCORRELATED with the l_orderkey range clustering — the
          // shape min/max pruning cannot touch and the per-row-group
          // bloom index exists for (idx12)
          .withColumn("l_ukey",
            md5(concat_ws("-", col("l_orderkey"), col("l_linenumber"))))
          .repartitionByRange(8, col("l_orderkey"))
          .write.mode("overwrite")
          // several row groups per file so footer-level row-group pruning
          // has something to skip
          .option("parquet.block.row.count.limit", "16384")
          .option("parquet.block.size", (4L * 1024 * 1024).toString)
          .parquet(dataDir)
        }
      }
      // -v6: schema grew across versions (l_ukey stats + bloom column) — a stale pre-v4
      // DB would reject inserts; versioning the path sidesteps migration
      val dbPath = s"$base/statsdb-v6"
      val (index, dataSchema) = IndexedParquet.buildIndex(
        spark, dataDir,
        Seq("l_orderkey", "l_quantity", "l_returnflag", "l_shipdate", "l_ukey"),
        dbPath, bloomCols = Seq("l_ukey"))
      val (df, fileIndex) = IndexedParquet.read(spark, dataDir, index, dataSchema)
      Entry(df, fileIndex, dataDir, index, dataSchema)
    })

  val defs: Seq[QueryDef] = Seq(

    // point-ish predicate on the clustering key → most files pruned
    QueryDef(
      "idx1_point",
      (s, dir) => lineitemIndexed(s, dir)
        .filter(col("l_orderkey") <= 100)
        .select("l_orderkey", "l_linenumber", "l_quantity"),
      Some("""SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
             |WHERE l_orderkey <= 100""".stripMargin)),

    // range + OR (reference demo query 3, main.rs:155-158)
    QueryDef(
      "idx2_range_or",
      (s, dir) => lineitemIndexed(s, dir)
        .filter(col("l_orderkey") < 50 || col("l_orderkey") > 1000000000L)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n")),
      Some("""SELECT l_returnflag, count(*) AS n FROM lineitem
             |WHERE l_orderkey < 50 OR l_orderkey > 1000000000
             |GROUP BY l_returnflag""".stripMargin)),

    // conjunction across columns (reference demo query 4, main.rs:169-172)
    QueryDef(
      "idx3_and",
      (s, dir) => lineitemIndexed(s, dir)
        .filter(col("l_orderkey") < 200 && col("l_returnflag") === "R")
        .select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity"),
      Some("""SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity
             |FROM lineitem WHERE l_orderkey < 200 AND l_returnflag = 'R'""".stripMargin)),

    // all-pruned: zero surviving files must still yield a correct empty
    // result (reference README.md:65-70)
    QueryDef(
      "idx4_allpruned",
      (s, dir) => lineitemIndexed(s, dir)
        .filter(col("l_orderkey") < 0)
        .select("l_orderkey", "l_quantity"),
      Some("SELECT l_orderkey, l_quantity FROM lineitem WHERE l_orderkey < 0")),

    // no predicate + aggregate: index returns everything, full scan
    QueryDef(
      "idx5_nopred",
      (s, dir) => lineitemIndexed(s, dir)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n")),
      Some("SELECT l_returnflag, count(*) AS n FROM lineitem GROUP BY l_returnflag")),

    // timestamp statistics path (extension over the reference's type set)
    QueryDef(
      "idx6_timestamp",
      (s, dir) => lineitemIndexed(s, dir)
        .filter(col("l_shipdate") >= lit(java.sql.Timestamp.valueOf("2001-01-01 00:00:00")))
        .groupBy("l_linestatus")
        .agg(count(lit(1)).as("n")),
      Some("""SELECT l_linestatus, count(*) AS n FROM lineitem
             |WHERE l_shipdate >= TIMESTAMP '2001-01-01 00:00:00'
             |GROUP BY l_linestatus""".stripMargin)),

    // explicit EXTERNAL row-group skip (SURVEY §7.4 stretch): the scan is
    // built from the catalog's per-row-group byte ranges — skipped row
    // groups are physically never read (RowGroupSkipSpec proves it);
    // predicate re-applied on top (Inexact contract) so results are exact
    QueryDef(
      "idx7_rgskip",
      (s, dir) => {
        val e = cached(s, dir)
        graft.sources.RowGroupSkipScan.scanWithPredicate(
          s, e.dataDir, e.index, e.dataSchema,
          col("l_orderkey") >= 500 && col("l_orderkey") < 800)._1
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"), sum(col("l_linenumber").cast("long")).as("sln"))
      },
      Some("""SELECT l_returnflag, count(*) AS n,
             |  CAST(sum(CAST(l_linenumber AS BIGINT)) AS BIGINT) AS sln
             |FROM lineitem WHERE l_orderkey >= 500 AND l_orderkey < 800
             |GROUP BY l_returnflag""".stripMargin)),

    // IN-list predicate through the index (rewritten to an OR of point
    // lookups in stats space — only row groups covering any listed key
    // survive)
    QueryDef(
      "idx8_in",
      (s, dir) => lineitemIndexed(s, dir)
        .filter(col("l_orderkey").isin(1L, 1000L, 100000L))
        .select("l_orderkey", "l_linenumber", "l_quantity"),
      Some("""SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
             |WHERE l_orderkey IN (1, 1000, 100000)""".stripMargin)),

    // CASE predicate through the index (conversions.rs:73-81 parity,
    // end-to-end): the branch-interval union prunes files whose l_orderkey
    // range cannot reach the 'small' branch
    QueryDef(
      "idx10_case",
      (s, dir) => lineitemIndexed(s, dir)
        .filter(when(col("l_orderkey") < 300, "small").otherwise("big") === "small")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n")),
      Some("""SELECT l_returnflag, count(*) AS n FROM lineitem
             |WHERE (CASE WHEN l_orderkey < 300 THEN 'small' ELSE 'big' END) = 'small'
             |GROUP BY l_returnflag""".stripMargin)),

    // SQL over the REGISTERED indexed table — the reference's flagship
    // wiring (ctx.register_table("indexed", provider) + ctx.sql, main.rs:
    // 120-186): the view resolves to the index-backed relation, so SQL
    // text gets file/row-group pruning transparently
    QueryDef(
      "idx11_sql_indexed",
      (s, dir) => {
        lineitemIndexed(s, dir).createOrReplaceTempView("lineitem_indexed")
        s.sql("""SELECT l_returnflag, count(*) AS n,
                |  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS STRING) AS qty
                |FROM lineitem_indexed
                |WHERE l_orderkey < 1000
                |GROUP BY l_returnflag""".stripMargin)
      },
      Some("""SELECT l_returnflag, count(*) AS n,
             |  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS VARCHAR) AS qty
             |FROM lineitem
             |WHERE l_orderkey < 1000
             |GROUP BY l_returnflag""".stripMargin)),

    // bloom-filter pruning (the reference's third named index extension,
    // main.rs:34-37): equality probe on a high-cardinality UNSORTED key.
    // l_ukey (md5 of the row identity) is uncorrelated with the orderkey
    // clustering, so every row group's min/max spans ~the whole hex-string
    // domain and range stats keep everything; the per-row-group bloom
    // keeps only groups that might contain the probed value
    // (BloomPruningSpec pins >90% pruned). The probe key is derived
    // deterministically on both sides as the minimum l_ukey — on the Spark
    // side O(INDEX): MIN over the catalog's per-row-group minima, one JDBC
    // query, no data scan (footer string minima are exact untruncated
    // 32-char values, so the catalog min IS the data min DuckDB computes;
    // hex md5 strings order identically in Spark and DuckDB).
    QueryDef(
      "idx12_bloom",
      (s, dir) => lineitemIndexed(s, dir)
        .filter(col("l_ukey") === minUkey(s, dir))
        .select("l_orderkey", "l_linenumber", "l_quantity"),
      Some("""SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
             |WHERE md5(CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR)) =
             |  (SELECT min(md5(CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR)))
             |   FROM lineitem)""".stripMargin)),

    // automatic index ROUTING (the reference's one-scan-seam design intent,
    // main.rs:256-305: the PROVIDER consults the index — the caller just
    // writes the filter): plain `df.filter(l_ukey = k)` syntax against the
    // routed relation hits the row-level posting index (row groups where k
    // actually OCCURS — exactly 1 for a unique key), with bloom then
    // min/max as the in-catalog fallbacks (RoutingSpec pins the order and
    // that postings keep ≤ what the bloom keeps). Same probe + oracle
    // shape as idx12; only the index consulted differs.
    QueryDef(
      "idx13_routed",
      (s, dir) => lineitemRouted(s, dir)
        .filter(col("l_ukey") === minUkey(s, dir))
        .select("l_orderkey", "l_linenumber", "l_quantity"),
      Some("""SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
             |WHERE md5(CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR)) =
             |  (SELECT min(md5(CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR)))
             |   FROM lineitem)""".stripMargin)),

    // aggregate pushdown to the index (the DSv2 SupportsPushDownAggregates
    // shape at the engine's V1 seam — plans/StatsAggPushdown): a global
    // MIN/MAX/COUNT over indexed columns folds to a LocalRelation answered
    // entirely from the stats catalog — one O(index) JDBC round trip, ZERO
    // data scanned (StatsAggPushdownSpec pins the LocalRelation plan and
    // the scan fallback when certification fails). At 100 TB this is a
    // catalog lookup where a scan would read the whole table.
    QueryDef(
      "idx14_agg_pushdown",
      (s, dir) => lineitemIndexed(s, dir)
        .agg(
          min(col("l_ukey")).as("min_ukey"),
          max(col("l_ukey")).as("max_ukey"),
          min(col("l_orderkey")).as("min_ok"),
          max(col("l_orderkey")).as("max_ok"),
          count(lit(1)).as("n_rows"),
          count(col("l_quantity")).as("n_qty")),
      Some("""SELECT
             |  min(md5(CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR))) AS min_ukey,
             |  max(md5(CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR))) AS max_ukey,
             |  min(l_orderkey) AS min_ok, max(l_orderkey) AS max_ok,
             |  count(*) AS n_rows, count(l_quantity) AS n_qty
             |FROM lineitem""".stripMargin)),

    // z-order clustered layout (sources/ZOrderLayout — the lakehouse
    // OPTIMIZE ZORDER BY shape): a 2-d BOX predicate over the Morton-
    // clustered copy, where row groups cover compact key-space rectangles
    // and the stats index prunes on BOTH dimensions (ZOrderSpec pins that
    // this layout keeps strictly fewer row groups than the single-column
    // range layout for the same box, and that results are layout-
    // invariant). Oracle runs on the original lineitem: layout + pruning
    // change nothing.
    QueryDef(
      "zo1_zorder_2col",
      (s, dir) => lineitemZordered(s, dir)
        .filter(col("l_orderkey").between(200L, 299L) &&
          col("l_partkey").between(40L, 79L))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), sum(col("l_linenumber").cast("long")).as("sln")),
      Some("""SELECT l_returnflag, count(*) AS n,
             |  CAST(sum(CAST(l_linenumber AS BIGINT)) AS BIGINT) AS sln
             |FROM lineitem
             |WHERE l_orderkey BETWEEN 200 AND 299 AND l_partkey BETWEEN 40 AND 79
             |GROUP BY l_returnflag""".stripMargin)),

    // RANGE routing through the row-level index (extends idx13's seam):
    // a bounded range conjunct (BETWEEN) on a posting-indexed column is
    // answered by a B-tree RANGE read of the posting catalog —
    // row groups where in-range keys actually OCCUR, not merely where
    // min/max overlap. Same cap/degrade contract as point routing
    // (RoutingSpec pins route tags, narrowing, and half-open fallback).
    QueryDef(
      "idx15_routed_range",
      (s, dir) => lineitemRouted(s, dir)
        .filter(col("l_orderkey").between(1000L, 1100L))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), sum(col("l_linenumber").cast("long")).as("sln")),
      Some("""SELECT l_returnflag, count(*) AS n,
             |  CAST(sum(CAST(l_linenumber AS BIGINT)) AS BIGINT) AS sln
             |FROM lineitem
             |WHERE l_orderkey BETWEEN 1000 AND 1100
             |GROUP BY l_returnflag""".stripMargin)),

    // catalog-side TOP-K pruning (prune/TopKPruning): ORDER BY … LIMIT k
    // scans only row groups that can provably contribute to the top k —
    // a guaranteed-count threshold over the catalog's per-row-group
    // (min, max, row count, null count), O(index) planning. On the
    // l_orderkey-range-clustered fixture the top-10 probe keeps the tail
    // row group(s) of ~60 (TopKPruningSpec pins effectiveness and
    // soundness); on a time-clustered 100 TB table this is "read the
    // newest row groups", not "sort the table".
    QueryDef(
      "idx16_topk",
      (s, dir) => {
        val e = cached(s, dir)
        val plans = graft.prune.TopKPruning.prune(
          e.index, "l_orderkey", 10, descending = true)
        // (l_orderkey, l_linenumber) is NOT unique in the synthetic data —
        // every selected column takes part in the ordering so the limit
        // boundary is deterministic for the oracle compare
        graft.sources.RowGroupSkipScan.scan(s, e.dataDir, plans, e.dataSchema,
            requiredCols = Seq("l_orderkey", "l_linenumber", "l_quantity"))
          .orderBy(col("l_orderkey").desc, col("l_linenumber").desc,
            col("l_quantity").desc)
          .limit(10)
          .select("l_orderkey", "l_linenumber", "l_quantity")
      },
      Some("""SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
             |ORDER BY l_orderkey DESC, l_linenumber DESC, l_quantity DESC
             |LIMIT 10""".stripMargin)),

    // FILTERED top-k through the AUTOMATIC rule (plans/TopKPushdown): the
    // time-window-latest-k shape — plain df.filter(...).orderBy(...).limit()
    // syntax; the injected rule certifies the threshold from row groups
    // wholly inside the window and scans only contributing groups
    // (route `topk-filtered`). Every selected column is in the ORDER BY
    // for a deterministic limit boundary.
    QueryDef(
      "idx17_topk_window",
      (s, dir) => lineitemIndexed(s, dir)
        .filter(col("l_orderkey").between(100L, 1200L))
        .orderBy(col("l_orderkey").desc, col("l_linenumber").desc,
          col("l_quantity").desc)
        .limit(20)
        .select("l_orderkey", "l_linenumber", "l_quantity"),
      Some("""SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
             |WHERE l_orderkey BETWEEN 100 AND 1200
             |ORDER BY l_orderkey DESC, l_linenumber DESC, l_quantity DESC
             |LIMIT 20""".stripMargin)),

    // COMPOSITE filtered top-k through the automatic rule: the filter is on
    // a DIFFERENT indexed column than the sort key — the per-source-
    // latest-k shape (`WHERE src = … ORDER BY time DESC LIMIT k`) every
    // event store serves constantly. The threshold certificate
    // generalizes per column (prune/TopKPruning.pruneComposite): only row
    // groups certified ALL-PASS on the filter column (min = max = 'R',
    // zero nulls) contribute their counts, so the rewrite fires exactly
    // when the LAYOUT clusters the filter column — here a
    // (l_returnflag, l_orderkey) range layout, the "partition by source,
    // cluster by time" shape a 100 TB table would use. Route
    // `topk-composite`; on an unclustered layout certification fails and
    // the declarative plan stands (TopKPruningSpec pins both).
    QueryDef(
      "idx19_topk_filtered2col",
      (s, dir) => lineitemComposite(s, dir)
        .filter(col("l_returnflag") === "R")
        .orderBy(col("l_orderkey").desc, col("l_linenumber").desc,
          col("l_quantity").desc)
        .limit(10)
        .select("l_orderkey", "l_linenumber", "l_quantity"),
      Some("""SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
             |WHERE l_returnflag = 'R'
             |ORDER BY l_orderkey DESC, l_linenumber DESC, l_quantity DESC
             |LIMIT 10""".stripMargin)),

    // DISJUNCTIVE composite filtered top-k through the automatic rule: the
    // per-source-IN-latest-k shape (`WHERE src IN (…) ORDER BY time DESC
    // LIMIT k`). The composite certificate generalizes per DISJUNCT
    // (prune/TopKPruning.pruneDisjunctive): a row group certifies the
    // threshold when it is all-pass for SOME IN value — on the
    // (l_returnflag, l_orderkey)-clustered layout each flag's groups
    // certify through their own disjunct, so the scan prunes to the tails
    // of BOTH selected flags' bands. Route `topk-composite`; an OR the
    // certificate cannot absorb falls back to the declarative plan
    // (TopKPruningSpec sweeps disjunct shapes × k × direction).
    QueryDef(
      "idx20_topk_filtered_in",
      (s, dir) => lineitemComposite(s, dir)
        .filter(col("l_returnflag").isin("R", "A"))
        .orderBy(col("l_orderkey").desc, col("l_linenumber").desc,
          col("l_quantity").desc)
        .limit(10)
        .select("l_orderkey", "l_linenumber", "l_quantity"),
      Some("""SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
             |WHERE l_returnflag IN ('R', 'A')
             |ORDER BY l_orderkey DESC, l_linenumber DESC, l_quantity DESC
             |LIMIT 10""".stripMargin)),

    // TWO-KEY lexicographic top-k through the automatic rule
    // (prune/TopKPruning.pruneLex2): `ORDER BY a DESC, b DESC LIMIT k`
    // over a TIE-HEAVY leading key — here l_returnflag, 3 distinct values
    // — where leading-key-only pruning keeps every group of the top
    // flag's whole band. The pair certificate (threshold on (flag,
    // orderkey) pairs, certified from groups whose leading key is
    // constant — the clustered layout's normal state) separates the tied
    // groups and prunes to the band's tail. Route `topk-lex2`;
    // TopKPruningSpec pins strictly fewer kept groups than leading-only
    // on this fixture and sweeps directions × k × null order.
    QueryDef(
      "idx21_topk_2key",
      (s, dir) => lineitemComposite(s, dir)
        .orderBy(col("l_returnflag").desc, col("l_orderkey").desc,
          col("l_linenumber").desc, col("l_quantity").desc)
        .limit(10)
        .select("l_returnflag", "l_orderkey", "l_linenumber", "l_quantity"),
      Some("""SELECT l_returnflag, l_orderkey, l_linenumber, l_quantity
             |FROM lineitem
             |ORDER BY l_returnflag DESC, l_orderkey DESC, l_linenumber DESC,
             |  l_quantity DESC
             |LIMIT 10""".stripMargin)),

    // THREE-key lexicographic top-k through the automatic rule
    // (prune/TopKPruning.pruneLexN): `ORDER BY a DESC, b DESC, c DESC
    // LIMIT k` where the first TWO keys are tie-heavy (3 flags × 7 line
    // numbers on the (flag, line, orderkey)-clustered layout) — the
    // two-key certificate still keeps the whole top (flag, line) band;
    // the THIRD key's tuple certificate separates it. Route
    // `topk-lex3`; the fourth sort key (l_quantity, unindexed) is
    // lexicographically dominated and ignored. TopKPruningSpec pins
    // strictly fewer kept groups than the two-key prefix and sweeps
    // directions × k × null order on a synthetic 3-key fixture.
    QueryDef(
      "idx22_topk_3key",
      (s, dir) => lineitemComposite3(s, dir)
        .orderBy(col("l_returnflag").desc, col("l_linenumber").desc,
          col("l_orderkey").desc, col("l_quantity").desc)
        .limit(10)
        .select("l_returnflag", "l_linenumber", "l_orderkey", "l_quantity"),
      Some("""SELECT l_returnflag, l_linenumber, l_orderkey, l_quantity
             |FROM lineitem
             |ORDER BY l_returnflag DESC, l_linenumber DESC, l_orderkey DESC,
             |  l_quantity DESC
             |LIMIT 10""".stripMargin)),

    // GROUP BY answered from the catalog (idx25 —
    // plans/StatsAggPushdown.groupByRewrite): on the value-aligned
    // layout every row group is CONSTANT in l_returnflag, so
    // `GROUP BY l_returnflag` with COUNT(*)/COUNT(g)/MIN(g)/MAX(g)
    // folds to a LocalRelation of per-value footer row-count sums — one
    // O(index) stats fetch, ZERO data scanned (the metadata-only
    // aggregation every lakehouse engine special-cases, generalized to
    // any value-aligned layout). One straddling row group fails the
    // certification closed; StatsAggPushdownSpec pins the folded plan,
    // the fail-closed degrade on the range-clustered fixture, and the
    // kill switch.
    QueryDef(
      "idx25_groupby_pushdown",
      (s, dir) => lineitemValueAligned(s, dir)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          count(col("l_returnflag")).as("nn"),
          min(col("l_returnflag")).as("mn"),
          max(col("l_returnflag")).as("mx"),
          // per-group extremes of ANOTHER column, also from the catalog
          // (certifiable here: zero flag nulls, integral key)
          min(col("l_orderkey")).as("okmin"),
          max(col("l_orderkey")).as("okmax")),
      Some("""SELECT l_returnflag, count(*) AS n,
             |  count(l_returnflag) AS nn,
             |  min(l_returnflag) AS mn, max(l_returnflag) AS mx,
             |  min(l_orderkey) AS okmin, max(l_orderkey) AS okmax
             |FROM lineitem GROUP BY l_returnflag""".stripMargin)),

    // FILTERED two-key lexicographic top-k (idx24) — the composition of
    // the composite all-pass certificate with the tuple threshold
    // (prune/TopKPruning.pruneDisjunctiveLex): `WHERE flag = 'R'
    // ORDER BY line DESC, okey DESC LIMIT k` on the (flag, line, okey)
    // clustered layout. The flag filter certifies whole bands all-pass;
    // within them the leading sort key (7-valued l_linenumber) is still
    // tie-heavy, so the single-key composite threshold keeps the whole
    // top (R, 7) band — the second key's tuple certificate separates it.
    // Route `topk-composite-lex2`; TopKPruningSpec sweeps the shape on a
    // synthetic fixture with catalog==planner parity.
    QueryDef(
      "idx24_topk_filtered_lex2",
      (s, dir) => lineitemComposite3(s, dir)
        .filter(col("l_returnflag") === "R")
        .orderBy(col("l_linenumber").desc, col("l_orderkey").desc,
          col("l_quantity").desc)
        .limit(10)
        .select("l_linenumber", "l_orderkey", "l_quantity"),
      Some("""SELECT l_linenumber, l_orderkey, l_quantity FROM lineitem
             |WHERE l_returnflag = 'R'
             |ORDER BY l_linenumber DESC, l_orderkey DESC, l_quantity DESC
             |LIMIT 10""".stripMargin)),

    // Two-key top-k over the FREQ-SHADOW fixture (idx23): same query
    // shape as idx21, but the catalog additionally carries per-group
    // value frequencies (index/FreqShadow — a data-scan build step like
    // blooms), so band-boundary row groups certify their DOMINANT slice
    // at the band value itself instead of the whole group at its weaker
    // min/max bound. Same topk-lex2 route; the walk's third (dominant-
    // slice) branch is what fires — TopKPruningSpec pins the strict
    // narrowing on a dominant-value fixture and catalog==planner parity
    // with frequencies live.
    QueryDef(
      "idx23_topk_freq",
      (s, dir) => lineitemCompositeFreq(s, dir)
        .orderBy(col("l_returnflag").desc, col("l_orderkey").desc,
          col("l_linenumber").desc, col("l_quantity").desc)
        .limit(10)
        .select("l_returnflag", "l_orderkey", "l_linenumber", "l_quantity"),
      Some("""SELECT l_returnflag, l_orderkey, l_linenumber, l_quantity
             |FROM lineitem
             |ORDER BY l_returnflag DESC, l_orderkey DESC, l_linenumber DESC,
             |  l_quantity DESC
             |LIMIT 10""".stripMargin)),

    // FILTERED catalog GROUP BY (idx27, r11 —
    // plans/StatsAggPushdown.allPassFilter): the same metadata-only
    // aggregation as idx25, under a WHERE the stats certify ALL-PASS —
    // every conjunct provably true for every row (zero nulls, stored
    // bounds inside the interval), so the filter drops nothing and the
    // fold still stands. The common shape is a pipeline-template guard
    // (`WHERE qty >= 0`) over a table whose stats prove it vacuous; a
    // filter that actually bites fails the certificate closed
    // (StatsAggPushdownSpec pins both).
    QueryDef(
      "idx27_groupby_filtered",
      (s, dir) => lineitemValueAligned(s, dir)
        .filter(col("l_orderkey") >= 0L)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          min(col("l_orderkey")).as("okmin"),
          max(col("l_orderkey")).as("okmax")),
      Some("""SELECT l_returnflag, count(*) AS n,
             |  min(l_orderkey) AS okmin, max(l_orderkey) AS okmax
             |FROM lineitem WHERE l_orderkey >= 0
             |GROUP BY l_returnflag""".stripMargin)),

    // catalog GROUP BY with SUM/COUNT of another column (idx28, r11 —
    // index/SumShadow + StatsAggPushdown): per-row-group exact sums are
    // attached at ingest (a data-scan build step like blooms/freqs), so
    // `GROUP BY g` answers SUM(x) as the sum of each group's row-group
    // sums and COUNT(x) from the null counts — one O(index) fetch, zero
    // data scanned. Overflow at build or merge fails closed; unbuilt
    // sums decline to the declarative plan (StatsAggPushdownSpec pins
    // the fold, the decline, and exactness vs the scan).
    QueryDef(
      "idx28_groupby_sum",
      (s, dir) => lineitemValueAligned(s, dir)
        .groupBy("l_returnflag")
        .agg(sum(col("l_orderkey")).as("sok"),
          count(col("l_orderkey")).as("nok")),
      Some("""SELECT l_returnflag, CAST(sum(l_orderkey) AS BIGINT) AS sok,
             |  count(l_orderkey) AS nok
             |FROM lineitem GROUP BY l_returnflag""".stripMargin)),

    // TWO-COLUMN catalog GROUP BY (idx29, r11 — StatsAggPushdown's joint
    // key certification): on a doubly-aligned layout (one file set per
    // (l_returnflag, l_linestatus) pair) every row group is constant in
    // BOTH grouping columns, so `GROUP BY flag, status` with counts,
    // per-key extremes and the SumShadow-served SUM(l_orderkey) folds to
    // a LocalRelation — the per-(source, label) corpus report a 100 TB
    // manifest pipeline runs, answered without touching data. One
    // straddling row group in EITHER column fails closed
    // (StatsAggPushdownSpec pins fold + degrade).
    QueryDef(
      "idx29_groupby_2col",
      (s, dir) => lineitemValueAligned2(s, dir)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"),
          count(col("l_linestatus")).as("nls"),
          min(col("l_returnflag")).as("mnf"),
          max(col("l_linestatus")).as("mxs"),
          min(col("l_orderkey")).as("okmin"),
          max(col("l_orderkey")).as("okmax"),
          sum(col("l_orderkey")).as("sok")),
      Some("""SELECT l_returnflag, l_linestatus, count(*) AS n,
             |  count(l_linestatus) AS nls, min(l_returnflag) AS mnf,
             |  max(l_linestatus) AS mxs, min(l_orderkey) AS okmin,
             |  max(l_orderkey) AS okmax,
             |  CAST(sum(l_orderkey) AS BIGINT) AS sok
             |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin)),

    // EXPRESSION-KEY top-k through the automatic rule (idx26, r11 —
    // index/KeyImage + prune/TopKPruning image keys): `ORDER BY
    // date_trunc('day', ts) DESC, id DESC LIMIT k`, the time-bucketed
    // latest-k every event store serves constantly. The sort head is a
    // COMPUTED key the catalog has no stats for — but date_trunc is
    // monotone under the UTC session, so its per-row-group stats are
    // DERIVED at plan time (min ↦ trunc(min), max ↦ trunc(max)) and the
    // tuple certificate prunes past the computed key to the deeper raw
    // keys. Route `topk-lex2(day(l_shipdate),l_orderkey)`; a non-UTC
    // session or an unindexed timestamp degrades to the declarative
    // plan (TopKPruningSpec pins both plus catalog==planner parity).
    QueryDef(
      "idx26_topk_datetrunc",
      (s, dir) => lineitemTime(s, dir)
        .orderBy(date_trunc("day", col("l_shipdate")).desc,
          col("l_orderkey").desc, col("l_linenumber").desc,
          col("l_quantity").desc, col("l_shipdate").desc)
        .limit(10)
        .select("l_shipdate", "l_orderkey", "l_linenumber", "l_quantity"),
      Some("""SELECT l_shipdate, l_orderkey, l_linenumber, l_quantity
             |FROM lineitem
             |ORDER BY date_trunc('day', l_shipdate) DESC, l_orderkey DESC,
             |  l_linenumber DESC, l_quantity DESC, l_shipdate DESC
             |LIMIT 10""".stripMargin)),

    // GLOBAL SUM + all-pass-filtered global aggregate (idx31, r11 —
    // StatsAggPushdown.catalogValue + StatsIndex.totalSum): a global
    // SUM over an integral column folds to one JDBC SUM over the
    // SumShadow ledger, and a stats-certified vacuous WHERE no longer
    // forfeits the global fold — the whole aggregate row is answered
    // without touching data. Overflow in the catalog SUM fails closed
    // (Derby raises, we decline); unbuilt ledgers decline too.
    QueryDef(
      "idx31_agg_sum",
      (s, dir) => lineitemValueAligned(s, dir)
        .filter(col("l_orderkey") >= 0L)
        .agg(sum(col("l_orderkey")).as("sok"),
          count(lit(1)).as("n"),
          min(col("l_orderkey")).as("mn"),
          max(col("l_orderkey")).as("mx")),
      Some("""SELECT CAST(sum(l_orderkey) AS BIGINT) AS sok, count(*) AS n,
             |  min(l_orderkey) AS mn, max(l_orderkey) AS mx
             |FROM lineitem WHERE l_orderkey >= 0""".stripMargin)),

    // CAST-TO-DATE expression-key top-k (idx30, r11 — the second member
    // of the KeyImage family): `ORDER BY CAST(ts AS DATE) DESC, id DESC
    // LIMIT k`, the calendar-day flavor of idx26's shape. The epoch-day
    // image derives per-row-group bounds by floor division of the stored
    // micros — rendered into the catalog walk as integer arithmetic —
    // and the deeper raw keys separate the final day's ties. Route
    // `topk-lex2(date(l_shipdate),l_orderkey)`.
    QueryDef(
      "idx30_topk_castdate",
      (s, dir) => lineitemTime(s, dir)
        .orderBy(col("l_shipdate").cast("date").desc,
          col("l_orderkey").desc, col("l_linenumber").desc,
          col("l_quantity").desc, col("l_shipdate").desc)
        .limit(10)
        .select("l_shipdate", "l_orderkey", "l_linenumber", "l_quantity"),
      Some("""SELECT l_shipdate, l_orderkey, l_linenumber, l_quantity
             |FROM lineitem
             |ORDER BY CAST(l_shipdate AS DATE) DESC, l_orderkey DESC,
             |  l_linenumber DESC, l_quantity DESC, l_shipdate DESC
             |LIMIT 10""".stripMargin)),

    // N-dimensional z-order with rank-binning (sources/ZOrderLayout.writeN):
    // a 3-d BOX over the 3-col Morton layout, third dimension a FLOAT
    // (l_extendedprice) rank-binned to dense ints by one approx-quantile
    // pass — the pre-pass that fits any domain and skew into the per-dim
    // bit budget. ZOrderSpec pins that the 3-d layout keeps fewer row
    // groups than a 2-d layout for the same 3-d box. Oracle on the
    // original lineitem: layout + binning + pruning change nothing.
    QueryDef(
      "zo2_zorder_3col",
      (s, dir) => lineitemZordered3(s, dir)
        .filter(col("l_orderkey").between(200L, 399L) &&
          col("l_partkey").between(40L, 119L) &&
          col("l_extendedprice").between(20000.0, 45000.0))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), sum(col("l_linenumber").cast("long")).as("sln")),
      Some("""SELECT l_returnflag, count(*) AS n,
             |  CAST(sum(CAST(l_linenumber AS BIGINT)) AS BIGINT) AS sln
             |FROM lineitem
             |WHERE l_orderkey BETWEEN 200 AND 399 AND l_partkey BETWEEN 40 AND 119
             |  AND l_extendedprice BETWEEN 20000.0 AND 45000.0
             |GROUP BY l_returnflag""".stripMargin)),

    // COUNT(DISTINCT key) pushdown to the row-level POSTING index
    // (plans/StatsAggPushdown.distinctRewrite): the posting catalog's
    // distinct keys ARE the data's distinct keys, so the aggregate is one
    // catalog COUNT(DISTINCT) down the key B-tree instead of a table scan
    // — the NDV query a 100 TB catalog answers from its key directory,
    // not a full-table distinct. Certified only when the catalog's
    // covered files equal the live file set (DistinctPushdownSpec pins
    // the rewrite, the staleness fallback, and the kill switch).
    QueryDef(
      "idx18_distinct",
      (s, dir) => lineitemRouted(s, dir)
        .agg(count_distinct(col("l_orderkey")).as("n_keys")),
      Some("SELECT count(DISTINCT l_orderkey) AS n_keys FROM lineitem")),

    // EXPRESSION-KEY top-k over a DATEPART RUN (idx32, r12 machinery,
    // r13 gate): `ORDER BY year(ts) DESC, month(ts) DESC, id DESC LIMIT
    // k` — the reporting-sort shape. A lone month() is not monotone, but
    // the CONSECUTIVE (year, month) run on the same leg and direction is
    // lexicographically the single monotone key trunc(cast(ts AS DATE),
    // 'month') (TopKPushdown.keySpecs run collapse), so the catalog
    // serves it like any other image key. Route
    // `topk-lex2(trunc-month.date(l_shipdate),l_orderkey)`.
    QueryDef(
      "idx32_topk_year_run",
      (s, dir) => lineitemTime(s, dir)
        .orderBy(year(col("l_shipdate")).desc, month(col("l_shipdate")).desc,
          col("l_orderkey").desc, col("l_linenumber").desc,
          col("l_shipdate").desc)
        .limit(10)
        .select("l_shipdate", "l_orderkey", "l_linenumber", "l_quantity"),
      Some("""SELECT l_shipdate, l_orderkey, l_linenumber, l_quantity
             |FROM lineitem
             |ORDER BY year(l_shipdate) DESC, month(l_shipdate) DESC,
             |  l_orderkey DESC, l_linenumber DESC, l_shipdate DESC
             |LIMIT 10""".stripMargin)),

    // UNIX-SECONDS expression-key top-k (idx33, r12 machinery, r13 gate):
    // `ORDER BY unix_timestamp(ts) DESC, ts DESC, id DESC LIMIT k`. The
    // image is Spark's own truncating micros→seconds division (KeyImage.
    // UnixSecondsImage — toward zero, exactly UnixTimestamp's arithmetic,
    // NOT floor), zone-independent for a TIMESTAMP operand. The raw
    // timestamp right after its own image is a DISTINCT deeper key (it
    // refines second-bucket ties), so the prefix is three keys deep.
    // Route `topk-lex3(unixsec(l_shipdate),l_shipdate,l_orderkey)`.
    QueryDef(
      "idx33_topk_unixsec",
      (s, dir) => lineitemTime(s, dir)
        .orderBy(unix_timestamp(col("l_shipdate")).desc,
          col("l_shipdate").desc, col("l_orderkey").desc,
          col("l_linenumber").desc)
        .limit(10)
        .select("l_shipdate", "l_orderkey", "l_linenumber", "l_quantity"),
      Some("""SELECT l_shipdate, l_orderkey, l_linenumber, l_quantity
             |FROM lineitem
             |ORDER BY CAST(floor(epoch(l_shipdate)) AS BIGINT) DESC,
             |  l_shipdate DESC, l_orderkey DESC, l_linenumber DESC
             |LIMIT 10""".stripMargin)),

    // DATE-column week truncation top-k (idx34, r12 machinery, r13 gate):
    // `ORDER BY trunc(d, 'week') DESC, id DESC LIMIT k` over an indexed
    // DATE column — zone-free (DATE carries no instant), rendered into
    // the catalog walk as the Monday-anchored 7-day floor grid over
    // stored epoch days (TruncDateImage). Fixture: lineitem re-typed
    // with a DATE l_shipdate, time-clustered like the idx26 layout.
    // Route `topk-lex2(trunc-week(l_shipdate),l_orderkey)`.
    QueryDef(
      "idx34_topk_trunc_week",
      (s, dir) => lineitemDateClustered(s, dir)
        .orderBy(trunc(col("l_shipdate"), "week").desc,
          col("l_orderkey").desc, col("l_linenumber").desc,
          col("l_shipdate").desc)
        .limit(10)
        .select("l_shipdate", "l_orderkey", "l_linenumber", "l_quantity"),
      Some("""SELECT CAST(l_shipdate AS DATE) AS l_shipdate, l_orderkey,
             |  l_linenumber, l_quantity
             |FROM lineitem
             |ORDER BY date_trunc('week', CAST(l_shipdate AS DATE)) DESC,
             |  l_orderkey DESC, l_linenumber DESC,
             |  CAST(l_shipdate AS DATE) DESC
             |LIMIT 10""".stripMargin)),

    // THREE-column catalog GROUP BY (idx35, r13 — StatsAggPushdown's
    // joint-key certification generalized past two columns): on a triply
    // value-aligned layout (one file set per (flag, status, line) triple)
    // the whole report — counts, other-column extremes, BIGINT and
    // DECIMAL sum ledgers — folds to a LocalRelation: one O(index)
    // fetch, zero data scanned. The ≤1-partial-null-column rule is the
    // certification boundary, not the column count.
    QueryDef(
      "idx35_groupby_3col",
      (s, dir) => lineitemValueAligned3(s, dir)
        .groupBy("l_returnflag", "l_linestatus", "l_linenumber")
        .agg(count(lit(1)).as("n"),
          min(col("l_orderkey")).as("okmin"),
          max(col("l_orderkey")).as("okmax"),
          sum(col("l_orderkey")).as("sok"),
          sum(col("l_price_dec")).as("spd"))
        // fixed-scale string render AFTER the fold (driver-hash decimal
        // policy); the Aggregate underneath still collapses to the catalog
        .select(col("l_returnflag"), col("l_linestatus"), col("l_linenumber"),
          col("n"), col("okmin"), col("okmax"), col("sok"),
          col("spd").cast("string").as("sp")),
      Some("""SELECT l_returnflag, l_linestatus, l_linenumber, count(*) AS n,
             |  min(l_orderkey) AS okmin, max(l_orderkey) AS okmax,
             |  CAST(sum(l_orderkey) AS BIGINT) AS sok,
             |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DECIMAL(22,2))
             |    AS VARCHAR) AS sp
             |FROM lineitem
             |GROUP BY l_returnflag, l_linestatus, l_linenumber""".stripMargin)),

    // GLOBAL DECIMAL SUM from the ledger (idx36, r13 — SumShadow's
    // unscaled-BIGINT decimal ledger + StatsAggPushdown.ledgerSum): an
    // exact money-typed SUM answered without touching data. Overflow at
    // any seam — row-group accumulation, catalog SUM, result precision —
    // fails closed to the scan.
    QueryDef(
      "idx36_agg_sum_decimal",
      (s, dir) => lineitemValueAligned3(s, dir)
        .agg(sum(col("l_price_dec")).as("spd"),
          count(lit(1)).as("n"))
        .select(col("spd").cast("string").as("sp"), col("n")),
      Some("""SELECT
             |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DECIMAL(22,2))
             |    AS VARCHAR) AS sp,
             |  count(*) AS n
             |FROM lineitem""".stripMargin)),

    // FIXED-OFFSET session-zone image key (idx37, r12 machinery, r13
    // gate): the idx26 latest-k shape under `spark.sql.session.timeZone
    // = +05:30`. A fixed offset has no DST fold, so date_trunc stays
    // monotone and the offset rides INTO the image (the grid's anchor
    // shifts by the offset — TruncTimestampImage offsetSeconds,
    // behind the NTZ cast adapter since the stored column is naive); a
    // geographic zone would keep the declarative plan instead. The frame
    // is materialized inside the zone scope so analysis bakes the
    // offset; route `topk-lex2(day@19800.ntz(l_shipdate),l_orderkey)`.
    QueryDef(
      "idx37_topk_zone_offset",
      (s, dir) => withSessionTz(s, "+05:30") {
        lineitemTime(s, dir)
          .orderBy(date_trunc("day", col("l_shipdate")).desc,
            col("l_orderkey").desc, col("l_linenumber").desc,
            col("l_quantity").desc, col("l_shipdate").desc)
          .limit(10)
          .select("l_shipdate", "l_orderkey", "l_linenumber", "l_quantity")
          .localCheckpoint()
      },
      Some("""SELECT l_shipdate, l_orderkey, l_linenumber, l_quantity
             |FROM lineitem
             |ORDER BY date_trunc('day', l_shipdate + INTERVAL 330 MINUTE) DESC,
             |  l_orderkey DESC, l_linenumber DESC, l_quantity DESC,
             |  l_shipdate DESC
             |LIMIT 10""".stripMargin)),

    // CALENDAR-window predicate pruning (idx38, r13): `WHERE CAST(ts AS
    // DATE) BETWEEN d1 AND d2` — the single most common warehouse filter
    // over event tables. Catalyst itself unwraps this cast comparison
    // into raw timestamp range bounds (visible in PLANS.md), which the
    // raw-bound pruning already serves; shapes Catalyst can NOT unwrap —
    // date_trunc equality, unix_timestamp ranges (idx39) — ride the
    // image rewrite (prune/StatsPredicateRewriter MonotoneImage +
    // ImageRef): a monotone image bounds f(x) by [f(min), f(max)], so
    // the computed key renders into the SAME catalog walk as raw bounds.
    // Either way: zero extra ingest, one arithmetic wrapper at most.
    QueryDef(
      "idx38_filter_castdate",
      (s, dir) => lineitemTime(s, dir)
        .filter(col("l_shipdate").cast("date")
            >= lit(java.sql.Date.valueOf("1995-03-01")) &&
          col("l_shipdate").cast("date")
            <= lit(java.sql.Date.valueOf("1995-03-31")))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), sum(col("l_orderkey")).as("sok")),
      Some("""SELECT l_returnflag, count(*) AS n,
             |  CAST(sum(l_orderkey) AS BIGINT) AS sok
             |FROM lineitem
             |WHERE CAST(l_shipdate AS DATE) BETWEEN DATE '1995-03-01'
             |  AND DATE '1995-03-31'
             |GROUP BY l_returnflag""".stripMargin)),

    // composed image predicates (idx39, r13): a week-bucket EQUALITY
    // (date_trunc) conjoined with a unix-seconds RANGE — both conjuncts
    // rewrite through their interval images and intersect in the same
    // pruning query; equality is the interval-overlap degenerate case.
    QueryDef(
      "idx39_filter_imgkeys",
      (s, dir) => lineitemTime(s, dir)
        .filter(date_trunc("week", col("l_shipdate"))
            === lit(java.sql.Timestamp.valueOf("1996-06-03 00:00:00")) &&
          unix_timestamp(col("l_shipdate")) < lit(834192000L))
        .select("l_shipdate", "l_orderkey", "l_linenumber"),
      Some("""SELECT l_shipdate, l_orderkey, l_linenumber
             |FROM lineitem
             |WHERE date_trunc('week', l_shipdate) = TIMESTAMP '1996-06-03 00:00:00'
             |  AND CAST(floor(epoch(l_shipdate)) AS BIGINT) < 834192000""".stripMargin)),

    // IMAGE aggregates (idx40, r13 — StatsAggPushdown.imageOf): MIN/MAX
    // of a monotone image fold as the image of the certified raw extreme
    // (monotone ⇒ extremes commute), COUNT(f(a)) = COUNT(a) (images are
    // null-preserving) — "latest ingested day / first event second"
    // dashboards answered without touching data.
    QueryDef(
      "idx40_agg_imgbounds",
      (s, dir) => lineitemTime(s, dir)
        .agg(max(col("l_shipdate").cast("date")).as("mxd"),
          min(col("l_shipdate").cast("date")).as("mnd"),
          max(date_trunc("day", col("l_shipdate"))).as("mxt"),
          min(unix_timestamp(col("l_shipdate"))).as("mnu"),
          count(col("l_shipdate").cast("date")).as("nc")),
      Some("""SELECT max(CAST(l_shipdate AS DATE)) AS mxd,
             |  min(CAST(l_shipdate AS DATE)) AS mnd,
             |  CAST(max(date_trunc('day', l_shipdate)) AS TIMESTAMP) AS mxt,
             |  min(CAST(floor(epoch(l_shipdate)) AS BIGINT)) AS mnu,
             |  count(CAST(l_shipdate AS DATE)) AS nc
             |FROM lineitem""".stripMargin)),

    // IMAGE grouping keys (idx41, r13 — StatsAggPushdown GKey images):
    // `GROUP BY year(ts)` — the time-series rollup — folds from the
    // catalog on a year-partitioned layout. Image constancy is weaker
    // than raw constancy (a row group spanning one year of micros is
    // year-image-constant), so the very layout a time-partitioned ingest
    // produces certifies; counts, raw extremes, the SUM ledger, and an
    // IMAGE aggregate over the same column all fold per group.
    QueryDef(
      "idx41_groupby_year",
      (s, dir) => lineitemYearParts(s, dir)
        .groupBy(year(col("l_shipdate")))
        .agg(count(lit(1)).as("n"),
          min(col("l_orderkey")).as("okmin"),
          max(col("l_orderkey")).as("okmax"),
          sum(col("l_orderkey")).as("sok"),
          max(col("l_shipdate").cast("date")).as("mxd"))
        .select(col("year(l_shipdate)").as("y"), col("n"), col("okmin"),
          col("okmax"), col("sok"), col("mxd")),
      Some("""SELECT CAST(year(l_shipdate) AS INTEGER) AS y, count(*) AS n,
             |  min(l_orderkey) AS okmin, max(l_orderkey) AS okmax,
             |  CAST(sum(l_orderkey) AS BIGINT) AS sok,
             |  max(CAST(l_shipdate AS DATE)) AS mxd
             |FROM lineitem GROUP BY year(l_shipdate)""".stripMargin)),

    // DISTINCT-over-image from constancy (idx42, r13 —
    // StatsAggPushdown.distinctCell): `count(DISTINCT year(ts))` — "how
    // many active periods" — folds as the size of the row-group constant
    // set on the year-partitioned layout, alongside plain catalog
    // scalars in the same aggregate row; no posting index needed, and
    // partial-null slices stay harmless (DISTINCT ignores nulls).
    QueryDef(
      "idx42_distinct_years",
      (s, dir) => lineitemYearParts(s, dir)
        .agg(count_distinct(year(col("l_shipdate"))).as("ny"),
          count(lit(1)).as("n"),
          max(col("l_shipdate").cast("date")).as("mxd")),
      Some("""SELECT count(DISTINCT year(l_shipdate)) AS ny, count(*) AS n,
             |  max(CAST(l_shipdate AS DATE)) AS mxd
             |FROM lineitem""".stripMargin)),

    // GROUP-dropping filtered fold (idx43, r13 — StatsAggPushdown
    // groupKeep): `WHERE year(ts) BETWEEN a AND b GROUP BY year(ts)` —
    // the rollup-for-a-selected-period shape. The filter references only
    // the grouping key, whose per-group constancy the fold already
    // certifies, so the predicate keeps or drops GROUPS wholesale: one
    // eval per key, answer never touches data. Complements idx27's
    // vacuous-WHERE certificate (there the filter drops nothing; here it
    // drops whole groups).
    QueryDef(
      "idx43_groupby_period",
      (s, dir) => lineitemYearParts(s, dir)
        .filter(year(col("l_shipdate")).between(1994, 1996))
        .groupBy(year(col("l_shipdate")))
        .agg(count(lit(1)).as("n"),
          sum(col("l_orderkey")).as("sok"),
          max(col("l_shipdate").cast("date")).as("mxd"))
        .select(col("year(l_shipdate)").as("y"), col("n"), col("sok"),
          col("mxd")),
      Some("""SELECT CAST(year(l_shipdate) AS INTEGER) AS y, count(*) AS n,
             |  CAST(sum(l_orderkey) AS BIGINT) AS sok,
             |  max(CAST(l_shipdate AS DATE)) AS mxd
             |FROM lineitem
             |WHERE year(l_shipdate) BETWEEN 1994 AND 1996
             |GROUP BY year(l_shipdate)""".stripMargin)),

    // FILTERED global fold (idx44, r13 — StatsAggPushdown
    // globalFilteredFold): `SELECT count(*), sum(..), min/max(..) WHERE
    // year(ts) = 1995` — "last year's totals", the archetypal dashboard
    // query. The year predicate keeps or drops each row group WHOLESALE
    // on the year-partitioned layout (key constancy + one eval per row
    // group), then the kept groups' footer counts / ledger sums /
    // verbatim extremes merge into the answer: O(index), zero data read.
    QueryDef(
      "idx44_agg_filtered_year",
      (s, dir) => lineitemYearParts(s, dir)
        .filter(year(col("l_shipdate")) === 1995)
        .agg(count(lit(1)).as("n"),
          sum(col("l_orderkey")).as("sok"),
          min(col("l_shipdate").cast("date")).as("mnd"),
          max(col("l_orderkey")).as("okmax")),
      Some("""SELECT count(*) AS n, CAST(sum(l_orderkey) AS BIGINT) AS sok,
             |  min(CAST(l_shipdate AS DATE)) AS mnd,
             |  max(l_orderkey) AS okmax
             |FROM lineitem WHERE year(l_shipdate) = 1995""".stripMargin)),

    // Catalog AVG (idx45, r13 — StatsAggPushdown avgFromLedger): AVG =
    // ledger SUM / non-null tally, rendered through Average's OWN
    // evaluateExpression (Spark's division, result scale, HALF_UP
    // rounding — not re-derived). The bigint avg sums exactly in the
    // ledger (the scan's Double accumulation is only exact below 2^53;
    // the catalog's Math.addExact never approximates); the decimal avg
    // divides the exact unscaled ledger at Spark's own result scale.
    // Render casts fold as a CHAIN (avg → decimal(18,4) → string) now
    // peeled by castsOver.
    QueryDef(
      "idx45_agg_avg",
      (s, dir) => lineitemValueAligned3(s, dir)
        .agg(avg(col("l_orderkey")).as("a1"),
          avg(col("l_price_dec")).as("a2"),
          count(lit(1)).as("n"))
        .select(col("a1").cast("decimal(18,4)").cast("string").as("aok"),
          col("a2").cast("string").as("apd"), col("n")),
      Some("""SELECT
             |  CAST(CAST(avg(l_orderkey) AS DECIMAL(18,4)) AS VARCHAR) AS aok,
             |  CAST(CAST(avg(CAST(l_extendedprice AS DECIMAL(12,2))) AS DECIMAL(16,6))
             |    AS VARCHAR) AS apd,
             |  count(*) AS n
             |FROM lineitem""".stripMargin)),

    // Per-group catalog AVG (idx46, r13): the same ledger tallies keyed
    // by the fold's certified group keys — the per-source "mean value"
    // manifest row, answered without touching data.
    QueryDef(
      "idx46_groupby_avg",
      (s, dir) => lineitemValueAligned(s, dir)
        .groupBy("l_returnflag")
        .agg(avg(col("l_orderkey")).as("a1"), count(lit(1)).as("n"))
        .select(col("l_returnflag"),
          col("a1").cast("decimal(18,4)").cast("string").as("aok"), col("n")),
      Some("""SELECT l_returnflag,
             |  CAST(CAST(avg(l_orderkey) AS DECIMAL(18,4)) AS VARCHAR) AS aok,
             |  count(*) AS n
             |FROM lineitem GROUP BY l_returnflag""".stripMargin)),

    // Row-group-filtered GROUPED fold (idx47, r13 — the constancy engine,
    // prune/PartPrune, decides each row group for groupByRewrite through
    // rowGroupKeepSet): the WHERE columns are NOT grouping keys —
    // they are keyish columns CONSTANT per row group on the aligned
    // layout, so the predicate keeps or drops ROW GROUPS wholesale and
    // the grouped tallies (counts, ledger sums, extremes, avg) merge
    // over the kept universe only. The "segment report for one source"
    // shape: filter by partition-ish columns, roll up by another,
    // answered O(index).
    QueryDef(
      "idx47_groupby_rgfilter",
      (s, dir) => lineitemValueAligned3(s, dir)
        .filter(col("l_returnflag") === "A" && col("l_linenumber") <= 4)
        .groupBy("l_linestatus")
        .agg(count(lit(1)).as("n"),
          sum(col("l_orderkey")).as("sok"),
          max(col("l_linenumber")).as("mxl"),
          avg(col("l_orderkey")).as("a1"))
        .select(col("l_linestatus"), col("n"), col("sok"), col("mxl"),
          col("a1").cast("decimal(18,4)").cast("string").as("aok")),
      Some("""SELECT l_linestatus, count(*) AS n,
             |  CAST(sum(l_orderkey) AS BIGINT) AS sok,
             |  max(l_linenumber) AS mxl,
             |  CAST(CAST(avg(l_orderkey) AS DECIMAL(18,4)) AS VARCHAR) AS aok
             |FROM lineitem
             |WHERE l_returnflag = 'A' AND l_linenumber <= 4
             |GROUP BY l_linestatus""".stripMargin)),

    // DETERMINED calendar parts (idx48–idx50, r13): dayofweek / month /
    // dayofmonth are NOT monotone — month(min)=month(max) proves nothing
    // across years — but each is CONSTANT wherever a FINER monotone
    // image is (dayofweek through the day, month through trunc-month),
    // so on the day-partitioned ingest layout the catalog certifies
    // them per row group and serves the classic seasonality rollups
    // O(index), zero data read. Spark's own field-extraction eval
    // supplies the key values (never re-derived). DuckDB's dayofweek is
    // 0=Sunday..6; Spark's is 1=Sunday..7 — the oracle shifts by one.
    QueryDef(
      "idx48_groupby_dow",
      (s, dir) => eventsDayParts(s, dir)
        .groupBy(dayofweek(col("ts")).as("dow"))
        .agg(count(lit(1)).as("n"), sum(col("user_id")).as("su"),
          min(col("ts")).as("mnts"), max(col("ts")).as("mxts")),
      Some("""SELECT dayofweek(ts) + 1 AS dow, count(*) AS n,
             |  CAST(sum(user_id) AS BIGINT) AS su,
             |  min(ts) AS mnts, max(ts) AS mxts
             |FROM events GROUP BY 1""".stripMargin)),

    // weekend-only totals: the determined part drives the WHOLESALE
    // row-group filter (the idx44 engine) — day-partitioned groups keep
    // or drop by their day's weekday, tallies merge over the kept set
    QueryDef(
      "idx49_agg_filtered_dow",
      (s, dir) => eventsDayParts(s, dir)
        .filter(dayofweek(col("ts")).isin(1, 7))
        .agg(count(lit(1)).as("n"), sum(col("user_id")).as("su"),
          min(col("ts")).as("mnts"), max(col("ts")).as("mxts"),
          avg(col("user_id")).as("au"))
        .select(col("n"), col("su"), col("mnts"), col("mxts"),
          col("au").cast("decimal(18,4)").cast("string").as("au")),
      Some("""SELECT count(*) AS n, CAST(sum(user_id) AS BIGINT) AS su,
             |  min(ts) AS mnts, max(ts) AS mxts,
             |  CAST(CAST(avg(user_id) AS DECIMAL(18,4)) AS VARCHAR) AS au
             |FROM events WHERE dayofweek(ts) IN (0, 6)""".stripMargin)),

    // two determined keys jointly — the day-of-month activity profile
    // with the catalog AVG riding the same fold
    QueryDef(
      "idx50_groupby_dom",
      (s, dir) => eventsDayParts(s, dir)
        .groupBy(month(col("ts")).as("m"), dayofmonth(col("ts")).as("dom"))
        .agg(count(lit(1)).as("n"), avg(col("user_id")).as("au"))
        .select(col("m"), col("dom"), col("n"),
          col("au").cast("decimal(18,4)").cast("string").as("au")),
      Some("""SELECT month(ts) AS m, dayofmonth(ts) AS dom, count(*) AS n,
             |  CAST(CAST(avg(user_id) AS DECIMAL(18,4)) AS VARCHAR) AS au
             |FROM events GROUP BY 1, 2""".stripMargin)),

    // date_format labels (idx51–idx54, r13): the pattern's FINEST field
    // token fixes the determiner grid ('yyyy-MM-dd' and name fields =
    // calendar day, month names/anchors = trunc-month), the rendered
    // value is Spark's OWN DateFormatClass/DayName/MonthName/LastDay
    // eval at the group's raw minimum — so the classic report labels
    // fold from the catalog on the day-partitioned layout, zero data
    // jobs. DuckDB renders the same labels via strftime.
    QueryDef(
      "idx51_groupby_daylabel",
      (s, dir) => eventsDayParts(s, dir)
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day_lbl"))
        .agg(count(lit(1)).as("n"), sum(col("user_id")).as("su")),
      Some("""SELECT strftime(ts, '%Y-%m-%d') AS day_lbl, count(*) AS n,
             |  CAST(sum(user_id) AS BIGINT) AS su
             |FROM events GROUP BY 1""".stripMargin)),

    QueryDef(
      "idx52_groupby_dayname",
      (s, dir) => eventsDayParts(s, dir)
        .groupBy(dayname(col("ts")).as("dn"))
        .agg(count(lit(1)).as("n"), avg(col("user_id")).as("au"))
        .select(col("dn"), col("n"),
          col("au").cast("decimal(18,4)").cast("string").as("au")),
      Some("""SELECT strftime(ts, '%a') AS dn, count(*) AS n,
             |  CAST(CAST(avg(user_id) AS DECIMAL(18,4)) AS VARCHAR) AS au
             |FROM events GROUP BY 1""".stripMargin)),

    QueryDef(
      "idx53_groupby_monthanchor",
      (s, dir) => eventsDayParts(s, dir)
        .groupBy(monthname(col("ts")).as("mn"), last_day(col("ts")).as("ld"))
        .agg(count(lit(1)).as("n"), min(col("ts")).as("mnts"),
          max(col("ts")).as("mxts")),
      Some("""SELECT strftime(ts, '%b') AS mn, last_day(CAST(ts AS DATE)) AS ld,
             |  count(*) AS n, min(ts) AS mnts, max(ts) AS mxts
             |FROM events GROUP BY 1, 2""".stripMargin)),

    // a string-label FILTER through the wholesale row-group engine: the
    // weekend keep/drop evaluates once per day-partitioned group at its
    // constant label
    QueryDef(
      "idx54_agg_filtered_label",
      (s, dir) => eventsDayParts(s, dir)
        .filter(date_format(col("ts"), "EEEE").isin("Saturday", "Sunday"))
        .agg(count(lit(1)).as("n"), sum(col("user_id")).as("su"),
          min(col("ts")).as("mnts"), max(col("ts")).as("mxts")),
      Some("""SELECT count(*) AS n, CAST(sum(user_id) AS BIGINT) AS su,
             |  min(ts) AS mnts, max(ts) AS mxts
             |FROM events WHERE strftime(ts, '%A') IN ('Saturday', 'Sunday')"""
        .stripMargin)),

    // global MIN/MAX/COUNT of determined parts (idx55, r13): every row
    // group constant ⇒ the data's non-null part values are exactly the
    // groups' constants, so the extremes walk the catalog's constant
    // set; COUNT(part) = COUNT(operand) for null-preserving parts
    QueryDef(
      "idx55_agg_part_extremes",
      (s, dir) => eventsDayParts(s, dir)
        .agg(min(dayofweek(col("ts"))).as("mndow"),
          max(dayofweek(col("ts"))).as("mxdow"),
          min(dayname(col("ts"))).as("mndn"),
          max(monthname(col("ts"))).as("mxmn"),
          min(date_format(col("ts"), "yyyy-MM-dd")).as("mnlbl"),
          count(month(col("ts"))).as("cm")),
      Some("""SELECT min(dayofweek(ts)) + 1 AS mndow,
             |  max(dayofweek(ts)) + 1 AS mxdow,
             |  min(strftime(ts, '%a')) AS mndn, max(strftime(ts, '%b')) AS mxmn,
             |  min(strftime(ts, '%Y-%m-%d')) AS mnlbl, count(month(ts)) AS cm
             |FROM events""".stripMargin)),

    // SCAN-path constancy pruning (idx56, r13): a ROW-selecting weekend
    // filter — no aggregate to fold, so the wholesale engine can't help;
    // instead PartPrune evaluates the determined-part conjunct once per
    // row group at its certified constant and drops weekday groups (and
    // with them whole day files) before the reader opens them. The
    // interval rewrite cannot serve dayofweek (not monotone); Spark
    // re-applies the filter, so the refinement is over-scan-only.
    QueryDef(
      "idx56_filter_part_rows",
      (s, dir) => eventsDayParts(s, dir)
        .filter(dayofweek(col("ts")).isin(1, 7))
        .select(col("event_id"), col("user_id"), col("ts")),
      Some("""SELECT event_id, user_id, ts FROM events
             |WHERE dayofweek(ts) IN (0, 6)""".stripMargin)),

    // the combined weekend daily report (idx58, r13): a determined-part
    // FILTER (rg-wholesale keep/drop, the idx47 engine) under a
    // two-label GROUP BY (date_format day + dayname) with count, ledger
    // SUM, ledger AVG, and footer extremes — the full r13 certificate
    // stack in one query, still zero data jobs
    QueryDef(
      "idx58_weekend_daily_report",
      (s, dir) => eventsDayParts(s, dir)
        .filter(dayofweek(col("ts")).isin(1, 7))
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day_lbl"),
          dayname(col("ts")).as("dn"))
        .agg(count(lit(1)).as("n"), sum(col("user_id")).as("su"),
          avg(col("user_id")).as("au"),
          min(col("ts")).as("mnts"), max(col("ts")).as("mxts"))
        .select(col("day_lbl"), col("dn"), col("n"), col("su"),
          col("au").cast("decimal(18,4)").cast("string").as("au"),
          col("mnts"), col("mxts")),
      Some("""SELECT strftime(ts, '%Y-%m-%d') AS day_lbl,
             |  strftime(ts, '%a') AS dn, count(*) AS n,
             |  CAST(sum(user_id) AS BIGINT) AS su,
             |  CAST(CAST(avg(user_id) AS DECIMAL(18,4)) AS VARCHAR) AS au,
             |  min(ts) AS mnts, max(ts) AS mxts
             |FROM events WHERE dayofweek(ts) IN (0, 6)
             |GROUP BY 1, 2""".stripMargin)),

    // WITHIN-file physical row-group skip (idx59, r13): a year slice of
    // the range-sorted lineitemTime layout — the year predicate renders
    // no Derby SQL and the parquet reader can't push a computed key, so
    // PartPruneScan substitutes the byte-range RowGroupScan leaf and the
    // off-year row groups inside each file are never read. The filter
    // re-applies above (Inexact), so straddler groups stay exact.
    QueryDef(
      "idx59_filter_year_rows",
      (s, dir) => lineitemTime(s, dir)
        .filter(year(col("l_shipdate")) === lit(1996) &&
          col("l_linenumber") <= 2)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_shipdate")),
      Some("""SELECT l_orderkey, l_linenumber, l_shipdate FROM lineitem
             |WHERE year(l_shipdate) = 1996 AND l_linenumber <= 2"""
        .stripMargin)),

    // year labels over an NTZ leg (idx60, r13): date_format on the
    // TIMESTAMP_NTZ shipdate goes through the analyzer's cast-to-instant
    // — the NTZ branch of the date_format recognizer (zone-equal shift,
    // year trunc grid) — and folds on the year-partitioned layout
    // exactly where idx41's year(ts) key does
    QueryDef(
      "idx60_groupby_yearlabel",
      (s, dir) => lineitemYearParts(s, dir)
        .groupBy(date_format(col("l_shipdate"), "yyyy").as("y"))
        .agg(count(lit(1)).as("n"), sum(col("l_orderkey")).as("sok"),
          min(col("l_orderkey")).as("okmin")),
      Some("""SELECT strftime(l_shipdate, '%Y') AS y, count(*) AS n,
             |  CAST(sum(l_orderkey) AS BIGINT) AS sok,
             |  min(l_orderkey) AS okmin
             |FROM lineitem GROUP BY 1""".stripMargin)),

    // DISTINCT over determined labels (idx57, r13): the agg-less grouped
    // fold — the distinct (dayname, monthname) pairs are exactly the
    // row groups' certified constants, deduplicated catalog-side
    QueryDef(
      "idx57_distinct_labels",
      (s, dir) => eventsDayParts(s, dir)
        .select(dayname(col("ts")).as("dn"), monthname(col("ts")).as("mn"))
        .distinct(),
      Some("""SELECT DISTINCT strftime(ts, '%a') AS dn, strftime(ts, '%b') AS mn
             |FROM events""".stripMargin)),

    // row-level key index (the reference's named "precise index" extension,
    // index.rs:30-35): exact key -> (file, row_group) postings; scans only
    // row groups where the key OCCURS, not merely where its range overlaps
    QueryDef(
      "idx9_rowlevel",
      (s, dir) => {
        val e = cached(s, dir)
        val idxDir = rowLevelDir(s, dir, e)
        graft.index.RowLevelIndex.pointQuery(
          s, e.dataDir, idxDir, e.index.allFiles(), e.dataSchema,
          "l_orderkey", 1000L,
          requiredCols = Seq("l_orderkey", "l_linenumber", "l_quantity"))
          .select("l_orderkey", "l_linenumber", "l_quantity")
      },
      Some("""SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
             |WHERE l_orderkey = 1000""".stripMargin)),

    // ROW-NUMBER precision point lookup (idx61, r14): the reference
    // sketch's full key -> (file_name, row_group, row_number) map
    // (index.rs:30-35) — the scan reads only the posting row groups and
    // a broadcast semi-join on the reconstructed within-file ordinal
    // keeps exactly the posting ROWS (row-precision selection; the
    // rg-level idx9 path remains the page-skip route)
    QueryDef(
      "idx61_rowfetch",
      (s, dir) => {
        val e = cached(s, dir)
        val idxDir = rowLevelRowsDir(s, dir, e)
        graft.index.RowLevelIndex.pointQueryRows(
          s, e.dataDir, idxDir, e.index.allFiles(), e.dataSchema,
          "l_orderkey", 1400L,
          requiredCols = Seq("l_orderkey", "l_linenumber", "l_quantity"))
          .select("l_orderkey", "l_linenumber", "l_quantity")
      },
      Some("""SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
             |WHERE l_orderkey = 1400""".stripMargin)),

    // multi-key row fetch (idx65, r14): `key IN (ids...)` served at ROW
    // precision — the "gather training examples by id" shape. One
    // pushdown-pruned posting read resolves every id to its exact
    // (file, row_group, row_number); the scan reads only those row
    // groups and the ordinal semi-join keeps only those rows.
    QueryDef(
      "idx65_rowfetch_in",
      (s, dir) => {
        val e = cached(s, dir)
        val idxDir = rowLevelRowsDir(s, dir, e)
        graft.index.RowLevelIndex.fetchRows(
          s, e.dataDir, idxDir, e.index.allFiles(), e.dataSchema,
          "l_orderkey", Seq(3L, 1000L, 1400L),
          requiredCols = Seq("l_orderkey", "l_linenumber", "l_quantity"))
          .select("l_orderkey", "l_linenumber", "l_quantity")
      },
      Some("""SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
             |WHERE l_orderkey IN (3, 1000, 1400)""".stripMargin)),

    // LOCAL-calendar-day rollup in a GEOGRAPHIC zone (idx62, r14): the
    // classic "daily report in the org's home timezone". A DST zone has
    // no global monotone image, so the r13 machinery declined it; the
    // DST-piecewise certificate checks transition-freedom per row group
    // from the zone rules and folds at the group's own constant offset —
    // zero data jobs on the NY-day-partitioned layout. Values are
    // Spark's own eval (real zone rules); DuckDB mirrors via ICU.
    QueryDef(
      "idx62_groupby_nyday",
      (s, dir) => eventsNyDayParts(s, dir)
        .groupBy(to_date(from_utc_timestamp(col("ts"), "America/New_York"))
          .as("ny_day"))
        .agg(count(lit(1)).as("n"), sum(col("user_id")).as("su"),
          avg(col("user_id")).as("au"))
        .select(col("ny_day"), col("n"), col("su"),
          col("au").cast("decimal(18,4)").cast("string").as("au")),
      Some("""SELECT CAST(timezone('America/New_York', timezone('UTC', ts)) AS DATE) AS ny_day,
             |  count(*) AS n, CAST(sum(user_id) AS BIGINT) AS su,
             |  CAST(CAST(avg(user_id) AS DECIMAL(18,4)) AS VARCHAR) AS au
             |FROM events GROUP BY 1""".stripMargin)),

    // local weekday + day-label report (idx63, r14): determined parts
    // and date_format labels through the piecewise grid — dayofweek is
    // not monotone anywhere and the label's zone is geographic, so both
    // certify via transition-free constancy; footer extremes ride along
    QueryDef(
      "idx63_groupby_nydow",
      (s, dir) => eventsNyDayParts(s, dir)
        .groupBy(
          dayofweek(from_utc_timestamp(col("ts"), "America/New_York"))
            .as("dow"),
          date_format(from_utc_timestamp(col("ts"), "America/New_York"),
            "yyyy-MM-dd").as("day_lbl"))
        .agg(count(lit(1)).as("n"), min(col("ts")).as("mnts")),
      Some("""SELECT dayofweek(timezone('America/New_York', timezone('UTC', ts))) + 1 AS dow,
             |  strftime(timezone('America/New_York', timezone('UTC', ts)), '%Y-%m-%d') AS day_lbl,
             |  count(*) AS n, min(ts) AS mnts
             |FROM events GROUP BY 1, 2""".stripMargin)),

    // a local-weekend ROW filter (idx64, r14): no aggregate to fold —
    // the scan-path constancy engine (PartPrune) evaluates the weekend
    // conjunct once per row group at its piecewise-certified constant
    // and drops local-weekday groups (and whole day files) before the
    // reader opens them; Spark re-applies the filter (over-scan-only)
    QueryDef(
      "idx64_filter_nyweekend",
      (s, dir) => eventsNyDayParts(s, dir)
        .filter(dayofweek(from_utc_timestamp(col("ts"), "America/New_York"))
          .isin(1, 7))
        .select(col("event_id"), col("user_id"), col("ts")),
      Some("""SELECT event_id, user_id, ts FROM events
             |WHERE dayofweek(timezone('America/New_York', timezone('UTC', ts))) IN (0, 6)"""
        .stripMargin)),

    // ONE-local-day drill-down (idx66, r14): equality on the piecewise
    // local-day key — the "what happened on the 15th, our time" fetch.
    // PartPrune keeps only the one local day's row groups (and files)
    QueryDef(
      "idx66_filter_nyday_eq",
      (s, dir) => eventsNyDayParts(s, dir)
        .filter(to_date(from_utc_timestamp(col("ts"), "America/New_York"))
          === lit(java.sql.Date.valueOf("2024-01-15")))
        .select(col("event_id"), col("user_id"), col("ts")),
      Some("""SELECT event_id, user_id, ts FROM events
             |WHERE CAST(timezone('America/New_York', timezone('UTC', ts)) AS DATE) = DATE '2024-01-15'"""
        .stripMargin)),

    // the combined LOCAL-time weekend report (idx67, r14): a piecewise
    // determined-part FILTER (rg-wholesale keep/drop) under a piecewise
    // LABEL group-by with count, ledger SUM, ledger AVG, and footer
    // extremes — the full idx58 certificate stack transposed to a
    // geographic zone, still zero data jobs
    QueryDef(
      "idx67_ny_weekend_report",
      (s, dir) => eventsNyDayParts(s, dir)
        .filter(dayofweek(from_utc_timestamp(col("ts"), "America/New_York"))
          .isin(1, 7))
        .groupBy(date_format(
          from_utc_timestamp(col("ts"), "America/New_York"), "yyyy-MM-dd")
          .as("day_lbl"))
        .agg(count(lit(1)).as("n"), sum(col("user_id")).as("su"),
          avg(col("user_id")).as("au"),
          min(col("ts")).as("mnts"), max(col("ts")).as("mxts"))
        .select(col("day_lbl"), col("n"), col("su"),
          col("au").cast("decimal(18,4)").cast("string").as("au"),
          col("mnts"), col("mxts")),
      Some("""SELECT strftime(timezone('America/New_York', timezone('UTC', ts)), '%Y-%m-%d') AS day_lbl,
             |  count(*) AS n, CAST(sum(user_id) AS BIGINT) AS su,
             |  CAST(CAST(avg(user_id) AS DECIMAL(18,4)) AS VARCHAR) AS au,
             |  min(ts) AS mnts, max(ts) AS mxts
             |FROM events
             |WHERE dayofweek(timezone('America/New_York', timezone('UTC', ts))) IN (0, 6)
             |GROUP BY 1""".stripMargin)),

    // DISTINCT local labels (idx68, r14): the agg-less grouped fold over
    // piecewise name keys — distinct (local dayname, local monthname)
    // pairs are exactly the row groups' certified constants
    QueryDef(
      "idx68_distinct_nylabels",
      (s, dir) => eventsNyDayParts(s, dir)
        .select(
          dayname(from_utc_timestamp(col("ts"), "America/New_York")).as("dn"),
          monthname(from_utc_timestamp(col("ts"), "America/New_York")).as("mn"))
        .distinct(),
      Some("""SELECT DISTINCT strftime(timezone('America/New_York', timezone('UTC', ts)), '%a') AS dn,
             |  strftime(timezone('America/New_York', timezone('UTC', ts)), '%b') AS mn
             |FROM events""".stripMargin)),

    // global extremes/COUNT of piecewise parts (idx69, r14): the idx55
    // walk over the constant set, under a geographic zone — every row
    // group certifies its local part, the extreme is over those
    // constants, and COUNT rides null-preservation
    QueryDef(
      "idx69_agg_nyextremes",
      (s, dir) => eventsNyDayParts(s, dir)
        .agg(
          min(dayofweek(from_utc_timestamp(col("ts"), "America/New_York")))
            .as("mndow"),
          max(date_format(
            from_utc_timestamp(col("ts"), "America/New_York"), "yyyy-MM-dd"))
            .as("mxlbl"),
          count(month(from_utc_timestamp(col("ts"), "America/New_York")))
            .as("cm")),
      Some("""SELECT min(dayofweek(timezone('America/New_York', timezone('UTC', ts)))) + 1 AS mndow,
             |  max(strftime(timezone('America/New_York', timezone('UTC', ts)), '%Y-%m-%d')) AS mxlbl,
             |  count(month(timezone('America/New_York', timezone('UTC', ts)))) AS cm
             |FROM events""".stripMargin)),

    // CATALOG-served approximate NDV (idx70, r15): the per-row-group HLL
    // ledger (index/HllShadow) merged at planning time — a table's
    // distinct-key estimate with ZERO data jobs and O(groups x 2 KB)
    // catalog transfer, on both an integral key and a high-cardinality
    // string key. Estimates are engine/hash-specific by construction, so
    // (sk1 precedent) the driver-visible output is accuracy booleans:
    // |est - exact| within 4 sigma of HLL's rse at m=2048 (= 9.2%); the
    // exact side is computed here, the oracle emits the pre-verified TRUE.
    QueryDef(
      "idx70_catalog_ndv",
      (s, dir) => {
        val e = cached(s, dir)
        hllReady(s, e)
        val estOrd = e.index.approxDistinct("l_orderkey")
          .getOrElse(sys.error("catalog declined a fully-sketched NDV"))
        val estUkey = e.index.approxDistinct("l_ukey")
          .getOrElse(sys.error("catalog declined a fully-sketched NDV"))
        val ex = e.df.agg(
          countDistinct(col("l_orderkey")).as("xo"),
          countDistinct(col("l_ukey")).as("xu")).collect()(0)
        import s.implicits._
        Seq((
          math.abs(estOrd - ex.getLong(0)) <= ex.getLong(0) * 0.092,
          math.abs(estUkey - ex.getLong(1)) <= ex.getLong(1) * 0.092))
          .toDF("orderkey_ndv_ok", "ukey_ndv_ok")
      },
      Some("SELECT TRUE AS orderkey_ndv_ok, TRUE AS ukey_ndv_ok")),

    // SLICED approximate NDV (idx71, r15): the ledger composes with the
    // pruning walk — "how many distinct orders in this key range" merges
    // ONLY the surviving row groups' sketches (the planning-grade NDV of
    // the slice's groups; a group-boundary straddler's rows count, which
    // is exactly what a join-size or shuffle-width estimate wants). The
    // exact side scans the SAME groups through the byte-range leaf, so
    // the accuracy boolean pins estimate-vs-truth on an identical row set.
    QueryDef(
      "idx71_catalog_ndv_sliced",
      (s, dir) => {
        val e = cached(s, dir)
        hllReady(s, e)
        val pred = graft.sources.RowGroupSkipScan.resolvePredicate(
          s, e.dataSchema, col("l_orderkey") <= 5000L)
        val plans = e.index.getFiles(pred)
        // O(1) catalog count for the "slice < total" observability bit —
        // never an allFiles fetch (O(catalog) at 1M row groups)
        val total = e.index.catalogCounts()
          .getOrElse(sys.error("catalog counts unavailable"))._2
        val sliceGroups = plans.map(_.scanRowGroups.size).sum
        val est = e.index.approxDistinct("l_orderkey", Some(plans))
          .getOrElse(sys.error("catalog declined a fully-sketched slice NDV"))
        val exact = graft.sources.RowGroupSkipScan.scan(
            s, e.dataDir, plans, e.dataSchema,
            requiredCols = Seq("l_orderkey"))
          .agg(countDistinct(col("l_orderkey"))).collect()(0).getLong(0)
        import s.implicits._
        Seq((
          sliceGroups < total,
          math.abs(est - exact) <= math.max(4L, (exact * 0.092).toLong)))
          .toDF("slice_pruned", "slice_ndv_ok")
      },
      Some("SELECT TRUE AS slice_pruned, TRUE AS slice_ndv_ok")),

    // PER-GROUP approximate NDV (idx72, r15): "distinct users per day"
    // with zero data jobs on the estimate side — the HLL ledger composes
    // with the catalog's day-CONSTANCY (the same per-row-group min/max
    // that powers the idx48 folds assigns every group its calendar day;
    // the fixture is day-partitioned, so assignment is total), and each
    // day's NDV is one merge over its groups' sketches. This is the
    // shape a 100 TB ingest dashboard wants: day × distinct-key curves
    // from the catalog alone. Exact side computed here per the sk1
    // convention; per-day booleans at 4 sigma.
    QueryDef(
      "idx72_catalog_ndv_by_day",
      (s, dir) => {
        val e = dayPartsEntry(s, dir)
        hllReady(s, e, Seq("user_id"))
        val all = e.index.allFiles()
        val stats = e.index.rowGroupStats("ts")
          .getOrElse(sys.error("catalog cannot serve ts stats"))
        val dayOf: Map[(String, Int), Long] = stats.map { st =>
          require(st.nullCount.contains(0L), "fixture ts has nulls")
          def day(v: Any) = Math.floorDiv(
            v.asInstanceOf[java.lang.Number].longValue, 86_400_000_000L)
          val d0 = day(st.min.getOrElse(sys.error("no ts min")))
          val d1 = day(st.max.getOrElse(sys.error("no ts max")))
          require(d0 == d1, s"${st.fileName}#${st.rowGroup} straddles days")
          (st.fileName, st.rowGroup) -> d0
        }.toMap
        val estByDay = dayOf.values.toSeq.distinct.sorted.map { d =>
          val plans = all.flatMap { p =>
            val rgs = p.scanRowGroups
              .filter(rg => dayOf.get((p.fileName, rg)).contains(d))
            if (rgs.isEmpty) None else Some(p.copy(scanRowGroups = rgs))
          }
          java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(d)) ->
            e.index.approxDistinct("user_id", Some(plans))
              .getOrElse(sys.error(s"day $d declined"))
        }
        val exact = e.df.groupBy(to_date(col("ts")).as("day"))
          .agg(countDistinct(col("user_id")).as("x")).collect()
          .map(r => r.getDate(0) -> r.getLong(1)).toMap
        import s.implicits._
        estByDay.map { case (day, est) =>
          val x = exact(day)
          (day, math.abs(est - x) <= math.max(4L, (x * 0.092).toLong))
        }.toDF("day", "ndv_ok")
      },
      Some("""SELECT CAST(ts AS DATE) AS day, TRUE AS ndv_ok
             |FROM events GROUP BY 1""".stripMargin)),

    // CATALOG SEMI-JOIN pruning (idx73, r15, prune/JoinPrune): dynamic
    // partition pruning at ROW-GROUP granularity — the star-schema shape.
    // The filtered dim side's join keys are materialized at planning time
    // (exactly Spark's own DPP protocol, one level finer than its
    // partition-directory grain) and a small set routes through the
    // existing pruning walk as an IN probe: OR-of-point intervals in
    // stats space, in-catalog blooms where built. The scan reads only
    // surviving row groups through the byte-range leaf; the EXACT
    // broadcast semi-join on top removes false positives (Inexact
    // contract — over-scan possible, wrong answers impossible). At
    // 100 TB: an unpartitioned ingest-clustered fact table gets the
    // skip Spark's DPP reserves for Hive-partitioned layouts.
    QueryDef(
      "idx73_semijoin_inprobe",
      (s, dir) => {
        val e = cached(s, dir)
        val dim = graft.Tables.load(s, dir, "orders")
          .filter(col("o_totalprice") > 499000.0)
          .select("o_orderkey")
        val (scan, _) = graft.prune.JoinPrune.semiJoinScan(
          s, e.dataDir, e.index, e.dataSchema, "l_orderkey", dim,
          requiredCols = Seq("l_orderkey", "l_returnflag", "l_linenumber"))
        val keys = dim.distinct()
        scan.join(broadcast(keys),
            scan("l_orderkey") === keys("o_orderkey"), "left_semi")
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"),
            sum(col("l_linenumber").cast("long")).as("sln"))
      },
      Some("""SELECT l_returnflag, count(*) AS n,
             |  CAST(sum(CAST(l_linenumber AS BIGINT)) AS BIGINT) AS sln
             |FROM lineitem
             |WHERE l_orderkey IN (SELECT o_orderkey FROM orders
             |                     WHERE o_totalprice > 499000.0)
             |GROUP BY l_returnflag""".stripMargin)),

    // ENVELOPE-REFINE semi-join pruning (idx74, r15): a dim key set past
    // the IN-probe bound takes the two-phase route — one `k BETWEEN
    // min(keys) AND max(keys)` catalog walk bounds the candidates
    // (O(envelope survivors) transfer via the file-restricted stats
    // fetch), then a planner-side binary search of each candidate
    // group's [min, max] against the sorted key set keeps only groups
    // whose range contains a key. Effective exactly when dim keys are
    // range-correlated with the fact's clustering — the incremental-
    // reprocess shape (both sides ingest-ordered); here the cohort is a
    // key-range slice of orders, so ~4/5 of the fact's row groups never
    // reach the scan (JoinPruneSpec pins it).
    QueryDef(
      "idx74_semijoin_envelope",
      (s, dir) => {
        val e = cached(s, dir)
        val dim = graft.Tables.load(s, dir, "orders")
          .filter(col("o_orderkey") < 3000L &&
            col("o_orderpriority") === "1-URGENT")
          .select("o_orderkey")
        val (scan, _) = graft.prune.JoinPrune.semiJoinScan(
          s, e.dataDir, e.index, e.dataSchema, "l_orderkey", dim,
          requiredCols = Seq("l_orderkey", "l_returnflag", "l_quantity"))
        val keys = dim.distinct()
        scan.join(broadcast(keys),
            scan("l_orderkey") === keys("o_orderkey"), "left_semi")
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"),
            sum(col("l_quantity").cast("double")).as("sq"))
      },
      Some("""SELECT l_returnflag, count(*) AS n, sum(l_quantity) AS sq
             |FROM lineitem
             |WHERE l_orderkey IN (SELECT o_orderkey FROM orders
             |                     WHERE o_orderkey < 3000
             |                       AND o_orderpriority = '1-URGENT')
             |GROUP BY l_returnflag""".stripMargin)),

    // BLOOM semi-join pruning (idx75, r15): the key the range layout
    // cannot prune — l_ukey (md5 of the row identity) spans ~the whole
    // hex domain in every row group, so min/max containment keeps
    // everything; the IN-probe route's in-catalog per-row-group bloom
    // probes keep only groups where some probe key might OCCUR
    // (~|keys| groups of ~40). The dim side is itself an index-pruned
    // scan (l_orderkey < 3 through the same catalog) — the gather-
    // related-rows-by-content-hash shape of a dedup pipeline.
    QueryDef(
      "idx75_semijoin_bloom",
      (s, dir) => {
        val e = cached(s, dir)
        val dim = lineitemIndexed(s, dir)
          .filter(col("l_orderkey") < 3L)
          .select(col("l_ukey").as("probe"))
        val (scan, _) = graft.prune.JoinPrune.semiJoinScan(
          s, e.dataDir, e.index, e.dataSchema, "l_ukey", dim,
          requiredCols = Seq("l_ukey", "l_orderkey", "l_linenumber", "l_quantity"))
        val keys = dim.distinct()
        scan.join(broadcast(keys),
            scan("l_ukey") === keys("probe"), "left_semi")
          .select("l_orderkey", "l_linenumber", "l_quantity")
      },
      Some("""SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
             |WHERE md5(CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR)) IN
             |  (SELECT md5(CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR))
             |   FROM lineitem WHERE l_orderkey < 3)""".stripMargin)),

    // CATALOG-served approximate quantiles (idx76, r15): the per-row-group
    // QUANTILE ledger (index/QuantileShadow — K=64 equi-depth order
    // statistics per group) merged at planning time — percentiles of the
    // table with ZERO data jobs and O(groups × 520 B) catalog transfer.
    // The merged rank error is bounded at N/(2K) ≈ 0.78 %, so (sk1
    // convention — estimates are engine-specific) the driver-visible
    // output is accuracy booleans: each estimate must land inside the
    // exact ±3 %-rank value bracket, computed here; the oracle emits the
    // pre-verified TRUE. QuantileShadowSpec pins the rank bound directly.
    QueryDef(
      "idx76_quantile_ledger",
      (s, dir) => {
        val e = cached(s, dir)
        quantileReady(s, e)
        val Seq(q50, q90, q99) = e.index
          .approxQuantiles("l_quantity", Seq(0.5, 0.9, 0.99))
          .getOrElse(sys.error("catalog declined a fully-summarized quantile"))
        val Seq(k50) = e.index.approxQuantiles("l_orderkey", Seq(0.5))
          .getOrElse(sys.error("catalog declined a fully-summarized quantile"))
        val brackets = e.df.agg(
          expr("percentile(l_quantity, array(0.47, 0.53, 0.87, 0.93, 0.96, 1.0))"),
          expr("percentile(l_orderkey, array(0.47, 0.53))")).collect()(0)
        val qb = brackets.getSeq[Double](0)
        val kb = brackets.getSeq[Double](1)
        import s.implicits._
        Seq((
          q50 >= qb(0) && q50 <= qb(1),
          q90 >= qb(2) && q90 <= qb(3),
          q99 >= qb(4) && q99 <= qb(5),
          k50 >= kb(0) && k50 <= kb(1)))
          .toDF("qty_p50_ok", "qty_p90_ok", "qty_p99_ok", "okey_p50_ok")
      },
      Some("""SELECT TRUE AS qty_p50_ok, TRUE AS qty_p90_ok,
             |  TRUE AS qty_p99_ok, TRUE AS okey_p50_ok""".stripMargin)),

    // SLICED approximate quantiles (idx77, r15): the ledger composes with
    // the pruning walk exactly like the HLL ledger (idx71) — "the p50/p95
    // price-of-admission of THIS key slice" merges only the surviving row
    // groups' summaries. The exact side scans the SAME groups through the
    // byte-range leaf, so the accuracy boolean pins estimate-vs-truth on
    // an identical row set. This is the planning-grade shape: shuffle
    // sizing, skew thresholds, and salting cutoffs all want "a quantile
    // of the slice" without a data job.
    QueryDef(
      "idx77_quantile_sliced",
      (s, dir) => {
        val e = cached(s, dir)
        quantileReady(s, e)
        val pred = graft.sources.RowGroupSkipScan.resolvePredicate(
          s, e.dataSchema, col("l_orderkey") <= 5000L)
        val plans = e.index.getFiles(pred)
        // O(1) catalog count for the "slice < total" observability bit —
        // never an allFiles fetch (O(catalog) at 1M row groups)
        val total = e.index.catalogCounts()
          .getOrElse(sys.error("catalog counts unavailable"))._2
        val sliceGroups = plans.map(_.scanRowGroups.size).sum
        val Seq(q50, q95) = e.index
          .approxQuantiles("l_quantity", Seq(0.5, 0.95), Some(plans))
          .getOrElse(sys.error("catalog declined a fully-summarized slice"))
        val b = graft.sources.RowGroupSkipScan.scan(
            s, e.dataDir, plans, e.dataSchema, requiredCols = Seq("l_quantity"))
          .agg(expr("percentile(l_quantity, array(0.47, 0.53, 0.92, 0.98))"))
          .collect()(0).getSeq[Double](0)
        import s.implicits._
        Seq((
          sliceGroups < total,
          q50 >= b(0) && q50 <= b(1),
          q95 >= b(2) && q95 <= b(3)))
          .toDF("slice_pruned", "slice_p50_ok", "slice_p95_ok")
      },
      Some("""SELECT TRUE AS slice_pruned, TRUE AS slice_p50_ok,
             |  TRUE AS slice_p95_ok""".stripMargin)),

    // ROLLUP from the catalog (idx78, r15): the multi-level seasonality
    // report — (month × weekday), per-month, and grand total — composed
    // from THREE catalog folds, one per grouping set, unioned with
    // ROLLUP's null-padding convention. Each leg is a shape the fold
    // rules already serve on the day-partitioned layout (idx50's two-key
    // determined group-by, idx48's one-key, the global ledger fold), so
    // the whole report is a union of LocalRelations — ZERO data jobs
    // (RollupFoldSpec pins it). Catalyst's own ROLLUP lowers to
    // Expand + Aggregate, which no per-group certificate can serve (the
    // Expand multiplies rows); decomposing by grouping set is the
    // composition that CAN — and is plan-identical to what a warehouse
    // materializes for rollup reports anyway.
    QueryDef(
      "idx78_rollup_fold",
      (s, dir) => {
        val src = eventsDayParts(s, dir)
        val keys = Seq(
          "m" -> month(col("ts")), "dow" -> dayofweek(col("ts")))
        foldGroupingSets(src, keys, Seq(Seq("m", "dow"), Seq("m"), Nil),
          Seq(count(lit(1)).as("n"), sum(col("user_id")).as("su")),
          Seq("n", "su"))
      },
      Some("""SELECT month(ts) AS m,
             |  CASE WHEN dayofweek(ts) IS NULL THEN NULL
             |       ELSE dayofweek(ts) + 1 END AS dow,
             |  count(*) AS n, CAST(sum(user_id) AS BIGINT) AS su
             |FROM events GROUP BY ROLLUP(month(ts), dayofweek(ts))"""
        .stripMargin)),

    // CUBE from the catalog (idx81, r15): the 4-set cube through the
    // same per-grouping-set decomposition — all four legs fold, the
    // report is a union of four LocalRelations, zero data jobs. The
    // weekday-only leg is the idx48 shape; the rest are idx78's.
    QueryDef(
      "idx81_cube_fold",
      (s, dir) => {
        val src = eventsDayParts(s, dir)
        val keys = Seq(
          "m" -> month(col("ts")), "dow" -> dayofweek(col("ts")))
        foldGroupingSets(src, keys,
          Seq(Seq("m", "dow"), Seq("m"), Seq("dow"), Nil),
          Seq(count(lit(1)).as("n"), sum(col("user_id")).as("su")),
          Seq("n", "su"))
      },
      Some("""SELECT month(ts) AS m,
             |  CASE WHEN dayofweek(ts) IS NULL THEN NULL
             |       ELSE dayofweek(ts) + 1 END AS dow,
             |  count(*) AS n, CAST(sum(user_id) AS BIGINT) AS su
             |FROM events GROUP BY CUBE(month(ts), dayofweek(ts))"""
        .stripMargin)),

    // CLUSTERING-HEALTH advisor (idx82, r15, index/ClusterHealth): the
    // mean row-group range-overlap degree per column — the column's read
    // amplification under stats pruning — from the catalog alone, zero
    // data jobs. On the range-clustered fixture l_orderkey sits near 1
    // (disjoint ranges: the layout the writes bought), l_quantity spans
    // the domain in every group (degree ≈ G: pruning-blind, the advisor
    // says re-cluster if the workload filters on it), and the string key
    // declines by design (truncated minima would overstate health).
    // Booleans per the sk1 convention; exact degrees pinned in
    // ClusterHealthSpec.
    QueryDef(
      "idx82_cluster_health",
      (s, dir) => {
        val e = cached(s, dir)
        import graft.index.ClusterHealth
        val (okDeg, g) = ClusterHealth.overlapDegree(e.index, "l_orderkey")
          .getOrElse(sys.error("catalog declined the clustered column"))
        val (qtyDeg, _) = ClusterHealth.overlapDegree(e.index, "l_quantity")
          .getOrElse(sys.error("catalog declined the scattered column"))
        import s.implicits._
        Seq((
          okDeg < 3.0,
          qtyDeg > g / 2.0,
          ClusterHealth.overlapDegree(e.index, "l_ukey").isEmpty,
          ClusterHealth.wantsRecluster(e.index, "l_quantity").contains(true),
          ClusterHealth.wantsRecluster(e.index, "l_orderkey").contains(false)))
          .toDF("orderkey_clustered", "quantity_scattered", "ukey_declines",
            "advise_quantity", "keep_orderkey")
      },
      Some("""SELECT TRUE AS orderkey_clustered, TRUE AS quantity_scattered,
             |  TRUE AS ukey_declines, TRUE AS advise_quantity,
             |  TRUE AS keep_orderkey""".stripMargin)),

    // the classic star-join INNER shape (idx83, r15): dim columns kept in
    // the output (a semi-join cannot express this), dim written FIRST —
    // `dim.join(fact)` — so the rule's mirrored recognition fires; the
    // pruned fact leaf feeds the exact broadcast join, and the report
    // groups by a DIM attribute
    QueryDef(
      "idx83_starjoin_inner",
      (s, dir) => {
        val fact = lineitemIndexed(s, dir)
        val dim = graft.Tables.load(s, dir, "orders")
          .filter(col("o_totalprice") > 499000.0)
          .select("o_orderkey", "o_orderpriority")
        dim.join(fact, fact("l_orderkey") === dim("o_orderkey"), "inner")
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"),
            sum(col("l_quantity").cast("double")).as("sq"))
      },
      Some("""SELECT o_orderpriority, count(*) AS n, sum(l_quantity) AS sq
             |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
             |WHERE o_totalprice > 499000.0
             |GROUP BY o_orderpriority""".stripMargin)),

    // CATALOG point-frequency estimates (idx84, r15, index/CmsShadow):
    // "how many rows equal THIS value" from the count-min ledger — the
    // selectivity / heavy-hitter estimate behind broadcast decisions,
    // shuffle sizing, and salting cutoffs, with zero data jobs. The
    // sketch never undercounts and overcounts by ≤ ~0.2 % of the
    // population w.h.p., so (sk1 convention) the output is per-value
    // accuracy booleans at a 0.5 % slack, plus the absent-key bound
    // (a value not in the data estimates ≤ the same slack) and the
    // skew verdict the frequencies imply (the heaviest flag holds
    // > 20 % of rows — the cutoff a salting advisor would act on).
    QueryDef(
      "idx84_catalog_freq",
      (s, dir) => {
        val e = cached(s, dir)
        cmsReady(s, e)
        val n = e.index.totalRowCount()
          .getOrElse(sys.error("catalog declined the row count"))
        val slack = math.max(4L, (n * 0.005).toLong)
        val exact = e.df.groupBy("l_returnflag").count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        def est(v: String): Long = e.index.approxFrequency("l_returnflag", v)
          .getOrElse(sys.error("catalog declined a fully-tabled frequency"))
        import s.implicits._
        val flags = exact.keys.toSeq.sorted
        val ok = flags.map(f => est(f) >= exact(f) && est(f) <= exact(f) + slack)
        Seq((ok.forall(identity),
          est("Z_ABSENT") <= slack,
          exact.values.max.toDouble / n > 0.2))
          .toDF("freqs_ok", "absent_ok", "hot_flag_detected")
      },
      Some("""SELECT TRUE AS freqs_ok, TRUE AS absent_ok,
             |  TRUE AS hot_flag_detected""".stripMargin)),

    // AUTOMATIC semi-join pruning (idx79, r15, plans/JoinPruneRule): the
    // idx73 star join written as a PLAIN `fact.join(dim, k)` — no
    // explicit API call. The injected rule recognizes the equi-join
    // against the indexed relation, checks the dim side is plan-time-
    // small by the optimizer's own size estimate (the DPP posture),
    // collects its rows once, prunes by their keys, and substitutes the
    // byte-range RowGroupScan leaf for the fact relation; this one-key
    // semi-join then becomes an IN filter over that leaf, re-applying the
    // real condition (Inexact). This is the one-scan-seam
    // story of idx13's routing, extended to joins: the USER writes
    // declarative Spark, the catalog prunes. JoinPruneRuleSpec pins the
    // route tag, the kill switch, and outer-join/huge-dim declines.
    QueryDef(
      "idx79_semijoin_routed",
      (s, dir) => {
        val fact = lineitemIndexed(s, dir)
        val dim = graft.Tables.load(s, dir, "orders")
          .filter(col("o_totalprice") > 499000.0)
          .select("o_orderkey")
        fact.join(dim, fact("l_orderkey") === dim("o_orderkey"), "left_semi")
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"),
            sum(col("l_linenumber").cast("long")).as("sln"))
      },
      Some("""SELECT l_returnflag, count(*) AS n,
             |  CAST(sum(CAST(l_linenumber AS BIGINT)) AS BIGINT) AS sln
             |FROM lineitem
             |WHERE l_orderkey IN (SELECT o_orderkey FROM orders
             |                     WHERE o_totalprice > 499000.0)
             |GROUP BY l_returnflag""".stripMargin)),

    // PER-DAY approximate quantiles (idx80, r15): the quantile ledger
    // composed with the catalog's day-constancy exactly like idx72's
    // NDV — "the p90 engagement value per ingest day" as one summary
    // merge per day, zero data jobs on the estimate side. Day
    // assignment comes from the same per-row-group ts min/max the idx48
    // folds use; the day-partitioned fixture makes it total. Exact side
    // per the sk1 convention: each day's estimate must land inside that
    // day's exact ±3 %-rank bracket.
    QueryDef(
      "idx80_quantile_by_day",
      (s, dir) => {
        val e = dayPartsEntry(s, dir)
        quantileReady(s, e, Seq("user_id"))
        val all = e.index.allFiles()
        val stats = e.index.rowGroupStats("ts")
          .getOrElse(sys.error("catalog cannot serve ts stats"))
        val dayOf: Map[(String, Int), Long] = stats.map { st =>
          require(st.nullCount.contains(0L), "fixture ts has nulls")
          def day(v: Any) = Math.floorDiv(
            v.asInstanceOf[java.lang.Number].longValue, 86_400_000_000L)
          val d0 = day(st.min.getOrElse(sys.error("no ts min")))
          val d1 = day(st.max.getOrElse(sys.error("no ts max")))
          require(d0 == d1, s"${st.fileName}#${st.rowGroup} straddles days")
          (st.fileName, st.rowGroup) -> d0
        }.toMap
        val estByDay = dayOf.values.toSeq.distinct.sorted.map { d =>
          val plans = all.flatMap { p =>
            val rgs = p.scanRowGroups
              .filter(rg => dayOf.get((p.fileName, rg)).contains(d))
            if (rgs.isEmpty) None else Some(p.copy(scanRowGroups = rgs))
          }
          java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(d)) ->
            e.index.approxQuantiles("user_id", Seq(0.9), Some(plans))
              .getOrElse(sys.error(s"day $d declined")).head
        }
        val brackets = e.df.groupBy(to_date(col("ts")).as("day"))
          .agg(expr("percentile(user_id, array(0.87, 0.93))").as("b"))
          .collect()
          .map(r => r.getDate(0) -> r.getSeq[Double](1)).toMap
        import s.implicits._
        estByDay.map { case (day, est) =>
          val b = brackets(day)
          (day, est >= b(0) && est <= b(1))
        }.toDF("day", "p90_ok")
      },
      Some("""SELECT CAST(ts AS DATE) AS day, TRUE AS p90_ok
             |FROM events GROUP BY 1""".stripMargin))
  )

  // once-per-session HLL ledger attach for the registered fixture: the
  // session's buildIndex re-ingest wipes prior sessions' sketches (stale
  // shadows must not survive a re-index), so probe-and-rebuild here —
  // idempotent, O(missing columns) scans
  private val hllCache = TrieMap.empty[String, String]
  private def hllReady(spark: SparkSession, e: Entry,
      cols: Seq[String] = Seq("l_orderkey", "l_ukey")): Unit = {
    hllCache.getOrElseUpdate(e.dataDir + "@" + spark.hashCode(), {
      val missing = cols.filterNot(c => e.index.approxDistinct(c).isDefined)
      if (missing.nonEmpty)
        e.index.rebuildHll(spark, e.dataDir, e.index.allFiles(), e.dataSchema,
          missing)
      "built"
    })
    ()
  }

  /** Multi-grouping-set report as a UNION of per-set aggregates with
    * SQL's null-padding convention (r15, idx78/idx81): each leg is a
    * shape the catalog fold rules serve on an aligned layout, so the
    * whole ROLLUP/CUBE/GROUPING SETS report optimizes to a union of
    * LocalRelations — zero data jobs — where Catalyst's own lowering
    * (Expand + Aggregate) could never fold (the Expand multiplies
    * rows). On an unaligned layout every leg falls back to the scan
    * independently; results are identical either way (RollupFoldSpec
    * pins both the folds and kill-switch equality). */
  private[graft] def foldGroupingSets(
      src: DataFrame,
      keys: Seq[(String, org.apache.spark.sql.Column)],
      sets: Seq[Seq[String]],
      aggs: Seq[org.apache.spark.sql.Column],
      aggNames: Seq[String]): DataFrame = {
    val keyTypes: Map[String, org.apache.spark.sql.types.DataType] =
      src.select(keys.map { case (n, c) => c.as(n) }: _*)
        .schema.fields.map(f => f.name -> f.dataType).toMap
    val outCols = keys.map(_._1) ++ aggNames
    val legs = sets.map { set =>
      val base =
        if (set.isEmpty) src.agg(aggs.head, aggs.tail: _*)
        else {
          val gs = keys.filter(k => set.contains(k._1))
            .map { case (n, c) => c.as(n) }
          src.groupBy(gs: _*).agg(aggs.head, aggs.tail: _*)
        }
      val padded = keys.foldLeft(base) { case (df, (n, _)) =>
        if (set.contains(n)) df
        else df.withColumn(n, lit(null).cast(keyTypes(n)))
      }
      padded.select(outCols.head, outCols.tail: _*)
    }
    legs.reduce(_ unionByName _)
  }

  // once-per-session quantile ledger attach, same probe-and-rebuild
  // posture as hllReady (a session's re-ingest wipes prior sessions'
  // summaries; the probe is one cheap catalog merge)
  private val qskCache = TrieMap.empty[String, String]
  private def quantileReady(spark: SparkSession, e: Entry,
      cols: Seq[String] = Seq("l_quantity", "l_orderkey")): Unit = {
    qskCache.getOrElseUpdate(e.dataDir + "@" + spark.hashCode(), {
      val missing = cols.filterNot(c =>
        e.index.approxQuantiles(c, Seq(0.5)).isDefined)
      if (missing.nonEmpty)
        e.index.rebuildQuantiles(spark, e.dataDir, e.index.allFiles(),
          e.dataSchema, missing)
      "built"
    })
    ()
  }

  // once-per-session CMS ledger attach, same probe-and-rebuild posture
  private val cmsCache = TrieMap.empty[String, String]
  private def cmsReady(spark: SparkSession, e: Entry,
      cols: Seq[String] = Seq("l_returnflag")): Unit = {
    cmsCache.getOrElseUpdate(e.dataDir + "@" + spark.hashCode(), {
      val missing = cols.filterNot(c =>
        e.index.approxFrequency(c, "\u0000probe").isDefined)
      if (missing.nonEmpty)
        e.index.rebuildCms(spark, e.dataDir, e.index.allFiles(),
          e.dataSchema, missing)
      "built"
    })
    ()
  }

  // Posting catalogs are cached on disk beside the fixture and rebuilt
  // only when their completion marker is missing. The marker's name
  // carries the catalog's format version, so a catalog an older format
  // left behind is rebuilt, never opened; the suffixes differ from those
  // of the Parquet posting tables the catalogs replaced.
  private val rowLevelCache = TrieMap.empty[String, String]
  private def rowLevelDir(spark: SparkSession, sfDir: String, e: Entry): String =
    rowLevelCache.getOrElseUpdate(sfDir + "@" + spark.hashCode(), {
      val dir = e.dataDir + "-rowidx-v3"
      if (!graft.index.RowLevelIndex.isComplete(dir))
        graft.index.RowLevelIndex.build(
          spark, e.dataDir, e.index.allFiles(), e.dataSchema, "l_orderkey", dir)
      dir
    })

  private val rowLevelRowsCache = TrieMap.empty[String, String]
  private def rowLevelRowsDir(spark: SparkSession, sfDir: String, e: Entry): String =
    rowLevelRowsCache.getOrElseUpdate(sfDir + "@" + spark.hashCode(), {
      val dir = e.dataDir + "-rowidx-rows-v2"
      if (!graft.index.RowLevelIndex.isComplete(dir))
        graft.index.RowLevelIndex.build(
          spark, e.dataDir, e.index.allFiles(), e.dataSchema, "l_orderkey", dir,
          withRowNumbers = true)
      dir
    })

  /** The probe key idx12/idx13 share: the global minimum l_ukey, read from
    * the stats CATALOG (one JDBC MIN over per-row-group minima — O(index),
    * certified-exact or it throws; never a data scan). */
  private def minUkey(spark: SparkSession, sfDir: String): String =
    cached(spark, sfDir).index.minIndexedValue("l_ukey")
      .getOrElse(throw new IllegalStateException(
        "catalog cannot certify an exact min for l_ukey"))
      .asInstanceOf[String]

  // ---- z-order clustered layout (sources/ZOrderLayout) ---------------------

  private val zCache = TrieMap.empty[String, Entry]

  /** Z-order-clustered copy of lineitem on (l_orderkey, l_partkey), indexed.
    * Row groups cover compact rectangles of the 2-d key space, so the stats
    * index prunes BOX predicates on both keys — the shape the l_orderkey
    * range layout cannot serve (its row groups span the full l_partkey
    * domain). 2048-row groups give the footer stats enough granularity to
    * show it (~30 row groups at sf0.01, ~300 at sf0.1). */
  def lineitemZordered(spark: SparkSession, sfDir: String): DataFrame =
    zEntry(spark, sfDir).df

  def lastZorderExecution(spark: SparkSession, sfDir: String) =
    zEntry(spark, sfDir).fileIndex.lastExecution

  private def zEntry(spark: SparkSession, sfDir: String): Entry =
    zCache.getOrElseUpdate(sfDir + "@" + spark.hashCode(), {
      val safe = sfDir.replaceAll("[^A-Za-z0-9.]", "_")
      val base = new java.io.File(s"target/tmp/indexed/$safe").getAbsolutePath
      val dataDir = s"$base/lineitem-zorder-v1"
      if (!Files.exists(Paths.get(dataDir, "_SUCCESS"))) {
        rmrf(new java.io.File(s"$base/statsdb-zorder-v1"))
        graft.sources.ZOrderLayout.write(
          spark.read.parquet(s"$sfDir/lineitem.parquet"),
          "l_orderkey", "l_partkey", dataDir, numFiles = 8, rowGroupRows = 2048)
      }
      val (index, dataSchema) = IndexedParquet.buildIndex(
        spark, dataDir, Seq("l_orderkey", "l_partkey"), s"$base/statsdb-zorder-v1")
      val (df, fileIndex) = IndexedParquet.read(spark, dataDir, index, dataSchema)
      Entry(df, fileIndex, dataDir, index, dataSchema)
    })

  private val z3Cache = TrieMap.empty[String, Entry]

  /** 3-d z-order-clustered copy of lineitem on (l_orderkey, l_partkey,
    * l_extendedprice), the price dimension rank-binned to 256 dense
    * buckets (floats don't interleave; quantile bins do, and stay dense
    * under skew). 21 bits per dimension — plenty for every SF's key
    * domain. Stats-indexed on all three RAW columns: rank-binning is
    * monotone, so footer min/max of the raw price column still serves the
    * price bound of a 3-d box. */
  def lineitemZordered3(spark: SparkSession, sfDir: String): DataFrame =
    z3Entry(spark, sfDir).df

  def lastZorder3Execution(spark: SparkSession, sfDir: String) =
    z3Entry(spark, sfDir).fileIndex.lastExecution

  private def z3Entry(spark: SparkSession, sfDir: String): Entry =
    z3Cache.getOrElseUpdate(sfDir + "@" + spark.hashCode(), {
      val safe = sfDir.replaceAll("[^A-Za-z0-9.]", "_")
      val base = new java.io.File(s"target/tmp/indexed/$safe").getAbsolutePath
      val dataDir = s"$base/lineitem-zorder3-v1"
      if (!Files.exists(Paths.get(dataDir, "_SUCCESS"))) {
        rmrf(new java.io.File(s"$base/statsdb-zorder3-v1"))
        graft.sources.ZOrderLayout.writeN(
          spark.read.parquet(s"$sfDir/lineitem.parquet"),
          Seq("l_orderkey", "l_partkey", "l_extendedprice"),
          dataDir, numFiles = 8, rowGroupRows = 2048,
          rankBins = Map("l_extendedprice" -> 256))
      }
      val (index, dataSchema) = IndexedParquet.buildIndex(
        spark, dataDir, Seq("l_orderkey", "l_partkey", "l_extendedprice"),
        s"$base/statsdb-zorder3-v1")
      val (df, fileIndex) = IndexedParquet.read(spark, dataDir, index, dataSchema)
      Entry(df, fileIndex, dataDir, index, dataSchema)
    })

  private val compCache = TrieMap.empty[String, Entry]

  /** (l_returnflag, l_orderkey) range-clustered copy of lineitem, indexed
    * on both — the "partition by source, cluster by time" layout that
    * makes COMPOSITE filtered top-k certifiable: each row group holds one
    * returnflag value and a narrow l_orderkey band, so
    * `WHERE l_returnflag = v ORDER BY l_orderkey DESC LIMIT k` certifies
    * all-pass groups and prunes to the tail of that flag's band. 2048-row
    * groups give footer stats the needed granularity. */
  def lineitemComposite(spark: SparkSession, sfDir: String): DataFrame =
    compEntry(spark, sfDir).df

  def lastCompositeExecution(spark: SparkSession, sfDir: String) =
    compEntry(spark, sfDir).fileIndex.lastExecution

  private[graft] def compositeFixture(spark: SparkSession, sfDir: String)
      : (graft.index.StatsIndex, org.apache.spark.sql.types.StructType, String) = {
    val e = compEntry(spark, sfDir)
    (e.index, e.dataSchema, e.dataDir)
  }

  private def compEntry(spark: SparkSession, sfDir: String): Entry =
    compCache.getOrElseUpdate(sfDir + "@" + spark.hashCode(), {
      val safe = sfDir.replaceAll("[^A-Za-z0-9.]", "_")
      val base = new java.io.File(s"target/tmp/indexed/$safe").getAbsolutePath
      val dataDir = s"$base/lineitem-comp-v1"
      if (!Files.exists(Paths.get(dataDir, "_SUCCESS"))) {
        rmrf(new java.io.File(s"$base/statsdb-comp-v2"))
        spark.read.parquet(s"$sfDir/lineitem.parquet")
          .repartitionByRange(8, col("l_returnflag"), col("l_orderkey"))
          .sortWithinPartitions("l_returnflag", "l_orderkey")
          .write.mode("overwrite")
          .option("parquet.block.row.count.limit", "2048")
          .option("parquet.block.size", (1L * 1024 * 1024).toString)
          .parquet(dataDir)
      }
      val (index, dataSchema) = IndexedParquet.buildIndex(
        spark, dataDir, Seq("l_returnflag", "l_orderkey"),
        s"$base/statsdb-comp-v2")
      val (df, fileIndex) = IndexedParquet.read(spark, dataDir, index, dataSchema)
      Entry(df, fileIndex, dataDir, index, dataSchema)
    })

  private val alignedCache = TrieMap.empty[String, Entry]

  /** A VALUE-ALIGNED layout: one file set per l_returnflag value (the
    * layout value-partitioned ingestion — per-source, per-day, per-label
    * file sets — produces naturally), so every row group is CONSTANT in
    * the flag. `GROUP BY l_returnflag` over it is then answerable from
    * footer row counts alone — the idx25 fixture. */
  def lineitemValueAligned(spark: SparkSession, sfDir: String): DataFrame =
    alignedEntry(spark, sfDir).df

  private def alignedEntry(spark: SparkSession, sfDir: String): Entry =
    alignedCache.getOrElseUpdate(sfDir + "@" + spark.hashCode(), {
      val safe = sfDir.replaceAll("[^A-Za-z0-9.]", "_")
      val base = new java.io.File(s"target/tmp/indexed/$safe").getAbsolutePath
      val dataDir = s"$base/lineitem-aligned-v1"
      if (!Files.exists(Paths.get(dataDir, "_SUCCESS"))) {
        rmrf(new java.io.File(s"$base/statsdb-aligned-v1"))
        val src = spark.read.parquet(s"$sfDir/lineitem.parquet")
        val flags = src.select("l_returnflag").distinct()
          .collect().map(_.getString(0)).sorted
        flags.zipWithIndex.foreach { case (f, i) =>
          src.filter(col("l_returnflag") === f)
            .repartitionByRange(2, col("l_orderkey"))
            .write.mode(if (i == 0) "overwrite" else "append")
            .option("parquet.block.row.count.limit", "2048")
            .option("parquet.block.size", (1L * 1024 * 1024).toString)
            .parquet(dataDir)
        }
      }
      val (index, dataSchema) = IndexedParquet.buildIndex(
        spark, dataDir, Seq("l_returnflag", "l_orderkey"),
        s"$base/statsdb-aligned-v1")
      // attach the per-row-group SUM ledger (idx28) unless the carried-
      // over catalog already has it — one O(index) probe per session
      val hasSums = index.rowGroupStats("l_orderkey")
        .exists(_.exists(_.sumVal.isDefined))
      if (!hasSums)
        index.rebuildShadows(spark, dataDir, index.allFiles(), dataSchema,
          freqCols = Nil, sumCols = Seq("l_orderkey"))
      val (df, fileIndex) = IndexedParquet.read(spark, dataDir, index, dataSchema)
      Entry(df, fileIndex, dataDir, index, dataSchema)
    })

  private val aligned2Cache = TrieMap.empty[String, Entry]

  /** A DOUBLY value-aligned layout: one file set per (l_returnflag,
    * l_linestatus) pair — the idx29 fixture. Every row group is constant
    * in BOTH columns, so the catalog certifies the JOINT grouping key
    * (the per-(source, label) file sets a partitioned ingestion writes). */
  def lineitemValueAligned2(spark: SparkSession, sfDir: String): DataFrame =
    aligned2Entry(spark, sfDir).df

  private def aligned2Entry(spark: SparkSession, sfDir: String): Entry =
    aligned2Cache.getOrElseUpdate(sfDir + "@" + spark.hashCode(), {
      val safe = sfDir.replaceAll("[^A-Za-z0-9.]", "_")
      val base = new java.io.File(s"target/tmp/indexed/$safe").getAbsolutePath
      val dataDir = s"$base/lineitem-aligned2-v1"
      val db = s"$base/statsdb-aligned2-v1"
      if (!Files.exists(Paths.get(dataDir, "_SUCCESS"))) {
        rmrf(new java.io.File(db))
        val src = spark.read.parquet(s"$sfDir/lineitem.parquet")
        val pairs = src.select("l_returnflag", "l_linestatus").distinct()
          .collect().map(r => (r.getString(0), r.getString(1))).sorted
        pairs.zipWithIndex.foreach { case ((f, ls), i) =>
          src.filter(col("l_returnflag") === f && col("l_linestatus") === ls)
            .repartitionByRange(2, col("l_orderkey"))
            .write.mode(if (i == 0) "overwrite" else "append")
            .option("parquet.block.row.count.limit", "2048")
            .option("parquet.block.size", (1L * 1024 * 1024).toString)
            .parquet(dataDir)
        }
      }
      val (index, dataSchema) = IndexedParquet.buildIndex(
        spark, dataDir, Seq("l_returnflag", "l_linestatus", "l_orderkey"), db)
      val hasSums = index.rowGroupStats("l_orderkey")
        .exists(_.exists(_.sumVal.isDefined))
      if (!hasSums)
        index.rebuildShadows(spark, dataDir, index.allFiles(), dataSchema,
          freqCols = Nil, sumCols = Seq("l_orderkey"))
      val (df, fileIndex) = IndexedParquet.read(spark, dataDir, index, dataSchema)
      Entry(df, fileIndex, dataDir, index, dataSchema)
    })

  private val compFreqCache = TrieMap.empty[String, Entry]

  /** The (l_returnflag, l_orderkey) clustered layout of
    * [[lineitemComposite]] with the VALUE-FREQUENCY shadow built on both
    * keys (graft.index.FreqShadow — one data-scan task per row group,
    * counting rows at each group's real extremes). Band-boundary groups
    * then certify their dominant slice AT the band value instead of the
    * whole group at the weaker bound — the idx23 fixture. */
  def lineitemCompositeFreq(spark: SparkSession, sfDir: String): DataFrame =
    compFreqEntry(spark, sfDir).df

  def lastCompositeFreqExecution(spark: SparkSession, sfDir: String) =
    compFreqEntry(spark, sfDir).fileIndex.lastExecution

  private def compFreqEntry(spark: SparkSession, sfDir: String): Entry =
    compFreqCache.getOrElseUpdate(sfDir + "@" + spark.hashCode(), {
      val safe = sfDir.replaceAll("[^A-Za-z0-9.]", "_")
      val base = new java.io.File(s"target/tmp/indexed/$safe").getAbsolutePath
      val dataDir = s"$base/lineitem-compfreq-v1"
      val db = s"$base/statsdb-compfreq-v1"
      val fresh = !Files.exists(Paths.get(dataDir, "_SUCCESS"))
      if (fresh) {
        rmrf(new java.io.File(db))
        spark.read.parquet(s"$sfDir/lineitem.parquet")
          .repartitionByRange(8, col("l_returnflag"), col("l_orderkey"))
          .sortWithinPartitions("l_returnflag", "l_orderkey")
          .write.mode("overwrite")
          .option("parquet.block.row.count.limit", "2048")
          .option("parquet.block.size", (1L * 1024 * 1024).toString)
          .parquet(dataDir)
      }
      val (index, dataSchema) = IndexedParquet.buildIndex(
        spark, dataDir, Seq("l_returnflag", "l_orderkey"), db)
      // attach frequencies unless the (possibly carried-over) catalog
      // already has them — one O(index) stats probe instead of two
      // redundant data scans per session
      val hasFreq = index.rowGroupStats("l_returnflag")
        .exists(_.exists(_.maxFreq.isDefined))
      if (!hasFreq) {
        index.rebuildShadows(spark, dataDir, index.allFiles(), dataSchema,
          freqCols = Seq("l_returnflag", "l_orderkey"), sumCols = Nil)
      }
      val (df, fileIndex) = IndexedParquet.read(spark, dataDir, index, dataSchema)
      Entry(df, fileIndex, dataDir, index, dataSchema)
    })

  private val comp3Cache = TrieMap.empty[String, Entry]

  /** A THREE-key clustered layout: (l_returnflag, l_linenumber,
    * l_orderkey) range-partitioned and sorted, all three indexed — the
    * idx22 fixture. The first TWO keys are tie-heavy (3 flags × 7 line
    * numbers), so even the two-key certificate keeps a whole
    * (flag, line) band; the third key separates it. */
  def lineitemComposite3(spark: SparkSession, sfDir: String): DataFrame =
    comp3Entry(spark, sfDir).df

  def lastComposite3Execution(spark: SparkSession, sfDir: String) =
    comp3Entry(spark, sfDir).fileIndex.lastExecution

  private[graft] def composite3Fixture(spark: SparkSession, sfDir: String)
      : (graft.index.StatsIndex, org.apache.spark.sql.types.StructType, String) = {
    val e = comp3Entry(spark, sfDir)
    (e.index, e.dataSchema, e.dataDir)
  }

  private def comp3Entry(spark: SparkSession, sfDir: String): Entry =
    comp3Cache.getOrElseUpdate(sfDir + "@" + spark.hashCode(), {
      val safe = sfDir.replaceAll("[^A-Za-z0-9.]", "_")
      val base = new java.io.File(s"target/tmp/indexed/$safe").getAbsolutePath
      val dataDir = s"$base/lineitem-comp3-v2"
      if (!Files.exists(Paths.get(dataDir, "_SUCCESS"))) {
        rmrf(new java.io.File(s"$base/statsdb-comp3-v2"))
        spark.read.parquet(s"$sfDir/lineitem.parquet")
          .repartitionByRange(8, col("l_returnflag"), col("l_linenumber"),
            col("l_orderkey"))
          .sortWithinPartitions("l_returnflag", "l_linenumber", "l_orderkey")
          .write.mode("overwrite")
          // finer-grained than the 2-key fixture: the (flag, line)
          // sub-bands must span MULTIPLE row groups for the deeper-key
          // certificates to have anything to separate at sf0.001
          .option("parquet.block.row.count.limit", "512")
          .option("parquet.block.size", (1L * 1024 * 1024).toString)
          .parquet(dataDir)
      }
      val (index, dataSchema) = IndexedParquet.buildIndex(
        spark, dataDir, Seq("l_returnflag", "l_linenumber", "l_orderkey"),
        s"$base/statsdb-comp3-v2")
      val (df, fileIndex) = IndexedParquet.read(spark, dataDir, index, dataSchema)
      Entry(df, fileIndex, dataDir, index, dataSchema)
    })

  private val timeCache = TrieMap.empty[String, Entry]

  /** A TIME-clustered layout: lineitem range-partitioned and sorted on
    * (l_shipdate, l_orderkey), both indexed — the idx26 fixture. The
    * shape every event/log table has at 100 TB, where the time-bucketed
    * latest-k (`ORDER BY date_trunc('day', ts) DESC, id DESC LIMIT k`)
    * must read the newest row groups, not sort the table. */
  def lineitemTime(spark: SparkSession, sfDir: String): DataFrame =
    timeEntry(spark, sfDir).df

  def lastTimeExecution(spark: SparkSession, sfDir: String) =
    timeEntry(spark, sfDir).fileIndex.lastExecution

  private def timeEntry(spark: SparkSession, sfDir: String): Entry =
    timeCache.getOrElseUpdate(sfDir + "@" + spark.hashCode(), {
      val safe = sfDir.replaceAll("[^A-Za-z0-9.]", "_")
      val base = new java.io.File(s"target/tmp/indexed/$safe").getAbsolutePath
      // -v2: TIMESTAMP_MICROS (INT96 carries no footer stats — see the
      // main fixture's -v5 note; a blind l_shipdate column would reduce
      // idx26 to a full scan)
      val dataDir = s"$base/lineitem-time-v2"
      if (!Files.exists(Paths.get(dataDir, "_SUCCESS"))) {
        rmrf(new java.io.File(s"$base/statsdb-time-v2"))
        withMicrosTimestamps(spark) {
          spark.read.parquet(s"$sfDir/lineitem.parquet")
            .repartitionByRange(8, col("l_shipdate"), col("l_orderkey"))
            .sortWithinPartitions("l_shipdate", "l_orderkey")
            .write.mode("overwrite")
            .option("parquet.block.row.count.limit", "2048")
            .option("parquet.block.size", (1L * 1024 * 1024).toString)
            .parquet(dataDir)
        }
      }
      val (index, dataSchema) = IndexedParquet.buildIndex(
        spark, dataDir, Seq("l_shipdate", "l_orderkey"),
        s"$base/statsdb-time-v2")
      val (df, fileIndex) = IndexedParquet.read(spark, dataDir, index, dataSchema)
      Entry(df, fileIndex, dataDir, index, dataSchema)
    })

  /** Scope a session-timezone override to one query build: analysis
    * bakes the zone into every time expression, so the body must both
    * CONSTRUCT and MATERIALIZE its frame inside the scope; the prior
    * zone is restored even when the body throws (the shared session
    * must not leak a zone into later queries — same discipline as
    * [[withMicrosTimestamps]]). */
  private[graft] def withSessionTz[A](s: SparkSession, tz: String)(body: => A): A = {
    val key = "spark.sql.session.timeZone"
    val prior = s.conf.getOption(key)
    s.conf.set(key, tz)
    try body
    finally prior match {
      case Some(v) => s.conf.set(key, v)
      case None    => s.conf.unset(key)
    }
  }

  private val dateCache = TrieMap.empty[String, Entry]

  /** The TIME-clustered layout with a true DATE column: lineitem with
    * l_shipdate re-typed DATE, range-partitioned and sorted on
    * (l_shipdate, l_orderkey), both indexed — the idx34 fixture. The
    * shape of a day-partitioned warehouse table, where `trunc(d, unit)`
    * reporting sorts must read the newest row groups. */
  def lineitemDateClustered(spark: SparkSession, sfDir: String): DataFrame =
    dateEntry(spark, sfDir).df

  def lastDateExecution(spark: SparkSession, sfDir: String) =
    dateEntry(spark, sfDir).fileIndex.lastExecution

  private def dateEntry(spark: SparkSession, sfDir: String): Entry =
    dateCache.getOrElseUpdate(sfDir + "@" + spark.hashCode(), {
      val safe = sfDir.replaceAll("[^A-Za-z0-9.]", "_")
      val base = new java.io.File(s"target/tmp/indexed/$safe").getAbsolutePath
      val dataDir = s"$base/lineitem-date-v1"
      if (!Files.exists(Paths.get(dataDir, "_SUCCESS"))) {
        rmrf(new java.io.File(s"$base/statsdb-date-v1"))
        spark.read.parquet(s"$sfDir/lineitem.parquet")
          .withColumn("l_shipdate", col("l_shipdate").cast("date"))
          .repartitionByRange(8, col("l_shipdate"), col("l_orderkey"))
          .sortWithinPartitions("l_shipdate", "l_orderkey")
          .write.mode("overwrite")
          .option("parquet.block.row.count.limit", "2048")
          .option("parquet.block.size", (1L * 1024 * 1024).toString)
          .parquet(dataDir)
      }
      val (index, dataSchema) = IndexedParquet.buildIndex(
        spark, dataDir, Seq("l_shipdate", "l_orderkey"),
        s"$base/statsdb-date-v1")
      val (df, fileIndex) = IndexedParquet.read(spark, dataDir, index, dataSchema)
      Entry(df, fileIndex, dataDir, index, dataSchema)
    })

  private val aligned3Cache = TrieMap.empty[String, Entry]

  /** A TRIPLY value-aligned layout with a DECIMAL money column: one file
    * set per (l_returnflag, l_linestatus, l_linenumber) triple, plus
    * l_price_dec = l_extendedprice as DECIMAL(12,2) — the idx35/idx36
    * fixture. Every row group is constant in all three grouping columns,
    * so the catalog certifies the joint 3-key; the decimal column
    * carries footer DECIMAL stats (r13) and the unscaled-BIGINT sum
    * ledger. */
  def lineitemValueAligned3(spark: SparkSession, sfDir: String): DataFrame =
    aligned3Entry(spark, sfDir).df

  def lastAligned3Execution(spark: SparkSession, sfDir: String) =
    aligned3Entry(spark, sfDir).fileIndex.lastExecution

  private def aligned3Entry(spark: SparkSession, sfDir: String): Entry =
    aligned3Cache.getOrElseUpdate(sfDir + "@" + spark.hashCode(), {
      val safe = sfDir.replaceAll("[^A-Za-z0-9.]", "_")
      val base = new java.io.File(s"target/tmp/indexed/$safe").getAbsolutePath
      val dataDir = s"$base/lineitem-aligned3-v1"
      val db = s"$base/statsdb-aligned3-v1"
      if (!Files.exists(Paths.get(dataDir, "_SUCCESS"))) {
        rmrf(new java.io.File(db))
        val src = spark.read.parquet(s"$sfDir/lineitem.parquet")
          .withColumn("l_price_dec",
            col("l_extendedprice").cast("decimal(12,2)"))
        val triples = src
          .select("l_returnflag", "l_linestatus", "l_linenumber").distinct()
          .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2)))
          .sorted
        triples.zipWithIndex.foreach { case ((f, ls, ln), i) =>
          src.filter(col("l_returnflag") === f && col("l_linestatus") === ls &&
              col("l_linenumber") === ln)
            .coalesce(1)
            .write.mode(if (i == 0) "overwrite" else "append")
            .option("parquet.block.row.count.limit", "2048")
            .option("parquet.block.size", (1L * 1024 * 1024).toString)
            .parquet(dataDir)
        }
      }
      val (index, dataSchema) = IndexedParquet.buildIndex(
        spark, dataDir,
        Seq("l_returnflag", "l_linestatus", "l_linenumber", "l_orderkey",
          "l_price_dec"), db)
      val hasSums = index.rowGroupStats("l_price_dec")
        .exists(_.exists(_.sumVal.isDefined))
      if (!hasSums) {
        index.rebuildShadows(spark, dataDir, index.allFiles(), dataSchema,
          freqCols = Nil, sumCols = Seq("l_orderkey", "l_price_dec"))
      }
      val (df, fileIndex) = IndexedParquet.read(spark, dataDir, index, dataSchema)
      Entry(df, fileIndex, dataDir, index, dataSchema)
    })

  private val yearCache = TrieMap.empty[String, Entry]

  /** A YEAR-partitioned layout: one file set per year(l_shipdate) — the
    * idx41 fixture, the layout every time-partitioned warehouse ingest
    * produces. Row groups are year-IMAGE-constant without being
    * raw-constant, which is exactly what lets `GROUP BY year(ts)` fold
    * from the catalog. Indexed on (l_shipdate, l_orderkey) with the
    * l_orderkey sum ledger attached. */
  def lineitemYearParts(spark: SparkSession, sfDir: String): DataFrame =
    yearEntry(spark, sfDir).df

  def lastYearPartsExecution(spark: SparkSession, sfDir: String) =
    yearEntry(spark, sfDir).fileIndex.lastExecution

  private def yearEntry(spark: SparkSession, sfDir: String): Entry =
    yearCache.getOrElseUpdate(sfDir + "@" + spark.hashCode(), {
      val safe = sfDir.replaceAll("[^A-Za-z0-9.]", "_")
      val base = new java.io.File(s"target/tmp/indexed/$safe").getAbsolutePath
      val dataDir = s"$base/lineitem-yearparts-v1"
      val db = s"$base/statsdb-yearparts-v1"
      if (!Files.exists(Paths.get(dataDir, "_SUCCESS"))) {
        rmrf(new java.io.File(db))
        val src = spark.read.parquet(s"$sfDir/lineitem.parquet")
        // TPC-H ship dates span 7 years — a bounded driver-side loop
        val years = src.select(year(col("l_shipdate")).as("y")).distinct()
          .collect().map(_.getInt(0)).sorted
        withMicrosTimestamps(spark) {
          years.zipWithIndex.foreach { case (y, i) =>
            src.filter(year(col("l_shipdate")) === y)
              .repartitionByRange(2, col("l_shipdate"), col("l_orderkey"))
              .sortWithinPartitions("l_shipdate", "l_orderkey")
              .write.mode(if (i == 0) "overwrite" else "append")
              .option("parquet.block.row.count.limit", "2048")
              .option("parquet.block.size", (1L * 1024 * 1024).toString)
              .parquet(dataDir)
          }
        }
      }
      val (index, dataSchema) = IndexedParquet.buildIndex(
        spark, dataDir, Seq("l_shipdate", "l_orderkey"), db)
      val hasSums = index.rowGroupStats("l_orderkey")
        .exists(_.exists(_.sumVal.isDefined))
      if (!hasSums)
        index.rebuildShadows(spark, dataDir, index.allFiles(), dataSchema,
          freqCols = Nil, sumCols = Seq("l_orderkey"))
      val (df, fileIndex) = IndexedParquet.read(spark, dataDir, index, dataSchema)
      Entry(df, fileIndex, dataDir, index, dataSchema)
    })

  private val dayPartsCache = TrieMap.empty[String, Entry]

  /** A DAY-partitioned events layout: one file set per calendar day of
    * `ts` — the shape of daily streaming ingest at any scale. Row groups
    * are day-constant (cast-date-image constant) without being
    * raw-constant, which is what lets DETERMINED calendar parts —
    * `dayofweek(ts)`, `dayofmonth(ts)`, `month(ts)` — certify per row
    * group and serve seasonality/profile rollups straight from the
    * catalog (idx48–idx50). Indexed on (ts, event_id, user_id) with the
    * user_id sum ledger attached. */
  def eventsDayParts(spark: SparkSession, sfDir: String): DataFrame =
    dayPartsEntry(spark, sfDir).df

  def lastDayPartsExecution(spark: SparkSession, sfDir: String) =
    dayPartsEntry(spark, sfDir).fileIndex.lastExecution

  private def dayPartsEntry(spark: SparkSession, sfDir: String): Entry =
    dayPartsCache.getOrElseUpdate(sfDir + "@" + spark.hashCode(), {
      val safe = sfDir.replaceAll("[^A-Za-z0-9.]", "_")
      val base = new java.io.File(s"target/tmp/indexed/$safe").getAbsolutePath
      val dataDir = s"$base/events-dayparts-v1"
      val db = s"$base/statsdb-dayparts-v1"
      if (!Files.exists(Paths.get(dataDir, "_SUCCESS"))) {
        rmrf(new java.io.File(db))
        val src = graft.Tables.loadEvents(spark, sfDir)
        // the generator emits one month of events — a bounded driver loop
        val days = src.select(to_date(col("ts")).as("d")).distinct()
          .collect().map(_.getDate(0)).sortBy(_.getTime)
        withMicrosTimestamps(spark) {
          days.zipWithIndex.foreach { case (d, i) =>
            src.filter(to_date(col("ts")) === lit(d))
              .repartitionByRange(2, col("ts"), col("event_id"))
              .sortWithinPartitions("ts", "event_id")
              .write.mode(if (i == 0) "overwrite" else "append")
              .option("parquet.block.row.count.limit", "2048")
              .option("parquet.block.size", (1L * 1024 * 1024).toString)
              .parquet(dataDir)
          }
        }
      }
      val (index, dataSchema) = IndexedParquet.buildIndex(
        spark, dataDir, Seq("ts", "event_id", "user_id"), db)
      val hasSums = index.rowGroupStats("user_id")
        .exists(_.exists(_.sumVal.isDefined))
      if (!hasSums)
        index.rebuildShadows(spark, dataDir, index.allFiles(), dataSchema,
          freqCols = Nil, sumCols = Seq("user_id"))
      val (df, fileIndex) = IndexedParquet.read(spark, dataDir, index, dataSchema)
      Entry(df, fileIndex, dataDir, index, dataSchema)
    })

  private val nyDayPartsCache = TrieMap.empty[String, Entry]

  /** An events layout partitioned by LOCAL calendar day in a GEOGRAPHIC
    * (DST-observing) zone — America/New_York — the shape every
    * region-local warehouse ingest produces. Row groups are constant in
    * the NY-local day WITHOUT being constant in any single fixed-offset
    * image valid for all time, which is exactly what the r14
    * DST-piecewise certificates serve: each group's raw instant range is
    * transition-free, so the local-day key, its determined parts, and
    * its labels certify per row group at the group's own constant
    * offset. Indexed on (ts, event_id, user_id) with the user_id sum
    * ledger. */
  def eventsNyDayParts(spark: SparkSession, sfDir: String): DataFrame =
    nyDayPartsEntry(spark, sfDir).df

  def lastNyDayPartsExecution(spark: SparkSession, sfDir: String) =
    nyDayPartsEntry(spark, sfDir).fileIndex.lastExecution

  private def nyDayPartsEntry(spark: SparkSession, sfDir: String): Entry =
    nyDayPartsCache.getOrElseUpdate(sfDir + "@" + spark.hashCode(), {
      val safe = sfDir.replaceAll("[^A-Za-z0-9.]", "_")
      val base = new java.io.File(s"target/tmp/indexed/$safe").getAbsolutePath
      val dataDir = s"$base/events-nydayparts-v1"
      val db = s"$base/statsdb-nydayparts-v1"
      if (!Files.exists(Paths.get(dataDir, "_SUCCESS"))) {
        rmrf(new java.io.File(db))
        val src = graft.Tables.loadEvents(spark, sfDir)
        val nyDay = to_date(from_utc_timestamp(col("ts"), "America/New_York"))
        // one month of events — a bounded driver loop over local days
        val days = src.select(nyDay.as("d")).distinct()
          .collect().map(_.getDate(0)).sortBy(_.getTime)
        withMicrosTimestamps(spark) {
          days.zipWithIndex.foreach { case (d, i) =>
            src.filter(nyDay === lit(d))
              .repartitionByRange(2, col("ts"), col("event_id"))
              .sortWithinPartitions("ts", "event_id")
              .write.mode(if (i == 0) "overwrite" else "append")
              .option("parquet.block.row.count.limit", "2048")
              .option("parquet.block.size", (1L * 1024 * 1024).toString)
              .parquet(dataDir)
          }
        }
      }
      val (index, dataSchema) = IndexedParquet.buildIndex(
        spark, dataDir, Seq("ts", "event_id", "user_id"), db)
      val hasSums = index.rowGroupStats("user_id")
        .exists(_.exists(_.sumVal.isDefined))
      if (!hasSums)
        index.rebuildShadows(spark, dataDir, index.allFiles(), dataSchema,
          freqCols = Nil, sumCols = Seq("user_id"))
      val (df, fileIndex) = IndexedParquet.read(spark, dataDir, index, dataSchema)
      Entry(df, fileIndex, dataDir, index, dataSchema)
    })

  private val routedCache = TrieMap.empty[String, (org.apache.spark.sql.DataFrame,
    graft.sources.IndexedParquetFileIndex)]

  /** The SAME indexed relation, with automatic index routing on: l_ukey
    * and l_orderkey each carry a row-level posting catalog (built lazily,
    * one distributed pass each), so equality/IN — and, on l_orderkey,
    * bounded ranges, one B-tree range read of the catalog — on either column
    * resolve to posting-exact row groups; everything else falls back to
    * the bloom/min-max catalog path. */
  def lineitemRouted(spark: SparkSession, sfDir: String): DataFrame =
    routedEntry(spark, sfDir)._1

  def lastRoutedExecution(spark: SparkSession, sfDir: String) =
    routedEntry(spark, sfDir)._2.lastExecution

  private def routedEntry(spark: SparkSession, sfDir: String) =
    routedCache.getOrElseUpdate(sfDir + "@" + spark.hashCode(), {
      val e = cached(spark, sfDir)
      val ukeyIdx = e.dataDir + "-rowidx-ukey-v3"
      if (!graft.index.RowLevelIndex.isComplete(ukeyIdx))
        graft.index.RowLevelIndex.build(
          spark, e.dataDir, e.index.allFiles(), e.dataSchema, "l_ukey", ukeyIdx)
      graft.sources.IndexedParquet.read(
        spark, e.dataDir, e.index, e.dataSchema,
        rowLevelIndexes = Map(
          "l_ukey" -> ukeyIdx,
          "l_orderkey" -> rowLevelDir(spark, sfDir, e)))
    })
}
