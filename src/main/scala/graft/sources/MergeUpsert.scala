package graft.sources

import graft.index.{FooterStats, RowLevelIndex, StatsIndex}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.SerializableConfiguration

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

/** MERGE-by-key (upsert) into a parquet table directory, rewriting ONLY
  * the files that contain matched keys — the lakehouse `MERGE INTO`
  * maintenance primitive, with the file-location step answered by the
  * external index instead of a table scan.
  *
  * Semantics: every source row lands in the table (matched keys replace
  * the existing row wholesale, unmatched keys insert); target rows whose
  * key does not appear in the source are untouched. Source keys must be
  * unique and non-null (standard MERGE precondition — a duplicate source
  * key has no well-defined "the" replacement row).
  *
  * Scale notes (the reason this exists):
  *  - Locating the files to rewrite is a DISTRIBUTED lookup of the
  *    source's distinct keys in the row-level posting catalog — each key
  *    partition probes the key B-tree over its own connection, O(|source|)
  *    index probes, never a data scan. On a 100 TB table where a batch
  *    touches 0.1% of files, everything else stays on disk untouched. When no posting index covers the live file set
  *    the locator degrades (soundly) to a key-column-only scan tagged
  *    with `_metadata.file_name` — one pruned-projection pass, still
  *    never a full-width read.
  *  - The rewrite is ONE Spark job: scan of just the matched files,
  *    anti-join out the replaced keys, union the source, write. AQE sizes
  *    the output parts; zero-row parts are dropped.
  *  - Catalog maintenance is O(changed): one keyed delete for the
  *    rewritten originals, one distributed footer-ingest for the new
  *    files, incremental bloom + posting appends (same discipline as
  *    [[Compaction.compactIndexed]]). Postings for replaced files linger
  *    but are never consulted (lookups intersect with LIVE stats plans);
  *    a periodic [[RowLevelIndex.build]] compacts them away.
  *
  * Not atomic: new files land before originals are deleted (crash ⇒
  * duplicates, never loss — same contract as [[Compaction]]; a
  * transactional table format would wrap this in a commit).
  */
object MergeUpsert {

  /** What a merge pass changed (file NAMES, not paths). */
  final case class Result(
      matchedFiles: Seq[String],
      newFiles: Seq[String],
      untouchedFiles: Seq[String])

  /** Data files containing at least one `srcKeys` key. `srcKeys` must be a
    * single-column DataFrame named `key`, typed like the data's key column.
    *
    * Uses the posting catalog when it covers every live file (a live file
    * missing from the covered set could hold matched keys the postings
    * cannot see — silently skipping its rewrite would corrupt the merge,
    * so staleness forces the scan fallback instead). */
  def locateMatchedFiles(
      spark: SparkSession,
      dir: String,
      srcKeys: DataFrame,
      keyCol: String,
      postingDir: Option[String],
      liveFiles: Set[String]): Seq[String] = {
    val viaPostings = postingDir.filter { pd =>
      RowLevelIndex.coveredFiles(pd).exists(cov => liveFiles.subsetOf(cov))
    }
    viaPostings match {
      case Some(pd) =>
        RowLevelIndex.filesContaining(pd, srcKeys).filter(liveFiles).sorted
      case None =>
        spark.read.parquet(dir)
          .select(col(keyCol), col("_metadata.file_name").as("__merge_fn"))
          .join(srcKeys.withColumnRenamed("key", "__merge_key"),
            col(keyCol) === col("__merge_key"), "left_semi")
          .select("__merge_fn").distinct()
          .collect().map(_.getString(0)).toSeq
          .filter(liveFiles).sorted
    }
  }

  /** Execute the merge. `source` must have the target's schema. When
    * `index` is given, `indexedCols` are the catalog's stats columns and
    * the catalog (plus blooms, plus the `postingDir` posting catalog) is
    * brought back in step with O(changed files) work. */
  def merge(
      spark: SparkSession,
      dir: String,
      source: DataFrame,
      keyCol: String,
      index: Option[StatsIndex] = None,
      indexedCols: Seq[String] = Nil,
      postingDir: Option[String] = None): Result = {
    val srcKeys = source.select(col(keyCol).as("key")).distinct()
    rewrite(spark, dir, srcKeys, keyCol, Some(source),
      index, indexedCols, postingDir)
  }

  /** DELETE-by-key — the takedown/right-to-be-forgotten pass: every row
    * whose key appears in `keys` (single-column DataFrame, any name) is
    * removed, rewriting only the files that contain one. Files whose rows
    * are ALL deleted simply disappear (zero-row parts are dropped). Same
    * locate/rewrite/catalog machinery — and the same scale bound: work is
    * O(matched files + |keys|), never O(table). */
  def delete(
      spark: SparkSession,
      dir: String,
      keys: DataFrame,
      keyCol: String,
      index: Option[StatsIndex] = None,
      indexedCols: Seq[String] = Nil,
      postingDir: Option[String] = None): Result = {
    val srcKeys = keys.select(col(keys.columns.head).as("key")).distinct()
    rewrite(spark, dir, srcKeys, keyCol, None, index, indexedCols, postingDir)
  }

  /** Shared core: rewrite the files containing `srcKeys` with those keys'
    * rows removed, then append `union`'s rows (merge) or nothing
    * (delete), then bring the catalog back in step. */
  private def rewrite(
      spark: SparkSession,
      dir: String,
      srcKeys: DataFrame,
      keyCol: String,
      union: Option[DataFrame],
      index: Option[StatsIndex],
      indexedCols: Seq[String],
      postingDir: Option[String]): Result = {
    val dirPath = new Path(dir)
    val hconf = spark.sparkContext.hadoopConfiguration
    val fs = dirPath.getFileSystem(hconf)
    val live = fs.listStatus(dirPath).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.getName).sorted
    val matched =
      locateMatchedFiles(spark, dir, srcKeys, keyCol, postingDir, live.toSet)
    val untouched = live.filterNot(matched.contains)
    if (matched.isEmpty && union.isEmpty)
      return Result(Nil, Nil, untouched)

    // one job: (matched-file rows minus the keys) ∪ the merge source
    val kept =
      if (matched.isEmpty) None
      else {
        val paths = matched.map(n => new Path(dirPath, n).toString)
        val schema = Compaction.footerSchema(new Path(paths.head), hconf)
        Some(spark.read.schema(schema).parquet(paths: _*)
          .join(srcKeys.withColumnRenamed("key", "__merge_key"),
            col(keyCol) === col("__merge_key"), "left_anti"))
      }
    val out = (kept, union) match {
      case (Some(k), Some(u)) => k.unionByName(u)
      case (Some(k), None)    => k
      case (None, Some(u))    => u
      case (None, None)       => return Result(Nil, Nil, untouched)
    }
    val staging = new Path(dirPath, ".merge-staging")
    fs.delete(staging, true)
    out.write.mode("overwrite").parquet(staging.toString)
    // continue merge-N numbering past any earlier pass (renaming over a
    // survivor of a previous merge would lose data)
    val offset = live
      .flatMap("merge-(\\d+)\\.parquet".r.findFirstMatchIn(_).map(_.group(1).toInt))
      .maxOption.map(_ + 1).getOrElse(0)
    val parts = fs.listStatus(staging).toSeq
      .map(_.getPath).filter(_.getName.endsWith(".parquet"))
      .sortBy(_.getName)
      .filter(p => footerRowCount(p, hconf) > 0L) // drop empty shuffle parts
    val newNames = parts.zipWithIndex.map { case (p, i) =>
      val dest = new Path(dirPath, f"merge-${offset + i}%05d.parquet")
      require(fs.rename(p, dest), s"rename $p -> $dest failed")
      dest.getName
    }
    fs.delete(staging, true)
    matched.foreach(n => fs.delete(new Path(dirPath, n), false))

    index.foreach { idx =>
      idx.removeFiles(matched.toSet)
      if (newNames.nonEmpty) {
        val newPaths = newNames.map(n => new Path(dirPath, n).toString)
        val serConf = new SerializableConfiguration(hconf)
        val cols = indexedCols
        val statsRdd = spark.sparkContext
          .parallelize(newPaths, math.max(1, math.min(newPaths.size,
            spark.sparkContext.defaultParallelism)))
          .map(f => FooterStats.read(new Path(f), serConf.value, cols))
        idx.ingestAll(statsRdd)
        if (idx.bloomCols.nonEmpty || postingDir.nonEmpty) {
          val names = newNames.toSet
          // catalog-side name filter — O(new files), never a full
          // catalog plan fetch per upsert
          val newPlans = idx.filesNamed(names)
          val schema = Compaction.footerSchema(new Path(newPaths.head), hconf)
          idx.rebuildBlooms(spark, dir, newPlans, schema)
          postingDir.foreach(pd =>
            RowLevelIndex.append(spark, dir, newPlans, schema, keyCol, pd))
        }
      }
    }
    Result(matched, newNames, untouched)
  }

  private def footerRowCount(
      p: Path, conf: org.apache.hadoop.conf.Configuration): Long = {
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf),
      org.apache.parquet.ParquetReadOptions.builder().build())
    try reader.getFooter.getBlocks.asScala.map(_.getRowCount.toLong).sum
    finally reader.close()
  }

  // --------------------------------------------------------------------
  // driver-contract query: the merged table answers exactly like the
  // merge expressed declaratively over the original table
  // --------------------------------------------------------------------

  private def rmrf(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(rmrf)
    f.delete(); ()
  }

  /** Deterministic merge source derived from `orders` itself: every key
    * ≡3 (mod 10) is an update (status U, price doubled — an exact binary
    * exponent bump, so the decimal-cast oracle discipline holds), every
    * key ≡7 (mod 10) re-keyed +10M is an insert (status N; TPC-H order
    * keys stay far below 10M at every test SF, so no collision). */
  private def mergeSource(s: SparkSession, sfDir: String): DataFrame = {
    val o = graft.Tables.load(s, sfDir, "orders")
    val updates = o.filter(col("o_orderkey") % 10 === 3)
      .withColumn("o_orderstatus", lit("U"))
      .withColumn("o_totalprice", col("o_totalprice") * 2)
    val inserts = o.filter(col("o_orderkey") % 10 === 7)
      .withColumn("o_orderkey", col("o_orderkey") + lit(10000000L))
      .withColumn("o_orderstatus", lit("N"))
    updates.unionByName(inserts)
  }

  private val fixtureCache = TrieMap.empty[String, String]

  /** Once per sfDir: a range-clustered 8-file copy of `orders`, indexed
    * (stats catalog + o_orderkey posting index), then merged in place via
    * [[merge]] — so the driver row exercises the posting-located,
    * file-pruned rewrite path end to end. `_MERGED` marks completion
    * (the parquet `_SUCCESS` lands before the merge ran, so it alone
    * cannot gate the cache). */
  private def mergedOrders(s: SparkSession, sfDir: String): String =
    fixtureCache.getOrElseUpdate(sfDir + "@" + s.hashCode(), {
      val safe = sfDir.replaceAll("[^A-Za-z0-9.]", "_")
      val base = new java.io.File(s"target/tmp/merge/$safe").getAbsolutePath
      val dataDir = s"$base/orders-v1"
      val marker = java.nio.file.Paths.get(dataDir, "_MERGED")
      if (!java.nio.file.Files.exists(marker)) {
        rmrf(new java.io.File(dataDir))
        rmrf(new java.io.File(s"$base/statsdb-v1"))
        rmrf(new java.io.File(s"$base/postings-v1"))
        graft.Tables.load(s, sfDir, "orders")
          .repartitionByRange(8, col("o_orderkey"))
          .write.mode("overwrite").parquet(dataDir)
        val (index, schema) = IndexedParquet.buildIndex(
          s, dataDir, Seq("o_orderkey"), s"$base/statsdb-v1")
        try {
          RowLevelIndex.build(s, dataDir, index.allFiles(), schema,
            "o_orderkey", s"$base/postings-v1")
          merge(s, dataDir, mergeSource(s, sfDir), "o_orderkey",
            Some(index), Seq("o_orderkey"), Some(s"$base/postings-v1"))
        } finally index.close()
        java.nio.file.Files.createFile(marker)
      }
      dataDir
    })

  /** Once per sfDir: a fresh indexed copy of `orders`, then [[delete]] of
    * every key ≡4 (mod 10) through the posting-located path. */
  private def deletedOrders(s: SparkSession, sfDir: String): String =
    fixtureCache.getOrElseUpdate("del:" + sfDir + "@" + s.hashCode(), {
      val safe = sfDir.replaceAll("[^A-Za-z0-9.]", "_")
      val base = new java.io.File(s"target/tmp/merge/$safe").getAbsolutePath
      val dataDir = s"$base/orders-del-v1"
      val marker = java.nio.file.Paths.get(dataDir, "_MERGED")
      if (!java.nio.file.Files.exists(marker)) {
        rmrf(new java.io.File(dataDir))
        rmrf(new java.io.File(s"$base/statsdb-del-v1"))
        rmrf(new java.io.File(s"$base/postings-del-v1"))
        graft.Tables.load(s, sfDir, "orders")
          .repartitionByRange(8, col("o_orderkey"))
          .write.mode("overwrite").parquet(dataDir)
        val (index, schema) = IndexedParquet.buildIndex(
          s, dataDir, Seq("o_orderkey"), s"$base/statsdb-del-v1")
        try {
          RowLevelIndex.build(s, dataDir, index.allFiles(), schema,
            "o_orderkey", s"$base/postings-del-v1")
          val doomed = graft.Tables.load(s, sfDir, "orders")
            .filter(col("o_orderkey") % 10 === 4).select("o_orderkey")
          delete(s, dataDir, doomed, "o_orderkey",
            Some(index), Seq("o_orderkey"), Some(s"$base/postings-del-v1"))
        } finally index.close()
        java.nio.file.Files.createFile(marker)
      }
      dataDir
    })

  val defs: Seq[graft.QueryDef] = Seq(
    graft.QueryDef(
      "up1_merge_upsert",
      (s, dir) => {
        s.read.parquet(mergedOrders(s, dir))
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice").cast("decimal(18,4)"))
              .cast("decimal(38,4)").cast("string").as("total"))
      },
      Some("""WITH src AS (
             |  SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
             |         o_totalprice * 2 AS o_totalprice, o_orderdate, o_orderpriority
             |  FROM orders WHERE o_orderkey % 10 = 3
             |  UNION ALL
             |  SELECT o_orderkey + 10000000, o_custkey, 'N',
             |         o_totalprice, o_orderdate, o_orderpriority
             |  FROM orders WHERE o_orderkey % 10 = 7),
             |merged AS (
             |  SELECT * FROM src
             |  UNION ALL
             |  SELECT o.* FROM orders o
             |  WHERE NOT EXISTS (SELECT 1 FROM src WHERE src.o_orderkey = o.o_orderkey))
             |SELECT o_orderstatus, count(*) AS n,
             |  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS VARCHAR) AS total
             |FROM merged GROUP BY 1""".stripMargin)),

    graft.QueryDef(
      "up2_delete_keys",
      (s, dir) => {
        s.read.parquet(deletedOrders(s, dir))
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice").cast("decimal(18,4)"))
              .cast("decimal(38,4)").cast("string").as("total"))
      },
      Some("""SELECT o_orderstatus, count(*) AS n,
             |  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS VARCHAR) AS total
             |FROM orders WHERE o_orderkey % 10 <> 4 GROUP BY 1""".stripMargin)),

    // ----- SCD2 dimension-history merge (up3) -------------------------------
    // The versioned face of up1's merge: applying an update batch to a
    // dimension keeps HISTORY — a changed row is CLOSED (valid_to = ts)
    // and re-inserted (valid_from = ts, open-ended), an update that
    // changes nothing is a no-op (the %10=7 slice proves changed-only
    // semantics), untouched rows keep their open interval. Change
    // detection joins the update batch against current rows; the update
    // side of a dimension merge is small by nature, so the changed-key
    // set BROADCASTS and the untouched bulk flows through one broadcast
    // anti join — the dimension never shuffles and the work is
    // O(changed), the same never-touch-the-bulk discipline as up1/up2.
    graft.QueryDef(
      "up3_scd2",
      (s, dir) => {
        val dim = graft.Tables.load(s, dir, "customer")
          .select(col("c_custkey"), col("c_acctbal"))
        val upd = dim
          .filter(pmod(col("c_custkey"), lit(10L)).isin(3L, 7L))
          .select(col("c_custkey"),
            when(pmod(col("c_custkey"), lit(10L)) === 3L,
              col("c_acctbal") + 100.0)
              .otherwise(col("c_acctbal")).as("new_bal"))
        val changed = upd.join(dim, "c_custkey")
          .where(col("new_bal") =!= col("c_acctbal"))
          .select(col("c_custkey"), col("new_bal"))
        val changedKeys = broadcast(changed.select("c_custkey"))
        val untouched = dim.join(changedKeys, Seq("c_custkey"), "left_anti")
          .select(col("c_custkey"), col("c_acctbal").as("bal"),
            lit(0L).as("valid_from"), lit(9999L).as("valid_to"))
        val closed = dim.join(changedKeys, Seq("c_custkey"))
          .select(col("c_custkey"), col("c_acctbal").as("bal"),
            lit(0L).as("valid_from"), lit(1L).as("valid_to"))
        val fresh = changed
          .select(col("c_custkey"), col("new_bal").as("bal"),
            lit(1L).as("valid_from"), lit(9999L).as("valid_to"))
        untouched.union(closed).union(fresh)
      },
      Some("""WITH upd AS (
             |  SELECT c_custkey,
             |    CASE WHEN c_custkey % 10 = 3 THEN c_acctbal + 100.0
             |         ELSE c_acctbal END AS new_bal
             |  FROM customer WHERE c_custkey % 10 IN (3, 7)),
             |chg AS (
             |  SELECT u.c_custkey, u.new_bal
             |  FROM upd u JOIN customer c USING (c_custkey)
             |  WHERE u.new_bal <> c.c_acctbal)
             |SELECT c.c_custkey, c.c_acctbal AS bal,
             |  CAST(0 AS BIGINT) AS valid_from, CAST(9999 AS BIGINT) AS valid_to
             |FROM customer c LEFT JOIN chg ON chg.c_custkey = c.c_custkey
             |WHERE chg.c_custkey IS NULL
             |UNION ALL
             |SELECT c.c_custkey, c.c_acctbal,
             |  CAST(0 AS BIGINT), CAST(1 AS BIGINT)
             |FROM customer c JOIN chg USING (c_custkey)
             |UNION ALL
             |SELECT c_custkey, new_bal,
             |  CAST(1 AS BIGINT), CAST(9999 AS BIGINT)
             |FROM chg""".stripMargin)))
}
