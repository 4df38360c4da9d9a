package graft.index

import graft.sources.RowGroupSkipScan
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

import scala.collection.immutable.SortedSet

/** Row-level key index — the reference's "more advanced" named extension
  * (/root/reference/sqlx-sqlite/src/index.rs:30-35: a precise key ->
  * (file, row_group) index instead of min/max ranges): for a chosen key
  * column, the exact posting list of row groups containing each distinct
  * key, held in a relational catalog ([[PostingCatalog]]: an embedded
  * Derby database at the index directory, B-tree on the key).
  *
  * Min/max pruning keeps a row group whenever the key falls inside its
  * range; the row-level index keeps it only if the key actually OCCURS —
  * for sparse keys inside wide ranges this is the difference between
  * scanning many row groups and scanning one.
  *
  * Scale notes: the index is built in one distributed pass (each row-group
  * split scans its own keys and executors insert their postings over
  * their own JDBC connections), is O(distinct keys x row groups containing
  * them), and every lookup is one prepared catalog query down the key
  * B-tree — O(postings returned), never O(data), and no Spark job.
  */
object RowLevelIndex {

  /** Build the index for `keyCol` over the files in `plans` (one entry per
    * row group, from the stats index) into a fresh catalog at `indexDir`,
    * replacing whatever the directory held.
    *
    * ONE distributed job of one stage, whose plan is O(1) in row-group
    * count: a single scan with one partition per row group
    * (`mergeRuns=false`, pruned to the key column), a broadcast join
    * against the tiny partition-id → (file, row_group) mapping, a sort
    * within each partition, and an executor-side insert of each
    * partition's distinct postings — no shuffle. The key B-tree is
    * built once after the bulk load; the catalog's completion marker is
    * written last. A 100 TB table's ~10⁶ row groups are just 10⁶
    * partitions of the one scan — no per-row-group plan nodes, no
    * single-task write. A key type the catalog cannot store is refused
    * before any job runs. */
  def build(
      spark: SparkSession,
      dir: String,
      plans: Seq[FileScanPlan],
      dataSchema: StructType,
      keyCol: String,
      indexDir: String,
      withRowNumbers: Boolean = false): Unit = {
    PostingCatalog.create(indexDir, keyCol, dataSchema(keyCol).dataType, withRowNumbers)
    load(spark, dir, plans, dataSchema, keyCol, indexDir, withRowNumbers)
    PostingCatalog.seal(indexDir, plans.map(_.fileName))
  }

  /** Incremental build: postings for `newPlans` (files NOT yet covered)
    * inserted into the existing catalog, then the files added to its
    * covered set — O(new files) work, the streaming-sink, compaction and
    * MERGE maintenance path. The postings take the catalog's own shape:
    * a catalog built with row numbers gets row numbers for the new files
    * too. Postings land before coverage, so a crash in between leaves the
    * new files uncovered (routing degrades, never prunes them). With no
    * complete catalog at `indexDir` yet, this is a compact [[build]] over
    * `newPlans`. Replay-safe: a replayed batch inserts its postings again
    * and every read dedupes, and postings for since-deleted files are
    * never consulted (intersection is keyed by the LIVE stats-plan file
    * names); a periodic [[build]] compacts both away. */
  def append(
      spark: SparkSession,
      dir: String,
      newPlans: Seq[FileScanPlan],
      dataSchema: StructType,
      keyCol: String,
      indexDir: String): Unit = {
    if (newPlans.isEmpty) return
    if (!PostingCatalog.isComplete(indexDir))
      build(spark, dir, newPlans, dataSchema, keyCol, indexDir)
    else {
      val rowNumbers =
        PostingCatalog.withConnection(indexDir)(PostingCatalog.meta).rowNumbers
      load(spark, dir, newPlans, dataSchema, keyCol, indexDir, rowNumbers)
      PostingCatalog.cover(indexDir, newPlans.map(_.fileName))
    }
  }

  /** The distributed insert of `plans`' postings. */
  private def load(
      spark: SparkSession,
      dir: String,
      plans: Seq[FileScanPlan],
      dataSchema: StructType,
      keyCol: String,
      indexDir: String,
      withRowNumbers: Boolean): Unit =
    if (plans.exists(_.scanRowGroups.nonEmpty)) {
      val url = PostingCatalog.url(indexDir)
      buildPlan(spark, dir, plans, dataSchema, keyCol, withRowNumbers)
        .rdd.foreachPartition((rows: Iterator[Row]) =>
          PostingCatalog.insert(url, withRowNumbers, rows))
    }

  /** True once a build at `indexDir` finished: the catalog's completion
    * marker exists. A directory without it is never opened as a catalog. */
  def isComplete(indexDir: String): Boolean = PostingCatalog.isComplete(indexDir)

  /** The DATA files this posting index covers; None when the catalog is
    * missing, incomplete or unreadable — callers must then treat coverage
    * as unknown and degrade. Routing consults it so a STALE index — built
    * before an append or compaction changed the file set — can only
    * degrade to over-scan, never silently prune files it has no postings
    * for. Deriving coverage from the postings themselves would be wrong:
    * a file absent from the postings is indistinguishable from a covered
    * file whose keys are all null. Read fresh each call (one catalog
    * query) so a same-path rebuild is seen at once. */
  def coveredFiles(indexDir: String): Option[Set[String]] =
    read(indexDir)(PostingCatalog.covered)

  /** One read of a complete catalog; None when it is not complete or the
    * read fails. */
  private def read[T](indexDir: String)(f: java.sql.Connection => T): Option[T] =
    try {
      if (!PostingCatalog.isComplete(indexDir)) None
      else Some(PostingCatalog.withConnection(indexDir)(f))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** The build dataflow, exposed for plan-shape assertions.
    *
    * `withRowNumbers=false` (default): one posting per DISTINCT
    * (key, row group) pair — compact (O(distinct keys × row groups
    * containing them)), the right shape for "which row groups hold this
    * key" routing.
    *
    * `withRowNumbers=true` (r14): the reference sketch's FULL shape — "a
    * key/value map from `id` to (file_name, row_group, row_number)"
    * (/root/reference/sqlx-sqlite/src/index.rs:30-35) — one posting per
    * ROW, `row_number` the row's ordinal WITHIN ITS FILE (the same
    * numbering Spark's `_metadata.row_index` exposes). O(rows) storage,
    * the standard cost of a precise secondary index; lookups via
    * [[pointQueryRows]] then select exact rows, not whole row groups.
    * The ordinal is reconstructed distributively: `mergeRuns=false`
    * makes partition-id ↔ row-group identity, the parquet reader yields
    * a split's rows in file order, and `monotonically_increasing_id`'s
    * documented layout (record number in the low 33 bits, reset per
    * partition) gives the position inside the group — added to the
    * group's first-row offset (cumulated from the catalog's per-group
    * row counts; no footer read). The scan pushes NO filters, so no
    * page is skipped and the ordinal is exact.
    *
    * No shuffle: the catalog's key B-tree orders lookups, and the compact
    * shape's per-partition sort only groups a row group's repeats of a
    * key for the insert to drop. */
  def buildPlan(
      spark: SparkSession,
      dir: String,
      plans: Seq[FileScanPlan],
      dataSchema: StructType,
      keyCol: String,
      withRowNumbers: Boolean = false): DataFrame = {
    import spark.implicits._
    val rgMeta = graft.plans.RowGroupScan.perRowGroupMeta(plans)
    val scan = RowGroupSkipScan.scan(spark, dir, plans, dataSchema,
      mergeRuns = false, requiredCols = Seq(keyCol))
    if (withRowNumbers) {
      val firstRow = firstRowOffsets(plans).getOrElse(
        throw new IllegalArgumentException(
          "row-number build needs complete per-row-group row counts " +
            "(catalog rows missing for some groups)"))
      val meta = rgMeta.zipWithIndex
        .map { case ((f, rg), pid) => (pid, f, rg, firstRow((f, rg))) }
        .toDF("pid", "file_name", "row_group", "first_row")
      scan
        .select(col(keyCol).as("key"), spark_partition_id().as("pid"),
          monotonically_increasing_id()
            .bitwiseAND(lit((1L << 33) - 1)).as("pos"))
        .join(broadcast(meta), "pid")
        .select(col("key"), col("file_name"), col("row_group"),
          (col("first_row") + col("pos")).as("row_number"))
    } else {
      val meta = rgMeta.zipWithIndex
        .map { case ((f, rg), pid) => (pid, f, rg) }
        .toDF("pid", "file_name", "row_group")
      // a partition is one row group, so sorting it puts that group's
      // repeats of a key side by side: the insert keeps the first of each
      // run — distinct (key, rg) pairs with no shuffle, in bounded memory
      scan
        .select(col(keyCol).as("key"), spark_partition_id().as("pid"))
        .join(broadcast(meta), "pid")
        .select("key", "file_name", "row_group")
        .sortWithinPartitions("key")
    }
  }

  /** Within-file FIRST-ROW offset of every selected row group, cumulated
    * from the catalog's per-group row counts — None when any group of a
    * file (selected or not: the ordinal is a file-level position) is
    * missing its row count. */
  private def firstRowOffsets(
      plans: Seq[FileScanPlan]): Option[Map[(String, Int), Long]] = {
    val out = Map.newBuilder[(String, Int), Long]
    plans.foreach { p =>
      var acc = 0L
      (0 until p.rowGroupCount).foreach { rg =>
        if (p.scanRowGroups.contains(rg)) out += ((p.fileName, rg) -> acc)
        acc += (p.rowGroupRows.get(rg) match {
          case Some(n) => n
          case None if rg >= p.scanRowGroups.lastOption.getOrElse(-1) => 0L
          case None => return None // a gap below a selected group
        })
      }
    }
    Some(out.result())
  }

  /** Driver-side posting cap for [[lookup]]: past this many postings the
    * lookup degrades to the caller's full plan set instead of
    * materializing every posting on the driver. The index exists for
    * SELECTIVE keys — a key occurring in 100k+ row groups gains ~nothing
    * from precise postings (min/max pruning already bounds the scan), but
    * an uncapped collect on such a key would melt the driver at 100 TB.
    * 100k postings ≈ a few MB of (file, row_group) rows — safe. */
  val MaxPostings = 100000

  /** Posting sets for `keys` (OR-semantics: a row group survives if it
    * contains ANY of the keys — the IN-list shape): one catalog query per
    * chunk of keys down the key B-tree, streamed and deduplicated, so the
    * driver holds at most `maxPostings` distinct (file, row_group) pairs.
    * None = overflow (some key is too hot for precise postings to pay off)
    * — callers must degrade to their stats-pruned plans. */
  def postings(
      indexDir: String,
      keys: Seq[Any],
      maxPostings: Int = MaxPostings): Option[Map[String, SortedSet[Int]]] =
    PostingCatalog.withConnection(indexDir) { c =>
      PostingCatalog.rowGroups(maxPostings)(
        PostingCatalog.forKeys(c, "SELECT file_name, row_group FROM postings", keys))
    }

  /** Posting sets for a BOUNDED key range [lower, upper] (inclusiveness
    * per flag) — the `k BETWEEN a AND b` routing shape: one B-tree range
    * read; (file, row_group) pairs are deduplicated as they stream, so
    * `maxPostings` bounds distinct row groups, not per-key postings.
    * None = overflow (the range covers too much for precise postings to
    * pay off) — callers degrade to their stats-pruned plans. */
  def postingsRange(
      indexDir: String,
      lower: Any, lowerInclusive: Boolean,
      upper: Any, upperInclusive: Boolean,
      maxPostings: Int = MaxPostings): Option[Map[String, SortedSet[Int]]] =
    PostingCatalog.withConnection(indexDir) { c =>
      PostingCatalog.rowGroups(maxPostings)(
        PostingCatalog.range(c, lower, lowerInclusive, upper, upperInclusive))
    }

  /** Posting lookup: which row groups contain `key`. The driver collect is
    * bounded by `maxPostings` with a full-plan fallback (over-scan, never
    * wrong). */
  def lookup(
      indexDir: String,
      key: Any,
      statsPlans: Seq[FileScanPlan],
      maxPostings: Int = MaxPostings): Seq[FileScanPlan] =
    postings(indexDir, Seq(key), maxPostings) match {
      case None => statsPlans
      case Some(hits) =>
        val byFile = statsPlans.map(p => p.fileName -> p).toMap
        hits.toSeq.sortBy(_._1).flatMap { case (f, rgs) =>
          byFile.get(f).map(p => p.copy(scanRowGroups = rgs))
        }
    }

  /** COUNT(DISTINCT key) over every posting, for a key of Spark type
    * `keyType` — None when the catalog is incomplete or unreadable, was
    * built for another key type, or holds a truncated string key (distinct
    * long keys sharing a prefix collapse). Coverage is the caller's to
    * certify. */
  def distinctKeys(indexDir: String, keyType: DataType): Option[Long] =
    read(indexDir) { c =>
      val meta = PostingCatalog.meta(c)
      if (meta.keyType != keyType.catalogString || meta.truncated) None
      else Some(PostingCatalog.distinctKeys(c))
    }.flatten

  /** Data files holding any key of `keys` (a one-column DataFrame): each
    * partition of the key set queries the catalog over its own
    * connection, so only file names reach the driver, never the keys. */
  def filesContaining(indexDir: String, keys: DataFrame): Seq[String] = {
    val url = PostingCatalog.url(indexDir)
    keys.rdd
      .mapPartitions(rows => PostingCatalog.filesFor(url, rows.map(_.get(0))))
      .collect().toSeq.distinct
  }

  /** Point query through the row-level index: scan exactly the posting
    * row groups, re-apply the predicate. */
  /** Project `dataSchema` to `requiredCols` (+ `keyCol`, which the
    * re-applied predicate needs) in schema order; Nil = all columns. */
  private def requiredSchema(
      dataSchema: StructType, keyCol: String,
      requiredCols: Seq[String]): StructType =
    if (requiredCols.isEmpty) dataSchema
    else StructType(dataSchema.filter(f =>
      requiredCols.contains(f.name) || f.name == keyCol))

  def pointQuery(
      spark: SparkSession,
      dir: String,
      indexDir: String,
      statsPlans: Seq[FileScanPlan],
      dataSchema: StructType,
      keyCol: String,
      key: Any,
      requiredCols: Seq[String] = Nil): DataFrame = {
    val required = requiredSchema(dataSchema, keyCol, requiredCols)
    val plans = lookup(indexDir, key, statsPlans)
    if (plans.isEmpty)
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), required)
    else
      RowGroupSkipScan.scan(spark, dir, plans, dataSchema,
          requiredCols = required.fieldNames.toSeq)
        .filter(col(keyCol) === lit(key))
  }

  /** Raw ROW-precision postings for `keys` (OR-semantics) from a
    * `withRowNumbers=true` index: per file, the distinct (row_group,
    * within-file row_number) pairs where ANY of the keys occurs. None =
    * the index was built compact (no row numbers), or the key set is too
    * hot for the driver-side cap — callers degrade to
    * [[pointQuery]]/rg-level routing. */
  def postingsRows(
      indexDir: String,
      keys: Seq[Any],
      maxPostings: Int = MaxPostings): Option[Map[String, Seq[(Int, Long)]]] =
    PostingCatalog.withConnection(indexDir) { c =>
      if (!PostingCatalog.meta(c).rowNumbers) None
      else {
        val seen = scala.collection.mutable.LinkedHashSet.empty[(String, Int, Long)]
        val complete = PostingCatalog.forKeys(c,
            "SELECT file_name, row_group, row_num FROM postings", keys) { rs =>
          seen += ((rs.getString(1), rs.getInt(2), rs.getLong(3)))
          seen.size <= maxPostings
        }
        if (!complete) None
        else Some(seen.toSeq.groupBy(_._1)
          .view.mapValues(_.map(p => (p._2, p._3))).toMap)
      }
    }

  /** Point query at the reference sketch's ROW-NUMBER precision
    * (/root/reference/sqlx-sqlite/src/index.rs:30-35): the posting rows
    * name the exact (file, row_group, row_number) locations, the scan
    * reads ONLY the posting row groups (byte-range splits), and a
    * broadcast semi-join on the reconstructed within-file ordinal keeps
    * exactly the posting rows — selection precision is the ROW, not the
    * row group. The decode unit remains the row group (Spark's parquet
    * reader has no public sub-group seam; pushing the key predicate
    * would enable page skipping but breaks ordinal reconstruction, so
    * this path pushes nothing and [[pointQuery]] stays the page-skip
    * route when the predicate itself is pushable). The key predicate is
    * re-applied above as stale-index defense — same degrade contract as
    * [[lookup]]. Falls back to [[pointQuery]] when the index carries no
    * row numbers, the key overflows the posting cap, or the catalog
    * lacks the row counts the ordinal needs. */
  def pointQueryRows(
      spark: SparkSession,
      dir: String,
      indexDir: String,
      statsPlans: Seq[FileScanPlan],
      dataSchema: StructType,
      keyCol: String,
      key: Any,
      maxPostings: Int = MaxPostings,
      requiredCols: Seq[String] = Nil): DataFrame =
    fetchRows(spark, dir, indexDir, statsPlans, dataSchema, keyCol,
      Seq(key), maxPostings, requiredCols)

  /** Multi-key row fetch — the "gather training examples by id" shape:
    * `keyCol IN (keys...)` served at ROW precision through a
    * `withRowNumbers=true` index. Same machinery as the single-key
    * [[pointQueryRows]]: byte-range scan of only the posting row groups,
    * broadcast semi-join on the reconstructed within-file ordinal, key
    * predicate re-applied above as stale-index defense (a replayed
    * streaming batch can leave stale postings for a SAME-NAME rewritten
    * file: those only ADD candidate positions — the fresh postings are
    * complete, so true matches are never missed, and the key filter
    * drops any stale position whose current row doesn't match).
    * Degrades: no row_number column or a too-hot key set falls to
    * rg-level postings (over-scan + filter); posting overflow there
    * falls to the caller's full plans. */
  def fetchRows(
      spark: SparkSession,
      dir: String,
      indexDir: String,
      statsPlans: Seq[FileScanPlan],
      dataSchema: StructType,
      keyCol: String,
      keys: Seq[Any],
      maxPostings: Int = MaxPostings,
      requiredCols: Seq[String] = Nil): DataFrame = {
    val required = requiredSchema(dataSchema, keyCol, requiredCols)
    def empty() = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), required)
    val byFile = statsPlans.map(p => p.fileName -> p).toMap
    def fallback(): DataFrame = {
      val plans = postings(indexDir, keys, maxPostings) match {
        case None => statsPlans // over-scan, never wrong
        case Some(hits) => hits.toSeq.sortBy(_._1).flatMap { case (f, rgs) =>
          byFile.get(f).map(p => p.copy(scanRowGroups = rgs))
        }
      }
      if (plans.isEmpty) empty()
      else RowGroupSkipScan.scan(spark, dir, plans, dataSchema,
          requiredCols = required.fieldNames.toSeq)
        .filter(col(keyCol).isin(keys: _*))
    }
    postingsRows(indexDir, keys, maxPostings) match {
      case None => fallback()
      case Some(hits) if hits.isEmpty => empty()
      case Some(hits) =>
        val plans = hits.toSeq.sortBy(_._1).flatMap { case (f, prs) =>
          byFile.get(f).flatMap { p =>
            // stale-index defense, planning side: a same-name rewritten
            // file can leave postings for row groups the current file no
            // longer has. firstRowOffsets enumerates 0 until rowGroupCount,
            // so such a group would miss its offset and throw at planning —
            // drop it instead (fresh postings are complete, so no true
            // match is lost; the key filter below handles stale POSITIONS
            // inside live groups).
            val live = prs.map(_._1).filter(_ < p.rowGroupCount)
            if (live.isEmpty) None
            else Some(p.copy(scanRowGroups = SortedSet.from(live)))
          }
        }
        if (plans.isEmpty) return empty()
        val firstRow = firstRowOffsets(plans).getOrElse(return fallback())
        import spark.implicits._
        val rgMeta = graft.plans.RowGroupScan.perRowGroupMeta(plans)
        val meta = rgMeta.zipWithIndex
          .map { case ((f, rg), pid) => (pid, f, firstRow((f, rg))) }
          .toDF("__pid", "__file", "__first_row")
        val posting = hits.toSeq
          .flatMap { case (f, prs) => prs.map { case (_, rn) => (f, rn) } }
          .toDF("__pfile", "__prn")
        // ordinal reconstruction: same contract as the build — one
        // partition per row group, rows in file order, NO pushed filters
        RowGroupSkipScan.scan(spark, dir, plans, dataSchema,
            mergeRuns = false, requiredCols = required.fieldNames.toSeq)
          .withColumn("__pid", spark_partition_id())
          .withColumn("__pos", monotonically_increasing_id()
            .bitwiseAND(lit((1L << 33) - 1)))
          .join(broadcast(meta), "__pid")
          .withColumn("__rn", col("__first_row") + col("__pos"))
          .join(broadcast(posting),
            col("__file") === col("__pfile") && col("__rn") === col("__prn"),
            "leftsemi")
          .filter(col(keyCol).isin(keys: _*)) // stale-index defense
          .select(required.fieldNames.map(col).toIndexedSeq: _*)
    }
  }
}
