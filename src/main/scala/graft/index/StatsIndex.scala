package graft.index

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types._

import scala.collection.immutable.SortedSet

/** Which row groups of which file must be scanned for a predicate —
  * the Spark analog of the reference's `(file_name, ParquetAccessPlan)`
  * (/root/reference/sqlx-sqlite/src/index.rs:100-106, 417-421).
  */
final case class FileScanPlan(
    fileName: String,
    fileSizeBytes: Long,
    rowGroupCount: Int,
    scanRowGroups: SortedSet[Int],
    rowGroupRanges: Map[Int, (Long, Long)] = Map.empty,
    rowGroupRows: Map[Int, Long] = Map.empty) {

  /** Render like the reference's access-plan output: `[Skip, Scan, …]`. */
  def render: String =
    (0 until rowGroupCount)
      .map(i => if (scanRowGroups.contains(i)) "Scan" else "Skip")
      .mkString("[", ", ", "]")
}

object FileScanPlan {

  /** `plans` narrowed to the row groups `keep` names per file; a file
    * `keep` omits, or left with no row group, drops. Each side is a sound
    * over-approximation on its own, so their intersection is too. */
  def intersect(
      plans: Seq[FileScanPlan], keep: Map[String, SortedSet[Int]]): Seq[FileScanPlan] =
    plans.flatMap { p =>
      keep.get(p.fileName)
        .map(rgs => p.copy(scanRowGroups = p.scanRowGroups intersect rgs))
        .filter(_.scanRowGroups.nonEmpty)
    }

  def intersect(plans: Seq[FileScanPlan], keep: Seq[FileScanPlan]): Seq[FileScanPlan] =
    intersect(plans, keep.map(p => p.fileName -> p.scanRowGroups).toMap)
}

/** One row group's statistics for ONE column, in the catalog's storage
  * encoding (same seam as [[StatsIndex.minIndexedValue]]: Long micros for
  * timestamps, Int days for dates; string minima may be TRUNCATED — a
  * lower bound, not a value — while over-long string maxima are stored as
  * None). `min`/`max` are None when the footer had no usable stats;
  * `nullCount` None when unknown. */
final case class RowGroupStat(
    fileName: String,
    rowGroup: Int,
    min: Option[Any],
    max: Option[Any],
    rowCount: Long,
    nullCount: Option[Long],
    // VALUE-FREQUENCY shadow (optional, data-scan ingest via
    // [[StatsIndex.rebuildShadows]]): count of rows equal to the column's real
    // minimum / maximum in this row group. NULL until built. Lets the
    // lexicographic top-k walk certify a DOMINANT-value group's best
    // slice at the extreme itself instead of the whole group at its
    // weaker guarantee bound. Sound pairing with the STORED extreme
    // requires the stored value to be verbatim-exact — integrals always,
    // strings only on the max side (minima may be truncated), which is
    // exactly the rule [[graft.prune.TopKPruning.pruneLexN]] applies.
    minFreq: Option[Long] = None,
    maxFreq: Option[Long] = None,
    // min-is-exact marker (r11, string columns only): Some(true) = the
    // stored min is the VERBATIM footer minimum, Some(false) = truncated
    // to a lower bound, None = unknown (non-string column, or a catalog
    // row ingested before the marker existed). Extends the dominant-slice
    // pairing rule to string ASC: a min-side frequency may pair with the
    // stored min exactly when the marker certifies it verbatim. Maxima
    // need no marker — over-long string maxima are dropped to NULL at
    // ingest, so any stored max is verbatim by construction.
    minExact: Option[Boolean] = None,
    // per-row-group SUM shadow (r11, integral columns only, data-scan
    // ingest via [[StatsIndex.rebuildShadows]]): the exact sum of the column's
    // non-null values in this row group — 0 for an all-null group (the
    // additive identity; SUM's NULL-on-empty is decided from the null
    // counts), None until built or when the group's sum overflows Long.
    // Lets catalog-answered GROUP BY serve SUM aggregates as sums of
    // per-group row-group sums.
    sumVal: Option[Long] = None)

/** One sort key of a lexicographic top-k: column, direction, null order
  * (mirrors Catalyst's `SortOrder` in catalog terms). `image` (r11) makes
  * this a COMPUTED key — sort on `image(col)` rather than `col` — whose
  * per-row-group stats are derived from the column's through the
  * monotone [[KeyImage]] (min ↦ image(min), max ↦ image(max), null count
  * unchanged). */
final case class SortKeySpec(col: String, desc: Boolean, nullsFirst: Boolean,
    image: Option[KeyImage] = None)

/** External secondary index over a directory of parquet files: per-file and
  * per-row-group min/max/null-count statistics held in an out-of-band
  * catalog store, consulted at planning time to prune files and row groups
  * before the scan runs (/root/reference/sqlx-sqlite/src/index.rs:37-53).
  */
trait StatsIndex extends AutoCloseable {
  /** Idempotent DDL for the given indexed-column subset. */
  def initialize(indexedSchema: StructType): Unit

  /** Transactional upsert of one file's footer statistics (idempotent
    * re-index of a changed file, `index.rs:242-329`). */
  def addFile(stats: FileStats): Unit

  /** Distributed ingest: upsert every file's stats WITHOUT materializing
    * them all on the driver (the 100 TB path — millions of footers must
    * not funnel through one collect + one serial connection). The default
    * streams partition-at-a-time through the driver; implementations
    * should override with executor-side writes. Per-file transactional
    * upsert semantics are preserved either way. */
  def ingestAll(stats: org.apache.spark.rdd.RDD[FileStats]): Unit =
    stats.toLocalIterator.foreach(addFile)

  /** Drop index rows for files no longer present in the table directory —
    * completes the idempotent re-index story (the reference's upsert handles
    * changed files; deleted files need explicit retention). */
  def retainOnly(fileNames: Set[String]): Unit

  /** Drop index rows for SPECIFIC files — the O(removed) counterpart of
    * [[retainOnly]]'s O(catalog) sweep, for callers that already know
    * exactly which files are gone (e.g. a streaming sink replacing a
    * failed batch attempt's parts). Unknown names are a no-op. */
  def removeFiles(fileNames: Set[String]): Unit

  /** Core pruning call: data-space predicate → surviving files with their
    * row-group scan sets (`index.rs:102-176`). TRUE ⇒ everything. */
  def getFiles(predicate: Expression): Seq[FileScanPlan]

  /** All indexed files (for sizeInBytes / inputFiles / no-predicate scans). */
  def allFiles(): Seq[FileScanPlan]

  /** Cheap catalog cardinalities — (file count, row-group count) as two
    * COUNT(*) queries, O(1) transfer — for planner observability
    * (pruned/total ratios) where fetching [[allFiles]]' full plan rows
    * would itself be the O(catalog) walk the caller is avoiding. None on
    * store failure; the default derives from allFiles (correct, not
    * scaled). */
  def catalogCounts(): Option[(Long, Long)] = {
    val all = allFiles()
    Some((all.size.toLong, all.map(_.rowGroupCount.toLong).sum))
  }

  /** Every indexed file NAME — O(#files) strings, never the O(#row
    * groups) plan rows [[allFiles]] materializes. The cheap input for
    * coverage/provenance checks (does the catalog hold exactly these
    * files?) where the caller needs names, not scan plans. None on store
    * failure; the default derives from allFiles (correct, not scaled). */
  def fileNames(): Option[Seq[String]] =
    Some(allFiles().map(_.fileName))

  /** Scan plans for an EXPLICIT file-name set — the name filter runs
    * catalog-side, so the transfer is O(requested files' row groups),
    * never the full catalog. Unknown names are simply absent from the
    * result (same contract as [[removeFiles]]). The seam snapshot reads
    * (time travel) and O(new files) maintenance passes use instead of
    * `allFiles().filter(...)`. */
  def filesNamed(names: Set[String]): Seq[FileScanPlan] =
    if (names.isEmpty) Seq.empty
    else allFiles().filter(p => names.contains(p.fileName))

  /** Every row group's (min, max, row count, null count) for one indexed
    * column — O(index) rows, the raw material for planner-side pruning
    * strategies beyond predicate rewrite (e.g. top-k pruning). None =
    * the catalog cannot serve the column (unindexed type, query failure);
    * callers must then skip the optimization, never guess. */
  def rowGroupStats(colName: String): Option[Seq[RowGroupStat]] = None

  /** [[rowGroupStats]] restricted to the given FILES — the O(survivors)
    * face for planner passes that refine an already-pruned plan set
    * (PartPrune): at catalog scale (millions of row groups) fetching the
    * whole column's stats to refine a handful of surviving groups is the
    * walk that stops being O(index-slice). Implementations should push
    * the restriction into the store; the default filters the full fetch
    * (correct, not scaled). Empty `files` ⇒ Some(Nil). */
  def rowGroupStatsFor(
      colName: String, files: Set[String]): Option[Seq[RowGroupStat]] =
    if (files.isEmpty) Some(Nil)
    else rowGroupStats(colName).map(_.filter(s => files.contains(s.fileName)))

  /** Catalog-computed `ORDER BY colName LIMIT k` survivors: the plans for
    * just the row groups that might hold a top-k row, with the threshold
    * discovery AND the survivor filter both evaluated inside the catalog —
    * O(survivors) transfer to the planner instead of [[rowGroupStats]]'
    * O(index). `lo`/`hi` ((value, inclusive), catalog storage encoding)
    * restrict the THRESHOLD certificate to row groups lying wholly inside
    * the window — the filtered-top-k shape; survivors are then still the
    * threshold-beating groups (callers intersect with the filter's own
    * stats pruning). Semantics must match the one-key case of the
    * planner's one N-key walk ([[graft.prune.TopKPruning.pruneLexN]] /
    * [[graft.prune.TopKPruning.pruneDisjunctiveLex]]) exactly — the
    * reference implementation and the fallback, which itself asks only
    * [[topKSurvivorsLexN]] / [[topKSurvivorsDisjunctiveLexN]]. None = the
    * catalog cannot serve or certify (unsupported type, guarantees never
    * cover k, query failure) — the caller falls back to planner-side
    * pruning. */
  def topKSurvivors(
      colName: String,
      k: Long,
      descending: Boolean,
      nullsFirst: Boolean,
      lo: Option[(Any, Boolean)] = None,
      hi: Option[(Any, Boolean)] = None): Option[Seq[FileScanPlan]] = None

  /** Catalog-computed COMPOSITE filtered top-k survivors — the in-store
    * face of [[graft.prune.TopKPruning.pruneComposite]]: the threshold
    * certificate additionally requires every `others` column's stats to
    * certify the group ALL-PASS (zero nulls; stored min/max inside that
    * column's bound interval), and survivors are the groups that may
    * still hold a top-k row (callers intersect with the filter's own
    * stats pruning, exactly like the windowed [[topKSurvivors]]).
    * Semantics must match the planner's one N-key walk at one key and
    * one disjunct exactly. None = cannot serve/certify → planner-side
    * fallback. */
  def topKSurvivorsComposite(
      colName: String,
      k: Long,
      descending: Boolean,
      nullsFirst: Boolean,
      lo: Option[(Any, Boolean)],
      hi: Option[(Any, Boolean)],
      others: Seq[graft.prune.TopKPruning.OtherColBounds])
      : Option[Seq[FileScanPlan]] = None

  /** Catalog-computed DISJUNCTIVE filtered top-k survivors — the in-store
    * face of [[graft.prune.TopKPruning.pruneDisjunctive]]: a row group's
    * count certifies the threshold iff SOME disjunct's sort interval and
    * other-column all-pass bounds are both satisfied by the group's
    * stats. Semantics must match the planner's one N-key walk at one
    * key exactly ([[graft.prune.TopKPruning.pruneDisjunctiveLex]]). None
    * = cannot serve/certify → planner-side fallback. */
  def topKSurvivorsDisjunctive(
      colName: String,
      k: Long,
      descending: Boolean,
      nullsFirst: Boolean,
      disjuncts: Seq[graft.prune.TopKPruning.Disjunct])
      : Option[Seq[FileScanPlan]] = None

  /** Catalog-computed N-KEY lexicographic top-k survivors — the
    * in-store face of [[graft.prune.TopKPruning.pruneLexN]]'s tuple
    * pass: the threshold walk accumulates per-group guarantee TUPLES
    * (the leading guarantee extended by every consecutively-certified
    * deeper key's bound, −∞ below the certified prefix; second-key-null
    * remainders under nulls-last split into a disjoint leading-only
    * candidate) and the survivor query prunes ties by recursive descent
    * through the keys' best values. Returns the tuple survivors ONLY —
    * the caller intersects with the (N−1)-prefix pruning exactly like
    * the planner path. Semantics must match `pruneLexN`'s planner-side
    * algorithm exactly. None = cannot serve/certify → planner-side
    * fallback. */
  def topKSurvivorsLexN(
      keys: Seq[SortKeySpec], k: Long): Option[Seq[FileScanPlan]] = None

  /** Catalog-computed FILTERED N-key lexicographic top-k survivors — the
    * in-store face of [[graft.prune.TopKPruning.pruneDisjunctiveLex]]:
    * the tuple walk of [[topKSurvivorsLexN]], gated by the disjunctive
    * all-pass certificate of [[topKSurvivorsDisjunctive]] (a group emits
    * candidates only when certified for SOME disjunct), with the
    * survivor tie descent null-aware per that certificate. Returns the
    * keep-set only; the caller intersects with the filter's stats plans
    * and the (N−1)-prefix pruning. Semantics must match
    * `pruneDisjunctiveLex`'s planner-side algorithm exactly. None =
    * cannot serve/certify → planner-side fallback. */
  def topKSurvivorsDisjunctiveLexN(
      keys: Seq[SortKeySpec],
      disjuncts: Seq[graft.prune.TopKPruning.Disjunct],
      k: Long): Option[Seq[FileScanPlan]] = None

  /** Columns carrying per-row-group bloom filters in this catalog; empty =
    * no bloom support. Implementations with blooms override (a constructor
    * `val bloomCols` satisfies this directly). */
  def bloomCols: Set[String] = Set.empty

  /** Rebuild per-row-group blooms for JUST the given plans' files — the
    * O(changed files) maintenance hook: compaction and the streaming sink
    * call it after ingesting new files' footer stats, so bloom pruning
    * stays effective on a table whose file set changes instead of
    * degrading to "might match" on every new file. [[rebuildLedgers]]
    * with `blooms` set. */
  def rebuildBlooms(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      plans: Seq[FileScanPlan],
      dataSchema: StructType): Unit =
    rebuildLedgers(spark, dir, plans, dataSchema, blooms = true)

  /** Rebuild the optional value-frequency / sum shadow ledgers for JUST
    * the given plans' files — the O(changed files) counterpart of
    * [[rebuildBlooms]] (r11): the streaming sink calls it after
    * ingesting a batch's footer stats so catalog certificates that
    * depend on the shadows (dominant-slice top-k, SUM folds) stay
    * SERVED on a growing table instead of declining on the unshadowed
    * tail. Columns absent from `dataSchema` or of unsupported types are
    * skipped — their shadows stay NULL, which only declines the
    * certificates (sound). [[rebuildLedgers]] for the two families. */
  def rebuildShadows(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      plans: Seq[FileScanPlan],
      dataSchema: StructType,
      freqCols: Seq[String],
      sumCols: Seq[String]): Unit =
    rebuildLedgers(spark, dir, plans, dataSchema, freqCols = freqCols, sumCols = sumCols)

  /** Rebuild the per-row-group HYPERLOGLOG ledgers for JUST the given
    * plans' files — the distinct-count member of the shadow family
    * (r15, [[HllShadow]]): one register array per (row group, column),
    * merged at PLANNING time by [[approxDistinct]]. Same O(changed
    * files) maintenance contract as [[rebuildBlooms]]/[[rebuildShadows]];
    * columns absent from `dataSchema` or unsupported are skipped (their
    * sketches stay NULL, which only declines the estimate — sound).
    * [[rebuildLedgers]] for the one family. */
  def rebuildHll(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      plans: Seq[FileScanPlan],
      dataSchema: StructType,
      hllCols: Seq[String]): Unit =
    rebuildLedgers(spark, dir, plans, dataSchema, hllCols = hllCols)

  /** Rebuild the per-row-group QUANTILE ledgers for JUST the given
    * plans' files — the order-statistics member of the shadow family
    * (r15, [[QuantileShadow]]): one K-point equi-depth summary per
    * (row group, column), merged at PLANNING time by
    * [[approxQuantiles]]. Same O(changed files) maintenance contract as
    * the other shadows; unsupported/absent columns are skipped (their
    * summaries stay NULL, which only declines the estimate — sound).
    * [[rebuildLedgers]] for the one family. */
  def rebuildQuantiles(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      plans: Seq[FileScanPlan],
      dataSchema: StructType,
      quantileCols: Seq[String]): Unit =
    rebuildLedgers(spark, dir, plans, dataSchema, quantileCols = quantileCols)

  /** Catalog-side APPROXIMATE quantiles of an indexed numeric column
    * (non-null, non-NaN values) from the [[QuantileShadow]] ledger —
    * one weighted merge over the selected row groups' summaries,
    * O(selection × 520 B) transfer, ZERO data jobs; rank error bounded
    * by N/(2K) ≈ 0.78 % of the selected population. `plans` restricts
    * to a row-group subset with the same slice semantics as
    * [[approxDistinct]] (every row OF THOSE GROUPS counts); None = the
    * whole catalog. Returns None unless EVERY selected row group
    * carries a summary (fail closed, never guess) or when the merged
    * population is empty (a quantile of zero rows is undefined). NEVER
    * substituted for an exact aggregate in a plan rewrite — explicit
    * API capability, like [[approxDistinct]]. */
  def approxQuantiles(
      colName: String,
      qs: Seq[Double],
      plans: Option[Seq[FileScanPlan]] = None): Option[Seq[Double]] = None

  /** Rebuild the per-row-group COUNT-MIN ledgers for JUST the given
    * plans' files — the point-frequency member of the shadow family
    * (r15, [[CmsShadow]]). Same O(changed files) maintenance contract;
    * unsupported/absent columns are skipped (sound decline).
    * [[rebuildLedgers]] for the one family. */
  def rebuildCms(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      plans: Seq[FileScanPlan],
      dataSchema: StructType,
      cmsCols: Seq[String]): Unit =
    rebuildLedgers(spark, dir, plans, dataSchema, cmsCols = cmsCols)

  /** Rebuild EVERY requested per-row-group ledger for JUST the given
    * plans' files in one data pass ([[graft.index.LedgerBuild]]) — the
    * hook every per-family `rebuild*` above calls, and the one the
    * streaming sink's per-batch commit and compaction's re-attach use.
    * `blooms` additionally rebuilds every [[bloomCols]] column's blooms
    * in the same pass. Default: no-op (no ledgers). */
  def rebuildLedgers(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      plans: Seq[FileScanPlan],
      dataSchema: StructType,
      freqCols: Seq[String] = Nil,
      sumCols: Seq[String] = Nil,
      hllCols: Seq[String] = Nil,
      quantileCols: Seq[String] = Nil,
      cmsCols: Seq[String] = Nil,
      blooms: Boolean = false): Unit = ()

  /** Catalog-side APPROXIMATE frequency of ONE value of an indexed
    * column — "how many rows equal v" — from the [[CmsShadow]] ledger:
    * one cell-wise merge over the selected row groups' counter tables,
    * O(selection × 16 KB) transfer, ZERO data jobs. Guarantees per the
    * sketch: the estimate never undercounts, and overcounts by ≤ ε·N of
    * the selected population w.h.p. (ε = 2/width ≈ 0.2 %). `value` is an
    * EXTERNAL (driver-side) value of the column's type; NULL is not a
    * frequency (COUNT semantics) and must not be passed. `plans`
    * restricts to a row-group subset with [[approxDistinct]]'s slice
    * semantics; None = whole catalog. Returns None unless EVERY selected
    * group carries a table (fail closed); empty selection ⇒ Some(0).
    * NEVER substituted for an exact aggregate in a plan rewrite. */
  def approxFrequency(
      colName: String,
      value: Any,
      plans: Option[Seq[FileScanPlan]] = None): Option[Long] = None

  /** Catalog-side APPROXIMATE distinct-value count of an indexed column
    * (non-null values, like COUNT(DISTINCT)) from the [[HllShadow]]
    * ledger — one merge over the selected row groups' register arrays,
    * O(selection × 2 KB) transfer, ZERO data jobs. `plans` restricts the
    * estimate to a row-group SUBSET (e.g. the survivors of a stats-pruned
    * time slice — note the estimate then covers every row OF THOSE
    * GROUPS, including rows a re-applied filter would drop: it is the
    * planning-grade "NDV of the slice's groups", not of the filtered
    * rows); None = the whole catalog. Returns None unless EVERY selected
    * row group carries a sketch (an unknown group can hide any number of
    * distinct values — fail closed, never guess); empty selection ⇒
    * Some(0). NEVER substituted for an exact aggregate in a plan rewrite
    * — this is an explicit API capability, rse ≈ 2.3% at m = 2048. */
  def approxDistinct(
      colName: String,
      plans: Option[Seq[FileScanPlan]] = None): Option[Long] = None

  /** Catalog-side scalar: the EXACT global minimum value of an indexed
    * column, computed as MIN over the per-row-group minima already in the
    * catalog — ONE O(index) round trip that never touches data.
    *
    * Returns None whenever exactness cannot be certified, specifically:
    *  - any row group stores a NULL `{col}_min` while possibly containing
    *    non-null values (footer lacked usable stats; SQL MIN would silently
    *    skip it and the result could exceed the true minimum) — all-null
    *    row groups (`null_count = row_count`) are fine;
    *  - the stored minimum may be truncated (string/binary at the
    *    catalog's max width is only a lower BOUND, not a value);
    *  - the catalog holds no non-NULL stats for the column; or
    *  - the catalog query fails (conservative "unknown").
    *
    * Encoding seam: the value is returned in the CATALOG's storage
    * encoding, which mirrors Catalyst internals — Long microseconds for
    * timestamps, Int days for dates, raw bytes for binary — so callers
    * pushing it back into data-space comparisons must decode accordingly
    * (strings and integrals are identity). */
  def minIndexedValue(colName: String): Option[Any] = None

  /** Catalog-side scalar: the EXACT global maximum of an indexed column —
    * the mirror of [[minIndexedValue]], same O(index) single-round-trip
    * contract and the same conservative None. The truncation story differs
    * by construction: over-long string/binary maxima are stored as NULL
    * (a truncated max would be a LOWER bound, i.e. unsound), so any stored
    * max is a verbatim value and the NULL-max guard alone certifies
    * exactness (a NULL-max row group that may hold non-null values ⇒
    * None). Same encoding seam as [[minIndexedValue]]. */
  def maxIndexedValue(colName: String): Option[Any] = None

  /** Catalog-side scalar: the exact total row count of the indexed table —
    * SUM of per-row-group footer counts, one O(index) round trip. Footer
    * row counts are always exact, and the relation's file listing IS the
    * catalog (allFiles), so this equals what a full scan would count.
    * Empty catalog ⇒ Some(0) (a scan of zero files counts zero rows);
    * None only on catalog failure. */
  def totalRowCount(): Option[Long] = None

  /** Catalog-side scalar: the exact NON-NULL row count of an indexed
    * column (what `COUNT(col)` returns). Certified only when every row
    * group stores a non-NULL `{col}_null_count`; a single unknown null
    * count ⇒ None. */
  def nonNullCount(colName: String): Option[Long] = None

  /** Catalog-side scalar (r11): the exact SUM of an indexed integral
    * column's non-null values plus their count, from the
    * [[SumShadow]] ledger — one O(index) round trip. Certified only
    * when EVERY row group stores a non-NULL `{col}_sum` (built and not
    * overflowed) and a non-NULL `{col}_null_count` (the count decides
    * SUM's NULL-on-empty semantics); overflow while merging ⇒ None.
    * Empty catalog ⇒ Some((0, 0)) — a scan would sum zero rows. */
  def totalSum(colName: String): Option[(Long, Long)] = None

  def indexedSchema: StructType
}
