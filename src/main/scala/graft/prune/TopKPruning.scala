package graft.prune

import graft.index.{FileScanPlan, RowGroupStat, SortKeySpec, StatsIndex}
import org.apache.spark.sql.types._

/** Catalog-side TOP-K pruning: for `ORDER BY c LIMIT k`, row groups that
  * provably cannot contribute to the top k are skipped at planning time —
  * O(index) work that, on a time-clustered 100 TB table, turns "sort the
  * table" into "read the newest few row groups, then sort those".
  *
  * The reference's index answers only predicate pruning
  * (/root/reference/sqlx-sqlite/src/index.rs:102-176); this extends the
  * same per-row-group stats to ordering queries, the way its "other
  * indexes can be added" note anticipates (index.rs:30-35).
  *
  * Soundness argument (descending case; ascending is the mirror):
  *  - every row group with a stored minimum `m` and a certified null count
  *    guarantees `rowCount - nullCount` non-null rows with value >= m —
  *    for strings this holds even for TRUNCATED stored minima, which are
  *    lower bounds (rows >= real min >= stored min);
  *  - walk row groups by stored min descending, accumulating those
  *    guarantees until they cover k rows; the last min walked is the
  *    threshold T: the table provably holds >= k non-null rows >= T;
  *  - a row group whose stored max is < T can contribute nothing (stored
  *    maxima are verbatim, never truncated — over-long ones are stored as
  *    unknown and keep the group). Groups with unknown bounds are kept.
  *  - nulls: when they sort LAST (Spark's default for DESC) they lose to
  *    the k guaranteed rows, so certified all-null groups are pruned too;
  *    when they sort FIRST (`nullsFirst = true`, Spark's ASC default) any
  *    group that may hold a null must be kept.
  *
  * If the guarantees never cover k rows (tiny table, uncertified stats),
  * the full plan set comes back unchanged — over-scan, never wrong.
  *
  * ONE walk: every face below — [[prune]], [[pruneFiltered]],
  * [[pruneComposite]], [[pruneDisjunctive]], [[pruneLex2]],
  * [[pruneLexN]], [[pruneDisjunctiveLex]] — is one call into the N-key
  * body, whose one-key case is the argument above. The catalog is reached
  * only through its two lex fast paths
  * ([[StatsIndex.topKSurvivorsLexN]],
  * [[StatsIndex.topKSurvivorsDisjunctiveLexN]]), the in-store face of
  * that same walk; the body is the reference and the fallback.
  */
object TopKPruning {

  /** Orderings certified for catalog storage encodings (the seam
    * documented on [[StatsIndex.minIndexedValue]]) — also the aggregate
    * folds' certified-order gate: integrals, date days and timestamp
    * micros compare as long; decimals as BigDecimal; strings by Unicode CODE POINT — the order of
    * their UTF-8 bytes, which is what Spark's UTF8String sort uses (Java's
    * String.compareTo is UTF-16 code-UNIT order and disagrees above
    * U+E000, so it would mis-prune). */
  private[graft] def ordering(dt: DataType): Option[Ordering[Any]] = dt match {
    case ByteType | ShortType | IntegerType | LongType | DateType |
         TimestampType | TimestampNTZType =>
      Some(Ordering.by((v: Any) => v.asInstanceOf[Number].longValue))
    // float/double are NOT certified: parquet FP footer stats carry NaN /
    // signed-zero comparator hazards (a group's stored max can be 5.0
    // while it holds NaN, which Spark sorts greatest) — pruning on them
    // could drop the true top row.
    case FloatType | DoubleType => None
    case _: DecimalType =>
      Some(Ordering.comparatorToOrdering(
        java.util.Comparator.comparing((v: Any) =>
          v.asInstanceOf[java.math.BigDecimal])))
    case StringType => Some(codePointOrdering)
    case _ => None
  }

  /** FILTERED top-k pruning — `WHERE c [>= lo] [<= hi] ORDER BY c LIMIT k`,
    * the time-window-latest-k shape: the one-disjunct case of
    * [[pruneDisjunctive]] with bounds on the SORT column only. A row group
    * lying WHOLLY inside the interval (certified stored min ≥ lo and
    * stored max ≤ hi; truncated string minima are lower bounds, so
    * `stored ≥ lo ⇒ real ≥ lo` stays sound) contributes its full non-null
    * row count to the threshold guarantee. Null ordering is irrelevant: a
    * comparison filter on `c` never passes nulls, so certified all-null
    * groups are pruned outright. */
  def pruneFiltered(
      index: StatsIndex,
      colName: String,
      k: Long,
      descending: Boolean,
      lo: Option[(Any, Boolean)],
      hi: Option[(Any, Boolean)],
      statsPlans: Seq[FileScanPlan]): Seq[FileScanPlan] =
    pruneDisjunctive(index, colName, k, descending, nullsFirst = false,
      Seq(Disjunct(lo, hi, Nil)), statsPlans)

  /** Bounds on one NON-sort indexed column of a composite filtered top-k
    * (`None`/`None` = a bare IsNotNull conjunct: no value bounds, but rows
    * must be non-null in the column). */
  final case class OtherColBounds(
      col: String,
      lo: Option[(Any, Boolean)],
      hi: Option[(Any, Boolean)])

  /** COMPOSITE filtered top-k pruning — `WHERE <conjuncts over several
    * indexed columns> ORDER BY c LIMIT k`, e.g. the per-source-latest-k
    * shape `WHERE src = 'web' ORDER BY ts DESC LIMIT k`: the one-disjunct
    * case of [[pruneDisjunctive]]. A row group contributes its
    * non-null-in-`c` row count iff EVERY conjunct is certified ALL-PASS
    * for it — sort-column bounds as in [[pruneFiltered]]; other-column
    * bounds need [[allPass]] (stored bounds inside the interval AND a
    * certified null count of 0: a null row fails any comparison, and a
    * bare IsNotNull). On a layout where the filter columns aren't
    * clustered no group certifies and the declarative plan stands. */
  def pruneComposite(
      index: StatsIndex,
      colName: String,
      k: Long,
      descending: Boolean,
      nullsFirst: Boolean,
      sortLo: Option[(Any, Boolean)],
      sortHi: Option[(Any, Boolean)],
      others: Seq[OtherColBounds],
      statsPlans: Seq[FileScanPlan]): Seq[FileScanPlan] =
    pruneDisjunctive(index, colName, k, descending, nullsFirst,
      Seq(Disjunct(sortLo, sortHi, others)), statsPlans)

  /** One disjunct of a DISJUNCTIVE filtered top-k (`WHERE D1 OR D2 …
    * ORDER BY c LIMIT k`): its own sort-column interval plus its own
    * other-column all-pass bounds. An IN-list is the canonical producer —
    * `src IN ('a','b')` becomes one point-interval disjunct per value. */
  final case class Disjunct(
      sortLo: Option[(Any, Boolean)],
      sortHi: Option[(Any, Boolean)],
      others: Seq[OtherColBounds])

  /** DISJUNCTIVE filtered top-k pruning — `WHERE <OR of conjunct sets>
    * ORDER BY c LIMIT k`, e.g. the per-source-IN-latest-k shape
    * `WHERE src IN ('web','app') ORDER BY ts DESC LIMIT k`: the one-key
    * case of [[pruneDisjunctiveLex]]. The [[pruneComposite]] certificate
    * generalizes per DISJUNCT: a row group contributes its
    * non-null-in-`c` row count to the threshold iff it is certified
    * ALL-PASS for SOME disjunct — every row passing that disjunct passes
    * the whole OR, so the counted rows all survive the filter and the
    * accumulated threshold stays sound. Survivors are `statsPlans` (the
    * filter's own stats pruning, which handles the OR conservatively on
    * its own) minus groups whose best sort value is strictly worse than
    * the threshold. Sort-column nulls may win only under `nullsFirst` AND
    * some disjunct placing no bound on the sort column (a comparison
    * rejects nulls, so a sort-bounded disjunct cannot pass them);
    * certified all-null groups are pruned otherwise. Degrades to
    * `statsPlans` unchanged whenever no per-disjunct certification covers
    * k — over-scan, never wrong. */
  def pruneDisjunctive(
      index: StatsIndex,
      colName: String,
      k: Long,
      descending: Boolean,
      nullsFirst: Boolean,
      disjuncts: Seq[Disjunct],
      statsPlans: Seq[FileScanPlan]): Seq[FileScanPlan] =
    pruneDisjunctiveLex(index, Seq(SortKeySpec(colName, descending, nullsFirst)),
      k, disjuncts, statsPlans)

  /** The per-row-group ALL-PASS test for one column's `(lo, hi)` interval
    * (`(value, inclusive)`, catalog storage encoding): a certified zero
    * null count (a null fails any comparison) and stored bounds inside
    * the interval ([[inBounds]]). Serves the filtered top-k certificate
    * and the aggregate fold's vacuous-filter check
    * ([[graft.plans.StatsAggPushdown]]). */
  private[graft] def allPass(ord: Ordering[Any], s: RowGroupStat,
      lo: Option[(Any, Boolean)], hi: Option[(Any, Boolean)]): Boolean =
    s.nullCount.contains(0L) && inBounds(ord, s, lo, hi)

  /** The stored bounds sit inside `(lo, hi)`: stored min ≥ lo (a
    * truncated string minimum is a lower bound, so `stored ≥ lo ⇒ real ≥
    * lo` stays sound) and stored max ≤ hi (maxima are verbatim; over-long
    * ones are stored as unknown and fail). An absent side always holds. */
  private def inBounds(ord: Ordering[Any], s: RowGroupStat,
      lo: Option[(Any, Boolean)], hi: Option[(Any, Boolean)]): Boolean =
    lo.forall { case (b, inc) =>
      s.min.exists(v => if (inc) ord.gteq(v, b) else ord.gt(v, b)) } &&
      hi.forall { case (b, inc) =>
        s.max.exists(v => if (inc) ord.lteq(v, b) else ord.lt(v, b)) }

  /** Per-query memo over a [[StatsIndex]]: the planner-fallback prefix
    * recursion intersects every shorter prefix, re-reading the same
    * per-column stats (and file listing) at every depth without this —
    * O(N²) whole-index fetches for an N-key order. It forwards the reads
    * the N-key body makes (the two lex fast paths included) and never
    * rebuilds a ledger. */
  private final class MemoStatsIndex(u: StatsIndex) extends StatsIndex {
    private val statsMemo =
      scala.collection.mutable.HashMap.empty[String, Option[Seq[RowGroupStat]]]
    private lazy val allMemo = u.allFiles()
    override def rowGroupStats(c: String): Option[Seq[RowGroupStat]] =
      statsMemo.getOrElseUpdate(c, u.rowGroupStats(c))
    override def allFiles(): Seq[FileScanPlan] = allMemo
    def initialize(s: org.apache.spark.sql.types.StructType): Unit = u.initialize(s)
    def addFile(st: graft.index.FileStats): Unit = u.addFile(st)
    def retainOnly(f: Set[String]): Unit = u.retainOnly(f)
    def removeFiles(f: Set[String]): Unit = u.removeFiles(f)
    def getFiles(p: org.apache.spark.sql.catalyst.expressions.Expression) =
      u.getFiles(p)
    def indexedSchema: org.apache.spark.sql.types.StructType = u.indexedSchema
    override def topKSurvivorsLexN(keys: Seq[SortKeySpec], k: Long) =
      u.topKSurvivorsLexN(keys, k)
    override def topKSurvivorsDisjunctiveLexN(
        keys: Seq[SortKeySpec], ds: Seq[Disjunct], k: Long) =
      u.topKSurvivorsDisjunctiveLexN(keys, ds, k)
    def close(): Unit = u.close()
  }

  private def memo(index: StatsIndex): StatsIndex = index match {
    case m: MemoStatsIndex => m
    case other => new MemoStatsIndex(other)
  }

  /** N-KEY lexicographic top-k pruning — `ORDER BY k1 [DESC], k2, …
    * LIMIT k` over tie-heavy leading keys, where shorter-prefix pruning
    * over-scans: with many groups tied on the leading keys, every one of
    * them is kept even though a DEEPER key already separates them. The
    * threshold generalizes to a lexicographic TUPLE, and EVERY group
    * certifies one over its consecutively-certified key prefix (r10 — no
    * constant-leading-key requirement): a row counted by the group either
    * beats the guarantee tuple strictly at some level (whatever its
    * deeper values), or ties every level down to one where its own value
    * is bounded by the group's stats — so the group's counted rows are
    * ≥lex (g1, g2, …, gp, −∞, …) where gi is the group's own bound for
    * key i and p is the longest prefix with known bounds + null counts.
    * Near-constant groups (leading min ≠ max — band boundaries on a
    * clustered layout) certify full tuples too. Truncated string minima
    * stay sound: a stored lower bound only weakens the guarantee.
    * Counted rows exclude leading-key nulls always; rows null at a
    * nulls-LAST deeper key within the prefix lose ties there, so their
    * count (conservatively, the sum of those levels' null counts) SPLITS
    * into a disjoint (g1, −∞, …) candidate; nulls-first nulls win their
    * ties and count with the tuple. When the [[graft.index.FreqShadow]]
    * is built, a third disjoint candidate certifies the group's
    * DOMINANT slice — the rows AT the leading key's stored best value —
    * at (best, g2, …) itself, lifting near-constant groups whose
    * guarantee bound is far below where most of their rows sit (only
    * where the stored extreme is verbatim-exact: integrals always,
    * strings on the max side by construction, string minima per group
    * when the r11 min-is-exact marker certifies them untruncated).
    * Walk tuples best-first, accumulate to k; survivors must have best
    * tuple not strictly lex-worse than the threshold, decided by
    * recursive descent: strictly worse at a level prunes, a tie descends
    * (certified all-null keys lose their tie under nulls-last; possible
    * nulls win it under nulls-first). The result is INTERSECTED with the
    * (N−1)-prefix pruning — recursively, down to the one-key walk — so
    * each added key can only narrow the plan set. Degrades to the longest
    * usable prefix when a deeper key's ordering is uncertified or its
    * stats are unavailable. */
  def pruneLexN(
      index: StatsIndex, keys: Seq[SortKeySpec], k: Long): Seq[FileScanPlan] =
    pruneLexImpl(memo(index), keys, k, None)

  /** FILTERED N-key lexicographic top-k — the composition of the
    * disjunctive/composite filter certificate with the tuple threshold:
    * `WHERE <OR of conjunct sets> ORDER BY k1, k2, … LIMIT k`. Only row
    * groups certified ALL-PASS for SOME disjunct (sort interval on the
    * stored bounds + every other filter column [[allPass]]) contribute
    * walk candidates, but each contributes its full TUPLE guarantee (with
    * the nulls-last split and the FreqShadow dominant slice), so groups
    * tied on the leading sort key inside the filter window are separated
    * by the deeper keys. Survivors come from `statsPlans` via the
    * recursive tie descent; sort-column nulls may win only under
    * nulls-first AND a disjunct placing no sort bound. The result
    * intersects the (N−1)-prefix filtered pruning recursively down to
    * the one-key walk ([[pruneDisjunctive]]), so each added key only
    * narrows. No disjunct, or no stats plan, leaves `statsPlans`. */
  def pruneDisjunctiveLex(
      index: StatsIndex, keys: Seq[SortKeySpec], k: Long,
      disjuncts: Seq[Disjunct],
      statsPlans: Seq[FileScanPlan]): Seq[FileScanPlan] =
    if (disjuncts.isEmpty || statsPlans.isEmpty) statsPlans
    else pruneLexImpl(memo(index), keys, k, Some((disjuncts, statsPlans)))

  /** The ONE planner-side top-k walk: every face above — one key or N,
    * plain or image, filtered or not — lands here, and the catalog is
    * reached only through its two lex fast paths. At N = 1 the tuple is
    * the plain guarantee bound, the deeper-key split and the dominant
    * slice vanish, and the tie descent bottoms out at "ties keep". */
  private def pruneLexImpl(
      index: StatsIndex, keys: Seq[SortKeySpec], k: Long,
      filter: Option[(Seq[Disjunct], Seq[FileScanPlan])]): Seq[FileScanPlan] = {
    require(keys.nonEmpty, "lexicographic top-k needs at least one sort key")
    require(k > 0, s"top-k needs k > 0, got $k")
    val head = keys.head
    val n = keys.size
    // the universe: the filter's stats plans, else every live plan
    lazy val universe: Seq[FileScanPlan] =
      filter.map(_._2).getOrElse(index.allFiles())
    // what every result narrows and every degrade returns: the (N−1)-prefix
    // pruning (itself inside the universe), the universe at one key. Once
    // a shorter prefix is catalog-served, no whole-catalog listing is needed.
    lazy val shorterPlans =
      if (n == 1) universe
      else filter match {
        case Some((ds, sp)) => pruneDisjunctiveLex(index, keys.init, k, ds, sp)
        case None           => pruneLexN(index, keys.init, k)
      }
    // orderings per key (an IMAGE key orders by its result type, and its
    // declared input type must match the indexed column's — else the
    // derived stats would be nonsense); an uncertified key truncates to
    // the prefix
    val ords: IndexedSeq[Ordering[Any]] = keys.toIndexedSeq.zipWithIndex.map {
      case (key, i) =>
        val fieldType =
          index.indexedSchema.fields.find(_.name == key.col).map(_.dataType)
        val keyType = (fieldType, key.image) match {
          case (Some(ft), Some(img)) if img.acceptsInput(ft) => Some(img.resultType)
          case (Some(ft), None)                              => Some(ft)
          case _                                             => None
        }
        keyType.flatMap(ordering) match {
          case Some(o) => o
          case None =>
            return if (i == 0) universe
            else pruneLexImpl(index, keys.take(i), k, filter)
        }
    }
    // sort-order comparator at level i: smaller = earlier in the output
    def cmpAt(i: Int, a: Any, b: Any): Int = {
      val c = ords(i).compare(a, b)
      if (keys(i).desc) -c else c
    }
    // catalog-side fast path: tuple-threshold walk + survivor filter
    // inside the store, O(survivors) transfer instead of N O(index)
    // rowGroupStats fetches. Its survivors are live plans already: an
    // unfiltered one-key answer stands as is (never a whole-catalog
    // allFiles to intersect with)
    (filter match {
      case Some((ds, _)) => index.topKSurvivorsDisjunctiveLexN(keys, ds, k)
      case None          => index.topKSurvivorsLexN(keys, k)
    }) match {
      case Some(plans) =>
        return if (n == 1 && filter.isEmpty) plans
        else FileScanPlan.intersect(shorterPlans, plans)
      case None => () // fall through to the planner-side reference path
    }
    // computed keys: per-group stats DERIVED through the monotone image
    // (min ↦ image(min), max ↦ image(max); null count and frequencies
    // carry over — every row at the raw extreme maps to the image
    // extreme, so a raw frequency is a sound lower bound there)
    def imaged(key: SortKeySpec, s: RowGroupStat): RowGroupStat =
      key.image match {
        case None    => s
        case Some(f) => s.copy(min = s.min.map(f.apply), max = s.max.map(f.apply))
      }
    val statsHead = index.rowGroupStats(head.col)
      .getOrElse(return shorterPlans).map(imaged(head, _))
    val tailStats: IndexedSeq[Map[(String, Int), RowGroupStat]] =
      keys.toIndexedSeq.tail.zipWithIndex.map { case (key, i) =>
        index.rowGroupStats(key.col) match {
          case Some(st) =>
            st.map(s => (s.fileName, s.rowGroup) -> imaged(key, s)).toMap
          case None => return pruneLexImpl(index, keys.take(i + 1), k, filter)
        }
      }
    def guarOf(i: Int, st: RowGroupStat): Option[Any] =
      if (keys(i).desc) st.min else st.max
    def bestOf(i: Int, st: RowGroupStat): Option[Any] =
      if (keys(i).desc) st.max else st.min

    // filter certificate: for SOME disjunct, the sort interval holds on
    // the stored bounds AND every other filter column is [[allPass]].
    // Unfiltered mode certifies every group.
    val certify: RowGroupStat => Boolean = filter match {
      case None => _ => true
      case Some((ds, _)) =>
        // a computed head key cannot compare RAW-value sort bounds in
        // image space — callers (TopKPushdown) carry such bounds as
        // other-column all-pass entries instead; refuse direct API calls
        // that mix the two (degrade, never mis-compare)
        if (head.image.isDefined &&
            ds.exists(d => d.sortLo.isDefined || d.sortHi.isDefined))
          return shorterPlans
        val otherData = ds.flatMap(_.others.map(_.col)).distinct.map { c =>
          val odt = index.indexedSchema.fields.find(_.name == c)
            .getOrElse(return shorterPlans).dataType
          val oord = ordering(odt).getOrElse(return shorterPlans)
          val stats = index.rowGroupStats(c).getOrElse(return shorterPlans)
          c -> ((oord, stats.map(s => (s.fileName, s.rowGroup) -> s).toMap))
        }.toMap
        s => s.min.isDefined && s.max.isDefined && s.nullCount.isDefined &&
          ds.exists { d =>
            inBounds(ords(0), s, d.sortLo, d.sortHi) &&
              d.others.forall { ob =>
                val (o, m) = otherData(ob.col)
                m.get((s.fileName, s.rowGroup)).exists(allPass(o, _, ob.lo, ob.hi))
              }
          }
    }
    // sort-column nulls can win only when nulls sort first AND (for a
    // filtered query) some disjunct places no sort bound
    val headNullsMayWin = head.nullsFirst &&
      filter.forall(_._1.exists(d => d.sortLo.isEmpty && d.sortHi.isEmpty))

    // per-group guarantees: (tuple, count), up to THREE disjoint
    // candidates per certified group (see pruneLexN's scaladoc). Counts
    // are clamped conservative; they sum to the group's non-null-leading
    // rows, each claim met by an assignment of distinct rows.
    type Tup = Vector[Option[Any]]
    // a frequency pairs soundly with the STORED extreme only when that
    // extreme is verbatim-exact: integrals always; string maxima by
    // construction (over-long ones are dropped to NULL at ingest);
    // string MINIMA per group, exactly when the min-is-exact marker
    // (r11, RowGroupStat.minExact) certifies the stored min untruncated
    // — a truncated lower bound paired with a count would claim rows at
    // a better value than they hold
    val headIsString = index.indexedSchema.fields
      .find(_.name == head.col).exists(_.dataType == StringType)
    // (n >= 2: single-key walks carry no frequency candidates, matching
    // the catalog's lexWalk gate)
    def freqUsable(s: RowGroupStat): Boolean =
      n >= 2 && (!headIsString || head.desc || s.minExact.contains(true))
    val cand = scala.collection.mutable.ArrayBuffer.empty[(Tup, Long)]
    statsHead.foreach { s =>
      if (certify(s)) for {
        ga <- guarOf(0, s)
        na <- s.nullCount
      } {
        val base = math.max(s.rowCount - na, 0L)
        val gs = scala.collection.mutable.ArrayBuffer[Option[Any]](Some(ga))
        var sub = 0L
        var i = 1
        var go = true
        while (go && i < n) {
          tailStats(i - 1).get((s.fileName, s.rowGroup)) match {
            case Some(bs) if bs.nullCount.isDefined && guarOf(i, bs).isDefined =>
              gs += Some(guarOf(i, bs).get)
              if (!keys(i).nullsFirst) sub += bs.nullCount.get
              i += 1
            case _ => go = false
          }
        }
        val bestVal = bestOf(0, s)
        val fbRaw: Long = (if (head.desc) s.maxFreq else s.minFreq) match {
          case Some(f) if freqUsable(s) && bestVal.isDefined => math.min(f, base)
          case _ => 0L
        }
        val fb = math.max(fbRaw - sub, 0L)
        val c1 = math.max(base - sub - fb, 0L)
        val c2 = base - fb - c1
        if (fb > 0)
          cand += ((Vector(bestVal) ++ gs.toVector.tail ++
            Vector.fill(n - gs.size)(None), fb))
        cand += ((gs.toVector ++ Vector.fill(n - gs.size)(None), c1))
        if (c2 > 0)
          cand += ((Vector[Option[Any]](Some(ga)) ++
            Vector.fill(n - 1)(None), c2))
      }
    }
    // best-first lex order: concrete bounds before −∞ at every tie
    val tupleOrd: Ordering[Tup] = new Ordering[Tup] {
      def compare(x: Tup, y: Tup): Int = {
        var i = 0
        while (i < n) {
          (x(i), y(i)) match {
            case (Some(a), Some(b)) =>
              val c = cmpAt(i, a, b); if (c != 0) return c
            case (Some(_), None) => return -1
            case (None, Some(_)) => return 1
            case (None, None)    => return 0
          }
          i += 1
        }
        0
      }
    }
    val walk = cand.sortBy(_._1)(tupleOrd)
    var covered = 0L
    var threshold: Option[Tup] = None
    val it = walk.iterator
    while (covered < k && it.hasNext) {
      val (t, cnt) = it.next()
      covered += cnt
      if (covered >= k) threshold = Some(t)
    }
    val thr = threshold.getOrElse(return shorterPlans)

    // survivor: best tuple not strictly lex-worse than the threshold,
    // by recursive descent through the levels
    def atLevel(i: Int, s: RowGroupStat): Boolean = {
      if (i >= n) return true
      thr(i) match {
        case None => true
        case Some(ti) =>
          tailStats(i - 1).get((s.fileName, s.rowGroup)) match {
            case None => true
            case Some(bs) =>
              if (keys(i).nullsFirst && !bs.nullCount.contains(0L)) true
              else if (bs.nullCount.contains(bs.rowCount)) false
              else bestOf(i, bs) match {
                case Some(bi) =>
                  val c = cmpAt(i, bi, ti)
                  if (c < 0) true else if (c > 0) false else atLevel(i + 1, s)
                case None => true
              }
          }
      }
    }
    def keep(s: RowGroupStat): Boolean = {
      if (headNullsMayWin && !s.nullCount.contains(0L)) return true
      if (s.nullCount.contains(s.rowCount)) return false
      bestOf(0, s) match {
        case None => true
        case Some(b1) =>
          thr(0) match {
            case None => true
            case Some(t1) =>
              val c = cmpAt(0, b1, t1)
              if (c < 0) true else if (c > 0) false else atLevel(1, s)
          }
      }
    }
    val prunedSet = statsHead.filterNot(keep)
      .map(s => (s.fileName, s.rowGroup)).toSet
    shorterPlans.flatMap { p =>
      val rgs = p.scanRowGroups.filterNot(rg => prunedSet((p.fileName, rg)))
      if (rgs.isEmpty) None else Some(p.copy(scanRowGroups = rgs))
    }
  }

  /** Two-key convenience face of [[pruneLexN]] (the r9 surface; specs
    * and callers with exactly two keys use it unchanged). */
  def pruneLex2(
      index: StatsIndex,
      colA: String, descA: Boolean, nullsFirstA: Boolean,
      colB: String, descB: Boolean, nullsFirstB: Boolean,
      k: Long): Seq[FileScanPlan] =
    pruneLexN(index,
      Seq(SortKeySpec(colA, descA, nullsFirstA),
        SortKeySpec(colB, descB, nullsFirstB)), k)

  private val codePointOrdering: Ordering[Any] = new Ordering[Any] {
    def compare(a: Any, b: Any): Int = {
      val x = a.asInstanceOf[String]
      val y = b.asInstanceOf[String]
      var i = 0
      var j = 0
      while (i < x.length && j < y.length) {
        val cx = x.codePointAt(i)
        val cy = y.codePointAt(j)
        if (cx != cy) return Integer.compare(cx, cy)
        i += Character.charCount(cx)
        j += Character.charCount(cy)
      }
      Integer.compare(x.length - i, y.length - j)
    }
  }

  /** Scan plans for `ORDER BY colName [DESC] LIMIT k`, pruned to the row
    * groups that might hold a top-k row: the one-key case of
    * [[pruneLexN]]. `nullsFirst` must match the query's null ordering;
    * the default mirrors Spark's (ASC ⇒ NULLS FIRST, DESC ⇒ NULLS LAST).
    * Degrades to `allFiles()` whenever the catalog cannot certify a
    * threshold. */
  def prune(
      index: StatsIndex,
      colName: String,
      k: Long,
      descending: Boolean): Seq[FileScanPlan] =
    prune(index, colName, k, descending, nullsFirst = !descending)

  def prune(
      index: StatsIndex,
      colName: String,
      k: Long,
      descending: Boolean,
      nullsFirst: Boolean): Seq[FileScanPlan] =
    pruneLexN(index, Seq(SortKeySpec(colName, descending, nullsFirst)), k)
}
