package graft.prune

import graft.index.{DeterminedConstKey, FileScanPlan, ImageConstKey, KeyImage, PiecewiseCmpKey, PiecewiseZoneConstKey, RawConstKey, RgConstKey, RowGroupStat, StatsBridge, StatsIndex}
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, BindReferences, Coalesce, EqualNullSafe, Expression, GenericInternalRow, Literal}
import org.apache.spark.sql.types._

/** THE row-group constancy engine (r13): the only code that decides a
  * conjunct per row group from catalog stats. A
  * conjunct is recognized ONCE into members — constancy keys (a raw
  * attribute, a monotone image, a determined calendar part, a
  * DST-piecewise part: [[KeyImage.constKeyOf]]) and piecewise interval
  * comparisons ([[PiecewiseCmpKey]]) — and compiled ONCE into a
  * [[Template]] over placeholder slots. Per row group, [[decide]] reads
  * each member's `(null count, constant)` ([[constancy]]) and evaluates
  * the template with Spark's own eval ([[evalAt]]):
  *  - a null-free group substitutes its constant;
  *  - an all-null group substitutes NULL — sound because every
  *    recognized key maps a NULL operand to NULL (casts, images, field
  *    extractions, names, anchors, date_format, from_utc_timestamp, and
  *    the piecewise comparisons against non-null literals; `<=>` is
  *    compiled as `coalesce(cmp, false)`);
  *  - a partial-null slice, a straddler, mismatched row counts or an
  *    eval failure is undecided (None).
  *
  * Callers keep only their policy. The scan path ([[refine]], used by
  * `IndexedParquetFileIndex.listFiles` and `PartPruneScan`) drops a row
  * group on `Some(false)` — pure over-approximation, since Spark
  * re-applies every filter (Inexact semantics, reference
  * main.rs:308-316). StatsAggPushdown's folds (idx44/idx47) need every
  * group decided and decline on any None; its grouped fold evaluates
  * key-only conjuncts at the grouping-key values through [[evalAt]].
  *
  * Scan-path driver cost: O(surviving plans) — one file-restricted stats
  * fetch per referenced column ([[StatsIndex.rowGroupStatsFor]]), one
  * in-memory pass over (conjunct × surviving row group). No data jobs.
  */
object PartPrune {

  /** A maximal subexpression `node` of a conjunct whose value per row
    * group `key` certifies from the stats of the indexed column `attr`. */
  final case class Member(node: Expression, attr: AttributeReference, key: RgConstKey)

  /** A conjunct compiled once: member occurrences replaced by placeholder
    * `slots`, bound to slot ordinals for evaluation. */
  final case class Template(expr: Expression, slots: IndexedSeq[AttributeReference]) {
    private[prune] lazy val bound: Expression =
      BindReferences.bindReference(expr, slots)
  }

  final case class Compiled(members: IndexedSeq[Member], template: Template)

  /** Compile `cj` over `slots`: `claim` replaces a member occurrence
    * (top-down, so the maximal one wins) with its slot expression. None
    * when `cj` is non-deterministic (a conjunct that is not a pure
    * function of its members proves nothing per group) or when anything
    * but a slot is still referenced. */
  def template(cj: Expression, slots: IndexedSeq[AttributeReference])(
      claim: PartialFunction[Expression, Expression]): Option[Template] = {
    if (!cj.deterministic) return None
    val expr = cj.transformDown(claim)
    val ids = slots.map(_.exprId).toSet
    if (expr.references.forall(a => ids.contains(a.exprId))) Some(Template(expr, slots))
    else None
  }

  /** Recognize `cj`'s members and compile it. `rawGate` admits columns
    * that are their own key (min = max); `imageGate` is the attribute gate
    * handed to the image, part and piecewise recognizers. */
  def compile(
      cj: Expression,
      rawGate: AttributeReference => Boolean,
      imageGate: AttributeReference => Boolean): Option[Compiled] = {
    val members = scala.collection.mutable.ArrayBuffer.empty[Member]
    def indexOf(s: Expression): Int = members.indexWhere(_.node.semanticEquals(s))
    def recognize(e: Expression): Option[Member] =
      pwCompare(e, imageGate).orElse(e match {
        case a: AttributeReference if rawGate(a) =>
          Some(Member(a, a, RawConstKey(a.dataType)))
        case other => KeyImage.constKeyOf(other, imageGate)
          .map { case (ar, ck) => Member(other, ar, ck) }
      })
    def walk(e: Expression): Unit =
      if (indexOf(e) < 0) recognize(e) match {
        case Some(m) => members += m
        case None => e.children.foreach(walk)
      }
    walk(cj)
    val slots = members.indices.map(i =>
      AttributeReference(s"__graft_m$i", members(i).key.resultType)())
    object Claimed {
      def unapply(s: Expression): Option[Int] = Some(indexOf(s)).filter(_ >= 0)
    }
    template(cj, slots) {
      case Claimed(i) => members(i).node match {
        // `leg <=> lit` over a NULL leg is false, not NULL
        case _: EqualNullSafe => Coalesce(Seq(slots(i), Literal.FalseLiteral))
        case _ => slots(i)
      }
    }.map(Compiled(members.toIndexedSeq, _))
  }

  /** A row group's `(null count, constant)` for `key`: the constant is
    * None when every row is null. None when the null count or an extreme
    * is unknown, or the certificate straddles or throws. */
  def constancy(key: RgConstKey, st: RowGroupStat): Option[(Long, Option[Any])] =
    st.nullCount.flatMap { nc =>
      if (nc == st.rowCount) Some((nc, None))
      else for {
        mn <- st.min
        mx <- st.max
        v <- scala.util.Try(key.constantOf(mn, mx)).toOption.flatten
      } yield (nc, Some(v))
    }

  /** Evaluate a template at slot values in catalog encoding (None = SQL
    * NULL), each bridged through [[StatsBridge.internal]]. None when a
    * defined value does not bridge — never evaluated as NULL — or the
    * evaluation throws (ANSI). */
  def evalAt(t: Template, values: IndexedSeq[Option[Any]]): Option[Any] =
    scala.util.Try {
      val row = values.indices.map { i =>
        values(i).map(v => StatsBridge.internal(v, t.slots(i).dataType)) match {
          case Some(Some(iv)) => iv
          case Some(None) => throw new IllegalArgumentException("unbridgeable")
          case None => null
        }
      }
      t.bound.eval(new GenericInternalRow(row.toArray[Any]))
    }.toOption

  /** Whether every row of one row group passes `c` (Some(true)), fails
    * it (Some(false) — false or NULL), or is undecided (None), from the
    * group's per-column stats `statOf`. */
  def decide(c: Compiled, statOf: String => Option[RowGroupStat]): Option[Boolean] = {
    var rows = -1L
    val values = c.members.map { m =>
      val st = statOf(m.attr.name).getOrElse(return None)
      if (rows < 0) rows = st.rowCount
      else if (rows != st.rowCount) return None
      constancy(m.key, st) match {
        case Some((0L, v @ Some(_))) => v
        case Some((_, None)) => None
        case _ => return None // partial-null slice or no certificate
      }
    }
    evalAt(c.template, values).map(_ == true)
  }

  // ---- the scan path ---------------------------------------------------------

  /** Pure-expression pre-check (no catalog IO): does ANY conjunct compile
    * with a novel member? Callers use this to skip the stats fetch
    * entirely on ordinary predicates. */
  def qualifies(index: StatsIndex, dataFilters: Seq[Expression]): Boolean =
    dataFilters.flatMap(StatsBridge.conjuncts).exists(q => scanCompile(index, q).isDefined)

  /** Refine `plans` against `dataFilters`, dropping a row group when some
    * conjunct decides `Some(false)` there; returns the narrowed plans and
    * a route tag when anything dropped (empty route = pass-through). */
  def refine(
      index: StatsIndex,
      dataFilters: Seq[Expression],
      plans: Seq[FileScanPlan]): (Seq[FileScanPlan], Seq[String]) = {
    if (dataFilters.isEmpty || plans.isEmpty) return (plans, Nil)
    val qualifying = dataFilters.flatMap(StatsBridge.conjuncts)
      .flatMap(q => scanCompile(index, q))
    if (qualifying.isEmpty) return (plans, Nil)

    // one stats fetch per referenced column, keyed (file, rowGroup) —
    // restricted to the SURVIVING plans' files (r15): refining a narrow
    // plan set must cost O(survivors), not O(catalog); at millions of
    // row groups the unrestricted fetch was the walk that didn't scale
    val fileSet = plans.map(_.fileName).toSet
    val colNames = qualifying.flatMap(_.members.map(_.attr.name)).distinct
    val statsBy: Map[String, Map[(String, Int), RowGroupStat]] =
      colNames.flatMap { c =>
        index.rowGroupStatsFor(c, fileSet)
          .map(s => c -> s.map(st => (st.fileName, st.rowGroup) -> st).toMap)
      }.toMap

    var dropped = 0
    var pwDropped = 0 // drops decided by a piecewise-interval conjunct
    val refined = plans.flatMap { p =>
      val kept = p.scanRowGroups.filter { rg =>
        val statOf = (c: String) => statsBy.get(c).flatMap(_.get((p.fileName, rg)))
        val dropper = qualifying.find(decide(_, statOf).contains(false))
        if (dropper.isDefined) {
          dropped += 1
          if (dropper.exists(_.members.exists(_.key.isInstanceOf[PiecewiseCmpKey])))
            pwDropped += 1
        }
        dropper.isEmpty
      }
      if (kept.isEmpty) None
      else if (kept.size == p.scanRowGroups.size) Some(p)
      else Some(p.copy(scanRowGroups = kept))
    }
    if (dropped == 0) (plans, Nil)
    else if (pwDropped == 0) (refined, Seq(s"part-const(dropped=$dropped)"))
    else if (pwDropped == dropped)
      (refined, Seq(s"part-pw-interval(dropped=$dropped)"))
    else (refined, Seq(
      s"part-const(dropped=${dropped - pwDropped})",
      s"part-pw-interval(dropped=$pwDropped)"))
  }

  /** The scan path's compile: raw keys need verbatim-exact extremes, images
    * and parts a time-typed column, and at least one member must be one
    * the interval walk cannot already serve (a determined part, an image
    * with no Derby rendering, or anything piecewise) — raw-only or
    * renderable-image-only conjuncts stay with the stats-space rewrite. */
  private def scanCompile(index: StatsIndex, cj: Expression): Option[Compiled] =
    compile(cj,
      a => StatsBridge.indexed(index, a) && StatsBridge.verbatimExact(a.dataType),
      a => StatsBridge.indexed(index, a) && timeOrdered(a.dataType))
      .filter(_.members.exists(_.key match {
        case _: DeterminedConstKey | _: PiecewiseZoneConstKey | _: PiecewiseCmpKey => true
        case ImageConstKey(img) => img.derbySql.isEmpty
        case _ => false
      }))

  /** Recognize `cmp(pwLeg, literal)` (either operand order) and IN-lists
    * over a piecewise-monotone leg ([[KeyImage.piecewiseMonotoneOf]]),
    * with the wholesale decision rule for the leg's exact per-group value
    * interval [lo, hi] (endpoints ATTAINED — footer extremes are real
    * values of verbatim-exact types). Mixed groups decide None. This is
    * what serves the range form Spark's optimizer itself produces by
    * unwrapping a local-calendar-day equality. */
  private def pwCompare(e: Expression, gate: AttributeReference => Boolean)
      : Option[Member] = {
    import org.apache.spark.sql.catalyst.expressions.{EqualTo, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual}
    def leg(x: Expression) = KeyImage.piecewiseMonotoneOf(x, gate)
    def litNum(x: Expression): Option[Long] = x match {
      case Literal(v: java.lang.Number, _) if v != null => Some(v.longValue)
      case _ => None
    }
    def dec(op: String, lt: Long): (Long, Long) => Option[Boolean] =
      (lo, hi) => op match {
        case "<"  => if (hi < lt) Some(true)
                     else if (lo >= lt) Some(false) else None
        case "<=" => if (hi <= lt) Some(true)
                     else if (lo > lt) Some(false) else None
        case ">"  => if (lo > lt) Some(true)
                     else if (hi <= lt) Some(false) else None
        case ">=" => if (lo >= lt) Some(true)
                     else if (hi < lt) Some(false) else None
        case _    => if (lo == lt && hi == lt) Some(true) // "=" / "<=>"
                     else if (lt < lo || lt > hi) Some(false) else None
      }
    def flip(op: String): String = op match {
      case "<" => ">"; case "<=" => ">="
      case ">" => "<"; case ">=" => "<="; case x => x
    }
    def member(n: Expression, lg: (AttributeReference, java.time.ZoneId,
        Int => Option[KeyImage]), d: (Long, Long) => Option[Boolean]) =
      Member(n, lg._1, PiecewiseCmpKey(lg._2, lg._3, d))
    def bin(n: Expression, l: Expression, r: Expression, op: String)
        : Option[Member] =
      leg(l).flatMap(lg => litNum(r).map(v => member(n, lg, dec(op, v))))
        .orElse(leg(r).flatMap(lg => litNum(l).map(v => member(n, lg, dec(flip(op), v)))))
    e match {
      case n @ LessThan(l, r)           => bin(n, l, r, "<")
      case n @ LessThanOrEqual(l, r)    => bin(n, l, r, "<=")
      case n @ GreaterThan(l, r)        => bin(n, l, r, ">")
      case n @ GreaterThanOrEqual(l, r) => bin(n, l, r, ">=")
      case n @ EqualTo(l, r)            => bin(n, l, r, "=")
      case n @ EqualNullSafe(l, r)      => bin(n, l, r, "=")
      case n @ In(x, lits) =>
        leg(x).flatMap { lg =>
          val vs = lits.map(litNum)
          if (vs.exists(_.isEmpty)) None
          else {
            val set = vs.flatten
            Some(member(n, lg, (lo, hi) =>
              if (set.forall(v => v < lo || v > hi)) Some(false)
              else if (lo == hi && set.contains(lo)) Some(true)
              else None))
          }
        }
      case _ => None
    }
  }

  private def timeOrdered(dt: DataType): Boolean = dt match {
    case DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }
}
