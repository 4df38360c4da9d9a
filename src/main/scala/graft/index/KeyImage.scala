package graft.index

import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** A MONOTONE image of an indexed column, used as a COMPUTED sort key in
  * top-k pruning (r11, SURVEY §8.8 limit (b)): `ORDER BY date_trunc('day',
  * ts) DESC, id DESC LIMIT k` — the time-bucketed latest-k shape — sorts
  * on an expression the catalog has no stats for. But for a monotone
  * non-decreasing image f, the image's per-row-group stats are DERIVED
  * from the underlying column's at plan time: min f = f(min), max f =
  * f(max), null count unchanged — no extra ingest, no shadow storage, and
  * exactly as fresh as the footer stats themselves. The planner maps
  * stats through [[apply]]; the catalog fast path wraps the stored stat
  * columns in [[derbySql]] (or falls back to the planner when it cannot
  * render the image).
  *
  * Soundness needs only monotonicity: every row r of a group satisfies
  * min ≤ r ≤ max, so f(min) ≤ f(r) ≤ f(max) — the derived bounds are
  * true bounds, and a frequency of rows AT the raw extreme is a lower
  * bound of rows at the image extreme (rows at max all map to f(max)),
  * so the dominant-slice certificate carries over unchanged.
  *
  * The reference's index answers only raw-column predicate pruning
  * (/root/reference/sqlx-sqlite/src/index.rs:102-176); computed sort
  * keys are an extension in the spirit of its "other indexes can be
  * added" note (index.rs:30-35).
  */
sealed trait KeyImage extends Serializable {
  /** Display id for route tags, e.g. `day`. */
  def id: String
  /** Indexed column types this image soundly consumes (the catalog's
    * storage encoding of each must be what [[apply]] expects). */
  def acceptsInput(dt: DataType): Boolean
  def resultType: DataType

  /** Catalog-encoding value of the underlying column → image value (in
    * the image's own catalog encoding). MUST be monotone non-decreasing
    * over the input's certified ordering. */
  def apply(v: Any): Any

  /** Derby SQL rendering of the image over a stats-column expression;
    * None = the catalog cannot render it and the caller must fall back
    * to planner-side pruning (still exact, one O(index) fetch). */
  def derbySql: Option[String => String]
}

object KeyImage {
  private[index] val MicrosPerDay = 86400000000L
  private[graft] val MicrosPerSecond = 1000000L

  /** The analyzer-resolved timezone's FIXED offset in seconds (UTC = 0),
    * or None for a geographic zone — fixed offsets have no DST fold, the
    * precondition for every instant-reading image's monotonicity. */
  def fixedOffsetSeconds(tzOpt: Option[String]): Option[Int] =
    tzOpt.flatMap { tz =>
      try {
        val rules =
          org.apache.spark.sql.catalyst.util.DateTimeUtils.getZoneId(tz).getRules
        if (rules.isFixedOffset)
          Some(rules.getOffset(java.time.Instant.EPOCH).getTotalSeconds)
        else None
      } catch { case scala.util.control.NonFatal(_) => None }
    }

  /** Recognize a resolved DATA-SPACE expression as a monotone image of an
    * indexed time-typed attribute — the shared seam between the top-k
    * rule and the stats predicate rewriter (r13). Returns the underlying
    * attribute and the image whose [[KeyImage.apply]] over the CATALOG
    * encoding equals the expression's value for every row. Soundness
    * preconditions (fixed-offset zones for instant-reading shapes, the
    * NTZ cast shift) are enforced here so callers can't misuse a shape. */
  def fromDataExpr(
      e: org.apache.spark.sql.catalyst.expressions.Expression,
      isIndexed: org.apache.spark.sql.catalyst.expressions.AttributeReference => Boolean)
      : Option[(org.apache.spark.sql.catalyst.expressions.AttributeReference, KeyImage)] = {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Cast, Literal, ToUnixTimestamp, TruncDate, TruncTimestamp, UnixTimestamp, Year}
    import org.apache.spark.sql.types.{DateType, StringType, TimestampNTZType, TimestampType}
    import org.apache.spark.unsafe.types.UTF8String

    def shift(delta: Long, img: KeyImage): KeyImage =
      if (delta == 0L) img else InputShiftImage(delta, img)

    def dateLeg(x: org.apache.spark.sql.catalyst.expressions.Expression)
        : Option[(AttributeReference, Option[KeyImage])] = dateLegOf(x, isIndexed)
    def chainTo(ci: Option[KeyImage], outer: KeyImage): KeyImage =
      ci.fold(outer)(inner => ChainedImage(inner, outer))
    // a unix_timestamp operand: LTZ attr or NTZ attr directly (both
    // zone-free — the NTZ wall micros divide as-is), or NTZ under an
    // explicit fixed-offset cast (the shift adapter)
    def unixLeg(x: org.apache.spark.sql.catalyst.expressions.Expression)
        : Option[(AttributeReference, Long)] = x match {
      case ar: AttributeReference
          if (ar.dataType == TimestampType || ar.dataType == TimestampNTZType) &&
            isIndexed(ar) => Some((ar, 0L))
      case c: Cast if c.dataType == TimestampType =>
        (c.child, fixedOffsetSeconds(c.timeZoneId)) match {
          case (ar: AttributeReference, Some(off))
              if ar.dataType == TimestampNTZType && isIndexed(ar) =>
            Some((ar, -off * MicrosPerSecond))
          case _ => None
        }
      case _ => None
    }
    def fmtOf(x: org.apache.spark.sql.catalyst.expressions.Expression): Option[String] =
      x match {
        case Literal(f: UTF8String, StringType) if f != null => Some(f.toString)
        case _ => None
      }

    e match {
      case c: Cast if c.dataType == DateType =>
        dateLeg(c).collect { case (ar, Some(img)) => (ar, img) }
      case t: TruncTimestamp =>
        (fmtOf(t.format), fixedOffsetSeconds(t.timeZoneId)) match {
          case (Some(fmt), Some(off)) =>
            val leg: Option[(AttributeReference, Long)] = t.timestamp match {
              case ar: AttributeReference
                  if ar.dataType == TimestampType && isIndexed(ar) =>
                Some((ar, 0L))
              case c: Cast
                  if c.dataType == TimestampType &&
                    fixedOffsetSeconds(c.timeZoneId).contains(off) =>
                c.child match {
                  case ar: AttributeReference
                      if ar.dataType == TimestampNTZType && isIndexed(ar) =>
                    Some((ar, -off * MicrosPerSecond))
                  case _ => None
                }
              case _ => None
            }
            for {
              (ar, delta) <- leg
              img <- TruncTimestampImage.forUnit(fmt, off)
            } yield (ar, shift(delta, img))
          case _ => None
        }
      case ut: UnixTimestamp =>
        unixLeg(ut.timeExp).map { case (ar, d) => (ar, shift(d, UnixSecondsImage)) }
      case ut: ToUnixTimestamp =>
        unixLeg(ut.timeExp).map { case (ar, d) => (ar, shift(d, UnixSecondsImage)) }
      case td: TruncDate =>
        for {
          fmt <- fmtOf(td.format)
          (ar, ci) <- dateLeg(td.date)
          img <- TruncDateImage.forUnit(fmt)
        } yield (ar, chainTo(ci, img))
      case Year(x) =>
        dateLeg(x).map { case (ar, ci) => (ar, chainTo(ci, YearImage)) }
      case _ => None
    }
  }

  /** A DATE-space leg: a DATE attribute, or an indexed timestamp under
    * the analyzer's cast-to-date (NTZ zone-free; LTZ under any
    * FIXED-OFFSET session zone via the offset-shifted epoch-day image).
    * Shared between the monotone recognizer, the determined-part
    * recognizer, and the top-k datepart-run collapse. */
  def dateLegOf(
      x: org.apache.spark.sql.catalyst.expressions.Expression,
      isIndexed: org.apache.spark.sql.catalyst.expressions.AttributeReference => Boolean)
      : Option[(org.apache.spark.sql.catalyst.expressions.AttributeReference, Option[KeyImage])] = {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Cast}
    x match {
      case ar: AttributeReference if ar.dataType == DateType && isIndexed(ar) =>
        Some((ar, None))
      case c: Cast if c.dataType == DateType =>
        c.child match {
          case ar: AttributeReference
              if ar.dataType == TimestampNTZType && isIndexed(ar) =>
            Some((ar, Some(CastDateImage)))
          case ar: AttributeReference
              if ar.dataType == TimestampType && isIndexed(ar) =>
            fixedOffsetSeconds(c.timeZoneId).map(z => (ar, Some(castDate(z))))
          case _ => None
        }
      case _ => None
    }
  }

  /** Recognize a resolved data-space expression as a per-row-group
    * CONSTANCY key (r13): a monotone image (certifies through its own
    * bucket equality), or a NON-monotone calendar part DETERMINED by a
    * finer monotone image — `month(ts)` / `quarter(d)` / `dayofweek(d)`
    * / `hour(ts)`: month(min)=month(max) does NOT prove constancy (Jan
    * 2020 vs Jan 2021), but trunc-month(min)=trunc-month(max) does, and
    * month factors through that bucket. Raw attributes are the CALLER's
    * case (each site gates its own types). Only constancy-based
    * certificates may consume a determined part — never the
    * image-of-extreme or top-k paths (apply is not monotone there). */
  def constKeyOf(
      e: org.apache.spark.sql.catalyst.expressions.Expression,
      isIndexed: org.apache.spark.sql.catalyst.expressions.AttributeReference => Boolean)
      : Option[(org.apache.spark.sql.catalyst.expressions.AttributeReference, RgConstKey)] =
    fromDataExpr(e, isIndexed)
      .map { case (ar, img) => (ar, ImageConstKey(img)) }
      .orElse(determinedOf(e, isIndexed))
      .orElse(piecewiseConstKeyOf(e, isIndexed))

  /** The determined-part half of [[constKeyOf]]. The constant VALUE is
    * Spark's OWN eval of the original expression at the group's raw
    * minimum (substituted as a literal) — field extraction semantics
    * replay verbatim instead of being re-derived. */
  private def determinedOf(
      e: org.apache.spark.sql.catalyst.expressions.Expression,
      isIndexed: org.apache.spark.sql.catalyst.expressions.AttributeReference => Boolean)
      : Option[(org.apache.spark.sql.catalyst.expressions.AttributeReference, RgConstKey)] = {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Cast, DateFormatClass, DayName, DayOfMonth, DayOfWeek, DayOfYear, Hour, LastDay, Literal, Minute, Month, MonthName, NextDay, Quarter, Second, WeekDay, WeekOfYear}
    def evalAt(ar: AttributeReference): Any => Any = v => {
      val sub = e.transformUp {
        case a: AttributeReference if a.exprId == ar.exprId =>
          Literal(v, ar.dataType)
      }
      sub.eval(null)
    }
    // a date-space part constant within `unit` buckets of the date leg
    // (None = day-level: the cast image itself, or the raw DATE value)
    def datePart(x: org.apache.spark.sql.catalyst.expressions.Expression,
        unit: Option[String], partId: String,
        resultType: DataType = IntegerType, nullPreserving: Boolean = true)
        : Option[(AttributeReference, RgConstKey)] =
      for {
        (ar, ci) <- dateLegOf(x, isIndexed)
        det <- unit match {
          case Some(u) => TruncDateImage.forUnit(u).map(t =>
            Some(ci.fold[KeyImage](t)(inner => ChainedImage(inner, t))))
          case None => Some(ci)
        }
      } yield (ar, DeterminedConstKey(partId, det, resultType, evalAt(ar),
        nullPreserving))
    // `date_format(leg, fmt)` (r13): the fmt's FINEST field token fixes
    // the determiner grid — 'yyyy-MM' is constant on trunc-month buckets,
    // 'EEEE'/'yyyy-MM-dd' on calendar days, 'HH:mm' on trunc-minute.
    // The rendered VALUE is always Spark's own DateFormatClass eval; only
    // the grid needs soundness, so week-based fields conservatively take
    // the day grid (their week anchor is locale business, a day always
    // determines them) and sub-second/zone tokens decline.
    def dateFormatKey(dfc: DateFormatClass)
        : Option[(AttributeReference, RgConstKey)] = {
      def shiftImg(delta: Long, img: KeyImage): KeyImage =
        if (delta == 0L) img else InputShiftImage(delta, img)
      // day-or-coarser: epoch-day leg then the calendar trunc grid
      def dateGrid(ci: Option[KeyImage], gran: Int): Option[KeyImage] =
        gran match {
          case 0 => TruncDateImage.forUnit("year").map(t =>
            ci.fold[KeyImage](t)(inner => ChainedImage(inner, t)))
          case 1 => TruncDateImage.forUnit("quarter").map(t =>
            ci.fold[KeyImage](t)(inner => ChainedImage(inner, t)))
          case 2 => TruncDateImage.forUnit("month").map(t =>
            ci.fold[KeyImage](t)(inner => ChainedImage(inner, t)))
          case _ => Some(ci.getOrElse(CastDateImage)) // callers pass a ci for ts legs
        }
      val fmt = dfc.right match {
        case Literal(f: UTF8String, StringType) if f != null => Some(f.toString)
        case _ => None
      }
      for {
        f <- fmt
        gran <- KeyImage.formatGranularity(f)
        (ar, det) <- dfc.left match {
          // a DATE operand under the analyzer's cast-to-timestamp, read
          // back in the SAME zone: local midnight round-trips, so every
          // field (incl. constant-midnight time fields) is a function of
          // the date alone — any zone qualifies as long as the two legs
          // agree. Grid: calendar trunc for coarse fmts, raw-date
          // constancy for day-or-finer.
          case c: Cast if c.dataType == TimestampType &&
              c.timeZoneId == dfc.timeZoneId =>
            c.child match {
              case ar: AttributeReference
                  if ar.dataType == DateType && isIndexed(ar) =>
                (if (gran >= 4) Some(None)
                 else dateGrid(None, gran).map(Some(_))).map(d => (ar, d))
              // an NTZ operand cast to instant at czOff, formatted at the
              // same fixed offset: the wall clock round-trips, so the grid
              // reads the raw wall micros directly (delta = 0 by zone
              // equality; kept general through the shift adapter)
              case ar: AttributeReference
                  if ar.dataType == TimestampNTZType && isIndexed(ar) =>
                for {
                  czOff <- fixedOffsetSeconds(c.timeZoneId)
                  fo <- fixedOffsetSeconds(dfc.timeZoneId)
                  delta = (fo.toLong - czOff.toLong) * MicrosPerSecond
                  g <-
                    if (gran <= 2)
                      dateGrid(Some(shiftImg(delta, CastDateImage)), gran)
                    else if (gran == 4) Some(shiftImg(delta, CastDateImage))
                    else TruncTimestampImage
                      .forUnit(KeyImage.granUnit(gran), 0)
                      .map(shiftImg(delta, _))
                } yield (ar, Some(g))
              case _ => None
            }
          // an instant operand: fields read at the fmt's fixed offset
          case ar: AttributeReference
              if ar.dataType == TimestampType && isIndexed(ar) =>
            for {
              fo <- fixedOffsetSeconds(dfc.timeZoneId)
              g <-
                if (gran <= 4) dateGrid(Some(castDate(fo)), gran)
                else TruncTimestampImage.forUnit(KeyImage.granUnit(gran), fo)
            } yield (ar, Some(g))
          case _ => None
        }
      } yield (ar,
        DeterminedConstKey(s"datefmt[$f]", det, StringType, evalAt(ar)))
    }
    // a time-of-day part constant within `unit` buckets of the instant's
    // LOCAL wall clock: NTZ wall micros are zone-free (Spark reads the
    // field at UTC); LTZ needs the expression's fixed-offset zone so the
    // trunc grid is the same wall clock Hour/Minute/Second read
    def timePart(x: org.apache.spark.sql.catalyst.expressions.Expression,
        unit: String, tzId: Option[String])
        : Option[(AttributeReference, RgConstKey)] = x match {
      case ar: AttributeReference
          if ar.dataType == TimestampNTZType && isIndexed(ar) =>
        TruncTimestampImage.forUnit(unit, 0).map(d =>
          (ar, DeterminedConstKey(unit, Some(d), IntegerType, evalAt(ar))))
      case ar: AttributeReference
          if ar.dataType == TimestampType && isIndexed(ar) =>
        for {
          off <- fixedOffsetSeconds(tzId)
          d <- TruncTimestampImage.forUnit(unit, off)
        } yield (ar, DeterminedConstKey(unit, Some(d), IntegerType, evalAt(ar)))
      case _ => None
    }
    e match {
      case Month(x)      => datePart(x, Some("month"), "month")
      case Quarter(x)    => datePart(x, Some("quarter"), "quarter")
      case WeekOfYear(x) => datePart(x, Some("week"), "weekofyear")
      case DayOfMonth(x) => datePart(x, None, "dayofmonth")
      case DayOfWeek(x)  => datePart(x, None, "dayofweek")
      case WeekDay(x)    => datePart(x, None, "weekday")
      case DayOfYear(x)  => datePart(x, None, "dayofyear")
      case MonthName(x)  => datePart(x, Some("month"), "monthname", StringType)
      case DayName(x)    => datePart(x, None, "dayname", StringType)
      case LastDay(x)    => datePart(x, Some("month"), "last_day", DateType)
      // next_day's pick is a pure function of (date, literal weekday);
      // a null eval (bad weekday string under non-ANSI) fails closed
      case nd: NextDay if nd.dayOfWeek.foldable =>
        datePart(nd.startDate, None, "next_day", DateType,
          nullPreserving = false)
      case dfc: DateFormatClass => dateFormatKey(dfc)
      case h: Hour       => timePart(h.child, "hour", h.timeZoneId)
      case m: Minute     => timePart(m.child, "minute", m.timeZoneId)
      case s: Second     => timePart(s.child, "second", s.timeZoneId)
      case _             => None
    }
  }

  /** A VALID geographic (transition-bearing) zone — the complement of
    * [[fixedOffsetSeconds]]'s precondition. None for fixed offsets (the
    * monotone/determined machinery already serves those) and for
    * unparseable ids. */
  def geoZoneOfName(tz: String): Option[java.time.ZoneId] =
    try {
      val z = org.apache.spark.sql.catalyst.util.DateTimeUtils.getZoneId(tz)
      if (z.getRules.isFixedOffset) None else Some(z)
    } catch { case scala.util.control.NonFatal(_) => None }

  def geoZoneOf(tzOpt: Option[String]): Option[java.time.ZoneId] =
    tzOpt.flatMap(geoZoneOfName)

  /** The zone's offset in seconds over the instant range [mn, mx] (catalog
    * micros) when no transition falls in `(mn, mx]`, else None (a
    * straddler). `nextTransition(mn)` is strictly after `mn`, and
    * `getOffset` at an exact transition instant is the post-transition
    * offset, so a range starting ON a transition takes the offset in
    * force there. */
  def pieceOffset(zone: java.time.ZoneId, mn: Long, mx: Long): Option[Int] = {
    val ia = DateTimeUtils.microsToInstant(mn)
    val rules = zone.getRules
    val tr = rules.nextTransition(ia)
    if (tr != null && !tr.getInstant.isAfter(DateTimeUtils.microsToInstant(mx))) None
    else Some(rules.getOffset(ia).getTotalSeconds)
  }

  /** DST-PIECEWISE constancy recognizer (r14, SURVEY §8.8 limit (b)):
    * calendar keys read through a GEOGRAPHIC zone — `CAST(ts AS DATE)`
    * under an America/New_York session, `month(from_utc_timestamp(ts,
    * 'Europe/Berlin'))`, `date_format(...)` labels — which the monotone
    * machinery must decline globally (a backward DST fold breaks
    * monotonicity SOMEWHERE on the time line). But constancy is a
    * per-row-group question: if the zone has NO transition inside the
    * group's raw instant range, its offset is one constant there, local
    * wall time is the instant plus that constant, and the fixed-offset
    * determiner grids apply verbatim on that piece. The certificate
    * checks transition-freedom from the zone rules (`nextTransition`) at
    * each row group's footer extremes, then delegates to the grid at the
    * piece's offset; a group straddling a transition fails closed (the
    * scan serves it). Values are always Spark's OWN eval of the original
    * expression at the raw minimum — real zone rules, never re-derived.
    * ONLY constancy-based serving may consume these keys (grouped folds,
    * wholesale filters, distinct, part extremes) — never top-k or
    * image-of-extreme, which need global monotonicity. */
  def piecewiseConstKeyOf(
      e: org.apache.spark.sql.catalyst.expressions.Expression,
      isIndexed: org.apache.spark.sql.catalyst.expressions.AttributeReference => Boolean)
      : Option[(org.apache.spark.sql.catalyst.expressions.AttributeReference, RgConstKey)] = {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Cast, DateFormatClass, DayName, DayOfMonth, DayOfWeek, DayOfYear, FromUTCTimestamp, Hour, LastDay, Literal, Minute, Month, MonthName, Quarter, Second, TruncTimestamp, WeekDay, WeekOfYear, Year}
    import org.apache.spark.sql.types.{DateType, StringType, TimestampType}
    def evalAt(ar: AttributeReference): Any => Any = v => {
      val sub = e.transformUp {
        case a: AttributeReference if a.exprId == ar.exprId =>
          Literal(v, ar.dataType)
      }
      sub.eval(null)
    }
    // The instant leg the consuming expression reads through a GEOGRAPHIC
    // zone: the raw LTZ attribute read directly in a geographic `outerTz`
    // (base shift 0), or `from_utc_timestamp(attr, geoZoneLit)` whose
    // OUTPUT — stored micros already shifted by the zone offset AT the
    // instant — is read at a FIXED-offset outerTz (base = that offset;
    // the wall clock the consumer sees is raw + (zoneOff + base)).
    // Exactly one geographic zone per leg.
    def zonedLeg(x: org.apache.spark.sql.catalyst.expressions.Expression,
        outerTz: Option[String])
        : Option[(AttributeReference, java.time.ZoneId, Int)] = x match {
      case ar: AttributeReference
          if ar.dataType == TimestampType && isIndexed(ar) =>
        geoZoneOf(outerTz).map(z => (ar, z, 0))
      case f: FromUTCTimestamp => (f.left, f.right) match {
        case (ar: AttributeReference, Literal(zs: UTF8String, StringType))
            if ar.dataType == TimestampType && isIndexed(ar) && zs != null =>
          for {
            z <- geoZoneOfName(zs.toString)
            base <- fixedOffsetSeconds(outerTz)
          } yield (ar, z, base)
        case _ => None
      }
      case _ => None
    }
    // determiner grids over the RAW micros, parameterized by the zone
    // offset the transition-free row group certifies
    def dayGrid(base: Int): Int => Option[KeyImage] =
      off => Some(castDate(off + base))
    def calGrid(unit: String, base: Int): Int => Option[KeyImage] =
      off => TruncDateImage.forUnit(unit)
        .map(t => ChainedImage(castDate(off + base), t))
    def timeGrid(unit: String, base: Int): Int => Option[KeyImage] =
      off => TruncTimestampImage.forUnit(unit, off + base)
    def mk(partId: String, ar: AttributeReference, zone: java.time.ZoneId,
        grid: Int => Option[KeyImage], rt: DataType)
        : Option[(AttributeReference, RgConstKey)] =
      Some((ar, PiecewiseZoneConstKey(partId, zone, grid, rt, evalAt(ar))))
    // the analyzer's cast-to-date over a zoned instant leg (date parts)
    def zonedDateLeg(x: org.apache.spark.sql.catalyst.expressions.Expression)
        : Option[(AttributeReference, java.time.ZoneId, Int)] = x match {
      case c: Cast if c.dataType == DateType => zonedLeg(c.child, c.timeZoneId)
      case _ => None
    }
    def datePart(x: org.apache.spark.sql.catalyst.expressions.Expression,
        unit: Option[String], partId: String, rt: DataType = IntegerType)
        : Option[(AttributeReference, RgConstKey)] =
      zonedDateLeg(x).flatMap { case (ar, z, base) =>
        mk(partId, ar, z,
          unit.fold(dayGrid(base))(u => calGrid(u, base)), rt)
      }
    def fmtOf(x: org.apache.spark.sql.catalyst.expressions.Expression)
        : Option[String] = x match {
      case Literal(f: UTF8String, StringType) if f != null => Some(f.toString)
      case _ => None
    }
    e match {
      case c: Cast if c.dataType == DateType =>
        zonedLeg(c.child, c.timeZoneId).flatMap { case (ar, z, base) =>
          mk("date", ar, z, dayGrid(base), DateType)
        }
      case t: TruncTimestamp =>
        for {
          fmt <- fmtOf(t.format)
          (ar, z, base) <- zonedLeg(t.timestamp, t.timeZoneId)
          r <- mk(s"trunc-$fmt", ar, z, timeGrid(fmt, base), TimestampType)
        } yield r
      case dfc: DateFormatClass =>
        for {
          f <- fmtOf(dfc.right)
          gran <- formatGranularity(f)
          (ar, z, base) <- zonedLeg(dfc.left, dfc.timeZoneId)
          grid = gran match {
            case 0 => calGrid("year", base)
            case 1 => calGrid("quarter", base)
            case 2 => calGrid("month", base)
            case 4 => dayGrid(base)
            case g => timeGrid(granUnit(g), base)
          }
          r <- mk(s"datefmt[$f]", ar, z, grid, StringType)
        } yield r
      case Year(x)       => datePart(x, Some("year"), "year")
      case Month(x)      => datePart(x, Some("month"), "month")
      case Quarter(x)    => datePart(x, Some("quarter"), "quarter")
      case WeekOfYear(x) => datePart(x, Some("week"), "weekofyear")
      case DayOfMonth(x) => datePart(x, None, "dayofmonth")
      case DayOfWeek(x)  => datePart(x, None, "dayofweek")
      case WeekDay(x)    => datePart(x, None, "weekday")
      case DayOfYear(x)  => datePart(x, None, "dayofyear")
      case MonthName(x)  => datePart(x, Some("month"), "monthname", StringType)
      case DayName(x)    => datePart(x, None, "dayname", StringType)
      case LastDay(x)    => datePart(x, Some("month"), "last_day", DateType)
      case h: Hour =>
        zonedLeg(h.child, h.timeZoneId).flatMap { case (ar, z, base) =>
          mk("hour", ar, z, timeGrid("hour", base), IntegerType) }
      case m: Minute =>
        zonedLeg(m.child, m.timeZoneId).flatMap { case (ar, z, base) =>
          mk("minute", ar, z, timeGrid("minute", base), IntegerType) }
      case s: Second =>
        zonedLeg(s.child, s.timeZoneId).flatMap { case (ar, z, base) =>
          mk("second", ar, z, timeGrid("second", base), IntegerType) }
      case _ => None
    }
  }

  /** A per-piece MONOTONE leg (r14): an expression over an indexed LTZ
    * attribute, read through a GEOGRAPHIC zone, whose VALUE on any
    * transition-free instant interval equals a fixed-offset image of the
    * raw micros — so per row group its exact value range is
    * [img(min), img(max)] once the piece certifies transition-free.
    * This is what serves RANGE/equality comparisons that Spark's own
    * optimizer produces by unwrapping `cast(from_utc_timestamp(ts, z)
    * AS date) = d` into `from_utc_timestamp(ts, z) >= A AND < B`.
    * Recognized legs (both EXACT under a piece-constant offset — pure
    * wall-clock floors, no back-conversion through the zone):
    *  - `from_utc_timestamp(attr, geoZone)` itself (value = raw + off);
    *  - `CAST(from_utc_timestamp(attr, geoZone) AS DATE)` at a
    *    fixed-offset outer zone (value = epoch-day floor of the shifted
    *    wall clock).
    * `date_trunc` legs are deliberately NOT recognized: the trunc's
    * back-conversion to an instant uses the offset AT THE BUCKET START,
    * which can differ from the piece's offset even on a transition-free
    * [min, max] — deciding comparisons from the fixed-offset image
    * there would be unsound. Returns (attr, zone, grid) where
    * `grid(pieceOffsetSeconds)` is the exact value image on the piece. */
  def piecewiseMonotoneOf(
      e: org.apache.spark.sql.catalyst.expressions.Expression,
      isIndexed: org.apache.spark.sql.catalyst.expressions.AttributeReference => Boolean)
      : Option[(org.apache.spark.sql.catalyst.expressions.AttributeReference,
        java.time.ZoneId, Int => Option[KeyImage])] = {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Cast, FromUTCTimestamp, Literal}
    import org.apache.spark.sql.types.{DateType, StringType, TimestampType}
    def futcLeg(x: org.apache.spark.sql.catalyst.expressions.Expression)
        : Option[(AttributeReference, java.time.ZoneId)] = x match {
      case f: FromUTCTimestamp => (f.left, f.right) match {
        case (ar: AttributeReference, Literal(zs: UTF8String, StringType))
            if ar.dataType == TimestampType && isIndexed(ar) && zs != null =>
          geoZoneOfName(zs.toString).map(z => (ar, z))
        case _ => None
      }
      case _ => None
    }
    e match {
      case f: FromUTCTimestamp =>
        futcLeg(f).map { case (ar, z) =>
          (ar, z, (off: Int) => Option[KeyImage](
            ShiftMicrosImage(off.toLong * MicrosPerSecond)))
        }
      case c: Cast if c.dataType == DateType =>
        for {
          (ar, z) <- futcLeg(c.child)
          base <- fixedOffsetSeconds(c.timeZoneId)
        } yield (ar, z, (off: Int) => Option[KeyImage](castDate(off + base)))
      case _ => None
    }
  }

  /** Granularity a `date_format` pattern needs its determiner grid at:
    * 0=year 1=quarter 2=month 4=day 5=hour 6=minute 7=second — the max
    * over the pattern's field tokens (quoted runs are literal text).
    * None = a token whose grid we don't certify: sub-second (S/n/N/A —
    * finer than any trunc grid), zone renderings (z/V/O/x/X/Z), or
    * anything unrecognized. Week-based fields (Y/w/W) and day fields
    * share the DAY grid: their week anchor is locale business, but a
    * calendar day always determines them. */
  private[index] def formatGranularity(fmt: String): Option[Int] = {
    var gran = 0
    var i = 0
    while (i < fmt.length) {
      val ch = fmt.charAt(i)
      if (ch == '\'') {
        i += 1
        var closed = false
        while (i < fmt.length && !closed) {
          if (fmt.charAt(i) == '\'') {
            if (i + 1 < fmt.length && fmt.charAt(i + 1) == '\'') i += 2
            else { closed = true; i += 1 }
          } else i += 1
        }
        if (!closed) return None // malformed pattern: decline, Spark throws
      } else if (ch.isLetter) {
        val g = ch match {
          case 'G' | 'y' | 'u' => 0
          case 'Q' | 'q' => 1
          case 'M' | 'L' => 2
          case 'Y' | 'w' | 'W' | 'd' | 'D' | 'E' | 'e' | 'c' | 'F' => 4
          case 'a' | 'B' | 'h' | 'H' | 'k' | 'K' => 5
          case 'm' => 6
          case 's' => 7
          case _ => return None
        }
        if (g > gran) gran = g
        i += 1
      } else i += 1
    }
    Some(gran)
  }

  private[index] def granUnit(g: Int): String = g match {
    case 5 => "hour"
    case 6 => "minute"
    case _ => "second"
  }

  /** `CAST(ts AS DATE)` under a FIXED-OFFSET session zone: identity
    * shift then epoch-day floor. Zero offset is the shared singleton so
    * existing route tags and equality stay stable. */
  def castDate(offsetSeconds: Int): KeyImage =
    if (offsetSeconds == 0) CastDateImage else CastDateZonedImage(offsetSeconds)

  /** Derby floor-to-grid over a BIGINT expression: `x - mod₊(x + a, w)`
    * shifted so the grid's origin sits at `-anchor` — the non-negative
    * remainder form works for either sign of x (Derby MOD follows the
    * dividend's sign). */
  private[index] def floorToGrid(e: String, w: Long, anchor: Long): String = {
    val shifted = if (anchor == 0L) s"($e)" else s"($e + $anchor)"
    s"($shifted - MOD(MOD($shifted, $w) + $w, $w)${
      if (anchor == 0L) "" else s" - $anchor"})"
  }
}

object TruncTimestampImage {
  private val MicrosPerDay = KeyImage.MicrosPerDay

  /** Fixed width in microseconds for the modulus-renderable units, plus
    * the anchor offset added before the modulus (week truncates to
    * MONDAY; the epoch is a Thursday, so shifting by 3 days aligns the
    * week grid). Calendar units (month/quarter/year) have no fixed
    * width — planner-side only. */
  private val fixedWidth: Map[String, (Long, Long)] = Map(
    "microsecond" -> (1L, 0L),
    "millisecond" -> (1000L, 0L),
    "second" -> (1000000L, 0L),
    "minute" -> (60000000L, 0L),
    "hour" -> (3600000000L, 0L),
    "day" -> (MicrosPerDay, 0L),
    "dd" -> (MicrosPerDay, 0L),
    "week" -> (7L * MicrosPerDay, 3L * MicrosPerDay))

  /** The image for `date_trunc(unit, <timestamp col>)` under a
    * FIXED-OFFSET session zone (r12: offset-parameterized — UTC is the
    * zero case), or None when Spark itself rejects the unit.
    * Monotonicity holds for ANY fixed offset: local wall time is the
    * instant plus a constant, so there is no DST fold where it runs
    * backward; callers must verify the session zone is fixed-offset
    * (TopKPushdown.fixedOffsetSeconds) before constructing one. */
  def forUnit(unit: String, offsetSeconds: Int = 0): Option[TruncTimestampImage] = {
    val level = DateTimeUtils.parseTruncLevel(UTF8String.fromString(unit))
    // Spark signals an unusable unit with a sentinel below the smallest
    // timestamp level; probe by truncating a known value — an invalid
    // level makes truncTimestamp throw or TruncTimestamp return null,
    // so mirror its validity via a defensive try
    try {
      DateTimeUtils.truncTimestamp(0L, level,
        java.time.ZoneOffset.ofTotalSeconds(offsetSeconds))
      Some(TruncTimestampImage(
        unit.toLowerCase(java.util.Locale.ROOT), level, offsetSeconds))
    } catch { case _: Throwable => None }
  }
}

/** `CAST(ts AS DATE)` as a sort key (r11): epoch micros → epoch days.
  * For TIMESTAMP_NTZ the micros ARE wall-clock micros, so the floor
  * division is the cast's own arithmetic regardless of zone; for
  * TIMESTAMP (LTZ) callers must verify the zero-offset session zone
  * first (the cast reads wall time in the session zone). Renders into
  * the catalog walk as a floor division over the stored BIGINT micros. */
case object CastDateImage extends KeyImage {
  private val DayMicros = 86400000000L
  def id: String = "date"
  def acceptsInput(dt: DataType): Boolean =
    dt == TimestampType || dt == TimestampNTZType
  def resultType: DataType = DateType
  def apply(v: Any): Any =
    java.lang.Integer.valueOf(
      Math.floorDiv(v.asInstanceOf[java.lang.Number].longValue, DayMicros).toInt)
  def derbySql: Option[String => String] = Some { e =>
    // floor division for either sign: subtract the non-negative remainder
    // first, then the quotient is exact
    s"((($e) - MOD(MOD($e, $DayMicros) + $DayMicros, $DayMicros)) / $DayMicros)"
  }
}

/** See [[TruncTimestampImage.forUnit]]; `level` is Spark's parsed trunc
  * level so [[apply]] is literally the same `DateTimeUtils.truncTimestamp`
  * call the data-space `TruncTimestamp` expression evaluates —
  * `offsetSeconds` the session's fixed zone offset (0 = UTC). */
final case class TruncTimestampImage private (
    unit: String, level: Int, offsetSeconds: Int = 0)
    extends KeyImage {
  def id: String =
    if (offsetSeconds == 0) unit else s"$unit@$offsetSeconds"
  /** Both timestamp flavors: the catalog stores each as BIGINT micros,
    * and an NTZ value's micros ARE its UTC wall-clock micros — under the
    * UTC session precondition, `date_trunc(cast(ntz AS timestamp))`
    * truncates exactly those micros, so the image is the same
    * arithmetic either way. */
  def acceptsInput(dt: DataType): Boolean =
    dt == TimestampType || dt == TimestampNTZType
  def resultType: DataType = TimestampType

  def apply(v: Any): Any =
    java.lang.Long.valueOf(DateTimeUtils.truncTimestamp(
      v.asInstanceOf[java.lang.Number].longValue, level,
      java.time.ZoneOffset.ofTotalSeconds(offsetSeconds)))

  def derbySql: Option[String => String] =
    TruncTimestampImage.fixedWidth.get(unit).map { case (w, anchor) =>
      // trunc in LOCAL wall time = shift by the zone offset, floor to the
      // grid, shift back — i.e. the same grid with its anchor moved by
      // the offset (f(x) = (x+a) − mod₊(x+a, w) − a with a = anchor+off)
      (e: String) => KeyImage.floorToGrid(
        e, w, anchor + offsetSeconds * KeyImage.MicrosPerSecond)
    }
}

/** `CAST(ts AS DATE)` under a NON-ZERO fixed-offset session zone: the
  * cast reads wall time, so the epoch-day floor shifts by the offset.
  * The zero-offset case stays the [[CastDateImage]] singleton. */
final case class CastDateZonedImage(offsetSeconds: Int) extends KeyImage {
  def id: String = s"date@$offsetSeconds"
  def acceptsInput(dt: DataType): Boolean = dt == TimestampType
  def resultType: DataType = DateType
  def apply(v: Any): Any =
    java.lang.Integer.valueOf(Math.floorDiv(
      v.asInstanceOf[java.lang.Number].longValue +
        offsetSeconds * KeyImage.MicrosPerSecond,
      KeyImage.MicrosPerDay).toInt)
  def derbySql: Option[String => String] = Some { e =>
    val d = KeyImage.MicrosPerDay
    val shifted = s"(($e) + ${offsetSeconds * KeyImage.MicrosPerSecond})"
    s"(($shifted - MOD(MOD($shifted, $d) + $d, $d)) / $d)"
  }
}

object TruncDateImage {
  // Monday-anchored week grid over epoch DAYS: day 0 (1970-01-01) is a
  // Thursday, so shifting by 3 aligns the grid to Mondays. Calendar
  // units (month/quarter/year) have no fixed width — planner-side only.
  private val weekAnchor = 3L

  // Spark's level constants are private[sql]; WEEK is both the finest
  // date-trunc level and the only fixed-width one, so derive it through
  // the public parser
  private[index] val weekLevel =
    DateTimeUtils.parseTruncLevel(UTF8String.fromString("week"))

  /** The image for `trunc(<date col>, unit)` — Spark's date-truncation
    * function (unit ∈ year/quarter/month/week and their aliases), or
    * None when Spark rejects the unit for dates. Zone-free: DATE carries
    * no instant, so monotonicity needs no session precondition. */
  def forUnit(unit: String): Option[TruncDateImage] = {
    val level = DateTimeUtils.parseTruncLevel(UTF8String.fromString(unit))
    // TruncDate supports only week and coarser — probe exactly the call
    // the data-space expression evaluates
    try {
      if (level < weekLevel) None // coarser levels have larger codes
      else {
        DateTimeUtils.truncDate(0, level)
        Some(TruncDateImage(unit.toLowerCase(java.util.Locale.ROOT), level))
      }
    } catch { case _: Throwable => None }
  }
}

/** See [[TruncDateImage.forUnit]]: calendar floor over epoch days, the
  * DATE-column counterpart of [[TruncTimestampImage]]. */
final case class TruncDateImage private (unit: String, level: Int)
    extends KeyImage {
  def id: String = s"trunc-$unit"
  def acceptsInput(dt: DataType): Boolean = dt == DateType
  def resultType: DataType = DateType
  def apply(v: Any): Any =
    java.lang.Integer.valueOf(
      DateTimeUtils.truncDate(v.asInstanceOf[java.lang.Number].intValue, level))
  def derbySql: Option[String => String] =
    if (level == TruncDateImage.weekLevel)
      Some(e => KeyImage.floorToGrid(e, 7L, TruncDateImage.weekAnchor))
    else None // calendar units: planner-side derivation only
}

/** `year(<date col>)` as a sort key (r12): epoch days → proleptic
  * Gregorian year, the coarsest calendar image. Monotone by the calendar
  * (a later day is never an earlier year); zone-free over DATE. For
  * `year(<timestamp col>)` the analyzer inserts `CAST(ts AS DATE)` and
  * the composed [[ChainedImage]] carries the zone through the cast leg.
  * No Derby rendering (calendar math) — planner-side derivation only,
  * still one O(index) fetch. */
case object YearImage extends KeyImage {
  def id: String = "year"
  def acceptsInput(dt: DataType): Boolean = dt == DateType
  def resultType: DataType = IntegerType
  def apply(v: Any): Any =
    java.lang.Integer.valueOf(
      DateTimeUtils.getYear(v.asInstanceOf[java.lang.Number].intValue))
  def derbySql: Option[String => String] = None
}

/** `unix_timestamp(<timestamp col>)` as a sort key (r12): epoch micros →
  * epoch seconds by TRUNCATING division — exactly Spark's `UnixTimestamp`
  * arithmetic on TimestampType (`t / MICROS_PER_SECOND`, toward zero, NOT
  * floor), which matters for pre-1970 instants with sub-second micros
  * where floor is one less than Spark's actual key. Truncating division
  * by a positive width is still monotone non-decreasing, and Derby
  * BIGINT division also truncates toward zero, so the catalog rendering
  * is the plain quotient. Zone-INDEPENDENT for TIMESTAMP input (the
  * value is the instant's own epoch clock). */
case object UnixSecondsImage extends KeyImage {
  def id: String = "unixsec"
  // NTZ too (r13): Spark's unix_timestamp divides a naive operand's wall
  // micros directly, ignoring the session zone — the same arithmetic
  // this image applies to the catalog's stored micros
  def acceptsInput(dt: DataType): Boolean =
    dt == TimestampType || dt == TimestampNTZType
  def resultType: DataType = LongType
  def apply(v: Any): Any =
    java.lang.Long.valueOf(
      v.asInstanceOf[java.lang.Number].longValue / KeyImage.MicrosPerSecond)
  def derbySql: Option[String => String] = Some { e =>
    s"(($e) / ${KeyImage.MicrosPerSecond})"
  }
}

/** NTZ-operand adapter (r13): the analyzer serves
  * `date_trunc(unit, <ntz col>)` by CASTING the naive timestamp to an
  * instant in the session zone first — for a fixed offset `off`, instant
  * micros = stored NTZ wall micros − off·10⁶. Adding that constant shift
  * in front of an instant-reading image keeps monotonicity (a constant
  * shift is strictly increasing) and makes [[apply]] equal Spark's
  * composed key exactly: `inner(v + deltaMicros)` with
  * `deltaMicros = −off·10⁶`. The Derby rendering shifts the stats
  * expression the same way. Only NTZ columns need this adapter — their
  * catalog encoding is wall micros; the id keeps the inner tag (which
  * already names the offset) plus an `.ntz` marker for route readers. */
final case class InputShiftImage(deltaMicros: Long, inner: KeyImage)
    extends KeyImage {
  def id: String = s"${inner.id}.ntz"
  def acceptsInput(dt: DataType): Boolean = dt == TimestampNTZType
  def resultType: DataType = inner.resultType
  def apply(v: Any): Any =
    // addExact: same fail-closed overflow posture as ShiftMicrosImage
    inner(java.lang.Long.valueOf(Math.addExact(
      v.asInstanceOf[java.lang.Number].longValue, deltaMicros)))
  def derbySql: Option[String => String] =
    inner.derbySql.map(f => (e: String) => f(s"(($e) + $deltaMicros)"))
}

/** `v -> v + deltaMicros` (r14): the piecewise-monotone leg's own value
  * space — `from_utc_timestamp(ts, zone)` on a transition-free piece IS
  * the raw micros plus the piece's constant offset. Monotone (constant
  * shift); used only planner-side by the piecewise interval refinement
  * (its Derby rendering exists but no catalog path consumes it — the
  * per-piece offset varies by row group). */
final case class ShiftMicrosImage(deltaMicros: Long) extends KeyImage {
  def id: String = s"shift@$deltaMicros"
  def acceptsInput(dt: DataType): Boolean = dt == TimestampType
  def resultType: DataType = TimestampType
  def apply(v: Any): Any =
    // addExact: near the micros domain extremes an unchecked sum could
    // wrap and silently invert an interval decision — overflow throws
    // instead and the Try-wrapped decision path fails closed (keep)
    java.lang.Long.valueOf(Math.addExact(
      v.asInstanceOf[java.lang.Number].longValue, deltaMicros))
  def derbySql: Option[String => String] =
    Some(e => s"(($e) + $deltaMicros)")
}

/** Monotone composition `outer ∘ inner` (r12) — e.g. `year(ts)` is
  * `YearImage ∘ CAST(ts AS DATE)`. A composition of monotone
  * non-decreasing maps is monotone, so the derived-stats argument
  * carries through unchanged; the Derby rendering composes only when
  * BOTH legs render (the inner leg's SQL encoding is its catalog result
  * encoding, which is exactly what the outer leg consumes). */
final case class ChainedImage(inner: KeyImage, outer: KeyImage)
    extends KeyImage {
  require(outer.acceptsInput(inner.resultType),
    s"image ${outer.id} cannot consume ${inner.id}'s ${inner.resultType}")
  def id: String = s"${outer.id}.${inner.id}"
  def acceptsInput(dt: DataType): Boolean = inner.acceptsInput(dt)
  def resultType: DataType = outer.resultType
  def apply(v: Any): Any = outer(inner(v))
  def derbySql: Option[String => String] =
    for (fi <- inner.derbySql; fo <- outer.derbySql) yield (e: String) => fo(fi(e))
}

/** A per-row-group CONSTANCY certificate for a derived key expression
  * (r13): [[constantOf]] proves from the column's raw non-null extremes
  * that every non-null row of the group shares ONE value of the
  * expression, and returns that value (for the integral calendar
  * results the catalog and Catalyst-internal encodings coincide).
  * None = straddler — the caller fails closed. Called only through
  * `graft.prune.PartPrune.constancy`, which also fails closed on a
  * throwing certificate; its users are the constancy engine's
  * `decide` (the scan-path refinement and the idx44/idx47 filtered
  * folds), the grouped fold (GROUP BY keys), DISTINCT-from-constancy
  * and part extremes — never the image-of-extreme or top-k
  * certificates, which need monotonicity a [[DeterminedConstKey]] does
  * not have. */
sealed trait RgConstKey extends Serializable {
  /** Stable tag for key identity (grouping-key dedup) and route logs. */
  def id: String
  def resultType: DataType
  def constantOf(mn: Any, mx: Any): Option[Any]
}

/** A raw indexed column as its own key: constant iff min = max. The
  * call sites gate which types qualify (verbatim-exact stats only). */
final case class RawConstKey(resultType: DataType) extends RgConstKey {
  def id: String = "raw"
  def constantOf(mn: Any, mx: Any): Option[Any] =
    if (mn == mx) Some(mx) else None
}

/** A monotone image key: constant in the IMAGE iff f(min) = f(max) —
  * monotonicity puts every row between the extremes in the same bucket. */
final case class ImageConstKey(img: KeyImage) extends RgConstKey {
  def id: String = img.id
  def resultType: DataType = img.resultType
  def constantOf(mn: Any, mx: Any): Option[Any] = {
    val (a, b) = (img(mn), img(mx))
    if (a == b) Some(b) else None
  }
}

/** A NON-monotone calendar part determined by a FINER monotone image:
  * determiner-constancy proves the raw values all share one determiner
  * bucket, and the part factors through that bucket (month through
  * trunc-month, dayofweek through the day, hour through trunc-hour), so
  * it is constant; its value is Spark's own eval of the original
  * expression at the raw minimum. `determiner = None` means day-level
  * (raw DATE) constancy: min = max. A null eval result fails closed
  * (field extraction of a non-null operand never yields one). */
final case class DeterminedConstKey(
    partId: String, determiner: Option[KeyImage], resultType: DataType,
    eval: Any => Any,
    /** Whether the part is null exactly when its operand is (true for
      * field extractions, names, anchors, date_format; FALSE for
      * next_day, which nulls on a bad weekday literal under non-ANSI) —
      * the precondition for COUNT(part) = COUNT(operand). */
    nullPreserving: Boolean = true) extends RgConstKey {
  def id: String = s"det-$partId" + determiner.map("." + _.id).getOrElse("")
  def constantOf(mn: Any, mx: Any): Option[Any] = {
    val const = determiner match {
      case Some(d) => d(mn) == d(mx)
      case None    => mn == mx
    }
    if (const) Option(eval(mn)) else None
  }
}

/** A DST-PIECEWISE constancy certificate (r14): a calendar key read
  * through a GEOGRAPHIC zone, certified per row group on the pieces
  * where the zone's offset is constant. [[constantOf]] receives the
  * group's raw instant extremes (catalog BIGINT micros); if the zone
  * rules place NO transition inside `(mn, mx]`, the offset over the
  * whole group is `getOffset(mn)` — local wall time on that piece is the
  * instant plus that one constant, so the FIXED-OFFSET determiner grid
  * `gridAt(offset)` applies verbatim: grid-bucket equality at the
  * extremes proves every row shares the bucket (the shifted grid is
  * monotone on the piece), the key is a function of the bucket, and the
  * value is Spark's own eval of the original expression at the raw
  * minimum (real zone rules — the grid only ever answers the equality
  * question, never renders a value). A group straddling a transition,
  * an unbuildable grid, or non-micros stats fail closed (None — the
  * scan serves that group). The piece and its offset, boundaries
  * included, are [[KeyImage.pieceOffset]]'s.
  *
  * All recognized shapes are null-preserving (casts, from_utc_timestamp,
  * field extractions, names, anchors, date_format), the precondition for
  * COUNT(key) = COUNT(operand). */
final case class PiecewiseZoneConstKey(
    partId: String,
    zone: java.time.ZoneId,
    gridAt: Int => Option[KeyImage],
    resultType: DataType,
    eval: Any => Any,
    nullPreserving: Boolean = true) extends RgConstKey {
  def id: String = s"pw-$partId@${zone.getId}"
  def constantOf(mn: Any, mx: Any): Option[Any] = (mn, mx) match {
    case (a: java.lang.Number, b: java.lang.Number) =>
      val (av, bv) = (a.longValue, b.longValue)
      KeyImage.pieceOffset(zone, av, bv).flatMap(gridAt).flatMap { g =>
        if (g(av) == g(bv)) Option(eval(av)) else None
      }
    case _ => None
  }
}

/** A comparison of a per-piece monotone leg ([[KeyImage.piecewiseMonotoneOf]])
  * against literals (r14) as a BOOLEAN constancy key: on a
  * transition-free piece the leg's exact value range over the group is
  * [grid(off)(mn), grid(off)(mx)] (footer extremes are attained), and
  * `decide(lo, hi)` is Some(b) when the comparison is b on that whole
  * range, None when it is mixed. A NULL leg compares to NULL. */
final case class PiecewiseCmpKey(
    zone: java.time.ZoneId,
    gridAt: Int => Option[KeyImage],
    decide: (Long, Long) => Option[Boolean]) extends RgConstKey {
  def id: String = s"pw-cmp@${zone.getId}"
  def resultType: DataType = BooleanType
  def constantOf(mn: Any, mx: Any): Option[Any] = (mn, mx) match {
    case (a: java.lang.Number, b: java.lang.Number) =>
      def at(g: KeyImage, v: Long) = g(v).asInstanceOf[java.lang.Number].longValue
      val (av, bv) = (a.longValue, b.longValue)
      KeyImage.pieceOffset(zone, av, bv).flatMap(gridAt)
        .flatMap(g => decide(at(g, av), at(g, bv))).map(Boolean.box)
    case _ => None
  }
}
