package graft.index

import org.apache.spark.sql.catalyst.expressions.{And, Attribute, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, Literal}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The ONE place the catalog's JDBC value encodings bridge to and from
  * Catalyst internals, the ONE verbatim-exact type gate, the ONE
  * indexed-column check, the ONE conjunct splitter and the ONE
  * attribute-vs-literal comparison recognizer — shared by the row-group
  * constancy engine (prune/PartPrune, whose `evalAt` bridges every slot
  * value here), the aggregate-fold rule (plans/StatsAggPushdown), the
  * top-k rule and the scan paths, so the certified-type set cannot drift
  * between serving paths. */
object StatsBridge {

  /** Catalog JDBC value (or an eval-internal value from a
    * [[DeterminedConstKey]]) → Catalyst internal encoding. Strings accept
    * BOTH java.lang.String (Derby) and UTF8String (Spark eval output);
    * numerics are boxed-Number-widened; a decimal that does not fit its
    * column's (precision, scale) degrades to None — no rewrite, never a
    * wrong literal. */
  def internal(v: Any, dt: DataType): Option[Any] = dt match {
    case StringType => v match {
      case u: UTF8String => Some(u)
      case s: String => Some(UTF8String.fromString(s))
      case _ => None
    }
    case ByteType => Some(v.asInstanceOf[Number].byteValue)
    case ShortType => Some(v.asInstanceOf[Number].shortValue)
    case IntegerType | DateType => Some(v.asInstanceOf[Number].intValue)
    case LongType | TimestampType | TimestampNTZType =>
      Some(v.asInstanceOf[Number].longValue)
    // a piecewise comparison's wholesale decision (PiecewiseCmpKey)
    case BooleanType => v match {
      case b: java.lang.Boolean => Some(b)
      case _ => None
    }
    case FloatType => Some(v.asInstanceOf[Number].floatValue)
    case DoubleType => Some(v.asInstanceOf[Number].doubleValue)
    case d: DecimalType =>
      scala.util.Try(org.apache.spark.sql.types.Decimal(
        BigDecimal(v.asInstanceOf[java.math.BigDecimal]),
        d.precision, d.scale)).toOption
    case _ => None
  }

  /** Catalyst internal value (non-null) → catalog storage encoding, the
    * inverse of [[internal]]: identical for integrals / date days /
    * timestamp micros; UTF8String → String; Decimal → BigDecimal. */
  def storage(v: Any): Any = v match {
    case u: UTF8String => u.toString
    case d: Decimal => d.toJavaBigDecimal
    case other => other
  }

  /** The catalog indexes `a`'s column with `a`'s own type. */
  def indexed(index: StatsIndex, a: Attribute): Boolean =
    index.indexedSchema.fields.exists(f =>
      f.name == a.name && f.dataType == a.dataType)

  /** Types whose catalog extremes are VERBATIM column values, so
    * `min = max` certifies row-group constancy and a stored extreme may
    * be served as an ANSWER: integrals, date, timestamps, decimal
    * (value comparators, stored losslessly at the column scale).
    * Strings decline (minima may be truncated — bounds, not values);
    * floats decline (±0.0/NaN comparator hazards). */
  def verbatimExact(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | DateType |
        TimestampType | TimestampNTZType => true
    case _: DecimalType => true
    case _ => false
  }

  /** Flatten a conjunction into its conjuncts. */
  def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case x => Seq(x)
  }

  /** An attribute-vs-literal comparison as bounds on the attribute:
    * `(attr, lower, upper)`, each side `(literal, inclusive)`. The
    * literal-first mirrors flip (`l < a` is `a > l`) and `a = l` bounds
    * both sides. A NULL literal bounds nothing (a comparison with NULL is
    * never TRUE), so it is not recognized. Callers keep their own fold
    * policy (re-bound sides, equalities) and their own value bridge. */
  object Comparison {
    type Bound = Option[(Literal, Boolean)]
    def unapply(e: Expression): Option[(Attribute, Bound, Bound)] = {
      val cmp: Option[(Attribute, Bound, Bound)] = e match {
        case GreaterThan(a: Attribute, l: Literal)        => Some((a, Some((l, false)), None))
        case GreaterThanOrEqual(a: Attribute, l: Literal) => Some((a, Some((l, true)), None))
        case LessThan(a: Attribute, l: Literal)           => Some((a, None, Some((l, false))))
        case LessThanOrEqual(a: Attribute, l: Literal)    => Some((a, None, Some((l, true))))
        case GreaterThan(l: Literal, a: Attribute)        => Some((a, None, Some((l, false))))
        case GreaterThanOrEqual(l: Literal, a: Attribute) => Some((a, None, Some((l, true))))
        case LessThan(l: Literal, a: Attribute)           => Some((a, Some((l, false)), None))
        case LessThanOrEqual(l: Literal, a: Attribute)    => Some((a, Some((l, true)), None))
        case EqualTo(a: Attribute, l: Literal)            => Some((a, Some((l, true)), Some((l, true))))
        case EqualTo(l: Literal, a: Attribute)            => Some((a, Some((l, true)), Some((l, true))))
        case _ => None
      }
      cmp.filter { case (_, lo, hi) => (lo ++ hi).forall(_._1.value != null) }
    }

    /** A bound with its literal in the catalog storage encoding. */
    def stored(b: Bound): Option[(Any, Boolean)] =
      b.map { case (l, inc) => (storage(l.value), inc) }
  }
}
