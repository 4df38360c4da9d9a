package graft.index

import org.apache.spark.sql.catalyst.expressions.{And, Expression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The ONE place the catalog's JDBC value encodings bridge to Catalyst
  * internals, the ONE verbatim-exact type gate and the ONE conjunct
  * splitter — shared by the row-group constancy engine (prune/PartPrune,
  * whose `evalAt` bridges every slot value here), the aggregate-fold
  * rule (plans/StatsAggPushdown), the top-k rule and the scan paths, so
  * the certified-type set cannot drift between serving paths. */
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
}
