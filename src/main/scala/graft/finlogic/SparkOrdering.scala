package graft.finlogic

import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Spark's ascending sort orders, on values as `collect()` returns
  * them, for the answers FinData and Company build on the driver. */
private[finlogic] object SparkOrdering {

  /** Spark's string order: UTF-8 bytes, unsigned. */
  val Utf8: Ordering[String] = Ordering.by(UTF8String.fromString)

  /** Spark's double order: NaN above every value, -0.0 equal to 0.0. */
  val Double: Ordering[Double] = (x, y) => if (x == y) 0 else java.lang.Double.compare(x, y)

  /** The order of a non-null value of type `dt`, one of the types of
    * the indicators' columns that rank can sort by. */
  def of(dt: DataType): Ordering[Any] = (dt match {
    case DoubleType => Double
    case LongType => Ordering.Long
    case BooleanType => Ordering.Boolean
    case DateType => Ordering.by(DateTimeUtils.anyToDays)
    case other => throw new IllegalArgumentException(s"no driver-side order for $other")
  }).asInstanceOf[Ordering[Any]]
}
