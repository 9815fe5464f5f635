package graft.finlogic

import org.apache.spark.unsafe.types.UTF8String

/** Spark's ascending sort orders, on values as `collect()` returns
  * them, for the answers FinData and Company build on the driver. */
private[finlogic] object SparkOrdering {

  /** Spark's string order: UTF-8 bytes, unsigned. */
  val Utf8: Ordering[String] = Ordering.by(UTF8String.fromString)

  /** Spark's double order: NaN above every value, -0.0 equal to 0.0. */
  val Double: Ordering[Double] = (x, y) => if (x == y) 0 else java.lang.Double.compare(x, y)
}
