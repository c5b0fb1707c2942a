package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, Expression, UnsafeProjection}
import org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers
import org.apache.spark.sql.catalyst.util.UnsafeRowUtils
import org.apache.spark.sql.types.DataType

/** Grouping keys in the binary form Spark's hash aggregate compares them
  * in: each field normalized the way the optimizer's
  * `NormalizeFloatingNumbers` rewrites grouping expressions (-0.0 → 0.0,
  * every NaN → one NaN, inside structs and arrays too), then projected to
  * an `UnsafeRow`, whose byte equality and hash are the aggregate's. A
  * driver-side map keyed this way groups exactly like GROUP BY, with NULL,
  * floating-point and binary keys included. `normalize` is
  * `private[sql]`, hence this package.
  */
object GroupKeys {

  /** Whether GROUP BY equality on `t` is byte equality of its normalized
    * binary form — false for a string under a non-binary collation
    * (`UTF8_LCASE` groups "a" with "A"), which [[projection]] would keep
    * apart. */
  def exact(t: DataType): Boolean = UnsafeRowUtils.isBinaryStable(t)

  /** Projects `fields` — `(ordinal, type, compareAs)` of an input
    * `InternalRow` — each cast to `compareAs` when that differs from its
    * type. The projection reuses its output row: copy a key that must
    * outlive the next call.
    */
  def projection(fields: Seq[(Int, DataType, DataType)],
                 timeZone: String): UnsafeProjection =
    UnsafeProjection.create(fields.map { case (i, t, as) =>
      val ref: Expression = BoundReference(i, t, nullable = true)
      NormalizeFloatingNumbers.normalize(
        if (t == as) ref else Cast(ref, as, Some(timeZone)))
    })
}
