package org.apache.spark.sql.graftbridge

import scala.reflect.ClassTag

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column <-> Expression bridge. `ExpressionUtils` is private[sql] in
  * Spark 4.x, so extension libraries shipping native Catalyst expressions
  * expose it from a package under org.apache.spark.sql (the conventional
  * pattern for Spark extension projects). The same holds for
  * `RDD.mapPartitionsInternal`, which Spark's own operators call to skip
  * per-job closure cleaning.
  */
object Bridge {
  def column(e: Expression): Column     = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  def mapPartitions[T, U: ClassTag](rdd: RDD[T])(f: Iterator[T] => Iterator[U]): RDD[U] =
    rdd.mapPartitionsInternal(f)

  def mapPartitionsWithIndex[T, U: ClassTag](rdd: RDD[T])(f: (Int, Iterator[T]) => Iterator[U]): RDD[U] =
    rdd.mapPartitionsWithIndexInternal(f)
}
