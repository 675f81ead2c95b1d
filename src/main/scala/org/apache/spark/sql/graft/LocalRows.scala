package org.apache.spark.sql.graft

import org.apache.spark.sql.{classic, DataFrame, Encoder, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.encoderFor
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.types.StructType
import scala.collection.immutable.ArraySeq

/** Driver-side objects encoded to Catalyst rows ONCE — what
  * `Seq(...).toDF()` does inside `createDataset` — kept so that several
  * encoded batches can become one `LocalRelation` without re-encoding
  * and without a `union` plan per batch (`Dataset.ofRows` over a
  * `LogicalPlan`, the `private[sql]` factory this namespace may call).
  */
final class LocalRows private (val schema: StructType,
                               private val rows: Array[InternalRow]) {
  def size: Int = rows.length

  def toDF(spark: SparkSession): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      LocalRelation(DataTypeUtils.toAttributes(schema),
        ArraySeq.unsafeWrapArray(rows)))
}

object LocalRows {
  def apply[T: Encoder](data: Seq[T]): LocalRows = {
    val enc = encoderFor[T]
    val toRow = enc.createSerializer()
    // the serializer reuses one output row: copy each, as createDataset does
    new LocalRows(enc.schema, data.iterator.map(d => toRow(d).copy()).toArray)
  }

  /** One relation over every part's rows, in part order; `parts` is
    * non-empty and of one schema. Copies row references, never row
    * contents. */
  def concat(parts: Seq[LocalRows]): LocalRows =
    if (parts.size == 1) parts.head
    else new LocalRows(parts.head.schema, parts.flatMap(_.rows).toArray)
}
