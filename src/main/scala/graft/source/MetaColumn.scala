package graft.source

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

/** A constant metadata column — `_file` on graftbson, `_ns` on graftserver —
  * spliced into each decoded row at its position in the read schema. When
  * `live` is false (the column was not requested, or a data column of the
  * same name shadows it) rows pass through untouched.
  */
final class MetaColumn(schema: StructType, name: String, live: Boolean, value: String) {
  private val idx: Int = if (live) schema.fieldNames.indexOf(name) else -1
  private val utf8: UTF8String = if (idx < 0) null else UTF8String.fromString(value)

  /** The schema a reader decodes: the read schema without the column. */
  val decodeSchema: StructType =
    if (idx < 0) schema else StructType(schema.fields.patch(idx, Nil, 1))

  /** A row decoded with [[decodeSchema]], with the value spliced in. */
  def splice(row: InternalRow): InternalRow =
    if (idx < 0) row
    else {
      val vals = new Array[Any](schema.length)
      var i = 0
      var j = 0
      while (i < schema.length) {
        if (i == idx) vals(i) = utf8
        else { vals(i) = row.get(j, decodeSchema.fields(j).dataType); j += 1 }
        i += 1
      }
      new GenericInternalRow(vals)
    }
}
