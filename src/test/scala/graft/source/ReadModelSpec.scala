package graft.source

import graft.bson._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** The drift guard of [[ReadModel]]: its storage tables must say what
  * RowCodec really reads and writes, or every gate derived from them
  * goes stale when a read rule changes. Needs no Spark session.
  */
class ReadModelSpec extends AnyFunSuite {

  private val types: Seq[DataType] = Seq(BooleanType, ByteType, ShortType,
    IntegerType, LongType, FloatType, DoubleType, DecimalType(10, 2), StringType,
    BinaryType, DateType, TimestampType, TimestampNTZType)

  /** One value of every BSON storage a scalar column can hold. */
  private val samples: Seq[BsonValue] = Seq(BInt32(7), BInt64(7L), BDouble(7.5),
    BString("s"), BSymbol("sym"), BObjectId("000000000000000000000001"),
    BRegex("a.*", "i"), BBool(true), BDate(86400000L), BTimestamp(1, 0),
    BBinary(Array[Byte](1, 2)))

  private def schema(dt: DataType) = StructType(Seq(StructField("v", dt)))

  test("RowCodec reads a storage into a type iff the model lists it") {
    for (dt <- types; v <- samples) {
      val reads = scala.util.Try(RowCodec.toRow(BDoc("v" -> v), schema(dt))).isSuccess
      assert(reads === ReadModel.Reads.getOrElse(dt, Set.empty).contains(v.getClass),
        s"RowCodec ${if (reads) "reads" else "does not read"} ${v.getClass.getSimpleName} " +
          s"as $dt, the model says otherwise")
    }
  }

  test("RowCodec writes the model's uniform storage for each type") {
    val values: Map[DataType, Any] = Map(IntegerType -> 7, LongType -> 7L,
      DoubleType -> 7.5, FloatType -> 7.5f, StringType -> UTF8String.fromString("s"),
      BooleanType -> true, TimestampType -> 86400000000L,
      TimestampNTZType -> 86400000000L, DateType -> 1, BinaryType -> Array[Byte](1))
    assert(values.keySet === ReadModel.Writes.keySet)
    for ((dt, x) <- values) {
      val written = RowCodec.toBson(InternalRow(x), schema(dt)).fields("v")
      assert(written.getClass === ReadModel.Writes(dt), s"$dt wrote $written")
    }
  }

  test("every compared type reads back the storage it writes") {
    for (dt <- ReadModel.Compared)
      assert(ReadModel.Reads(dt).contains(ReadModel.Writes(dt)), s"$dt")
  }
}
