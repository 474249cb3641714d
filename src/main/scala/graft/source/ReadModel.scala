package graft.source

import graft.bson.{BBinary, BBool, BDate, BDouble, BInt32, BInt64, BObjectId, BRegex, BString, BSymbol, BTimestamp, BsonValue}

import org.apache.spark.sql.types.{BinaryType, BooleanType, DataType, DateType, DoubleType, FloatType, IntegerType, LongType, StringType, TimestampNTZType, TimestampType}

/** The one read model behind every pushdown type gate. A pushed
  * comparison is exact only when the source compares values the way
  * Spark compares what [[graft.bson.RowCodec]] reads from them; this
  * object answers that question once, for both scan builders, the join
  * pushdown and the residual-join hoist. A new read rule or a new push
  * asks here, never in a table of its own.
  *
  *  - Storages: per Spark type, the BSON storages RowCodec reads into it
  *    ([[Reads]]) and the one it writes ([[Writes]]) — all a column may
  *    hold under `assume_uniform_storage`.
  *  - Evaluators: [[Stored]] compares stored BSON values, [[Read]]
  *    compares read values in Spark's order.
  *  - Comparisons: per evaluator, comparison and type, what makes the
  *    comparison exact ([[exact]]).
  *
  * `ReadModelSpec` checks the storage tables against RowCodec.
  */
object ReadModel {

  type Storage = Class[_ <: BsonValue]
  private def storage(cs: Storage*): Set[Storage] = cs.toSet

  /** RowCodec.toCatalyst: the storages each Spark type reads from. */
  val Reads: Map[DataType, Set[Storage]] = Map(
    IntegerType -> storage(classOf[BInt32]),
    LongType -> storage(classOf[BInt32], classOf[BInt64], classOf[BDate]),
    DoubleType -> storage(classOf[BInt32], classOf[BInt64], classOf[BDouble]),
    StringType -> storage(classOf[BString], classOf[BSymbol], classOf[BObjectId], classOf[BRegex]),
    BooleanType -> storage(classOf[BBool]),
    TimestampType -> storage(classOf[BDate], classOf[BTimestamp]),
    TimestampNTZType -> storage(classOf[BDate]),
    DateType -> storage(classOf[BDate]),
    BinaryType -> storage(classOf[BBinary]))

  /** RowCodec.fromCatalyst: the one storage each Spark type writes (a
    * FLOAT writes a Double that no read turns back into a FLOAT). */
  val Writes: Map[DataType, Storage] = Map(
    IntegerType -> classOf[BInt32], LongType -> classOf[BInt64],
    DoubleType -> classOf[BDouble], FloatType -> classOf[BDouble],
    StringType -> classOf[BString], BooleanType -> classOf[BBool],
    TimestampType -> classOf[BDate], TimestampNTZType -> classOf[BDate],
    DateType -> classOf[BDate], BinaryType -> classOf[BBinary])

  /** `assume_uniform_storage`: the caller asserts every column holds only
    * the storage this engine writes for its type ([[Writes]]). */
  def uniform(options: Map[String, String]): Boolean =
    options.get("assume_uniform_storage").exists(_.toBoolean)

  /** `ascii_columns`: doc field paths the caller asserts hold ASCII-only
    * strings (comma-separated). Over ASCII, Spark's UTF-8 byte order,
    * the engine's UTF-16 unit order and a server's binary collation
    * agree: they differ only where a supplementary character meets one
    * in [U+E000, U+FFFF]. */
  def asciiCols(options: Map[String, String]): Set[String] =
    options.get("ascii_columns").map(_.split(',').iterator
      .map(_.trim).filter(_.nonEmpty).toSet).getOrElse(Set.empty)

  /** Who compares: [[Stored]] is the server cursor's sort, `$group`
    * `$min`/`$max`, `$sum`, a `$lookup` `$expr` and graftbson's
    * option-level `sort`, all over stored BSON values
    * ([[graft.bson.BsonOrdering]]); [[Read]] is graftbson's TopN heap,
    * over the values Spark reads, in Spark's order. graftbson folds no
    * aggregate (Spark does), so [[Read]] has only an ORDER row. */
  sealed trait Evaluator extends Serializable
  case object Stored extends Evaluator
  case object Read extends Evaluator

  /** What is compared: two values for equality (a join key), for order (a
    * sort, a TopN key, MIN/MAX), two columns for order (a range join), a
    * `SUM` input, and a GROUP key. */
  sealed trait Comparison
  case object Equal extends Comparison
  case object Order extends Comparison
  case object Range extends Comparison
  case object Sum extends Comparison
  case object Group extends Comparison

  /** What makes a comparison exact: nothing, uniform storage, uniform
    * storage plus a doc field named in `ascii_columns`, or nothing can. */
  private sealed trait Need
  private case object Always extends Need
  private case object Uniform extends Need
  private case object Ascii extends Need
  private case object Never extends Need

  /** The types a push compares, the columns of the grid below. BINARY and
    * TIMESTAMP_NTZ read, but no push compares them; FLOAT and the other
    * atomic types have no read at all. */
  val Compared: Seq[DataType] =
    Seq(IntegerType, LongType, DoubleType, StringType, BooleanType, TimestampType, DateType)

  private def row(needs: Need*): Map[DataType, Need] = Compared.zip(needs).toMap
  private val all = row(Seq.fill(Compared.size)(Always): _*)

  /** The cells. Stored, per row:
    *
    *  - Equal: LONG reads from the number and Date brackets, TIMESTAMP
    *    from Date and Timestamp and STRING from String, Symbol, ObjectId
    *    and Regex, and no two brackets `$eq` one another; two stored
    *    millis within one day read as one DATE but never `$eq` — engine
    *    writes store midnight.
    *  - Order: LONG and TIMESTAMP span brackets as above (a DATE's one
    *    bracket orders like the days it reads as). STRING also needs an
    *    ASCII doc field: the engine's UTF-16 order is not Spark's; the
    *    readers verify that every returned ordered value is ASCII
    *    (`GraftServerScanBuilder.asciiCheck`). A foreign DOUBLE column
    *    holding NaN orders it below every number, Spark above.
    *  - Range: a two-column `$lt`/`$gt` compares in BSON's total order,
    *    where a cross-bracket pair is true half the time and Spark's
    *    comparison is null, so even INT and DOUBLE need uniform storage;
    *    BOOLEAN has no range push.
    *  - Sum: `$sum` skips the Date storage a LONG reads from.
    *  - Group: a source group needs only to refine read-value equality
    *    (Spark's final aggregate re-merges partial groups, such as one
    *    read day split over several stored millis) — every type does.
    *
    * Read compares what Spark compares: its one row, ORDER, is exact for
    * every type. A comparison an evaluator has no row for is never exact.
    */
  private val Cells: Map[(Evaluator, Comparison), Map[DataType, Need]] = Map(
    //                      INT      LONG     DOUBLE   STRING   BOOLEAN  TIMESTAMP DATE
    (Stored, Equal) -> row(Always,  Uniform, Always,  Uniform, Always,  Uniform,  Uniform),
    (Stored, Order) -> row(Always,  Uniform, Always,  Ascii,   Always,  Uniform,  Always),
    (Stored, Range) -> row(Uniform, Uniform, Uniform, Ascii,   Never,   Uniform,  Uniform),
    (Stored, Sum)   -> row(Always,  Uniform, Always,  Never,   Never,   Never,    Never),
    (Stored, Group) -> all,
    (Read, Order)   -> all)

  /** Whether comparison `c` on evaluator `e` is exact for a column of type
    * `dt` under these options; `docField` is the stored field the column
    * reads, where the caller knows it (`ascii_columns` names doc fields). */
  def exact(c: Comparison, dt: DataType, e: Evaluator, options: Map[String, String],
      docField: Option[String] = None): Boolean =
    Cells.get((e, c)).flatMap(_.get(dt)).getOrElse(Never) match {
      case Always => true
      case Uniform => uniform(options)
      case Ascii => uniform(options) && docField.exists(asciiCols(options).contains)
      case Never => false
    }

  /** [[exact]] for a resolved column, at its doc path. */
  def exact(c: Comparison, r: FieldResolve.Ref, e: Evaluator,
      options: Map[String, String]): Boolean =
    exact(c, r.dataType, e, options, Some(r.docPath))
}
