package graftbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent result checksum: row count plus the XOR of one 64-bit
  * hash per row.
  *
  * Before hashing, each result is brought to a canonical form, so that graft
  * and the plain Spark SQL reference agree whenever their rows agree: columns
  * are taken in name order, integers widen to long, fractional numbers become
  * doubles rounded to 6 decimals, temporal values become strings and nested
  * values become JSON.
  */
final case class Checksum(count: Long, xor: Long) {
  override def toString: String = s"$count:$xor"
}

object Checksum {
  val Empty = Checksum(0L, 0L)

  private def q(name: String): Column = col("`" + name.replace("`", "``") + "`")

  def canonical(c: Column, t: DataType): Column = t match {
    case FloatType | DoubleType | _: DecimalType => round(c.cast(DoubleType), 6)
    case ByteType | ShortType | IntegerType | LongType => c.cast(LongType)
    case DateType | TimestampType | TimestampNTZType => c.cast(StringType)
    case _: ArrayType | _: MapType | _: StructType => to_json(c)
    case _ => c
  }

  private def rowHash(df: DataFrame, skip: Set[String]): Column = {
    val fields = df.schema.fields.filterNot(f => skip(f.name)).sortBy(_.name)
    xxhash64(struct(fields.toIndexedSeq.map(f => canonical(q(f.name), f.dataType).as(f.name)): _*))
  }

  /** The checksum of a whole result; this is the action that runs a query. */
  def of(df: DataFrame): Checksum = {
    val r = df.agg(count(lit(1)), bit_xor(rowHash(df, Set.empty))).collect()(0)
    Checksum(r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** One checksum per value of `key`, over the remaining columns: the
    * reference for many parameterized operations in one query. Keys with no
    * rows are absent (their checksum is [[Empty]]). */
  def byKey(df: DataFrame, key: String): Map[Long, Checksum] =
    df.groupBy(q(key).cast(LongType).as("__key"))
      .agg(count(lit(1)), bit_xor(rowHash(df, Set(key))))
      .collect().map(r => r.getLong(0) -> Checksum(r.getLong(1), r.getLong(2))).toMap
}
