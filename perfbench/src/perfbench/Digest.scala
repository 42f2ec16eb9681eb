package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent digest of a query output, comparable across
  * engines: the sorted column names, the row count, and the sum of a
  * 64-bit hash of every row's canonical text. Integral widths,
  * timestamp flavours and scale-0 decimals normalise to one form, and
  * floating values to 12 significant digits, so a DuckDB oracle output
  * and the Spark output of the same rows digest alike.
  */
final case class Digest(columns: Seq[String], rows: Long, hashHi: Long, hashLo: Long) {
  def toMap: Map[String, Any] =
    Map("columns" -> columns, "rows" -> rows, "hash_hi" -> hashHi, "hash_lo" -> hashLo)
}

object Digest {
  private def canon(c: Column, t: DataType): Column = t match {
    case ByteType | ShortType | IntegerType | LongType => c.cast("long").cast("string")
    case d: DecimalType if d.scale == 0 => c.cast("long").cast("string")
    case FloatType | DoubleType | _: DecimalType => format_string("%.11e", c.cast("double"))
    case BooleanType => c.cast("int").cast("string")
    case TimestampType => unix_micros(c).cast("string")
    case TimestampNTZType => unix_micros(c.cast("timestamp")).cast("string")
    case ArrayType(e, _) => to_json(transform(c, x => canon(x, e)))
    case _ => c.cast("string")
  }

  def of(df: DataFrame): Digest = {
    val fields = df.schema.fields.sortBy(_.name).toSeq
    val h = xxhash64(concat_ws("\u0001",
      fields.map(f => coalesce(canon(col(f.name), f.dataType), lit("\u0000"))): _*))
    // two 32-bit halves, so the sums cannot overflow
    val r = df.agg(count(lit(1)), sum(shiftrightunsigned(h, 32)),
      sum(h.bitwiseAND(lit(0xffffffffL)))).head()
    def l(i: Int) = if (r.isNullAt(i)) 0L else r.getLong(i)
    Digest(fields.map(_.name), l(0), l(1), l(2))
  }

  def fromMap(m: Map[String, Any]): Digest = {
    def lng(x: Any): Long = x.asInstanceOf[Number].longValue
    Digest(m("columns").asInstanceOf[Seq[String]], lng(m("rows")), lng(m("hash_hi")), lng(m("hash_lo")))
  }
}
