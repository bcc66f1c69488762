package perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Collected results as JSON for the output checks: the schema as Spark
  * type strings plus every row, with values in a form the checker can
  * compare exactly (decimals as plain strings, timestamps as epoch
  * microseconds, dates as ISO strings, binary as hex).
  */
object Rows {

  private def micros(i: java.time.Instant): Long =
    Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L), i.getNano / 1000L)

  def value(v: Any, t: DataType): Any = (v, t) match {
    case (null, _) => null
    case (d: java.math.BigDecimal, _) => d.toPlainString
    case (d: scala.math.BigDecimal, _) => d.bigDecimal.toPlainString
    case (ts: java.sql.Timestamp, _) => micros(ts.toInstant)
    case (i: java.time.Instant, _) => micros(i)
    case (l: java.time.LocalDateTime, _) => micros(l.toInstant(java.time.ZoneOffset.UTC))
    case (d: java.sql.Date, _) => d.toLocalDate.toString
    case (d: java.time.LocalDate, _) => d.toString
    case (b: Array[Byte], _) => b.map("%02x".format(_)).mkString
    case (s: scala.collection.Seq[_], ArrayType(et, _)) => s.map(value(_, et))
    case (r: Row, st: StructType) => st.fields.indices.map(i => value(r.get(i), st.fields(i).dataType))
    case (m: scala.collection.Map[_, _], MapType(kt, vt, _)) =>
      m.toSeq.map { case (k, x) => Seq(value(k, kt), value(x, vt)) }
    case (x, _) => x
  }

  def render(schema: StructType, rows: Array[Row]): String =
    Json.render(Map(
      "schema" -> schema.fields.map(f => Seq(f.name, f.dataType.simpleString)).toSeq,
      "rows" -> rows.toSeq.map(r => schema.fields.indices.map(i => value(r.get(i), schema.fields(i).dataType)))))
}
