package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Canonical result digest, computed identically by oracle_digests.py over
  * DuckDB's Arrow output: columns sorted by name, each cell rendered as a
  * typed token, rows sorted by the UTF-8 bytes of their rendering, then
  * SHA-256 over the sorted rows. Values compare exactly (doubles by their
  * IEEE bits, -0.0 folded into 0.0, every NaN equal), which is the rule
  * tools/oracle_check.py applies.
  */
final case class Digest(columns: Seq[(String, String)], rows: Long, sha256: String) {
  def diff(expected: Digest): Option[String] =
    if (columns != expected.columns) Some(s"columns $columns, expected ${expected.columns}")
    else if (rows != expected.rows) Some(s"$rows rows, expected ${expected.rows}")
    else if (sha256 != expected.sha256) Some("values differ from the digest")
    else None
}

object Digest {

  private def typeName(t: DataType): String = t match {
    case ByteType => "int8"
    case ShortType => "int16"
    case IntegerType => "int32"
    case LongType => "int64"
    case FloatType => "float32"
    case DoubleType => "float64"
    case StringType => "string"
    case BooleanType => "bool"
    case TimestampType | TimestampNTZType => "timestamp"
    case DateType => "date"
    case _: DecimalType => "decimal"
    case BinaryType => "binary"
    case ArrayType(e, _) => s"list<${typeName(e)}>"
    case s: StructType => s.fields.map(f => s"${f.name}:${typeName(f.dataType)}")
      .mkString("struct<", ",", ">")
    case other => other.simpleString
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  private def dbl(d: Double): String =
    if (d.isNaN) "f:nan"
    else f"f:${java.lang.Double.doubleToLongBits(if (d == 0.0) 0.0 else d)}%016x"

  private def micros(i: java.time.Instant): Long =
    Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L), i.getNano / 1000L)

  private def cell(v: Any, t: DataType): String = if (v == null) "null" else t match {
    case ByteType | ShortType | IntegerType | LongType => "i:" + v.toString
    case FloatType => dbl(v.asInstanceOf[Float].toDouble)
    case DoubleType => dbl(v.asInstanceOf[Double])
    case StringType => "s:" + quote(v.toString)
    case BooleanType => "b:" + v.toString
    case TimestampType => v match {
      case ts: java.sql.Timestamp => "t:" + micros(ts.toInstant)
      case i: java.time.Instant => "t:" + micros(i)
    }
    case TimestampNTZType =>
      "t:" + micros(v.asInstanceOf[java.time.LocalDateTime].toInstant(java.time.ZoneOffset.UTC))
    case DateType => v match {
      case d: java.sql.Date => "d:" + d.toLocalDate.toEpochDay
      case d: java.time.LocalDate => "d:" + d.toEpochDay
    }
    case _: DecimalType =>
      val bd = v.asInstanceOf[java.math.BigDecimal]
      "m:" + (if (bd.signum == 0) "0" else bd.stripTrailingZeros.toPlainString)
    case BinaryType => "x:" + v.asInstanceOf[Array[Byte]].map("%02x".format(_)).mkString
    case ArrayType(e, _) => v.asInstanceOf[scala.collection.Seq[Any]]
      .map(cell(_, e)).mkString("l:[", ",", "]")
    case s: StructType =>
      val r = v.asInstanceOf[Row]
      s.fields.indices.map(i => cell(r.get(i), s.fields(i).dataType)).mkString("r:{", ",", "}")
    case _ => "?:" + quote(v.toString)
  }

  /** Rendered rows, columns in name order, unsorted. */
  private def render(schema: StructType, rows: Seq[Row]): Seq[String] = {
    val order = schema.fields.indices.sortBy(i => schema.fields(i).name)
    rows.map(r => order.map(i => quote(cell(r.get(i), schema.fields(i).dataType)))
      .mkString("[", ",", "]"))
  }

  private val unsigned: Ordering[Array[Byte]] = (a, b) => {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n && a(i) == b(i)) i += 1
    if (i < n) (a(i) & 0xff) - (b(i) & 0xff) else a.length - b.length
  }

  def of(schema: StructType, rows: Seq[Row]): Digest = {
    val md = MessageDigest.getInstance("SHA-256")
    render(schema, rows).map(_.getBytes(UTF_8)).sorted(unsigned).foreach { b =>
      md.update(b); md.update('\n'.toByte)
    }
    Digest(schema.fields.map(f => f.name -> typeName(f.dataType)).toSeq.sortBy(_._1),
      rows.size.toLong, md.digest().map("%02x".format(_)).mkString)
  }

  /** digests.json: {"fixture": "<sha>", "queries": {name: {columns, rows, sha256}}}. */
  def load(path: String): (String, Map[String, Digest]) = {
    import scala.jdk.CollectionConverters._
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(new java.io.File(path))
    val qs = root.get("queries").fields().asScala.map { e =>
      val n = e.getValue
      e.getKey -> Digest(
        n.get("columns").elements().asScala.map(c => c.get(0).asText -> c.get(1).asText).toSeq,
        n.get("rows").asLong, n.get("sha256").asText)
    }.toMap
    (root.get("fixture").asText, qs)
  }
}
