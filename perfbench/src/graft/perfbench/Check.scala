package graft.perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.Row

import scala.jdk.CollectionConverters._

/** Result comparison against the DuckDB oracle's answer.
  *
  * Both sides reduce to the same canonical form: columns sorted by name,
  * values as null, boolean, number (as a double), string, or list; dates
  * as `yyyy-MM-dd` and timestamps as `yyyy-MM-dd HH:mm:ss.SSSSSS` (UTC).
  * Rows are sorted by a key that rounds numbers to 9 significant digits,
  * so float noise in the last bits can neither reorder rows nor fail a
  * compare; values then match exactly, or as numbers within a relative
  * 1e-9.
  */
object Check {
  type Value = Any

  private val ts = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")

  def canon(v: Any): Value = v match {
    case null => null
    case b: Boolean => b
    case n: java.math.BigDecimal => n.doubleValue
    case n: scala.math.BigDecimal => n.toDouble
    case n: Number => n.doubleValue
    case s: String => s
    case d: java.sql.Date => d.toLocalDate.toString
    case d: java.time.LocalDate => d.toString
    case t: java.sql.Timestamp => ts.format(t.toLocalDateTime)
    case t: java.time.LocalDateTime => ts.format(t)
    case t: java.time.Instant => ts.format(java.time.LocalDateTime.ofInstant(t, java.time.ZoneOffset.UTC))
    case s: scala.collection.Seq[_] => s.map(canon).toVector
    case a: Array[Byte] => a.map("%02x".format(_)).mkString
    case r: Row => r.toSeq.map(canon).toVector
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => Vector(canon(k), canon(x)) }.sortBy(_.toString).toVector
    case other => other.toString
  }

  def fromJson(n: JsonNode): Value =
    if (n.isNull) null
    else if (n.isBoolean) n.booleanValue
    else if (n.isNumber) n.doubleValue
    else if (n.isArray) n.elements.asScala.map(fromJson).toVector
    else n.asText match {
      case "nan" => Double.NaN
      case "inf" => Double.PositiveInfinity
      case "-inf" => Double.NegativeInfinity
      case s => s
    }

  private def key(v: Value): String = v match {
    case null => "\u0000"
    case d: Double => if (d == 0.0 || d.isNaN || d.isInfinite) d.toString else "%.8e".format(d)
    case s: Vector[_] => s.map(key).mkString("[", ",", "]")
    case other => other.toString
  }

  private def same(a: Value, b: Value): Boolean = (a, b) match {
    case (x: Double, y: Double) =>
      x == y || (x.isNaN && y.isNaN) || math.abs(x - y) <= 1e-9 * math.max(math.abs(x), math.abs(y))
    case (x: Vector[_], y: Vector[_]) => x.size == y.size && x.zip(y).forall { case (p, q) => same(p, q) }
    case _ => a == b
  }

  final case class Expected(columns: Seq[String], rows: Seq[Vector[Value]])

  def load(file: java.io.File): Expected = {
    val n = new ObjectMapper().readTree(file)
    Expected(n.get("columns").elements.asScala.map(_.asText).toSeq,
      sortRows(n.get("rows").elements.asScala.map(r =>
        r.elements.asScala.map(fromJson).toVector).toSeq))
  }

  private def sortRows(rows: Seq[Vector[Value]]): Seq[Vector[Value]] =
    rows.map(r => (r.map(key).mkString("\u0001"), r)).sortBy(_._1).map(_._2)

  /** None when `rows` (with `columns`) equal `exp`; else why not. */
  def compare(columns: Seq[String], rows: Seq[Row], exp: Expected): Option[String] = {
    val order = columns.zipWithIndex.sortBy(_._1)
    val names = order.map(_._1)
    if (names != exp.columns) return Some(s"columns ${names.mkString(",")} != ${exp.columns.mkString(",")}")
    if (rows.size != exp.rows.size) return Some(s"rows ${rows.size} != ${exp.rows.size}")
    val got = sortRows(rows.map(r => order.map { case (_, i) => canon(r.get(i)) }.toVector))
    got.iterator.zip(exp.rows.iterator).zipWithIndex.collectFirst {
      case ((g, e), i) if !same(g, e) => s"row $i: ${g.mkString("|")} != ${e.mkString("|")}"
    }
  }
}
