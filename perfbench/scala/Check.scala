package perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.Row

/** Order-independent comparison of collected rows with expected rows.
  * Integers compare exactly, strings exactly, and any pair involving a
  * floating or decimal value within a relative 1e-6. */
object Check {

  def canon(v: Any): Any = v match {
    case null => null
    case b: java.math.BigDecimal => b.doubleValue
    case d: Double => d
    case f: Float => f.toDouble
    case i: Int => i.toLong
    case s: Short => s.toLong
    case b: Byte => b.toLong
    case l: Long => l
    case s: String => s
    case b: Boolean => b
    case other => other.toString
  }

  def fromJson(n: JsonNode): Any =
    if (n == null || n.isNull) null
    else if (n.isIntegralNumber) n.asLong
    else if (n.isNumber) n.asDouble
    else if (n.isBoolean) n.asBoolean
    else n.asText

  def expectedRows(n: JsonNode): Seq[Seq[Any]] =
    n.elements.asScala.map(r => r.elements.asScala.map(fromJson).toSeq).toSeq

  def rows(rs: Array[Row]): Seq[Seq[Any]] = rs.toSeq.map(_.toSeq.map(canon))

  private def key(r: Seq[Any]): (String, String) = (
    r.map { case _: Double => ""; case null => "\\N"; case x => x.toString }.mkString("\u0001"),
    r.collect { case d: Double => f"$d%.4e" }.mkString("\u0001"))

  def same(a: Any, b: Any): Boolean = (a, b) match {
    case (null, null) => true
    case (x: Long, y: Long) => x == y
    case (x: Double, y: Double) => close(x, y)
    case (x: Double, y: Long) => close(x, y.toDouble)
    case (x: Long, y: Double) => close(x.toDouble, y)
    case _ => a == b
  }

  def close(x: Double, y: Double): Boolean =
    x == y || math.abs(x - y) <= 1e-6 * math.max(1.0, math.max(math.abs(x), math.abs(y)))

  /** None when `actual` and `expected` hold the same rows in any order. */
  def rowsMatch(actual: Seq[Seq[Any]], expected: Seq[Seq[Any]]): Option[String] =
    if (actual.length != expected.length)
      Some(s"row count ${actual.length}, expected ${expected.length}")
    else {
      val a = actual.sortBy(key)
      val e = expected.sortBy(key)
      a.indices.find(i => a(i).length != e(i).length ||
          !a(i).indices.forall(j => same(a(i)(j), e(i)(j))))
        .map(i => s"row ${a(i).mkString("(", ", ", ")")}, expected ${e(i).mkString("(", ", ", ")")}")
    }
}
