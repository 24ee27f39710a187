package perfbench

import java.time.{Instant, LocalDate, LocalDateTime, ZoneOffset}

import org.apache.spark.sql.Row

/** Canonical form of a query result, used to compare results of the same
  * operation across repeats and to hand the first one to the DuckDB oracle.
  * Numbers become doubles, temporal values ISO strings (UTC), structs and
  * arrays nested vectors; rows are sorted, so row order does not matter.
  */
object Canon {
  final case class Result(columns: Seq[String], rows: Vector[Vector[Any]])

  private val tsFormat = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  private def stamp(t: LocalDateTime): String = {
    val micros = t.getNano / 1000
    t.format(tsFormat) + (if (micros == 0) "" else f".$micros%06d")
  }

  def value(v: Any): Any = v match {
    case null => null
    case d: Double => d
    case f: Float => f.toDouble
    case i: Int => i.toDouble
    case l: Long => l.toDouble
    case s: Short => s.toDouble
    case b: Byte => b.toDouble
    case b: java.math.BigDecimal => b.doubleValue
    case b: BigDecimal => b.toDouble
    case b: Boolean => b
    case s: String => s
    case t: java.sql.Timestamp => stamp(LocalDateTime.ofInstant(t.toInstant, ZoneOffset.UTC))
    case t: Instant => stamp(LocalDateTime.ofInstant(t, ZoneOffset.UTC))
    case t: LocalDateTime => stamp(t)
    case d: java.sql.Date => d.toLocalDate.toString
    case d: LocalDate => d.toString
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case r: Row => r.toSeq.map(value).toVector
    case m: scala.collection.Map[_, _] =>
      m.toVector.map { case (k, x) => Vector(value(k), value(x)) }.sorted(RowOrdering)
    case s: scala.collection.Seq[_] => s.map(value).toVector
    case other => other.toString
  }

  private def rank(v: Any): Int = v match {
    case null => 0
    case _: Boolean => 1
    case _: Double => 2
    case _: String => 3
    case _: Vector[_] => 4
    case _ => 5
  }

  /** Row order: doubles compare at float precision, so float noise does
    * not reorder otherwise equal rows.
    */
  object RowOrdering extends Ordering[Vector[Any]] {
    def compare(a: Vector[Any], b: Vector[Any]): Int = {
      var i = 0
      while (i < a.length && i < b.length) {
        val c = value(a(i), b(i))
        if (c != 0) return c
        i += 1
      }
      Integer.compare(a.length, b.length)
    }
    private def value(x: Any, y: Any): Int = (x, y) match {
      case (p: Double, q: Double) => java.lang.Float.compare(p.toFloat, q.toFloat)
      case (p: String, q: String) => p.compareTo(q)
      case (p: Boolean, q: Boolean) => p.compare(q)
      case (p: Vector[Any] @unchecked, q: Vector[Any] @unchecked) => compare(p, q)
      case _ => Integer.compare(rank(x), rank(y))
    }
  }

  def of(columns: Seq[String], rows: Array[Row]): Result =
    Result(columns, rows.toVector.map(r => r.toSeq.map(value).toVector).sorted(RowOrdering))

  private def close(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) =>
      (x.isNaN && y.isNaN) || x == y || math.abs(x - y) <= 1e-9 + 1e-9 * math.abs(y)
    case (x: Vector[_], y: Vector[_]) => x.length == y.length && x.zip(y).forall { case (p, q) => close(p, q) }
    case _ => a == b
  }

  /** Describes the first difference between two results, if any. */
  def diff(got: Result, want: Result): Option[String] =
    if (got.columns != want.columns) Some(s"columns ${got.columns} vs ${want.columns}")
    else if (got.rows.length != want.rows.length) Some(s"${got.rows.length} rows vs ${want.rows.length}")
    else got.rows.indices.find(i => !close(got.rows(i), want.rows(i)))
      .map(i => s"row $i: ${got.rows(i)} vs ${want.rows(i)}")
}

/** Minimal JSON writer for the run files. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.result()
  }

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) str(d.toString) else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
