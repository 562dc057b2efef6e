package perfbench

import java.time.{Instant, LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{DecimalType, StructType}

/** A result in the form both sides of the check agree on: column names
  * lower-cased and sorted, every number a double (as tools/check.py
  * coerces them), timestamps as UTC wall-clock text, and the rows sorted.
  * perfbench/oracle.py writes DuckDB's results in the same form, with
  * `wide` naming the oracle's HUGEINT and DECIMAL output columns. */
final case class Result(columns: Vector[String], rows: Vector[Vector[Any]],
                        wide: Vector[String] = Vector())

object Check {
  /** Relative tolerance on numbers. tools/check.py compares the float
    * coercions exactly; this allows the last bits of a double to differ
    * when a sum is added up in another order. */
  val Tol = 1e-9

  private val TsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS")

  def canon(v: Any): Any = v match {
    case null => null
    case d: Double =>
      if (d.isNaN) "NaN" else if (d.isInfinite) (if (d > 0) "Infinity" else "-Infinity") else d
    case f: Float => canon(f.toDouble)
    case b: java.math.BigDecimal => b.doubleValue
    case b: BigDecimal => b.toDouble
    case n: java.lang.Number => n.doubleValue
    case s: String => s
    case b: Boolean => b
    case t: java.sql.Timestamp => ts(t.toInstant)
    case i: Instant => ts(i)
    case t: LocalDateTime => TsFmt.format(t)
    case d: java.sql.Date => d.toLocalDate.toString
    case d: java.time.LocalDate => d.toString
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case r: Row if r.schema != null =>
      r.schema.fieldNames.zipWithIndex.map { case (n, i) => n -> canon(r.get(i)) }.toMap
    case r: Row => r.toSeq.map(canon).toVector
    case m: scala.collection.Map[_, _] => m.map { case (k, x) => k.toString -> canon(x) }.toMap
    case xs: Iterable[_] => xs.map(canon).toVector
    case o => o.toString
  }

  private def ts(i: Instant): String = TsFmt.format(LocalDateTime.ofInstant(i, ZoneOffset.UTC))

  def result(schema: StructType, rows: Array[Row]): Result = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1.toLowerCase).map(_._2).toVector
    val cols = order.map(i => schema.fieldNames(i).toLowerCase)
    sorted(Result(cols, rows.toVector.map(r => order.map(i => canon(r.get(i))))))
  }

  /** Parse oracle.py's `{"columns": [...], "rows": [[...], ...], "wide": [...]}`. */
  def parse(text: String): Result = {
    val m = Json.read(text).asInstanceOf[Map[String, Any]]
    sorted(Result(
      m("columns").asInstanceOf[Vector[Any]].map(_.toString),
      m("rows").asInstanceOf[Vector[Any]].map(_.asInstanceOf[Vector[Any]]),
      m("wide").asInstanceOf[Vector[Any]].map(_.toString)))
  }

  /** tools/check.py's type boundary: an op whose output has a decimal
    * column, or whose oracle returns HUGEINT or DECIMAL columns, is
    * wrong whatever its values, since the two render apart. */
  def boundary(schema: StructType, want: Result): Option[String] = {
    val decs = schema.fields.filter(_.dataType.isInstanceOf[DecimalType]).map(_.name)
    if (decs.nonEmpty) Some(s"decimal output columns ${decs.mkString(", ")}")
    else if (want.wide.nonEmpty) Some(s"oracle HUGEINT/DECIMAL columns ${want.wide.mkString(", ")}")
    else None
  }

  private def sorted(r: Result): Result = r.copy(rows = r.rows.sorted(ValueOrdering))

  /** A total order on canonical values, rows included (as vectors). */
  private object ValueOrdering extends Ordering[Any] {
    private def rank(v: Any): Int = v match {
      case null => 0
      case _: Double => 1
      case _: String => 2
      case _: Boolean => 3
      case _: Map[_, _] => 4
      case _: Vector[_] => 5
      case _ => 6
    }

    def compare(a: Any, b: Any): Int = (a, b) match {
      case (x: Double, y: Double) => java.lang.Double.compare(x, y)
      case (x: String, y: String) => x.compareTo(y)
      case (x: Boolean, y: Boolean) => java.lang.Boolean.compare(x, y)
      case (x: Vector[_], y: Vector[_]) =>
        val n = math.min(x.size, y.size)
        var i = 0
        var c = 0
        while (c == 0 && i < n) { c = compare(x(i), y(i)); i += 1 }
        if (c != 0) c else Integer.compare(x.size, y.size)
      case (x: Map[_, _], y: Map[_, _]) =>
        def pairs(m: Map[_, _]) = m.toVector.map { case (k, v) => Vector(k.toString, v) }
          .sorted(this)
        compare(pairs(x), pairs(y))
      case _ if rank(a) != rank(b) => Integer.compare(rank(a), rank(b))
      case _ => a.toString.compareTo(b.toString)
    }
  }

  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) =>
      x == y || math.abs(x - y) <= Tol * math.max(math.abs(x), math.abs(y))
    case (x: Map[_, _], y: Map[_, _]) =>
      x.keySet == y.keySet && x.forall { case (k, v) => same(v, y.asInstanceOf[Map[Any, Any]](k)) }
    case (x: Vector[_], y: Vector[_]) => x.size == y.size && x.zip(y).forall { case (p, q) => same(p, q) }
    case _ => a == b
  }

  /** None when `got` matches `want`, else the first difference. */
  def diff(want: Result, got: Result): Option[String] =
    if (want.columns != got.columns) Some(s"columns ${got.columns} != ${want.columns}")
    else if (want.rows.size != got.rows.size) Some(s"${got.rows.size} rows != ${want.rows.size}")
    else want.rows.indices.find(i => !same(want.rows(i), got.rows(i)))
      .map(i => s"row $i: ${got.rows(i).take(6)} != ${want.rows(i).take(6)}")
}
