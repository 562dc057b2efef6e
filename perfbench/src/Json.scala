package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import scala.jdk.CollectionConverters._

/** Minimal JSON: a writer for maps, sequences and scalars, and a reader
  * (Jackson, shipped with Spark) that returns the same plain values. */
object Json {
  def write(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => write(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(write).mkString("[", ",", "]")
    case o => quote(o.toString)
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    (sb += '"').toString
  }

  private val mapper = new ObjectMapper()

  def read(text: String): Any = plain(mapper.readTree(text))

  private def plain(n: JsonNode): Any =
    if (n.isNull) null
    else if (n.isNumber) n.asDouble
    else if (n.isBoolean) n.asBoolean
    else if (n.isTextual) n.asText
    else if (n.isArray) n.elements.asScala.map(plain).toVector
    else n.fields.asScala.map(e => e.getKey -> plain(e.getValue)).toMap
}
