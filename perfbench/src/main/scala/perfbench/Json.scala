package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import scala.jdk.CollectionConverters._

/** Minimal JSON in and out: Jackson (shipped with Spark) parses the
  * workload script; the writer renders plain Scala values.
  */
object Json {
  private val mapper = new ObjectMapper()

  def read(path: String): JsonNode = mapper.readTree(new java.io.File(path))

  def strings(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText).toSeq

  def quote(s: String): String = mapper.writeValueAsString(s)

  /** Renders Map / Seq / Option / String / numbers / Boolean / null. Doubles
    * use Java's shortest round-trip form; non-finite doubles become strings.
    */
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) quote(d.toString) else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
}
