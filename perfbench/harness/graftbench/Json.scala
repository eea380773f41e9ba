package graftbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Minimal JSON for the harness: plan in (Jackson tree), records out. */
object Json {
  private val mapper = new ObjectMapper()

  def read(path: java.nio.file.Path): JsonNode =
    mapper.readTree(path.toFile)

  def strings(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText).toSeq
  def ints(n: JsonNode): Seq[Int] = n.elements().asScala.map(_.asInt).toSeq
  def nodes(n: JsonNode): Seq[JsonNode] = n.elements().asScala.toSeq

  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => mapper.writeValueAsString(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => mapper.writeValueAsString(k.toString) + ":" + write(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(write).mkString("[", ",", "]")
    case other => mapper.writeValueAsString(other.toString)
  }
}
