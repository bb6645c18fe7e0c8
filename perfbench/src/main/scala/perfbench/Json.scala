package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}

object Json {
  val mapper = new ObjectMapper()
  def obj(): ObjectNode = mapper.createObjectNode()
  def arr(): ArrayNode = mapper.createArrayNode()
  def read(f: File): JsonNode = mapper.readTree(f)
  def write(f: File, n: JsonNode): Unit = mapper.writeValue(f, n)

  implicit final class Node(private val n: JsonNode) extends AnyVal {
    def str(k: String): String = n.get(k).asText()
    def int(k: String): Int = n.get(k).asInt()
    def dbl(k: String): Double = n.get(k).asDouble()
    def opt(k: String): Option[JsonNode] = Option(n.get(k)).filterNot(_.isNull)
    def items: Seq[JsonNode] = n.elements().asScala.toSeq
    def strs(k: String): Seq[String] =
      opt(k).map(_.elements().asScala.map(_.asText()).toSeq).getOrElse(Seq.empty)
  }
}
