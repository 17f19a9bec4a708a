package graft

import java.io.StringWriter
import com.fasterxml.jackson.core.StreamWriteFeature
import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode}
import com.fasterxml.jackson.databind.cfg.JsonNodeFeature
import com.fasterxml.jackson.databind.json.JsonMapper
import scala.jdk.CollectionConverters._

/** The one JSON writer (and reader) of the bench and verify mains and the
  * crawl store's marker files — Jackson from the Spark distribution. An
  * object is an ordered `Seq[(String, Any)]` whose values are strings,
  * `Int`s, `Long`s, `java.math.BigDecimal` numbers
  * (written plain, so `new BigDecimal("19.70")` stays `19.70`; a malformed
  * number text throws in the constructor instead of reaching the output),
  * `null`, nested objects, or [[Arr]] arrays of such values. */
object Json {
  /** A JSON array (a bare `Seq` is an object). */
  final case class Arr(items: Seq[Any])

  private val mapper = JsonMapper.builder()
    .enable(StreamWriteFeature.WRITE_BIGDECIMAL_AS_PLAIN)
    .enable(DeserializationFeature.USE_BIG_DECIMAL_FOR_FLOATS)
    .disable(JsonNodeFeature.STRIP_TRAILING_BIGDECIMAL_ZEROES)
    .build()

  def write(fields: Seq[(String, Any)]): String = {
    val out = new StringWriter
    val g = mapper.getFactory.createGenerator(out)
    def value(v: Any): Unit = v match {
      case null => g.writeNull()
      case s: String => g.writeString(s)
      case i: Int => g.writeNumber(i)
      case l: Long => g.writeNumber(l)
      case d: java.math.BigDecimal => g.writeNumber(d)
      case Arr(items) =>
        g.writeStartArray()
        items.foreach(value)
        g.writeEndArray()
      case o: Seq[_] =>
        g.writeStartObject()
        o.foreach { case (k: String, x) => g.writeFieldName(k); value(x) }
        g.writeEndObject()
    }
    value(fields)
    g.close()
    out.toString
  }

  def parse(text: String): JsonNode = mapper.readTree(text)

  /** A flat object's fields in file order, each in [[write]]'s value model. */
  def readFlat(text: String): Seq[(String, Any)] =
    parse(text).properties().asScala.toSeq.map { e =>
      val v = e.getValue
      e.getKey -> (if (v.isNumber) v.decimalValue else v.asText)
    }
}
