package graft

import java.math.{BigDecimal, RoundingMode}

import com.fasterxml.jackson.core.{JsonGenerator, StreamWriteFeature}
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper, SerializerProvider}
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.databind.module.SimpleModule
import com.fasterxml.jackson.databind.ser.std.StdSerializer
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** The one JSON codec for every artifact graft writes or reads: one
  * configured Jackson mapper, so every string is escaped by the same
  * rules and every artifact parses with Python's `json.load`.
  *
  * Values are Scala values (strings, numbers, `Option`, sequences, maps,
  * case classes). An object keeps its map's iteration order, so an
  * artifact whose key order matters is built from a `ListMap`. A
  * non-finite double (NaN, ±Infinity) has no JSON form: it writes `null`. */
object Json {

  private object FiniteOrNull extends StdSerializer[java.lang.Double](classOf[java.lang.Double]) {
    override def serialize(d: java.lang.Double, g: JsonGenerator, p: SerializerProvider): Unit =
      if (d.isNaN || d.isInfinite) g.writeNull() else g.writeNumber(d.doubleValue)
  }

  val mapper: ObjectMapper = JsonMapper.builder()
    .addModule(DefaultScalaModule)
    .addModule(new SimpleModule()
      .addSerializer(classOf[java.lang.Double], FiniteOrNull)
      .addSerializer(java.lang.Double.TYPE, FiniteOrNull))
    .enable(StreamWriteFeature.WRITE_BIGDECIMAL_AS_PLAIN)
    .build()

  /** `d` with exactly `scale` decimals, rounded half-up from its
    * `Double.toString` digits as `%.3f` rounds; `null` if not finite. */
  def fixed(d: Double, scale: Int): BigDecimal =
    if (d.isNaN || d.isInfinite) null
    else BigDecimal.valueOf(d).setScale(scale, RoundingMode.HALF_UP)

  /** `v` as one line. */
  def write(v: Any): String = mapper.writeValueAsString(v)

  /** `v` indented, one entry per line. */
  def pretty(v: Any): String = mapper.writerWithDefaultPrettyPrinter().writeValueAsString(v)

  def read(text: String): JsonNode = mapper.readTree(text)

  def readFile(path: java.nio.file.Path): JsonNode = mapper.readTree(path.toFile)
}
