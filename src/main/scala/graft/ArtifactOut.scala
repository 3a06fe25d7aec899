package graft

import java.math.RoundingMode

import com.fasterxml.jackson.core.JsonGenerator
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper, SerializerProvider}
import com.fasterxml.jackson.databind.module.SimpleModule
import com.fasterxml.jackson.databind.ser.std.StdSerializer
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** The one JSON codec of the measurement mains: Bench's line, BenchAB's
  * artifact and the Bench lines it reads back, Verify's `oracle_sql.json`
  * and `errors.json` all go through one Jackson mapper, the way Spark
  * emits `StreamingQueryProgress.json` through a library encoder.
  *
  *  - Scala maps are written in their iteration order, so a `ListMap`
  *    fixes an artifact's key order.
  *  - `None` and non-finite doubles are written as `null`: strict JSON has
  *    no `NaN` token, and a reader must not have to special-case one.
  *  - Reads are strict (Jackson's defaults reject `NaN`).
  */
object ArtifactOut {

  private object FiniteOrNull extends StdSerializer[java.lang.Double](classOf[java.lang.Double]) {
    override def serialize(d: java.lang.Double, g: JsonGenerator, p: SerializerProvider): Unit =
      if (d.isNaN || d.isInfinite) g.writeNull() else g.writeNumber(d.doubleValue)
  }

  private val mapper = new ObjectMapper()
    .registerModule(DefaultScalaModule)
    .registerModule(new SimpleModule()
      .addSerializer(classOf[java.lang.Double], FiniteOrNull)
      .addSerializer(java.lang.Double.TYPE, FiniteOrNull))

  /** `value` as one line of compact JSON. */
  def json(value: Any): String = mapper.writeValueAsString(value)

  def parse(line: String): JsonNode = mapper.readTree(line)

  /** `x` rounded half-up to 4 decimals and written with all four
    * (`0.0300`), the form the artifacts' ratio and CV figures take. */
  def round4(x: Double): java.lang.Number =
    if (x.isNaN || x.isInfinite) Double.box(x)
    else java.math.BigDecimal.valueOf(x).setScale(4, RoundingMode.HALF_UP)

  /** Writes `json` plus a newline to `path`. A failed write must not
    * masquerade as success: only IOException is caught, a warning goes to
    * stderr, and the caller gets `false` to exit nonzero on. */
  def write(path: String, json: String): Boolean =
    try {
      java.nio.file.Files.write(
        java.nio.file.Paths.get(path),
        (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      true
    } catch {
      case e: java.io.IOException =>
        System.err.println(s"WARN: failed to write artifact $path: ${e.getMessage}")
        false
    }
}
