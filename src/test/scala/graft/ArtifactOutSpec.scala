package graft

import scala.collection.immutable.ListMap
import scala.collection.mutable

import org.scalatest.funsuite.AnyFunSuite

/** The measurement mains' one JSON codec. No session. */
class ArtifactOutSpec extends AnyFunSuite {

  test("maps keep their order; None and non-finite doubles are null") {
    val failures = mutable.LinkedHashMap("z" -> "boom", "a" -> "tab\there")
    assert(ArtifactOut.json(failures) == """{"z":"boom","a":"tab\there"}""")
    assert(ArtifactOut.json(ListMap(
      "b" -> Double.NaN, "a" -> Double.PositiveInfinity, "c" -> None, "d" -> Some(1.5),
      "e" -> Seq(Double.NegativeInfinity, 2.0))) ==
      """{"b":null,"a":null,"c":null,"d":1.5,"e":[null,2.0]}""")
  }

  test("round4 keeps the %.4f form; parse rejects a bare NaN") {
    assert(ArtifactOut.json(Seq(0.03, 1.23105, 0.0, Double.NaN).map(ArtifactOut.round4)) ==
      "[0.0300,1.2311,0.0000,null]")
    intercept[com.fasterxml.jackson.core.JsonParseException](ArtifactOut.parse("""{"x":NaN}"""))
  }
}
