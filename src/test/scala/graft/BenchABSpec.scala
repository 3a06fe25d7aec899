package graft

import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

/** [[BenchAB.summary]] over leg lines, without sbt or Spark: it reproduces
  * the committed `bench_ab.json`, writes `null` (never a bare NaN) for a
  * figure a failed leg leaves without data, and keeps errored queries out of
  * the A/B pairing. */
class BenchABSpec extends AnyFunSuite {

  private val strict = new ObjectMapper() // Jackson's defaults reject NaN
  private val ab = strict.readTree(Files.readString(Paths.get("bench_ab.json")))
  private def leg(k: String) = strict.writeValueAsString(ab.get(k).get("bench"))
  private def encoded(block: Any): JsonNode = strict.readTree(ArtifactOut.json(block))
  private def keys(n: JsonNode) = n.fieldNames.asScala.toSeq
  private val failed = """{"err":"bench rc=1 for 0123abc"}"""

  test("summary over bench_ab.json's six legs reproduces its noise and paired blocks") {
    val s = BenchAB.summary(leg("control_early"), leg("base"), leg("head"), leg("head2"),
      leg("base2"), leg("control"))
    for ((k, block) <- Seq("noise" -> s.noise, "paired" -> s.paired)) {
      assert(keys(encoded(block)) == keys(ab.get(k)), k)
      assert(encoded(block) == ab.get(k), k)
    }
    assert(!s.qualified)
  }

  test("a failed control leg writes null figures, not NaN, and does not self-qualify") {
    val s = BenchAB.summary(failed, leg("base"), leg("head"), leg("head2"), leg("base2"),
      leg("control"))
    val noise = encoded(s.noise)
    for (k <- Seq("control_geomean", "control_drift", "control_geomean_se"))
      assert(noise.get(k).isNull, k)
    assert(keys(noise.get("control_ratio")).isEmpty)
    assert(noise.get("self_qualified").isBoolean && !noise.get("self_qualified").asBoolean)
    assert(!s.qualified)
  }

  test("a failed head leg writes null rep-CV figures and order spread") {
    val s = BenchAB.summary(leg("control_early"), leg("base"), failed, leg("head2"),
      leg("base2"), leg("control"))
    val noise = encoded(s.noise)
    assert(noise.get("head_rep_cv_median").isNull && noise.get("head_rep_cv_p90").isNull)
    assert(encoded(s.paired).get("order_spread").isNull)
    assert(!s.qualified)
  }

  test("a query errored in any A/B leg is left out of paired and of the pair sums") {
    def line(reps: Map[String, Seq[Double]], err: Map[String, String] = Map.empty) =
      ArtifactOut.json(ListMap(
        "queries" -> reps.map { case (q, ts) => q -> Stats.median(ts) },
        "err" -> err, "rep_times" -> reps))
    val base = line(Map("a" -> Seq(1.0, 1.0, 1.0), "b" -> Seq(1.0, 1.0, 1.0)))
    // b fails fast in the first head leg only: its time-to-error is no runtime.
    val head = line(Map("a" -> Seq(1.0, 1.0, 1.0), "b" -> Seq(0.1, 0.1, 0.1)), Map("b" -> "boom"))
    val s = BenchAB.summary(base, base, head, base, base, base)
    val paired = encoded(s.paired)
    assert(paired.get("n_queries").asInt == 1)
    assert(keys(paired.get("per_query_ratio")) == Seq("a"))
    for (k <- Seq("sum_ratio", "pair1_sum_ratio", "pair2_sum_ratio"))
      assert(paired.get(k).asDouble == 1.0, k)
  }
}
