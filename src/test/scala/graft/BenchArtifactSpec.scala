package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

import graft.Bench.Run

/** Golden keys for [[Bench.artifact]]: its line parses strictly and keeps
  * the key names and order of the committed `bench_out.json`, so readers of
  * earlier artifacts (BenchAB, the driver) read this one too. No session. */
class BenchArtifactSpec extends AnyFunSuite {

  private val strict = new ObjectMapper() // Jackson's defaults reject NaN
  private def read(path: String) = strict.readTree(Files.readString(Paths.get(path)))
  private def keys(n: JsonNode) = n.fieldNames.asScala.toSeq

  private val committed = read("bench_out.json")
  /** The `latency` err form, as a filtered leg in `bench_ab.json` wrote it. */
  private val latencyErr = read("bench_ab.json").get("control").get("bench").get("latency")

  private val sf = "/data/sf \"0.1\" \\ x"
  private def ok(secs: Double*) = secs.map(Run(_, None))
  private def line(latency: Either[String, Seq[Long]], allReps: Boolean) = Bench.artifact(
    runs = Seq(
      "q01" -> ok(3.0, 1.0, 1.2),
      "q02" -> Seq(Run(0.5, Some("boom")), Run(0.4, None), Run(0.6, None))),
    reps = 3, sf = sf,
    scaleDir = "sf0.01", scaling = Seq("q01" -> ok(0.2), "q02" -> Seq(Run(0.1, Some("bad")))),
    scaleUpDir = "derived/x10", scaleUpFactor = 10, scaleUp = Seq("q01" -> ok(2.0, 2.1, 2.2)),
    latency = latency, allReps = allReps)

  test("Bench.artifact keeps bench_out.json's top-level and nested keys in order") {
    val j = strict.readTree(line(Right(Seq(200L, 300L, 400L)), allReps = false))
    assert(keys(j) == Seq("metric", "value", "unit", "errored_count", "queries", "err",
      "reps", "sf", "scaling", "scale_up", "latency", "rep_cv", "rep_cv_median"))
    assert(keys(j) == keys(committed))
    for (k <- Seq("scaling", "scale_up", "latency"))
      assert(keys(j.get(k)) == keys(committed.get(k)), k)
    val allReps = strict.readTree(line(Left("skipped: SPARK_GRAFT_ONLY filter active"), allReps = true))
    assert(keys(allReps) == keys(committed) :+ "rep_times")
    assert(keys(allReps.get("latency")) == keys(latencyErr))
    assert(allReps.get("rep_times").get("q02").elements.asScala.map(_.asDouble).toSeq ==
      Seq(0.5, 0.4, 0.6))
  }

  test("Bench.artifact is one strict line: escaped sf, null errored scaling cells") {
    val l = line(Right(Seq(200L, 300L, 400L)), allReps = false)
    assert(!l.contains('\n'))
    val j = strict.readTree(l)
    assert(j.get("sf").asText == sf)
    assert(j.get("scaling").get("sf").asText == "sf0.01")
    assert(j.get("scaling").get("queries").get("q01").asDouble == 0.2)
    assert(j.get("scaling").get("queries").get("q02").isNull)
    assert(j.get("scaling").get("err").get("q02").asText == "bad")
    assert(keys(j.get("scale_up").get("err")).isEmpty)
    // The headline keeps q02's time-to-error but sums only q01.
    assert(j.get("err").get("q02").asText == "boom")
    assert(j.get("errored_count").asInt == 1)
    assert(j.get("queries").get("q02").asDouble == 0.5)
    assert(j.get("value").asDouble == 1.2)
    assert(j.get("latency").get("p99_batch_ms").asDouble == 400.0)
    // 4-decimal figures keep their "%.4f" form.
    assert(l.contains(""""rep_cv":{"q01":0.1286,"q02":0.2828},"rep_cv_median":0.2057"""))
  }
}
