package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark (`perfbench/`) runs the IoT pipeline in a session built
  * from `perfbench/spec.json`'s `session` block. It must be the program's
  * own session, so a benchmark number is a number about the configuration
  * every main runs under. Reads `perfbench/`; writes nothing there. */
class GraftSessionSpec extends AnyFunSuite {

  private val session =
    new ObjectMapper().readTree(Files.readString(Paths.get("perfbench/spec.json")))
      .get("session")

  private def at(cores: Int, v: String) = v.replace("<nproc>", cores.toString)

  test("GraftSession's master and conf equal the benchmark session's") {
    val conf = session.get("conf")
    for (n <- Seq(1, 4, GraftSession.cpus)) {
      val want = conf.fieldNames.asScala.map(k => k -> at(n, conf.get(k).asText)).toMap
      assert(GraftSession.conf(n) == want, s"at $n cores")
      assert(GraftSession.master(n) == at(n, session.get("master").asText))
    }
  }
}
