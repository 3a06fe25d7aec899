package graft

import org.scalatest.funsuite.AnyFunSuite

class VerifySpec extends AnyFunSuite {

  test("Verify rejects a wrong argument count with its usage, before any session") {
    for (args <- Seq(Array("x"), Array.empty[String], Array("a", "b", "c", "d"))) {
      val e = intercept[IllegalArgumentException](Verify.main(args))
      assert(e.getMessage.startsWith("usage: graft.Verify <sfDir> <outDir>"), args.mkString(" "))
    }
  }
}
