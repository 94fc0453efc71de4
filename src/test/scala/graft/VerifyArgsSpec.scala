package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** `Verify.main` checks its arguments before it starts a session, so a bad
  * call fails fast with the usage instead of a bare `MatchError`. No Spark
  * session is needed here. */
class VerifyArgsSpec extends AnyFunSuite with Matchers {

  test("a wrong argument count throws IllegalArgumentException carrying the usage") {
    for (args <- Seq(Array("x"), Array.empty[String], Array("a", "b", "c", "d"))) {
      val e = intercept[IllegalArgumentException](Verify.main(args))
      e.getMessage should include("sfDir outDir [namePrefix]")
    }
  }
}
