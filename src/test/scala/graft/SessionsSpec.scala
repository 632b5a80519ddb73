package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the name filter the CLI harnesses share (`SPARK_GRAFT_ONLY` for
  * Bench and Verify, `SPARK_GRAFT_LEGS` for ScaleCheck).
  */
class SessionsSpec extends AnyFunSuite {

  private val known = Set("a", "b", "c")

  test("unset, empty and all-empty filters mean no filter") {
    Seq(None, Some(""), Some(",")).foreach { v =>
      assert(Sessions.parseNames(v, known) == Right(None), v)
    }
  }

  test("empty segments are ignored") {
    assert(Sessions.parseNames(Some("a,,b"), known) == Right(Some(Set("a", "b"))))
  }

  test("names outside the known set fail with the unknown names, sorted") {
    assert(Sessions.parseNames(Some("zz,a,b,c9"), known) == Left(Seq("c9", "zz")))
  }
}
