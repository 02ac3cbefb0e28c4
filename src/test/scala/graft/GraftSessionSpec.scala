package graft

import org.scalatest.funsuite.AnyFunSuite

/** `SPARK_GRAFT_CPUS` lands unquoted in bench records, file names and the
  * master URL, so only a positive integer may pass. */
class GraftSessionSpec extends AnyFunSuite {

  test("parseCpus: unset defaults to 4, a positive integer passes through") {
    assert(GraftSession.parseCpus(None) == 4)
    assert(GraftSession.parseCpus(Some("8")) == 8)
  }

  test("parseCpus: any other value fails naming the variable") {
    for (bad <- Seq("auto", " 8", "0", "-2", "")) {
      val e = intercept[IllegalArgumentException](
        GraftSession.parseCpus(Some(bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), e.getMessage)
    }
  }
}
