package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.util.SizeGate

/** Parsing of the collect-tier gate's env value (no session needed). */
class SizeGateSpec extends AnyFunSuite with Matchers {

  test("collect threshold parse: 0 and positives accepted, malformed or negative named") {
    SizeGate.parsedCollectThreshold("0") shouldBe 0L
    SizeGate.parsedCollectThreshold(" 2000000 ") shouldBe 2000000L
    Seq("abc", "-1").foreach { bad =>
      val e = intercept[IllegalArgumentException](
        SizeGate.parsedCollectThreshold(bad))
      e.getMessage should include("SPARK_GRAFT_COLLECT_THRESHOLD")
    }
  }
}
