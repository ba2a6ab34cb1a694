package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Bench's query selection is checked before any session starts (no
  * session needed here either). */
class BenchSpec extends AnyFunSuite with Matchers {

  test("query selection: registered names kept, an unknown or empty selection named") {
    Bench.onlySelection(" q01_pricing_summary, q40_kcore ,") shouldBe
      Set("q01_pricing_summary", "q40_kcore")
    val e = intercept[IllegalArgumentException](
      Bench.onlySelection("q01_pricing_summary,q40_kcor"))
    e.getMessage should include("SPARK_GRAFT_ONLY")
    e.getMessage should include("q40_kcor")
    e.getMessage should not include "q01_pricing_summary"
    intercept[IllegalArgumentException](Bench.onlySelection(" , "))
      .getMessage should include("SPARK_GRAFT_ONLY")
  }

  test("the forced-tier script selects only registered queries") {
    val src = scala.io.Source.fromFile("tools/bench_forced.sh", "UTF-8")
    val names = try src.getLines()
      .collect { case l if l.startsWith("ONLY=") => l.stripPrefix("ONLY=") }
      .flatMap(_.split(",")).filterNot(_ == "$ONLY").mkString(",")
    finally src.close()
    Bench.onlySelection(names).size shouldBe names.split(",").length
  }
}
