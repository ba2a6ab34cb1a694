package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, ResolvedHint}
import org.scalatest.matchers.should.Matchers

import graft.util.SizeGate

/** Parsing of the validated env settings, and the broadcast gate. */
class SizeGateSpec extends SparkSpec with Matchers {

  private def rejected(name: String, raw: String, min: Long): Unit = {
    val e = intercept[IllegalArgumentException](
      SizeGate.parsedEnvLong(name, raw, min))
    e.getMessage should include(name)
  }

  test("collect threshold parse: 0 and positives accepted, malformed or negative named") {
    val name = "SPARK_GRAFT_COLLECT_THRESHOLD"
    SizeGate.parsedEnvLong(name, "0", 0L) shouldBe 0L
    SizeGate.parsedEnvLong(name, " 2000000 ", 0L) shouldBe 2000000L
    Seq("abc", "-1").foreach(rejected(name, _, 0L))
  }

  test("bounded env settings: values at the minimum accepted, below it or malformed named") {
    Seq(
      ("SPARK_GRAFT_RUNS", 1L, Seq("abc", "0", "-1"))
    ).foreach { case (name, min, bad) =>
      SizeGate.parsedEnvLong(name, min.toString, min) shouldBe min
      SizeGate.parsedEnvLong(name, " 8 ", min) shouldBe 8L
      bad.foreach(rejected(name, _, min))
    }
  }

  test("maybeBroadcast hints below BroadcastRows and not at it, counting when no size is known") {
    def hinted(df: DataFrame): Boolean = df.queryExecution.analyzed
      .collect { case h: ResolvedHint => h.hints.strategy }
      .contains(Some(BROADCAST))
    val small = spark.range(10).toDF()
    hinted(small) shouldBe false
    hinted(SizeGate.maybeBroadcast(small,
      known = Some(SizeGate.BroadcastRows - 1))) shouldBe true
    hinted(SizeGate.maybeBroadcast(small,
      known = Some(SizeGate.BroadcastRows))) shouldBe false
    hinted(SizeGate.maybeBroadcast(small)) shouldBe true
    hinted(SizeGate.maybeBroadcast(
      spark.range(SizeGate.BroadcastRows).toDF())) shouldBe false
  }
}
