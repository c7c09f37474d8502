package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.bench.Timing

/** The scoped conf every A/B stock arm runs under: whatever the body
  * does, the session leaves with exactly the confs it came in with. */
class TimingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val WasSet = "spark.graft.timingspec.set"
  private val WasUnset = "spark.graft.timingspec.unset"

  private def conf(k: String) = spark.conf.getOption(k)

  test("withConf restores a previously set value and unsets a key that " +
      "was unset, on return and when the body throws") {
    spark.conf.set(WasSet, "before")
    spark.conf.unset(WasUnset)
    try {
      val seen = Timing.withConf(spark, WasSet -> "inside", WasUnset -> "inside") {
        (conf(WasSet), conf(WasUnset))
      }
      assert(seen == ((Some("inside"), Some("inside"))))
      assert(conf(WasSet) == Some("before") && conf(WasUnset).isEmpty)

      val err = intercept[IllegalStateException] {
        Timing.withConf(spark, WasSet -> "inside", WasUnset -> "inside") {
          throw new IllegalStateException("boom")
        }
      }
      assert(err.getMessage == "boom")
      assert(conf(WasSet) == Some("before") && conf(WasUnset).isEmpty)
    } finally spark.conf.unset(WasSet)
  }
}
