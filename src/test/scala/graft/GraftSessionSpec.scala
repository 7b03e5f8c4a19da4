package graft

import org.scalatest.funsuite.AnyFunSuite

/** The scoped session-conf helper every stateful streaming query runs
  * under: a scoped setting must never outlive its body. */
class GraftSessionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("withConf restores a set key, unsets an unset key, and both hold when the body throws") {
    val setKey = "spark.graft.test.scoped.set"
    val unsetKey = "spark.graft.test.scoped.unset"
    spark.conf.set(setKey, "before")
    spark.conf.unset(unsetKey)
    def restored(): Unit = {
      assert(spark.conf.get(setKey) == "before")
      assert(spark.conf.getOption(unsetKey).isEmpty, s"$unsetKey leaked out of its scope")
    }
    try {
      val inside = GraftSession.withConf(spark, setKey -> "a", unsetKey -> "b") {
        (spark.conf.get(setKey), spark.conf.get(unsetKey))
      }
      assert(inside == (("a", "b")))
      restored()
      val e = intercept[IllegalStateException] {
        GraftSession.withConf(spark, setKey -> "c", unsetKey -> "d") {
          throw new IllegalStateException("body failed")
        }
      }
      assert(e.getMessage == "body failed")
      restored()
    } finally spark.conf.unset(setKey)
  }
}
