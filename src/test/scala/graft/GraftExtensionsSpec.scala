package graft

import org.scalatest.funsuite.AnyFunSuite

/** SQL registration of native expressions + RocksDB state store proof. */
class GraftExtensionsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("vec_dot and simhash32 are callable from SQL") {
    Seq((1L, Array(1.0f, 2.0f), Array(3.0f, 4.0f), "a b a"))
      .toDF("id", "va", "vb", "text").createOrReplaceTempView("ext_t")
    val r = spark.sql(
      "SELECT vec_dot(va, vb) AS d, simhash32(split(text, ' ')) AS sh FROM ext_t").head()
    assert(r.getDouble(0) == 11.0) // 1*3 + 2*4
    assert(r.getLong(1) >= 0 && r.getLong(1) < (1L << 32))
  }

  test("keyed streaming state runs on the RocksDB state store provider") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.KeyedState
    implicit val sqlCtx = spark.sqlContext
    GraftSession.withConf(spark, GraftSession.RocksDBStateStore) {
      val in = MemoryStream[(String, Long)]
      val q = KeyedState.runningFold[String, (String, Long), Long](in.toDS(), _._1, 0L)(
        (s, v) => s + v._2).toDF("key", "total")
        .writeStream.outputMode("update").format("memory").queryName("rocks_out").start()
      try {
        in.addData(("a", 2L), ("b", 3L)); q.processAllAvailable()
        in.addData(("a", 5L)); q.processAllAvailable()
        val got = spark.table("rocks_out").groupBy("key")
          .agg(org.apache.spark.sql.functions.max("total").as("t"))
          .collect().map(r => (r.getString(0), r.getLong(1))).toMap
        assert(got == Map("a" -> 7L, "b" -> 3L))
      } finally q.stop()
    }
  }
}
