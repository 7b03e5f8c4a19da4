package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The relational formulation of `Dedup.bandFrame`, kept as the
  * reference the row-local band function is pinned against: over an
  * exploded (id, s) shingle frame, md5 each shingle, read its two
  * 40-bit halves through `conv(substring(hex, ...), 16, 10)`, take every
  * seed's minimum in one wide aggregate, then sort each strided band's
  * minima numerically, join them with `|` and unpivot with `stack`.
  * This is the plan every existing band store and every minhash oracle
  * was built against, so equality with it keeps both valid. */
object MinhashBandReference {
  import Dedup.{MinhashA, MinhashB, MinhashP}

  def bandFrame(shingleFrame: DataFrame, id: String,
                numHashes: Int, rowsPerBand: Int): DataFrame = {
    require(numHashes % rowsPerBand == 0, "numHashes must divide into bands")
    require(numHashes <= MinhashA.length, s"at most ${MinhashA.length} derived hashes")
    val sh = shingleFrame.withColumn("fp", md5(col("s")))
    val h1 = conv(substring(col("fp"), 1, 10), 16, 10).cast("long")
    val h2 = conv(substring(col("fp"), 11, 10), 16, 10).cast("long")
    def seedHash(i: Int): Column =
      (lit(MinhashA(i)) * h1 + lit(MinhashB(i)) * h2) % lit(MinhashP)
    val wide = sh.groupBy(col(id)).agg(
      min(seedHash(0)).as("mh_0"),
      (1 until numHashes).map(i => min(seedHash(i)).as(s"mh_$i")): _*)
    val nBands = numHashes / rowsPerBand
    val bandCols = (0 until nBands).map { b =>
      val mems = (0 until rowsPerBand).map(k => col(s"mh_${b + k * nBands}"))
      concat_ws("|", array_sort(array(mems: _*)).cast("array<string>")).as(s"bsig_$b")
    }
    val stackArgs = (0 until nBands).map(b => s"$b, bsig_$b").mkString(", ")
    wide.select(col(id) +: bandCols: _*)
      .selectExpr(id, s"stack($nBands, $stackArgs) as (band, bsig)")
  }
}
