package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** 32-bit SimHash over a token array in a single pass per row.
  *
  * Bit-for-bit identical to the relational formulation (explode tokens ×
  * 8 hex chars × 4 bits → shuffle → majority vote; DedupSimilaritySpec
  * pins the two equal), which is what the DuckDB oracle replicates:
  * for each token, h = md5 hex; for hex position p∈[1,8], bit b∈[0,3]:
  * contribution sign((v(p) >> b) & 1) with v = hex digit value; final bit
  * set iff the summed contribution is > 0; bit weight 1L << ((8-p)*4+b).
  *
  * The expression removes the 32× row explosion and its shuffle — the
  * whole fingerprint is computed where the row already lives. Eval-only
  * (CodegenFallback): the md5 call dominates, codegen would not help.
  */
case class SimHash32(child: Expression) extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"simhash32 requires array<string>, got $other")
  }

  override protected def nullSafeEval(input: Any): Any = {
    val tokens = input.asInstanceOf[ArrayData]
    val votes = new Array[Int](32) // index = (8-p)*4 + b
    val md = java.security.MessageDigest.getInstance("MD5")
    var t = 0
    val n = tokens.numElements()
    while (t < n) {
      val tok = tokens.getUTF8String(t)
      if (tok != null) {
        md.reset()
        val digest = md.digest(tok.getBytes)
        // first 8 hex chars = first 4 digest bytes, high nibble first
        var p = 1
        while (p <= 8) {
          val byteIdx = (p - 1) / 2
          val v = if (p % 2 == 1) (digest(byteIdx) >> 4) & 0xf else digest(byteIdx) & 0xf
          var b = 0
          while (b <= 3) {
            val idx = (8 - p) * 4 + b
            votes(idx) += (if (((v >> b) & 1) == 1) 1 else -1)
            b += 1
          }
          p += 1
        }
      }
      t += 1
    }
    var acc = 0L
    var i = 0
    while (i < 32) {
      if (votes(i) > 0) acc |= (1L << i)
      i += 1
    }
    java.lang.Long.valueOf(acc)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimHashFunctions {
  /** 32-bit simhash of an array<string> token column. */
  def simhash32(tokens: Column): Column =
    GraftBridge.column(SimHash32(GraftBridge.expression(tokens)))
}
