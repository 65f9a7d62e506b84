package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: all banded one-permutation MinHash
  * signatures of a base-hash array in ONE pass — `numBands` strings,
  * band j = comma-joined `bandSize` derived minhashes
  * min_v((v·a_k + b_k) mod P) for k = j·bandSize ….
  *
  * Why a custom `Expression`: the built-in formulation is `numBands ×
  * bandSize` separate `array_min(transform(hv, …))` passes — and
  * higher-order-function lambdas are CodegenFallback in Spark 4.1, so
  * every element of every pass goes through interpreted expression eval.
  * For b=24/r=3 that is 72 interpreted array traversals per document.
  * This expression is the same arithmetic as ONE codegen'd tight loop:
  * O(numBands · bandSize · |hv|) multiply-mods on a primitive long[].
  *
  * The (a_k, b_k) family and modulus are `Dedup.hashParams` /
  * `HashModulus` EXACTLY (asserted by DedupProperties) — signatures are
  * bit-identical to the column formulation and to the DuckDB oracle's
  * embedded literals. Null on null/empty input (callers filter
  * empty-shingle docs before signing).
  */
case class MinHashSigs(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "minhash_sigs"

  override def nullSafeEval(hvAny: Any, nbAny: Any, bsAny: Any): Any = {
    val hv = hvAny.asInstanceOf[ArrayData].toLongArray()
    val numBands = nbAny.asInstanceOf[Int]
    val bandSize = bsAny.asInstanceOf[Int]
    if (hv.isEmpty || numBands <= 0 || bandSize <= 0) return null
    val P = MinHashSigs.Modulus
    val out = new Array[UTF8String](numBands)
    var j = 0
    while (j < numBands) {
      val sb = new java.lang.StringBuilder
      var k = 0
      while (k < bandSize) {
        val idx = j * bandSize + k
        val a = ((2654435761L * (idx + 1)) % 1048573L) | 1L
        val b = (40503L * (idx + 7)) % 65521L
        var m = Long.MaxValue
        var i = 0
        while (i < hv.length) {
          val h = (hv(i) * a + b) % P
          if (h < m) m = h
          i += 1
        }
        if (k > 0) sb.append(',')
        sb.append(m)
        k += 1
      }
      out(j) = UTF8String.fromString(sb.toString)
      j += 1
    }
    new GenericArrayData(out.asInstanceOf[Array[Any]])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (hvc, nbc, bsc) => {
      val hv = ctx.freshName("hv")
      val out = ctx.freshName("out")
      val j = ctx.freshName("j")
      val k = ctx.freshName("k")
      val i = ctx.freshName("i")
      val idx = ctx.freshName("idx")
      val a = ctx.freshName("a")
      val b = ctx.freshName("b")
      val m = ctx.freshName("m")
      val h = ctx.freshName("h")
      val sb = ctx.freshName("sb")
      val P = MinHashSigs.Modulus
      s"""
         |long[] $hv = $hvc.toLongArray();
         |if ($hv.length == 0 || $nbc <= 0 || $bsc <= 0) {
         |  ${ev.isNull} = true;
         |} else {
         |  UTF8String[] $out = new UTF8String[$nbc];
         |  for (int $j = 0; $j < $nbc; $j++) {
         |    java.lang.StringBuilder $sb = new java.lang.StringBuilder();
         |    for (int $k = 0; $k < $bsc; $k++) {
         |      int $idx = $j * $bsc + $k;
         |      long $a = ((2654435761L * ($idx + 1)) % 1048573L) | 1L;
         |      long $b = (40503L * ($idx + 7)) % 65521L;
         |      long $m = Long.MAX_VALUE;
         |      for (int $i = 0; $i < $hv.length; $i++) {
         |        long $h = ($hv[$i] * $a + $b) % ${P}L;
         |        if ($h < $m) $m = $h;
         |      }
         |      if ($k > 0) $sb.append(',');
         |      $sb.append($m);
         |    }
         |    $out[$j] = UTF8String.fromString($sb.toString());
         |  }
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newFirst: Expression, newSecond: Expression,
                                                 newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object MinHashSigs {
  /** MUST equal `Dedup.HashModulus`; duplicated as a literal so the
    * generated code embeds a compile-time constant (DedupProperties
    * asserts the equality end-to-end).
    */
  val Modulus: Long = 2147483647L

  /** Column API. Requires `GraftExtensions` installed in the session. */
  def minhashSigs(hv: Column, numBands: Int, bandSize: Int): Column =
    call_function("minhash_sigs", hv,
      org.apache.spark.sql.functions.lit(numBands),
      org.apache.spark.sql.functions.lit(bandSize))
}
