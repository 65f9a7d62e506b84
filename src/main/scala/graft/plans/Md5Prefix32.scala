package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native Catalyst expression: per element of a string array, the first
  * 32 bits of md5 as an unsigned long — the one-permutation-MinHash base
  * hash (`Dedup.hashValues`) in a single pass.
  *
  * Why a custom `Expression`: the built-in formulation is two NESTED
  * higher-order-function lambdas (md5 → hex substring, then an 8-step
  * nibble decode), and lambdas are CodegenFallback in Spark 4.1 — ~30
  * interpreted expression nodes per shingle. This expression is one
  * loop, one `MessageDigest` instance per generated class (allocated
  * once via mutable state, reset-by-digest per element), and a direct
  * big-endian read of the first 4 digest bytes — bit-identical to
  * decoding the first 8 hex chars (property-asserted).
  *
  * Null input → null; a null ELEMENT → null result (the tokenizer never
  * produces one; garbage in surfaces as null, not a wrong hash).
  */
case class Md5Prefix32(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "md5_prefix32"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val md = java.security.MessageDigest.getInstance("MD5")
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) return null
      val d = md.digest(arr.getUTF8String(i).getBytes)
      out(i) = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val md = ctx.addMutableState("java.security.MessageDigest", "graftMd5",
      v => s"""try { $v = java.security.MessageDigest.getInstance("MD5"); }
              |catch (java.security.NoSuchAlgorithmException e) { throw new RuntimeException(e); }""".stripMargin)
    // CONSTRAINT on every snippet below: no line may BEGIN with '|'.
    // Spark's operator templates splice child snippets into
    // s"""…""".stripMargin strings (e.g. ProjectExec.doConsume), and
    // stripMargin runs AFTER interpolation — a spliced line whose first
    // non-blank char is '|' loses it, producing uncompilable Java that
    // silently falls back to interpreted eval (CodegenGuardSpec pins this).
    nullSafeCodeGen(ctx, ev, arr => {
      val n = ctx.freshName("n")
      val out = ctx.freshName("out")
      val i = ctx.freshName("i")
      val d = ctx.freshName("d")
      val hadNull = ctx.freshName("hadNull")
      s"""
         |int $n = $arr.numElements();
         |long[] $out = new long[$n];
         |boolean $hadNull = false;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($arr.isNullAt($i)) { $hadNull = true; break; }
         |  byte[] $d = $md.digest($arr.getUTF8String($i).getBytes());
         |  $out[$i] = (($d[0] & 0xffL) << 24) | (($d[1] & 0xffL) << 16) |
         |             (($d[2] & 0xffL) << 8) | ($d[3] & 0xffL);
         |}
         |if ($hadNull) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Md5Prefix32 {
  /** Column API. Requires `GraftExtensions` installed in the session. */
  def md5Prefix32(arr: Column): Column = call_function("md5_prefix32", arr)
}
