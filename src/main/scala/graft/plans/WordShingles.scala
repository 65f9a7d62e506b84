package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: word n-gram shingles of a token array —
  * `["a","b","c","d"]`, n=3 → `["a b c", "b c d"]`.
  *
  * Why a custom `Expression`: the built-in formulation is
  * `filter(transform(sequence(...), i => concat_ws(slice(...))))` —
  * two CodegenFallback lambda traversals allocating a sliced array per
  * position. This is one generated loop joining directly out of the
  * input `ArrayData` (`UTF8String.concatWs`, no intermediate arrays).
  *
  * Semantics (identical to the column form, property-asserted): fewer
  * than n tokens → empty array; null input or n <= 0 → null; a null
  * ELEMENT → null result (the tokenizer never produces one).
  */
case class WordShingles(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "word_shingles"

  private val space = UTF8String.fromString(" ")

  override def nullSafeEval(toksAny: Any, nAny: Any): Any = {
    val toks = toksAny.asInstanceOf[ArrayData]
    val n = nAny.asInstanceOf[Int]
    if (n <= 0) return null
    val len = toks.numElements()
    val count = len - n + 1
    if (count <= 0) return new GenericArrayData(Array.empty[Any])
    val words = new Array[UTF8String](len)
    var i = 0
    while (i < len) {
      if (toks.isNullAt(i)) return null
      words(i) = toks.getUTF8String(i)
      i += 1
    }
    val out = new Array[AnyRef](count)
    i = 0
    while (i < count) {
      val window = new Array[UTF8String](n)
      System.arraycopy(words, i, window, 0, n)
      out(i) = UTF8String.concatWs(space, window: _*)
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val sep = ctx.addReferenceObj("sep", space, classOf[UTF8String].getName)
    nullSafeCodeGen(ctx, ev, (toks, n) => {
      val len = ctx.freshName("len")
      val count = ctx.freshName("cnt")
      val words = ctx.freshName("words")
      val out = ctx.freshName("out")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val window = ctx.freshName("win")
      val hadNull = ctx.freshName("hadNull")
      val utf8 = classOf[UTF8String].getName
      s"""
         |if ($n <= 0) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $len = $toks.numElements();
         |  int $count = $len - $n + 1;
         |  boolean $hadNull = false;
         |  $utf8[] $words = new $utf8[$len];
         |  for (int $i = 0; $i < $len; $i++) {
         |    if ($toks.isNullAt($i)) { $hadNull = true; break; }
         |    $words[$i] = $toks.getUTF8String($i);
         |  }
         |  if ($hadNull) {
         |    ${ev.isNull} = true;
         |  } else if ($count <= 0) {
         |    ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(new Object[0]);
         |  } else {
         |    Object[] $out = new Object[$count];
         |    for (int $i = 0; $i < $count; $i++) {
         |      $utf8[] $window = new $utf8[$n];
         |      for (int $j = 0; $j < $n; $j++) $window[$j] = $words[$i + $j];
         |      $out[$i] = $utf8.concatWs($sep, $window);
         |    }
         |    ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         |  }
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object WordShingles {
  /** Column API. Requires `GraftExtensions` installed in the session. */
  def wordShingles(toks: Column, n: Int): Column =
    call_function("word_shingles", toks, org.apache.spark.sql.functions.lit(n))
}
