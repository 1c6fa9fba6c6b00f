package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Whitespace-token count as a native codegen'd expression: one pass over
  * the UTF-8 bytes counting maximal non-space runs — semantically
  * identical to `size(filter(split(c, " "), t => t != ""))`
  * ([[Text.nTokens]]'s composed form) but with ZERO allocations, where the
  * composed form materializes the full token array plus a filtered copy
  * per row just to take its length. Token counting runs over every
  * document of a corpus (budgeting, quality signals, q_text_stats /
  * q_token_count / q_pipeline), so this is a hot-path expression by
  * construction. The A/B arm that timed it against the composed form was
  * last at commit 9bcf67c; SCALE.md records no figure for it.
  *
  * Byte-level scan is UTF-8-safe because the delimiter is the ASCII space
  * and multi-byte sequences never contain 0x20.
  */
case class TokenCount(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"token_count requires string, got ${other.catalogString}")
  }

  // getByte(i) over numBytes(), NOT getBytes(): parquet/UnsafeRow strings
  // are offset slices of a larger buffer, so getBytes() would copy the
  // whole string per row — the allocation this expression exists to avoid
  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    val len = s.numBytes()
    var n = 0L
    var i = 0
    var prevSpace = true
    while (i < len) {
      val isSpace = s.getByte(i) == 0x20
      if (!isSpace && prevSpace) n += 1
      prevSpace = isSpace
      i += 1
    }
    n
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val len = ctx.freshName("len")
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val prevSpace = ctx.freshName("prevSpace")
      val isSpace = ctx.freshName("isSpace")
      s"""
         |int $len = $c.numBytes();
         |long $n = 0L;
         |boolean $prevSpace = true;
         |for (int $i = 0; $i < $len; $i++) {
         |  boolean $isSpace = $c.getByte($i) == 0x20;
         |  if (!$isSpace && $prevSpace) $n++;
         |  $prevSpace = $isSpace;
         |}
         |${ev.value} = $n;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): TokenCount =
    copy(child = newChild)
}

object TokenCount {
  import org.apache.spark.sql.GraftColumnShim
  def token_count(c: Column): Column =
    GraftColumnShim.toColumn(TokenCount(GraftColumnShim.toExpression(c)))
}
