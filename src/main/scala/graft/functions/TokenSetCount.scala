package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Count of whitespace-delimited tokens of `lower(text)` that belong to a
  * fixed word set, in ONE imperative pass over the raw UTF-8 bytes — the
  * fused form of `CountInSet(wsTokens(lower(text)), words)`.
  *
  * Why it exists (measured on `filter_lang` @ sf0.1): the
  * composed form pays, per row per predicate, a full-text lowercase copy,
  * a regex `Pattern.compile("\\s+")` inside `UTF8String.split`, and a
  * token-array allocation — and `FilterExec` codegen performs no
  * subexpression elimination, so a curation filter stacking language-ID
  * (5 of these) and quality scoring (a 6th) repeats all of it per
  * predicate: 1.3 s for the language filter alone vs 0.4 s for the scan.
  * This expression tokenizes by direct byte scan (the exact Java-regex
  * `\s` class: space, tab, LF, VT, FF, CR — all single-byte in UTF-8,
  * so byte-level scanning is codepoint-correct) and lowercases only the
  * candidate token.
  *
  * Counting parity with the composed form: empty tokens (leading
  * separators) never match a non-empty word; per-token lowercase equals
  * whole-text lowercase because case mapping never creates or destroys
  * whitespace and word boundaries are identical in both framings.
  */
object TokenSetCount {
  def apply(text: Column, words: Seq[String]): Column =
    GraftSqlBridge.column(TokenSetCountExpression(
      GraftSqlBridge.expression(text), words))

  private def isWs(b: Byte): Boolean =
    b == 0x20 || (b >= 0x09 && b <= 0x0D)

  /** Interpreted-mode twin of the generated call. */
  def count(s: UTF8String, set: java.util.HashSet[UTF8String]): Int = {
    val bytes = s.getBytes
    val n = bytes.length
    var c = 0
    var i = 0
    while (i < n) {
      while (i < n && isWs(bytes(i))) i += 1
      val start = i
      while (i < n && !isWs(bytes(i))) i += 1
      if (i > start &&
        set.contains(
          UTF8String.fromBytes(bytes, start, i - start).toLowerCase)) c += 1
    }
    c
  }
}

case class TokenSetCountExpression(child: Expression, words: Seq[String])
  extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"token_set_count requires STRING input, got ${other.catalogString}")
  }

  override def dataType: DataType = IntegerType
  override def prettyName: String = "token_set_count"

  @transient private lazy val set: java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String](words.size * 2)
    words.foreach(w => s.add(UTF8String.fromString(w)))
    s
  }

  override def nullSafeEval(input: Any): Any =
    TokenSetCount.count(input.asInstanceOf[UTF8String], set)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val setRef = ctx.addReferenceObj("wordSet", set, "java.util.HashSet")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TokenSetCount.count($c, $setRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
