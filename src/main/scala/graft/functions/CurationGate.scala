package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BooleanType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The composite curation predicate
  * `tokenCount(text) >= minTokens && qualityScore(text) >= minQuality &&
  * langId(text) === lang` as ONE boolean expression computed in ONE pass
  * over the raw UTF-8 bytes.
  *
  * Why fusion (measured @ sf0.1, repeated warm runs): `FilterExec` codegen
  * performs no subexpression elimination, so the composed three-predicate
  * filter re-tokenizes the document for every predicate — even with the
  * scorers individually fused ([[TokenSetCount]]) the conjunction costs
  * ~3 scans plus a regex token split and a regexp_replace per row. This
  * expression computes token count, per-language stopword hits, union
  * stopword hits, punctuation count and char count in a single byte scan
  * and applies the exact composed arithmetic.
  *
  * Exactness contract (oracle-checked end-to-end by `curate_docs` at
  * three scale factors, and property-tested against the composed form):
  *  - token count replicates `size(split(trim(text), "\\s+"))` including
  *    the Java-split quirks: the empty string yields 1 (the [""] field),
  *    and a leading non-space whitespace char (tab etc., which `trim`
  *    does not strip) yields one extra leading empty field;
  *  - quality arithmetic mirrors [[graft.operators.TextAnalysis
  *    .qualityScore]] op-for-op in the same order (IEEE doubles are
  *    deterministic) with Spark's HALF_UP rounding;
  *  - punctuation counts CODEPOINTS outside `[A-Za-z0-9\s]` (multi-byte
  *    codepoints are never in the ASCII class, so counting non-ASCII
  *    lead bytes is exact);
  *  - language argmax breaks ties by declared order, "und" on zero hits,
  *    identical to [[graft.operators.TextAnalysis.langId]].
  */
object CurationGate {

  def apply(text: Column, langSets: Seq[(String, Seq[String])],
      minTokens: Int, minQuality: Long, wantLang: String): Column =
    GraftSqlBridge.column(CurationGateExpression(
      GraftSqlBridge.expression(text), langSets, minTokens, minQuality,
      wantLang))

  private def isWs(b: Byte): Boolean =
    b == 0x20 || (b >= 0x09 && b <= 0x0D)
  private def isAlnum(b: Byte): Boolean =
    (b >= 'A' && b <= 'Z') || (b >= 'a' && b <= 'z') || (b >= '0' && b <= '9')

  /** Single-pass evaluation of the composite gate. */
  def gate(s: UTF8String, cfg: CurationGateConfig): Boolean = {
    val bytes = s.getBytes
    val n = bytes.length

    // --- token count with Java-split semantics on trim(text) ---
    // trim strips the SPACE char only; split("\s+") emits one leading
    // empty field when the (space-trimmed) text is empty or starts with
    // a non-space whitespace char.
    var ts = 0
    var te = n
    while (ts < te && bytes(ts) == 0x20) ts += 1
    while (te > ts && bytes(te - 1) == 0x20) te -= 1
    val leadingEmptyField = ts == te || isWs(bytes(ts))

    var nTokens = if (leadingEmptyField) 1 else 0
    var punct = 0
    var nChars = 0
    var unionHits = 0
    val hits = new Array[Int](cfg.sets.length)

    var i = 0
    while (i < n) {
      val b = bytes(i)
      // char + punct accounting over the FULL text (not trimmed)
      if (b >= 0) { // ASCII
        nChars += 1
        if (!isAlnum(b) && !isWs(b)) punct += 1
      } else if ((b & 0xC0) != 0x80) { // non-ASCII lead byte
        nChars += 1
        punct += 1 // multi-byte codepoints are never in [A-Za-z0-9\s]
      }
      i += 1
    }
    // token scan over the space-trimmed range (split operates on trim())
    i = ts
    while (i < te) {
      while (i < te && isWs(bytes(i))) i += 1
      val start = i
      while (i < te && !isWs(bytes(i))) i += 1
      if (i > start) {
        nTokens += 1
        val tok = UTF8String.fromBytes(bytes, start, i - start).toLowerCase
        if (cfg.union.contains(tok)) {
          unionHits += 1
          var j = 0
          while (j < hits.length) {
            if (cfg.sets(j).contains(tok)) hits(j) += 1
            j += 1
          }
        }
      }
    }

    if (nTokens < cfg.minTokens) return false

    // --- quality score, op-for-op as TextAnalysis.qualityScore ---
    val nd = nTokens.toDouble
    val lenScore = math.min(nd / 100.0, 1.0)
    val stopScore = math.min(unionHits.toDouble / math.max(nd, 1.0) * 5.0, 1.0)
    val punctPenalty = math.min(
      punct.toDouble / math.max(nChars, 1).toDouble * 4.0, 1.0)
    val raw = (lenScore * 0.4 + stopScore * 0.4 +
      (1.0 - punctPenalty) * 0.2) * 1000
    val quality = java.math.BigDecimal.valueOf(raw)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
    if (quality < cfg.minQuality) return false

    // --- language argmax, declared order on ties, und on zero hits ---
    if (cfg.wantIdx < 0) return false
    var best = 0
    var bestIdx = -1
    var j = 0
    while (j < hits.length) {
      if (hits(j) > best) { best = hits(j); bestIdx = j }
      j += 1
    }
    best > 0 && bestIdx == cfg.wantIdx
  }
}

/** Runtime config shipped to executors via a codegen reference object.
  * Top-level class so generated Java can name it directly. */
final class CurationGateConfig(langSets: Seq[(String, Seq[String])],
    val minTokens: Int, val minQuality: Long,
    wantLangName: String) extends Serializable {
  val sets: Array[java.util.HashSet[UTF8String]] = langSets.map { case (_, ws) =>
    val s = new java.util.HashSet[UTF8String](ws.size * 2)
    ws.foreach(w => s.add(UTF8String.fromString(w)))
    s
  }.toArray
  val union: java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String]()
    langSets.foreach(_._2.foreach(w => s.add(UTF8String.fromString(w))))
    s
  }
  /** Index of the wanted language in declared order, -1 if absent. */
  val wantIdx: Int = langSets.indexWhere(_._1 == wantLangName)
}

case class CurationGateExpression(child: Expression,
    langSets: Seq[(String, Seq[String])], minTokens: Int, minQuality: Long,
    wantLang: String)
  extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"curation_gate requires STRING input, got ${other.catalogString}")
  }

  override def dataType: DataType = BooleanType
  override def prettyName: String = "curation_gate"

  @transient private lazy val cfg =
    new CurationGateConfig(langSets, minTokens, minQuality, wantLang)

  override def nullSafeEval(input: Any): Any =
    CurationGate.gate(input.asInstanceOf[UTF8String], cfg)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cfgRef = ctx.addReferenceObj("gateCfg", cfg,
      "graft.functions.CurationGateConfig")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.CurationGate.gate($c, $cfgRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
