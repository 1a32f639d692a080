package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Single-pass text expressions for the corpus hot path. The column-function
 * formulations they replace re-stream every byte of every document several
 * times (extract: decode + greedy regexp_extract + 3 regexp_replace passes,
 * each allocating a fresh string; tokenize: lower + regex split + filter) —
 * at 100 TB that multiplies memory traffic by the pass count, and the
 * round-2 bench showed the pipeline is memory-bandwidth-bound, not
 * CPU-bound. Both expressions run one byte-level scan per document.
 *
 * CodegenFallback is deliberate (same rationale as NGramsGenerator): the
 * expression is invoked once per ROW, and all per-byte work happens in a
 * tight JIT-compiled loop — this is not the per-element interpreted-lambda
 * trap of higher-order functions.
 */

/**
 * `graft_extract_text(html BINARY) → STRING` — byte-exact equivalent of
 *   regexp_replace×3(regexp_extract(decode(html,'UTF-8'), '(?s)<p>(.*)</p>', 1))
 * i.e. the greedy body span (first `<p>` to LAST `</p>`), entities
 * `&lt; &gt; &amp;` unescaped. Left-to-right single-pass unescaping is
 * equivalent to the sequential global replaces: the three patterns are
 * prefix-distinct after `&`, none of the produced characters (`<`, `>`, `&`)
 * can retroactively complete a pattern to their left, and replacement
 * proceeds left-to-right in both formulations (pinned in ExtractExprsSpec
 * against the regex chain, including adversarial `&amp;lt;` nestings).
 * Operating on raw UTF-8 bytes is safe: all matched bytes are ASCII, and
 * multi-byte sequences never contain ASCII values.
 *
 * INPUT CONTRACT: `html` must be valid UTF-8. The regex-chain oracle
 * sanitizes invalid bytes to U+FFFD during `decode(html,'UTF-8')`, while
 * this expression copies body-span bytes verbatim — on malformed input the
 * two DIVERGE and the native path propagates the invalid bytes downstream
 * (pinned in TextExprsSpec "malformed UTF-8"). The pipeline's inputs are
 * valid by construction (Synth corpus; WARC extraction upstream of this
 * engine re-encodes to UTF-8); verbatim copy is the deliberate choice
 * because byte-identity per url is the north-rule invariant — sanitizing
 * would break `extract(html) === text` whenever the stored text carries the
 * original bytes.
 */
case class ExtractTextExpr(child: Expression) extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = StringType
  override def prettyName: String = "graft_extract_text"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_extract_text requires BINARY, got ${other.sql}")
  }

  override def nullSafeEval(input: Any): Any = {
    val b = input.asInstanceOf[Array[Byte]]
    // first "<p>"
    var start = -1
    var i = 0
    while (start < 0 && i + 3 <= b.length) {
      if (b(i) == '<' && b(i + 1) == 'p' && b(i + 2) == '>') start = i + 3
      i += 1
    }
    if (start < 0) return UTF8String.EMPTY_UTF8
    // last "</p>"
    var end = -1
    i = b.length - 4
    while (end < 0 && i >= start) {
      if (b(i) == '<' && b(i + 1) == '/' && b(i + 2) == 'p' && b(i + 3) == '>') end = i
      i -= 1
    }
    if (end < 0) return UTF8String.EMPTY_UTF8
    // single-pass unescape into an output buffer (never longer than input)
    val out = new Array[Byte](end - start)
    var o = 0
    i = start
    while (i < end) {
      val c = b(i)
      if (c == '&') {
        if (i + 4 <= end && b(i + 1) == 'l' && b(i + 2) == 't' && b(i + 3) == ';') {
          out(o) = '<'; o += 1; i += 4
        } else if (i + 4 <= end && b(i + 1) == 'g' && b(i + 2) == 't' && b(i + 3) == ';') {
          out(o) = '>'; o += 1; i += 4
        } else if (i + 5 <= end && b(i + 1) == 'a' && b(i + 2) == 'm' && b(i + 3) == 'p' &&
            b(i + 4) == ';') {
          out(o) = '&'; o += 1; i += 5
        } else { out(o) = c; o += 1; i += 1 }
      } else { out(o) = c; o += 1; i += 1 }
    }
    if (o == out.length) UTF8String.fromBytes(out)
    else UTF8String.fromBytes(java.util.Arrays.copyOf(out, o))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * `graft_tokenize(text STRING) → ARRAY<STRING>` — the single-pass form of
 *   filter(split(lower(text), "\\s+"), t => t =!= "")
 * with one difference: the case mapping is the gram key's (`Grams.lower`,
 * the JDK's `Locale.ROOT` mapping), not Catalyst `lower()`, which uses ICU.
 * The two agree on ASCII and on most of Unicode but not everywhere (U+2C2F
 * `Ⱟ`: ICU lowercases it to U+2C5F, the JDK leaves it), so the result is
 * byte-exact with the column formulation only where they agree.
 * Lowercases ONCE (ASCII fast path, full Unicode fallback), then splits on
 * Java-regex `\s` = [ \t\n\x0B\f\r] (ASCII-only, exactly the set the regex
 * split matched) in one scan; tokens are ZERO-COPY slices of the lowered
 * buffer (UTF8String substrings), so the only allocation per document is
 * the lowered string and the token array.
 */
case class TokenizeExpr(child: Expression) extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_tokenize"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_tokenize requires STRING, got ${other.sql}")
  }

  @inline private def isWs(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 0x0B || b == '\f' || b == '\r'

  override def nullSafeEval(input: Any): Any = {
    val lowered = graft.mine.Grams.lower(input.asInstanceOf[UTF8String])
    val bytes = lowered.getBytes // materialized once; token slices are views
    val n = bytes.length
    val out = new scala.collection.mutable.ArrayBuffer[Any](16)
    var i = 0
    while (i < n) {
      // skip whitespace run (all-ASCII set: never lands inside a multi-byte
      // UTF-8 sequence, so byte slicing is codepoint-safe)
      while (i < n && isWs(bytes(i))) i += 1
      if (i < n) {
        val s = i
        while (i < n && !isWs(bytes(i))) i += 1
        out += UTF8String.fromBytes(bytes, s, i - s) // zero-copy slice
      }
    }
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `graft_lower(s STRING) → STRING`: `Grams.lower`, the gram key's case
 * mapping, as a Catalyst expression (the column form `Grams.lower(Column)`). */
case class LowerExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_lower"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"graft_lower requires STRING, got ${other.sql}")
  }
  override protected def nullSafeEval(input: Any): Any =
    graft.mine.Grams.lower(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.mine.Grams.lower($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TextExprs {
  import org.apache.spark.sql.catalyst.FunctionIdentifier

  val extractDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_extract_text"),
    new ExpressionInfo(classOf[ExtractTextExpr].getName, "graft_extract_text"),
    (exprs: Seq[Expression]) => {
      require(exprs.length == 1, "graft_extract_text(html) takes 1 argument")
      ExtractTextExpr(exprs.head)
    })

  val lowerDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_lower"),
    new ExpressionInfo(classOf[LowerExpr].getName, "graft_lower"),
    (exprs: Seq[Expression]) => {
      require(exprs.length == 1, "graft_lower(s) takes 1 argument")
      LowerExpr(exprs.head)
    })

  val tokenizeDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_tokenize"),
    new ExpressionInfo(classOf[TokenizeExpr].getName, "graft_tokenize"),
    (exprs: Seq[Expression]) => {
      require(exprs.length == 1, "graft_tokenize(text) takes 1 argument")
      TokenizeExpr(exprs.head)
    })
}
