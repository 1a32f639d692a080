package graft.corpus

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/**
 * HTML → text extraction and tokenization, as pure Catalyst column expressions
 * (whole-stage-codegen friendly; no UDFs).
 *
 * The reference deliberately leaves tokenization out of scope and consumes
 * pre-tokenized docs (docs/MINING.md:22-39); its own demos use a lowercase
 * whitespace tokenizer (examples/integration.rb:65, build_config.json
 * `"tokenizer":"whitespace"`). Our front-end adds the extract step required by
 * BASELINE.json's input_hint with a byte-identity invariant: `Synth` wraps `text`
 * into `html` with a fixed escaping template, and `extractText` inverts it exactly,
 * so extract(html) === text byte-for-byte per url (tested in ExtractSpec).
 */
object Extract {

  /** Escape used by the synthesizer; `&` first so unescape (reverse order) inverts it. */
  def escapeHtml(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  val TemplatePrefix = "<html><head><title>graft</title></head><body><p>"
  val TemplateSuffix = "</p></body></html>"

  /** Driver-side template wrap (used by Synth and by tests). */
  def wrapHtml(text: String): Array[Byte] =
    (TemplatePrefix + escapeHtml(text) + TemplateSuffix)
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)

  private def ensureFunctions(): Unit =
    org.apache.spark.sql.SparkSession.getActiveSession
      .foreach(graft.plans.GraftFunctions.register)

  /** Column expression: html BINARY → extracted text STRING.
   * Inverse of wrapHtml: strip template (greedy first-`<p>`-to-last-`</p>`),
   * unescape entities. Routed through the SINGLE-PASS native expression
   * (plans.ExtractTextExpr) — the regex formulation below re-streams every
   * byte ~5× (decode + greedy extract + 3 global replaces), and the bench
   * showed the pipeline memory-bandwidth-bound. Byte equivalence with the
   * regex chain is pinned in TextExprsSpec. */
  def extractText(html: Column): Column = {
    ensureFunctions()
    call_function("graft_extract_text", html)
  }

  /** The original multi-pass regex formulation — kept as the equivalence
   * oracle for ExtractTextExpr. */
  def extractTextRegex(html: Column): Column = {
    val body = regexp_extract(decode(html, "UTF-8"), "(?s)<p>(.*)</p>", 1)
    regexp_replace(
      regexp_replace(
        regexp_replace(body, "&lt;", "<"),
        "&gt;", ">"),
      "&amp;", "&")
  }

  /** Column expression: text STRING → ARRAY<STRING> of lowercase whitespace tokens,
   * empties dropped (the reference's "whitespace" tokenizer + the lowercase
   * normalization it applies at every stage, SURVEY.md P1). Single-pass
   * native expression (plans.TokenizeExpr): one lowercase (`Grams.lower`,
   * the gram key's case mapping), one whitespace scan, zero-copy token
   * slices. */
  def tokenize(text: Column): Column = {
    ensureFunctions()
    call_function("graft_tokenize", text)
  }

  /** The original lower+regex-split+filter formulation — kept as the
   * equivalence oracle for TokenizeExpr (equal wherever Catalyst `lower()`
   * and `Grams.lower` agree; see TokenizeExpr). */
  def tokenizeColumns(text: Column): Column =
    filter(split(lower(text), "\\s+"), t => t =!= lit(""))
}
