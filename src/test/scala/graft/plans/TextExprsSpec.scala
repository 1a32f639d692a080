package graft.plans

import org.apache.spark.sql.functions._
import graft.SparkSuite
import graft.corpus.Extract

/** Single-pass extract/tokenize expressions: byte equivalence with the
 * multi-pass regex formulations they replace, on adversarial inputs. */
class TextExprsSpec extends SparkSuite {
  import spark.implicits._

  private val adversarial = Seq(
    "hello & goodbye", "&amp;lt;", "&amp;amp;", "&lt;amp;", "a&lt;b&gt;c&amp;d",
    "&", "&l", "&lt", "&gt", "&amp", "x&;y", "&&amp;&", "trail&", "&gt;&lt;&amp;",
    "", " ", "  a  b  ", "tabs\tand\nnewlines\r\nsplit", "vertform\ffeed",
    "nbsp stays together", "Ünïcødé ÉMOJI 🎉 ΣΟΦΟΣ ΑΣ",
    "MixedCASE Tokens HERE", "<p>tag-looking text</p>")

  test("graft_extract_text ≡ regex chain (wrapped + malformed raw html)") {
    val wrapped = adversarial.map(Extract.wrapHtml)
    val raw = Seq(
      "no markers at all", "<p>unclosed", "unopened</p>", "<p>a</p><p>b</p>",
      "<p></p>", "pre<p>mid&lt;dle</p>post", "<p>&amp;lt;</p>", "<p",
      "<p>multi</p>line</p>end", "<p>&amp;amp;&lt;&gt;</p>")
      .map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val df = (wrapped ++ raw).map(Tuple1(_)).toDF("html")
    val got = df.select(Extract.extractText(col("html")).as("t")).as[String].collect().toSeq
    val want = df.select(Extract.extractTextRegex(col("html")).as("t")).as[String].collect().toSeq
    assert(got == want)
  }

  test("round-trip invariant: extract(wrapHtml(text)) === text") {
    val df = adversarial.map(t => Tuple1(Extract.wrapHtml(t))).toDF("html")
    val got = df.select(Extract.extractText(col("html")).as("t")).as[String].collect().toSeq
    assert(got == adversarial)
  }

  test("graft_tokenize ≡ lower + regex split + filter (incl. real corpus text)") {
    val df = adversarial.toDF("text")
      .unionByName(spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select(col("text")))
    val got = df.select(Extract.tokenize(col("text")).as("t"))
      .as[Seq[String]].collect().toSeq
    val want = df.select(Extract.tokenizeColumns(col("text")).as("t"))
      .as[Seq[String]].collect().toSeq
    assert(got == want)
    assert(got.exists(_.nonEmpty))
  }

  test("malformed UTF-8: body bytes are copied verbatim (documented contract)") {
    // 0xC3 alone is a truncated 2-byte sequence; 0xFF is never valid UTF-8.
    // The regex-chain oracle would sanitize both to U+FFFD at decode time;
    // the native expression's contract (TextExprs scaladoc) is verbatim copy,
    // preserving the north-rule byte-identity invariant. Pin that the output
    // bytes equal the input body bytes exactly.
    val body = Array[Byte]('a', 0xC3.toByte, 'b', 0xFF.toByte, 'c')
    val html = ("<p>".getBytes("UTF-8") ++ body ++ "</p>".getBytes("UTF-8"))
    val df = Seq(Tuple1(html)).toDF("html")
    // cast(string→binary) returns the UTF8String's raw bytes verbatim
    // (encode() would round-trip through java.lang.String and sanitize)
    val out = df.select(Extract.extractText(col("html")).cast("binary").as("b"))
      .as[Array[Byte]].head()
    assert(out.toSeq == body.toSeq)
  }

  test("extract+tokenize plan contains no regex operators (single-pass path)") {
    val pages = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(encode(col("text"), "UTF-8").as("html"))
    val plan = pages.select(Extract.tokenize(Extract.extractText(col("html"))))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("regexp"), plan)
    assert(plan.contains("graft_tokenize") && plan.contains("graft_extract_text"), plan)
  }

  test("GraftFunctions.register keeps a function the session already has") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.Expression
    val session = spark.newSession()
    val registry = session.sessionState.functionRegistry
    val own: Seq[Expression] => Expression = TextExprs.tokenizeDescriptor._3(_)
    registry.createOrReplaceTempFunction("graft_tokenize", own, "scala_udf")
    GraftFunctions.register(session)
    GraftFunctions.register(session)
    assert(registry.lookupFunctionBuilder(FunctionIdentifier("graft_tokenize")).contains(own))
    assert(Seq("ngrams", "graft_vdot", "graft_extract_text")
      .forall(n => registry.functionExists(FunctionIdentifier(n))))
  }
}
