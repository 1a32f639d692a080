package graft.mine

import graft.SparkSuite
import graft.artifact.Builder
import graft.matching.Policy
import graft.model.Doc
import graft.tag.Tagger

/** The gram key's case mapping on every path that reads it. U+2C2F is one of
 * the code points where Catalyst lower() (ICU) and the JDK mapping differ:
 * ICU lowercases it to U+2C5F, the JDK leaves it. */
class GramsSpec extends SparkSuite {
  import spark.implicits._

  private val q = "\u2C2F"

  test("a built phrase containing U+2C2F tags the same surface tokens") {
    val model = Builder.build(Seq((s"$q x", Seq(q, "x"), 2.5f, 7, 10L))
      .toDF("ngram", "tokens", "salience", "phrase_id", "count"))._1
    val spans = Tagger.tagDoc(model, Policy.LeftmostLongest, 32, "PHRASE")(
      Doc("d", Seq(q, "x"))).spans
    assert(spans.map(sp => (sp.start, sp.end, sp.phraseId)) == Seq((0, 2, 7)), spans.toString)
  }

  test("column form == String form == UTF8String form") {
    // Σ İ ǅ ẞ (both mappings agree), then the six where they differ
    val words = Seq("Rat", "CDK10", "\u03A3", "\u0130", "\u01C5", "\u1E9E", q,
      "\uD801\uDD70", "\u1C89", "\uD803\uDD50", "\uA7C0", "\uA7DC", "")
    val viaCol = words.toDF("w").select(Grams.lower($"w")).as[String].collect().toSeq
    assert(viaCol == words.map(Grams.lower(_: String)))
    assert(words.map(w => Grams.lower(
      org.apache.spark.unsafe.types.UTF8String.fromString(w)).toString) == words.map(Grams.lower(_: String)))
  }
}
