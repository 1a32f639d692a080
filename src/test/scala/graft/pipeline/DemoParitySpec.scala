package graft.pipeline

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import graft.{DemoBundle, SparkSuite}
import graft.artifact.{Builder, PayloadIO, Vocab}
import graft.mine.Miner
import graft.score.Scorer
import graft.tag.Tagger

/**
 * THE minimum-slice oracle (SURVEY.md §7.3, FIXTURES.md §2a): run the reference's
 * end-to-end demo pipeline (examples/end_to_end_demo.rb:44-114) — 10-doc corpus →
 * mine(2..5, min_count=2) → score(ratio, 2.0, 2, 5 background phrases) → build →
 * tag(leftmost_longest) — and assert parity with the COMMITTED reference outputs
 * in /root/reference/examples/demo_output/ (the one place tests read the
 * reference, for byte-level comparison).
 *
 * Phrase-id parity is asserted per token sequence, because the reference's id
 * order within salience ties follows Rust HashMap iteration → nondeterministic
 * across its own runs (SURVEY.md §7.6 item 1).
 */
class DemoParitySpec extends SparkSuite {
  import spark.implicits._

  private val corpus = DemoBundle.corpus

  private val background = DemoBundle.background.toDF("ngram", "count")

  private lazy val mined =
    Miner.mine(corpus.toDF(), "tokens", Miner.MineConfig(2, 5, minCount = 2))

  private lazy val scored = Scorer.score(
    mined.select("ngram", "count"), background,
    Scorer.ScoreConfig("ratio", 2.0f, 2, assignPhraseIds = true, 1000))

  private lazy val (model, buildStats) =
    Builder.build(scored.withColumnRenamed("domain_count", "count"))

  test("score output = the 7 committed phrases with exact saliences/counts") {
    val got = scored
      .select("ngram", "salience", "domain_count", "background_count")
      .as[(String, Float, Long, Long)].collect().toSet
    val want = Set(
      ("rat cdk10", 3.0f, 3L, 0L),
      ("rat cdk10 oligo", 2.0f, 2L, 0L),
      ("cdk10 oligo", 2.0f, 2L, 0L),
      ("protein assay", 2.0f, 2L, 0L),
      ("assay buffer", 2.0f, 2L, 0L),
      ("protein assay buffer", 2.0f, 2L, 0L),
      ("master mix", 2.0f, 2L, 0L))
    assert(got == want)
    // filtered out, per FIXTURES.md §2a: lysis buffer 2/(8+1), western blot
    // 2/(5+1), "in the" (huge bg), anything count<2
    assert(!got.exists(_._1 == "lysis buffer"))
  }

  test("phrase ids are sequential from 1000 in (salience desc, ngram asc) order") {
    val got = scored.select("phrase_id", "ngram").as[(Long, String)].collect().toMap
    assert(got(1000L) == "rat cdk10") // unique top salience
    assert(got.keySet == (1000L to 1006L).toSet)
    val tieGroup = (1001L to 1006L).map(got)
    assert(tieGroup == tieGroup.sorted) // our documented total order
  }

  test("vocab matches the committed artifact exactly (8 tokens, alphabetical ids)") {
    assert(model.vocab.tokens == Map(
      "assay" -> 1, "buffer" -> 2, "cdk10" -> 3, "master" -> 4,
      "mix" -> 5, "oligo" -> 6, "protein" -> 7, "rat" -> 8))
    assert(model.vocab.vocabSize == 9)
    assert(model.vocab.separatorId == 4294967294L)
  }

  test("payloads byte-parity with committed payloads.bin (modulo documented tie order)") {
    val refBytes = Files.readAllBytes(
      Paths.get("/root/reference/examples/demo_output/artifacts/payloads.bin"))
    val ours = PayloadIO.write(model.payloads.toIndexedSeq)
    assert(ours.length == refBytes.length)
    val refRecs = PayloadIO.read(refBytes)
    val ourRecs = PayloadIO.read(ours)
    // record 0 is forced by the unique top salience → byte-exact
    assert(ourRecs(0) == refRecs(0))
    assert(java.util.Arrays.equals(ours.slice(0, 17), refBytes.slice(0, 17)))
    // the 2.0-salience group's id order is HashMap-nondeterministic in the
    // reference; compare as multisets of (salience, count, n) and id sets
    def key(p: graft.model.Payload) = (p.salience, p.count, p.n)
    assert(ourRecs.map(key).sorted.toSeq == refRecs.map(key).sorted.toSeq)
    assert(ourRecs.map(_.phraseId).sorted.toSeq == refRecs.map(_.phraseId).sorted.toSeq)
    // roundtrip
    assert(PayloadIO.read(PayloadIO.write(ourRecs.toIndexedSeq)).toSeq == ourRecs.toSeq)
  }

  test("manifest: num_patterns=7, separator invariant") {
    assert(model.manifest.numPatterns == 7)
    assert(buildStats.built == 7)
    assert(model.manifest.separatorId == 4294967294L)
  }

  test("tagged spans match hand-derived reference semantics (leftmost_longest)") {
    val bc = spark.sparkContext.broadcast(model)
    val tagged = Tagger.tag(spark, corpus.toDS(), bc).collect()
      .map(t => t.docId -> t.spans.map(s => (s.start, s.end, s.label))).toMap
    assert(tagged("doc_1") == Seq((1, 4, "PHRASE")))  // rat cdk10 oligo
    assert(tagged("doc_2") == Seq((1, 4, "PHRASE")))  // protein assay buffer
    assert(tagged("doc_3") == Seq())                   // lysis buffer was filtered
    assert(tagged("doc_4") == Seq())
    assert(tagged("doc_5") == Seq((1, 3, "PHRASE"), (4, 7, "PHRASE"))) // master mix + rat cdk10 oligo
    assert(tagged("doc_6") == Seq((0, 3, "PHRASE")))
    assert(tagged("doc_7") == Seq((0, 2, "PHRASE")))  // rat cdk10
    assert(tagged("doc_8") == Seq())
    assert(tagged("doc_9") == Seq((0, 2, "PHRASE")))
    assert(tagged("doc_10") == Seq())
    // span → token-sequence parity: the tagged tokens equal the phrase tokens
    val byId = model.payloads.map(p => p.phraseId -> p).toMap
    val full = Tagger.tag(spark, corpus.toDS(), bc).collect()
    full.foreach { t =>
      t.spans.foreach { s =>
        assert(s.end - s.start == byId(s.phraseId).n.toInt)
      }
    }
  }

  test("tagging stats (A5)") {
    val bc = spark.sparkContext.broadcast(model)
    val st = Tagger.stats(Tagger.tag(spark, corpus.toDS(), bc).toDF())
    assert(st == Tagger.TaggingStats(10, 7, 6))
    assert(math.abs(st.avgSpansPerDoc - 0.7) < 1e-9)
  }

  test("build guard: oversized survivor table throws a diagnostic, not an OOM") {
    val e = intercept[IllegalArgumentException](
      Builder.build(scored.withColumnRenamed("domain_count", "count"),
        Builder.BuildConfig(maxBroadcastPatterns = 3)))
    assert(e.getMessage.contains("maxBroadcastPatterns"))
  }

  test("A6 build stats ride the single collect (exactly one SQL execution)") {
    scored.count() // materialize the input's internal actions first
    var execs = 0
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit = execs += 1
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    Thread.sleep(500) // listener events are async
    spark.listenerManager.register(l)
    try {
      val (_, st) = Builder.build(scored.withColumnRenamed("domain_count", "count"))
      Thread.sleep(500) // listener events are async
      assert(execs == 1, s"build ran $execs SQL executions, expected 1")
      assert(st.totalInput == 7 && st.built == 7 && st.invalidTokens == 0)
    } finally spark.listenerManager.unregister(l)
  }

  test("mining stats + min_count monotonicity (spec/miner_spec.rb:76-99)") {
    val (_, stats) = Miner.mineWithStats(corpus.toDF(), "tokens", Miner.MineConfig(2, 5, 2))
    val st = stats()
    assert(st.totalDocs == 10)
    assert(st.totalTokens == corpus.map(_.tokens.length).sum)
    val lower = Miner.mine(corpus.toDF(), "tokens", Miner.MineConfig(2, 5, 1)).count()
    val higher = Miner.mine(corpus.toDF(), "tokens", Miner.MineConfig(2, 5, 3)).count()
    assert(higher <= mined.count() && mined.count() <= lower)
  }
}
