package graft.mine

import graft.SparkSuite
import graft.model.Doc
import org.apache.spark.sql.functions._

/** Miner pins ported from spec/miner_spec.rb + matcher latency budget from
 * spec/phrasekit_spec.rb:216-227. */
class MinerSpec extends SparkSuite {
  import spark.implicits._

  private val corpus = Seq(
    Doc("d1", Seq("the", "rat", "cdk10", "oligo", "was", "used")),
    Doc("d2", Seq("RAT", "CDK10", "works")), // case folding (miner_spec.rb:189-213)
    Doc("d3", Seq("rat", "cdk10", "again")),
    Doc("d4", Seq())).toDF()

  test("counts occurrences with lowercase normalization: 'rat cdk10' ×3") {
    val m = Miner.mine(corpus, "tokens", Miner.MineConfig(2, 2, 1))
      .select("ngram", "count").as[(String, Long)].collect().toMap
    assert(m("rat cdk10") == 3L)
    assert(!m.keys.exists(_.exists(_.isUpper)))
  }

  test("overlapping windows count per occurrence, not per doc") {
    val d = Seq(Doc("x", Seq("a", "a", "a", "a"))).toDF()
    val m = Miner.mine(d, "tokens", Miner.MineConfig(2, 3, 1))
      .select("ngram", "count").as[(String, Long)].collect().toMap
    assert(m("a a") == 3L && m("a a a") == 2L)
  }

  test("n-length bounds honored; docs shorter than n contribute nothing") {
    val m = Miner.mine(corpus, "tokens", Miner.MineConfig(4, 5, 1))
      .select("ngram").as[String].collect()
    assert(m.forall(g => { val n = g.split(" ").length; n >= 4 && n <= 5 }))
    assert(!m.exists(_.startsWith("rat cdk10 works"))) // d2 has only 3 tokens
  }

  test("empty corpus → empty output (miner_spec.rb:135-152)") {
    val empty = Seq.empty[Doc].toDF()
    assert(Miner.mine(empty, "tokens", Miner.MineConfig(2, 5, 1)).count() == 0)
  }

  test("output order: count desc with deterministic ngram tie-break (O1 total order)") {
    val rows = Miner.mine(corpus, "tokens", Miner.MineConfig(2, 2, 1))
      .select("ngram", "count").as[(String, Long)].collect()
    val resorted = rows.sortBy(r => (-r._2, r._1))
    assert(rows.toSeq == resorted.toSeq)
  }

  test("online matcher latency budget: p95 < 500µs over 100 reps, 20-token query") {
    // mirror of the reference's only enforced perf budget
    // (spec/phrasekit_spec.rb:216-227), on the 3-pattern fixture
    val trie = graft.matching.AhoCorasick.build(Array(
      Array(100, 101), Array(200, 101), Array(100, 101, 102)))
    val payloads = Array(
      graft.model.Payload(100, 2.5f, 150, 2),
      graft.model.Payload(200, 2.0f, 100, 2),
      graft.model.Payload(300, 3.0f, 200, 3))
    val model = graft.artifact.TagModel(
      graft.artifact.Vocab(Map("machine" -> 100, "learning" -> 101,
        "algorithms" -> 102, "deep" -> 200), 4294967294L),
      trie, payloads,
      graft.artifact.Manifest("t", "whitespace", 3, None, None, "now", 4294967294L))
    val query = Array.tabulate(20)(i => Seq(100, 101, 102, 200, 0)(i % 5))
    // warm up
    (1 to 50).foreach(_ => graft.tag.Matcher.matchTokens(model, query))
    val times = (1 to 100).map { _ =>
      val t0 = System.nanoTime()
      graft.tag.Matcher.matchTokens(model, query, "leftmost_longest", 32)
      System.nanoTime() - t0
    }.sorted
    val p95 = times(94)
    assert(p95 < 500000L, s"p95 = ${p95 / 1000.0}µs (budget 500µs)")
  }

  test("join-path rematerialization (survivors above broadcast limit) matches broadcast path") {
    val cfgB = Miner.MineConfig(2, 3, 1)
    val cfgJ = Miner.MineConfig(2, 3, 1, broadcastSurvivorLimit = 0)
    val a = Miner.mine(corpus, "tokens", cfgB).select("ngram", "count")
      .as[(String, Long)].collect().toSet
    val b = Miner.mine(corpus, "tokens", cfgJ).select("ngram", "count")
      .as[(String, Long)].collect().toSet
    assert(a == b && a.nonEmpty)
  }

  test("A3 mining stats ride pass 1 via observe(): correct, no extra jobs to read") {
    val cfg = Miner.MineConfig(2, 3, 1)
    val (mined, stats) = Miner.mineWithStats(corpus, "tokens", cfg)
    val rows = mined.count() // caller's action (pass 1 already ran inside mine)
    var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(s: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val st = stats()
      Thread.sleep(500) // listener events are async
      assert(jobs == 0, "reading MiningStats must not launch Spark jobs")
      assert(st.totalDocs == 4)
      assert(st.totalTokens == 6 + 3 + 3 + 0)
      // Σ_n∈{2,3} max(L-n+1, 0): d1(6)=5+4, d2(3)=2+1, d3(3)=2+1, d4(0)=0
      assert(st.totalNgramsExtracted == 9 + 3 + 3)
      assert(st.ngramsAfterFilter == rows)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("property: hashed mine counts == plain-Scala string groupBy (broadcast and join paths)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // mixed case plus six code points whose Catalyst lower() (ICU) differs
    // from the JDK mapping the mine uses
    val alphabet = Seq("a", "A", "b", "B", "c", "\u2C2F", "\uD801\uDD70", "\u1C89",
      "\uD803\uDD50", "\uA7C0", "\uA7DC")
    val gen = for {
      docs <- Gen.listOfN(8, Gen.choose(0, 10).flatMap(Gen.listOfN(_, Gen.oneOf(alphabet))))
      minN <- Gen.choose(1, 3)
      maxN <- Gen.choose(minN, 4)
      minCount <- Gen.choose(1L, 3L)
    } yield (docs, minN, maxN, minCount)
    val prop = Prop.forAllNoShrink(gen) { case (docs, minN, maxN, minCount) =>
      val exact = docs.flatMap(d => (minN to maxN).flatMap(n =>
          d.map(_.toLowerCase(java.util.Locale.ROOT)).sliding(n).filter(_.length == n)
            .map(_.mkString(" "))))
        .groupBy(identity).map { case (g, occ) => (g, occ.size.toLong) }
        .filter(_._2 >= minCount).toSet
      def run(cfg: Miner.MineConfig) = Miner.mine(docs.toDF("tokens"), "tokens", cfg)
        .select("ngram", "count").as[(String, Long)].collect().toSet
      val cfg = Miner.MineConfig(minN, maxN, minCount, ordered = false)
      run(cfg) == exact && run(cfg.copy(broadcastSurvivorLimit = 0)) == exact
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(15), prop)
    assert(res.passed, res.status.toString)
  }
}
