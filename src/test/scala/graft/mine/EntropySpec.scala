package graft.mine

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Hand-computed PMI / branching-entropy pins on a 4-doc corpus. */
class EntropySpec extends SparkSuite {
  import spark.implicits._

  // unigrams: a=4 b=4 c=2 d=e=x=y=z=1, T=15
  private val docs = Seq(
    Seq("a", "b", "c", "d"),
    Seq("a", "b", "c", "e"),
    Seq("a", "b", "x", "y"),
    Seq("z", "a", "b")).toDF("t")

  private lazy val cands =
    Miner.mine(docs, "t", Miner.MineConfig(2, 2, 2, ordered = false)).select("ngram", "count")

  private lazy val scoredDf =
    Entropy.score(cands,
      Miner.mine(docs, "t", Miner.MineConfig(1, 1, 1, ordered = false)).select("ngram", "count"),
      Miner.mine(docs, "t", Miner.MineConfig(3, 3, 1, ordered = false)).select("ngram", "count"))

  test("PMI = log2(c(g)·T^(n−1)/Πc(wi)) — hand value for 'a b' and 'b c'") {
    val m = scoredDf.select("ngram", "pmi").as[(String, Double)].collect().toMap
    val want = math.log(4.0 * 15 / (4 * 4)) / math.log(2.0) // a b: log2(3.75)
    assert(math.abs(m("a b") - want) < 1e-9)
    assert(math.abs(m("b c") - math.log(2.0 * 15 / (4 * 2)) / math.log(2.0)) < 1e-9)
  }

  test("branching entropies: deterministic context → 0; {c:2,x:1} → ln3 − (2ln2)/3") {
    val m = scoredDf.select("ngram", "left_entropy", "right_entropy")
      .as[(String, Double, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val (abL, abR) = m("a b")
    assert(abL == 0.0) // only 'z a b' precedes
    assert(math.abs(abR - (math.log(3.0) - 2 * math.log(2.0) / 3)) < 1e-9)
    val (bcL, bcR) = m("b c")
    assert(math.abs(bcL - 0.0) < 1e-9)      // always preceded by 'a'
    assert(math.abs(bcR - math.log(2.0)) < 1e-9) // d/e equally likely
  }

  test("filterCandidates applies both gates") {
    val kept = Entropy.filterCandidates(docs, "t", cands, 2, 2,
        Entropy.EntropyConfig(minPmi = 1.0, minBranchEntropy = 0.5))
      .select("ngram").as[String].collect().toSet
    assert(kept == Set("a b", "b c"))
    val strict = Entropy.filterCandidates(docs, "t", cands, 2, 2,
        Entropy.EntropyConfig(minPmi = 2.0, minBranchEntropy = 0.5))
      .select("ngram").as[String].collect().toSet
    assert(strict.isEmpty) // both PMIs are log2(3.75) ≈ 1.907 < 2.0
  }

  test("boundedExtensions: aggregate keyspace is candidate-adjacent only, counts exact") {
    // corpus has many 3-grams, but only those whose length-2 prefix or suffix
    // is a candidate may survive the pre-aggregate restriction
    val only = Entropy.boundedExtensions(docs, "t", Seq(("a b", 4L)).toDF("ngram", "count"), 2, 2)
    val rows = only.select("ngram", "count", "p", "s")
      .as[(String, Long, Int, Int)].collect().toSet
    // adjacent to "a b": right-extensions "a b c"(2) "a b x"(1); left-extension "z a b"(1)
    assert(rows == Set(("a b c", 2L, 1, 0), ("a b x", 1L, 1, 0), ("z a b", 1L, 0, 1)),
      rows.toString)
    // round-6 hash-first shape: the candidate restriction happens INSIDE the
    // per-partition combiner (below any exchange), so the plan's ONLY
    // exchange is the candidate-bounded final aggregate — no corpus-scale
    // gram explode (Generate) and no join survives in the broadcast path
    val plan = only.queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(plan).size == 1,
      s"expected exactly one (candidate-bounded aggregate) exchange:\n$plan")
    assert(!plan.contains("Generate") && !plan.contains("Join"),
      s"expected no gram explode and no join in the broadcast path:\n$plan")
  }

  test("duplicate candidate rows do not inflate extension counts") {
    val dup = Seq(("a b", 4L), ("a b", 4L)).toDF("ngram", "count")
    val rows = Entropy.boundedExtensions(docs, "t", dup, 2, 2)
      .select("ngram", "count", "p", "s").as[(String, Long, Int, Int)].collect().toSet
    assert(rows == Set(("a b c", 2L, 1, 0), ("a b x", 1L, 1, 0), ("z a b", 1L, 0, 1)),
      rows.toString)
  }

  test("filterCandidates == legacy unbounded-extension scoring (same corpus)") {
    val bounded = Entropy.filterCandidates(docs, "t", cands, 2, 2)
      .select("ngram", "pmi", "left_entropy", "right_entropy")
      .as[(String, Double, Double, Double)].collect().toSet
    val legacy = Entropy.score(cands,
        Miner.mine(docs, "t", Miner.MineConfig(1, 1, 1, ordered = false)).select("ngram", "count"),
        Miner.mine(docs, "t", Miner.MineConfig(3, 3, 1, ordered = false)).select("ngram", "count"))
      .filter(col("pmi") >= 1.0 &&
        greatest(col("left_entropy"), col("right_entropy")) >= 0.5)
      .select("ngram", "pmi", "left_entropy", "right_entropy")
      .as[(String, Double, Double, Double)].collect().toSet
    assert(bounded == legacy && bounded.nonEmpty)
  }

  test("fallback path (candidates above broadcast limit) matches broadcast path here") {
    // min_count-2+ extensions only in this corpus: "a b c" (2). With the
    // fallback floor at 2 the surviving extension set is {a b c}; hand-check
    // the resulting right entropy degrades exactly as documented (singleton
    // tails dropped).
    val cfg = Entropy.EntropyConfig(broadcastCandidateLimit = 0L)
    val out = Entropy.boundedExtensions(docs, "t",
        Seq(("a b", 4L)).toDF("ngram", "count"), 2, 2, cfg)
      .select("ngram", "count", "p", "s").as[(String, Long, Int, Int)].collect().toSet
    assert(out == Set(("a b c", 2L, 1, 0)), out.toString)
  }

  test("candidates with no extensions on either side get entropy 0 (corpus edge)") {
    val single = Seq(Seq("p", "q")).toDF("t")
    val c1 = Miner.mine(single, "t", Miner.MineConfig(2, 2, 1, ordered = false))
      .select("ngram", "count")
    val out = Entropy.score(c1,
      Miner.mine(single, "t", Miner.MineConfig(1, 1, 1, ordered = false)).select("ngram", "count"),
      Miner.mine(single, "t", Miner.MineConfig(3, 3, 1, ordered = false)).select("ngram", "count"))
      .select("ngram", "left_entropy", "right_entropy").as[(String, Double, Double)].collect()
    assert(out.toSeq == Seq(("p q", 0.0, 0.0)))
  }

  test("PMI of a candidate with U+2C2F uses the mine's case mapping for its unigrams") {
    // Catalyst lower() (ICU) maps U+2C2F to U+2C5F, the JDK mapping keeps it;
    // a unigram table lowered the other way would miss the token and inflate PMI
    val q = "\u2C2F"
    val d = Seq(Seq(q, "x", "y"), Seq(q, "x", "z"), Seq("a", "x")).toDF("t")
    val c = Seq((s"$q x", 2L)).toDF("ngram", "count")
    val pmi = Entropy.filterCandidates(d, "t", c, 2, 2,
        Entropy.EntropyConfig(minPmi = Double.NegativeInfinity, minBranchEntropy = 0.0))
      .select("ngram", "pmi").as[(String, Double)].collect().toMap
    // T = 8, c(q) = 2, c(x) = 3: log2(2·8 / (2·3))
    assert(math.abs(pmi(s"$q x") - math.log(16.0 / 6) / math.log(2.0)) < 1e-9, pmi.toString)
  }

  test("score fails loudly when a candidate token has no unigram row") {
    val unigrams = Seq(("a", 4L), ("c", 2L)).toDF("ngram", "count") // no "b"
    val e = intercept[Exception](Entropy.score(cands, unigrams,
      Seq.empty[(String, Long)].toDF("ngram", "count")).collect())
    assert(e.getMessage.contains("unigram rows"), e.getMessage)
  }

  test("property: boundedExtensions == string-exact prefix/suffix adjacency (both paths)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val alphabet = Seq("a", "A", "b", "c", "\u2C2F", "\uA7C0", "\u1C89")
    val gen = for {
      docs <- Gen.listOfN(6, Gen.choose(0, 8).flatMap(Gen.listOfN(_, Gen.oneOf(alphabet))))
      minN <- Gen.choose(1, 2)
      maxN <- Gen.choose(minN, 3)
      cands <- Gen.someOf(docs.flatMap(d => (minN to maxN).flatMap(n =>
        d.map(_.toLowerCase(java.util.Locale.ROOT)).sliding(n).filter(_.length == n)
          .map(_.mkString(" ")))).distinct :+ "A b")
    } yield (docs, minN, maxN, cands.toSeq)
    val prop = Prop.forAllNoShrink(gen) { case (docs, minN, maxN, cands) =>
      val df = docs.toDF("t")
      val candDf = cands.map((_, 1L)).toDF("ngram", "count")
      val candSet = cands.toSet
      val exact = docs.flatMap(d => (minN + 1 to maxN + 1).flatMap(n =>
          d.map(_.toLowerCase(java.util.Locale.ROOT)).sliding(n).filter(_.length == n)))
        .map(w => (w.mkString(" "), if (candSet(w.init.mkString(" "))) 1 else 0,
          if (candSet(w.tail.mkString(" "))) 1 else 0))
        .filter(g => g._2 == 1 || g._3 == 1)
        .groupBy(identity).map { case ((g, p, s), occ) => (g, occ.size.toLong, p, s) }.toSet
      def run(cfg: Entropy.EntropyConfig) =
        Entropy.boundedExtensions(df, "t", candDf, minN, maxN, cfg)
          .select("ngram", "count", "p", "s").as[(String, Long, Int, Int)].collect().toSet
      val fallback = Entropy.EntropyConfig(broadcastCandidateLimit = 0L)
      run(Entropy.EntropyConfig()) == exact &&
        run(fallback) == exact.filter(_._2 >= fallback.fallbackExtensionMinCount)
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(15), prop)
    assert(res.passed, res.status.toString)
  }
}
