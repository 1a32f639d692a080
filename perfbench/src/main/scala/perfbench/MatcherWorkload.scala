package perfbench

import java.nio.file.Paths
import java.util.concurrent.atomic.AtomicBoolean
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.artifact.{Builder, TagModel}
import graft.corpus.{Extract, Synth}
import graft.kg.KgPipeline
import graft.matching.{Policies, Policy}
import graft.mine.Miner
import graft.model.Doc
import graft.score.Scorer
import graft.tag.{Matcher, MatcherService, Tagger}
import KgWorkloads.Cfg
import Main.secondsSince

/**
 * The online matcher: `nproc` closed-loop clients call
 * `MatcherService.matchTextTokens` on token arrays of held-out Synth pages.
 * No Spark runs in the timed loop.
 */
object MatcherWorkload {

  /** The runtime parse rejects `all`, so the mix is the three strict policies. */
  val Policies3: Array[String] = Array("leftmost_longest", "leftmost_first", "salience_max")
  val MaxSpans = 32
  val Requests = 4096
  val BundleSize = 200

  final case class Request(tokens: IndexedSeq[String], policy: String)

  /** The scored phrase table of the corpus, by the same public calls and the
   * same config as `KgPipeline.build`; persisted. */
  def scoredPhrases(spark: SparkSession, corpus: String): DataFrame = {
    val pages = KgWorkloads.pages(spark, corpus)
    val docs = KgPipeline.cleanedDocs(pages, Cfg)
    val domain = Miner.mine(docs, "tokens", Cfg.mine.copy(ordered = false)).select("ngram", "count")
    Scorer.score(domain, KgPipeline.backgroundFromPages(pages, Cfg), Cfg.score).persist()
  }

  def fullModel(scored: DataFrame): TagModel =
    Builder.build(scored.withColumnRenamed("domain_count", "count"))._1

  /** The model of the `n` most salient phrases. */
  def topModel(scored: DataFrame, n: Int): TagModel =
    fullModel(scored.orderBy(col("salience").desc, col("phrase_id").asc).limit(n))

  /** Write `model` with `Builder.writeArtifacts`, load it back with
   * `TagModel.load` (what `MatcherService.load` calls) and check that the
   * patterns and payloads survive. Returns (write s, load s). */
  def publish(model: TagModel, dir: String, rep: Report): (Double, Double) = {
    val t0 = System.nanoTime()
    Builder.writeArtifacts(model, dir)
    val t1 = System.nanoTime()
    val loaded = TagModel.load(dir)
    val loadS = secondsSince(t1)
    val service = new MatcherService
    service.load(dir)
    rep.check(s"bundle $dir: MatcherService.load serves every pattern",
      service.stats.numPatterns == model.payloads.length)
    rep.check(s"bundle $dir: loaded patterns equal the written ones",
      loaded.trie.patterns.length == model.trie.patterns.length &&
        loaded.trie.patterns.indices.forall(i =>
          loaded.trie.patterns(i).sameElements(model.trie.patterns(i))))
    rep.check(s"bundle $dir: loaded payloads equal the written ones",
      loaded.payloads.sameElements(model.payloads))
    ((t1 - t0) / 1e9, loadS)
  }

  /** Request pages: the `lang` pages of a corpus drawn from the request seed,
   * tokenized the way the pipeline tokenizes; policies cycle. */
  def requests(spark: SparkSession, a: Args): Array[Request] =
    Synth.corpus(spark, Requests * 2L, a.requestSeed).toDF()
      .filter(col("lang") === Cfg.lang)
      .select(Extract.tokenize(col("text")))
      .limit(Requests).collect()
      .zipWithIndex.map { case (r, i) =>
        Request(r.getSeq[String](0).toIndexedSeq, Policies3(i % Policies3.length))
      }

  /** A reference for the two greedy policies that shares no code with the
   * matcher: the model's patterns as token-id sequences in a hash map,
   * tokens encoded by looking them up in the vocabulary's map, and at each
   * leftmost free start the longest (`leftmost_longest`) or shortest
   * (`leftmost_first`) pattern that starts there, found by trying every
   * length. Returns (start, end, phrase id) of the first `MaxSpans` spans. */
  final class Oracle(model: TagModel) {
    private val phraseOf: Map[Seq[Int], Int] = model.trie.patterns.indices.map { i =>
      (model.trie.patterns(i).toSeq: Seq[Int]) -> model.payloads(i).phraseId
    }.toMap
    private val maxLen = model.trie.patterns.map(_.length).max

    def spans(tokens: Seq[String], policy: String): Vector[(Int, Int, Int)] = {
      val ids = tokens.map(t =>
        model.vocab.tokens.getOrElse(t.toLowerCase(java.util.Locale.ROOT), 0)).toArray
      val lengths = if (policy == "leftmost_longest") maxLen to 1 by -1 else 1 to maxLen
      val out = Vector.newBuilder[(Int, Int, Int)]
      var i = 0
      var kept = 0
      while (i < ids.length && kept < MaxSpans) {
        lengths.iterator.filter(i + _ <= ids.length)
          .flatMap(n => phraseOf.get(ids.slice(i, i + n).toSeq).map(n -> _)).nextOption() match {
          case Some((n, phraseId)) => out += ((i, i + n, phraseId)); i += n; kept += 1
          case None => i += 1
        }
      }
      out.result()
    }
  }

  /** Every `leftmost_longest` and `leftmost_first` request's result from
   * `call` must equal the [[Oracle]]'s. */
  def checkOracle(model: TagModel, reqs: Array[Request], rep: Report, what: String)(
      call: Request => IndexedSeq[Matcher.MatchResult]): Unit = {
    val t0 = System.nanoTime()
    val oracle = new Oracle(model)
    val greedy = reqs.filter(_.policy != "salience_max")
    val agree = greedy.count(r =>
      call(r).map(m => (m.start, m.end, m.phraseId)) == oracle.spans(r.tokens, r.policy))
    System.err.println(f"perfbench: brute-force check of ${greedy.length} requests " +
      f"in ${secondsSince(t0)}%.2f s")
    rep.check(s"$what: greedy-policy matches equal a brute-force matcher " +
      s"($agree of ${greedy.length})", agree == greedy.length)
  }

  /** Order-sensitive digest of one call's result. */
  def digest(r: IndexedSeq[Matcher.MatchResult]): Long = {
    var h = 0x9e3779b97f4a7c15L
    r.foreach { m =>
      h = (h ^ m.start) * 0xff51afd7ed558ccdL
      h = (h ^ m.end) * 0xc4ceb9fe1a85ec53L
      h = (h ^ m.phraseId) * 0xff51afd7ed558ccdL
    }
    h
  }

  /** Closed loop: `threads` clients, each walking the requests from its own
   * offset, until `seconds` pass. `call` gets the client's index and returns
   * the result's digest; a digest
   * that differs from `expect` is a failed call. Returns per-call latencies
   * (ns), failures and the loop's wall. */
  def loop(threads: Int, seconds: Double, reqs: Array[Request], expect: Array[Long])(
      call: (Int, Request) => Long): (Array[Long], Long, Double) = {
    val stop = new AtomicBoolean(false)
    val lat = Array.fill(threads)(new mutable.ArrayBuilder.ofLong)
    val bad = new Array[Long](threads)
    val workers = (0 until threads).map { t =>
      new Thread(() => {
        var i = t * (reqs.length / threads)
        val buf = lat(t)
        while (!stop.get()) {
          val k = i % reqs.length
          val t0 = System.nanoTime()
          val d = call(t, reqs(k))
          buf += System.nanoTime() - t0
          if (d != expect(k)) bad(t) += 1
          i += 1
        }
      })
    }
    val t0 = System.nanoTime()
    workers.foreach(_.start())
    Thread.sleep((seconds * 1000).toLong)
    stop.set(true)
    workers.foreach(_.join())
    val wall = secondsSince(t0)
    (lat.flatMap(_.result()), bad.sum, wall)
  }

  def percentile(sorted: Array[Long], p: Double): Double =
    sorted(math.min(sorted.length - 1, math.ceil(p * sorted.length).toInt - 1).max(0)).toDouble

  def run(spark: SparkSession, a: Args, rep: Report): Unit = {
    // set-up: corpus (median of repeated writes), then once the phrase model
    // and the top-200 bundle's round trip; setup_s is their sum. A traced
    // run serves the model its profile builds instead, and reports no set-up.
    val (corpus, corpusS) = KgWorkloads.writeCorpus(spark, a)
    val profile = if (a.trace) Some(Profile.all(spark, a, corpus, rep)) else None
    val t0 = System.nanoTime()
    val served = profile.map(_.model).getOrElse {
      val scored = scoredPhrases(spark, corpus)
      val m = fullModel(scored)
      val (writeS, loadS) = publish(topModel(scored, BundleSize),
        Paths.get(a.work, "bundle").toString, rep)
      System.err.println(f"perfbench: bundle of $BundleSize patterns: write $writeS%.3f s, load $loadS%.3f s")
      spark.catalog.clearCache()
      m
    }
    val service = new MatcherService
    service.reload(served)
    rep.e2e("setup_s", corpusS + secondsSince(t0), "s")

    // expected digests, and the checks against the brute-force matcher and
    // Tagger.tagDoc, computed single-threaded before the clock starts
    val reqs = requests(spark, a)
    checkOracle(served, reqs, rep, "MatcherService")(r =>
      service.matchTextTokens(r.tokens, r.policy, MaxSpans))
    val expect = reqs.map(r => digest(service.matchTextTokens(r.tokens, r.policy, MaxSpans)))
    val ll = reqs.filter(_.policy == "leftmost_longest")
    val agree = ll.count { r =>
      val viaTag = Tagger.tagDoc(served, Policy.LeftmostLongest, MaxSpans, "PHRASE")(
        Doc("request", r.tokens)).spans.map(s => (s.start, s.end, s.phraseId))
      val viaService = service.matchTextTokens(r.tokens, r.policy, MaxSpans)
        .map(m => (m.start, m.end, m.phraseId))
      viaTag == viaService
    }
    rep.check(s"leftmost_longest matches equal Tagger.tagDoc ($agree of ${ll.length})",
      agree == ll.length)
    rep.check("requests produce matches", expect.exists(_ != digest(Vector.empty)))

    val call = (_: Int, r: Request) =>
      digest(service.matchTextTokens(r.tokens, r.policy, MaxSpans))
    val (warm, warmBad, _) = loop(Main.Cores, 1.0, reqs, expect)(call) // JIT warm-up, not timed
    val (lat, bad, wall) = loop(Main.Cores, a.seconds, reqs, expect)(call)
    rep.ops(warm.length.toLong + lat.length, warmBad + bad)
    java.util.Arrays.sort(lat)
    val p50 = percentile(lat, 0.50)
    rep.e2e("docs_per_s", lat.length / wall, "1/s")
    rep.e2e("op_p50_ms", p50 / 1e6, "ms")

    // the traced per-call split against this untraced loop: the attributed
    // share of the median call, and what the split's extra clock reads cost
    profile.foreach { p =>
      val ph = p.phases
      rep.layer("trace.coverage", (ph.encodeNs + ph.scanNs + ph.resolveNs) / p50, "share")
      rep.layer("trace.overhead_s", (ph.callNs - lat.sum.toDouble / lat.length) / 1e9, "s")
    }
  }

  /** The per-call split of `Matcher.matchTokens`, timed through the same
   * public functions it calls: encode, scan, resolve + truncate. Returns the
   * mean ns of each phase, raw matches and kept spans per call, and the mean
   * traced call. */
  final case class Phases(encodeNs: Double, scanNs: Double, resolveNs: Double,
      rawPerCall: Double, keptRatio: Double, callNs: Double, p50Ns: Double, p99Ns: Double)

  def tracedLoop(model: TagModel, reqs: Array[Request], threads: Int, seconds: Double,
      rep: Report): Phases = {
    val expect = reqs.map(r => digest(Matcher.matchTextTokens(model, r.tokens, r.policy, MaxSpans)))
    val sums = Array.fill(threads)(new Array[Long](5)) // encode, scan, resolve, raw, kept
    val call = (t: Int, r: Request) => {
      val s = sums(t)
      val policy = Policy.fromString(r.policy)
      val t0 = System.nanoTime()
      val ids = model.vocab.encodeAll(r.tokens)
      val t1 = System.nanoTime()
      val raw = if (ids.isEmpty) mutable.ArrayBuffer.empty[graft.model.RawMatch]
                else model.trie.findOverlapping(ids)
      val t2 = System.nanoTime()
      val kept = Policies.truncate(Policies.resolve(raw.toIndexedSeq, policy, model.payloads), MaxSpans)
      val t3 = System.nanoTime()
      s(0) += t1 - t0; s(1) += t2 - t1; s(2) += t3 - t2; s(3) += raw.length; s(4) += kept.length
      digest(kept.map { m =>
        val pl = model.payloads(m.patternId)
        Matcher.MatchResult(m.start, m.end, pl.phraseId, pl.salience, pl.count, pl.n)
      })
    }
    val (warm, warmBad, _) = loop(threads, 1.0, reqs, expect)(call) // JIT warm-up, not timed
    sums.foreach(java.util.Arrays.fill(_, 0L))
    val (lat, bad, _) = loop(threads, seconds, reqs, expect)(call)
    rep.ops(warm.length.toLong + lat.length, warmBad + bad)
    val n = lat.length.toDouble
    val tot = (0 until 5).map(j => sums.map(_(j)).sum.toDouble)
    java.util.Arrays.sort(lat)
    Phases(tot(0) / n, tot(1) / n, tot(2) / n, tot(3) / n,
      if (tot(3) > 0) tot(4) / tot(3) else 0.0, lat.sum / n,
      percentile(lat, 0.50), percentile(lat, 0.99))
  }
}
