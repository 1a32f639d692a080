package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSuite
import graft.plans.GraftFunctions

class SimilaritySpec extends SparkSuite {
  import spark.implicits._

  private lazy val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
  private lazy val queries = emb.filter(col("vec_id") < 10)

  test("brute-force top-k: exact, deterministic, k rows per query") {
    val r = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
    val byQ = r.groupBy("query_id").count().as[(Long, Long)].collect().toMap
    assert(byQ.size == 10 && byQ.values.forall(_ == 5))
    // rank 1 really is the max cosine
    val top = r.filter(col("rank") === 1).select("query_id", "cos").as[(Long, Double)].collect().toMap
    val all = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 499)
      .groupBy("query_id").agg(max("cos").as("m")).as[(Long, Double)].collect().toMap
    top.foreach { case (q, c) => assert(math.abs(c - all(q)) < 1e-12) }
  }

  test("IVF ANN: deterministic index, bounded scan, recall floor + exactness at full probe") {
    val cfg = Similarity.IvfConfig(nCells = 16, lloydIter = 2, nProbe = 4)
    val idx = Similarity.ivfIndex(emb, "vec_id", "embedding", cfg)
    val (cells, assigned) = idx
    assert(cells.count() == 16)
    assert(assigned.count() == emb.count())
    // determinism
    val a1 = assigned.select("id", "cell").as[(Long, Int)].collect().toMap
    val a2 = Similarity.ivfIndex(emb, "vec_id", "embedding", cfg)._2
      .select("id", "cell").as[(Long, Int)].collect().toMap
    assert(a1 == a2)

    val approx = Similarity.ivfTopK(idx, queries, "vec_id", "embedding", 10, cfg)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSet }
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSet }
    val recalls = exact.map { case (q, want) =>
      approx.get(q).map(got => (got intersect want).size.toDouble / want.size).getOrElse(0.0)
    }
    val meanRecall = recalls.sum / recalls.size
    // uniform-random 64-dim embeddings are IVF's worst case (no cluster
    // structure to exploit); the mechanism is what's pinned here, at a floor
    // well above the 4/16 cell fraction a structure-blind scan would give
    assert(meanRecall >= 0.45, s"mean recall $meanRecall")

    // probing every cell = exhaustive scan = exact recall
    val full = Similarity.ivfTopK(idx, queries, "vec_id", "embedding", 10,
        cfg.copy(nProbe = 16))
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSet }
    assert(full == exact)
  }
  test("top-k push-down: ONE tiny final exchange, no corpus window/join shuffle") {
    // the round-3 plans windowed the full candidate set by query (brute
    // force) or broadcast-joined probes onto the assigned corpus and then
    // windowed (IVF) — corpus-scale exchanges. The push-down kernel's only
    // exchange reduces partitions × |queries| × k emitted candidates.
    val bf = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
    val p1 = bf.queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(p1).size == 1, p1)
    assert(!p1.contains("Join") && !p1.contains("CartesianProduct"), p1)
    val cfg = Similarity.IvfConfig(nCells = 8, lloydIter = 1, nProbe = 2)
    val idx = Similarity.ivfIndex(emb, "vec_id", "embedding", cfg)
    val p2 = Similarity.ivfTopK(idx, queries, "vec_id", "embedding", 5, cfg)
      .queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(p2).size == 1, p2)
    assert(!p2.contains("Join") && !p2.contains("CartesianProduct"), p2)
  }

  test("IVF cell assignment plans ZERO corpus exchanges (broadcast-centroid argmax)") {
    // round-3 verdict #1: the crossJoin+window assignment planned an Exchange
    // hashpartitioning(id) of N×nCells full-vector rows per Lloyd iteration —
    // at 10⁹ vectors the dominant cost of the index build. The scaladoc
    // promises no corpus shuffle; this pins the plan to it.
    val cfg = Similarity.IvfConfig(nCells = 8, lloydIter = 1)
    val (_, assigned) = Similarity.ivfIndex(emb, "vec_id", "embedding", cfg)
    val p = assigned.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"IVF assignment must not shuffle the corpus:\n$p")
    assert(!p.contains("Window"), s"no window in the assignment plan:\n$p")
  }

  test("ivfCosinePairs: precision 1.0 vs global exact pairs; recall floor; full-cell exactness") {
    // global exact pairs (no blocking at all) — the ground truth
    val exact = Similarity.blockedCosinePairs(
        emb.withColumn("__one", lit(1)), "__one", "vec_id", "embedding", 0.3)
      .select(col("a"), col("b")).as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty)
    // IVF-bucketed: every reported pair must be a true ≥0.3 pair (exact
    // verification inside cells), recall bounded below on this corpus
    val got = Similarity.ivfCosinePairs(emb, "vec_id", "embedding", 0.3,
        Similarity.IvfConfig(nCells = 8, lloydIter = 2))
      .select(col("a"), col("b")).as[(Long, Long)].collect().toSet
    assert(got.subsetOf(exact), s"false positives: ${got.diff(exact).take(5)}")
    val recall = got.size.toDouble / exact.size
    assert(recall >= 0.5, s"recall $recall too low (${got.size}/${exact.size})")
    // nCells = 1 ⇒ one block = the whole corpus ⇒ exact
    val full = Similarity.ivfCosinePairs(emb, "vec_id", "embedding", 0.3,
        Similarity.IvfConfig(nCells = 1, lloydIter = 1))
      .select(col("a"), col("b")).as[(Long, Long)].collect().toSet
    assert(full == exact)
  }

}

class NGramsGeneratorSpec extends SparkSuite {
  import spark.implicits._

  test("SQL LATERAL VIEW ngrams(...) matches Miner.ngramsCol semantics") {
    GraftFunctions.register(spark)
    Seq(
      ("d1", Seq("The", "Rat", "CDK10")),
      ("d2", Seq("a")),
      ("d3", Seq.empty[String])).toDF("doc_id", "tokens")
      .createOrReplaceTempView("ng_docs")
    val got = spark.sql(
      "SELECT doc_id, ngram FROM ng_docs LATERAL VIEW ngrams(tokens, 2, 3) g AS ngram ORDER BY doc_id, ngram")
      .as[(String, String)].collect().toSeq
    assert(got == Seq(
      ("d1", "rat cdk10"), ("d1", "the rat"), ("d1", "the rat cdk10")))
    // equivalence with a plain-Scala sliding window on a larger corpus
    val docs = graft.corpus.Synth.corpus(spark, 50).toDF()
      .select(graft.corpus.Extract.tokenize(col("text")).as("tokens"))
    docs.createOrReplaceTempView("ng_docs2")
    val viaSql = spark.sql(
      "SELECT ngram FROM ng_docs2 LATERAL VIEW ngrams(tokens, 2, 4) g AS ngram")
      .groupBy("ngram").count().as[(String, Long)].collect().toMap
    val viaScala = docs.as[Seq[String]].collect().toSeq
      .flatMap(t => (2 to 4).flatMap(n => t.map(_.toLowerCase(java.util.Locale.ROOT))
        .sliding(n).filter(_.length == n).map(_.mkString(" "))))
      .groupBy(identity).map { case (g, gs) => g -> gs.size.toLong }
    assert(viaSql == viaScala && viaSql.nonEmpty)
  }

  test("SQL ngrams strings equal Miner.mine strings (U+2C2F and mixed case)") {
    GraftFunctions.register(spark)
    // U+2C2F: Catalyst lower() (ICU) maps it to U+2C5F, the JDK mapping keeps it
    val docs = Seq(Seq("\u2C2F", "Rat", "x"), Seq("\u2C2F", "rat", "y"), Seq("RAT", "X"))
      .toDF("tokens")
    docs.createOrReplaceTempView("ng_docs3")
    val viaSql = spark.sql(
      "SELECT DISTINCT ngram FROM ng_docs3 LATERAL VIEW ngrams(tokens, 1, 3) g AS ngram")
      .as[String].collect().toSet
    val mined = graft.mine.Miner.mine(docs, "tokens", graft.mine.Miner.MineConfig(1, 3, 1))
      .select("ngram").as[String].collect().toSet
    assert(viaSql == mined)
    assert(mined.contains("\u2C2F rat") && !mined.exists(_.contains("\u2C5F")), mined.toString)
  }

  test("type errors are clean") {
    GraftFunctions.register(spark)
    Seq(Tuple1("notanarray")).toDF("x").createOrReplaceTempView("ng_bad")
    val e = intercept[Exception](
      spark.sql("SELECT ngram FROM ng_bad LATERAL VIEW ngrams(x, 2, 3) g AS ngram").collect())
    assert(e.getMessage.toLowerCase.contains("array") || e.getMessage.contains("DATATYPE"))
  }
}
