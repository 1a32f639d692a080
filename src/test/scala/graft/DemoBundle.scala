package graft

import graft.artifact.{Builder, TagModel}
import graft.mine.Miner
import graft.model.Doc
import graft.score.Scorer

/**
 * The reference's end-to-end demo (examples/end_to_end_demo.rb:44-114): a
 * 10-doc corpus and 5 background phrases, mined (2..5, min_count 2), scored
 * (ratio, 2.0, 2) and built into the 7-phrase model. `dir` is that model
 * written with `Builder.writeArtifacts`: a bundle the service tests can load
 * without the reference's committed demo output.
 */
object DemoBundle {

  val corpus: Seq[Doc] = Seq(
    Doc("doc_1", Seq("the", "rat", "cdk10", "oligo", "was", "used", "in", "the", "experiment")),
    Doc("doc_2", Seq("add", "protein", "assay", "buffer", "to", "the", "sample")),
    Doc("doc_3", Seq("prepare", "lysis", "buffer", "according", "to", "protocol")),
    Doc("doc_4", Seq("western", "blot", "analysis", "was", "performed")),
    Doc("doc_5", Seq("the", "master", "mix", "contains", "rat", "cdk10", "oligo")),
    Doc("doc_6", Seq("protein", "assay", "buffer", "preparation", "is", "critical")),
    Doc("doc_7", Seq("rat", "cdk10", "protein", "expression", "levels")),
    Doc("doc_8", Seq("for", "the", "western", "blot", "procedure")),
    Doc("doc_9", Seq("master", "mix", "preparation", "guidelines")),
    Doc("doc_10", Seq("in", "the", "lysis", "buffer", "add", "reagent")))

  val background: Seq[(String, Long)] = Seq(
    ("for the", 50000L), ("in the", 30000L), ("to the", 25000L),
    ("lysis buffer", 8L), ("western blot", 5L))

  /** The demo model, versioned like the reference bundle ("demo-v1"). */
  lazy val model: TagModel = {
    val spark = TestSpark.spark
    import spark.implicits._
    val mined = Miner.mine(corpus.toDF(), "tokens", Miner.MineConfig(2, 5, minCount = 2))
    val scored = Scorer.score(mined.select("ngram", "count"), background.toDF("ngram", "count"),
      Scorer.ScoreConfig("ratio", 2.0f, 2, assignPhraseIds = true, 1000))
    Builder.build(scored.withColumnRenamed("domain_count", "count"),
      Builder.BuildConfig(version = "demo-v1"))._1
  }

  lazy val dir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft-demo-artifacts").toString
    Builder.writeArtifacts(model, d)
    d
  }
}
