package graft.plans

import org.apache.spark.sql.functions._
import graft.SparkSuite
import graft.corpus.{Extract, Synth}

/**
 * Physical-plan assertions — the scale properties the code relies on must be
 * visible in `explain`, not assumed: filter pushdown reaches the parquet scan,
 * column pruning drops unread (and expensive — html BINARY) columns, and the
 * tag stage plans with ZERO exchanges.
 */
class PlanSpec extends SparkSuite {
  import spark.implicits._

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  private lazy val corpusDir = {
    val dir = java.nio.file.Files.createTempDirectory("graft-plan-corpus").toString
    Synth.corpus(spark, 300).write.mode("overwrite").parquet(dir)
    dir
  }

  test("lineitem date filter is pushed to the parquet scan") {
    val df = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .filter(col("l_shipdate") < lit("1998-09-01"))
      .select("l_returnflag", "l_quantity")
    val p = plan(df)
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate"), p)
    // column pruning: only the 3 referenced columns are read
    val readSchema = "ReadSchema: .*".r.findFirstIn(p).getOrElse("")
    assert(readSchema.contains("l_returnflag") && !readSchema.contains("l_extendedprice"), readSchema)
  }

  test("mine path over the lake corpus never reads the text column (html+lang only)") {
    val pages = spark.read.parquet(corpusDir)
    val mine = pages.filter(col("lang") === "en")
      .select(Extract.tokenize(Extract.extractText(col("html"))).as("t"))
    val p = plan(mine)
    val readSchema = "ReadSchema: .*".r.findFirstIn(p).getOrElse("")
    assert(readSchema.contains("html") && !readSchema.contains("text"), readSchema)
    assert(p.contains("PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]"), p)
  }

  test("tag stage plans with zero exchanges (broadcast model, mapPartitions only)") {
    import graft.model.Doc
    val docs = Seq(Doc("a", Seq("machine", "learning"))).toDS()
    val model = graft.artifact.Builder.build(
      Seq(("machine learning", Seq("machine", "learning"), 2.5f, 100, 10L))
        .toDF("ngram", "tokens", "salience", "phrase_id", "count"))._1
    val bc = spark.sparkContext.broadcast(model)
    val tagged = graft.tag.Tagger.tag(spark, docs, bc)
    val p = plan(tagged.toDF())
    assert(!p.contains("Exchange"), p)
    assert(p.contains("MapPartitions"), p)
  }

  test("pipeline mention layer: provenance rides the tag closure, no join-back") {
    // round-6: warc_ts passes THROUGH tagSpansTs instead of re-joining docs
    // after the tag scan — the mention lineage must contain no Join and no
    // token echo in the tag output (analyzed plan: pre-cache-substitution)
    val pages = spark.read.parquet(corpusDir).as[graft.model.WebPage]
    import org.apache.spark.sql.catalyst.plans.logical.{Join, SerializeFromObject}
    val plan = graft.kg.KgPipeline.build(spark, pages)
    try {
      val p = plan.mentions.queryExecution.analyzed
      assert(p.collectFirst { case j: Join => j }.isEmpty, p)
      assert(p.output.exists(_.name == "warc_ts"), p)
      val serializers = p.collect { case s: SerializeFromObject => s }
      assert(serializers.nonEmpty, p)
      serializers.foreach(s => assert(!s.output.exists(_.name == "tokens"), s))
    } finally {
      plan.phrases.unpersist(); plan.mentions.unpersist()
      plan.entities.unpersist(); plan.docs.unpersist()
    }
  }

  test("jaccard candidate self-join has the rare-shingle filter below BOTH sides") {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LogicalPlan}
    // assert on the UNCACHED chain: the production dd_jaccard_pairs entry
    // caches this exact plan (shared with cc_components), and the persist
    // collapses it into an InMemoryRelation leaf a logical collect cannot
    // traverse — jaccardChainUncached is the same builder, pre-cache
    val df = graft.queries.Queries.jaccardChainUncached(spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.optimizedPlan
    def hasRareFilter(p: LogicalPlan): Boolean = p.collectFirst {
      case f: Filter if f.condition.toString.contains(">= 2") &&
        f.condition.toString.contains("<= 5") => f
    }.isDefined
    // joins keyed solely on `g`: the two g2⋈rare restrictions + the candidate
    // self-join. The round-1 anti-pattern was a raw-postings self-join with the
    // rare filter ABOVE it — i.e. a join on g with the filter below NEITHER
    // side. Assert that shape is gone, and that the self-join proper (filter
    // below BOTH sides) exists.
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo}
    val joinsOnG = plan.collect {
      case j: Join if j.condition.exists(_.collectFirst {
        case EqualTo(l: AttributeReference, r: AttributeReference)
          if l.name == "g" && r.name == "g" => ()
      }.isDefined) => j
    }
    assert(joinsOnG.nonEmpty, plan.toString)
    joinsOnG.foreach { j =>
      assert(hasRareFilter(j.left) || hasRareFilter(j.right),
        s"quadratic raw-postings self-join (rare filter above, not below):\n$j")
    }
    assert(joinsOnG.exists(j => hasRareFilter(j.left) && hasRareFilter(j.right)),
      s"no rare-restricted self-join found:\n$plan")
  }

  test("dd_simhash plans one narrow pass: no explode, only the presentation-sort exchange") {
    graft.queries.Queries.clearCache()
    val df = graft.queries.Queries.queries("dd_simhash")(spark, "/root/testdata/sf0.001")
    val p = plan(df)
    assert(!p.contains("Generate"), p) // round-2 shape exploded 16 rows/token
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges == 1, s"expected only the rangepartitioning sort exchange:\n$p")
    assert(p.contains("MapPartitions"), p)
  }

  test("scoring join keeps the min_domain_count filter below the join (pushdown)") {
    val dom = Seq(("a b", 10L), ("c d", 2L)).toDF("ngram", "count")
    val bg = Seq(("a b", 1L)).toDF("ngram", "count")
    val scored = graft.score.Scorer.score(dom, bg,
      graft.score.Scorer.ScoreConfig("ratio", 0.0f, 5, assignPhraseIds = false))
    // optimized plan: the count >= 5 predicate sits in the domain-side subtree,
    // not above the join
    val optimized = scored.queryExecution.optimizedPlan.toString
    val joinIdx = optimized.indexOf("Join")
    val filterIdx = optimized.indexOf(">= 5")
    assert(joinIdx >= 0 && filterIdx > joinIdx, optimized)
  }
}
