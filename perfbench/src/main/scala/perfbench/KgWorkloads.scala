package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.KgApp
import graft.corpus.Synth
import graft.kg.KgPipeline
import graft.model.WebPage
import Main.{median, secondsSince}

/** The batch workload: `KgPipeline.build`, and what its checks share. */
object KgWorkloads {

  /** The `KgApp` defaults: n 2–5, minCount 10, ratio ≥ 2.0, leftmost_longest. */
  val Cfg: KgPipeline.KgConfig = KgApp.AppArgs().toConfig
  val SetupReps = 3

  /** Triple table identity: row count and an order-independent hash (two
   * 32-bit halves of each row's xxhash64, summed, so duplicates count). */
  final case class Fingerprint(count: Long, hash: String)

  def fingerprint(triples: DataFrame): Fingerprint = {
    val h = xxhash64(col("subj"), col("pred"), col("obj"), col("url"), col("warc_ts"))
    val r = triples.agg(count(lit(1)),
      coalesce(sum(h.bitwiseAND(lit(0xffffffffL))), lit(0L)),
      coalesce(sum(shiftrightunsigned(h, 32)), lit(0L))).head()
    Fingerprint(r.getLong(0), f"${r.getLong(1)}%016x${r.getLong(2)}%016x")
  }

  /** The recorded fingerprint of this run's corpus. */
  def expected(a: Args): Option[Fingerprint] =
    if (a.expected.isEmpty || !Files.exists(Paths.get(a.expected))) None
    else Files.readAllLines(Paths.get(a.expected)).asScala.iterator
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).map(_.split("\\s+"))
      .collectFirst { case Array(d, s, c, h) if d.toLong == Main.Docs && s.toLong == a.corpusSeed =>
        Fingerprint(c.toLong, h) }

  /** The triples must be non-empty, equal `first` (the run's first table)
   * and equal the recorded fingerprint, which every corpus seed has. */
  def checkFingerprint(rep: Report, a: Args, what: String, fp: Fingerprint,
      first: Fingerprint): Unit = {
    System.err.println(s"perfbench: fingerprint docs=${Main.Docs} seed=${a.corpusSeed} " +
      s"count=${fp.count} hash=${fp.hash} ($what)")
    rep.check(s"$what: triples non-empty", fp.count > 0)
    rep.check(s"$what: triples equal across repetitions", fp == first)
    val e = expected(a)
    rep.check(s"$what: triples equal the recorded ${e.getOrElse("(none recorded)")}", e.contains(fp))
  }

  /** Set-up shared by every workload: write the Synth corpus as parquet,
   * `SetupReps` times into fresh directories. Returns the last corpus
   * directory and the median write. */
  def writeCorpus(spark: SparkSession, a: Args): (String, Double) = {
    val runs = (1 to SetupReps).map { i =>
      val dir = Paths.get(a.work, s"corpus-$i").toString
      val t0 = System.nanoTime()
      Synth.corpus(spark, Main.Docs, a.corpusSeed).write.mode("overwrite").parquet(dir)
      (dir, secondsSince(t0))
    }
    (runs.last._1, median(runs.map(_._2)))
  }

  def pages(spark: SparkSession, dir: String): Dataset[WebPage] = {
    import spark.implicits._
    spark.read.parquet(dir).as[WebPage]
  }

  /** Repeat `op`, which returns its own measured wall, until `seconds` of
   * measured time have passed. */
  def repeat[T](seconds: Double)(op: => (Double, T)): Seq[(Double, T)] = {
    val runs = Seq.newBuilder[(Double, T)]
    var total = 0.0
    while (total < seconds) {
      val r = op
      System.err.println(f"perfbench: operation ${r._1}%.3f s")
      runs += r; total += r._1
    }
    runs.result()
  }

  /** Untraced: repeat the build for the run's time and report the first
   * one, which runs in a fresh JVM as a `spark-submit` of the pipeline does;
   * the JVM keeps getting faster over later builds, so counting them would
   * make the figure depend on how many fit in the run's time. Every
   * repetition is checked. Traced: the profile alone, which runs the same
   * build among its layers, so the build itself is not repeated. */
  def build(spark: SparkSession, a: Args, rep: Report): Unit = {
    val (corpus, setupS) = writeCorpus(spark, a)
    rep.e2e("setup_s", setupS, "s")
    if (a.trace) {
      val p = Profile.all(spark, a, corpus, rep)
      rep.layer("trace.coverage", p.spanSum / p.buildWall, "share")
      rep.layer("trace.overhead_s", p.chainWall - p.buildWall, "s")
    } else {
      val runs = repeat(a.seconds)(buildOnce(spark, corpus, rep))
      rep.ops(runs.length)
      runs.foreach { case (_, fp) => checkFingerprint(rep, a, "kg_build", fp, runs.head._2) }
      val wall = runs.head._1
      rep.e2e("docs_per_s", Main.Docs / wall, "1/s")
      rep.e2e("op_p50_ms", wall * 1e3, "ms")
    }
  }

  /** One `KgPipeline.build(...).triples.count()`, timed; the fingerprint is
   * taken afterwards, outside the measured wall, and must agree with the
   * count. */
  def buildOnce(spark: SparkSession, corpus: String, rep: Report): (Double, Fingerprint) = {
    val t0 = System.nanoTime()
    val plan = KgPipeline.build(spark, pages(spark, corpus), cfg = Cfg)
    val n = plan.triples.count()
    val wall = secondsSince(t0)
    val fp = fingerprint(plan.triples)
    rep.check("kg_build fingerprint agrees with the count", fp.count == n)
    spark.catalog.clearCache()
    (wall, fp)
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
    finally s.close()
  }
}
