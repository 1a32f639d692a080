package perfbench

import java.nio.file.{Files, Path, Paths}
import java.time.{Duration, Instant}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.KgApp
import graft.artifact.{Builder, TagModel}
import graft.corpus.Synth
import graft.kg.{ConnectedComponents, KgPipeline, Linker, Triples}
import graft.lake.LakeTable
import graft.mine.Miner
import graft.model.DocTs
import graft.score.Scorer
import graft.tag.{Matcher, Tagger}
import KgWorkloads.{Cfg, Fingerprint}
import Main.secondsSince

/**
 * The traced pass, the same in every workload's `--trace 1` run so that each
 * traced run reports every layer:
 *  1. the build as a chain of spans, one per public call, in the order
 *     `KgPipeline.buildFromCounts` makes them, each materialized, after a
 *     warm-up build of a small corpus and before the untraced baseline;
 *  2. the artifact bundle: top-100 and top-200 writes and a load;
 *  3. the matcher kernel, split per call into encode, scan and resolve;
 *  4. a checkpointed `KgApp.run` into a fresh lake, with the stage walls
 *     read off the commit times of its snapshot log, then a rerun on the
 *     finished lake, which must be a no-op.
 * Work the chain does not attribute (the entity branch the real build
 * overlaps with the tag scan, local checkpoints, per-job latency between
 * spans) stays unattributed; trace.coverage says how much that is.
 */
object Profile {

  val LakeStages: Seq[String] = Seq("cleaned", "background", "mentions", "entities", "triples")

  final case class Result(buildWall: Double, chainWall: Double, spanSum: Double,
      fp: Fingerprint, model: TagModel, phases: MatcherWorkload.Phases)

  def all(spark: SparkSession, a: Args, corpus: String, rep: Report): Result = {
    // The untraced build the chain is compared with runs after it: a JVM
    // keeps getting faster over its first builds, so a build of a small
    // corpus warms it first. The JVM still warms between chain and
    // baseline, so trace.overhead_s reads high by that much, never low.
    val small = Paths.get(a.work, "warmup-corpus").toString
    Synth.corpus(spark, 2000L, a.corpusSeed).write.parquet(small)
    KgWorkloads.buildOnce(spark, small, rep)
    val (chainWall, spanSum, fp, scored, model) = kgChain(spark, a, corpus, rep)
    val (buildWall, built) = KgWorkloads.buildOnce(spark, corpus, rep)
    rep.ops(2L)
    KgWorkloads.checkFingerprint(rep, a, "traced chain", fp, built)
    artifacts(a, scored, model, rep)
    spark.catalog.clearCache()
    val reqs = MatcherWorkload.requests(spark, a)
    MatcherWorkload.checkOracle(model, reqs, rep, "traced")(r =>
      Matcher.matchTextTokens(model, r.tokens, r.policy, MatcherWorkload.MaxSpans))
    val ph = MatcherWorkload.tracedLoop(model, reqs, Main.Cores, math.min(a.seconds, 3.0), rep)
    rep.layer("matching.encode_ns", ph.encodeNs, "ns")
    rep.layer("matching.scan_ns", ph.scanNs, "ns")
    rep.layer("matching.resolve_ns", ph.resolveNs, "ns")
    rep.layer("matching.raw_per_call", ph.rawPerCall, "count")
    rep.layer("matching.kept_ratio", ph.keptRatio, "share")
    rep.layer("matching.call_p50_ns", ph.p50Ns, "ns")
    rep.layer("matching.call_p99_ns", ph.p99Ns, "ns")
    rep.check("lake triples equal the traced chain's", lake(spark, a, corpus, rep) == fp)
    Result(buildWall, chainWall, spanSum, fp, model, ph)
  }

  private def materialize(df: DataFrame): (DataFrame, Long) = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    (p, p.count())
  }

  /** The build as spans. Returns (chain wall, sum of span walls, triple
   * fingerprint, scored phrases (persisted), model). */
  def kgChain(spark: SparkSession, a: Args, corpus: String, rep: Report)
      : (Double, Double, Fingerprint, DataFrame, TagModel) = {
    import spark.implicits._
    val rec = new SpanRecorder(spark)
    val pages = KgWorkloads.pages(spark, corpus)
    val gc0 = SpanRecorder.gcSeconds()
    val t0 = System.nanoTime()
    val docs = rec.span("corpus.extract")(materialize(KgPipeline.cleanedDocs(pages, Cfg)))
    val domain = rec.span("mine.domain")(materialize(
      Miner.mine(docs, "tokens", Cfg.mine.copy(ordered = false)).select("ngram", "count")))
    val bg = rec.span("mine.background")(materialize(KgPipeline.backgroundFromPages(pages, Cfg)))
    val scored = rec.span("score.score")(materialize(Scorer.score(domain, bg, Cfg.score)))
    val model = rec.span("artifact.build") {
      val m = Builder.build(scored.withColumnRenamed("domain_count", "count"))._1
      (m, m.payloads.length.toLong)
    }
    val bc = spark.sparkContext.broadcast(model)
    val edges = rec.span("kg.link")(materialize(
      Linker.candidateEdges(scored.select("phrase_id", "tokens"), Cfg.link)))
    val comps = rec.span("kg.components")(materialize(ConnectedComponents.run(edges)))
    val ents = rec.span("kg.entities")(materialize(Triples.entities(scored, comps)))
    val mentions = rec.span("tag.spans") {
      val docDs = docs.select(col("docId"), col("warc_ts"), col("tokens")).as[DocTs]
      materialize(Tagger.tagSpansTs(spark, docDs, bc, Cfg.tag).toDF()
        .select(col("docId").as("url"), col("warc_ts"), explode(col("spans")).as("s"))
        .select(col("url"), col("warc_ts"),
          col("s.start").as("start"), col("s.end").as("end"),
          col("s.phraseId").as("phrase_id"), col("s.label").as("label")))
    }
    val triples = rec.span("kg.triples") {
      val t = Triples.materialize(mentions, ents.select("phrase_id", "entity_id"), Cfg.triple)
      (t, t.count())
    }
    val chainWall = secondsSince(t0)
    val gc = SpanRecorder.gcSeconds() - gc0
    rec.close()
    val fp = KgWorkloads.fingerprint(triples)
    rep.ops(1L)
    for ((name, s) <- rec.spans) {
      rep.layer(s"$name.wall_s", s.wallS, "s")
      rep.layer(s"$name.jobs", s.jobs.toDouble, "count")
      rep.layer(s"$name.task_cpu_s", s.taskCpuS, "s")
      rep.layer(s"$name.shuffle_write_mb", s.shuffleWriteMb, "MB")
      rep.layer(s"$name.rows_out", s.rowsOut.toDouble, "count")
    }
    // GC and spill are rare at this size: reported once for the whole chain
    rep.layer("kg.chain.gc_s", gc, "s")
    rep.layer("kg.chain.spill_mb", rec.spans.map(_._2.spillMb).sum, "MB")
    (chainWall, rec.spans.map(_._2.wallS).sum, fp, scored, model)
  }

  /** `Builder.writeArtifacts` at 100 and 200 patterns and a load of the
   * 200-pattern bundle. Writing is super-linear in the pattern count
   * (`Daac.encodePatterns`), which is why the bundle stops at 200. */
  def artifacts(a: Args, scored: DataFrame, model: TagModel, rep: Report): Unit = {
    val (w100, _) = MatcherWorkload.publish(MatcherWorkload.topModel(scored, 100),
      Paths.get(a.work, "trace-bundle-100").toString, rep)
    val (w200, load) = MatcherWorkload.publish(MatcherWorkload.topModel(scored, 200),
      Paths.get(a.work, "trace-bundle-200").toString, rep)
    rep.layer("artifact.write_100_s", w100, "s")
    rep.layer("artifact.write_200_s", w200, "s")
    rep.layer("artifact.load_s", load, "s")
    rep.layer("artifact.patterns", model.payloads.length.toDouble, "count")
  }

  /** A checkpointed run into a fresh lake root. A stage's wall runs from the
   * previous stage's completion marker to its own, both read off the
   * snapshot files' commit times; the first stage starts with the run. The
   * observation adds no work to the run. Then a rerun on the finished lake,
   * which must commit nothing and return the same table. Returns the triple
   * fingerprint. */
  def lake(spark: SparkSession, a: Args, corpus: String, rep: Report): Fingerprint = {
    val root = Paths.get(a.work, "trace-lake")
    val args = KgApp.AppArgs(input = Some(corpus), lake = root.toString)
    val start = Instant.now()
    val t0 = System.nanoTime()
    val (triples, json) = KgApp.run(spark, args)
    val wall = secondsSince(t0)
    val fp = KgWorkloads.fingerprint(triples)
    rep.ops(1L)
    val table = new LakeTable(spark, root.toString)
    def committedAt(v: Int): Instant = Files.getLastModifiedTime(
      root.resolve("snapshots").resolve(f"snapshot-$v%05d.json")).toInstant
    var prev = start
    var stageSum = 0.0
    var lakeBytes = 0L
    for (stage <- LakeStages) {
      val done = table.snapshots.find(_.stage == s"__done__$stage")
        .map(s => committedAt(s.version)).getOrElse(prev)
      val w = Duration.between(prev, done).toNanos / 1e9
      prev = done
      stageSum += w
      val files = table.committedPartitions(stage).values.toSeq
        .flatMap(e => parquetFiles(Paths.get(e.path)))
      val bytes = files.map(Files.size).sum
      lakeBytes += bytes
      rep.layer(s"lake.$stage.wall_s", w, "s")
      rep.layer(s"lake.$stage.mb", bytes / 1048576.0, "MB")
      rep.layer(s"lake.$stage.files", files.length.toDouble, "count")
    }
    val snaps = table.snapshots.length
    rep.layer("lake.snapshots", snaps.toDouble, "count")
    rep.layer("lake.bytes_per_triple", lakeBytes.toDouble / math.max(1L, fp.count), "B")
    rep.layer("lake.coverage", stageSum / wall, "share")

    val t1 = System.nanoTime()
    val (again, json2) = KgApp.run(spark, args)
    rep.layer("lake.rerun_s", secondsSince(t1), "s")
    rep.ops(1L)
    rep.check("lake rerun commits nothing",
      new LakeTable(spark, root.toString).snapshots.length == snaps)
    rep.check("lake rerun reports the same triples",
      triplesOf(json) == fp.count && triplesOf(json2) == fp.count &&
        KgWorkloads.fingerprint(again) == fp)
    spark.catalog.clearCache()
    KgWorkloads.deleteTree(root)
    fp
  }

  /** The triple count in `KgApp.run`'s summary line. */
  private def triplesOf(json: String): Long =
    "\"triples\":(\\d+)".r.findFirstMatchIn(json).map(_.group(1).toLong).getOrElse(-1L)

  private def parquetFiles(dir: Path): Seq[Path] = {
    val s = Files.walk(dir)
    try s.iterator().asScala.filter(p => p.toString.endsWith(".parquet")).toList
    finally s.close()
  }
}
