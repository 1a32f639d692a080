package graft.score

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.mine.Grams
import graft.ops.Ids

/**
 * Salience scoring (SURVEY.md §3.2: A2 + P4 + J1 + F1/F2/F3 + P5 + O2 + O3) —
 * Spark re-expression of ext/phrasekit/src/bin/phrasekit_score.rs:166-298.
 *
 * Shape: totals (scalar agg) → min_domain_count pre-filter (pushed before the
 * join by Catalyst anyway) → LEFT OUTER equi-join domain⟕background on the
 * n-gram key with missing background = 0 → per-method salience projection →
 * min_salience post-filter → salience-desc sort → sequential phrase-id
 * assignment. The join is the only real shuffle; AQE handles skew/coalescing,
 * and Spark auto-broadcasts a small background side.
 *
 * Float semantics: the reference computes ratio/tfidf in f32 and PMI in f64 cast
 * to f32 (phrasekit_score.rs:227-252); we compute in double and cast to float at
 * the salience column, and apply the min_salience threshold in float domain like
 * the reference (`salience < config.min_salience` on f32, :207).
 *
 * Tie-break: the reference's salience-desc sort inherits HashMap iteration order
 * on ties → nondeterministic ids across runs (SURVEY.md §7.6). We add an
 * `ngram` ascending tie-break for a total, reproducible order.
 */
object Scorer {

  final case class ScoreConfig(
      method: String = "ratio",
      minSalience: Float = 2.0f,
      minDomainCount: Long = 10,
      assignPhraseIds: Boolean = true,
      startingPhraseId: Long = 1000,
      // true = reference f32 semantics (phrasekit_score.rs); false = full f64,
      // used by the DuckDB-oracle queries where both engines must agree to
      // round(…, 6) and f32 would lose digits past 7 significant figures.
      floatSemantics: Boolean = true) {
    require(Set("ratio", "pmi", "tfidf")(method), s"Invalid method: $method")
  }

  /** A4: scoring-stage counters (phrasekit_score.rs:56-62's ScoringStats +
   * the A2 totals). All ride existing actions via observe() — reading the
   * stats costs ZERO additional Spark jobs (asserted in ScorerSpec). */
  final case class ScoringStats(domainPhrases: Long, backgroundPhrases: Long,
      afterDomainFilter: Long, afterSalienceFilter: Long,
      totalDomainCount: Long, totalBackgroundCount: Long)

  /**
   * @param domain     DataFrame(ngram STRING, count BIGINT) — mined domain n-grams
   * @param background DataFrame(ngram STRING, count BIGINT)
   * @return DataFrame(ngram, tokens, salience FLOAT, phrase_id BIGINT?,
   *         domain_count, background_count) sorted by (salience desc, ngram asc)
   */
  def score(domain: DataFrame, background: DataFrame,
      cfg: ScoreConfig = ScoreConfig()): DataFrame =
    scoreWithStats(domain, background, cfg)._1

  /**
   * As `score`, plus a stats handle. domain/background counts fire with the
   * internal totals action; afterDomainFilter/afterSalienceFilter ride the
   * phrase-id assignment (or, without ids, the CALLER's first action over the
   * result — read the handle only after one).
   */
  def scoreWithStats(domain: DataFrame, background: DataFrame,
      cfg: ScoreConfig = ScoreConfig()): (DataFrame, () => ScoringStats) = {
    // lowercase-normalize keys like load_phrases (phrasekit_score.rs:159), with
    // the mine's case mapping (Grams.lower); inputs from our Miner are already
    // lowercase, but external JSONL inputs may not be.
    // Duplicate keys collapse via max(count) (the reference's HashMap semantics are
    // "last line wins" — order-dependent and unexercised by any fixture; we pick a
    // deterministic merge instead, documented divergence SURVEY.md S2).
    def norm(df: DataFrame): DataFrame = df
      .select(Grams.lower(col("ngram")).as("ngram"), col("count").cast("long").as("count"))
      .groupBy("ngram").agg(max("count").as("count"))

    // both sides feed two consumers (totals + join) — persist the normalized
    // form so upstream mining isn't recomputed per action. The observe()
    // nodes sit below the persist: counters fire once, on materialization.
    val obsDom = org.apache.spark.sql.Observation()
    val obsBg = org.apache.spark.sql.Observation()
    val dom = norm(domain).observe(obsDom, count(lit(1)).as("n")).persist()
    val bg = norm(background).observe(obsBg, count(lit(1)).as("n")).persist()

    // A2: corpus totals over ALL loaded phrases (before any filter),
    // phrasekit_score.rs:180-181. One union-of-aggregates action: both sides
    // materialize their persist in a single job, in parallel.
    val totalsRows = dom.agg(coalesce(sum("count"), lit(0L)).as("t")).withColumn("s", lit("d"))
      .unionByName(bg.agg(coalesce(sum("count"), lit(0L)).as("t")).withColumn("s", lit("b")))
      .collect()
    val totalDomain = totalsRows.find(_.getString(1) == "d").get.getLong(0)
    val totalBackground = totalsRows.find(_.getString(1) == "b").get.getLong(0)

    val obsFiltered = org.apache.spark.sql.Observation()
    val joined = dom
      .filter(col("count") >= cfg.minDomainCount) // P4, before the join
      .observe(obsFiltered, count(lit(1)).as("n"))
      .join(bg.withColumnRenamed("count", "background_count"), Seq("ngram"), "left_outer")
      .na.fill(0L, Seq("background_count"))
      .withColumnRenamed("count", "domain_count")

    val out = if (cfg.floatSemantics) "float" else "double"
    val salience = cfg.method match {
      case "ratio" =>
        // F1: domain / (background + 1) in f32 (phrasekit_score.rs:227-229)
        (col("domain_count").cast("double") / (col("background_count") + 1).cast("double"))
          .cast(out)
      case "pmi" =>
        // F2: clamp 10.0 when bg==0; else log2((d/D)/(b/B)) in f64 → f32
        // (phrasekit_score.rs:231-246)
        when(col("background_count") === 0, lit(10.0).cast(out))
          .otherwise(
            log2((col("domain_count").cast("double") / lit(totalDomain.toDouble)) /
              (col("background_count").cast("double") / lit(totalBackground.toDouble)))
              .cast(out))
      case "tfidf" =>
        // F3: tf = d/D, idf = ln((D+1)/(b+1)) — D is total n-gram OCCURRENCES, not
        // total docs; we reproduce the code, not the doc (phrasekit_score.rs:248-252)
        ((col("domain_count").cast("double") / lit(totalDomain.toDouble)) *
          log((lit(totalDomain.toDouble) + 1.0) / (col("background_count").cast("double") + 1.0)))
          .cast(out)
    }

    val obsScored = org.apache.spark.sql.Observation()
    val scored = joined
      .withColumn("salience", salience)
      .filter(col("salience") >= lit(cfg.minSalience)) // P5, float domain
      .observe(obsScored, count(lit(1)).as("n"))
      .withColumn("tokens", split(col("ngram"), " "))
      .select("ngram", "tokens", "salience", "domain_count", "background_count")

    val result =
      if (cfg.assignPhraseIds) {
        Ids.assignSequential(scored,
            Seq(col("salience").desc, col("ngram").asc),
            cfg.startingPhraseId, "phrase_id")
          .select("ngram", "tokens", "salience", "phrase_id", "domain_count", "background_count")
          .orderBy(col("salience").desc, col("ngram").asc)
      } else {
        scored.orderBy(col("salience").desc, col("ngram").asc)
      }
    val stats = () => ScoringStats(
      obsDom.get("n").asInstanceOf[Long], obsBg.get("n").asInstanceOf[Long],
      obsFiltered.get("n").asInstanceOf[Long], obsScored.get("n").asInstanceOf[Long],
      totalDomain, totalBackground)
    (result, stats)
  }
}
