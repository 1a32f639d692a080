package graft.artifact

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.matching.AhoCorasick
import graft.mine.Grams
import graft.model.Payload

/**
 * The runtime tag model: vocab + token-level Aho-Corasick trie + dense payload
 * array, the broadcastable equivalent of the reference's artifact bundle
 * (phrases.daac + payloads.bin + vocab.json + manifest.json). Pattern order ==
 * payload order, exactly like the reference (phrasekit_build.rs:137-160), so the
 * automaton's dense pattern value indexes `payloads` directly (matcher.rs:92-94).
 */
final case class TagModel(vocab: Vocab, trie: AhoCorasick, payloads: Array[Payload],
    manifest: Manifest) extends Serializable {
  require(payloads.length == manifest.numPatterns,
    s"Payload count mismatch: manifest says ${manifest.numPatterns}, got ${payloads.length}")
}

object TagModel {

  /**
   * Load an artifact bundle from disk — the serve-path inverse of
   * `Builder.writeArtifacts`, mirroring the reference's loader
   * (matcher.rs:35-65, lib/phrasekit.rb:21-32): vocab.json + manifest.json +
   * payloads.bin + phrases.daac, with the reference's load invariants
   * (payload count == num_patterns; separator_id != 0). Reads bundles built by
   * THIS engine and by the reference itself (DaacSpec loads the committed
   * reference demo bundle and tags with it).
   */
  def load(dir: String): TagModel = {
    val d = Paths.get(dir)
    def req(name: String): java.nio.file.Path = {
      val p = d.resolve(name)
      require(Files.exists(p), s"artifact bundle incomplete: missing $name in $dir")
      p
    }
    val manifest = Manifest.fromJson(Files.readString(req("manifest.json")))
    val vocab = Vocab.fromJson(Files.readString(req("vocab.json")))
    require(vocab.separatorId == manifest.separatorId,
      s"separator_id mismatch: vocab ${vocab.separatorId} vs manifest ${manifest.separatorId}")
    val payloads = PayloadIO.read(Files.readAllBytes(req("payloads.bin")))
    // matcher.rs:51-57
    require(payloads.length == manifest.numPatterns,
      s"Payload count mismatch: manifest says ${manifest.numPatterns}, got ${payloads.length}")
    val patterns = Daac.decodePatterns(
      Files.readAllBytes(req("phrases.daac")), manifest.separatorId, manifest.numPatterns)
    TagModel(vocab, AhoCorasick.build(patterns), payloads, manifest)
  }
}

/**
 * Build stage (SURVEY.md S3 + P6/P7/P8 + A6/A7 + O4 + S9) — Spark re-expression
 * of ext/phrasekit/src/bin/phrasekit_build.rs.
 *
 * Validation/filtering runs distributed (filter chain + window dedup); the
 * surviving phrase set (≤ a few M rows by construction — it passed min_count and
 * salience thresholds) is then collected to the driver to build the automaton,
 * which ships to executors as one broadcast. This mirrors the north rule's
 * "broadcast Aho-Corasick trie" mandate: the model is the small side; docs never
 * shuffle.
 */
object Builder {

  final case class BuildConfig(
      version: String = "graft-v1",
      tokenizer: String = "whitespace",
      separatorId: Long = Vocab.SeparatorId,
      minCount: Option[Long] = None,
      salienceThreshold: Option[Double] = None,
      // survivor-count tripwire for the driver collect below — a mis-configured
      // threshold (min_count=1 on a web corpus) must fail with a diagnostic,
      // not OOM the driver (same guard pattern as Miner.broadcastSurvivorLimit)
      maxBroadcastPatterns: Long = 5000000L)

  final case class BuildStats(totalInput: Long, filteredLowCount: Long,
      filteredLowSalience: Long, duplicatePhraseIds: Long, invalidTokens: Long,
      built: Long)

  /**
   * @param phrases DataFrame with columns tokens ARRAY<STRING>, phrase_id,
   *                salience, count (or alias domain_count — phrasekit_build.rs:22)
   */
  def build(phrases: DataFrame, cfg: BuildConfig = BuildConfig()): (TagModel, BuildStats) = {
    val countCol =
      if (phrases.columns.contains("count")) col("count")
      else col("domain_count") // accepted alias (phrasekit_build.rs:22)

    val base = phrases.select(
      transform(col("tokens"), t => Grams.lower(t)).as("tokens"),
      col("phrase_id").cast("int").as("phrase_id"),
      col("salience").cast("float").as("salience"),
      countCol.cast("long").as("count"))

    // stage counters ride the MAIN collect action via observe() — the
    // reference counts these line by line in the same pass
    // (phrasekit_build.rs:214-278); a count() per predicate would cost one
    // Spark job each, and even the fused separate aggregate costs one. The
    // global sort below (TakeOrderedAndProject) consumes every input row, so
    // the observed metrics are complete despite the limit on top.
    val validPred = size(col("tokens")) > 0 && !exists(col("tokens"), t => t === lit(""))
    val countPred = cfg.minCount.map(mc => col("count") >= mc).getOrElse(lit(true))
    val salPred = cfg.salienceThreshold
      .map(st => col("salience") >= st.toFloat).getOrElse(lit(true))
    val obs = org.apache.spark.sql.Observation()
    val observed = base.observe(obs,
      count(lit(1)).as("total"),
      coalesce(sum(when(!validPred, 1L).otherwise(0L)), lit(0L)).as("invalid"),
      coalesce(sum(when(validPred && !countPred, 1L).otherwise(0L)), lit(0L)).as("lowCount"),
      coalesce(sum(when(validPred && countPred && !salPred, 1L).otherwise(0L)), lit(0L)).as("lowSal"))

    val afterSal = observed.filter(validPred && countPred && salPred)

    // P8: duplicate phrase_id → first occurrence wins (phrasekit_build.rs:274-278).
    // "First" is file order in the reference; our inputs carry no line numbers, so
    // the deterministic stand-in is lexicographic-min token sequence per id.
    val deduped = afterSal
      .withColumn("__rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("phrase_id"))
          .orderBy(array_join(col("tokens"), " "))))
      .filter(col("__rk") === 1).drop("__rk")

    val guard = math.min(cfg.maxBroadcastPatterns, Int.MaxValue - 2L).toInt
    val rows = deduped
      .select("tokens", "phrase_id", "salience", "count")
      .orderBy(col("phrase_id")) // deterministic pattern order (payload order)
      .limit(guard + 1)
      .collect()
    require(rows.length <= guard,
      s"surviving phrase table exceeds maxBroadcastPatterns=$guard — the build " +
        "collects survivors to the driver to construct the broadcast automaton; " +
        "raise min_count/salience_threshold (or maxBroadcastPatterns if the " +
        "driver really has the memory)")
    val statsMap = obs.get // ONE action total: metrics rode the collect above
    val totalInput = statsMap("total").asInstanceOf[Long]
    val invalidTokens = statsMap("invalid").asInstanceOf[Long]
    val filteredLowCount = statsMap("lowCount").asInstanceOf[Long]
    val filteredLowSalience = statsMap("lowSal").asInstanceOf[Long]
    val built = rows.length.toLong
    val duplicates = (totalInput - invalidTokens - filteredLowCount - filteredLowSalience) - built

    // A7 + O4: vocab from the distinct lowercased tokens of ACCEPTED phrases
    val uniqueTokens = rows.iterator.flatMap(_.getSeq[String](0)).toSet
    val vocab = Vocab.fromTokens(uniqueTokens)

    val patterns = new Array[Array[Int]](rows.length)
    val payloads = new Array[Payload](rows.length)
    var i = 0
    while (i < rows.length) {
      val r = rows(i)
      val toks = r.getSeq[String](0)
      patterns(i) = vocab.encodeAll(toks)
      payloads(i) = Payload(r.getInt(1), r.getFloat(2), r.getLong(3).toInt, toks.length.toByte)
      i += 1
    }
    // duplicate token sequences across phrase_ids are a fatal build error, like
    // daachorse's rejection (phrasekit_build.rs:141-143) — AhoCorasick.build throws.
    val trie = AhoCorasick.build(patterns)

    val manifest = Manifest(cfg.version, cfg.tokenizer, rows.length,
      cfg.minCount, cfg.salienceThreshold,
      java.time.OffsetDateTime.now(java.time.ZoneOffset.UTC).toString, cfg.separatorId)

    (TagModel(vocab, trie, payloads, manifest),
      BuildStats(totalInput, filteredLowCount, filteredLowSalience, duplicates,
        invalidTokens, built))
  }

  /** S9: write the full artifact bundle — payloads.bin (byte-exact 17-byte
   * records), vocab.json, manifest.json, and phrases.daac (daachorse-layout
   * double-array automaton; see graft.artifact.Daac). `TagModel.load` is the
   * inverse. The pattern byte strings for the automaton are re-derived from
   * the payload order: pattern i = the i-th payload's token sequence. */
  def writeArtifacts(model: TagModel, dir: String): Unit = {
    val d = Paths.get(dir)
    Files.createDirectories(d)
    Files.write(d.resolve("payloads.bin"), PayloadIO.write(model.payloads.toIndexedSeq))
    Files.writeString(d.resolve("vocab.json"), Vocab.toJson(model.vocab))
    Files.writeString(d.resolve("manifest.json"), Manifest.toJson(model.manifest))
    Files.write(d.resolve("phrases.daac"),
      Daac.encodePatterns(model.trie.patterns, model.manifest.separatorId))
  }
}
