package graft.mine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * N-gram mining (SURVEY.md G1 + A1 + P1 + P3 + O1) — the Spark re-expression of
 * the reference's mine stage (ext/phrasekit/src/bin/phrasekit_mine.rs:109-199):
 * for each doc, every contiguous window of length n in [minN, maxN] (overlapping;
 * one count per OCCURRENCE, not per doc), lowercased, counted globally, filtered
 * by min_count, sorted by count desc. The gram key — case mapping, window walk,
 * hash and combiner — is `Grams`; both passes below are that walk plus a
 * keep-predicate.
 *
 * The n-gram output key is the space-joined STRING (tokens never contain
 * whitespace after whitespace tokenization); the array form is re-derived by
 * `split` on output.
 *
 * Output ordering adds an `ngram` ascending tie-break to the reference's
 * count-desc sort, turning its HashMap-iteration tie nondeterminism
 * (phrasekit_mine.rs:181-187) into a total order (SURVEY.md §7.6 item 1).
 */
object Miner {

  final case class MineConfig(minN: Int = 2, maxN: Int = 5, minCount: Long = 10,
      ordered: Boolean = true,
      // survivor-table size above which pass 2 shuffle-joins instead of
      // broadcasting a driver-collected sorted array
      broadcastSurvivorLimit: Long = 5000000L) {
    // config sanity mirrors phrasekit_mine.rs:78-80
    require(minN >= 1 && minN <= maxN && maxN <= 10,
      s"invalid n-gram bounds: min_n=$minN max_n=$maxN (need 1 <= min_n <= max_n <= 10)")
  }

  /**
   * Mine n-grams from a corpus.
   *
   * Two-pass hash-first aggregation: (1) count 64-bit gram hashes — the
   * partial-agg hashmaps hold longs, not strings, which at web scale is the
   * difference between ~30 MB and hundreds of MB per concurrent task (string
   * maps made local[32] SLOWER than local[8]: memory-bandwidth/GC bound);
   * (2) re-materialize the ngram string only for grams that survived
   * min_count, against the (small by construction) survivor table +
   * per-partition dedup. The count keys on the 64-bit window hash of the
   * lowercased tokens (`Grams.Hash64`); a collision would merge two gram
   * counts — probability ~(distinct²)/2⁶⁵, negligible even at 10⁹ distinct
   * grams.
   *
   * @param docs any DataFrame with an ARRAY<STRING> column `tokensCol`
   * @return DataFrame(ngram STRING, tokens ARRAY<STRING>, count BIGINT)
   */
  def mine(docs: DataFrame, tokensCol: String, cfg: MineConfig = MineConfig()): DataFrame =
    mineWithStats(docs, tokensCol, cfg)._1

  /**
   * As `mine`, plus an A3 stats handle whose doc/token/extraction counters
   * ride pass 1 via observe() — zero additional jobs (the reference emits
   * them in the same pass, phrasekit_mine.rs:117-123). The extracted-gram
   * count is pure per-doc arithmetic (Σ_n max(L-n+1, 0)), not a generator.
   * `ngramsAfterFilter` is free on the broadcast path (survivor array length);
   * on the rare shuffle-join fallback the handle counts the output lazily.
   */
  def mineWithStats(docs: DataFrame, tokensCol: String,
      cfg: MineConfig = MineConfig()): (DataFrame, () => MiningStats) = {
    val spark = docs.sparkSession
    import spark.implicits._
    val (minN, maxN) = (cfg.minN, cfg.maxN)
    val obs = org.apache.spark.sql.Observation()
    val t = col(tokensCol)
    // Σ_{n=minN..min(maxN,L)} (L-n+1), closed form — plain codegen arithmetic,
    // no per-row higher-order function in the mine hot path
    val kTop = least(lit(maxN), size(t))
    // Column `/` is double division; the numerator is always even and far
    // below 2^52 per doc, so divide-then-cast is exact
    val extractedPerDoc = when(kTop >= minN,
      (((kTop - minN + 1).cast("long") * (size(t) + 1).cast("long") * 2L -
        (lit(minN) + kTop).cast("long") * (kTop - minN + 1).cast("long")) / 2L)
        .cast("long"))
      .otherwise(lit(0L))
    val toksDs = docs.select(t)
      .observe(obs,
        count(lit(1)).as("docs"),
        coalesce(sum(size(t)), lit(0L)).as("toks"),
        coalesce(sum(extractedPerDoc), lit(0L)).as("extracted"))
      .as[Seq[String]]

    // pass 1: count gram hashes — per-partition unboxed combiner, then a
    // global sum over the (distinct-per-partition) combined pairs. Longs
    // end-to-end; memory per task is the combiner's primitive array.
    val survivors = toksDs
      .mapPartitions { it =>
        val w = new Grams.Windows(minN, maxN)
        val map = new Grams.LongCountMap(1 << 16)
        it.foreach { toks => w.load(toks); while (w.next()) map.add(w.hash) }
        map.iterator
      }
      .toDF("h", "partial")
      .groupBy(col("h"))
      .agg(sum(col("partial")).as("count"))
      .filter(col("count") >= cfg.minCount)

    // pass 2: re-materialize ngram strings for survivors only — the same
    // walk, keeping each partition's first instance of every kept hash (its
    // string is built once per partition; every other instance costs long
    // arithmetic + one probe). Broadcast path: ONE action total — (h, count)
    // rows are collected with a limit guard, sorted, and shipped as two
    // parallel primitive arrays; a gram is kept iff its hash is in them and
    // its count is read from them, so no final join and no persist are
    // needed. Fallback (survivor table too big to collect): keep every gram,
    // shuffle-join against the survivor table.
    val guard = math.min(cfg.broadcastSurvivorLimit, Int.MaxValue - 2L).toInt
    val collected = survivors.limit(guard + 1).collect()
    val broadcast = collected.length <= guard
    val bc = if (!broadcast) None else {
      val byH = collected.map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      Some(spark.sparkContext.broadcast((byH.map(_._1), byH.map(_._2))))
    }
    val grams = toksDs.mapPartitions { it =>
      val (set, cnts) = bc.map(_.value).getOrElse((null, null))
      val w = new Grams.Windows(minN, maxN)
      val map = new Grams.LongCountMap(1 << 12, keepGrams = true)
      it.foreach { toks =>
        w.load(toks)
        while (w.next())
          if (set == null || java.util.Arrays.binarySearch(set, w.hash) >= 0) map.add(w.hash, w)
      }
      // the fallback's count comes from the join below
      map.gramIterator.map { case (h, g, _) =>
        (h, g, if (set == null) 0L else cnts(java.util.Arrays.binarySearch(set, h)))
      }
    }.toDF("h", "ngram", "count").dropDuplicates("h")
    val counted = (if (broadcast) grams else grams.drop("count").join(survivors, Seq("h")))
      .withColumn("tokens", split(col("ngram"), " "))
      .select("ngram", "tokens", "count")
    val afterFilter: () => Long =
      if (broadcast) { val n = collected.length.toLong; () => n }
      else () => survivors.count() // rare fallback: survivor table exceeded guard
    val result =
      if (cfg.ordered) counted.orderBy(col("count").desc, col("ngram").asc) else counted
    val statsFn = () => MiningStats(
      obs.get("docs").asInstanceOf[Long],
      obs.get("toks").asInstanceOf[Long],
      obs.get("extracted").asInstanceOf[Long],
      afterFilter())
    (result, statsFn)
  }

  final case class MiningStats(totalDocs: Long, totalTokens: Long,
      totalNgramsExtracted: Long, ngramsAfterFilter: Long)
}
