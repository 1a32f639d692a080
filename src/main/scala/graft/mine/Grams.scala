package graft.mine

import java.util.Locale

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.unsafe.types.UTF8String

/**
 * The gram key, defined once (phrasekit_mine.rs:144-158): lowercased tokens,
 * every contiguous window of length n in [minN, maxN], space-joined. Every
 * reader of that key goes through this module: the Miner's two passes, the
 * entropy extension mine, the `ngrams` SQL generator, the tokenizer, the
 * scorer's and builder's key normalization and `Vocab.encode`.
 *
 * The case mapping is the JDK's `Locale.ROOT` one. Catalyst `lower()` maps
 * some code points differently (it uses ICU: U+2C2F `Ⱟ` → `ⱟ`, where the JDK
 * leaves it unchanged), so a `lower()` anywhere on the key path would make a
 * mined phrase unreachable from the matcher or drop a token from the PMI
 * unigram join.
 */
object Grams {

  def lower(s: String): String = s.toLowerCase(Locale.ROOT)

  /** The same mapping on UTF-8 bytes; ASCII input never leaves them. */
  def lower(u: UTF8String): UTF8String =
    if (u.isFullAscii) u.toLowerCaseAscii else UTF8String.fromString(lower(u.toString))

  /** Column form: the `graft_lower` expression (plans.LowerExpr), registered
   * on the active session on use. */
  def lower(c: Column): Column = {
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .foreach(graft.plans.GraftFunctions.register)
    call_function("graft_lower", c)
  }

  /**
   * 64-bit string/window hashing for the hot mine loop (splitmix64 finalizer —
   * standard public-domain mixing constants). Plain JIT-compiled Scala: this
   * runs inside typed mapPartitions because Catalyst higher-order-function
   * lambdas are INTERPRETED per element — measured 3-5× slower than even naive
   * string aggregation when a fold runs per gram. mapPartitions is exactly the
   * "genuine per-partition imperative logic" escape hatch.
   */
  object Hash64 {
    @inline def mix(z0: Long): Long = {
      var z = z0 + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d493fddb7955bdL
      z ^ (z >>> 31)
    }
    def str(s: String): Long = {
      var h = 0x2545f4914f6cdd1dL
      var i = 0
      while (i < s.length) { h = mix(h ^ s.charAt(i).toLong); i += 1 }
      mix(h ^ s.length.toLong)
    }
    @inline def combine(acc: Long, x: Long): Long = mix(acc ^ (x * 0xff51afd7ed558ccdL))
    /** Window hash of the length-`n` prefix chain `p` (see `Windows`): the
     * chain is shared across all n at one start, so each window costs one
     * extra mix instead of re-combining its tokens from scratch — for
     * n∈[2,5] that is ~maxN combines + (maxN-minN+1) mixes per start vs
     * Σn combines (≈1.7× less hot-loop arithmetic; measured on the mine
     * stage, the pipeline's dominant cost at every parallelism level). */
    @inline def window(p: Long, n: Int): Long = mix(p ^ (n.toLong * 0x9e3779b97f4a7c15L))
    final val Seed = 0x5851f42d4c957f2dL
  }

  /** Hash of a space-joined gram string, equal to the window hash `Windows`
   * gives the same tokens. The tokens are hashed VERBATIM (no lowercasing):
   * a non-lowercase candidate never matches the lowercased gram stream. */
  def gramHash(g: String): Long = {
    val toks = g.split(" ", -1)
    var p = Hash64.Seed
    var i = 0
    while (i < toks.length) { p = Hash64.combine(p, Hash64.str(toks(i))); i += 1 }
    Hash64.window(p, toks.length)
  }

  /**
   * The per-document window walk, reused across the documents of a
   * partition. `load` lowercases and hashes each token once and derives the
   * hash of every window of length [minN, maxN] from one prefix-combine chain
   * per start, stored at `wh(s*W + len-minN)`. `next()` then steps through
   * the windows in (start, length) order; `hash`, `start` and `len` describe
   * the current one, `hashAt` any window of the document, and `gram` builds
   * the current window's string. Nothing is allocated per gram.
   */
  final class Windows(minN: Int, maxN: Int) {
    private val W = maxN - minN + 1
    private var lowered = new Array[String](256)
    private var th = new Array[Long](256)
    private var wh = new Array[Long](256 * W)
    private var L = 0
    private var s = 0
    private var n = 0

    def load(toks: Seq[String]): Unit = {
      L = toks.length
      if (lowered.length < L) {
        lowered = new Array[String](L); th = new Array[Long](L); wh = new Array[Long](L * W)
      }
      var i = 0
      toks.foreach { t => lowered(i) = lower(t); th(i) = Hash64.str(lowered(i)); i += 1 }
      s = 0
      while (s + minN <= L) {
        var p = Hash64.Seed
        val jEnd = math.min(s + maxN, L)
        var j = s
        while (j < jEnd) {
          p = Hash64.combine(p, th(j))
          j += 1
          if (j - s >= minN) wh(s * W + (j - s - minN)) = Hash64.window(p, j - s)
        }
        s += 1
      }
      s = 0; n = minN - 1
    }

    /** Advance to the next window; false once the document has none left. */
    def next(): Boolean = {
      n += 1
      if (n > maxN || s + n > L) { s += 1; n = minN }
      s + n <= L
    }

    def start: Int = s
    def len: Int = n
    def hash: Long = wh(s * W + (n - minN))
    /** Hash of the window [start, start+len), len in [minN, maxN]. */
    def hashAt(start: Int, len: Int): Long = wh(start * W + (len - minN))

    def gram: String = {
      val sb = new java.lang.StringBuilder
      var q = s
      while (q < s + n) {
        if (q > s) sb.append(' ')
        sb.append(lowered(q)); q += 1
      }
      sb.toString
    }
  }

  /** Unboxed open-addressing long→count map — the per-partition combiner of
   * every gram walk. Emitting one boxed Long per gram instance (160M+ at 2M
   * docs) drowned the 32-thread run in GC; combining in primitive arrays
   * first emits only the distinct grams of each partition. Built with
   * `keepGrams`, it also keeps the gram string of each key, built once, on
   * the key's first `add`.
   *
   * Layout: ONE interleaved array of [key, count] pairs, so a probe touches a
   * single cache line instead of one in a key array plus one in a count array
   * — at ~780M random-access adds per 2M-doc mine pass the probe's DRAM
   * traffic IS the cost, and halving lines-per-add is the difference that
   * shows up hardest at high thread counts where the pipeline is
   * memory-system-bound (the scaling bench's thr8 side). Slot i lives at
   * arr(2i)=key, arr(2i+1)=count; count == 0 ⇔ empty.
   *
   * Capacity limit (round-5 advice): the interleaved layout caps one
   * partition's combiner at 2²⁹ slots ≈ 375M distinct keys at the 0.7 load
   * factor (the backing array is `cap << 1` longs, and a further doubling
   * would overflow Int array sizing). Growth past the cap fails LOUDLY with
   * a repartition hint instead of a negative-size allocation; the load-check
   * arithmetic is done in Long so the threshold itself cannot overflow. */
  final class LongCountMap(initialCapacity: Int, keepGrams: Boolean = false) {
    private var cap = Integer.highestOneBit(math.max(initialCapacity, 16) * 2 - 1)
    private var mask = cap - 1
    private var arr = new Array[Long](cap << 1)
    private var grams = if (keepGrams) new Array[String](cap) else null
    private var n = 0

    /** Count one occurrence of `k`, the hash of `w`'s current window when
     * this map keeps grams. */
    def add(k: Long, w: Windows = null): Unit = {
      var i = (Hash64.mix(k) & mask).toInt
      var o = i << 1
      while (arr(o + 1) != 0 && arr(o) != k) { i = (i + 1) & mask; o = i << 1 }
      if (arr(o + 1) == 0) {
        arr(o) = k; n += 1
        if (grams != null) grams(i) = w.gram
        if (n.toLong * 10 > cap.toLong * 7) { arr(o + 1) = 1; grow(); return }
      }
      arr(o + 1) += 1
    }

    private def grow(): Unit = {
      if (cap >= (1 << 29)) throw new IllegalStateException(
        s"LongCountMap: one partition holds > $n distinct gram hashes (combiner " +
          "capacity 2^29 slots) — repartition the corpus into more/smaller partitions")
      val (old, oldGrams) = (arr, grams)
      cap <<= 1; mask = cap - 1; n = 0
      arr = new Array[Long](cap << 1)
      if (oldGrams != null) grams = new Array[String](cap)
      var o = 0
      while (o < old.length) {
        if (old(o + 1) != 0) {
          var j = (Hash64.mix(old(o)) & mask).toInt
          var p = j << 1
          while (arr(p + 1) != 0) { j = (j + 1) & mask; p = j << 1 }
          arr(p) = old(o); arr(p + 1) = old(o + 1); n += 1
          if (oldGrams != null) grams(j) = oldGrams(o >> 1)
        }
        o += 2
      }
    }

    private def slots = (0 until cap).iterator.filter(i => arr((i << 1) + 1) != 0)
    /** (key, count) of every distinct key. */
    def iterator: Iterator[(Long, Long)] = slots.map(i => (arr(i << 1), arr((i << 1) + 1)))
    /** (key, gram, count) of every distinct key; needs `keepGrams`. */
    def gramIterator: Iterator[(Long, String, Long)] =
      slots.map(i => (arr(i << 1), grams(i), arr((i << 1) + 1)))
  }
}
