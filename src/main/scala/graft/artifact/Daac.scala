package graft.artifact

import java.nio.{ByteBuffer, ByteOrder}
import scala.collection.mutable

/**
 * Reader/writer for the reference's `phrases.daac` automaton file — the
 * serialized form of daachorse 1.0's `DoubleArrayAhoCorasick<u32>` as produced
 * by `automaton.serialize()` (ext/phrasekit/src/matcher.rs:165) and loaded by
 * `deserialize_unchecked` (matcher.rs:42-45).
 *
 * Layout (little-endian, reverse-engineered from the committed demo artifact
 * and validated field-by-field against its known 7 patterns + payload order;
 * DaacSpec pins the decode against /root/reference/examples/demo_output/):
 *
 *   u32 statesLen
 *   statesLen × State { u32 base;            // XOR double-array base; 0 = none
 *                       u32 fail;            // fail-link state index
 *                       u32 fc }             // check byte = fc & 0xFF;
 *                                            // outputPos+1 = fc >> 8 (0 = none)
 *   u32 outputsLen
 *   outputsLen × Output { u32 value;         // dense pattern id (payload index)
 *                         u32 byteLength;    // pattern length in BYTES
 *                         u32 parentPlus1 }  // suffix-chain link; 0 = none
 *   u8  matchKind                            // 0 = Standard
 *   u32 numStates                            // real (reachable) state count
 *
 * Transition semantics: child(state, byte) = base(state) XOR byte, valid iff
 * check(child) == byte. Patterns are byte strings: each token id is encoded as
 * `le32(token_id) ++ le32(separator_id)` (matcher.rs:77-82,
 * phrasekit_build.rs:297-304), so token count = byteLength / 8.
 */
object Daac {

  final case class Decoded(patterns: Array[Array[Int]]) // indexed by pattern value

  private val MaxPatternBytes = 8 * 64 // tokens ≤ 64 — far above the ref's max_n=10

  /**
   * Extract (value → token-id pattern) from a serialized automaton.
   *
   * DFS from the root over validated transitions; a state's OWN pattern is the
   * output-chain entry whose byteLength equals the state's depth (entries with
   * smaller lengths are propagated suffix matches, extracted at their own
   * terminal states). Every decoded pattern is structurally validated
   * (length % 8 == 0, separator at every odd u32) and the full value range
   * [0, numPatterns) must be covered exactly once — any residue of the
   * double array's vacant-slot free-list that survives the transition check
   * can therefore not corrupt the result silently.
   */
  def decodePatterns(bytes: Array[Byte], separatorId: Long, numPatterns: Int): Array[Array[Int]] = {
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val statesLen = bb.getInt
    require(statesLen > 0 && bytes.length >= 4 + 12L * statesLen + 4,
      s"truncated daac: $statesLen states, ${bytes.length} bytes")
    val base = new Array[Int](statesLen)
    val fc = new Array[Int](statesLen)
    var i = 0
    while (i < statesLen) {
      base(i) = bb.getInt
      bb.getInt // fail — not needed for pattern extraction
      fc(i) = bb.getInt
      i += 1
    }
    val outputsLen = bb.getInt
    val outVal = new Array[Int](outputsLen)
    val outLen = new Array[Int](outputsLen)
    val outPar = new Array[Int](outputsLen)
    i = 0
    while (i < outputsLen) {
      outVal(i) = bb.getInt; outLen(i) = bb.getInt; outPar(i) = bb.getInt
      i += 1
    }
    @inline def check(s: Int): Int = fc(s) & 0xFF
    @inline def outPos(s: Int): Int = (fc(s) >>> 8) - 1 // -1 = none

    val sep = (separatorId & 0xFFFFFFFFL).toInt
    val patterns = new Array[Array[Int]](numPatterns)

    def decodePath(path: Array[Byte], depth: Int): Array[Int] = {
      require(depth % 8 == 0, s"pattern byte length $depth not a multiple of 8")
      val nToks = depth / 8
      val ids = new Array[Int](nToks)
      val pb = ByteBuffer.wrap(path, 0, depth).order(ByteOrder.LITTLE_ENDIAN)
      var t = 0
      while (t < nToks) {
        ids(t) = pb.getInt
        val s = pb.getInt
        require(s == sep, s"invalid separator ${s & 0xFFFFFFFFL} (expected ${separatorId})")
        t += 1
      }
      ids
    }

    // iterative traversal with parent pointers; the visited set guards against
    // any vacant-slot free-list residue forming cycles or diamonds
    val visited = new Array[Boolean](statesLen)
    val parentOf = new Array[Int](statesLen)
    val byteOf = new Array[Byte](statesLen)
    val depthOf = new Array[Int](statesLen)
    val stack = mutable.ArrayDeque[Int](0)
    visited(0) = true
    while (stack.nonEmpty) {
      val s = stack.removeLast()
      val depth = depthOf(s)
      var pos = outPos(s)
      var hops = 0
      while (pos >= 0 && pos < outputsLen && hops <= outputsLen) {
        if (outLen(pos) == depth && depth > 0) {
          val v = outVal(pos)
          require(v >= 0 && v < numPatterns, s"pattern value $v out of range [0, $numPatterns)")
          val pb = new Array[Byte](depth)
          var cur = s
          var d = depth - 1
          while (d >= 0) { pb(d) = byteOf(cur); cur = parentOf(cur); d -= 1 }
          val ids = decodePath(pb, depth)
          require(patterns(v) == null || patterns(v).sameElements(ids),
            s"conflicting patterns for value $v")
          patterns(v) = ids
        }
        pos = outPar(pos) - 1
        hops += 1
      }
      if (base(s) != 0 && depth < MaxPatternBytes) {
        var c = 0
        while (c < 256) {
          val t = base(s) ^ c
          if (t > 0 && t < statesLen && check(t) == c && !visited(t)) {
            visited(t) = true
            parentOf(t) = s
            byteOf(t) = c.toByte
            depthOf(t) = depth + 1
            stack.append(t)
          }
          c += 1
        }
      }
    }

    val missing = (0 until numPatterns).filter(patterns(_) == null)
    require(missing.isEmpty, s"automaton missing patterns for values: ${missing.take(8)}")
    patterns
  }

  /**
   * Serialize an automaton over the given patterns (value = array index) in
   * the layout above. The double array is built with XOR slot allocation,
   * globally UNIQUE base values, and vacant-slot check bytes chosen so no real
   * state can falsely address a vacant slot — the two invariants the format's
   * `check(child) == byte` validation relies on.
   *
   * Interop caveat: the format was reverse-engineered from the committed
   * reference demo bundle and is validated by round-trip (encode→decode) plus
   * field-by-field decode of that reference artifact; loading a GRAFT-written
   * `.daac` in the upstream Rust daachorse crate is untested in this offline
   * sandbox (no Rust toolchain). The encode assumes: root check byte
   * arbitrary-but-nonmatching, vacant slots fail=0, statesLen = power-of-two
   * capacity — all consistent with the decoded reference bundle.
   *
   * The packed `fc` word stores outputPos+1 in its upper 24 bits, which bounds
   * the output table at 2^24-1 entries (~16.7M distinct pattern suffix
   * states); enforced below rather than silently overflowing into the check
   * byte.
   *
   * Cost: each trie node takes the first base from `nextBaseHint` on that is
   * not yet used (skipped word-wise in a bitset) and puts all its k children
   * on free slots. A candidate costs O(k) and allocates nothing; the slot
   * arrays are copied only when a candidate's slots pass the capacity.
   * Vacant-slot sanitation costs at most 256 bitset probes per slot. The
   * remaining super-linear term is the hint itself: it advances only when a
   * node takes exactly the hint, so once no node fits there it stalls and
   * every later node rescans the bases above it. For the 10,279 patterns of
   * a 20k-doc Synth corpus it stalls at 16 after 377M candidate checks
   * (2.7 s on a 4-core x86 host). The base choices, and so the bytes,
   * depend on the hint, so removing the stall changes the output.
   */
  def encodePatterns(patterns: Array[Array[Int]], separatorId: Long): Array[Byte] = {
    require(patterns.nonEmpty, "no patterns")
    val sepBytes = {
      val b = ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN)
      b.putInt((separatorId & 0xFFFFFFFFL).toInt); b.array()
    }
    // byte-level trie
    val children = mutable.ArrayBuffer(mutable.TreeMap.empty[Int, Int]) // byte -> node
    val ownValue = mutable.ArrayBuffer(-1)
    val ownLen = mutable.ArrayBuffer(0)
    var v = 0
    while (v < patterns.length) {
      val bb = ByteBuffer.allocate(patterns(v).length * 8).order(ByteOrder.LITTLE_ENDIAN)
      patterns(v).foreach { id => bb.putInt(id); bb.put(sepBytes) }
      val bs = bb.array()
      var node = 0
      bs.foreach { byte =>
        val c = byte & 0xFF
        node = children(node).getOrElseUpdate(c, {
          children += mutable.TreeMap.empty[Int, Int]
          ownValue += -1
          ownLen += 0
          children.length - 1
        })
      }
      require(ownValue(node) < 0, s"duplicate pattern at value $v")
      ownValue(node) = v
      ownLen(node) = bs.length
      v += 1
    }
    val nNodes = children.length

    // BFS order + trie-level fail links
    val bfs = new Array[Int](nNodes)
    val fail = new Array[Int](nNodes)
    val depth = new Array[Int](nNodes)
    var head = 0; var tail = 0
    bfs(tail) = 0; tail += 1
    while (head < tail) {
      val u = bfs(head); head += 1
      children(u).foreach { case (c, w) =>
        depth(w) = depth(u) + 1
        fail(w) =
          if (u == 0) 0
          else {
            var f = fail(u)
            var g = children(f).getOrElse(c, -1)
            while (g < 0 && f != 0) { f = fail(f); g = children(f).getOrElse(c, -1) }
            math.max(g, 0)
          }
        bfs(tail) = w; tail += 1
      }
    }

    // XOR double-array slot allocation: node -> slot, with unique bases
    var cap = Integer.highestOneBit(math.max(nNodes * 2, 16)) * 2
    var slotUsed = new Array[Boolean](cap)
    var slotBase = new Array[Int](cap)
    var slotCheck = new Array[Int](cap)
    val usedBases = new java.util.BitSet
    val slotOf = new Array[Int](nNodes)
    // does base b place every child byte on a free, non-root slot? Every
    // candidate checked grows the capacity to cover its child slots, accepted
    // or not: statesLen depends on it
    def fits(b: Int, bytes: Array[Int]): Boolean = {
      var top = 0
      var k = 0
      while (k < bytes.length) { top = math.max(top, b ^ bytes(k)); k += 1 }
      if (top >= cap) {
        while (cap <= top) cap <<= 1
        slotUsed = java.util.Arrays.copyOf(slotUsed, cap)
        slotBase = java.util.Arrays.copyOf(slotBase, cap)
        slotCheck = java.util.Arrays.copyOf(slotCheck, cap)
      }
      k = 0
      while (k < bytes.length && { val t = b ^ bytes(k); t != 0 && !slotUsed(t) }) k += 1
      k == bytes.length
    }
    slotUsed(0) = true
    slotOf(0) = 0
    var bi = 0
    var nextBaseHint = 1
    while (bi < tail) {
      val u = bfs(bi); bi += 1
      val cs = children(u)
      if (cs.nonEmpty) {
        val bytes = cs.keys.toArray
        // the first unused base from the hint on whose child slots are free
        var found = usedBases.nextClearBit(nextBaseHint)
        while (!fits(found, bytes)) found = usedBases.nextClearBit(found + 1)
        usedBases.set(found)
        slotBase(slotOf(u)) = found
        bytes.foreach { c =>
          val t = found ^ c
          slotUsed(t) = true
          slotCheck(t) = c
          slotOf(cs(c)) = t
        }
        if (found == nextBaseHint) nextBaseHint += 1
      }
    }
    val statesLen = cap

    // outputs: one entry per pattern terminal, parent = nearest fail-chain output
    val outEntries = mutable.ArrayBuffer.empty[(Int, Int, Int)] // value, byteLen, parentPlus1
    val outPosPlus1 = new Array[Int](nNodes) // by NODE id; 0 = none
    bi = 0
    while (bi < tail) {
      val u = bfs(bi); bi += 1
      if (u != 0) {
        val inherited = outPosPlus1(fail(u))
        if (ownValue(u) >= 0) {
          outEntries += ((ownValue(u), ownLen(u), inherited))
          outPosPlus1(u) = outEntries.length // index + 1
        } else outPosPlus1(u) = inherited
      }
    }
    // outputPos+1 is packed into fc's upper 24 bits — past this it would
    // silently corrupt the check byte
    require(outEntries.length < (1 << 24) - 1,
      s"daac output table overflow: ${outEntries.length} entries >= 2^24-1")

    // vacant-slot check sanitation: the smallest check byte c no real base
    // can address, i.e. with s ^ c not a used base
    var s = 0
    while (s < statesLen) {
      if (!slotUsed(s)) {
        var c = 0
        while (c < 256 && usedBases.get(s ^ c)) c += 1
        if (c == 256) throw new IllegalStateException(s"no safe vacant check byte for slot $s")
        slotCheck(s) = c
      }
      s += 1
    }

    // serialize
    val failBySlot = new Array[Int](statesLen)
    val fcBySlot = new Array[Int](statesLen)
    var n = 0
    while (n < nNodes) {
      val sl = slotOf(n)
      failBySlot(sl) = slotOf(fail(n))
      fcBySlot(sl) = (slotCheck(sl) & 0xFF) | (outPosPlus1(n) << 8)
      n += 1
    }
    s = 0
    while (s < statesLen) {
      if (!slotUsed(s)) fcBySlot(s) = slotCheck(s) & 0xFF
      s += 1
    }
    val out = ByteBuffer.allocate(4 + 12 * statesLen + 4 + 12 * outEntries.length + 1 + 4)
      .order(ByteOrder.LITTLE_ENDIAN)
    out.putInt(statesLen)
    s = 0
    while (s < statesLen) {
      out.putInt(slotBase(s)); out.putInt(failBySlot(s)); out.putInt(fcBySlot(s))
      s += 1
    }
    out.putInt(outEntries.length)
    outEntries.foreach { case (value, len, par) =>
      out.putInt(value); out.putInt(len); out.putInt(par)
    }
    out.put(0.toByte) // MatchKind::Standard
    out.putInt(nNodes)
    out.array()
  }
}
