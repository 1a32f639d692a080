package graft.artifact

import java.nio.{ByteBuffer, ByteOrder}
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.propBoolean

/**
 * `Daac.encodePatterns` pins that need no fixture: the SHA-256 of its output
 * on three fixed pattern sets (recorded from the linear-probe encoder the
 * current slot allocator replaced, so any change to the bytes is caught), and
 * a round-trip + slot-ownership property at up to 2,000 patterns.
 */
class DaacEncodeSpec extends AnyFunSuite {
  import DaacEncodeSpec._

  private val sep = 4294967294L

  private def sha256(bytes: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(bytes).map(b => f"$b%02x").mkString

  test("encoder bytes are pinned: multi-byte ids, a sub-256 capacity, 300 seeded patterns") {
    val multiByte: Array[Array[Int]] = Array(
      Array(1), Array(1, 2), Array(2, 3, 4), Array(3, 4), Array(4),
      Array(70000), Array(70000, 1 << 20), Array(1 << 20),
      Array(255, 256, 257), Array(65535, 65536))
    // 25 trie nodes -> initial capacity 64, so candidate slots `b ^ c` run past it
    val smallCap: Array[Array[Int]] = Array(Array(7), Array(7, 9), Array(300))
    val seeded = seededPatterns(300, seed = 20231017L)
    assert(seeded.length == 300)
    assert(sha256(Daac.encodePatterns(multiByte, sep)) ==
      "37bec0bc34ea3b1babd431b687fa56d2fea53e8e28bfb47317b1ac6fd2e2c31b")
    assert(sha256(Daac.encodePatterns(smallCap, sep)) ==
      "ebe617e3cbbd929f3a6c1c027f5dd97a92452f465ec6cb69c65b51ce01b96b76")
    assert(sha256(Daac.encodePatterns(seeded, sep)) ==
      "985758d027c9a1fd70573a833a07d2e1d699e88074a3f68cebb8a3259d0f9b30")
  }

  test("property: decode(encode(p)) == p; each slot is addressed by at most its own parent") {
    val genPatterns = for {
      n <- Gen.choose(1, 2000)
      ids <- Gen.oneOf(50, 1000, 1 << 20) // few ids share prefixes; wide ids use all 4 bytes
      seed <- Gen.choose(0L, Long.MaxValue)
    } yield randomPatterns(n, ids, seed)
    // no shrinking: shrunk pattern sets hold duplicates and empty patterns
    val prop = Prop.forAllNoShrink(genPatterns) { pats =>
      val bytes = Daac.encodePatterns(pats, sep)
      val back = Daac.decodePatterns(bytes, sep, pats.length)
      (back.map(_.toSeq).toSeq == pats.map(_.toSeq).toSeq) :| "round trip" &&
        slotsOwnedOnce(bytes) :| s"slot ownership, ${pats.length} patterns"
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(25), prop)
    assert(res.passed, res.status.toString)
  }
}

object DaacEncodeSpec {

  /** Distinct patterns of 1-5 token ids in [1, ids], closed under a share of
   * their proper prefixes and suffixes. */
  def randomPatterns(n: Int, ids: Int, seed: Long): Array[Array[Int]] = {
    val rnd = new scala.util.Random(seed)
    val out = scala.collection.mutable.LinkedHashSet.empty[Seq[Int]]
    while (out.size < n) {
      val p = Seq.fill(1 + rnd.nextInt(5))(1 + rnd.nextInt(ids))
      out += p
      if (p.length > 1 && out.size < n && rnd.nextBoolean()) out += p.tail
      if (p.length > 1 && out.size < n && rnd.nextBoolean()) out += p.init
    }
    out.iterator.map(_.toArray).toArray
  }

  /** `n` distinct patterns of 2-5 token ids out of 1,000, first tokens from 40
   * ids (shared prefixes), with 2+-token suffixes added as patterns. */
  def seededPatterns(n: Int, seed: Long): Array[Array[Int]] = {
    val rnd = new scala.util.Random(seed)
    val out = scala.collection.mutable.LinkedHashSet.empty[Seq[Int]]
    while (out.size < n) {
      val p = (1 + rnd.nextInt(40)) +: Seq.fill(1 + rnd.nextInt(4))(1 + rnd.nextInt(1000))
      out += p
      if (p.length > 2 && out.size < n && rnd.nextInt(3) == 0) out += p.tail
    }
    out.iterator.map(_.toArray).toArray
  }

  /** The format's transition check `check(base(u) ^ c) == c` is only sound if
   * every slot `s > 0` is addressed — `b ^ check(s) == s` — by at most one
   * state's base, and a slot no real state reaches by none. */
  def slotsOwnedOnce(bytes: Array[Byte]): Boolean = {
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val statesLen = bb.getInt
    val base = new Array[Int](statesLen)
    val check = new Array[Int](statesLen)
    var i = 0
    while (i < statesLen) {
      base(i) = bb.getInt; bb.getInt; check(i) = bb.getInt & 0xFF
      i += 1
    }
    val outputsLen = bb.getInt
    bb.position(bb.position() + 12 * outputsLen + 1) // outputs, match kind
    val numStates = bb.getInt
    val basesAt = scala.collection.mutable.HashMap.empty[Int, Int].withDefaultValue(0)
    base.foreach(b => if (b != 0) basesAt(b) += 1)
    // slots reached from the root over valid transitions
    val reached = new Array[Boolean](statesLen)
    reached(0) = true
    val stack = scala.collection.mutable.Stack(0)
    while (stack.nonEmpty) {
      val u = stack.pop()
      if (base(u) != 0) (0 until 256).foreach { c =>
        val t = base(u) ^ c
        if (t > 0 && t < statesLen && check(t) == c && !reached(t)) { reached(t) = true; stack.push(t) }
      }
    }
    reached.count(identity) == numStates && (1 until statesLen).forall { s =>
      val owners = basesAt(s ^ check(s))
      if (reached(s)) owners == 1 else owners == 0
    }
  }
}
