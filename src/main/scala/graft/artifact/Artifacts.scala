package graft.artifact

import java.io.{ByteArrayOutputStream, DataOutputStream}
import java.nio.{ByteBuffer, ByteOrder}
import graft.model.Payload

/**
 * Runtime artifacts — vocabulary, payload records, manifest — re-expressed from
 * the reference's build outputs (ext/phrasekit/src/bin/phrasekit_build.rs:137-185).
 *
 * The daachorse automaton file (`phrases.daac`) is replaced by our broadcast
 * token-level trie (graft.matching.AhoCorasick); `payloads.bin` and `vocab.json`
 * layouts are reproduced byte-/field-exactly so the fixture-parity suite can diff
 * against the committed reference artifacts.
 */

/** Vocabulary: unique lowercased tokens sorted alphabetically, IDs 1..n, <UNK>=0
 * (phrasekit_build.rs:306-326, docs/VOCABULARY.md:9-39). */
final case class Vocab(tokens: Map[String, Int], separatorId: Long) extends Serializable {
  val unkId: Int = 0
  def vocabSize: Int = tokens.size + 1 // + <UNK>
  /** Encode one surface token: lowercase, then lookup, <UNK>=0 for misses
   * (phrasekit_tag.rs:74-84, lib/phrasekit.rb:43-51). */
  @inline def encode(token: String): Int =
    tokens.getOrElse(graft.mine.Grams.lower(token), unkId)
  def encodeAll(ts: Seq[String]): Array[Int] = {
    val out = new Array[Int](ts.length)
    var i = 0
    ts.foreach { t => out(i) = encode(t); i += 1 }
    out
  }
}

object Vocab {
  /** Reference separator constant u32::MAX - 1 (docs/BUILDER.md:30). Exceeds
   * Int.MaxValue, held as Long. */
  val SeparatorId: Long = 4294967294L

  /** Alphabetical ID assignment over a unique lowercased token set
   * (phrasekit_build.rs:306-326). Sort is by UTF-16 code unit (Java String
   * ordering); identical to Rust's byte sort for all ASCII/BMP data. */
  def fromTokens(unique: Iterable[String]): Vocab = {
    val sorted = unique.toArray.sorted
    Vocab(sorted.zipWithIndex.map { case (t, i) => t -> (i + 1) }.toMap, SeparatorId)
  }

  /** Canonical vocab.json body (field set per the reference artifact). */
  def toJson(v: Vocab): String = {
    val toks = v.tokens.toSeq.sortBy(_._2)
      .map { case (t, id) => s"${jstr(t)}: $id" }.mkString("{", ", ", "}")
    s"""{"tokens": $toks, "special_tokens": {"<UNK>": 0}, "vocab_size": ${v.vocabSize}, "separator_id": ${v.separatorId}}"""
  }

  private def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** Inverse of toJson, tolerant of the reference's pretty-printed layout
   * (examples/demo_output/artifacts/vocab.json). Load invariants per
   * docs/VOCABULARY.md: ids ≥ 1, separator_id present and nonzero. */
  def fromJson(json: String): Vocab = {
    val sep = Json.num(json, "separator_id").getOrElse(
      throw new IllegalArgumentException("vocab.json: missing separator_id"))
    require(sep != 0, "Invalid separator_id: must not be 0")
    val tokensBlock = Json.obj(json, "tokens").getOrElse(
      throw new IllegalArgumentException("vocab.json: missing tokens object"))
    val pair = "\"((?:[^\"\\\\]|\\\\.)*)\"\\s*:\\s*(\\d+)".r
    val tokens = pair.findAllMatchIn(tokensBlock).map { m =>
      Json.unescape(m.group(1)) -> m.group(2).toInt
    }.toMap
    require(tokens.values.forall(_ >= 1), "vocab.json: token ids must be >= 1 (<UNK> is 0)")
    Vocab(tokens, sep)
  }
}

/** Minimal JSON field extraction for the artifact sidecars — canonical output
 * of our own writers plus the reference's pretty-printed variants. (No JSON
 * library resolves offline; the schemas are fixed and flat.) */
private[artifact] object Json {
  def str(json: String, key: String): Option[String] =
    ("\"" + key + "\"\\s*:\\s*\"((?:[^\"\\\\]|\\\\.)*)\"").r
      .findFirstMatchIn(json).map(m => unescape(m.group(1)))
  def num(json: String, key: String): Option[Long] =
    ("\"" + key + "\"\\s*:\\s*(-?\\d+)").r.findFirstMatchIn(json).map(_.group(1).toLong)
  def dbl(json: String, key: String): Option[Double] =
    ("\"" + key + "\"\\s*:\\s*(-?\\d+(?:\\.\\d+)?([eE][+-]?\\d+)?)").r
      .findFirstMatchIn(json).map(_.group(1).toDouble)
  def isNull(json: String, key: String): Boolean =
    ("\"" + key + "\"\\s*:\\s*null").r.findFirstIn(json).isDefined
  /** The {...} block of a nested object field (no deeper nesting inside). */
  def obj(json: String, key: String): Option[String] =
    ("\"" + key + "\"\\s*:\\s*\\{([^}]*)\\}").r.findFirstMatchIn(json).map(_.group(1))
  def unescape(s: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 'u' if i + 5 < s.length =>
            sb.append(Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar); i += 6
          case 'n' => sb.append('\n'); i += 2
          case 't' => sb.append('\t'); i += 2
          case 'r' => sb.append('\r'); i += 2
          case c => sb.append(c); i += 2
        }
      } else { sb.append(s.charAt(i)); i += 1 }
    }
    sb.toString
  }
}

object PayloadIO {
  /** 17-byte LE record: phrase_id u32, salience f32, count u32, pad 4B, n u8
   * (ext/phrasekit/src/payload.rs:27-53). */
  val RecordBytes = 17

  def write(payloads: Seq[Payload]): Array[Byte] = {
    val bos = new ByteArrayOutputStream(payloads.length * RecordBytes)
    val out = new DataOutputStream(bos)
    payloads.foreach { p =>
      val bb = ByteBuffer.allocate(RecordBytes).order(ByteOrder.LITTLE_ENDIAN)
      bb.putInt(p.phraseId)
      bb.putFloat(p.salience)
      bb.putInt(p.count)
      bb.putInt(0) // pad
      bb.put(p.n)
      out.write(bb.array())
    }
    out.flush()
    bos.toByteArray
  }

  def read(bytes: Array[Byte]): Array[Payload] = {
    require(bytes.length % RecordBytes == 0, s"truncated payloads: ${bytes.length} bytes")
    val n = bytes.length / RecordBytes
    val out = new Array[Payload](n)
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    var i = 0
    while (i < n) {
      val phraseId = bb.getInt
      val salience = bb.getFloat
      val count = bb.getInt
      bb.getInt // pad
      val nn = bb.get
      out(i) = Payload(phraseId, salience, count, nn)
      i += 1
    }
    out
  }
}

/** Build/runtime manifest (ext/phrasekit/src/manifest.rs:7-16) with the reference's
 * load-time invariants (manifest.rs:36-41; matcher.rs:51-57). */
final case class Manifest(
    version: String,
    tokenizer: String,
    numPatterns: Int,
    minCount: Option[Long],
    salienceThreshold: Option[Double],
    builtAt: String,
    separatorId: Long) {
  require(separatorId != 0, "Invalid separator_id: must not be 0")
}

object Manifest {
  def toJson(m: Manifest): String = {
    def opt[T](o: Option[T]): String = o.map(_.toString).getOrElse("null")
    s"""{"version": "${m.version}", "tokenizer": "${m.tokenizer}", "num_patterns": ${m.numPatterns}, "min_count": ${opt(m.minCount)}, "salience_threshold": ${opt(m.salienceThreshold)}, "built_at": "${m.builtAt}", "separator_id": ${m.separatorId}}"""
  }

  /** Inverse of toJson; accepts the reference's pretty-printed manifest.json.
   * Required fields + invariants mirror manifest.rs:24-41 (serde: version,
   * tokenizer, num_patterns, built_at, separator_id required; min_count and
   * salience_threshold optional; separator_id != 0 enforced in the ctor). */
  def fromJson(json: String): Manifest = {
    def req[T](o: Option[T], k: String): T =
      o.getOrElse(throw new IllegalArgumentException(s"manifest.json: missing $k"))
    Manifest(
      version = req(Json.str(json, "version"), "version"),
      tokenizer = req(Json.str(json, "tokenizer"), "tokenizer"),
      numPatterns = req(Json.num(json, "num_patterns"), "num_patterns").toInt,
      minCount = if (Json.isNull(json, "min_count")) None else Json.num(json, "min_count"),
      salienceThreshold =
        if (Json.isNull(json, "salience_threshold")) None
        else Json.dbl(json, "salience_threshold"),
      builtAt = req(Json.str(json, "built_at"), "built_at"),
      separatorId = req(Json.num(json, "separator_id"), "separator_id"))
  }
}
