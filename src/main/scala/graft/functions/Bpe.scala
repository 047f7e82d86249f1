package graft.functions

import java.nio.charset.StandardCharsets

/** Byte-level BPE tokenizer (T1-T4 with a REAL learned vocabulary).
  *
  * Same construction as the cl100k_base family the reference counts
  * budgets with (SharpToken, ChatService.cs:183-192): text is split by a
  * pre-tokenizer regex into pieces, each piece becomes its UTF-8 bytes
  * (ids 0-255), and learned merges (pairs ranked by training frequency)
  * are applied lowest-rank-first until fixpoint. Ids ≥ 256 denote merged
  * tokens; merge i produces id 256+i. The merge list alone defines the
  * whole codec — vocabulary bytes are derived, so the persisted format
  * is just ranked pairs ([[BpeTrainer.save]]).
  *
  * Encoding any byte sequence always succeeds (byte fallback — no OOV),
  * and decode(encode(x)) == x for all x, which the spec property-tests.
  *
  * Thread-safety: the per-piece memo cache is a bounded ConcurrentHashMap
  * shared by all tasks in the executor JVM — natural text reuses pieces
  * heavily, so most lookups hit.
  */
final class Bpe(merges: Array[(Int, Int)]) extends TokenCodec {

  /** rank of each mergeable pair, packed (a<<32)|b → rank. */
  private val ranks: java.util.HashMap[Long, Int] = {
    val m = new java.util.HashMap[Long, Int](merges.length * 2)
    var i = 0
    while (i < merges.length) {
      val (a, b) = merges(i)
      m.put((a.toLong << 32) | (b.toLong & 0xffffffffL), i)
      i += 1
    }
    m
  }

  /** id → token bytes (256 byte singletons, then one entry per merge). */
  private val vocabBytes: Array[Array[Byte]] = {
    val v = new Array[Array[Byte]](256 + merges.length)
    var i = 0
    while (i < 256) { v(i) = Array(i.toByte); i += 1 }
    var r = 0
    while (r < merges.length) {
      val (a, b) = merges(r)
      v(256 + r) = v(a) ++ v(b)
      r += 1
    }
    v
  }

  def vocabSize: Int = vocabBytes.length

  // Bounded memo of piece → ids. Cleared wholesale when full: simple,
  // lock-free reads, and the worst case is a recomputation, not growth.
  @transient private lazy val cache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Int]]()
  private val MaxCache = 65536

  private def pack(a: Int, b: Int): Long = (a.toLong << 32) | (b.toLong & 0xffffffffL)

  /** BPE merge loop over one pre-token piece. */
  private def encodePiece(piece: String): Array[Int] = {
    val hit = cache.get(piece)
    if (hit != null) return hit
    val bytes = piece.getBytes(StandardCharsets.UTF_8)
    var ids = new Array[Int](bytes.length)
    var i = 0
    while (i < bytes.length) { ids(i) = bytes(i) & 0xff; i += 1 }
    var done = ids.length < 2
    while (!done) {
      // find the lowest-rank adjacent pair
      var bestRank = Int.MaxValue; var bestPos = -1
      var j = 0
      while (j < ids.length - 1) {
        val r = ranks.getOrDefault(pack(ids(j), ids(j + 1)), Int.MaxValue)
        if (r < bestRank) { bestRank = r; bestPos = j }
        j += 1
      }
      if (bestPos < 0) done = true
      else {
        // merge ALL occurrences of that pair, left to right
        val a = ids(bestPos); val b = ids(bestPos + 1)
        val newId = 256 + bestRank
        val out = new Array[Int](ids.length)
        var src = 0; var dst = 0
        while (src < ids.length) {
          if (src < ids.length - 1 && ids(src) == a && ids(src + 1) == b) {
            out(dst) = newId; src += 2
          } else { out(dst) = ids(src); src += 1 }
          dst += 1
        }
        ids = java.util.Arrays.copyOf(out, dst)
        done = ids.length < 2
      }
    }
    if (cache.size() >= MaxCache) cache.clear()
    cache.put(piece, ids)
    ids
  }

  /** T1: text → token ids. */
  def encodeIds(text: String): Array[Int] = {
    if (text == null || text.isEmpty) return Array.emptyIntArray
    val out = new scala.collection.mutable.ArrayBuffer[Int](text.length / 3 + 4)
    Tokenizer.pieces(text).foreach(p => out ++= encodePiece(p))
    out.toArray
  }

  /** Decode ids → text. A slice boundary may split a multi-byte UTF-8
    * character; bytes are decoded with the standard replacement policy
    * (same behavior as byte-level tiktoken decoders). */
  def decode(ids: Array[Int]): String = {
    var n = 0
    var i = 0
    while (i < ids.length) { n += vocabBytes(ids(i)).length; i += 1 }
    val buf = new Array[Byte](n)
    var off = 0
    i = 0
    while (i < ids.length) {
      val b = vocabBytes(ids(i))
      System.arraycopy(b, 0, buf, off, b.length)
      off += b.length; i += 1
    }
    new String(buf, StandardCharsets.UTF_8)
  }

  override def count(text: String): Int = {
    if (text == null || text.isEmpty) return 0
    var n = 0
    Tokenizer.pieces(text).foreach(p => n += encodePiece(p).length)
    n
  }

  override def truncateHead(text: String, n: Int): String =
    decode(encodeIds(text).take(n))

  override def truncateTail(text: String, n: Int): String =
    decode(encodeIds(text).takeRight(n)).stripLeading()

  override def slice(text: String, from: Int, until: Int): String =
    decode(encodeIds(text).slice(from, until))
}

object Bpe {
  /** Resource path of the vocabulary shipped with the library (trained
    * offline by [[BpeTrainer.learnMerges]] on
    * [[BpeTrainer.shippedCorpus]] at sf0.01 — see the trainer's main). */
  val DefaultResource = "/graft/bpe/merges.txt"

  /** The shipped codec. Loading is per-JVM lazy, so executors pay it
    * once; the merge list is a few thousand int pairs. */
  lazy val default: Bpe = {
    val in = getClass.getResourceAsStream(DefaultResource)
    require(in != null, s"BPE vocabulary resource $DefaultResource missing")
    try new Bpe(BpeTrainer.parseMerges(
      scala.io.Source.fromInputStream(in, "UTF-8").getLines()))
    finally in.close()
  }
}
