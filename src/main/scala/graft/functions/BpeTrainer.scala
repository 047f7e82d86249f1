package graft.functions

import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** BPE vocabulary training (Sennrich et al. 2016), the engine's one
  * trainer. The reference counts budgets with a downloaded vocabulary
  * (SharpToken cl100k_base, ChatService.cs:183-192); offline, the engine
  * induces its merges from the corpus instead. The scale-correct split:
  *
  *  1. ONE distributed pass turns the corpus into (word, frequency)
  *     counts — a map-side-combined aggregation whose output is
  *     vocabulary-sized (Zipf), not corpus-sized. It reaches the driver
  *     under a bound.
  *  2. [[mergeLoop]] runs on the driver over that table. Pair counts are
  *     maintained incrementally with an inverted pair→words index, so
  *     each merge touches only the words containing the winning pair.
  *
  * Two callers drive the loop: the shipped byte-level vocabulary
  * ([[learnMerges]], persisted as ranked pairs that [[Bpe]] parses) and
  * the q137/q210 gates ([[trainWords]]), whose DuckDB oracle replays the
  * same training in SQL.
  */
object BpeTrainer {

  /** The loop's result: `merges(i)` joins two symbols into symbol
    * `firstId + i`; `words(w)` is word w's final symbols. */
  final case class Trained(merges: Array[(Int, Int)], words: Array[Array[Int]])

  /** The one merge loop. Each step merges the pair of adjacent symbols
    * with the largest frequency-weighted count, applied left to right
    * without overlap (`a a a` → `a~a a`). Pairs of equal count are ranked
    * by `tieOrder` over packed pairs (`a << 32 | b`; the smaller wins),
    * which is built once from the loop's merge list; that list grows as
    * the loop runs, so an order may spell merged symbols out. Stops after
    * `numMerges` merges or when no pair occurs `minCount` times. */
  def mergeLoop(symbols: Seq[Array[Int]], freqs: Seq[Long], firstId: Int,
                numMerges: Int, minCount: Long,
                tieOrder: collection.IndexedSeq[(Int, Int)] => Ordering[Long]): Trained = {
    val words = symbols.toArray // merges replace a word's array, never write into it
    val freq = freqs.toArray

    def pack(a: Int, b: Int): Long = (a.toLong << 32) | (b.toLong & 0xffffffffL)

    val pairCount = mutable.LongMap.empty[Long]
    val pairWords = mutable.LongMap.empty[mutable.BitSet]
    def addPair(p: Long, w: Int, f: Long): Unit = {
      pairCount(p) = pairCount.getOrElse(p, 0L) + f
      pairWords.getOrElseUpdate(p, mutable.BitSet.empty) += w
    }
    def pairsOf(ids: Array[Int]): Iterator[Long] =
      (0 until ids.length - 1).iterator.map(i => pack(ids(i), ids(i + 1)))

    words.indices.foreach { w => pairsOf(words(w)).foreach(p => addPair(p, w, freq(w))) }

    val merges = mutable.ArrayBuffer.empty[(Int, Int)]
    val ties = tieOrder(merges)
    var done = false
    while (!done && merges.length < numMerges && pairCount.nonEmpty) {
      var bestP = 0L; var bestC = -1L
      pairCount.foreach { case (p, c) =>
        if (c > bestC || (c == bestC && ties.lt(p, bestP))) { bestP = p; bestC = c }
      }
      if (bestC < minCount) done = true // nothing frequent left
      else {
        val a = (bestP >>> 32).toInt; val b = (bestP & 0xffffffffL).toInt
        val newId = firstId + merges.length
        merges += ((a, b))
        val touched = pairWords.getOrElse(bestP, mutable.BitSet.empty)
        touched.foreach { w =>
          val old = words(w); val f = freq(w)
          // retract the word's old pair contributions
          pairsOf(old).foreach { p =>
            val c = pairCount(p) - f
            if (c <= 0L) { pairCount -= p; pairWords -= p } else pairCount(p) = c
          }
          // apply the merge left-to-right
          val out = new Array[Int](old.length)
          var src = 0; var dst = 0
          while (src < old.length) {
            if (src < old.length - 1 && old(src) == a && old(src + 1) == b) {
              out(dst) = newId; src += 2
            } else { out(dst) = old(src); src += 1 }
            dst += 1
          }
          words(w) = java.util.Arrays.copyOf(out, dst)
          // add back the new contributions
          pairsOf(words(w)).foreach(p => addPair(p, w, f))
        }
        pairCount -= bestP
        pairWords -= bestP
      }
    }
    Trained(merges.toArray, words)
  }

  // -- the shipped byte-level vocabulary ----------------------------------

  /** Distributed piece-frequency count (the corpus pass), capped to the
    * `maxPieces` most frequent pieces (ties broken lexicographically so
    * the vocabulary is deterministic across partitionings). */
  def pieceCounts(df: DataFrame, textCol: String, maxPieces: Int): Seq[(String, Long)] = {
    val pieceUdf = udf((s: String) => Tokenizer.pieces(s).toSeq)
    df.select(explode(pieceUdf(col(textCol))).as("piece"))
      .groupBy("piece").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("piece"))
      .limit(maxPieces)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
  }

  /** Byte-level merges over piece frequencies: symbols are bytes 0-255,
    * merge i makes id 256+i, a pair must occur twice to merge, and ties
    * break on the smaller packed pair. */
  def learnMerges(pieces: Seq[(String, Long)], numMerges: Int): Array[(Int, Int)] =
    mergeLoop(pieces.map(_._1.getBytes(UTF_8).map(_ & 0xff)), pieces.map(_._2),
      firstId = 256, numMerges, minCount = 2L, _ => Ordering.Long).merges

  /** The shipped vocabulary's corpus: every natural-language-ish string
    * surface (documents text plus entity/name/JSON columns), so the
    * vocabulary covers words, identifiers, and digit runs alike. */
  def shippedCorpus(spark: SparkSession, sfDir: String): DataFrame = {
    def textOf(tbl: String, c: String): DataFrame =
      graft.Tables.t(spark, sfDir, tbl).select(col(c).cast("string").as("text"))
    Seq(textOf("documents", "text"), textOf("part", "p_name"),
      textOf("part", "p_type"), textOf("customer", "c_name"),
      textOf("supplier", "s_name"), textOf("nation", "n_name"),
      textOf("events", "props")).reduce(_ unionByName _)
  }

  // -- the q137/q210 word vocabulary --------------------------------------

  /** Most distinct words [[trainWords]] brings to the driver. The loop
    * holds every word's symbols and its pair index there. The documents
    * corpus has 31 distinct words at sf0.001, sf0.01 and sf0.1; a
    * vocabulary past this bound fails instead of growing the driver's
    * heap. */
  val MaxWords = 100000

  /** A trained word vocabulary: `merges` are "left right" in rank order;
    * each word carries its frequency and final symbols. A character
    * names itself and a merged symbol is named `left~right`. */
  final case class WordBpe(merges: Seq[String], words: Seq[(String, Long, Seq[String])])

  /** Trains the way q137/q210's oracle replays it in SQL: words are
    * `textCol` split on " " (empty words dropped), their symbols are
    * Spark's `split(w, "")` characters, and every pair counts, so
    * `minCount` is 1. Fails past [[MaxWords]] distinct words, naming
    * `site`. */
  def trainWords(docs: DataFrame, textCol: String, numMerges: Int,
                 site: String): WordBpe = {
    val vocab = docs.select(explode(split(col(textCol), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .select(col("w"), col("cnt"), split(col("w"), "").as("chars"))
      .limit(MaxWords + 1).collect()
    require(vocab.length <= MaxWords,
      s"$site: BPE vocabulary exceeds BpeTrainer.MaxWords = $MaxWords distinct words")
    trainVocab(vocab.map(r => (r.getString(0), r.getLong(1), r.getSeq[String](2))).toSeq,
      numMerges)
  }

  /** The driver half of [[trainWords]] over (word, frequency, characters).
    * Ties break on `left right` in UTF-8 unsigned byte order — Spark's
    * and DuckDB's string order; the JVM's UTF-16 `compareTo` is not. */
  private[graft] def trainVocab(vocab: Seq[(String, Long, Seq[String])], numMerges: Int): WordBpe = {
    val ids = mutable.LinkedHashMap.empty[String, Int]
    val symbols = vocab.map(_._3.map(c => ids.getOrElseUpdate(c, ids.size)).toArray)
    val names = mutable.ArrayBuffer.from(ids.keys.map(_.getBytes(UTF_8)))
    val firstId = names.length
    val (space, tilde) = (Array[Byte](' '), Array[Byte]('~'))
    // names are memoised in `names`; merged ids are spelled from `merges`
    def nameIn(merges: collection.IndexedSeq[(Int, Int)])(id: Int): Array[Byte] = {
      while (names.length <= id) {
        val (a, b) = merges(names.length - firstId)
        names += nameIn(merges)(a) ++ tilde ++ nameIn(merges)(b)
      }
      names(id)
    }
    val byName: collection.IndexedSeq[(Int, Int)] => Ordering[Long] = { merges =>
      def pairName(p: Long): Array[Byte] =
        nameIn(merges)((p >>> 32).toInt) ++ space ++ nameIn(merges)(p.toInt)
      (p, q) => java.util.Arrays.compareUnsigned(pairName(p), pairName(q))
    }
    val t = mergeLoop(symbols, vocab.map(_._2), firstId, numMerges, 1L, byName)
    def str(id: Int): String = new String(nameIn(t.merges.toIndexedSeq)(id), UTF_8)
    WordBpe(t.merges.toSeq.map { case (a, b) => s"${str(a)} ${str(b)}" },
      vocab.indices.map(i => (vocab(i)._1, vocab(i)._2, t.words(i).toSeq.map(str))))
  }

  // -- persistence: header line, then one "a b" pair per rank ------------

  def render(merges: Array[(Int, Int)]): String =
    ("graft-bpe v1" +: merges.toSeq.map { case (a, b) => s"$a $b" }).mkString("\n")

  def parseMerges(lines: Iterator[String]): Array[(Int, Int)] = {
    val it = lines.filter(_.nonEmpty)
    val header = if (it.hasNext) it.next() else ""
    require(header.startsWith("graft-bpe"), s"not a graft BPE file: '$header'")
    it.map { l => val Array(a, b) = l.trim.split(" "); (a.toInt, b.toInt) }.toArray
  }

  /** Persist through the Hadoop FS API (works on any cluster storage). */
  def save(spark: SparkSession, path: String, merges: Array[(Int, Int)]): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(p, true)
    try out.write(render(merges).getBytes(UTF_8))
    finally out.close()
  }

  /** Regenerates the shipped vocabulary resource:
    * `runMain graft.functions.BpeTrainer <sfDir> <outFile> [numMerges]`.
    * Trained on [[shippedCorpus]] at sf0.01 (BpeTrainerSpec checks the
    * committed resource against that run); committed so the library is
    * self-contained offline. */
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outFile = args(1)
    val numMerges = if (args.length > 2) args(2).toInt else 2048
    val spark = graft.GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"),
      "graft-bpe-train")
    try {
      val merges = learnMerges(pieceCounts(shippedCorpus(spark, sfDir), "text", 100000),
        numMerges)
      save(spark, outFile, merges)
      println(s"[bpe-train] wrote ${merges.length} merges to $outFile")
    } finally spark.stop()
  }
}
