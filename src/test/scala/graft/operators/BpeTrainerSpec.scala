package graft.operators

import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import graft.functions.BpeTrainer

/** [[BpeTrainer.mergeLoop]], the engine's one BPE trainer, driven with
  * the q137/q210 settings (characters, `minCount` 1, ties on the pair
  * name in UTF-8 byte order) and with the shipped vocabulary's. The
  * suite keeps the name it had when a Spark per-merge trainer in this
  * package backed q137/q210, so its cases keep their ids. */
class BpeTrainerSpec extends AnyFunSuite with SparkSuite {

  /** A word's characters as Spark's `split(w, "")` yields them. */
  private def chars(w: String): Seq[String] =
    w.codePoints().toArray.toSeq.map(cp => new String(Character.toChars(cp)))

  private def train(numMerges: Int, words: (String, Long)*): BpeTrainer.WordBpe =
    BpeTrainer.trainVocab(words.map { case (w, f) => (w, f, chars(w)) }, numMerges)

  private def finalToks(bpe: BpeTrainer.WordBpe): Set[String] =
    bpe.words.map(_._3.mkString(" ")).toSet

  /** One merge applied left to right without overlap, symbols by name. */
  private def applyMerge(toks: Seq[String], pr: String): Seq[String] = {
    val Array(l, r) = pr.split(" ")
    val out = mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < toks.length) {
      if (i + 1 < toks.length && toks(i) == l && toks(i + 1) == r) { out += s"$l~$r"; i += 2 }
      else { out += toks(i); i += 1 }
    }
    out.toSeq
  }

  /** The naive reference: recounts every pair at every step, symbols by
    * name; ties break on "left right" in UTF-8 unsigned byte order. */
  private def naive(vocab: Seq[(Seq[String], Long)], numMerges: Int): (Seq[String], Seq[Seq[String]]) = {
    var words = vocab.map(_._1)
    val merges = mutable.ArrayBuffer.empty[String]
    var more = true
    while (more && merges.length < numMerges) {
      val counts = mutable.Map.empty[String, Long]
      words.zip(vocab.map(_._2)).foreach { case (w, f) =>
        w.indices.dropRight(1).foreach { i =>
          val pr = s"${w(i)} ${w(i + 1)}"
          counts(pr) = counts.getOrElse(pr, 0L) + f
        }
      }
      if (counts.isEmpty) more = false
      else {
        val best = counts.toSeq.sortWith { case ((p1, c1), (p2, c2)) =>
          c1 > c2 || (c1 == c2 &&
            java.util.Arrays.compareUnsigned(p1.getBytes(UTF_8), p2.getBytes(UTF_8)) < 0)
        }.head._1
        merges += best
        words = words.map(applyMerge(_, best))
      }
    }
    (merges.toSeq, words)
  }

  test("learns the dominant pair first, then builds on the merged token") {
    // "ab" appears 10x in 'abab', 5x in 'abc' => pair (a,b) dominates;
    // after merging, (a~b, a~b) inside 'abab' is next
    val bpe = train(2, "abab" -> 10L, "abc" -> 5L)
    assert(bpe.merges == Seq("a b", "a~b a~b"))
  }

  test("tie-break is lexicographic on the pair string") {
    // 'xy' and 'xz' both appear exactly 3 times
    val bpe = train(1, "xy" -> 3L, "xz" -> 3L)
    assert(bpe.merges.head == "x y") // 'x y' < 'x z'
  }

  test("ties break in UTF-8 byte order, not the JVM's UTF-16 order") {
    // U+FF61 encodes as EF BD A1, U+1F600 as F0 9F 98 80: UTF-8 puts the
    // BMP character first, UTF-16 (high surrogate D83D < FF61) the other
    val bmp = "｡"; val supp = "😀"
    assert(supp.compareTo(bmp) < 0)
    val bpe = train(1, s"${supp}x" -> 2L, s"${bmp}x" -> 2L)
    assert(bpe.merges == Seq(s"$bmp x"))
  }

  test("merge applies left-to-right non-overlapping (aaa -> (aa) a)") {
    val bpe = train(1, "aaa" -> 1L)
    assert(bpe.merges.head == "a a")
    assert(finalToks(bpe) == Set("a~a a"))
  }

  test("merges never fire across token boundaries") {
    // merge 1 (c,x) c=11 turns 'bcx' into 'b c~x'; merge 2 (b,c) c=5
    // must leave it alone although "b c" is its prefix as a string
    val bpe = train(2, "cx" -> 10L, "bcx" -> 1L, "bc" -> 5L)
    assert(bpe.merges == Seq("c x", "b c"))
    assert(finalToks(bpe) == Set("c~x", "b c~x", "b~c"))
    // and whole-token occurrences in an adjacent run all merge
    assert(finalToks(train(1, "hehel" -> 1L)) == Set("h~e h~e l"))
  }

  test("cross-boundary pairs are counted and applied consistently (end-to-end)") {
    // merge 1: (t,h) c=12. 'the' becomes 't~h e', whose ONLY pair is
    // (t~h, e). Merge 2: (h,e) c=5 from 'xhe' (ties (x,h) c=5,
    // lexicographic) must then apply ONLY to 'x h e', not inside
    // 't~h e' (which contains the substring "h e" across its token
    // boundary).
    val bpe = train(2, "th" -> 10L, "the" -> 2L, "xhe" -> 5L)
    assert(bpe.merges == Seq("t h", "h e"))
    assert(finalToks(bpe) == Set("t~h", "t~h e", "x h~e"))
  }

  test("replayed ranked merges reproduce training's final representation") {
    val words = Seq("abab" -> 10L, "abc" -> 5L, "ba" -> 2L)
    val bpe = train(3, words: _*)
    val replayed = words.map { case (w, f) =>
      (bpe.merges.foldLeft(chars(w))(applyMerge).mkString(" "), f) }
    assert(replayed.toSet == bpe.words.map(r => (r._3.mkString(" "), r._2)).toSet)
  }

  test("training compresses: tokens per word decrease monotonically in merges") {
    val docs = graft.Tables.t(spark, sf, "documents").limit(200)
    val b4 = BpeTrainer.trainWords(docs, "text", 4, "spec")
    val b8 = BpeTrainer.trainWords(docs, "text", 8, "spec")
    assert(b4.merges == b8.merges.take(4)) // deterministic prefix property
    def totalTokens(bpe: BpeTrainer.WordBpe): Long =
      bpe.words.map(r => r._3.length * r._2).sum
    val t0 = b4.words.map(r => r._1.length * r._2).sum
    val t4 = totalTokens(b4)
    val t8 = totalTokens(b8)
    assert(t0 > t4 && t4 > t8, s"no compression: $t0 -> $t4 -> $t8")
  }

  test("the merge loop matches a naive reference that recounts every pair at every step") {
    // a control character below ' ', a BMP character above U+E000 and a
    // supplementary one (UTF-16 and UTF-8 order disagree on the last
    // two); ' ' splits words and '~' joins merged names, so neither is a
    // character of a word
    val alphabet = Seq("a", "b", "\t", "｡", "😀")
    val run = for (c <- Gen.oneOf(alphabet); n <- Gen.chooseNum(1, 4)) yield Seq.fill(n)(c)
    val word = Gen.chooseNum(1, 4).flatMap(Gen.listOfN(_, run)).map(_.flatten)
    val vocab = Gen.chooseNum(1, 8)
      .flatMap(Gen.listOfN(_, Gen.zip(word, Gen.chooseNum(1L, 3L)))) // small counts: ties
      .map(_.distinctBy(_._1))
    val prop = Prop.forAll(vocab, Gen.chooseNum(1, 12)) { (v, numMerges) =>
      val got = BpeTrainer.trainVocab(v.map { case (cs, f) => (cs.mkString, f, cs) }, numMerges)
      val (merges, words) = naive(v, numMerges)
      Prop(got.merges == merges && got.words.map(_._3) == words) :|
        s"loop ${got.merges} ${got.words.map(_._3)} vs naive $merges $words"
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(500)
      .withInitialSeed(Seed(137L)), prop)
    assert(res.passed, res.status.toString)
  }

  test("the shipped merges.txt is the sf0.01 training run, byte for byte") {
    val sf01 = new java.io.File(sf).getParent + "/sf0.01"
    val merges = BpeTrainer.learnMerges(
      BpeTrainer.pieceCounts(BpeTrainer.shippedCorpus(spark, sf01), "text", 100000), 2048)
    val in = getClass.getResourceAsStream(graft.functions.Bpe.DefaultResource)
    val shipped = try in.readAllBytes() finally in.close()
    assert(merges.length == 532)
    assert(java.util.Arrays.equals(BpeTrainer.render(merges).getBytes(UTF_8), shipped))
  }

  test("a vocabulary past MaxWords fails loudly, naming the bound and the call site") {
    val docs = spark.range(BpeTrainer.MaxWords + 1L)
      .select(concat(lit("w"), col("id").cast("string")).as("text"))
    val e = intercept[IllegalArgumentException](
      BpeTrainer.trainWords(docs, "text", 1, "bound_spec"))
    assert(e.getMessage.contains("bound_spec") &&
      e.getMessage.contains(s"BpeTrainer.MaxWords = ${BpeTrainer.MaxWords}"), e.getMessage)
  }
}
