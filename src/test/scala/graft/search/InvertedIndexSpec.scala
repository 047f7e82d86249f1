package graft.search

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import graft.operators.KeywordRank
import graft.store.DocumentStore
import graft.store.Scratch

class InvertedIndexSpec extends AnyFunSuite with SparkSuite {

  private def corpus = {
    import spark.implicits._
    Seq(
      (1L, "apple banana apple cherry"),
      (2L, "apple banana"),
      (3L, "banana cherry durian"),
      (4L, "apple apple apple banana cherry"),
      (5L, "durian")
    ).toDF("doc_id", "text")
  }

  private lazy val dir = {
    val d = Scratch.keep(Scratch.dir(spark, "invidx")) // shared by the suite
    InvertedIndex.build(corpus, "doc_id", "text", d, buckets = 8)
    d
  }

  test("conjunctive semantics: only docs containing every term") {
    val got = InvertedIndex.search(spark, dir, Seq("apple", "cherry"), k = 10)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == Set(1L, 4L))
  }

  test("scores are exact integer tf·idf with bits-weights") {
    // N=5. apple df=3 → w = bits(5)-bits(3) = 3-2 = 1; cherry df=3 → 1.
    // doc4: 3*1 + 1*1 = 4 ; doc1: 2*1 + 1*1 = 3. Order: doc4, doc1.
    val got = InvertedIndex.search(spark, dir, Seq("apple", "cherry"), k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((4L, 4L), (1L, 3L)))
  }

  test("rare terms outweigh common ones") {
    val got = InvertedIndex.search(spark, dir, Seq("apple"), k = 2)
      .collect().map(r => r.getLong(0)).toSeq
    assert(got == Seq(4L, 1L)) // tf 3 then tf 2
  }

  test("serve prunes to the query terms' buckets (layout agreement)") {
    val store = new DocumentStore(spark, dir)
    val b = InvertedIndex.termBuckets(spark, Seq("apple"), 8)("apple")
    // the routing expression agrees with where the build put the term
    val post = store.readPartitions("postings", Seq(b.toString))
      .filter(col("term") === "apple")
    assert(post.count() == 3) // docs 1, 2, 4
    // and a wrong bucket finds nothing (layout is really bucket-partitioned)
    val wrong = store.readPartitions("postings", Seq(((b + 1) % 8).toString))
      .filter(col("term") === "apple")
    assert(wrong.columns.isEmpty || wrong.count() == 0)
  }

  test("duplicate query terms collapse; unknown term empties the result") {
    val dup = InvertedIndex.search(spark, dir, Seq("apple", "apple"), k = 10)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(dup == Set(1L, 2L, 4L))
    assert(InvertedIndex.search(spark, dir, Seq("apple", "zzz"), k = 10).count() == 0)
  }

  test("non-BMP terms route to the same bucket at build and serve") {
    // emoji + CJK terms: UTF-16 code-unit vs code-point folding disagree
    // here — one shared Column expression makes drift impossible
    import spark.implicits._
    val d = Scratch.dir(spark, "invidx-bmp")
    val docs = Seq((1L, "漢字 🦄 plain"), (2L, "🦄 🦄 other")).toDF("doc_id", "text")
    InvertedIndex.build(docs, "doc_id", "text", d, buckets = 8)
    val uni = InvertedIndex.search(spark, d, Seq("🦄"), k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(uni.map(_._1).toSet == Set(1L, 2L)) // found, not silently empty
    val cjk = InvertedIndex.search(spark, d, Seq("漢字"), k = 10)
      .collect().map(_.getLong(0)).toSeq
    assert(cjk == Seq(1L))
  }

  // ---- incremental maintenance ----------------------------------------

  private def freshIndex(): String = {
    val d = Scratch.dir(spark, "invidx-inc")
    InvertedIndex.build(corpus, "doc_id", "text", d, buckets = 8)
    d
  }

  private def tableHashEq(a: String, b: String, table: String): Boolean = {
    val sa = new DocumentStore(spark, a).read(table)
    val sb = new DocumentStore(spark, b).read(table)
    sa.exceptAll(sb).isEmpty && sb.exceptAll(sa).isEmpty
  }

  test("add: new document is immediately searchable (tf·idf and BM25)") {
    import spark.implicits._
    val d = freshIndex()
    InvertedIndex.add(spark, d, Seq((6L, "elderberry apple")).toDF("doc_id", "text"),
      "doc_id", "text")
    val got = InvertedIndex.search(spark, d, Seq("elderberry"), k = 10)
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(6L))
    val bm = InvertedIndex.searchBm25(spark, d, Seq("elderberry"))
      .collect().map(_.getLong(0)).toSeq
    assert(bm == Seq(6L))
  }

  test("add of an existing id replaces its postings (stale terms gone)") {
    import spark.implicits._
    val d = freshIndex()
    // doc 5 was "durian" → becomes "fig"
    InvertedIndex.add(spark, d, Seq((5L, "fig")).toDF("doc_id", "text"),
      "doc_id", "text")
    assert(InvertedIndex.search(spark, d, Seq("fig"), k = 10)
      .collect().map(_.getLong(0)).toSeq == Seq(5L))
    val durian = InvertedIndex.search(spark, d, Seq("durian"), k = 10)
      .collect().map(_.getLong(0)).toSet
    assert(durian == Set(3L)) // doc 5's stale durian posting is gone
  }

  test("remove: document vanishes from results; unknown id is a no-op") {
    val d = freshIndex()
    InvertedIndex.remove(spark, d, Seq(4L, 999L))
    val got = InvertedIndex.search(spark, d, Seq("apple"), k = 10)
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(1L, 2L))
  }

  test("mutations converge to the full-rebuild index (postings, docmap, meta)") {
    import spark.implicits._
    val d = freshIndex()
    InvertedIndex.remove(spark, d, Seq(3L))
    InvertedIndex.add(spark, d,
      Seq((5L, "fig grape"), (7L, "apple grape")).toDF("doc_id", "text"),
      "doc_id", "text")
    // reference: rebuild from scratch over the mutated corpus
    val cur = Seq(
      (1L, "apple banana apple cherry"),
      (2L, "apple banana"),
      (4L, "apple apple apple banana cherry"),
      (5L, "fig grape"),
      (7L, "apple grape")
    ).toDF("doc_id", "text")
    val d2 = Scratch.dir(spark, "invidx-rebuild")
    InvertedIndex.build(cur, "doc_id", "text", d2, buckets = 8)
    Seq("postings", "docmap", "meta").foreach { t =>
      assert(tableHashEq(d, d2, t), s"table $t diverged from rebuild")
    }
  }

  test("COW locality: untouched term buckets keep their segment dirs") {
    import spark.implicits._
    val d = freshIndex()
    val store = new DocumentStore(spark, d)
    val before = store.layout("postings")
    val touched = InvertedIndex.termBuckets(spark, Seq("kiwi"), 8)
      .values.map(_.toString).toSet
    assert(before.keySet.diff(touched).nonEmpty, "test needs an untouched bucket")
    InvertedIndex.add(spark, d, Seq((8L, "kiwi")).toDF("doc_id", "text"),
      "doc_id", "text")
    val after = store.layout("postings")
    before.keySet.diff(touched).foreach { bucket =>
      assert(after(bucket) == before(bucket),
        s"untouched bucket $bucket was rewritten")
    }
  }

  test("BM25 serve is bit-identical to the cold path on a punctuated corpus") {
    import spark.implicits._
    val docs = Seq(
      (1L, "The QUICK brown-fox, jumps; over the lazy dog!"),
      (2L, "quick quick dog?"),
      (3L, "Nothing relevant here at all."),
      (4L, "Dog... dog... DOG (and fox).")
    ).toDF("doc_id", "text")
    val d = Scratch.dir(spark, "invidx-bm25")
    InvertedIndex.build(docs, "doc_id", "text", d, buckets = 8,
      tok = InvertedIndex.TokAlnum)
    val terms = Seq("quick", "dog")
    val served = InvertedIndex.searchBm25(spark, d, terms)
    val cold = KeywordRank.bm25Direct(docs, "doc_id", "text", terms)
    val indexed = KeywordRank.bm25Indexed(
      KeywordRank.buildIndex(docs, "doc_id", "text", persist = false), terms)
    assert(served.exceptAll(cold).isEmpty && cold.exceptAll(served).isEmpty,
      "served vs bm25Direct diverged")
    assert(served.exceptAll(indexed).isEmpty && indexed.exceptAll(served).isEmpty,
      "served vs bm25Indexed diverged")
    // and maintenance preserves parity: mutate, compare against cold path
    InvertedIndex.remove(spark, d, Seq(3L))
    InvertedIndex.add(spark, d, Seq((5L, "A dog. A fox. A QUICK end."))
      .toDF("doc_id", "text"), "doc_id", "text")
    val mutated = Seq(
      (1L, "The QUICK brown-fox, jumps; over the lazy dog!"),
      (2L, "quick quick dog?"),
      (4L, "Dog... dog... DOG (and fox)."),
      (5L, "A dog. A fox. A QUICK end.")
    ).toDF("doc_id", "text")
    val served2 = InvertedIndex.searchBm25(spark, d, terms)
    val cold2 = KeywordRank.bm25Direct(mutated, "doc_id", "text", terms)
    assert(served2.exceptAll(cold2).isEmpty && cold2.exceptAll(served2).isEmpty,
      "post-mutation served vs cold path diverged")
  }

  test("searchNot: all positives present, no negative, positive-only scoring") {
    // apple docs {1,2,4}, cherry docs {1,3,4} → keep doc 2; apple df=3,
    // w = bits(5)-bits(3) = 1, doc2 tf=1 → score 1
    val got = InvertedIndex.searchNot(spark, dir, Seq("apple"), Seq("cherry"), k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((2L, 1L)))
  }

  test("searchNot: contradiction empties; unknown negative changes nothing") {
    assert(InvertedIndex.searchNot(spark, dir, Seq("apple"), Seq("apple"), k = 10)
      .count() == 0)
    val plain = InvertedIndex.search(spark, dir, Seq("apple"), k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val negged = InvertedIndex.searchNot(spark, dir, Seq("apple"), Seq("zzz"), k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(negged == plain)
    // empty negative list degrades to plain conjunctive search
    val none = InvertedIndex.searchNot(spark, dir, Seq("apple"), Nil, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(none == plain)
  }

  test("compact: fresh build has nothing to do; mutated index re-clusters") {
    import spark.implicits._
    val d = freshIndex()
    // a just-built index is already one clustered file run per bucket
    assert(InvertedIndex.compact(spark, d) == (false, false))
    InvertedIndex.add(spark, d,
      Seq((9L, "apple elderberry"), (10L, "apple banana kiwi"))
        .toDF("doc_id", "text"), "doc_id", "text")
    InvertedIndex.remove(spark, d, Seq(2L))
    val q = Seq("apple", "banana")
    val before = InvertedIndex.search(spark, d, q, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val (p, _) = InvertedIndex.compact(spark, d)
    val after = InvertedIndex.search(spark, d, q, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(after == before, "compaction changed serving results")
    if (p) {
      // the rewrite restored term clustering in every postings file
      import org.apache.spark.sql.functions.input_file_name
      val store = new DocumentStore(spark, d)
      store.read("postings")
        .select(input_file_name().as("f"), col("term"))
        .collect().groupBy(_.getString(0)).values.foreach { rows =>
          val terms = rows.map(_.getString(1)).toSeq
          assert(terms == terms.sorted, "compacted posting file not term-sorted")
        }
      // and compaction is idempotent until the next mutation
      assert(InvertedIndex.compact(spark, d) == (false, false))
    }
  }

  test("built posting files are term-clustered (row-group pruning lever)") {
    import org.apache.spark.sql.functions.{col, input_file_name}
    val store = new DocumentStore(spark, dir)
    val byFile = store.read("postings")
      .select(input_file_name().as("f"), col("term"))
      .collect().groupBy(_.getString(0))
    assert(byFile.nonEmpty)
    byFile.values.foreach { rows =>
      val terms = rows.map(_.getString(1)).toSeq
      assert(terms == terms.sorted, "posting file not term-sorted")
    }
  }

  private def phrase(ps: Seq[String]) =
    InvertedIndex.phraseSearch(spark, dir, corpus, "doc_id", "text", ps, k = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("phrase search: adjacency required, order matters, counts exact") {
    // "apple banana" adjacent in docs 1, 2, 4 (doc 4: a a a b → once)
    assert(phrase(Seq("apple", "banana")) == Map(1L -> 1L, 2L -> 1L, 4L -> 1L))
    // reversed order: "banana apple" occurs in doc 1 only ("apple banana apple")
    assert(phrase(Seq("banana", "apple")) == Map(1L -> 1L))
    // both terms present but never adjacent: doc 3 has banana..durian? they ARE
    // adjacent ("cherry durian"); "banana durian" is not
    assert(phrase(Seq("banana", "durian")).isEmpty)
  }

  test("phrase search: repeated unigram counts non-overlapping runs") {
    // doc 4 = "apple apple apple banana cherry": "apple apple" single-pass
    // left-to-right → 1 counted (runs share boundary separators)
    val got = phrase(Seq("apple", "apple"))
    assert(got == Map(4L -> 1L))
  }

  test("phrase search: single-term phrase counts boundary-sharing runs single-pass") {
    // doc 1: two separated "apple" → 2; doc 4's run "apple apple apple"
    // counts 2 (each match consumes its trailing separator, so adjacent
    // occurrences share boundaries — the documented single-pass rule the
    // SQL oracle replays identically)
    assert(phrase(Seq("apple")) == Map(1L -> 2L, 2L -> 1L, 4L -> 2L))
  }

  test("phrase search: candidate phase is index-pruned (unknown term short-circuits)") {
    assert(phrase(Seq("apple", "zzz")).isEmpty)
  }

  test("adaptive buckets: sizing rule, meta persistence, and parity pinning across a boundary") {
    import spark.implicits._
    assert(InvertedIndex.adaptiveBuckets(spark, 1L) == 8)       // clamp floor
    assert(InvertedIndex.adaptiveBuckets(spark, 50000L) == 49)  // ceil(n/1024)
    assert(InvertedIndex.adaptiveBuckets(spark, 100000000L) == 4096) // clamp cap
    // boundary scenario: with docsPerBucket=2, a 20-doc corpus sizes to
    // 10 buckets while its 16-doc mutation would size to 8 — a parity
    // rebuild MUST pin to the reference layout or it fails for layout
    spark.conf.set("spark.graft.index.docsPerBucket", "2")
    try {
      val docs = (1L to 20L).map(i => (i, s"term$i shared word")).toDF("doc_id", "text")
      val d1 = Scratch.dir(spark, "adapt-a")
      InvertedIndex.build(docs, "doc_id", "text", d1)
      assert(InvertedIndex.layoutBuckets(spark, d1) == 10)
      // mutate: remove 4 docs through the maintenance path
      InvertedIndex.remove(spark, d1, Seq(17L, 18L, 19L, 20L))
      val mutated = docs.filter(col("doc_id") <= 16)
      val d2 = Scratch.dir(spark, "adapt-b")
      InvertedIndex.build(mutated, "doc_id", "text", d2,
        buckets = InvertedIndex.layoutBuckets(spark, d1))
      val sA = new DocumentStore(spark, d1)
      val sB = new DocumentStore(spark, d2)
      Seq("postings", "docmap", "meta").foreach { tb =>
        val a = sA.read(tb); val b = sB.read(tb)
        assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
          s"table $tb diverged between maintained and pinned rebuild")
      }
      // and the unpinned rebuild really would have chosen a different
      // layout (the hazard the pinning exists for)
      assert(InvertedIndex.adaptiveBuckets(spark, 16L) == 8)
    } finally spark.conf.unset("spark.graft.index.docsPerBucket")
  }

  test("adaptive buckets: bad docsPerBucket config fails loudly by name") {
    for (bad <- Seq("zero" -> "0", "negative" -> "-5", "junk" -> "lots")) {
      spark.conf.set("spark.graft.index.docsPerBucket", bad._2)
      try {
        val e = intercept[IllegalArgumentException](
          InvertedIndex.adaptiveBuckets(spark, 1000L))
        assert(e.getMessage.contains("spark.graft.index.docsPerBucket"),
          s"${bad._1}: ${e.getMessage}")
      } finally spark.conf.unset("spark.graft.index.docsPerBucket")
    }
  }

  test("search serves the current meta after maintenance epochs") {
    import spark.implicits._
    val docs = (1L to 6L).map(i => (i, s"w$i common")).toDF("doc_id", "text")
    val dir = Scratch.dir(spark, "meta-epochs")
    InvertedIndex.build(docs, "doc_id", "text", dir)
    // 6 mutation epochs, each a new meta version
    (1L to 3L).foreach(i => InvertedIndex.remove(spark, dir, Seq(i)))
    (11L to 13L).foreach { i =>
      InvertedIndex.add(spark, dir, Seq((i, s"new$i common")).toDF("doc_id", "text"),
        "doc_id", "text")
    }
    val hits = InvertedIndex.search(spark, dir, Seq("common"), k = 20)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(hits == Set(4L, 5L, 6L, 11L, 12L, 13L))
  }

  test("an index deleted and rebuilt at the same path serves the new stats") {
    import spark.implicits._
    val d = Scratch.dir(spark, "invidx-same-path")
    InvertedIndex.build(corpus, "doc_id", "text", d, buckets = 8)
    assert(InvertedIndex.search(spark, d, Seq("apple"), k = 10).count() == 3)
    val p = new org.apache.hadoop.fs.Path(d)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    // the rebuild's meta is again version 1, with other stats: N = 8 and
    // 16 buckets. apple df = 1 -> w = bits(8) - bits(1) = 3, tf 1 -> 3
    val docs = (1L to 8L).map(i => (i, if (i == 1L) "apple" else s"kiwi$i"))
      .toDF("doc_id", "text")
    InvertedIndex.build(docs, "doc_id", "text", d, buckets = 16)
    assert(InvertedIndex.layoutBuckets(spark, d) == 16)
    val got = InvertedIndex.search(spark, d, Seq("apple"), k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 3L)))
  }
}
