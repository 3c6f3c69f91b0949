package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Specs for the round-6 corpus operators: span-level dedup stats, the
  * integer-exact unigram surprisal scorer, and the composite Gopher-style
  * filter verdict.
  */
class CorpusFilterSpec extends SparkSpec {
  import spark.implicits._

  test("spanDedupStats: hand-computed 5→3-word-span sharing, <k docs restored") {
    val docs = Seq(
      (1L, "a b c d e"),  // spans: "a b c","b c d","c d e"
      (2L, "a b c d x"),  // shares "a b c","b c d" with doc 1
      (3L, "z z z z"),    // 2 windows, 1 distinct span, shared with nobody
      (4L, "q w")         // < k words: explode drops it; left join restores
    ).toDF("doc_id", "text")
    val out = Corpus.spanDedupStats(docs, "doc_id", "text", k = 3, minDocs = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(out(1L) == ((3L, 2L, 666667L)))
    assert(out(2L) == ((3L, 2L, 666667L)))
    assert(out(3L) == ((1L, 0L, 0L)))
    assert(out(4L) == ((0L, 0L, 0L)))
  }

  test("spanDedupStats plan: partial aggregation, no window functions") {
    val docs = Seq((1L, "a b c d e"), (2L, "a b c d e")).toDF("doc_id", "text")
    val plan = Corpus.spanDedupStats(docs, "doc_id", "text", k = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_count") || plan.contains("HashAggregate"),
      s"doc-frequency count must partial-aggregate:\n$plan")
    assert(!plan.contains("Window"), s"no window functions expected:\n$plan")
  }

  test("removeDupSpans: hand-computed first-occurrence protection") {
    val docs = Seq(
      (1L, "a b c d e"),        // holds the global first "a b c" (doc 1, p 0)
      (2L, "z a b c q"),        // its "a b c" at p 1 is non-first → cut p 1-3
      (3L, "m n"),              // < k words: no spans, text passes through
      (4L, "")                  // no tokens: restored with null text
    ).toDF("doc_id", "text")
    val out = Corpus.removeDupSpans(docs, "doc_id", "text", k = 3)
      .collect().map(r => r.getLong(0) ->
        ((Option(r.getString(1)), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) == ((Some("a b c d e"), 5L, 0L)))
    assert(out(2L) == ((Some("z q"), 2L, 3L)))
    assert(out(3L) == ((Some("m n"), 2L, 0L)))
    assert(out(4L) == ((None, 0L, 0L)))
  }

  test("removeDupSpans: within-document repetition and overlap resolution") {
    // spans ×2 each: "r s t"(p0,p3), "s t r"(p1,p4), "t r s"(p2,p5); the
    // non-first occurrences cover positions 3..7 even though 3 and 4 also
    // sit inside FIRST occurrences — covered-by-any-non-first wins
    val docs = Seq((5L, "r s t r s t r s")).toDF("doc_id", "text")
    val out = Corpus.removeDupSpans(docs, "doc_id", "text", k = 3)
      .collect().map(r => (r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq(("r s t", 3L, 5L)))
  }

  test("removeDupSpans plan: partial aggregation, no window functions") {
    val docs = Seq((1L, "a b c d e"), (2L, "a b c d e")).toDF("doc_id", "text")
    val plan = Corpus.removeDupSpans(docs, "doc_id", "text", k = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_count") || plan.contains("HashAggregate"),
      s"span stats must partial-aggregate:\n$plan")
    assert(!plan.contains("Window"), s"no window functions expected:\n$plan")
  }

  test("bpeEncodeDocs: hand-computed token budgets under a fixed merge table") {
    // merges: (a,b) then (ab,c) → "abc"→[abc], "ab"→[ab], "ba"→[b,a]
    val merges = Seq(("a", "b"), ("ab", "c"))
    val docs = Seq(
      (1L, "abc ab abc"),  // 3 words → 1 + 1 + 1 = 3 symbols
      (2L, "ba abc x"),    // 3 words → 2 + 1 + 1 = 4 symbols
      (3L, "")             // no tokens: no row
    ).toDF("doc_id", "text")
    val out = Corpus.bpeEncodeDocs(docs, "doc_id", "text", merges)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out == Map(1L -> ((3L, 3L)), 2L -> ((3L, 4L))))
  }

  test("tfidfKeywords: hand-computed integer-bits scores and tie-breaks") {
    // D=3 docs → bitlen(3)=2. idf = bitlen(3) − bitlen(df): df=3 → 0,
    // df=2 → 0 (bitlen(2)=2), df=1 → 1
    val docs = Seq(
      (1L, "a a b c"),  // scores: a 2·0=0, b 0, c 1 → c, then lex tie a
      (2L, "a b"),      // all scores 0 → pure lexicographic: a, b
      (3L, "a d d")     // scores: a 0, d 2·1=2
    ).toDF("doc_id", "text")
    val out = Corpus.tfidfKeywords(docs, "doc_id", "text", topK = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getString(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(out((1L, 1L)) == (("c", 1L, 1L)))
    assert(out((1L, 2L)) == (("a", 2L, 0L)))
    assert(out((2L, 1L)) == (("a", 1L, 0L)))
    assert(out((2L, 2L)) == (("b", 1L, 0L)))
    assert(out((3L, 1L)) == (("d", 2L, 2L)))
    assert(out((3L, 2L)) == (("a", 1L, 0L)))
  }

  test("unigramSurprisal: hand-computed exact integer log2 bits") {
    // counts: a=2, b=2, c=1; N=5. bitlen(5)=3, bitlen(2)=2, bitlen(1)=1
    // → surprisal(a)=1, surprisal(b)=1, surprisal(c)=2
    val docs = Seq((1L, "a a b"), (2L, "b c")).toDF("doc_id", "text")
    val out = Corpus.unigramSurprisal(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(out(1L) == ((3L, 3L, 100L)))  // 2·1 + 1·1 = 3 bits over 3 tokens
    assert(out(2L) == ((2L, 3L, 150L)))  // 1 + 2 = 3 bits over 2 tokens
  }

  test("unigramSurprisal is reproducible run-to-run (no float, no rand)") {
    val docs = (0 until 200)
      .map(i => (i.toLong, s"w${i % 7} w${i % 13} common tail"))
      .toDF("doc_id", "text")
    val a = Corpus.unigramSurprisal(docs, "doc_id", "text").collect().toSet
    val b = Corpus.unigramSurprisal(docs, "doc_id", "text").collect().toSet
    assert(a == b)
  }

  test("gopherFilter: verdicts and sorted reason codes") {
    val good = (Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it") ++
      (1 to 10).map(i => s"longcontentword$i")).mkString(" ")
    val docs = Seq(
      (1L, good),
      (2L, "tiny doc here"),
      (3L, (Seq.fill(8)("spam") ++ (1 to 12).map(i => s"f$i")).mkString(" ")),
      (4L, "same line\nsame line\nsame line\nunique one")
    ).toDF("doc_id", "text")
    val out = Corpus.gopherFilter(docs, "doc_id", "text",
        minWords = 15L, maxWords = 100000L, maxDupLineFrac = 0.30,
        maxTopWordFrac = 0.20, minQualityBps = 6000L)
      .collect().map(r => r.getLong(0) -> ((r.getBoolean(1), r.getString(2))))
      .toMap
    assert(out(1L)._1, s"doc 1 should be kept, got reasons ${out(1L)._2}")
    assert(out(1L)._2 == "")
    assert(out(2L)._2.split(",").contains("too_short"))
    assert(out(3L)._2.split(",").contains("rep_word"))
    assert(out(4L)._2.split(",").contains("rep_line"))
    // reasons are sorted and deterministic
    for ((_, (_, rs)) <- out if rs.nonEmpty) {
      val parts = rs.split(",").toSeq
      assert(parts == parts.sorted, s"reasons not sorted: $rs")
    }
  }

  test("bpePairStats: vocab-weighted adjacent-pair counts, hand-computed") {
    // tokens: "ab" ×3 (two docs), "abc" ×1, "x" ×1 (no pairs)
    val docs = Seq((1L, "ab ab abc"), (2L, "ab x")).toDF("doc_id", "text")
    val out = Corpus.bpePairStats(docs, "text")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("a b" -> 4L, "b c" -> 1L)) // "a b": 3×"ab" + 1×"abc"
  }

  test("quotaSample: small keys pass, big keys thin deterministically") {
    val docs = (0 until 300).map { i =>
      val src = if (i < 250) "big" else "small"
      (i.toLong, src, s"document body number $i")
    }.toDF("doc_id", "source", "text")
    val kept = Corpus.quotaSample(docs, "source", "text", quota = 60L, salt = "t")
    val bySrc = kept.groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // small key (50 ≤ quota): untouched
    assert(bySrc("small") == 50L)
    // big key (250 > quota): E[kept] = 60, binomial sd ≈ 6.7 → ±5σ bounds
    assert(bySrc("big") > 25L && bySrc("big") < 95L,
      s"expected ~60 kept for 'big', got ${bySrc("big")}")
    // deterministic: identical run keeps the identical id set
    val a = kept.select("doc_id").collect().map(_.getLong(0)).toSet
    val b = Corpus.quotaSample(docs, "source", "text", quota = 60L, salt = "t")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a == b)
    // different salt → different (but same-sized-ish) sample
    val c = Corpus.quotaSample(docs, "source", "text", quota = 60L, salt = "u")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a != c)
  }

  test("quotaSample plan: no window, no sort — skew-immune by construction") {
    val docs = Seq((1L, "s", "t")).toDF("doc_id", "source", "text")
    val plan = Corpus.quotaSample(docs, "source", "text", quota = 10L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"no per-key ordering expected:\n$plan")
    assert(!plan.contains("Sort"), s"no sort expected:\n$plan")
  }

  test("clusterAwareSplit: a near-dup family never straddles splits") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota"), // near-dup of 1
      (3L, "completely unrelated content about something else entirely")
    ).toDF("doc_id", "text")
    val clusters = Seq((1L, 1L), (2L, 1L)).toDF("doc_id", "canonical")
    val out = Corpus.clusterAwareSplit(docs, "doc_id", "text", clusters)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // whole family takes the canonical's split — regardless of their own
    // (different) hashes
    assert(out(1L) == out(2L), s"family straddles splits: $out")
    val own = docs.select(col("doc_id"), Corpus.splitLabel(col("text")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == own(1L), "canonical keeps its own split")
    assert(out(3L) == own(3L), "unclustered doc keeps its own split")
  }

  test("gopherFilter is pure expressions: no shuffle in the plan") {
    val docs = Seq((1L, "some text")).toDF("doc_id", "text")
    val plan = Corpus.gopherFilter(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle:\n$plan")
  }

  test("importanceWeights: hand-computed integer-bits delta, OOV smoothing") {
    // corpus: d1 (target) "x x y", d2 "x z". Totals: N=5 (x:3, y:1, z:1);
    // target: TN=3 (x:2, y:1, z:0 → smoothed to 1).
    // bits(w) = len(bin(N)) - len(bin(cnt)); len(bin(5))=3, len(bin(3))=2.
    // corpus bits: x=3-2=1, y=3-1=2, z=3-1=2
    // target bits: x=2-2=0, y=2-1=1, z(smoothed 1)=2-1=1
    // Δ: x=1, y=1, z=1 ⇒ d1 = 2·1+1·1 = 3 (3 tokens); d2 = 1+1 = 2 (2 tokens)
    val docs = Seq((1L, "x x y", "en"), (2L, "x z", "de"))
      .toDF("doc_id", "text", "lang")
    val out = Corpus.importanceWeights(docs, "doc_id", "text",
      col("lang") === "en")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out(1L) == ((3L, 3L)))
    assert(out(2L) == ((2L, 2L)))
  }

  test("importanceWeights: target-heavy doc scores above out-of-target doc") {
    // integer bits discriminate when the corpus/target RATIOS differ in
    // binary magnitude: N=22 (5 bits) vs TN=6 (3 bits) ⇒ target-exclusive
    // words carry Δ=+2, the 12× "der" carries Δ=2+1-4=-1
    val docs = Seq(
      (1L, "alpha beta alpha beta", "en"),
      (2L, "alpha gamma", "en"),
      (3L, "der der der der der der der der", "de"),
      (4L, "der der der der hund hund hund hund", "de"))
      .toDF("doc_id", "text", "lang")
    val out = Corpus.importanceWeights(docs, "doc_id", "text",
      col("lang") === "en")
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    // mean_centidelta: in-target docs must outrank every out-of-target doc
    assert(Seq(1L, 2L).map(out).min > Seq(3L, 4L).map(out).max,
      s"importance ordering violated: $out")
  }

  test("quantileGate: inverted-CDF discrete threshold, ties kept together") {
    // scores 10,20,20,30,40 (n=5), q=0.4 → ceil(2.0)=2 → threshold = the
    // smallest score with cum count >= 2 = 20; kept: both 20s, 30, 40
    val docs = Seq((1L, 10L), (2L, 20L), (3L, 20L), (4L, 30L), (5L, 40L))
      .toDF("id", "score")
    val kept = Corpus.quantileGate(docs, col("score"), q = 0.4)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 3L, 4L, 5L))
    // q just above a tie boundary: ceil(5*0.41)=3 → cum(20)=3 ≥ 3 → same
    // threshold (ties never straddle the gate)
    val kept2 = Corpus.quantileGate(docs, col("score"), q = 0.41)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept2 == Set(2L, 3L, 4L, 5L))
    // q past the tie block: ceil(5*0.7)=4 → threshold 30
    val kept3 = Corpus.quantileGate(docs, col("score"), q = 0.7)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept3 == Set(4L, 5L))
  }

  test("chunkText: hand-computed windows, stride overlap, full token coverage") {
    // 10 tokens, chunk=5, overlap=2 (stride 3): starts 0,3,6 →
    // [w1..w5], [w4..w8], [w7..w10]
    val docs = Seq((1L, (1 to 10).map("w" + _).mkString(" ")),
      (2L, "a b"), (3L, "")).toDF("doc_id", "text")
    val out = Corpus.chunkText(docs, "doc_id", "text", 5, 2)
      .orderBy("doc_id", "chunk_idx")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      (1L, 0L, "w1 w2 w3 w4 w5", 5L),
      (1L, 1L, "w4 w5 w6 w7 w8", 5L),
      (1L, 2L, "w7 w8 w9 w10", 4L),
      (2L, 0L, "a b", 2L))) // short doc → single whole-doc chunk; empty dropped
    // every token appears in some chunk (coverage invariant)
    val covered = out.filter(_._1 == 1L).flatMap(_._3.split(" ")).toSet
    assert(covered == (1 to 10).map("w" + _).toSet)
  }

  test("bigramSurprisal: hand-computed conditional bits") {
    // d1 "a b a b c": pairs (a,b)×2 (b,a) (b,c); d2 "a b b": (a,b) (b,b)
    // bigrams: (a,b)=3 (b,a)=1 (b,c)=1 (b,b)=1; ctx: a=3, b=3
    // bits: (a,b)=len(bin 3)-len(bin 3)=0; (b,a)=(b,c)=(b,b)=2-1=1
    // d1: 0·2+1+1=2 bits / 4 pairs → mean 50; d2: 0+1=1 / 2 → 50
    val docs = Seq((1L, "a b a b c"), (2L, "a b b")).toDF("doc_id", "text")
    val out = Corpus.bigramSurprisal(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) == ((4L, 2L, 50L)))
    assert(out(2L) == ((2L, 1L, 50L)))
  }

  test("bigramSurprisal: single-token and empty docs drop out (no pairs)") {
    val docs = Seq((1L, "solo"), (2L, ""), (3L, "two words")).toDF("doc_id", "text")
    val ids = Corpus.bigramSurprisal(docs, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(3L))
  }

  test("trainBpeMerges: hand-computed merge sequence on a tiny corpus") {
    // vocab: low ×5, lower ×2, newest ×6, widest ×3 (word occurrences)
    val docs = Seq(
      "low low low low low", "lower lower",
      "newest newest newest newest newest newest",
      "widest widest widest"
    ).zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val merges = Corpus.trainBpeMerges(docs, "text", nMerges = 4)
    // round 1 pair counts: (e,s)=6+3=9, (s,t)=9 tie → lexicographic
    // (e,s) < (s,t) ⇒ first merge = (e,s) at 9
    assert(merges.head._1 == "e" && merges.head._2 == "s" && merges.head._3 == 9L)
    // round 2: (es,t) = 9 (newest 6 + widest 3), unique max
    assert(merges(1)._1 == "es" && merges(1)._2 == "t" && merges(1)._3 == 9L)
    // round 3: (l,o) = (o,w) = 7 tie → (l,o); round 4: (lo,w) = 7
    assert(merges(2) == (("l", "o", 7L)))
    assert(merges(3) == (("lo", "w", 7L)))
  }

  test("bpeMergePass fold ≡ native encoder, incl. the overlapping-run edge") {
    val words = Seq("aaaa", "banana", "low", "lowest", "ababab", "x", "")
      .toDF("w")
    val table = Seq(("a", "a"), ("a", "b"), ("ab", "ab"), ("l", "o"), ("lo", "w"))
    val sym0 = filter(split(col("w"), ""), s => length(s) > 0)
    val rows = words.select(
      Corpus.applyBpeMerges(sym0, table).as("fold"),
      graft.functions.NativeTextKit.bpeEncodeWord(col("w"), table).as("native"))
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1),
        s"fold=${r.getSeq[String](0)} native=${r.getSeq[String](1)}")
    }
    // the greedy-leftmost contract, by hand: aaaa + (a,a) → [aa,aa]
    val aaaa = words.filter(col("w") === "aaaa")
      .select(graft.functions.NativeTextKit.bpeEncodeWord(col("w"),
        Seq(("a", "a"))).as("t")).collect().head.getSeq[String](0)
    assert(aaaa == Seq("aa", "aa"))
  }

  test("trainBpeMerges is reproducible run-to-run (deterministic tie-breaks)") {
    val docs = Seq((1L, "ab ab ba baba abba"), (2L, "ba ab bb aa abab")).toDF("doc_id", "text")
    val a = Corpus.trainBpeMerges(docs, "text", nMerges = 3)
    val b = Corpus.trainBpeMerges(docs, "text", nMerges = 3)
    assert(a == b)
  }

  test("trainBpeMerges releases every round's localCheckpoint") {
    val docs = Seq((1L, "low low lower newest newest widest")).toDF("doc_id", "text")
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val merges = Corpus.trainBpeMerges(docs, "text", nMerges = 4)
    assert(merges.size == 4)
    val left = sc.getPersistentRDDs.keySet -- before
    assert(left.isEmpty, s"checkpointed rounds still held: $left")
  }
}
