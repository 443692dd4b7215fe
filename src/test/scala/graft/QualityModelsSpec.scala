package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.QualityModels

class QualityModelsSpec extends AnyFunSuite with SparkSpec {

  test("bigramSurprisal: add-k probabilities match hand computation") {
    import spark.implicits._
    // corpus: d1 = "a b a", d2 = "a b"; V = 2
    // bigram counts: (a,b)=2, (b,a)=1; context mass: a=2, b=1
    // P(b|a) = (2+1)/(2+2) = 3/4 ; P(a|b) = (1+1)/(1+2) = 2/3
    val docs = Seq((1L, "a b a"), (2L, "a b")).toDF("doc_id", "text")
    val out = QualityModels.bigramSurprisal(docs, "doc_id", "text", k = 1.0)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // d1: avg(-log2(3/4), -log2(2/3)) = (0.4150 + 0.5850)/2 = 0.5
    assert(out(1L) == (2L, 0.5))
    assert(out(2L) == (1L, 0.415))
  }

  test("bigramSurprisal: single-token docs carry no bigrams and are excluded") {
    import spark.implicits._
    val docs = Seq((1L, "only"), (2L, "two words")).toDF("doc_id", "text")
    val ids = QualityModels.bigramSurprisal(docs, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(2L))
  }

  test("dsirLogRatio: target-like docs score positive, others negative") {
    import spark.implicits._
    // target = en. all: a=2,b=2,c=1 (na=5, v=3); target: a=2,b=1 (nt=3)
    val docs = Seq(
      (1L, "en", "a a b"),
      (2L, "de", "b c")).toDF("doc_id", "lang", "text")
    val out = QualityModels.dsirLogRatio(docs, "doc_id", "text", col("lang") === "en")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out(1L) == (3L, 0.22))      // avg(log2(4/3), log2(4/3), log2(8/9))
    assert(out(2L) == (2L, -0.3774))   // avg(log2(8/9), log2(2/3))
    assert(out(1L)._2 > 0 && out(2L)._2 < 0)
  }

  test("dsirLogRatio: a tiny negative mean rounds to -0.0, not 0.0") {
    import spark.implicits._
    val docs = Seq(
      (1L, "en", "b b g d c a"),
      (2L, "en", "f e b f d g c a e"), // mean log2 ratio ≈ -0.0000365
      (3L, "de", "a e d")).toDF("doc_id", "lang", "text")
    val out = QualityModels.dsirLogRatio(docs, "doc_id", "text", col("lang") === "en")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    def bits(d: Double) = java.lang.Double.doubleToRawLongBits(d)
    assert(bits(out(2L)) == bits(-0.0), s"log_ratio ${out(2L)}")
    assert(out(1L) == 0.0461 && out(3L) == -0.2306)
  }

  test("vocabOovRate: rank-selected vocab, per-doc OOV fraction") {
    import spark.implicits._
    // counts: b=4, a=2, c=1 → top-1 vocab = {b}
    val docs = Seq((1L, "a a b"), (2L, "b b b c")).toDF("doc_id", "text")
    val out = QualityModels.vocabOovRate(docs, "doc_id", "text", vocabSize = 1)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out(1L) == (3L, 2L, 0.6667))
    assert(out(2L) == (4L, 1L, 0.25))
  }

  test("vocabOovRate: ties at the vocab boundary break deterministically by token") {
    import spark.implicits._
    // a and b tie at count 1: asc tie-break admits 'a', leaves 'b' OOV
    val docs = Seq((1L, "a b")).toDF("doc_id", "text")
    val out = QualityModels.vocabOovRate(docs, "doc_id", "text", vocabSize = 1)
      .head()
    assert(out.getLong(2) == 1L && out.getDouble(3) == 0.5)
  }

  test("temperatureMix: alpha=1 is the natural mix, alpha=0 is uniform") {
    import spark.implicits._
    val docs = Seq(
      ("s1", "t t t t t t"),   // 6 tokens = 75%
      ("s2", "t t")).toDF("source", "text") // 2 tokens = 25%
    val nat = QualityModels.temperatureMix(docs, "source", "text", alpha = 1.0)
      .collect().map(r => r.getString(0) -> r.getDouble(4)).toMap
    assert(nat("s1") == 1.0 && nat("s2") == 1.0)
    val uni = QualityModels.temperatureMix(docs, "source", "text", alpha = 0.0)
      .collect().map(r => r.getString(0) -> (r.getDouble(3), r.getDouble(4))).toMap
    assert(uni("s1") == (0.5, 0.6667)) // 0.5 target / 0.75 actual
    assert(uni("s2") == (0.5, 2.0))    // 0.5 target / 0.25 actual
  }

  test("sourceOverlap: exact n-gram Jaccard, zero-overlap pairs still emitted") {
    import spark.implicits._
    val docs = Seq(
      ("s1", "a b c d"),   // 3-grams {a b c, b c d}
      ("s2", "b c d e"),   // 3-grams {b c d, c d e}
      ("s3", "x y z w"))   // disjoint
      .toDF("source", "text")
    val out = QualityModels.sourceOverlap(docs, "source", "text", n = 3)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(out(("s1", "s2")) == (1L, 3L, 0.3333))
    assert(out(("s1", "s3")) == (0L, 4L, 0.0))
    assert(out(("s2", "s3")) == (0L, 4L, 0.0))
    assert(out.size == 3)
  }

  test("bpeMerges: learns top pairs, defers separator-sharing repeats, breaks ties by pair") {
    import spark.implicits._
    // round 1: (a,b)=3 wins. The rewrite merges doc 1's FIRST "a b" only
    // (the second shares its boundary separator with the match) →
    // [a␝b, a, b, c] / [a␝b]. round 2: all pairs tie at 1; "a" < "a␝b"
    // so (a,b) wins again by the pair tie-break.
    val docs = Seq((1L, "a b a b c"), (2L, "a b")).toDF("doc_id", "text")
    val out = graft.operators.QualityModels
      .bpeMerges(docs, "doc_id", "text", rounds = 2)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(out.toSeq == Seq((1, "a", "b", 3L), (2, "a", "b", 1L)))
  }

  test("bpeMerges: boundary empty tokens from leading whitespace survive the rewrite") {
    import spark.implicits._
    // " a b a b" tokenizes to ["", a, b, a, b]: after (a,b) is adopted
    // (first occurrence only — the second shares its separator), round 2
    // sees ["", a␝b, a, b], so the leading empty token still opens a
    // countable pair and ("", a␝b) wins the count-1 tie by w1 asc
    val docs = Seq((1L, " a b a b")).toDF("doc_id", "text")
    val out = graft.operators.QualityModels
      .bpeMerges(docs, "doc_id", "text", rounds = 2)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(out.toSeq == Seq((1, "a", "b", 2L), (2, "", "a␝b", 1L)))
  }

  test("bpeMerges: a pair-less corpus adopts nothing and never empties the input") {
    import spark.implicits._
    val docs = Seq((1L, "only"), (2L, "single")).toDF("doc_id", "text")
    val out = graft.operators.QualityModels
      .bpeMerges(docs, "doc_id", "text", rounds = 3)
    assert(out.count() == 0)
    assert(out.columns.toSeq == Seq("step", "w1", "w2", "n"))
  }

  test("bpeApply: empty merge table is identity tokenization") {
    import spark.implicits._
    val docs = Seq((1L, "a b c"), (2L, "x")).toDF("doc_id", "text")
    val out = graft.operators.QualityModels
      .bpeApply(docs, "doc_id", "text", Seq.empty)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out(1L) == ((3L, 0L)))
    assert(out(2L) == ((1L, 0L)))
  }

  test("bpeApply: folding the learned table reproduces each round's rewrite semantics") {
    import spark.implicits._
    // merges learned on this corpus: round 1 adopts (a,b) — doc 1's
    // SECOND "a b" shares its boundary separator and stays unmerged, the
    // documented training approximation; apply must reproduce exactly
    // that (not per-occurrence greed): doc 1 → [a␝b, a, b, c]
    val docs = Seq((1L, "a b a b c"), (2L, "a b")).toDF("doc_id", "text")
    val merges = graft.operators.QualityModels
      .bpeMerges(docs, "doc_id", "text", rounds = 1)
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    assert(merges == Seq(("a", "b")))
    val out = graft.operators.QualityModels
      .bpeApply(docs, "doc_id", "text", merges)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out(1L) == ((4L, 1L))) // [a␝b, a, b, c]
    assert(out(2L) == ((1L, 1L))) // [a␝b]
  }

  test("bpeApply: a realistically sized merge table plans in linear time") {
    import spark.implicits._
    // 300 merges that never occur: output is identity, but the PLAN must
    // stay linear in |merges| — the old per-merge wrap+substr fold
    // doubled the expression tree per step and hung the analyzer long
    // before this size
    val docs = Seq((1L, "a b c")).toDF("doc_id", "text")
    val merges = (0 until 300).map(i => (s"zz$i", s"yy$i"))
    val t0 = System.nanoTime()
    val out = graft.operators.QualityModels
      .bpeApply(docs, "doc_id", "text", merges).collect()
    assert((System.nanoTime() - t0) / 1e9 < 60.0, "planning blew up")
    assert(out.head.getLong(1) == 3L && out.head.getLong(2) == 0L)
  }

  test("sourceOverlapSketch: at sparse cardinalities the HLL estimates are exact") {
    import spark.implicits._
    val docs = Seq(
      ("s1", "a b c d"),   // 3-grams {a b c, b c d}
      ("s2", "b c d e"))   // 3-grams {b c d, c d e}
      .toDF("source", "text")
    val r = graft.operators.QualityModels
      .sourceOverlapSketch(docs, "source", "text", n = 3).head()
    assert((r.getLong(2), r.getLong(3), r.getLong(4)) == (2L, 2L, 3L))
    assert(r.getDouble(5) == 0.3333) // (2+2-3)/3
  }

  test("knBigramEntropy: absolute-discount probabilities match hand computation") {
    import spark.implicits._
    // corpus: d1 = "a b a", d2 = "a b"
    // bigram counts: (a,b)=2, (b,a)=1; ctx: a → cp=2,n1p=1; b → cp=1,n1p=1
    // cont: b → n1w=1, a → n1w=1; bigram types nbb=2
    // P(b|a) = (2-.75)/2 + .75*1/2*(1/2) = 0.625 + 0.1875 = 0.8125
    // P(a|b) = (1-.75)/1 + .75*1/1*(1/2) = 0.25 + 0.375 = 0.625
    val docs = Seq((1L, "a b a"), (2L, "a b")).toDF("doc_id", "text")
    val out = QualityModels.knBigramEntropy(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    // d1: avg(-log2(.8125), -log2(.625)) = (0.29956 + 0.67807)/2 = 0.4888
    assert(out(1L) == ((2L, 0.4888)))
    // d2: -log2(.8125) = 0.2996
    assert(out(2L) == ((1L, 0.2996)))
  }

  test("knBigramEntropy: observed bigrams never get zero probability") {
    import spark.implicits._
    // every token that closes a bigram has continuation count >= 1 by
    // construction — entropies must all be finite
    val docs = Seq((1L, "x y z"), (2L, "z q"), (3L, "lone")).toDF("doc_id", "text")
    val out = QualityModels.knBigramEntropy(docs, "doc_id", "text").collect()
    assert(out.map(_.getLong(0)).toSet == Set(1L, 2L)) // no-bigram doc excluded
    assert(out.forall(r => !r.getDouble(2).isNaN && !r.getDouble(2).isInfinite))
  }

  test("knBigramEntropy: tercile buckets split head/middle/tail deterministically") {
    import spark.implicits._
    // three docs with strictly ordered entropies land one per bucket
    val docs = Seq(
      (1L, "a b a b a b a b"), // highly predictable → head
      (2L, "a b c a b c"),
      (3L, "p q r s t u")).toDF("doc_id", "text")
    val out = QualityModels.knBigramEntropy(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getDouble(2), r.getString(3)))).toMap
    assert(out(1L)._1 < out(2L)._1 && out(2L)._1 < out(3L)._1)
    assert(out(1L)._2 == "head" && out(2L)._2 == "middle" && out(3L)._2 == "tail")
  }

  test("ppmiTopPairs: words sharing contexts rank above words that never do") {
    import spark.implicits._
    // "cat" and "dog" occur in identical contexts ("the _ runs"); "rock"
    // shares none of them
    val docs = Seq(
      (1L, "the cat runs fast"),
      (2L, "the dog runs fast"),
      (3L, "a rock sits still")).toDF("doc_id", "text")
    val out = QualityModels.ppmiTopPairs(docs, "text", window = 2, topK = 50)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(3)).toMap
    assert(out.contains(("cat", "dog")))
    assert(out(("cat", "dog")) > 0.5)
    assert(!out.contains(("cat", "rock")) || out(("cat", "rock")) < out(("cat", "dog")))
  }

  test("ppmiTopPairs: ranking is by rounded cosine with lexical tie-break and honors topK") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e a b c d e"),
      (2L, "b c d e a")).toDF("doc_id", "text")
    val rows = QualityModels.ppmiTopPairs(docs, "text", window = 2, topK = 3).collect()
    assert(rows.length == 3)
    val sims = rows.map(_.getDouble(3))
    assert(sims.sameElements(sims.sortBy(-(_: Double))))
  }

  test("ppmiTopPairs: the hot-context cap drops pairs that share only the hot dimension") {
    import spark.implicits._
    // every xN co-occurs with the stopword-ish "the" (the hot context);
    // cat/dog additionally share "runs". With the cap at 3 the "the"
    // dimension (>3 positive partners) leaves the vectors, so pairs
    // whose ONLY shared context is "the" disappear while (cat, dog)
    // survives on "runs".
    val docs = Seq(
      (1L, "the cat runs"), (2L, "the dog runs"),
      (3L, "the x1 sits"), (4L, "the x2 waits"),
      (5L, "the x3 stands"), (6L, "the x4 jumps")).toDF("doc_id", "text")
    val capped = QualityModels
      .ppmiTopPairs(docs, "text", window = 2, topK = 100, maxContextDf = 3)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val uncapped = QualityModels
      .ppmiTopPairs(docs, "text", window = 2, topK = 100, maxContextDf = Int.MaxValue)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(capped.contains(("cat", "dog")))
    assert(uncapped.contains(("x1", "x2"))) // only-shared-"the" pair exists uncapped
    assert(!capped.contains(("x1", "x2")), capped)
    assert(capped.subsetOf(uncapped))
  }

  test("budgetWaterfill: the cap is the defining maximum and small sources go uncapped") {
    import spark.implicits._
    // masses 2/6/12 (total 20); budget = floor(0.6*20) = 12.
    // t=4: 2+4+4=10 <= 12; t=5: 2+5+5=12 <= 12; t=6: 2+6+6=14 > 12 → t*=5
    val docs = Seq(
      ("s1", "a b"),
      ("s2", "a b c d e f"),
      ("s3", (1 to 12).map("w" + _).mkString(" "))).toDF("source", "text")
    val out = QualityModels.budgetWaterfill(docs, "source", "text", 0.6)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3), r.getLong(4)))).toMap
    assert(out("s1") == ((2L, 2L, false, 5L)))
    assert(out("s2") == ((6L, 5L, true, 5L)))
    assert(out("s3") == ((12L, 5L, true, 5L)))
  }

  test("budgetWaterfill: t* satisfies sum(min) <= B < sum(min at t*+1) on the real corpus") {
    val docs = Tables.documents(spark, sf("sf0.01"))
    val out = QualityModels.budgetWaterfill(docs, "source", "text", 0.6).collect()
    val tokens = out.map(_.getLong(1))
    val thr = out.head.getLong(4)
    val budget = math.floor(0.6 * tokens.sum).toLong
    assert(tokens.map(t => math.min(t, thr)).sum <= budget)
    // t*+1 must overflow the budget unless every source is uncapped
    if (out.exists(_.getBoolean(3)))
      assert(tokens.map(t => math.min(t, thr + 1)).sum > budget)
    // allocation equals the least-of columns
    out.foreach(r => assert(r.getLong(2) == math.min(r.getLong(1), thr)))
  }

  test("budgetWaterfill: a budget above total mass caps nobody") {
    import spark.implicits._
    val docs = Seq(("s1", "a b"), ("s2", "a b c")).toDF("source", "text")
    val out = QualityModels.budgetWaterfill(docs, "source", "text", 2.0)
      .collect()
    assert(out.forall(!_.getBoolean(3)))
    assert(out.map(_.getLong(2)).sum == 5L)
  }

  test("sourceOverlap: duplicate grams within one source count once") {
    import spark.implicits._
    val docs = Seq(
      ("s1", "a b a b"),   // 2-grams: {a b, b a} (a b appears twice)
      ("s2", "a b")).toDF("source", "text")
    val r = QualityModels.sourceOverlap(docs, "source", "text", n = 2).head()
    assert((r.getLong(2), r.getLong(3)) == (1L, 2L))
  }

  test("logregQualityScores: a label separable on length is learned and filtered on") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // long docs labeled positive, short negative — 3 GD rounds must move
    // the length weight positive and rank every long doc above every short
    val docs = (0 until 20).map { i =>
      val long = i % 2 == 0
      val text = if (long) ("tok " * 50).trim else "tok"
      (i.toLong, text, if (long) "en" else "xx", text.length)
    }.toDF("doc_id", "text", "lang", "n_chars")
    val scored = QualityModels.logregQualityScores(
      docs, "doc_id", col("lang") === "en", "n_chars", "text", rounds = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2))).toSeq
    val (pos, neg) = scored.partition(_._1 % 2 == 0)
    assert(pos.map(_._2).min > neg.map(_._2).max, "positives outrank negatives")
    assert(scored.forall { case (_, s, keep) => keep == (s >= 0.5) })
    val w = QualityModels.logregQualityWeights(
      docs, "doc_id", col("lang") === "en", "n_chars", "text", rounds = 3).head()
    assert(w.getDouble(1) > 0.0 && w.getDouble(2) > 0.0,
      "length features get positive weight")
  }

  test("logregQualityScores: an empty input returns an empty frame, not an NPE from the null gradient") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val empty = Seq.empty[(Long, String, String, Int)]
      .toDF("doc_id", "text", "lang", "n_chars")
    assert(QualityModels.logregQualityScores(
      empty, "doc_id", col("lang") === "en", "n_chars", "text",
      rounds = 3).count() == 0L)
  }

  test("logregQualityScores: zero rounds scores everything at the 0.5 prior") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val docs = Seq((1L, "a b", "en", 3), (2L, "c", "xx", 1))
      .toDF("doc_id", "text", "lang", "n_chars")
    val r = QualityModels.logregQualityScores(
      docs, "doc_id", col("lang") === "en", "n_chars", "text", rounds = 0)
      .collect()
    assert(r.forall(_.getDouble(1) == 0.5) && r.forall(_.getBoolean(2)))
  }
}
