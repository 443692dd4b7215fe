package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.CorpusPipeline

class CorpusPipelineSpec extends AnyFunSuite with SparkSpec {

  test("curate: quality -> exact dedup -> near dedup, with audit counts") {
    import spark.implicits._
    val base = (1 to 30).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, base),                     // keeper
      (2L, base),                     // exact dup of 1 → dropped at exact
      (3L, base + " extra"),          // near dup of 1 → dropped at LSH
      (4L, "too short"),              // dropped at quality
      (5L, (100 to 140).map(i => s"w$i").mkString(" "))) // distinct survivor
      .toDF("doc_id", "text")

    val (out, report) = CorpusPipeline.curate(docs, "doc_id", "text",
      minTokens = 10, nearDupThreshold = 0.5)

    assert(report.input == 5)
    assert(report.afterQuality == 4)
    assert(report.afterExact == 3)
    assert(report.afterNearDup == 2)
    val survivors = out.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(survivors == Set(1L, 5L))
    // annotations present
    assert(out.columns.contains("fingerprint") && out.columns.contains("n_tokens"))
    assert(out.filter(col("doc_id") === 1L).head().getAs[Int]("n_tokens") == 30)
  }

  test("curateDocs equals curate's survivors row for row (report skipped, not semantics)") {
    import spark.implicits._
    val base = (1 to 30).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, base), (2L, base), (3L, base + " extra"),
      (4L, "too short"),
      (5L, (100 to 140).map(i => s"w$i").mkString(" ")),
      (6L, (200 to 260).map(i => s"v$i").mkString(" ")))
      .toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "text", "fingerprint", "n_tokens")
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getString(2), r.getInt(3))).toSet
    val (full, _) = CorpusPipeline.curate(docs, "doc_id", "text",
      minTokens = 10, nearDupThreshold = 0.5)
    val lean = CorpusPipeline.curateDocs(docs, "doc_id", "text",
      minTokens = 10, nearDupThreshold = 0.5)
    assert(rows(lean) == rows(full))
    assert(lean.columns.toSeq == full.columns.toSeq)
    full.unpersist()
  }

  test("crossFrameLshPairs: only cross-frame pairs, orientation restored") {
    import spark.implicits._
    val base = (1 to 30).map(i => s"tok$i").mkString(" ")
    // 10 and 11 are EXACT duplicates of each other — a within-left pair
    // that must never be emitted; both are near-dups of right's doc 1
    val left = Seq((10L, base), (11L, base),
      (12L, (100 to 140).map(i => s"w$i").mkString(" "))).toDF("doc_id", "text")
    val right = Seq((1L, base + " extra")).toDF("doc_id", "text")
    val pairs = graft.operators.Dedup
      .crossFrameLshPairs(left, right, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.map(p => (p._1, p._2)).toSet == Set((10L, 1L), (11L, 1L)),
      s"got ${pairs.toSeq}")
    assert(pairs.forall(_._3 > 0.9))
  }

  test("decontaminateFuzzy: near-dup-of-bench train docs flagged, short docs excluded") {
    import spark.implicits._
    val base = (1 to 30).map(i => s"tok$i").mkString(" ")
    val train = Seq(
      (10L, base),                                        // near-dup of bench 1
      (12L, (100 to 140).map(i => s"w$i").mkString(" ")), // clean
      (13L, "a b c"))                                     // too short to shingle
      .toDF("doc_id", "text")
    val bench = Seq((1L, base + " extra")).toDF("doc_id", "text")
    val rep = CorpusPipeline.decontaminateFuzzy(train, bench, "doc_id", "text")
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getBoolean(3)))
      .toMap
    assert(rep.keySet == Set(10L, 12L))
    assert(rep(10L)._1 == 1L && rep(10L)._3 && rep(10L)._2 > 0.9)
    assert(rep(12L) == ((0L, 0.0, false)))
  }

  test("winnowing emits a fingerprint even for docs with fewer shingles than the window") {
    import spark.implicits._
    // 6 tokens, n=4 → 3 shingles < window 5: partial-window min selected
    val docs = Seq(
      (1L, "a b c d e f"),
      (2L, (1 to 30).map(i => s"t$i").mkString(" "))).toDF("doc_id", "text")
    val fps = graft.operators.Dedup
      .winnowingFingerprints(docs, "doc_id", "text", n = 4, window = 5)
    val byDoc = fps.groupBy("doc_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byDoc(1L) == 1L, s"short doc must keep one fingerprint: $byDoc")
    assert(byDoc(2L) >= 1L)
  }

  test("duplicateClusters: transitive chains collapse to the lowest id") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L), (10L, 9L), (10L, 11L))
      .toDF("id_a", "id_b")
    val clusters = graft.operators.Dedup.duplicateClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L,          // chain 1-2-3: 1 and 3 never paired directly
      7L -> 7L, 8L -> 7L,
      9L -> 9L, 10L -> 9L, 11L -> 9L))
  }

  test("winnowing guarantee: a planted shared run always shares a fingerprint") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    def words(n: Int, tag: String) = (1 to n).map(_ => s"$tag${rnd.nextInt(5000)}")
    // 20 pairs: doc A = noise + planted run + noise; doc B = other noise
    // + the SAME run + other noise. Run length = window + n - 1 = 8
    // tokens, the guarantee's minimum.
    val rows = (0 until 20).flatMap { i =>
      val run = words(8, s"run${i}_")
      val a = (words(15, s"an${i}_") ++ run ++ words(15, s"az${i}_")).mkString(" ")
      val b = (words(25, s"bn${i}_") ++ run ++ words(5, s"bz${i}_")).mkString(" ")
      Seq((i * 2L, a), (i * 2L + 1, b))
    }
    val fps = graft.operators.Dedup
      .winnowingFingerprints(rows.toDF("doc_id", "text"), "doc_id", "text",
        n = 4, window = 5)
    val shared = fps.select(col("doc_id").as("a"), col("fp"))
      .join(fps.select(col("doc_id").as("b"), col("fp")), "fp")
      .filter(col("a") < col("b"))
      .select("a", "b").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    (0 until 20).foreach { i =>
      assert(shared.contains((i * 2L, i * 2L + 1)),
        s"pair $i with a planted ${8}-token run shares no fingerprint")
    }
  }

  test("exactSubstringSpans: planted verbatim runs recovered with exact positions") {
    import spark.implicits._
    def words(tag: String, n: Int) = (0 until n).map(i => s"$tag$i")
    val run1 = words("shared", 20)  // 20-token verbatim overlap
    val run2 = words("quote", 14)   // second, disjoint 14-token overlap
    val short = words("tiny", 9)    // 9 tokens < minSpan 12 → filtered out
    val a = (words("a", 20) ++ run1 ++ words("b", 5) ++ run2 ++
      words("c", 7) ++ short).mkString(" ")
    val b = (words("d", 10) ++ run1 ++ words("e", 30) ++ run2 ++
      short ++ words("f", 3)).mkString(" ")
    val docs = Seq((1L, a), (2L, b), (3L, words("z", 60).mkString(" ")))
      .toDF("doc_id", "text")
    val spans = graft.operators.Dedup
      .exactSubstringSpans(docs, "doc_id", "text", k = 8, minSpanTokens = 12)
      .collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Int]("start_a"), r.getAs[Int]("start_b"),
        r.getAs[Long]("span_tokens"))).toSet
    // run1: doc 1 tokens [20,40) vs doc 2 tokens [10,30); run2 follows
    // 5 (resp. 30) filler tokens later; the 9-token run is sub-minSpan
    assert(spans == Set(
      (1L, 2L, 20, 10, 20L),
      (1L, 2L, 45, 60, 14L)), spans)
  }

  test("stripSharedSpans: the later doc loses exactly the shared spans, keep-first intact") {
    import spark.implicits._
    def words(tag: String, n: Int) = (0 until n).map(i => s"$tag$i")
    val run1 = words("shared", 20)
    val run2 = words("quote", 14)
    val aToks = words("a", 20) ++ run1 ++ words("b", 5) ++ run2
    val bToks = words("d", 10) ++ run1 ++ words("e", 30) ++ run2 ++ words("f", 3)
    val docs = Seq((1L, aToks.mkString(" ")), (2L, bToks.mkString(" ")),
      (3L, words("z", 40).mkString(" "))).toDF("doc_id", "text")
    val out = graft.operators.Dedup
      .stripSharedSpans(docs, "doc_id", "text", k = 8, minSpanTokens = 12)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("clean_text"), r.getAs[Long]("n_removed"))).toMap
    // keep-first: doc 1 untouched, doc 3 untouched
    assert(out(1L) == (aToks.mkString(" "), 0L))
    assert(out(3L) == (words("z", 40).mkString(" "), 0L))
    // doc 2 loses both runs (34 tokens), everything else survives in order
    val expectedB = words("d", 10) ++ words("e", 30) ++ words("f", 3)
    assert(out(2L) == (expectedB.mkString(" "), 34L), out(2L))
  }

  test("stratified sampling: deterministic per-language fractions, no shuffle") {
    val docs = Tables.documents(spark, sf("sf0.01"))
    val fractions = Map("en" -> 0.5, "de" -> 1.0, "zh" -> 0.1)
    val s1 = CorpusPipeline.stratifiedSample(docs, "lang", fractions, seed = 42)
    val s2 = CorpusPipeline.stratifiedSample(docs, "lang", fractions, seed = 42)
    // deterministic under a fixed seed
    assert(s1.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq ==
      s2.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq)
    val byLang = s1.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val totals = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byLang("de") == totals("de"))            // fraction 1.0 keeps all
    assert(!byLang.contains("fr"))                  // unlisted stratum dropped
    val enRatio = byLang("en").toDouble / totals("en")
    assert(enRatio > 0.3 && enRatio < 0.7, s"en ratio $enRatio")
    // narrow: sampling adds no exchange
    val plan = s1.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("duplicateClusters: driver union-find and distributed loop agree") {
    import spark.implicits._
    // chain 1-2-3, star 10-{11,12}, plus an isolated pair
    val pairs = Seq((2L, 1L), (3L, 2L), (10L, 11L), (12L, 10L), (20L, 21L))
      .toDF("id_a", "id_b")
    def labels(driverMax: Long) =
      graft.operators.Dedup.duplicateClusters(pairs, driverMaxEdges = driverMax)
        .orderBy("id").as[(Long, Long)].collect().toSeq
    val fast = labels(Long.MaxValue) // small-graph path
    val dist = labels(0L)            // forced distributed loop
    assert(fast == dist, s"fast=$fast dist=$dist")
    assert(fast == Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L),
      (11L, 10L), (12L, 10L), (20L, 20L), (21L, 20L)))
  }

  test("packBins: bins respect the budget boundary and stratum isolation") {
    import spark.implicits._
    // 3 docs of 5 tokens in one stratum, budget 8 → cum 5,10,15 → bins 0,1,1
    val docs = Seq(
      (1L, "s1", "a b c d e"), (2L, "s1", "a b c d e"), (3L, "s1", "a b c d e"),
      (4L, "s2", "a b c d e"))
      .toDF("doc_id", "source", "text")
    val got = CorpusPipeline.packBins(docs, "source", "doc_id", "text", 8)
      .select("doc_id", "bin").orderBy("doc_id")
      .as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 0L), (2L, 1L), (3L, 1L), (4L, 0L)))
  }

  test("packSequences: docs span fixed-length sequence boundaries") {
    import spark.implicits._
    // token stream in doc_id order: 5 + 4 + 3 + 6 tokens, seqLen 8 →
    // doc 1 [0,5) seq 0; doc 2 [5,9) spans seqs 0-1; doc 3 [9,12) seq 1;
    // doc 4 [12,18) spans seqs 1-2
    val docs = Seq(
      (1L, "a b c d e"), (2L, "f g h i"), (3L, "j k l"), (4L, "m n o p q r"))
      .toDF("doc_id", "text")
    val got = CorpusPipeline.packSequences(docs, "doc_id", "text", seqLen = 8)
      .select("doc_id", "first_seq", "last_seq", "n_seqs", "seq_offset")
      .orderBy("doc_id")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1L, 0L, 0L, 1L, 0L), (2L, 0L, 1L, 2L, 5L),
      (3L, 1L, 1L, 1L, 1L), (4L, 1L, 2L, 2L, 4L)))
    // the global prefix sum must be exact across MANY range partitions,
    // not just within one: 200 one-token docs → doc i starts at token i-1
    val wide = (1 to 200).map(i => (i.toLong, "t")).toDF("doc_id", "text")
      .repartition(16)
    val offs = CorpusPipeline.packSequences(wide, "doc_id", "text", seqLen = 7)
      .select("doc_id", "first_seq", "seq_offset").orderBy("doc_id")
      .as[(Long, Long, Long)].collect()
    assert(offs.forall { case (id, fs, off) =>
      fs == (id - 1) / 7 && off == (id - 1) % 7 })
    assertThrows[IllegalArgumentException] {
      CorpusPipeline.packSequences(docs, "doc_id", "text", seqLen = 0)
    }
    // replace-semantics: input already carrying n_tokens (curate output)
    // must not produce a duplicate column
    val pre = docs.withColumn("n_tokens", lit(-1L))
    val cols = CorpusPipeline.packSequences(pre, "doc_id", "text", 8).columns
    assert(cols.count(_ == "n_tokens") == 1, cols.toSeq)
  }

  test("materializeMix: deterministic copies, unlisted strata dropped") {
    import spark.implicits._
    val docs = (1L to 40L).map(i =>
      (i, if (i <= 20) "wiki" else if (i <= 30) "web" else "junk", s"doc $i"))
      .toDF("doc_id", "source", "text")
    val out = CorpusPipeline.materializeMix(docs, "doc_id", "source",
      Map("wiki" -> 2.5, "web" -> 0.5)).cache()
    val bySrc = out.groupBy("source").count()
      .as[(String, Long)].collect().toMap
    // wiki: 20 docs × (2 + ~half get a 3rd copy) → strictly between 40 and 60;
    // web: ~half of 10 docs; junk: unlisted → absent
    assert(bySrc("wiki") > 40 && bySrc("wiki") < 60, bySrc)
    assert(bySrc.getOrElse("web", 0L) > 0 && bySrc("web") < 10, bySrc)
    assert(!bySrc.contains("junk"))
    // every wiki doc has copies 0 and 1; the extra copy is always copy 2
    val wikiCopies = out.filter(col("source") === "wiki")
      .groupBy("doc_id").agg(collect_set("copy").as("c"))
      .as[(Long, Seq[Long])].collect()
    assert(wikiCopies.length == 20)
    assert(wikiCopies.forall { case (_, c) =>
      c.sorted == (0L until c.length).toSeq && c.length >= 2 })
    // order_key is a pure function of (id, copy): same expansion twice
    // yields the identical training order
    val again = CorpusPipeline.materializeMix(docs, "doc_id", "source",
      Map("wiki" -> 2.5, "web" -> 0.5))
    assert(out.select("doc_id", "copy", "order_key").except(
      again.select("doc_id", "copy", "order_key")).isEmpty)
    out.unpersist()
    assertThrows[IllegalArgumentException] {
      CorpusPipeline.materializeMix(docs, "doc_id", "source", Map.empty)
    }
    assertThrows[IllegalArgumentException] {
      CorpusPipeline.materializeMix(docs, "doc_id", "source", Map("wiki" -> -1.0))
    }
  }

  test("decontaminate: only docs sharing an n-gram with the bench set flag") {
    import spark.implicits._
    val bench = Seq((100L, "w1 w2 w3 w4 w5 w6 w7 w8 tail")).toDF("doc_id", "text")
    val train = Seq(
      (1L, "w1 w2 w3 w4 w5 w6 w7 w8 other words here"), // shares the 8-gram
      (2L, "x1 x2 x3 x4 x5 x6 x7 x8 clean"),            // disjoint
      (3L, "too short"))                                 // < 8 tokens → absent
      .toDF("doc_id", "text")
    val got = CorpusPipeline.decontaminate(train, bench, "doc_id", "text", n = 8)
      .orderBy("doc_id").as[(Long, Long, Boolean)].collect().toSeq
    assert(got.map(r => (r._1, r._3)) == Seq((1L, true), (2L, false)))
    assert(got.head._2 >= 1)
  }

  test("decontaminateBloom is byte-identical to the exact path on the real corpus") {
    // the bloom is a prefilter, not an approximation: false positives die
    // in the confirm join, so any fpp (even an aggressive one) must leave
    // the output exactly equal to decontaminate's
    val docs = Tables.documents(spark, sf("sf0.01"))
    val train = docs.filter(col("doc_id") % 40 =!= 0)
    val bench = docs.filter(col("doc_id") % 40 === 0)
    val exact = CorpusPipeline
      .decontaminate(train, bench, "doc_id", "text", n = 6)
    val bloom = CorpusPipeline
      .decontaminateBloom(train, bench, "doc_id", "text", n = 6,
        expectedGrams = 50000L, fpp = 0.2) // coarse sketch on purpose
    assert(bloom.exceptAll(exact).isEmpty && exact.exceptAll(bloom).isEmpty)
    assert(exact.filter(col("contaminated")).count() > 0) // non-degenerate
  }

  test("shardManifest is invariant under physical row order and partitioning") {
    val docs = Tables.documents(spark, sf("sf0.01"))
    val base = CorpusPipeline.shardManifest(docs, "doc_id", "text", 8)
      .orderBy("shard").collect().toSeq
    // same corpus, scrambled physical layout → byte-identical manifest
    val scrambled = CorpusPipeline.shardManifest(
      docs.repartition(13, col("lang")).sortWithinPartitions(col("source")),
      "doc_id", "text", 8).orderBy("shard").collect().toSeq
    assert(base == scrambled)
    assert(base.map(_.getLong(1)).sum == docs.count()) // every doc in exactly one shard
    assert(base.size > 1) // hash sharding actually spreads
  }

  test("writeSharded round-trips: canonical intra-shard order, manifest recomputable") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf("sf0.001"))
    val dir = java.nio.file.Files.createTempDirectory("shard_export").toString
    CorpusPipeline.writeSharded(docs, "doc_id", "text", 4, dir)
    val back = spark.read.parquet(dir)
    assert(back.count() == docs.count())
    // per shard, file order IS the canonical (fp, id) order
    val shard0 = spark.read.parquet(s"$dir/shard=0")
      .select(md5(col("text")).as("fp"), col("doc_id")).as[(String, Long)]
      .collect().toSeq
    assert(shard0 == shard0.sorted && shard0.nonEmpty)
    // the manifest recomputed from the exported files equals the source's
    val m1 = CorpusPipeline.shardManifest(docs, "doc_id", "text", 4)
      .orderBy("shard").collect().toSeq
    val m2 = CorpusPipeline.shardManifest(back.drop("shard"), "doc_id", "text", 4)
      .orderBy("shard").collect().toSeq
    assert(m1 == m2)
  }

  test("chunkKeepFirst keeps the (lowest id, lowest idx) copy of a repeated chunk") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c x y z"),   // chunks (3 tokens): "a b c", "x y z"
      (2L, "a b c q r s"))   // "a b c" repeats → not kept here
      .toDF("doc_id", "text")
    val got = graft.operators.Dedup.chunkKeepFirst(docs, "doc_id", "text", 3)
      .select("doc_id", "chunk_idx", "chunk", "kept")
      .orderBy("doc_id", "chunk_idx")
      .as[(Long, Int, String, Boolean)].collect().toSeq
    assert(got == Seq(
      (1L, 0, "a b c", true), (1L, 1, "x y z", true),
      (2L, 0, "a b c", false), (2L, 1, "q r s", true)))
  }

  test("curate on the real corpus drops exactly the planted near-duplicates") {
    val docs = Tables.documents(spark, sf("sf0.01"))
    val (_, report) = CorpusPipeline.curate(docs, "doc_id", "text")
    // sf0.01 plants NEAR-duplicates (25 high-jaccard pairs) but no
    // byte-exact ones: exact dedup is a no-op, LSH dedup drops the
    // pairwise losers
    assert(report.afterExact == report.afterQuality)
    val losers = graft.operators.Dedup
      .minHashLshPairs(docs, "doc_id", "text")
      .select("id_b").distinct().count()
    assert(losers > 0)
    assert(report.afterNearDup == report.afterExact - losers)
  }

  test("shardNovelty: repeated content stops counting as new after its first shard") {
    import spark.implicits._
    val a = "w1 w2 w3 w4 w5"        // grams G_a (2 distinct 4-grams)
    val b = "x1 x2 x3 x4"           // gram G_b (1 distinct 4-gram)
    // ids 0-3 → shard 0, 4-7 → shard 1 (numShards=2, max id 7)
    val docs = Seq(
      (0L, a), (1L, a), (2L, b), (3L, "short doc"),
      (4L, a),                      // all grams seen in shard 0 → 0 new
      (5L, "y1 y2 y3 y4 y5 y6"),    // 3 new grams
      (6L, b), (7L, "tiny")).toDF("doc_id", "text")
    val out = CorpusPipeline.shardNovelty(docs, "doc_id", "text",
      numShards = 2, n = 4)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(out(0L) == ((4L, 3L, 3L, 1.0)))   // everything is new in shard 0
    assert(out(1L) == ((4L, 6L, 3L, 0.5)))   // a+b grams repeat, y grams new
  }

  test("shardNovelty: gram-less shards report zeros instead of vanishing") {
    import spark.implicits._
    // ids 0-1 → shard 0 (2 distinct 4-grams), ids 2-3 → shard 1 (none)
    val docs = Seq(
      (0L, "a b c d e"),
      (1L, "no"), (2L, "grams"), (3L, "here")).toDF("doc_id", "text")
    val out = CorpusPipeline.shardNovelty(docs, "doc_id", "text",
      numShards = 2, n = 4)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(out(1L) == ((2L, 0L, 0L, 0.0)))
    assert(out(0L) == ((2L, 2L, 2L, 1.0)))
  }

  test("shardNoveltySketch: exact columns equal the exact path, all within bound") {
    import spark.implicits._
    val docs = Seq(
      (0L, "w1 w2 w3 w4 w5"), (1L, "x1 x2 x3 x4"),
      (2L, "w1 w2 w3 w4"),    // repeats shard-0 grams
      (3L, "y1 y2 y3 y4 y5")).toDF("doc_id", "text")
    val sk = CorpusPipeline.shardNoveltySketch(docs, "doc_id", "text",
      numShards = 2, n = 4).collect()
    val exact = CorpusPipeline.shardNovelty(docs, "doc_id", "text",
      numShards = 2, n = 4).collect()
    assert(sk.length == exact.length)
    sk.zip(exact).foreach { case (s, e) =>
      assert(s.getLong(0) == e.getLong(0))
      assert(s.getLong(1) == e.getLong(2)) // n_grams
      assert(s.getLong(2) == e.getLong(3)) // n_new
      assert(s.getDouble(3) == e.getDouble(4))
      // sparse cardinalities: HLL is exact → bound holds trivially
      assert(s.getBoolean(4))
    }
  }

  test("shardNoveltySketch: a gram-less INTERIOR shard does not break the running prefix") {
    import spark.implicits._
    // ids 0-2 → shard 0 (grams), 3-5 → shard 1 (no grams), 6-8 → shard 2
    // (repeats shard 0's grams + one new). A shard+1 lag join would zero
    // shard 2's est_prev across the gap and report its whole prefix as
    // new; the ordered-lag fix must carry shard 0's prefix through.
    val docs = Seq(
      (0L, "a b c d e"), (1L, "f g h i"), (2L, "z z z z"),
      (3L, "no"), (4L, "grams"), (5L, "here"),
      (6L, "a b c d e"), (7L, "n1 n2 n3 n4"), (8L, "x")).toDF("doc_id", "text")
    val out = CorpusPipeline.shardNoveltySketch(docs, "doc_id", "text",
      numShards = 3, n = 4).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4)))).toMap
    assert(out(1L) == ((0L, 0L, 0.0, true)))
    // shard 2: 3 distinct grams (2 from doc 6 repeat shard 0, 1 new);
    // exact novelty 1/3 — the estimate must stay in bound, which fails
    // if est_prev collapsed to 0 (est_new would be ~5 of 3 grams)
    assert(out(2L)._1 == 3L && out(2L)._2 == 1L)
    assert(out(2L)._4, s"interior-gap prefix broken: ${out(2L)}")
  }

  test("shardNoveltySketch: real-corpus estimates stay within the documented bound") {
    val out = CorpusPipeline.shardNoveltySketch(
      Tables.documents(spark, sf("sf0.01")), "doc_id", "text",
      numShards = 10, n = 4).collect()
    assert(out.length == 10)
    assert(out.forall(_.getBoolean(4)),
      out.map(r => s"${r.getLong(0)}:${r.getBoolean(4)}").mkString(","))
  }

  test("curationLedger: stages and references match the hand-built corpus") {
    import spark.implicits._
    val base = (1 to 30).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, base),                     // kept
      (2L, base),                     // exact dup of 1
      (3L, base + " extra"),          // near dup of 1
      (4L, "too short"),              // quality drop
      (5L, (100 to 140).map(i => s"w$i").mkString(" "))) // kept
      .toDF("doc_id", "text")
    val out = CorpusPipeline.curationLedger(docs, "doc_id", "text",
      minTokens = 10, nearDupThreshold = 0.5)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(out == Map(
      1L -> (("kept", 1L)),
      2L -> (("exact", 1L)),
      3L -> (("near_dup", 1L)),
      4L -> (("quality", -1L)),
      5L -> (("kept", 5L))))
  }

  test("curationLedger: stage counts reconcile exactly with curate's Report") {
    val docs = Tables.documents(spark, sf("sf0.01"))
    val (_, report) = CorpusPipeline.curate(docs, "doc_id", "text")
    val counts = CorpusPipeline.curationLedger(docs, "doc_id", "text")
      .groupBy("stage").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
      .withDefaultValue(0L)
    assert(counts.values.sum == report.input)
    assert(report.input - counts("quality") == report.afterQuality)
    assert(report.afterQuality - counts("exact") == report.afterExact)
    assert(report.afterExact - counts("near_dup") == report.afterNearDup)
    assert(counts("kept") == report.afterNearDup)
  }

  test("curateIncremental: equals the full recompute restricted to the batch (sf0.01)") {
    val docs = Tables.documents(spark, sf("sf0.01"))
    val mx = docs.agg(max("doc_id")).head().getLong(0)
    val cut = (mx + 1) / 2
    val old = docs.filter(col("doc_id") < cut)
    val batch = docs.filter(col("doc_id") >= cut)
    val (fps, idx) = CorpusPipeline.curateStateBuild(old, "doc_id", "text")
    val (surv, newFps, newIdx) = CorpusPipeline.curateIncremental(
      fps, idx, batch, "doc_id", "text")
    val incIds = surv.select("doc_id").collect().map(_.getLong(0)).toSet
    val (full, _) = CorpusPipeline.curate(docs, "doc_id", "text")
    val fullIds = full.select("doc_id").collect().map(_.getLong(0)).toSet
    full.unpersist()
    assert(incIds == fullIds.filter(_ >= cut))
    // grown state covers every quality+exact survivor of the union
    val exAll = graft.operators.Dedup.dropExactDuplicates(
      CorpusPipeline.qualityFilter(docs, "text"), "doc_id", "text")
    assert(newFps.count() == exAll.select("text").distinct().count())
    assert(newIdx.count() == exAll.count())
  }

  test("curateIncremental: stored fingerprints drop re-ingested content; quality-failed old text doesn't block") {
    import spark.implicits._
    val a = (1 to 30).map(i => s"a$i").mkString(" ")
    val b = (1 to 30).map(i => s"b$i").mkString(" ")
    val old = Seq((1L, a), (2L, "tiny")).toDF("doc_id", "text")
    val (fps, idx) = CorpusPipeline.curateStateBuild(old, "doc_id", "text")
    val batch = Seq(
      (10L, a),        // exact re-ingest of kept old content → drop
      (11L, "tiny " + b), // contains old quality-failed text, passes now → keep
      (12L, b + " x")) // fresh → keep (not near-dup of 11 at 0.5? shares most grams — drop either way, consistency below)
      .toDF("doc_id", "text")
    val (surv, _, _) = CorpusPipeline.curateIncremental(
      fps, idx, batch, "doc_id", "text")
    val ids = surv.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!ids.contains(10L))
    assert(ids.contains(11L))
    // whatever near-dup fate 12 has, it must match the full recompute
    val (full, _) = CorpusPipeline.curate(
      old.unionByName(batch), "doc_id", "text")
    val fullIds = full.select("doc_id").collect().map(_.getLong(0)).toSet
    full.unpersist()
    assert(ids == fullIds.filter(_ >= 10L))
  }

  test("curateIncremental: an out-of-order batch fails loudly instead of silently keeping dups") {
    import spark.implicits._
    val a = (1 to 30).map(i => s"a$i").mkString(" ")
    val b = (1 to 30).map(i => s"b$i").mkString(" ")
    val old = Seq((100L, a)).toDF("doc_id", "text")
    val (fps, idx) = CorpusPipeline.curateStateBuild(old, "doc_id", "text")
    // batch id 5 < stored max 100: violates the append-order
    // precondition the equivalence proof rests on
    val ex = intercept[Exception] {
      CorpusPipeline.curateIncremental(
        fps, idx, Seq((5L, b)).toDF("doc_id", "text"), "doc_id", "text")
        ._1.collect()
    }
    assert(ex.getMessage != null)
  }

  test("leakProofSplits: cluster members inherit one split and cross pairs are zero") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma delta x"), // near-dup of 1 (same cluster)
      (3L, "totally different words here"),
      (4L, "another unrelated document")).toDF("doc_id", "text")
    // hand the operator an explicit pair graph: 1-2 are duplicates
    val pairs = Seq((1L, 2L)).toDF("id_a", "id_b")
    val out = CorpusPipeline.leakProofSplits(docs, "doc_id", "text", pairs)
    val rows = out.collect()
    // every row reports the same zero cross-pair count
    assert(rows.forall(_.getLong(3) == 0L))
    // total docs conserved, roots <= docs (2 docs share one root)
    assert(rows.map(_.getLong(1)).sum == 4L)
    assert(rows.map(_.getLong(2)).sum == 3L)
  }

  test("leakProofSplits: a stale pair graph referencing absent ids fails loudly") {
    import spark.implicits._
    val docs = Seq(
      (2L, "alpha beta gamma delta x"),
      (3L, "totally different words here")).toDF("doc_id", "text")
    // pair references id 1, which is NOT in docs: its cluster root (1)
    // has no content hash — the old inner join silently dropped doc 2
    // from both splits; now the plan raises instead
    val stale = Seq((1L, 2L)).toDF("id_a", "id_b")
    val e = intercept[Exception] {
      CorpusPipeline.leakProofSplits(docs, "doc_id", "text", stale).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("stale pair graph")), e.getMessage)
  }

  test("shardNovelty: a negative id clamps to shard 0 instead of a negative shard") {
    import spark.implicits._
    val docs = Seq(
      (-5L, "w1 w2 w3 w4 w5"),
      (1L, "x1 x2 x3 x4 x5"),
      (9L, "y1 y2 y3 y4 y5")).toDF("doc_id", "text")
    val shards = CorpusPipeline.shardNovelty(docs, "doc_id", "text",
      numShards = 10, n = 4).collect().map(_.getLong(0))
    assert(shards.forall(_ >= 0L), shards.toSeq)
    assert(shards.contains(0L))
  }

  test("leakProofSplits: on the real corpus no verified near-dup pair straddles the split") {
    val docs = Tables.documents(spark, sf("sf0.01"))
    val pairs = graft.operators.Dedup
      .minHashLshPairs(docs, "doc_id", "text", threshold = 0.5)
      .select("id_a", "id_b")
    val out = CorpusPipeline.leakProofSplits(docs, "doc_id", "text", pairs)
      .collect()
    assert(out.map(_.getString(0)).toSet == Set("train", "test"))
    assert(out.forall(_.getLong(3) == 0L))
    // sanity: the content-hash split WITHOUT cluster roots does leak on
    // this corpus (q179's finding) — the cluster-root device is what
    // fixes it, not an accident of the data
    assert(pairs.count() > 0)
  }

  private def causeMessages(t: Throwable): Seq[String] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(e => Option(e.getMessage).getOrElse("")).toSeq

  test("packSequences: a duplicate pack key fails loudly, not silently corrupts") {
    import spark.implicits._
    val dup = Seq((1L, "a b c"), (1L, "d e"), (2L, "f")).toDF("doc_id", "text")
    val ex = intercept[Throwable] {
      CorpusPipeline.packSequences(dup, "doc_id", "text", seqLen = 8).collect()
    }
    assert(causeMessages(ex).exists(_.contains("must be unique")),
      s"wanted the uniqueness assert, got: ${causeMessages(ex)}")
  }

  test("decontaminateFuzzy: a hot bucket fails loudly by default, drops only on request") {
    import spark.implicits._
    val base = (1 to 30).map(i => s"tok$i").mkString(" ")
    // three exact-dup train docs share every band signature → every
    // bucket holds 3 train (+1 bench) members, over a cap of 2
    val train = Seq((10L, base), (11L, base), (12L, base)).toDF("doc_id", "text")
    val bench = Seq((1L, base + " extra")).toDF("doc_id", "text")
    val ex = intercept[Throwable] {
      CorpusPipeline.decontaminateFuzzy(train, bench, "doc_id", "text",
        maxBucketSize = 2).collect()
    }
    assert(causeMessages(ex).exists(_.contains("exceeds maxBucketSize")),
      s"wanted the hot-bucket error, got: ${causeMessages(ex)}")
    // explicit opt-in to silent drops (throughput over leak guarantees):
    // every bucket is hot here, so nothing is flagged — but the job runs
    val rep = CorpusPipeline.decontaminateFuzzy(train, bench, "doc_id", "text",
      maxBucketSize = 2, failOnHotBucket = false).collect()
    assert(rep.length == 3 && rep.forall(!_.getBoolean(3)))
  }

  test("compactLedger: latest batch wins per doc, replays fold away") {
    import spark.implicits._
    val led = Seq(
      (1L, "kept", 1L, 0L), (1L, "exact", 0L, 1L), (1L, "quality", -1L, 2L),
      (2L, "kept", 2L, 0L),
      (3L, "near_dup", 1L, 5L), (3L, "near_dup", 1L, 5L)) // replayed row
      .toDF("doc_id", "stage", "ref_id", "batch")
    val got = CorpusPipeline.compactLedger(led, "doc_id")
      .orderBy("doc_id")
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(got == Seq((1L, "quality", -1L, 2L), (2L, "kept", 2L, 0L),
      (3L, "near_dup", 1L, 5L)))
  }

  test("tokenShardStream: duplicate input ids fail loudly, not silently scramble the stream") {
    import spark.implicits._
    val dup = Seq((1L, "s", "a b"), (1L, "s", "c d"), (2L, "s", "e"))
      .toDF("doc_id", "source", "text")
    val ex = intercept[Throwable] {
      CorpusPipeline.tokenShardStream(dup, "doc_id", "source", "text",
        Map("s" -> 1.0), numShards = 2, seqLen = 8).collect()
    }
    assert(causeMessages(ex).exists(_.contains("must be unique")),
      s"wanted the uniqueness assert, got: ${causeMessages(ex)}")
  }

  test("writeTokenShards: on-disk stream is shard-partitioned in training order; manifest certifies it") {
    val docs = Tables.documents(spark, sf("sf0.001"))
    val epochs = Map("src0" -> 2.5, "src1" -> 1.0, "src2" -> 0.5)
    val out = java.nio.file.Files.createTempDirectory("graft-shards").toString
    val manifest = CorpusPipeline.writeTokenShards(docs, "doc_id", "source",
      "text", epochs, numShards = 4, seqLen = 256, outDir = out)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toMap
    // manifest ≡ an independent recompute of the stream it certifies
    val stream = CorpusPipeline.tokenShardStream(docs, "doc_id", "source",
      "text", epochs, numShards = 4, seqLen = 256)
      .select("shard", "order_key", "n_tokens").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val byShard = stream.groupBy(_._1)
    assert(manifest.keySet == byShard.keySet)
    byShard.foreach { case (shard, rows) =>
      val (nDocs, nToks, nSeqs, fp) = manifest(shard)
      assert(nDocs == rows.length && nToks == rows.map(_._3).sum)
      assert(nSeqs == (nToks + 255) / 256)
      val expectFp = java.security.MessageDigest.getInstance("MD5")
        .digest(rows.map(_._2).sorted.mkString("").getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      assert(fp == expectFp, s"shard $shard fingerprint")
    }
    // each shard directory's file holds its rows already in training
    // order (a trainer reads top to bottom, no sort)
    val shardDirs = new java.io.File(s"$out/stream").listFiles()
      .filter(_.getName.startsWith("shard=")).toSeq
    assert(shardDirs.size == byShard.size)
    shardDirs.foreach { dir =>
      val keys = spark.read.parquet(dir.toString)
        .select("order_key").collect().map(_.getString(0)).toSeq
      assert(keys == keys.sorted, s"${dir.getName} not in training order")
    }
    // the span columns agree with a local replay of per-shard packing
    val spans = spark.read.parquet(s"$out/stream")
      .select(col("shard").cast("long").as("shard"), col("order_key"),
        col("n_tokens"), col("first_seq"), col("seq_offset"))
      .collect().map(r =>
        (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    byShard.foreach { case (shard, rows) =>
      var pos = 0L
      rows.sortBy(_._2).foreach { case (_, key, nt) =>
        val (gotNt, gotFirst, gotOff) = spans((shard, key))
        assert(gotNt == nt && gotFirst == pos / 256 && gotOff == pos % 256,
          s"span mismatch at ($shard, $key)")
        pos += nt
      }
    }
  }

  test("tokenShardManifest: the bounded position-weighted fingerprint matches a local fold and is order-sensitive") {
    val M = 2147483647L
    val P = BigInt(2305843009213693951L)
    def h32(key: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(key.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(8), 16) % M
    }
    def fold(keysInOrder: Seq[String]): BigInt =
      keysInOrder.zipWithIndex
        .map { case (k, i) => BigInt(h32(k)) * ((i + 1) % M) }.sum % P
    val docs = Tables.documents(spark, sf("sf0.001"))
    val epochs = Map("src0" -> 1.0, "src1" -> 1.0, "src2" -> 2.0)
    val stream = CorpusPipeline.tokenShardStream(docs, "doc_id", "source",
      "text", epochs, numShards = 2, seqLen = 64)
    val manifest = CorpusPipeline.tokenShardManifest(stream, seqLen = 64)
      .select("shard", "shard_fp_pos").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val byShard = stream.select("shard", "order_key").collect()
      .map(r => (r.getLong(0), r.getString(1))).groupBy(_._1)
    assert(manifest.keySet == byShard.keySet && manifest.nonEmpty)
    byShard.foreach { case (shard, rows) =>
      val inOrder = rows.map(_._2).sorted // training order IS key order
      val expect = fold(inOrder)
      assert(BigInt(manifest(shard)) == expect, s"shard $shard fp_pos")
      // order sensitivity: swapping the first two keys changes the fold
      // (the md5 concat fp would catch it too, but THIS one never
      // buffers the shard's keys)
      if (inOrder.length >= 2)
        assert(fold(inOrder.updated(0, inOrder(1)).updated(1, inOrder(0)))
          != expect, s"swap must change fp_pos (shard $shard)")
    }
    // boundedOnly really omits the buffering md5 fp (the whole point —
    // a manifest job over over-executor shards must not compute it
    // "too") and keeps fp_pos identical
    val bounded = CorpusPipeline.tokenShardManifest(stream, seqLen = 64,
      boundedOnly = true)
    assert(!bounded.columns.contains("shard_fp"), bounded.columns.toSeq)
    assert(bounded.select("shard", "shard_fp_pos").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap == manifest)
  }

  test("shardNovelty: novelty decays on the real corpus and shard 0 is all-new") {
    val out = CorpusPipeline.shardNovelty(
      Tables.documents(spark, sf("sf0.01")), "doc_id", "text",
      numShards = 10, n = 4).collect()
    assert(out.length == 10)
    assert(out.head.getDouble(4) == 1.0) // first shard: every gram is new
    // later shards can only repeat more: mean of the second half of the
    // curve is below the first half (planted near-dups repeat grams)
    val rates = out.map(_.getDouble(4))
    assert(rates.drop(5).sum <= rates.slice(1, 6).sum + 1e-9)
  }
}
