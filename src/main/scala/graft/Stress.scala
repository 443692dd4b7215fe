package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{CorpusPipeline, Dedup, TemporalJoin}

/** Scale-stress harness: synthesize an N× corpus/stream from an sf dir
  * and time the heavy operator pipelines on it.
  *
  * Replication preserves the data's structural invariants instead of
  * naively duplicating rows (which manufactures artificial quadratic
  * blowups — every replica of a doc would be an exact duplicate of its
  * siblings, exploding every LSH bucket):
  *  - documents: every token is salted with the replica id, so
  *    within-replica near-duplicate structure is preserved exactly while
  *    cross-replica Jaccard is 0 — duplicate mass scales ×N, corpus
  *    scales ×N, exactly like ingesting N independent shards;
  *  - events: ids and user ids are offset per replica, so per-user event
  *    densities and (user, ts) uniqueness are preserved.
  *
  * Usage: runMain graft.Stress [sfDir] [multiplier]
  * Prints one JSON line per operator: {"op":..,"sec":..,"rows":..}.
  */
object Stress {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val mult = args.lift(1).map(_.toInt).getOrElse(10)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.local("graft-stress", cpus.toInt)

    val replicas = spark.range(mult).select(col("id").cast("int").as("r"))

    val docs = Tables.documents(spark, sfDir)
      .crossJoin(replicas)
      .select(
        (col("doc_id") + col("r").cast("long") * 10000000L).as("doc_id"),
        array_join(transform(split(col("text"), " "),
          t => concat(t, lit("~"), col("r"))), " ").as("text"))
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      .persist()
    val events = Tables.events(spark, sfDir)
      .crossJoin(replicas)
      .select(
        (col("event_id") + col("r").cast("long") * 1000000000L).as("event_id"),
        col("ts"),
        (col("user_id") + col("r").cast("long") * 10000L).as("user_id"),
        col("event_type"), col("value"))

    // SPARK_GRAFT_STRESS_ONLY=minhash,kmeans (prefix match) narrows a run
    // for high-multiplier sweeps where the deliberately-quadratic ops
    // (embed_neardup's anchor dial) would dominate the wall-clock.
    val only = sys.env.get("SPARK_GRAFT_STRESS_ONLY").map(_.split(",").toSeq)
    // an op is enabled when no filter is set or a filter entry prefixes
    // it — used BOTH by time() and to skip the untimed setup (index
    // builds, pair graphs) a filtered-out op would otherwise still pay
    // for, which matters at mult=1000 where an unneeded LSH pair graph
    // costs more than the measured op
    def enabled(op: String): Boolean = only.forall(_.exists(op.startsWith))
    // block-gate variant: "would any op under this name run?" — matches
    // in BOTH directions so a filter naming a specific row (e.g.
    // ann_recall_eval_qb64) still enables the block whose ops it
    // prefixes-or-extends
    def blockEnabled(ops: Seq[String]): Boolean =
      only.forall(_.exists(f => ops.exists(op =>
        op.startsWith(f) || f.startsWith(op))))
    // Per-op INPUT BYTES alongside wall-clock: this box's disk
    // throughput swings 3-5x same-day (r13-r15 logs), so wall ratios on
    // I/O-bound rows are weather — bytes read are the deterministic
    // scale metric (flat bytes across repeats = the op's read mass
    // really is bounded, whatever the disk felt like).
    // Stress fixtures are per-run throwaways (every run rebuilds its
    // stores), but a 1000x store is ~12 GB and the session janitor's
    // 6h staleness cutoff does not cover same-day back-to-back sweeps —
    // five consecutive trio runs filled the disk to a TASK_WRITE_FAILED
    // (round 15). Track every fixture dir and delete it before exit.
    val fixtureDirs = scala.collection.mutable.ListBuffer.empty[java.nio.file.Path]
    def fixtureDir(prefix: String): java.nio.file.Path = {
      val p = java.nio.file.Files.createTempDirectory(prefix)
      fixtureDirs += p
      p
    }
    val bytesRead = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (e.taskMetrics != null)
            bytesRead.addAndGet(e.taskMetrics.inputMetrics.bytesRead)
      })
    def time(op: String)(body: => Long): Unit =
      if (enabled(op)) {
        // settle cross-op residue before timing (the Bench reclaim
        // rationale): dropped checkpoint blocks of the PREVIOUS op
        // linger until GC, and their collection lands inside the next
        // timed body otherwise — measured as a 2-doc, zero-byte trickle
        // "costing" 13 s at 1000×
        System.gc()
        org.apache.spark.sql.GraftBridge.waitForListenerBus(spark)
        val b0 = bytesRead.get()
        val t0 = System.nanoTime()
        val rows = body
        val sec = (System.nanoTime() - t0) / 1e9
        org.apache.spark.sql.GraftBridge.waitForListenerBus(spark)
        val mb = (bytesRead.get() - b0) / 1e6
        println(f"""{"op":"$op","sec":$sec%.2f,"rows":$rows,"read_mb":$mb%.0f}""")
      }

    // materialize ONLY the inputs the enabled ops consume: at mult=1000
    // the events frame is 100M rows (several GB of block-manager state),
    // and persisting it for an LSH-only run evicts exactly the page
    // cache the timed index reads depend on — a harness artifact that
    // measured as a 3x run-to-run swing on the stored-append rows, not
    // a property of the operator. events feed only the temporal joins.
    val eventsNeeded = blockEnabled(Seq("asof_join", "interval_join"))
    if (eventsNeeded) events.persist()
    // "events":-1 = not materialized in this filtered run
    println(s"""{"op":"inputs","docs":${docs.count()},"events":${
      if (eventsNeeded) events.count() else -1L}}""")

    // Warm codegen/JIT on a small slice first so the timings measure
    // scaling, not first-execution compilation (see Bench).
    val docsWarm = docs.limit(2000).persist()
    docsWarm.count()
    Dedup.minHashLshPairs(docsWarm, "doc_id", "text").count()
    Dedup.winnowingFingerprints(docsWarm, "doc_id", "text").count()
    docsWarm.unpersist()

    time("minhash_lsh_pairs") {
      Dedup.minHashLshPairs(docs, "doc_id", "text").count()
    }
    time("dup_clusters") {
      Dedup.duplicateClusters(
        Dedup.minHashLshPairs(docs, "doc_id", "text").select("id_a", "id_b")).count()
    }
    time("curate") {
      val (out, report) = CorpusPipeline.curate(docs, "doc_id", "text")
      val n = report.afterNearDup
      out.unpersist()
      n
    }
    // Incremental maintenance: the last replica plays the "newly ingested
    // shard" against a prebuilt signature/shingle index over the rest.
    // The claim under test: append cost tracks the BATCH (constant as
    // the multiplier grows), while the full-recompute rows above track
    // the whole corpus — the difference is the entire point of keeping
    // the index.
    if (blockEnabled(Seq("incremental_lsh_append", "lsh_stored_append"))) locally {
      val cut = (mult - 1).toLong * 10000000L
      val old = docs.filter(col("doc_id") < cut)
      // The arriving batch is MATERIALIZED outside the timed bodies
      // (both rows): extracting 5k docs from the 5M-row cached corpus
      // is a full block-manager scan (~5 GB at 1000× — the bytes
      // metric exposed it as the dominant "read" of both rows), and in
      // a real ingest loop the batch arrives as its own small frame.
      // Billing the corpus scan to the append was a harness artifact,
      // the shard-size twin of the round-14 trickle-billing fix.
      val fresh = docs.filter(col("doc_id") >= cut).localCheckpoint(true)
      fresh.count()
      if (enabled("incremental_lsh_append")) {
        val index = Dedup.indexDocs(old, "doc_id", "text").localCheckpoint(true)
        index.count() // index build = the amortized one-off, not timed
        time("incremental_lsh_append") {
          Dedup.incrementalLshPairs(index, fresh, "doc_id", "text").count()
        }
        Dedup.freeLocalCheckpoint(index)
      }
      // the DURABLE twin: same batch against an on-disk (mult-1)x store.
      // Since round 13 the append reads the store's __bands twin
      // bucket-pruned instead of re-banding every stored signature, so
      // this row must stay flat in the multiplier (the 37.7s r12 tail
      // was the re-banding scan growing with the index)
      if (blockEnabled(Seq("lsh_stored_append", "lsh_stored_trickle"))) {
        val db = "graft_stress_lsh"
        val loc = fixtureDir("graft-stress-lsh")
        spark.sql(s"CREATE DATABASE IF NOT EXISTS $db LOCATION '$loc'")
        spark.sql(s"DROP TABLE IF EXISTS $db.idx")
        // deployment sizing (DEPLOY.md runbook): bucket count well above
        // a trickle's touched-key count AND fine enough that a shard
        // append's candidate ids (≈ the batch's near-dup partners, a
        // few hundred at this duplicate density) leave most id-buckets
        // untouched — the candidate (id, hs) verification read prunes
        // at FILE level, so its byte mass is (touched/numBuckets) × the
        // store's set mass. 64 buckets made every shard append read ONE
        // full hs copy (~4.2 GB at 1000×); 256 cuts the touched
        // fraction to ~1-e^(-cands/256).
        Dedup.lshBuildIndex(old, "doc_id", "text", s"$db.idx",
          numBuckets = 256) // untimed one-off
        // the SERVING-style path first: a 2-doc trickle touches ≤8 of
        // the twin's band-key buckets and its collision candidates live
        // in a handful of the store's id-buckets, so BOTH index reads
        // on the append path prune at FILE level — this row is the one
        // that must stay flat AND steady in the multiplier. The
        // shard-sized row below spans every bucket-key domain, so its
        // twin read degrades to one (id, band, sig) column scan — but
        // the round-15 adaptive verification keeps hs out of that scan
        // (single-copy candidate-pruned main read instead), and read_mb
        // pins the whole row's byte mass run over run.
        if (enabled("lsh_stored_trickle")) {
          // the arriving docs are a LOCAL relation (2 rows shipped from
          // the driver), as they would be in a serving loop — filtering
          // them out of the 5M-row cached corpus inside the timed body
          // would bill a corpus scan to a 2-doc append
          val proj = fresh.select(col("doc_id"), col("text"))
          val arriving = proj.filter(col("doc_id") < cut + 2).collect()
          val trickle = spark.createDataFrame(
            java.util.Arrays.asList(arriving: _*), proj.schema)
          time("lsh_stored_trickle") {
            Dedup.lshIndexAppend(spark, s"$db.idx", trickle,
              "doc_id", "text").count()
          }
        }
        if (enabled("lsh_stored_append"))
          time("lsh_stored_append") {
            Dedup.lshIndexAppend(spark, s"$db.idx", fresh, "doc_id", "text").count()
          }
      }
      Dedup.freeLocalCheckpoint(fresh)
    }

    // Whole-pipeline append: same claim as incremental_lsh_append, one
    // level up — curating the SAME batch against a stored state must
    // cost batch + collision mass, not corpus
    if (enabled("curate_incremental")) locally {
      val cut = (mult - 1).toLong * 10000000L
      val (fps, idx) = CorpusPipeline.curateStateBuild(
        docs.filter(col("doc_id") < cut), "doc_id", "text")
      val fpsM = fps.localCheckpoint(true)
      val idxM = idx.localCheckpoint(true)
      fpsM.count(); idxM.count() // state build = the amortized one-off
      time("curate_incremental") {
        val (surv, _, _) = CorpusPipeline.curateIncremental(
          fpsM, idxM, docs.filter(col("doc_id") >= cut), "doc_id", "text")
        surv.count()
      }
      Dedup.freeLocalCheckpoint(fpsM)
      Dedup.freeLocalCheckpoint(idxM)
    }

    time("winnow_containment") {
      val fps = Dedup.winnowingFingerprints(docs, "doc_id", "text")
      fps.select(col("doc_id").as("a"), col("fp"))
        .join(fps.select(col("doc_id").as("b"), col("fp")), "fp")
        .filter(col("a") < col("b"))
        .groupBy("a", "b").agg(count(lit(1)).as("n"))
        .filter(col("n") >= 3).count()
    }

    time("exact_substring_spans") {
      // token salting zeroes cross-replica gram matches, so matched-gram
      // mass (= this op's cost driver) scales ×N like the corpus does
      Dedup.exactSubstringSpans(docs, "doc_id", "text").count()
    }

    time("decontaminate") {
      // bench set = every 50th doc; the gram set stays small relative to
      // the corpus, which is what the broadcast path depends on
      CorpusPipeline.decontaminate(
        docs.filter(col("doc_id") % 50 =!= 0),
        docs.filter(col("doc_id") % 50 === 0), "doc_id", "text").count()
    }
    time("decontaminate_bloom") {
      // same semantics through the sketch prefilter: cost must track the
      // (tiny) collision mass after the map-side probe, not the gram count
      CorpusPipeline.decontaminateBloom(
        docs.filter(col("doc_id") % 50 =!= 0),
        docs.filter(col("doc_id") % 50 === 0), "doc_id", "text").count()
    }
    time("decontaminate_fuzzy") {
      // near-match decontamination: bench set = every 50th doc; cost
      // must track train + cross-frame collision mass (salting keeps
      // cross-replica collisions zero, so hit mass scales ×N)
      CorpusPipeline.decontaminateFuzzy(
        docs.filter(col("doc_id") % 50 =!= 0),
        docs.filter(col("doc_id") % 50 === 0), "doc_id", "text")
        .filter(col("contaminated")).count()
    }
    time("shard_manifest") {
      // one narrow pass + one shard-keyed exchange; per-shard digest
      // arrays grow with |corpus|/shards — the documented design bound
      CorpusPipeline.shardManifest(docs, "doc_id", "text", 64).count()
    }
    time("chunk_dedup") {
      Dedup.chunkKeepFirst(docs, "doc_id", "text").filter(col("kept")).count()
    }
    time("bigram_surprisal") {
      // token salting makes each replica's vocab disjoint: the bigram
      // model scales ×N in rows while per-key counts stay constant —
      // the fit shuffle and the scoring join must both track corpus size
      graft.operators.QualityModels
        .bigramSurprisal(docs, "doc_id", "text").count()
    }
    time("kn_bigram_lm") {
      // same fit/score shape as bigram_surprisal plus the continuation
      // side-frames — all vocab-sized broadcasts, so the added cost must
      // stay flat relative to the corpus-tracking base
      graft.operators.QualityModels
        .knBigramEntropy(docs, "doc_id", "text").count()
    }
    time("hashed_doc_vectors") {
      // one token scan + one (id, bucket) aggregate; vector width is a
      // constant (dims), so rows and shuffle mass both scale ×N
      Dedup.hashedDocVectors(docs, "doc_id", "text").count()
    }
    time("hashed_tfidf_topk") {
      // IDF is a vocab-sized broadcast and the query side is ONE doc's
      // buckets — the pair-bounded sparse dot must track corpus size,
      // never corpus × vocab
      Dedup.hashedTfidfTopK(docs, "doc_id", "text", queryId = 1L, k = 10).count()
    }
    if (enabled("bpe_apply")) locally {
      // merges learned once on a fixed-size slice (driver model state,
      // like kmeans centroids) — the APPLY scan is the corpus-tracking
      // stage under test: a narrow per-doc fold over merge literals
      val merges = graft.operators.QualityModels
        .bpeMerges(docs.limit(2000), "doc_id", "text", rounds = 3)
        .orderBy("step").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      time("bpe_apply") {
        graft.operators.QualityModels
          .bpeApply(docs, "doc_id", "text", merges).count()
      }
    }
    time("bm25_topk") {
      // query side is ONE doc's terms at every scale; candidate mass is
      // that query's postings — the df/length index aggregates are the
      // corpus-tracking stages
      Dedup.bm25TopK(docs, "doc_id", "text", queryId = 1L, k = 10).count()
    }
    time("logreg_fit_score") {
      // 3 full-batch GD rounds (one narrow agg job each, weights on the
      // driver) + the map-only scoring pass — pure scan work, must track
      // corpus size with no join anywhere
      graft.operators.QualityModels.logregQualityScores(
        docs.withColumn("lang", lit("en")).withColumn("n_chars",
          org.apache.spark.sql.functions.length(col("text"))),
        "doc_id", col("doc_id") % 2 === 0, "n_chars", "text").count()
    }
    time("ppmi_pairs") {
      // disjoint replica vocabularies: the co-occurrence matrix grows
      // ×N in rows while the context self-join's matched mass grows ×N
      // too (cross-replica contexts never collide) — the checkpointed
      // matrix is what bounds the replay cost
      graft.operators.QualityModels.ppmiTopPairs(docs, "text").count()
    }
    time("shard_novelty") {
      // distinct + min-agg on the md5 gram key, both on the same
      // exchange; gram mass scales ×N
      CorpusPipeline.shardNovelty(docs, "doc_id", "text", 16).count()
    }
    time("shard_novelty_sketch") {
      // the KB-state path: per-shard sketches are built in one pass and
      // the prefix unions are shards²-of-KB work — cost must track the
      // gram scan, never the union stage
      CorpusPipeline.shardNoveltySketch(docs, "doc_id", "text", 16).count()
    }
    if (enabled("cluster_splits")) locally {
      // pair graph built once outside the timer: the split assignment
      // itself is pair-bounded + two hash joins — it must track pairs,
      // not corpus. minHashLshPairs returns an eagerly checkpointed
      // frame already; keep the handle so ITS blocks are the ones freed
      // (re-checkpointing a copy would leave the inner blocks alive for
      // the rest of the run)
      val base = Dedup.minHashLshPairs(docs, "doc_id", "text")
      time("cluster_splits") {
        CorpusPipeline.leakProofSplits(docs, "doc_id", "text",
          base.select("id_a", "id_b")).count()
      }
      Dedup.freeLocalCheckpoint(base)
    }
    time("source_overlap") {
      // cross-replica grams never collide (salting), so the gram
      // self-join's matched mass scales ×N like the corpus, not ×N²
      graft.operators.QualityModels.sourceOverlap(
        docs.withColumn("src", col("doc_id") % 20), "src", "text").count()
    }
    time("vocab_coverage") {
      // token salting makes replica vocabularies disjoint, so the vocab
      // frame itself grows ×N — this deliberately stresses the
      // documented caveat (the rank window is single-partition but runs
      // over the AGGREGATED vocab, whose growth is the worst case here,
      // far worse than Heaps'-law reality)
      val freq = docs
        .select(explode(split(lower(col("text")), " ")).as("tok"))
        .filter(col("tok") =!= "")
        .groupBy("tok").agg(count(lit(1)).as("cnt"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("cnt").desc, col("tok"))
      freq
        .withColumn("cum", sum("cnt").over(w.rowsBetween(Long.MinValue, 0)))
        .withColumn("total", sum("cnt").over(w.rowsBetween(Long.MinValue, Long.MaxValue)))
        .filter(col("cum").cast("double") >= lit(0.95) * col("total"))
        .agg(count(lit(1))).count()
    }
    time("boilerplate_grams") {
      // within-source 8-gram document frequency: shuffle keys are
      // (source, md5) fixed width; salting keeps cross-replica gram
      // collisions at zero so boilerplate mass scales ×N
      CorpusPipeline.boilerplateGrams(
        docs.withColumn("src", col("doc_id") % 20),
        "doc_id", "src", "text", n = 8, minDocs = 2).count()
    }
    time("pack_bins") {
      // single stratum = worst case: one window partition carries the
      // whole corpus ordering
      CorpusPipeline.packBins(docs.withColumn("src", col("doc_id") % 20),
        "src", "doc_id", "text", 2048).groupBy("src", "bin").count().count()
    }
    time("pack_sequences") {
      // a GLOBAL order over the whole corpus — the distributed prefix
      // sum must keep this linear; a single-partition window would
      // serialize the multiplier into one task here
      CorpusPipeline.packSequences(docs, "doc_id", "text", 2048).count()
    }
    time("materialize_mix") {
      // output mass ≈ 1.05× corpus (Σ e(s)·|s|); cost must track that
      // mass, not the epoch table or stratum count
      CorpusPipeline.materializeMix(
        docs.withColumn("src", concat(lit("src"), col("doc_id") % 20)),
        "doc_id", "src",
        (0 until 20).map(i => s"src$i" -> (if (i % 4 == 0) 2.5
          else if (i % 4 == 1) 1.0 else if (i % 4 == 2) 0.5 else 0.25)).toMap)
        .count()
    }
    time("token_shard_export") {
      // mix → shard → per-shard pack → manifest: ONE shuffle keyed on
      // shard for the whole export; cost must track the mixed stream
      // mass, and per-shard windows must not serialize (16 shards all
      // pack in parallel)
      CorpusPipeline.tokenShardManifest(
        CorpusPipeline.tokenShardStream(
          docs.withColumn("src", concat(lit("src"), col("doc_id") % 20)),
          "doc_id", "src", "text",
          (0 until 20).map(i => s"src$i" -> (if (i % 4 == 0) 2.5
            else if (i % 4 == 1) 1.0 else if (i % 4 == 2) 0.5 else 0.25)).toMap,
          numShards = 16, seqLen = 2048),
        seqLen = 2048).count()
    }

    // Ledger compaction: ×N audit HISTORY (mult batches per doc over the
    // base corpus). One id-keyed shuffle + a per-doc window over depth
    // rows; cost must track the ledger mass (docs × depth) — linear in
    // the multiplier because the INPUT is — never corpus × history².
    time("compact_ledger") {
      val base = Tables.documents(spark, sfDir)
        .select(col("doc_id"), (length(col("text")) % 1000).as("n_tokens"))
      val ledger = base
        .crossJoin(replicas.select(col("r").cast("long").as("batch")))
        .withColumn("kept", (col("doc_id") + col("batch")) % 3 =!= 0)
      CorpusPipeline.compactLedger(ledger, "doc_id").count()
    }

    // embeddings: each replica is the base vector cyclically ROTATED by r
    // positions — norms and all within-replica cosines are preserved
    // exactly, while cross-replica cosines are decorrelated (a rotation
    // is an orthogonal transform), so near-dup mass scales ×N instead of
    // collapsing every replica into one direction
    val embOps = Seq("embed_neardup_bucketed", "kmeans", "ann_recall_eval",
      "ivf_index_append", "ivfpq_recall_eval", "ivf_retrain", "pq_retrain",
      "ivf_search_stored_batch")
    if (blockEnabled(embOps)) locally {
    val embs = Tables.embeddings(spark, sfDir)
      .crossJoin(replicas)
      .select(
        (col("vec_id") + col("r").cast("long") * 10000000L).as("vec_id"),
        expr("""concat(slice(embedding, pmod(r, size(embedding)) + 1,
                             size(embedding) - pmod(r, size(embedding))),
                       slice(embedding, 1, pmod(r, size(embedding))))""")
          .as("embedding"))
      // without this the ×N frame inherits the base parquet's ONE split
      // and every corpus pass below runs single-task — a harness
      // artifact a real many-file corpus doesn't have (found when the
      // recall evals timed 10× their parallel cost)
      .repartition(spark.sparkContext.defaultParallelism, col("vec_id"))
      .persist()
    embs.count()
    time("embed_neardup_bucketed") {
      val anchors = embs.filter(col("vec_id") % 10000000L < 8)
        .select(col("vec_id").as("anchor_id"), col("embedding").as("av"))
      graft.operators.Similarity
        .nearDupPairsBucketed(embs, anchors, "vec_id", threshold = 0.4).count()
    }
    time("kmeans") {
      graft.operators.Similarity.kmeans(embs, "vec_id", k = 8, iters = 3)
        ._1.groupBy("cluster").count().count()
    }
    val anchors8 = embs.filter(col("vec_id") < 8)
      .select(col("vec_id").as("anchor_id"), col("embedding").as("av"))
    // Recall eval: 12 dials over the ×N corpus must cost the shared
    // scans (one assignment + one query-batch cosine), not 12 corpus
    // passes — the q206 restructure's scale claim.
    time("ann_recall_eval") {
      graft.operators.Similarity.recallEval(embs, "vec_id",
        queryIds = Seq(0L, 1L, 2L, 3L), anchors8,
        nprobes = Seq(1, 2, 4), k = 10).count()
    }
    // Query-batch axis (the one scale dimension the table didn't cover):
    // 1/8/64 queries x 3 dials over the xN corpus. The scored frame is
    // corpus x batch BY CONSTRUCTION (exact ground truth needs every
    // (candidate, query) cosine), so cost must be LINEAR in the batch
    // and FLAT in dials — sublinear wall here just means the scan
    // amortizes; superlinear means a per-query pass crept in.
    for (b <- Seq(1, 8, 64)) {
      time(s"ann_recall_eval_qb$b") {
        graft.operators.Similarity.recallEval(embs, "vec_id",
          queryIds = 0L until b.toLong, anchors8,
          nprobes = Seq(1, 2, 4), k = 10).count()
      }
    }
    // Index append: growing a STORED (mult-1)× IVF index by one
    // replica's batch must cost assignment + append over the batch, not
    // the index — the ANN twin of incremental_lsh_append. The skew
    // report the operator returns is lazy (a column-pruned scan of the
    // index when consumed) and oracle-pinned by q210; the timed path is
    // the batch-proportional ingest.
    if (blockEnabled(Seq("ivf_index_append", "ann_recall_eval_indexed",
        "ivfpq_recall_eval", "ivf_retrain", "pq_retrain",
        "ivf_search_stored_batch"))) locally {
      val cut = (mult - 1).toLong * 10000000L
      val db = "graft_stress_ivf"
      val loc = fixtureDir("graft-stress-ivf")
      spark.sql(s"CREATE DATABASE IF NOT EXISTS $db LOCATION '$loc'")
      spark.sql(s"DROP TABLE IF EXISTS $db.emb_ivf")
      // the stored-index ops share this untimed build; ivfpq_recall_eval
      // alone doesn't need it
      if (blockEnabled(Seq("ivf_index_append", "ann_recall_eval_indexed",
          "ivf_retrain", "ivf_search_stored_batch")))
        graft.operators.Similarity.ivfBuildIndex( // amortized one-off, not timed
          embs.filter(col("vec_id") < cut), anchors8, "vec_id",
          s"$db.emb_ivf", numBuckets = 8)
      val batch = embs.filter(col("vec_id") >= cut)
      time("ivf_index_append") {
        graft.operators.Similarity.ivfIndexAppend(
          batch, "vec_id", s"$db.emb_ivf")
        batch.count()
      }
      // Recall eval against the PERSISTED ×N index (now holding the
      // full corpus post-append): assignments are READ from the store,
      // so the whole 12-dial sweep is ONE scan of the index — no
      // assignment argmax, no second pass — with the grid loaded from
      // the store's own __anchors artifact. The cost is the single
      // index read; everything else is dial-count-free.
      time("ann_recall_eval_indexed") {
        graft.operators.Similarity.recallEvalStored(spark, s"$db.emb_ivf",
          "vec_id", queryIds = Seq(0L, 1L, 2L, 3L),
          nprobes = Seq(1, 2, 4), k = 10).count()
      }
      // IVF-PQ recall eval, batched: 2 queries × 3 (nprobe, refine)
      // dials over the ×N corpus — assign + PQ-encode + the query-batch
      // cosine all ride ONE corpus scan; per-dial work is bounded heaps
      time("ivfpq_recall_eval") {
        val model = graft.operators.Similarity.pqCodebooksSampled(anchors8, m = 4)
        graft.operators.Similarity.ivfPqRecallEval(embs, "vec_id",
          Seq(0L, 1L), anchors8, model,
          Seq((1, 20), (2, 40), (4, 40)), 10).count()
      }
      // Retrain over the stored ×N index: the k-means refit (iters
      // scans of the (id, embedding) projection) + one assignment pass
      // + the bucketed rewrite — DELIBERATELY index-proportional, the
      // amortized one-off that batch-proportional appends defer until
      // the skew report demands it. Timed to pin the slope of that
      // cost curve.
      spark.sql(s"DROP TABLE IF EXISTS $db.emb_ivf_v2")
      time("ivf_retrain") {
        graft.operators.Similarity.ivfRetrain(spark, s"$db.emb_ivf",
          s"$db.emb_ivf_v2", "vec_id", k = 8, iters = 3, numBuckets = 8)
        spark.table(s"$db.emb_ivf_v2").count()
      }
      // Codebook retrain over a stored ×N IVF-PQ index under the
      // round-15 deployment dial (refitSampleCap): the Lloyd refit
      // runs over a 256-vector deterministic sample, so the only
      // index-proportional work left is the re-encode pass + the
      // bucketed rewrite — this row pins that the retrain wall now
      // tracks ONE linear pass, not iters of them (the uncapped path,
      // cap=0, is the cross-engine-exact q217 contract).
      if (enabled("pq_retrain")) {
        spark.sql(s"DROP TABLE IF EXISTS $db.emb_pq")
        spark.sql(s"DROP TABLE IF EXISTS $db.emb_pq_v2")
        val model = graft.operators.Similarity.pqCodebooksSampled(anchors8, m = 4)
        graft.operators.Similarity.ivfPqBuildIndex(embs, anchors8, // untimed one-off
          "vec_id", model, s"$db.emb_pq", numBuckets = 8)
        time("pq_retrain") {
          graft.operators.Similarity.ivfPqRetrain(spark, s"$db.emb_pq",
            s"$db.emb_pq_v2", embs, "vec_id", iters = 2, numBuckets = 8,
            refitSampleCap = 256)
          spark.table(s"$db.emb_pq_v2").count()
        }
      }
      // Batched serving against the post-append stored index: 1/8/64
      // query vectors from ONE bucket-pruned scan. Probe metadata is
      // |batch| x nprobe (driver-side), candidate mass is the probed
      // cells x batch — cost must be linear in the batch and the scan
      // count batch-independent (PlanAuditSpec pins the plan shape;
      // this row pins the wall-clock slope).
      for (b <- Seq(1, 8, 64)) {
        time(s"ivf_search_stored_batch_qb$b") {
          val queries = embs.filter(col("vec_id") < b.toLong)
            .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
          graft.operators.Similarity.ivfSearchStoredBatch(spark,
            s"$db.emb_ivf", "vec_id", queries, "query_id", "qvec",
            nprobe = 2, k = 10).count()
        }
      }
    }
    embs.unpersist()
    } // embOps

    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"), col("value").as("click_value"))
    time("asof_join") {
      TemporalJoin.asOf(purchases, clicks, "user_id", "ts", "click_ts",
        Seq("click_ts", "click_value")).count()
    }
    time("interval_join") {
      TemporalJoin.intervalJoin(purchases, clicks, "user_id", "ts", "click_ts",
        -15L * 60 * 1000 * 1000, 0L)
        .groupBy("event_id").agg(count(lit(1))).count()
    }
    spark.stop()
    fixtureDirs.foreach { p =>
      try {
        val s = java.nio.file.Files.walk(p)
        try s.sorted(java.util.Comparator.reverseOrder())
          .forEach(f => java.nio.file.Files.deleteIfExists(f))
        finally s.close()
      } catch { case _: Throwable => () } // best-effort; janitor backstops
    }
  }
}
