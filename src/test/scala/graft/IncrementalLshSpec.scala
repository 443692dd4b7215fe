package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Incremental LSH maintenance (Dedup.incrementalLshPairs): appending a
  * batch against a stored signature/shingle index must report exactly the
  * pairs a full recompute reports, minus the old↔old pairs earlier
  * batches already own — for any split of the corpus into batches.
  */
class IncrementalLshSpec extends SparkSpec {

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select(col("id_a").cast("long"), col("id_b").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("intermediate checkpoint blocks are freed, not leaked across calls") {
    val docs = Tables.documents(spark, sf("sf0.001"))
    def persisted(): Int = spark.sparkContext.getPersistentRDDs.size
    Dedup.minHashLshPairs(docs, "doc_id", "text").count()
    System.gc() // let ContextCleaner drop RDDs whose frames died with the call
    Thread.sleep(200)
    val after1 = persisted()
    (1 to 3).foreach(_ => Dedup.minHashLshPairs(docs, "doc_id", "text").count())
    System.gc()
    Thread.sleep(200)
    // without freeLocalCheckpoint each call leaks its base/cands/shingle
    // checkpoints (+3 per call); with it (and GC for the result-reachable
    // ones) the persisted set must not grow run-over-run
    assert(persisted() <= after1 + 2,
      s"checkpoint blocks accumulate: $after1 -> ${persisted()}")
  }

  test("duplicate input rows never produce self-pairs") {
    import spark.implicits._
    // the same doc id twice (raw-data duplication — exactly what a
    // dedup library gets pointed at): its bucket holds the id twice and
    // naive i<j position pairing would emit (X, X) with jaccard 1.0
    val t = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq((1L, t), (1L, t), (2L, t + " iota")).toDF("doc_id", "text")
    val pairs = Dedup.minHashLshPairs(docs, "doc_id", "text", threshold = 0.1)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.forall { case (a, b) => a != b }, pairs.toSeq)
    assert(pairs.contains((1L, 2L)), pairs.toSeq) // real pair survives
  }

  test("hotBucketGuard: a degenerate boilerplate bucket is dropped, normal pairs survive") {
    import spark.implicits._
    // 40 byte-identical boilerplate docs: every band bucket they share
    // has 40 members → C(40,2)·bands pair mass. With the cap they emit
    // nothing; the genuine near-dup pair in its small buckets survives.
    val boiler = (100L to 139L).map(i => (i, "the same boilerplate line repeated " +
      "across the whole crawl again and again and again"))
    val real = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"))
    val docs = (boiler ++ real).toDF("doc_id", "text")
    val capped = pairSet(Dedup.minHashLshPairs(docs, "doc_id", "text",
      threshold = 0.5, maxBucketSize = 10))
    assert(capped.contains((1L, 2L)), capped)
    assert(capped.forall { case (a, b) => a < 100L && b < 100L }, capped)
    // a cap above every bucket size is byte-identical to no cap
    val uncapped = pairSet(Dedup.minHashLshPairs(docs, "doc_id", "text", threshold = 0.5))
    val highCap = pairSet(Dedup.minHashLshPairs(docs, "doc_id", "text",
      threshold = 0.5, maxBucketSize = 1000))
    assert(highCap == uncapped)
    // same guard on the incremental path: the boilerplate flood arriving
    // as a new batch must not explode against the stored index
    val incrCapped = pairSet(Dedup.incrementalLshPairs(
      Dedup.indexDocs(real.toDF("doc_id", "text"), "doc_id", "text"),
      boiler.toDF("doc_id", "text"), "doc_id", "text",
      threshold = 0.5, maxBucketSize = 10))
    assert(incrCapped.forall { case (a, b) => a < 100L && b < 100L }, incrCapped)
  }

  test("the DEFAULT cap engages against a >10k-doc degenerate bucket") {
    import spark.implicits._
    // 10,005 byte-identical docs land every band in one bucket just over
    // DefaultMaxBucketSize. Without the default-on guard this expands
    // ~2×10^8 in-bucket pair structs (minutes, or an executor OOM at
    // scale); with it the flood is dropped in the count pre-pass and the
    // genuine near-dup pair in its size-2 buckets is all that survives.
    assert(Dedup.DefaultMaxBucketSize == 10000)
    val boiler = (100L until 100L + 10005L)
      .map(i => (i, "the same boilerplate line repeated across the whole crawl"))
    val real = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"))
    val docs = (boiler ++ real).toDF("doc_id", "text").repartition(8)
    val pairs = pairSet(Dedup.minHashLshPairs(docs, "doc_id", "text"))
    assert(pairs == Set((1L, 2L)), s"default cap did not engage: ${pairs.size} pairs")
  }

  test("incremental batch == full recompute minus prior pairs (real corpus)") {
    val docs = Tables.documents(spark, sf("sf0.001"))
    val oldDocs = docs.filter(col("doc_id") % 3 =!= 0)
    val newDocs = docs.filter(col("doc_id") % 3 === 0)

    val full = pairSet(Dedup.minHashLshPairs(docs, "doc_id", "text"))
    val oldOnly = pairSet(Dedup.minHashLshPairs(oldDocs, "doc_id", "text"))

    val incr = pairSet(Dedup.incrementalLshPairs(
      Dedup.indexDocs(oldDocs, "doc_id", "text"),
      newDocs, "doc_id", "text"))

    // every incremental pair touches a new document
    val newIds = newDocs.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(incr.forall { case (a, b) => newIds(a) || newIds(b) })
    // old pairs ∪ incremental pairs == full recompute
    assert((oldOnly ++ incr) === full)
    // and the decomposition is disjoint: incremental never re-reports
    assert(oldOnly.intersect(incr).isEmpty)
  }

  test("two-step append chain converges to the full result") {
    val docs = Tables.documents(spark, sf("sf0.001"))
    val b0 = docs.filter(col("doc_id") % 3 === 0)
    val b1 = docs.filter(col("doc_id") % 3 === 1)
    val b2 = docs.filter(col("doc_id") % 3 === 2)

    val p0 = pairSet(Dedup.minHashLshPairs(b0, "doc_id", "text"))

    val p1 = pairSet(Dedup.incrementalLshPairs(
      Dedup.indexDocs(b0, "doc_id", "text"),
      b1, "doc_id", "text"))

    val b01 = b0.unionByName(b1)
    val p2 = pairSet(Dedup.incrementalLshPairs(
      Dedup.indexDocs(b01, "doc_id", "text"),
      b2, "doc_id", "text"))

    val full = pairSet(Dedup.minHashLshPairs(docs, "doc_id", "text"))
    assert((p0 ++ p1 ++ p2) === full)
  }

  test("jaccard values match the full recompute on shared pairs") {
    val docs = Tables.documents(spark, sf("sf0.001"))
    val oldDocs = docs.filter(col("doc_id") % 2 === 0)
    val newDocs = docs.filter(col("doc_id") % 2 === 1)
    def jmap(df: org.apache.spark.sql.DataFrame): Map[(Long, Long), Double] =
      df.select(col("id_a").cast("long"), col("id_b").cast("long"), col("jaccard"))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val full = jmap(Dedup.minHashLshPairs(docs, "doc_id", "text"))
    val incr = jmap(Dedup.incrementalLshPairs(
      Dedup.indexDocs(oldDocs, "doc_id", "text"),
      newDocs, "doc_id", "text"))
    incr.foreach { case (k, j) => assert(full.get(k).contains(j), s"pair $k") }
  }

  test("stored index lifecycle: build + append == full recompute; replay appends nothing") {
    val db = "graft_lsh_store"
    val loc = java.nio.file.Files.createTempDirectory("graft-lsh-store")
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db LOCATION '$loc'")
    spark.sql(s"DROP TABLE IF EXISTS $db.idx")
    spark.sql(s"DROP TABLE IF EXISTS $db.idx__pairs")
    spark.sql(s"DROP TABLE IF EXISTS $db.idx__bands")
    val docs = Tables.documents(spark, sf("sf0.001"))
    val b1 = docs.filter(col("doc_id") % 3 === 1)
    val b0 = docs.filter(col("doc_id") % 3 === 0)
    Dedup.lshBuildIndex(b1, "doc_id", "text", s"$db.idx")
    val firstTwo = pairSet(Dedup.minHashLshPairs(
      docs.filter(col("doc_id") % 3 =!= 2), "doc_id", "text"))
    val b1Only = pairSet(Dedup.minHashLshPairs(b1, "doc_id", "text"))
    val rowsBefore = spark.table(s"$db.idx").count()

    val appended = pairSet(
      Dedup.lshIndexAppend(spark, s"$db.idx", b0, "doc_id", "text"))
    assert((b1Only ++ appended) === firstTwo)
    assert(b1Only.intersect(appended).isEmpty)
    assert(spark.table(s"$db.idx").count() == rowsBefore + b0.count())

    // replayed append (client retry / crash after the data landed):
    // zero new pairs, zero new rows: the anti-join on stored ids makes
    // the append crash-convergent
    val replay = pairSet(
      Dedup.lshIndexAppend(spark, s"$db.idx", b0, "doc_id", "text"))
    assert(replay.isEmpty, replay)
    assert(spark.table(s"$db.idx").count() == rowsBefore + b0.count())

    // a PARTIALLY replayed batch (b0 already stored, %3==2 genuinely
    // new) pairs and lands only the new rows, and the chain converges
    // to the full-corpus recompute
    val mixed = docs.filter(col("doc_id") % 3 =!= 1)
    val mixedPairs = pairSet(
      Dedup.lshIndexAppend(spark, s"$db.idx", mixed, "doc_id", "text"))
    val full = pairSet(Dedup.minHashLshPairs(docs, "doc_id", "text"))
    assert((b1Only ++ appended ++ mixedPairs) === full)
    assert(spark.table(s"$db.idx").count() == docs.count())

    // the durable pair LEDGER equals the full recompute at every point
    // in the chain — seeded at build, grown by each append, never
    // duplicated by the replay above
    val ledger = spark.table(s"$db.idx__pairs")
    assert(pairSet(ledger) === full)
    assert(ledger.count() == full.size, "ledger holds duplicate pair rows")

    // the __bands twin tracks the main table exactly: its deduped rows
    // equal a fresh banding of every stored signature at every point in
    // the chain — the invariant that makes the pruned append read ≡ the
    // round-12 full re-banding path
    val twinRows = spark.table(s"$db.idx__bands")
      .select("doc_id", "band", "sig").distinct()
    val rebanded = graft.operators.Dedup.bandedSignatures(
      spark.table(s"$db.idx").select(col("doc_id"), col("mh")),
      "doc_id", k = 16, bands = 4)
    assert(twinRows.exceptAll(rebanded).isEmpty &&
      rebanded.exceptAll(twinRows).isEmpty,
      "__bands twin drifted from the banding of the stored signatures")

    // the banding contract lives with the index: a store without the
    // parameter stamp (half-built / foreign) refuses
    spark.sql(s"ALTER TABLE $db.idx UNSET TBLPROPERTIES ('graft.lsh_k')")
    val e = intercept[IllegalArgumentException] {
      Dedup.lshIndexAppend(spark, s"$db.idx", b0, "doc_id", "text")
    }
    assert(e.getMessage.contains("graft.lsh_k"), e.getMessage)
  }

  test("lshIndexCompact shrinks accreted files; the compacted store appends and pairs identically") {
    val db = "graft_lsh_compact"
    val loc = java.nio.file.Files.createTempDirectory("graft-lsh-compact")
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db LOCATION '$loc'")
    Seq("idx", "idx__pairs", "idx__bands", "idx__compact", "idx__bands__compact")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $db.$t"))
    val docs = Tables.documents(spark, sf("sf0.001"))
    Dedup.lshBuildIndex(docs.filter(col("doc_id") % 3 === 0),
      "doc_id", "text", s"$db.idx")
    // several appends accrete files in BOTH bucketed tables
    Dedup.lshIndexAppend(spark, s"$db.idx",
      docs.filter(col("doc_id") % 3 === 1), "doc_id", "text")
    val mainBefore = spark.table(s"$db.idx").inputFiles.length
    val twinBefore = spark.table(s"$db.idx__bands").inputFiles.length
    Dedup.lshIndexCompact(spark, s"$db.idx")
    assert(spark.table(s"$db.idx").inputFiles.length < mainBefore)
    assert(spark.table(s"$db.idx__bands").inputFiles.length < twinBefore)
    // the compacted store still appends through the stamped params
    // (stamps traveled with the swap) and the chain still converges
    val appended = pairSet(Dedup.lshIndexAppend(spark, s"$db.idx",
      docs.filter(col("doc_id") % 3 === 2), "doc_id", "text"))
    val full = pairSet(Dedup.minHashLshPairs(docs, "doc_id", "text"))
    assert(pairSet(spark.table(s"$db.idx__pairs")) == full)
    assert(spark.table(s"$db.idx").count() == docs.count())
    assert(appended.subsetOf(full))
  }

  test("verification read opens only the candidate ids' bucket FILES") {
    val db = "graft_lsh_vprune"
    val loc = java.nio.file.Files.createTempDirectory("graft-lsh-vprune")
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db LOCATION '$loc'")
    Seq("idx", "idx__pairs", "idx__bands")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $db.$t"))
    val docs = Tables.documents(spark, sf("sf0.001"))
    Dedup.lshBuildIndex(docs, "doc_id", "text", s"$db.idx")
    val t = spark.table(s"$db.idx")
    // a 2-id candidate set touches ≤ 2 of the store's 16 id-buckets —
    // the bucket-subset read must OPEN strictly fewer files than the
    // table holds (row pruning alone was the round-13 residual: a
    // column-pruned scan that still read the full hs mass)
    val candIds = t.select(col("doc_id")).limit(2).localCheckpoint(true)
    val buckets = candIds
      .select(pmod(hash(col("doc_id")), lit(16)).as("b"))
      .distinct().collect().map(_.getInt(0)).toSet
    val sub = graft.operators.Layout.readBucketSubset(spark, s"$db.idx", buckets)
    assert(sub.inputFiles.length < t.inputFiles.length,
      s"subset read opens ${sub.inputFiles.length} of " +
        s"${t.inputFiles.length} files — no file pruning")
    // and the pmod(hash(id), numBuckets) bucket derivation matches where
    // the bucketed write actually PLACED the rows: the semi-join over
    // the subset returns exactly the full-scan semi-join's rows — a
    // wrong bucket calc would silently lose candidates here
    def setsOf(base: org.apache.spark.sql.DataFrame): Set[(Long, Seq[Long])] =
      base.select(col("doc_id"), col("hs"))
        .join(broadcast(candIds), Seq("doc_id"), "leftsemi")
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1).sorted.toSeq)).toSet
    assert(setsOf(sub) == setsOf(t) && setsOf(sub).size == 2)
    // empty candidate set → empty read, not a full scan
    assert(graft.operators.Layout
      .readBucketSubset(spark, s"$db.idx", Set.empty).count() == 0)
  }

  test("append reads the __bands twin bucket-pruned, never re-banding the store") {
    val db = "graft_lsh_prune"
    val loc = java.nio.file.Files.createTempDirectory("graft-lsh-prune")
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db LOCATION '$loc'")
    Seq("idx", "idx__pairs", "idx__bands")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $db.$t"))
    val docs = Tables.documents(spark, sf("sf0.001"))
    Dedup.lshBuildIndex(docs.filter(col("doc_id") % 3 =!= 0),
      "doc_id", "text", s"$db.idx")
    // a 2-doc batch touches ≤ 2·bands (band, sig) buckets → ≤ 8 of the
    // twin's 1024 bucket keys → the bkey IN (...) filter must prune
    // FILES (SelectedBucketsCount < numBuckets), the IVF device
    val batch = Dedup.indexDocs(docs.filter(col("doc_id").isin(3L, 6L)),
      "doc_id", "text")
    val banded = Dedup.bandedSignatures(
      batch.select(col("doc_id"), col("mh")), "doc_id", 16, 4)
    val pruned = Dedup.storedBandsPrunedByKeys(spark, s"$db.idx",
      Dedup.collectBatchKeys(banded), "doc_id")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("SelectedBucketsCount"), plan)
    val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
      .findFirstMatchIn(plan).get
    assert(sel.group(1).toInt < sel.group(2).toInt,
      s"bands read not pruned: $plan")
    // and the pruned read is a true superset of the batch's collision
    // rows: the append over it reports exactly the recompute's new pairs
    val full = Dedup.minHashLshPairs(
      docs.filter(col("doc_id") % 3 =!= 0 || col("doc_id").isin(3L, 6L)),
      "doc_id", "text")
    val oldOnly = Dedup.minHashLshPairs(
      docs.filter(col("doc_id") % 3 =!= 0), "doc_id", "text")
    val appended = Dedup.lshIndexAppend(spark, s"$db.idx",
      docs.filter(col("doc_id").isin(3L, 6L)), "doc_id", "text")
    assert(pairSet(oldOnly) ++ pairSet(appended) == pairSet(full))
  }

  /** Collect every parquet scan's (paths, projected fields) across the
    * executions `body` runs. */
  private def scansDuring(body: => Unit): Seq[(Seq[String], Seq[String])] = {
    val seen = scala.collection.mutable.ArrayBuffer
      .empty[(Seq[String], Seq[String])]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        seen.synchronized {
          seen ++= org.apache.spark.sql.GraftBridge
            .parquetScans(qe.executedPlan)
        }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      org.apache.spark.sql.GraftBridge.waitForListenerBus(spark)
    } finally spark.listenerManager.unregister(listener)
    seen.synchronized(seen.toSeq)
  }

  private def hsScansOf(scans: Seq[(Seq[String], Seq[String])],
      pathMark: String): Seq[(Seq[String], Seq[String])] =
    scans.filter { case (paths, fields) =>
      fields.contains("hs") && paths.exists(_.contains(pathMark))
    }

  test("trickle append never reads the main table's hs column — verification rides the twin") {
    val db = "graft_lsh_nomain"
    val loc = java.nio.file.Files.createTempDirectory("graft-lsh-nomain")
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db LOCATION '$loc'")
    Seq("idx", "idx__pairs", "idx__bands")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $db.$t"))
    val docs = Tables.documents(spark, sf("sf0.001"))
    // deployment-shaped store: bucket count well above a trickle's
    // touched-key count (the DEPLOY.md dial), so file pruning — the
    // condition under which the twin carries verification — engages
    Dedup.lshBuildIndex(docs.filter(col("doc_id") % 2 === 0),
      "doc_id", "text", s"$db.idx", numBuckets = 64)
    assert(spark.table(s"$db.idx__bands").columns.contains("hs"))
    // a 2-doc serving-style trickle: across EVERY execution the append
    // runs, no parquet scan of the MAIN table may project hs — the
    // round-14 residual was exactly that read (file-pruned but still
    // growing with the store inside touched buckets)
    val trickle = docs.filter(col("doc_id").isin(1L, 3L))
    val scans = scansDuring {
      Dedup.lshIndexAppend(spark, s"$db.idx", trickle,
        "doc_id", "text").count()
    }
    val mainHs = hsScansOf(scans, "/idx").filterNot(_._1.exists(_.contains("__bands")))
    assert(mainHs.isEmpty,
      s"trickle append read the main table's hs column: $mainHs")
    // and the twin-fed verification is still the exact one: the ledger
    // equals a full recompute over the docs actually in the store
    val inStore = docs.filter(col("doc_id") % 2 === 0 ||
      col("doc_id").isin(1L, 3L))
    assert(pairSet(spark.table(s"$db.idx__pairs")) ==
      pairSet(Dedup.minHashLshPairs(inStore, "doc_id", "text")))
  }

  test("shard append skips the twin's duplicated hs — verification reads the single-copy main table") {
    val db = "graft_lsh_shard"
    val loc = java.nio.file.Files.createTempDirectory("graft-lsh-shard")
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db LOCATION '$loc'")
    Seq("idx", "idx__pairs", "idx__bands")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $db.$t"))
    val docs = Tables.documents(spark, sf("sf0.001"))
    Dedup.lshBuildIndex(docs.filter(col("doc_id") % 2 === 0),
      "doc_id", "text", s"$db.idx")
    // a half-corpus shard covers the twin's bucket-key domain: file
    // pruning can't engage, so reading hs through the twin would cost
    // bands× one copy of the store's sets — the adaptive read must NOT
    // project hs off the twin (round 15)
    val scans = scansDuring {
      Dedup.lshIndexAppend(spark, s"$db.idx",
        docs.filter(col("doc_id") % 2 === 1), "doc_id", "text").count()
    }
    val twinHs = hsScansOf(scans, "__bands")
    assert(twinHs.isEmpty,
      s"shard append read the twin's duplicated hs column: $twinHs")
    // the fallback main read is exact: ledger ≡ full recompute
    assert(pairSet(spark.table(s"$db.idx__pairs")) ==
      pairSet(Dedup.minHashLshPairs(docs, "doc_id", "text")))
  }

  test("a serving append runs a bounded number of driver jobs (the job-count floor)") {
    // at serving cadence the append's wall IS its driver-job count
    // (round 15 fused the path from ~30 jobs to ~19: one batch
    // checkpoint, AQE off + batch-scoped shuffle width, batch-sized
    // bucketed writes, driver-side file listing) — pin a ceiling so
    // the fusion can't silently regress job-by-job
    val db = "graft_lsh_jobs"
    val loc = java.nio.file.Files.createTempDirectory("graft-lsh-jobs")
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db LOCATION '$loc'")
    Seq("idx", "idx__pairs", "idx__bands")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $db.$t"))
    val docs = Tables.documents(spark, sf("sf0.001"))
    Dedup.lshBuildIndex(docs.filter(col("doc_id") % 2 === 0),
      "doc_id", "text", s"$db.idx", numBuckets = 64)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      Dedup.lshIndexAppend(spark, s"$db.idx",
        docs.filter(col("doc_id").isin(1L, 3L)), "doc_id", "text").count()
      org.apache.spark.sql.GraftBridge.waitForListenerBus(spark)
      val n = jobs.get()
      assert(n <= 24, s"serving append ran $n driver jobs — the fused " +
        "path runs ~19; a count this high means a checkpoint, broadcast, " +
        "listing, or AQE stage crept back in")
      assert(n >= 5, s"listener saw only $n jobs — the probe is broken")
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("append aligns an int-typed batch id to the store's long id; a lossy mismatch refuses") {
    val db = "graft_lsh_idtype"
    val loc = java.nio.file.Files.createTempDirectory("graft-lsh-idtype")
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db LOCATION '$loc'")
    Seq("idx", "idx__pairs", "idx__bands")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $db.$t"))
    val docs = Tables.documents(spark, sf("sf0.001"))
    Dedup.lshBuildIndex(docs, "doc_id", "text", s"$db.idx")
    val stored = spark.table(s"$db.idx").count()
    // replay the SAME docs with the id DOWNCAST to int: murmur3 hashes
    // int and long differently, so an unaligned replay guard would open
    // the wrong bucket files, miss every stored duplicate, and silently
    // double the index — the aligned guard must append exactly nothing
    val intBatch = docs.withColumn("doc_id", col("doc_id").cast("int"))
    val replay = Dedup.lshIndexAppend(
      spark, s"$db.idx", intBatch, "doc_id", "text")
    assert(replay.isEmpty, replay.collect().toSeq)
    assert(spark.table(s"$db.idx").count() == stored,
      "int-typed replay duplicated index rows")
    // a mismatch with no lossless cast (string → long) refuses loudly
    // instead of letting the final append auto-cast what the hashes
    // already diverged on
    val e = intercept[IllegalArgumentException] {
      Dedup.lshIndexAppend(spark, s"$db.idx",
        docs.withColumn("doc_id", col("doc_id").cast("string")),
        "doc_id", "text")
    }
    assert(e.getMessage.contains("no lossless cast"), e.getMessage)
  }
}
