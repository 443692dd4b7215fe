package graft

/** Multi-JVM deployment smoke — run via `tools/cluster_smoke.sh`, which
  * spark-submits this class against `local-cluster[2,4,2048]`: two REAL
  * executor JVMs separate from the driver, so any code path that
  * silently assumes one JVM (driver-local file state, non-serializable
  * closures, single-block-manager assumptions) fails here instead of on
  * a production cluster.
  *
  * Coverage is one representative per operator family whose execution
  * shape differs under multiple JVMs:
  *  - relational agg + broadcast-dim join (shuffle + broadcast exchange
  *    across executors);
  *  - MinHash LSH near-dup (localCheckpoint blocks live on REMOTE
  *    executors; freeLocalCheckpoint must release them there);
  *  - full curation + IVF ANN (persist/unpersist, driver-held model
  *    literals shipped into executor-side expressions);
  *  - the streaming curate sink + state compaction against a
  *    scheme-qualified (`file:`) state path — the Hadoop FS state I/O
  *    on a path executors don't interpret as java.io.File;
  *  - the DURABLE-STORE lifecycle end to end (round 15): LSH
  *    build → append → pair-ledger ≡ full recompute, and IVF-PQ
  *    build → append → drift probe → sampled retrain → batch serve —
  *    the reads/writes whose file-pruning and table-property plumbing
  *    must hold when the scan tasks run in OTHER JVMs.
  *
  * Executor-loss stance (documented in DEPLOY.md): localCheckpoint
  * truncates lineage, so losing an executor mid-operator fails that
  * job; the retry unit is the OPERATOR call (idempotent by
  * construction — outputs are overwrite-by-batch/version). Durable
  * cross-job state is always parquet (`v=<id>` / `batch=<id>`), never
  * checkpoint blocks. The smoke ends with a DRILL of exactly that
  * stance: halt one executor JVM, assert the in-flight checkpointed
  * frame FAILS (never silently recomputes partial data), then assert
  * a fresh operator call converges to the identical result.
  *
  * Prints ONE JSON line: `{"smoke":"ok","executors":N,...}`; any
  * failure exits nonzero with the exception on stderr. */
object ClusterSmoke {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession.build("graft-cluster-smoke")

    // getExecutorMemoryStatus counts driver + executor block managers;
    // on local-cluster[2,...] that is >= 3 entries once the executor
    // JVMs REGISTER (takes a few seconds — asserting immediately after
    // getOrCreate races the registration and tears the cluster down).
    // On plain local[*] it stays 1 forever — the assert is what makes
    // this a MULTI-JVM smoke.
    def executorCount(): Int = spark.sparkContext.getExecutorMemoryStatus.size - 1
    val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
    while (executorCount() < 2 && System.nanoTime() < deadline) Thread.sleep(500)
    val executors = executorCount()
    require(executors >= 2,
      s"expected >= 2 remote executors, got $executors — run via tools/cluster_smoke.sh (local-cluster master)")

    val picks = Seq("q01", "q04", "q36", "q55", "q60")
    val counts = picks.map { prefix =>
      val (name, fn) = SparkEntry.queries.toSeq.sortBy(_._1)
        .find(_._1.startsWith(prefix))
        .getOrElse(sys.error(s"no query with prefix $prefix"))
      name -> fn(spark, sfDir).count()
    }
    // every picked family produces rows at sf0.001 (the relational
    // aggregates, the planted near-dup pairs, curated survivors, ANN
    // top-k) — an empty result here means the family broke under
    // multiple JVMs even though its jobs "succeeded"
    require(counts.forall(_._2 > 0), s"empty result: $counts")

    // streaming curate + compaction on a scheme-qualified state path
    val root = java.nio.file.Files.createTempDirectory("graft-smoke").toString
    val in = s"$root/in"; java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    def doc(id: Long, text: String) = s"""{"doc_id":$id,"text":"$text"}"""
    def words(a: Int, z: Int, p: String) = (a to z).map(i => s"$p$i").mkString(" ")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(in, "a.json"),
      Seq(doc(1, words(1, 30, "a")), doc(2, words(1, 30, "b"))).mkString("\n"))
    val docSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))
    val src = spark.readStream.schema(docSchema).json(in)
    val state = s"file:$root/state"
    graft.streaming.EventStream
      .streamingCurate(src, state, s"$root/out", s"$root/chk")
      .awaitTermination()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(in, "b.json"),
      Seq(doc(10, words(1, 30, "a")), doc(11, words(1, 30, "c"))).mkString("\n"))
    graft.streaming.EventStream
      .streamingCurate(src, state, s"$root/out", s"$root/chk")
      .awaitTermination()
    val survivors = spark.read.parquet(s"$root/out/batch=1")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    require(survivors == Set(11L), s"streaming curate state failed across JVMs: $survivors")
    graft.streaming.EventStream.compactCurateState(spark, state)
    require(spark.read.parquet(s"$state/v=1/fp").count() == 3)

    // ---- durable-store lifecycle across JVMs (round 15) ----
    // build → append → serve for BOTH durable-index families, against
    // real remote executors: flushes single-JVM assumptions (fixture
    // state the driver holds, block-manager-resident reads, driver-only
    // table-property visibility) that local[32] can never catch.
    locally {
      import org.apache.spark.sql.functions._
      val lifeRoot = java.nio.file.Files.createTempDirectory("graft-smoke-life")
      spark.sql(s"CREATE DATABASE IF NOT EXISTS smoke_life LOCATION '$lifeRoot'")
      val docs2 = Tables.documents(spark, sfDir)
      // LSH: even-half build, odd-half append; the durable pair ledger
      // must equal a full recompute over the whole corpus — the q215
      // device, here proven across executor JVMs
      graft.operators.Dedup.lshBuildIndex(
        docs2.filter(col("doc_id") % 2 === 0), "doc_id", "text",
        "smoke_life.lsh", n = 4, k = 16, bands = 4)
      graft.operators.Dedup.lshIndexAppend(
        spark, "smoke_life.lsh", docs2.filter(col("doc_id") % 2 === 1),
        "doc_id", "text", threshold = 0.5).count()
      val ledger = spark
        .table(graft.operators.Dedup.lshPairsTableName("smoke_life.lsh"))
        .select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val fullPairs = graft.operators.Dedup
        .minHashLshPairs(docs2, "doc_id", "text")
        .select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      require(ledger == fullPairs && ledger.nonEmpty,
        s"durable-LSH lifecycle diverged across JVMs: ledger=${ledger.size} full=${fullPairs.size}")
      // IVF-PQ: even-half build, odd-half append under the frozen
      // codebook, drift probe, sampled retrain into v2, batch serve
      val emb = Tables.embeddings(spark, sfDir)
      val anchors = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("anchor_id"), col("embedding").as("av"))
      val model = graft.operators.Similarity.pqCodebooksSampled(anchors, m = 4)
      graft.operators.Similarity.ivfPqBuildIndex(
        emb.filter(col("vec_id") % 2 === 0), anchors, "vec_id", model,
        "smoke_life.pq_v1", numBuckets = 8)
      graft.operators.Similarity.ivfPqIndexAppend(
        emb.filter(col("vec_id") % 2 =!= 0), "vec_id", "smoke_life.pq_v1")
      val drift = graft.operators.Similarity.pqDriftStats(
        spark, "smoke_life.pq_v1", emb, "vec_id")
      require(drift.count() == 4L, "drift probe must report every subspace")
      graft.operators.Similarity.ivfPqRetrain(
        spark, "smoke_life.pq_v1", "smoke_life.pq_v2", emb, "vec_id",
        iters = 1, numBuckets = 8, refitSampleCap = 64)
      val queries2 = emb.filter(col("vec_id") < 2)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      val served = graft.operators.Similarity.ivfPqSearchStoredBatch(
        spark, "smoke_life.pq_v2", emb.select(col("vec_id"), col("embedding")),
        "vec_id", queries2, "query_id", "qvec", nprobe = 2, refine = 20, k = 5)
        .count()
      require(served > 0, "stored batch serve returned no rows after retrain")
    }

    // ---- executor-loss drill (the DEPLOY.md stance, exercised) ----
    // 1) materialize an operator-internal frame exactly the way the
    //    operators do: localCheckpoint = truncated lineage, blocks
    //    held only on executors (16 partitions → both JVMs hold some)
    val docs = Tables.documents(spark, sfDir)
    val inflight = graft.operators.Dedup.indexDocs(docs, "doc_id", "text")
      .repartition(16).localCheckpoint(true)
    require(inflight.count() > 0)
    // 1b) the CONTRAST frame for the reliable-checkpoint dial
    //     (spark.graft.checkpoint.dir, DEPLOY.md): same shape, but
    //     checkpointed to durable files — this one must SURVIVE the
    //     executor loss the local frame dies of
    val ckptDir = java.nio.file.Files.createTempDirectory("graft-smoke-ckpt")
    spark.conf.set(graft.plans.Checkpoints.DirConf, ckptDir.toString)
    val durable = graft.plans.Checkpoints.iter(
      graft.operators.Dedup.indexDocs(docs, "doc_id", "text").repartition(16))
    val durableCount = durable.count()
    spark.conf.unset(graft.plans.Checkpoints.DirConf)
    require(durableCount > 0)
    // reference result from a complete operator run, pre-loss
    def pairs() = graft.operators.Dedup
      .minHashLshPairs(docs, "doc_id", "text")
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val before = pairs()
    require(before.nonEmpty)
    // 2) abruptly lose ONE executor JVM: a task schedules a delayed
    //    halt (not System.exit — no shutdown hooks, a real crash) and
    //    completes, then its JVM dies taking its blocks with it
    spark.sparkContext.parallelize(Seq(1), 1).foreach { _ =>
      new Thread(() => { Thread.sleep(300); Runtime.getRuntime.halt(77) })
        .start()
    }
    Thread.sleep(4000)
    // 3) the in-flight frame is DEAD: lost blocks + truncated lineage
    //    must fail the job — silently recomputing partial data would
    //    be corruption, not resilience
    val poisoned = scala.util.Try(inflight.count())
    require(poisoned.isFailure,
      s"expected job failure on the checkpointed frame after executor loss, got $poisoned")
    // 3b) the reliably-checkpointed frame survives the SAME loss: its
    //     partitions recompute from the checkpoint files, not from
    //     dead executor blocks — the dial's entire claim
    val survived = scala.util.Try(durable.count())
    require(survived == scala.util.Success(durableCount),
      s"reliable-checkpointed frame did not survive executor loss: $survived (expected $durableCount)")
    // 4) the retry unit is the operator CALL: once the standalone
    //    master registers a replacement executor, a fresh run
    //    converges to the identical output (all inputs are table
    //    reads; outputs overwrite-by-version)
    val redeadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
    while (executorCount() < 2 && System.nanoTime() < redeadline) Thread.sleep(500)
    require(executorCount() >= 2, "replacement executor never registered")
    require(pairs() == before,
      "operator retry after executor loss diverged from the pre-loss result")

    val qs = counts.map { case (k, v) => s""""$k":$v""" }.mkString(",")
    println(s"""{"smoke":"ok","executors":$executors,"drill":"executor-loss-ok","reliable":"survives-loss-ok","lifecycle":"durable-store-ok","sf":"$sfDir",$qs}""")
    spark.stop()
  }
}
