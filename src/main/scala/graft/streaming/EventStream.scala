package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Document curation as a file stream. The reference is strictly
  * batch; this is the one streaming face kept, because `ClusterSmoke`
  * runs it across executor JVMs to prove that versioned state read and
  * written through the Hadoop FileSystem API survives a multi-JVM
  * cluster. Curation state is a set of `v=<batchId>` version deltas
  * that [[compactCurateState]] folds into one.
  */
object EventStream {

  /** The curation pipeline as a stream: every arriving document shard
    * is curated against the stored state with
    * [[graft.operators.CorpusPipeline.curateIncremental]] — quality
    * gate, exact dedup vs the fingerprint set, near-dedup vs the
    * signature index, all batch-proportional — survivors land under
    * `out/batch=<id>` and the batch's state DELTA (its new
    * fingerprints + index rows only) is written as version
    * `v=<batchId>`; the stored state is the union of all committed
    * version deltas, so per-batch write I/O is batch-proportional and
    * total disk is O(corpus), not O(batches × corpus). Replay safety
    * is a committed-version guard: a replayed batch whose state version
    * is already committed (both `_SUCCESS` markers) skips the recompute
    * entirely, so nothing is double-ingested and outputs stay
    * byte-identical. The append-ordered-id precondition is
    * enforced in-plan (curateIncrementalDelta's assert_true): an
    * out-of-order shard fails the batch instead of silently retaining
    * near-duplicates. Input schema: (`id` long, `text` string). */
  def streamingCurate(docs: DataFrame, statePath: String, outDir: String,
      checkpoint: String, id: String = "doc_id", text: String = "text",
      minTokens: Int = 10, maxTokens: Int = 100000,
      nearDupThreshold: Double = 0.5): StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val spark = batch.sparkSession
        val hfs = stateFs(spark, statePath)
        hfs.mkdirs(new Path(statePath))
        def committedV(v: Long): Boolean =
          pathExists(hfs, s"$statePath/v=$v/fp/_SUCCESS") &&
            pathExists(hfs, s"$statePath/v=$v/idx/_SUCCESS")
        if (!committedV(batchId)) {
          // stored state = union of COMMITTED prior version deltas only
          // (same predicate as the replay guard): a partial dir below
          // batchId — manual restore, copied state, foreign writer —
          // must fail to count as state rather than be silently unioned
          val priorVs = versionIds(hfs, statePath)
            .filter(v => v < batchId && committedV(v)).sorted
          val (fps, idx) =
            if (priorVs.isEmpty) graft.operators.CorpusPipeline
              .curateStateBuild(batch.toDF().limit(0), id, text)
            else (
              spark.read.parquet(
                priorVs.map(v => s"$statePath/v=$v/fp"): _*),
              spark.read.parquet(
                priorVs.map(v => s"$statePath/v=$v/idx"): _*))
          val (surv, fpDelta, idxDelta) = graft.operators.CorpusPipeline
            .curateIncrementalDelta(fps, idx, batch.toDF(), id, text,
              minTokens, maxTokens, nearDupThreshold)
          surv.write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
          fpDelta.write.mode("overwrite").parquet(s"$statePath/v=$batchId/fp")
          idxDelta.write.mode("overwrite").parquet(s"$statePath/v=$batchId/idx")
          // the three writes are done: release the per-batch
          // localCheckpoint blocks (curateIncrementalDelta checkpoints
          // its quality+exact chain and the batch index) — their RDDs
          // are unreachable to us afterwards, and a long-running stream
          // would otherwise accumulate checkpoint storage until GC
          graft.operators.Dedup.freeLocalCheckpoint(surv)
          graft.operators.Dedup.freeLocalCheckpoint(fpDelta)
          graft.operators.Dedup.freeLocalCheckpoint(idxDelta)
        }
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Maintenance compaction for a [[streamingCurate]] state dir: merge
    * every committed version delta into ONE base version (kept under
    * the highest existing version number, so subsequent batch ids stay
    * strictly greater) and delete the older deltas — the smallfile
    * cleanup a long-running ingest stream schedules in its maintenance
    * window. Crash-CONVERGENT rather than atomic: the merged state is
    * staged under `__compact.v=<target>` (the name carries the target
    * version), and only once both staged parquet writes are committed
    * (_SUCCESS) are the old versions deleted and the staging dir
    * renamed in. Re-running after a crash at ANY point converges — an
    * incomplete staging is rebuilt from the intact versions, a complete
    * staging just finishes the swap. Must not run concurrently with the
    * stream (the standard maintenance-window contract); on an object
    * store, swap via the store's atomic rename/manifest instead. */
  def compactCurateState(spark: SparkSession, statePath: String): Unit = {
    val hfs = stateFs(spark, statePath)
    val root = new Path(statePath)
    if (!hfs.exists(root)) return
    def committed(p: Path): Boolean =
      hfs.exists(new Path(p, "fp/_SUCCESS")) &&
        hfs.exists(new Path(p, "idx/_SUCCESS"))
    // merge COMMITTED versions only: a mid-crash partial delta belongs
    // to the batch the stream will replay, not to the compacted base —
    // merging it would permanently duplicate its rows once the replay
    // re-appends the full delta
    def committedVersions(): Seq[Long] = versionIds(hfs, statePath)
      .filter(v => committed(new Path(root, s"v=$v"))).sorted
    // the swap deletes only versions <= target: deltas appended AFTER a
    // staging was built must survive it
    def finishSwap(staging: Path, target: Long): Unit = {
      versionIds(hfs, statePath).filter(_ <= target)
        .foreach(v => hfs.delete(new Path(root, s"v=$v"), true))
      require(hfs.rename(staging, new Path(root, s"v=$target")),
        s"compaction swap failed for $statePath")
    }
    // recovery: a fully staged compaction from a crashed run finishes
    // its swap — UNLESS committed deltas newer than its target have
    // arrived since (the staging is stale; discard and rebuild so the
    // new deltas are included instead of silently deleted)
    hfs.listStatus(root).toIndexedSeq.map(_.getPath)
      .find(_.getName.startsWith("__compact.v=")) match {
      case Some(staged) if committed(staged) =>
        val target = staged.getName.stripPrefix("__compact.v=").toLong
        if (committedVersions().exists(_ > target)) hfs.delete(staged, true)
        else { finishSwap(staged, target); return }
      case Some(halfStaged) => hfs.delete(halfStaged, true) // incomplete: rebuild below
      case None =>
    }
    val versions = committedVersions()
    if (versions.length <= 1) return
    val staging = new Path(root, s"__compact.v=${versions.max}")
    spark.read.parquet(versions.map(v => s"$statePath/v=$v/fp"): _*)
      .write.mode("overwrite").parquet(new Path(staging, "fp").toString)
    spark.read.parquet(versions.map(v => s"$statePath/v=$v/idx"): _*)
      .write.mode("overwrite").parquet(new Path(staging, "idx").toString)
    finishSwap(staging, versions.max)
  }

  // --- versioned-state directory convention, defined once for the
  // sink and its compactor: one dir per version named `v=<n>`. All
  // state I/O goes through the Hadoop FileSystem API (resolved from the
  // path's scheme) so state dirs work identically on local disk, HDFS
  // and S3A — java.io.File would silently see an empty directory for
  // any non-local URI, which on a real cluster turns the replay guard
  // and the state union into no-ops. ---

  private def stateFs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def pathExists(fs: FileSystem, path: String): Boolean =
    fs.exists(new Path(path))

  /** Version numbers of child dirs of `root` named `v=<n>`;
    * empty if `root` does not exist. Non-numeric entries (a stray
    * `v=latest` pointer, a foreign hive partition) are skipped — same
    * tolerant parse as `Cdc.completeVersions`, which is this helper's
    * batch-side twin. */
  private def versionIds(fs: FileSystem, root: String): Seq[Long] = {
    val p = new Path(root)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toIndexedSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("v="))
      .flatMap(s =>
        scala.util.Try(s.getPath.getName.stripPrefix("v=").toLong).toOption)
  }
}
