package graft.streaming

import java.sql.Timestamp

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.parse.Flatteners

/** Structured Streaming surface. The reference is strictly batch — its
  * "stream" is the orchestrated sync/backfill loop over raw JSON files
  * with a manifest for exactly-once (SURVEY §2.9). The Spark-native
  * upgrade is the file stream source: the checkpoint's file log replaces
  * `parsed_files.json`, watermarks replace the height-watermark
  * arithmetic, and the same batch flatteners run unchanged on the
  * streaming DataFrame (narrow transforms are mode-agnostic).
  *
  * Scale notes: file-stream listing cost is bounded by
  * `maxFilesPerTrigger`; windowed aggregation state is bounded by the
  * watermark (late data beyond it is dropped, state evicted); session
  * state is per-key and evicted on event-time timeout — all three are
  * what keep a continuous 100 TB/day ingest from accumulating unbounded
  * executor state.
  */
object EventStream {

  /** events-table shape for streaming fixtures (ts as ISO string parsed
    * to TimestampType by the JSON reader). */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType)))

  /** Incremental JSON file stream — the raw-zone source with
    * exactly-once file tracking via the checkpoint (replaces the
    * reference's parsed_files.json manifest, parse.py:97-111). */
  def jsonFileStream(spark: SparkSession, dir: String, schema: StructType,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val r = spark.readStream.schema(schema)
    maxFilesPerTrigger.foreach(n => r.option("maxFilesPerTrigger", n))
    r.json(dir)
  }

  /** The reference's parse stage on a stream: same Flatteners, streaming
    * input (the pivot stage stays batch-only — dynamic pivot needs a
    * data-dependent schema, which a stream cannot resolve). */
  def blocksStream(spark: SparkSession, rawDir: String): DataFrame =
    Flatteners.parseBlocks(
      jsonFileStream(spark, rawDir, Flatteners.blockSchema))

  /** Watermarked tumbling-window aggregate (append-mode compatible):
    * emits a window only once the watermark passes its end; state for
    * closed windows is evicted. */
  def windowedCounts(events: DataFrame, lateness: String = "10 minutes",
      windowLen: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("n"), col("total_value"))

  /** Declarative gap-sessionization via the built-in `session_window`
    * aggregate — the Catalyst-native counterpart to [[sessionize]]'s
    * flatMapGroupsWithState: sessions merge as late-but-in-watermark
    * events arrive, close when the watermark passes end + gap, and the
    * whole thing stays inside the streaming aggregation operator (no
    * user state code, mergeable session state, AQE-compatible batch
    * execution on the same frame). Prefer this when the per-session
    * output is aggregate-shaped; drop to [[sessionize]] only for
    * custom emission logic (e.g. mid-session triggers). */
  def sessionWindowStats(events: DataFrame, gap: String = "30 minutes",
      lateness: String = "0 seconds"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))
      .select(col("user_id"),
        date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        date_format(col("session_window.end"), "yyyy-MM-dd HH:mm:ss").as("session_end"),
        col("n_events"), col("total_value"))

  /** Streaming exact dedup: drop re-deliveries of the same (id, ts)
    * across micro-batches. The watermark bounds the dedup state — ids
    * older than the lateness horizon are evicted, which is what lets a
    * continuous ingest run forever; without it state grows with the
    * stream. (The reference gets the same effect batch-wise from its
    * file manifest + height watermarks.) */
  def dedupedStream(events: DataFrame, lateness: String = "1 hour"): DataFrame =
    events.withWatermark("ts", lateness).dropDuplicates("event_id", "ts")

  /** Streaming dedup on the business key alone: a re-delivery whose
    * retry carries a DIFFERENT event time (producer re-stamped it) still
    * collapses, which (id, ts)-dedup misses. State per key is evicted
    * once the watermark passes its event time + the delay — the Spark
    * 3.5+ `dropDuplicatesWithinWatermark` operator. */
  def dedupedByKeyWithinWatermark(events: DataFrame,
      lateness: String = "1 hour"): DataFrame =
    events.withWatermark("ts", lateness)
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-static enrichment join — the streaming analog of the
    * pipeline's time-enrichment (Flatteners.enrichTime): every
    * micro-batch joins against the static dimension snapshot; the dim is
    * broadcast so the stream side never shuffles. Narrow + stateless:
    * nothing accumulates between batches. */
  def enrichStream(events: DataFrame, dim: DataFrame, key: String): DataFrame =
    events.join(broadcast(dim), Seq(key), "left")

  // --- event-time sessionization via flatMapGroupsWithState ---

  final case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)
  final case class SessionAgg(startMs: Long, endMs: Long, n: Int, sum: Double)
  final case class SessionOut(user_id: Long, n_events: Int,
      duration_sec: Double, total_value: Double)

  /** Custom stateful operator: per-user sessions closed after `gapMs` of
    * event-time silence. State is one open SessionAgg per active user;
    * the event-time timeout (driven by the watermark) emits and evicts
    * the open session. Gaps WITHIN a micro-batch also split sessions:
    * events are folded in event-time order and every gap-exceeded
    * boundary closes the running session immediately — so a large
    * replayed batch (Trigger.AvailableNow over history) produces the
    * same sessions as live micro-batches would. */
  def sessionize(events: DataFrame, gapMs: Long = 30 * 60 * 1000L,
      lateness: String = "0 seconds"): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    def closed(uid: Long, s: SessionAgg): SessionOut =
      SessionOut(uid, s.n, (s.endMs - s.startMs) / 1000.0, s.sum)
    events
      .withWatermark("ts", lateness)
      .as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionAgg, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, evs: Iterator[Ev], state: GroupState[SessionAgg]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(closed(uid, s))
          } else {
            val batch = evs.toSeq
            // interval merge over (stored session ∪ batch events),
            // ordered by start: handles a late-but-within-watermark
            // event EARLIER than the open session — it extends the
            // session backwards (min start) or forms its own earlier
            // session — where a forward-only fold would silently fold
            // it in without moving startMs (wrong start AND duration)
            val intervals = (state.getOption.toSeq ++
              batch.map(e => SessionAgg(e.ts.getTime, e.ts.getTime, 1, e.value)))
              .sortBy(s => (s.startMs, s.endMs))
            val merged = intervals.foldLeft(List.empty[SessionAgg]) {
              case (h :: rest, iv) if iv.startMs <= h.endMs + gapMs =>
                SessionAgg(h.startMs, math.max(h.endMs, iv.endMs),
                  h.n + iv.n, h.sum + iv.sum) :: rest
              case (acc, iv) => iv :: acc
            }.reverse
            // all but the latest close now (a gap separates them from
            // anything that can still arrive in event-time order); the
            // latest stays open awaiting its gap or timeout
            val emitted = merged.dropRight(1).map(closed(uid, _))
            merged.lastOption.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.endMs + gapMs)
            }
            emitted.iterator
          }
      }
  }

  // --- streaming near-duplicate filter: stateful LSH buckets ---

  final case class BucketHit(doc_id: Long, band: Int, owner: Long)
  final case class BucketState(owner: Long)

  /** Streaming MinHash-LSH near-duplicate detection: each arriving
    * document computes its signature (narrow), fans out to `bands` band
    * keys, and each (band, band-signature) bucket keeps one piece of
    * state — the lowest doc_id ever seen there (the bucket's owner).
    * A document whose hit rows carry an owner other than itself collided
    * with an earlier near-duplicate on that band.
    *
    * State is bounded by the watermark: buckets idle past `lateness` are
    * evicted via event-time timeout, so a continuous corpus stream dedups
    * within its horizon at fixed memory — the streaming analog of
    * Dedup.minHashLshPairs' batch banding. Within one micro-batch, docs
    * are folded in doc_id order, so ownership is deterministic under any
    * partitioning.
    *
    * Input schema: (doc_id long, text string, ts timestamp). */
  def lshNearDupHits(docs: DataFrame, n: Int = 4, k: Int = 16,
      bands: Int = 4, lateness: String = "1 hour"): Dataset[BucketHit] = {
    import docs.sparkSession.implicits._
    // same banding contract as Dedup.bandedSignatures: a non-dividing k
    // would silently drop signature tail-hashes (recall loss), and
    // bands > k would give every doc an empty band signature — one
    // global bucket reporting the whole stream as near-dups
    require(bands >= 1 && k >= bands && k % bands == 0,
      s"bands ($bands) must divide k ($k)")
    val rows = k / bands
    val banded = docs
      .withWatermark("ts", lateness)
      .filter(size(split(col("text"), " ")) >= n)
      .select(col("doc_id"), col("ts"),
        graft.functions.TextHashAggregators.minhash(
          graft.operators.Dedup.shingles("split(text, ' ')", n), k).as("mh"))
      .select(col("doc_id"), col("ts"),
        explode(sequence(lit(0), lit(bands - 1))).as("band"),
        expr(s"array_join(slice(mh, band * $rows + 1, $rows), '|')").as("sig"))
      .as[(Long, Timestamp, Int, String)]

    banded
      .groupByKey { case (_, _, band, sig) => (band, sig) }
      .flatMapGroupsWithState[BucketState, BucketHit](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: (Int, String), vs: Iterator[(Long, Timestamp, Int, String)],
            state: GroupState[BucketState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val batch = vs.toSeq.sortBy(_._1) // deterministic fold order
            var owner = state.getOption.map(_.owner).getOrElse(Long.MaxValue)
            val hits = batch.map { case (docId, _, band, _) =>
              // the collision partner is whoever owned the bucket
              // BEFORE this doc: a late-arriving SMALLER id must still
              // report its hit against the earlier-ingested owner —
              // taking ownership first would make the hit row carry
              // owner == itself and the collision would vanish
              val prev = owner
              if (docId < owner) owner = docId
              BucketHit(docId, band, if (prev == Long.MaxValue) docId else prev)
            }
            state.update(BucketState(owner))
            val horizon = batch.map(_._2.getTime).max
            state.setTimeoutTimestamp(horizon, lateness)
            hits.iterator
          }
      }
  }

  /** Drain everything currently available into an in-memory table (the
    * reference's batch-loop analog: one bounded run per invocation,
    * resumable via checkpoint). */
  def runAvailableNow(out: DataFrame, queryName: String,
      checkpoint: String, outputMode: String = "append"): StreamingQuery =
    out.writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode(outputMode)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Stream-stream interval join: every purchase joined to the same
    * user's clicks in the 15 minutes before it — the streaming analog of
    * TemporalJoin.intervalJoin (q50), using Spark's watermarked
    * stream-stream join. Both sides carry watermarks and the join
    * condition bounds click_ts relative to purchase_ts, so each side's
    * buffered state is evicted once the other side's watermark passes
    * the bound — state stays proportional to the lateness horizon, not
    * the stream. */
  def purchaseClickJoin(events: DataFrame,
      lateness: String = "1 hour"): DataFrame =
    purchaseClickJoinImpl(events, lateness, "inner")

  /** LEFT OUTER variant of the stream-stream interval join: purchases
    * with no preceding click still emit, with nulls on the click side —
    * but only once the CLICK side's watermark passes the purchase time,
    * because until then a matching click could still arrive. That is
    * the semantic difference from batch left joins worth pinning: the
    * null row's emission time is a watermark decision, not a data
    * arrival. State bounds are the same as the inner variant. */
  def purchaseClickLeftJoin(events: DataFrame,
      lateness: String = "1 hour"): DataFrame =
    purchaseClickJoinImpl(events, lateness, "left_outer")

  // one definition of the sides and the interval condition, so the
  // inner and left-outer variants can never silently diverge
  private def purchaseClickJoinImpl(events: DataFrame, lateness: String,
      joinType: String): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", lateness)
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("click_user"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", lateness)
    purchases.join(clicks,
      expr("""user_id = click_user
              AND click_ts >= purchase_ts - INTERVAL 15 MINUTES
              AND click_ts < purchase_ts"""),
      joinType)
      .select("purchase_id", "user_id", "click_id", "click_ts")
  }

  /** Verified near-dup maintenance as ONE continuous streaming query —
    * the streaming form of `Dedup.incrementalLshPairs`: every
    * micro-batch of documents is LSH'd against the PERSISTENT
    * signature/shingle index (all documents prior batches ingested),
    * emits only the verified-Jaccard pairs that touch this batch, and
    * appends its own index rows. Per-batch cost is batch-proportional
    * (plus one bucket aggregation over the stored index) — the 100 TB
    * ingest-and-dedup loop with streaming's offset bookkeeping instead
    * of hand-rolled manifests. Unlike [[lshNearDupHits]] (bounded-state
    * bucket hits within a watermark horizon), this maintains the FULL
    * corpus index on storage and reports exact verified pairs.
    *
    * Exactly-once with no transactional log: pairs and index rows both
    * land under `batch=<id>` (the idempotent-overwrite device), and the
    * index read excludes partitions >= the current batch id — a
    * replayed batch never sees its own half-written index rows (which
    * would break the disjointness precondition) and overwrites its
    * outputs in place. The batch's index rows are written FIRST and
    * read back, so the CPU-bound signature pass runs once per batch,
    * not twice.
    *
    * Input schema: (`id` long, `text` string). */
  def streamingNearDupPairs(docs: DataFrame, indexDir: String,
      pairsDir: String, checkpoint: String,
      id: String = "doc_id", text: String = "text",
      n: Int = 4, k: Int = 16, bands: Int = 4, threshold: Double = 0.5,
      maxBucketSize: Int = graft.operators.Dedup.DefaultMaxBucketSize): StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        val newIdxPath = s"$indexDir/batch=$batchId"
        graft.operators.Dedup.indexDocs(batch, id, text, n, k)
          .write.mode("overwrite").parquet(newIdxPath)
        // prior = COMMITTED older batches only (same _SUCCESS gate as
        // the versioned-state sinks): a torn partition from a mid-write
        // restore, or a foreign writer's partial, must not be unioned
        // as state — missing signatures mean silently retained dups
        val hfs = stateFs(spark, indexDir)
        val priorVs = versionIds(hfs, indexDir, "batch=")
          .filter(v => v < batchId &&
            pathExists(hfs, s"$indexDir/batch=$v/_SUCCESS"))
        val newIndex = spark.read.parquet(newIdxPath)
        val prior =
          if (priorVs.nonEmpty)
            spark.read.parquet(priorVs.map(v => s"$indexDir/batch=$v"): _*)
          else newIndex.limit(0)
        val pairs = graft.operators.Dedup
          .incrementalLshPairsIndexed(prior, newIndex, id,
            k = k, bands = bands, threshold = threshold,
            maxBucketSize = maxBucketSize)
        pairs.write.mode("overwrite").parquet(s"$pairsDir/batch=$batchId")
        // the operator returns an eagerly localCheckpoint-ed frame; a
        // long-running stream must free it or accumulate one persisted
        // RDD per micro-batch (streamingCurate's rule)
        graft.operators.Dedup.freeLocalCheckpoint(pairs)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()

  /** foreachBatch drain with an IDEMPOTENT sink: each micro-batch
    * overwrites its own `batch=<id>` directory, so a batch replayed
    * after a failure between sink-write and checkpoint-commit lands in
    * the same place instead of appending duplicates — exactly-once
    * end-to-end from the at-least-once replay contract. This is the
    * pattern for sinks with no transactional file log (JDBC upserts,
    * object stores): make the write a deterministic function of
    * (batchId, data). */
  def runForeachBatchIdempotent(out: DataFrame, path: String,
      checkpoint: String): StreamingQuery =
    out.writeStream
      .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        df.write.mode("overwrite").parquet(s"$path/batch=$batchId")
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Streaming incremental aggregate maintenance: every micro-batch's
    * per-type (count, decimal total) aggregate is merged into a parquet
    * state table via Cdc.refreshAgg — a streaming materialized view
    * whose state stays aggregate-sized (bounded by key cardinality)
    * while the stream grows without bound, with NO Spark streaming-agg
    * state store (the parquet table IS the state, readable by anyone).
    *
    * Exactly-once: foreachBatch replays a batch if the job dies between
    * sink write and checkpoint commit, and re-merging a delta would
    * double-count it — so the state version is keyed by batch id
    * (`v=<batchId>`) and a replayed batch OVERWRITES its own version
    * instead of compounding on top of it. The merge always reads the
    * latest version strictly OLDER than the current batch. */
  def runIncrementalAgg(events: DataFrame, statePath: String,
      checkpoint: String): StreamingQuery =
    runVersionedAggSink(events, statePath, checkpoint,
      keys = Seq("event_type"), aggCols = Seq("n", "total")) { batch =>
      batch.groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
            .as("total"))
    }

  /** Ingest-time fuzzy decontamination: every streamed shard of
    * training documents is screened against a fixed benchmark frame
    * (operators.CorpusPipeline.decontaminateFuzzy — MinHash+LSH
    * cross-frame candidates, exact-Jaccard verified), and the per-doc
    * report lands under `batch=<id>` (idempotent overwrite — replays
    * cannot duplicate). Screening at ingest is the 100 TB shape: each
    * batch pays batch + bench cost (the bench re-index per batch is
    * benchmark-sized by definition), instead of a corpus-wide sweep
    * later. Input schema: (`id` long, `text` string). */
  def streamingDecontaminate(docs: DataFrame, bench: DataFrame,
      outDir: String, checkpoint: String,
      id: String = "doc_id", text: String = "text",
      n: Int = 4, k: Int = 16, bands: Int = 4,
      threshold: Double = 0.5): StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val rep = graft.operators.CorpusPipeline
          .decontaminateFuzzy(batch, bench, id, text, n, k, bands, threshold)
        rep.write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
        // free the operator's eager localCheckpoint — one persisted RDD
        // per micro-batch otherwise lingers until GC
        graft.operators.Dedup.freeLocalCheckpoint(rep)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Streaming novelty monitor: fold every arriving document shard into
    * the [[graft.operators.CorpusPipeline.noveltyAppend]] HLL state and
    * land a per-batch novelty report — "is this crawl still buying new
    * content" answered at ingest time, with KB-sized state. Replay
    * safety is the versioned-state device with a committed-version
    * guard: the new state merges the latest version STRICTLY older
    * than this batch id and writes its own `v=<batchId>` — but ONLY if
    * that version is not already committed (`_SUCCESS` present). The
    * guard matters here where plain re-merging suffices elsewhere:
    * re-aggregating the batch sketch on replay re-runs the HLL union
    * in a new merge order, and the HIP estimate can drift by a few
    * counts — a replayed batch would otherwise mutate history. The
    * report is then derived from the two WRITTEN state versions plus a
    * deterministic exact gram count, so replays rewrite byte-identical
    * outputs. Report rows land under `batch=<id>` (idempotent
    * overwrite): (batch_seq, batch_grams, est_new, est_total). Input
    * schema: (`id` long, `text` string). */
  def streamingNovelty(docs: DataFrame, statePath: String, reportDir: String,
      checkpoint: String, id: String = "doc_id", text: String = "text",
      n: Int = 4, lgK: Int = 16): StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        val hfs = stateFs(spark, statePath)
        hfs.mkdirs(new Path(statePath))
        // COMMITTED versions only: a partial dir below batchId (manual
        // restore, copied state, foreign writer) must not be silently
        // unioned as state — same predicate as the replay guard below
        val versions = versionIds(hfs, statePath)
          .filter(v => pathExists(hfs, s"$statePath/v=$v/_SUCCESS"))
        val prev = versions.filter(_ < batchId).sorted.lastOption
        val prior = prev.map(v => spark.read.parquet(s"$statePath/v=$v"))
        val committed = versions.contains(batchId)
        if (!committed) {
          val (ns, _) = graft.operators.CorpusPipeline
            .noveltyAppend(prior, batch.toDF(), id, text, n, lgK)
          ns.write.mode("overwrite").parquet(s"$statePath/v=$batchId")
        }
        // report from the two WRITTEN versions: deterministic on replay
        val cur = spark.read.parquet(s"$statePath/v=$batchId")
          .select(col("n_batches").as("batch_seq"),
            col("est_total"))
        val base = prior match {
          case Some(p) => p.select(col("est_total").as("est_prev"))
          case None => spark.range(1).select(lit(0.0).as("est_prev"))
        }
        // same gram definition as noveltyAppend (shared helper) — the
        // report must not mix two tokenizer/shingle rules in one row
        val grams = graft.operators.CorpusPipeline
          .gramHashes(batch.toDF(), text, n)
          .agg(count_distinct(col("g")).as("batch_grams"))
        cur.crossJoin(base).crossJoin(grams)
          .select(col("batch_seq"), col("batch_grams"),
            round(col("est_total") - col("est_prev"), 1).as("est_new"),
            round(col("est_total"), 1).as("est_total"))
          .write.mode("overwrite").parquet(s"$reportDir/batch=$batchId")
        // report derivation only ever needs the immediately previous
        // version: retain the last 2 committed versions (current + the
        // replay-guard predecessor) and delete the rest — otherwise a
        // long-running stream accumulates version dirs without bound
        // and the per-batch listing grows linearly with stream age
        versions.filter(_ < batchId).sorted.dropRight(1)
          .foreach(v => hfs.delete(new Path(s"$statePath/v=$v"), true))
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()

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
    * is the committed-version guard (the [[streamingNovelty]] device):
    * a replayed batch whose state version is already committed skips
    * the recompute entirely, so nothing is double-ingested and outputs
    * stay byte-identical. The append-ordered-id precondition is
    * enforced in-plan (curateIncrementalDelta's assert_true): an
    * out-of-order shard fails the batch instead of silently retaining
    * near-duplicates. Input schema: (`id` long, `text` string). */
  def streamingCurate(docs: DataFrame, statePath: String, outDir: String,
      checkpoint: String, id: String = "doc_id", text: String = "text",
      minTokens: Int = 10, maxTokens: Int = 100000,
      nearDupThreshold: Double = 0.5): StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
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
  // sinks and their compactor: one dir per version named `v=<n>`. All
  // state I/O goes through the Hadoop FileSystem API (resolved from the
  // path's scheme) so state dirs work identically on local disk, HDFS
  // and S3A — java.io.File would silently see an empty directory for
  // any non-local URI, which on a real cluster turns the replay guard
  // and the state union into no-ops. ---

  private def stateFs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def pathExists(fs: FileSystem, path: String): Boolean =
    fs.exists(new Path(path))

  /** Version numbers of child dirs of `root` named `<prefix><n>`;
    * empty if `root` does not exist. Non-numeric entries (a stray
    * `v=latest` pointer, a foreign hive partition) are skipped — same
    * tolerant parse as `Cdc.completeVersions`, which is this helper's
    * batch-side twin. */
  private def versionIds(fs: FileSystem, root: String,
      prefix: String = "v="): Seq[Long] = {
    val p = new Path(root)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toIndexedSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(prefix))
      .flatMap(s =>
        scala.util.Try(s.getPath.getName.stripPrefix(prefix).toLong).toOption)
  }

  /** Online data-mixing maintenance: keep per-source token counts as a
    * versioned parquet state while document shards stream in, so the
    * temperature-mixing weights (operators.QualityModels) can be
    * recomputed from the sources-sized state after every batch — the
    * corpus is never rescanned. Same exactly-once device as
    * [[runIncrementalAgg]]: each batch's delta merges into the latest
    * state version strictly older than its batch id and overwrites its
    * own `v=<batchId>`, so a replayed batch cannot double-count.
    *
    * Input schema: (`source` string, `text` string); state rows are
    * (source, tokens). */
  def streamingSourceTokenCounts(docs: DataFrame, statePath: String,
      checkpoint: String, source: String = "source", text: String = "text")
      : StreamingQuery =
    runVersionedAggSink(docs, statePath, checkpoint,
      keys = Seq(source), aggCols = Seq("tokens")) { batch =>
      batch
        .select(col(source), size(split(col(text), " ")).cast("long").as("n"))
        .groupBy(source).agg(sum("n").as("tokens"))
    }

  /** The versioned-state exactly-once protocol shared by every
    * incremental-aggregate sink ([[runIncrementalAgg]],
    * [[streamingSourceTokenCounts]]): compute the batch's delta
    * aggregate, merge it into the latest state version STRICTLY older
    * than this batch id (so a replayed batch re-merges from the same
    * base instead of compounding), and overwrite `v=<batchId>`. One
    * implementation — the replay-safety rules live here only. */
  private def runVersionedAggSink(src: DataFrame, statePath: String,
      checkpoint: String, keys: Seq[String], aggCols: Seq[String])(
      delta: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row] => DataFrame)
      : StreamingQuery =
    src.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        val hfs = stateFs(spark, statePath)
        hfs.mkdirs(new Path(statePath))
        // merge from COMMITTED versions only — a torn prior write (died
        // between parquet files) must not serve as the merge base
        val versions = versionIds(hfs, statePath)
          .filter(v => pathExists(hfs, s"$statePath/v=$v/_SUCCESS"))
        val d = delta(batch)
        val prev = versions.filter(_ < batchId).sorted.lastOption
        val refreshed = prev match {
          case Some(v) => graft.operators.Cdc.refreshAgg(
            spark.read.parquet(s"$statePath/v=$v"), d, keys, aggCols)
          case None => d
        }
        refreshed.write.mode("overwrite").parquet(s"$statePath/v=$batchId")
        // a merged-state sink never needs more than the current version
        // plus the replay-guard predecessor (the merge base a replayed
        // batch re-merges from): retain those 2, delete the rest —
        // otherwise version dirs accumulate without bound and the
        // per-batch listing grows linearly with stream age (the same
        // retention streamingNovelty applies)
        versions.filter(_ < batchId).sorted.dropRight(1)
          .foreach(v => hfs.delete(new Path(s"$statePath/v=$v"), true))
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Temperature-mixing weights from the latest
    * [[streamingSourceTokenCounts]] state — the per-epoch sampling
    * weights, updated as shards arrive, at sources-sized cost. */
  def mixWeightsFromState(spark: SparkSession, statePath: String,
      alpha: Double, source: String = "source"): DataFrame =
    graft.operators.QualityModels.temperatureMixFromCounts(
      latestAggState(spark, statePath)
        .select(col(source), col("tokens").cast("long").as("tokens")),
      source, alpha)

  /** Latest materialized state written by a versioned-state sink
    * ([[runIncrementalAgg]], [[streamingSourceTokenCounts]]). */
  def latestAggState(spark: SparkSession, statePath: String): DataFrame = {
    val hfs = stateFs(spark, statePath)
    val vs = versionIds(hfs, statePath)
      .filter(v => pathExists(hfs, s"$statePath/v=$v/_SUCCESS"))
    require(vs.nonEmpty, s"no state versions under $statePath")
    spark.read.parquet(s"$statePath/v=${vs.max}")
  }

  /** Append-mode drain to a parquet sink — unlike the memory sink, file
    * sinks recover from a checkpoint across runs, which is what the
    * repeated bounded-run (batch-loop) deployment shape needs. */
  def runAvailableNowToParquet(out: DataFrame, path: String,
      checkpoint: String): StreamingQuery =
    out.writeStream
      .format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()

  /** Streaming arrival path of the IVF(-PQ) index lifecycle (build →
    * [[graft.operators.Similarity.ivfIndexAppend]] → skew → retrain):
    * each micro-batch of `(id, embedding)` rows is assigned against the
    * store's FROZEN anchor grid (`ivfAssign` is a pure map expression,
    * so it runs unchanged on a stream) and, for a codes store (stamped
    * `graft.pq_id`), PQ-encoded under its stored codebook. Both models
    * load from the store's own fingerprint-checked artifacts, so a stage
    * can never encode under a grid or codebook the caller drifted.
    *
    * Each batch lands through [[graft.operators.StagedBatches]]:
    * overwrite-by-batchId, so a crash-replayed batch rewrites its own
    * dir instead of duplicating rows, then a marker of the stamps it
    * was cut under. A bucketed catalog append is NOT replay-idempotent,
    * which is exactly why arrival stages here and
    * [[graft.operators.Similarity.ivfIndexAbsorb]] (anti-join-guarded,
    * crash-convergent, refusing a stage cut under another grid or
    * codebook) folds the stage into the served table at compaction
    * cadence. A search wanting zero staleness reads table ∪ stage — the
    * incrementalLsh "index + recent" pattern. `roundAt` must match what
    * the index was built/appended with — a different rounding can flip
    * boundary assignments, landing absorbed rows in cells the serving
    * grid never probes. */
  def streamingIvfStage(vecs: DataFrame, table: String, id: String,
      stageDir: String, checkpoint: String,
      roundAt: Int = 4): StreamingQuery = {
    val spark = vecs.sparkSession
    import graft.operators.Similarity
    // stamps BEFORE the models: a rebuild in between leaves a marker
    // older than the rows, which the absorb refuses — never rows older
    // than their marker
    val stamps = Similarity.ivfStageStamps(spark, table)
    val anchors = Similarity.storedAnchors(spark, table)
    val model = stamps.find(_._1 == "graft.pq_id")
      .map(_ => Similarity.storedPqModel(spark, table))
    vecs.writeStream
      .foreachBatch { (df: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        graft.operators.StagedBatches.write(
          Similarity.ivfRows(df, anchors, model, id, roundAt),
          stageDir, batchId, stamps)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Stage a micro-batched document stream for a durable LSH store
    * (`Dedup.lshBuildIndex`'s table) — the LSH twin of
    * [[streamingIvfStage]]: each micro-batch runs the signature kernel
    * ONCE (under the store's own stamped (n, k) — never the caller's)
    * and lands through [[graft.operators.StagedBatches]] as pre-indexed
    * (id, mh, hs) rows; `Dedup.lshIndexAbsorb` later folds committed
    * batches through the guarded append core at compaction cadence, so
    * the blocking per-batch `lshIndexAppend` call drops out of the
    * ingest hot path. */
  def streamingLshStage(docs: DataFrame, table: String, id: String,
      text: String, stageDir: String, checkpoint: String): StreamingQuery = {
    val spark = docs.sparkSession
    val stamps = graft.operators.StagedBatches.stamps(spark, table,
      graft.operators.Dedup.LshStageKeys)
    val Seq(n, k) = stamps.map(_._2.toInt)
    docs.writeStream
      .foreachBatch { (df: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        graft.operators.StagedBatches.write(
          graft.operators.Dedup.indexDocs(df, id, text, n, k),
          stageDir, batchId, stamps)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
  }
}
