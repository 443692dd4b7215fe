package graft.pipeline

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{AnalysisException, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, to_timestamp}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.ingest.{Fetch, HeightChunk, Manifest, RangePlanner, WatermarkStore}
import graft.models.{Model, ModelRunner}
import graft.parse.Flatteners

/** The reference's orchestrated flow (pipelines/pipeline.py:115-131) as a
  * plain Scala driver program over one SparkSession:
  *
  *   plan sync range → fetch raw pages → raw JSON zone → backfill loop →
  *   parse (4 flatteners, incremental via manifest) → hive-partitioned
  *   parquet → model DAG (ModelRunner) → dashboard queries.
  *
  * Differences from the reference, by design:
  *  - fetch fans out as Spark tasks instead of an asyncio semaphore
  *    (graft.ingest.Fetch);
  *  - all SQL runs in-session through Catalyst — no dbt subprocess and
  *    no DuckDB/postgres-proxy hop (SURVEY §3.1 boundary analysis);
  *  - exactly-once parsing still uses the parsed-files manifest, so the
  *    raw-zone contract (`{start}_{end}.json` files + metadata.json)
  *    stays byte-compatible with the reference's layout.
  */
final class Pipeline(
    spark: SparkSession,
    dataRoot: String,
    fetcher: String => String,
    apiUrl: String = "http://node",
    perPage: Int = 100) {

  private def rawDir(kind: String) = s"$dataRoot/rpc/$kind"
  private val parsedRoot = s"$dataRoot/parsed"

  // the reference's partition columns are period STRINGS ("2023-08",
  // "2023") — with inference on, hive partition discovery would re-type
  // day as DATE and year as INT and diverge from the 4-table contract
  private val inferKey = "spark.sql.sources.partitionColumnTypeInference.enabled"
  require(!spark.conf.get(inferKey).toBoolean,
    s"$inferKey must be false on a Pipeline's session (GraftSession.build sets it)")

  /** Plan + fetch one inclusive range into the raw zone (extract stage):
    * page envelopes are flattened to their item arrays (the reference's
    * process_responses, extract.py:408-424) and written as one JSON array
    * file per range (save_json layout, extract.py:186-192). */
  def extractRange(kind: String, start: Long, end: Long,
      chunkSize: Long = 10000L): Pipeline.RawWrite = {
    // locals, not fields: these close over executor-side lambdas and must
    // not drag the (non-serializable) Pipeline in with them
    val (api, fetch) = (apiUrl, fetcher)
    val urlOf: (Long, Long, Int, Int) => String =
      if (kind == "blocks") Fetch.blockSearchUrl(api, _, _, _, _)
      else Fetch.txSearchUrl(api, _, _, _, _)
    // chunked, not one monolithic span: a single chunk means one Spark
    // task (zero fan-out for a large sync window) AND the maximal
    // quarantine blast radius, since the count probe quarantines per
    // chunk
    val chunks = Fetch.chunks(start, end, chunkSize)
    val results = Fetch.fetchAll(
      spark, chunks, perPage, fetch, urlOf,
      graft.ingest.ChainClient.parseTotalCount
    ).collect()
    writeRaw(kind, start, end, results, chunksPlanned = chunks.size)
  }

  /** Flatten page envelopes to item arrays and land the `{start}_{end}`
    * raw file + error ledger + watermark (save_json layout,
    * extract.py:186-192). */
  private def writeRaw(kind: String, start: Long, end: Long,
      results: Array[graft.ingest.FetchResult],
      chunksPlanned: Int): Pipeline.RawWrite = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    // Quarantine is ALL-OR-NOTHING per chunk: a quarantined chunk lands
    // NONE of its pages' items and its whole span goes to the per-kind
    // error ledger. The tempting alternative — land the successful
    // pages and ledger only the heights missing from them — silently
    // loses data for multi-item heights (a height whose txs straddle a
    // fetched and a failed page looks "landed", so gap-fill never
    // refetches its missing txs), and landing partials while ledgering
    // the span would make the gap-fill refetch duplicate them. With
    // all-or-nothing, the gap-fill refetch re-lands the span exactly
    // once. (The reference saves partial accumulations AND logs the
    // span, extract.py:88-101/186-192 — which double-ingests on any
    // replay of those heights; its gap-fill loop is dormant so the bug
    // never fires there.) A no-data height inside a quarantined span
    // ledgers too — its refetch lands nothing and the claim clears it.
    // Cost accepted with eyes open: while a poison ITEM persists
    // upstream, each gap-fill cycle refetches the chunk's good pages
    // and drops them again — bounded waste (one chunk per cycle),
    // traded for never silently losing a multi-item height. The
    // streaming path (EventStream) has no such span ledger and lands
    // good pages row-wise instead.
    val failed = results.filter(_.quarantined)
    val badChunks = failed.map(r => (r.start, r.end)).toSet
    // distinct absorbs the page-overlap duplicates a mid-chunk per-page
    // degrade can emit (Fetch.fetchChunk: a recomputed page may re-cover
    // already-fetched items when the halved per_page no longer divides
    // the fetched prefix). Structural JValue equality, keep-first order.
    val items = results
      .filter(r => !badChunks.contains((r.start, r.end)))
      .flatMap(_.body).flatMap { b =>
        (JsonMethods.parse(b) \ "result" \ kind) match {
          case JArray(vs) => vs
          case _          => Nil
        }
      }.distinct
    val quarantinedHeights =
      failed.toIndexedSeq.flatMap(r => r.start to r.end).distinct
    if (quarantinedHeights.nonEmpty)
      graft.ingest.ErrorHeights.append(dataRoot, kind, quarantinedHeights)
    val dir = Paths.get(rawDir(kind))
    Files.createDirectories(dir)
    val path = dir.resolve(s"${start}_$end.json")
    Files.writeString(path, JsonMethods.compact(JArray(items.toList)))
    new WatermarkStore(rawDir(kind)).updateFromFiles()
    Pipeline.RawWrite(path.toString, chunksPlanned, badChunks.size,
      quarantinedHeights.size.toLong)
  }


  /** The reference's sync loop as ONE continuous streaming query:
    * `readStream.format("tendermint-rpc")` (offsets = block heights,
    * checkpointed — metadata.json retired) → page envelopes → parseBlocks
    * → hive-partitioned parsed zone. Trigger.AvailableNow drains to the
    * tip pinned at start and stops, so each invocation behaves like one
    * `make pipeline` run with streaming's bookkeeping.
    *
    * Exactly-once without a transactional file log: each micro-batch
    * overwrites its own `batch=<id>` subtree (the write is a
    * deterministic function of (batchId, data) — the
    * EventStream.runForeachBatchIdempotent pattern), and height windows
    * never overlap across batches, so a replayed batch lands in place
    * instead of appending duplicates. Readers just
    * `spark.read.parquet(zone)` — batch/year/month/day all come back as
    * partition columns and day-level pruning works unchanged. */
  def streamingSyncBlocks(fetcherClass: String, startHeight: Long = 1L,
      chunk: Long = 1000L, maxBlocksPerBatch: Long = 10000L)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import org.apache.spark.sql.types.{ArrayType, StructField, StructType}
    val envelope = StructType(Seq(StructField("result", StructType(Seq(
      StructField("blocks", ArrayType(Flatteners.blockSchema)))))))
    val zone = s"$parsedRoot/blocks_stream"
    spark.readStream.format("tendermint-rpc")
      .option("url", apiUrl).option("kind", "blocks")
      .option("start", startHeight).option("chunk", chunk)
      .option("maxBlocksPerBatch", maxBlocksPerBatch)
      .option("perPage", perPage)
      .option("fetcher", fetcherClass)
      .load()
      .writeStream
      .option("checkpointLocation", s"$dataRoot/checkpoints/blocks_sync")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        // persist first: this body runs TWO actions (ledger collect +
        // zone write), and a foreachBatch frame re-executes its source
        // per action — without the cache every micro-batch would fetch
        // its pages from the node twice
        val pages = batch.persist()
        try {
        // quarantined pages → error-height ledger, same as the batch
        // path (writeRaw): the offset commits past them, so without the
        // ledger the gap-fill planner could never recover those heights
        val failed = pages.filter(col("quarantined"))
          .select("start", "end").collect()
        if (failed.nonEmpty)
          graft.ingest.ErrorHeights.append(dataRoot, "blocks",
            failed.toIndexedSeq.flatMap(r => r.getLong(0) to r.getLong(1)).distinct)
        val raw = pages
          .filter(col("quarantined") === false && col("body").isNotNull)
          .select(org.apache.spark.sql.functions.explode(
            org.apache.spark.sql.functions.from_json(col("body"), envelope)
              .getField("result").getField("blocks")).as("b"))
          .select("b.*")
        Flatteners.parseBlocks(raw).drop("ts")
          // a mid-chunk per-page degrade can re-cover already-fetched
          // items (see writeRaw's distinct); heights are unique within
          // a batch window, so the height dedup absorbs the overlap
          .dropDuplicates("height")
          // same REBALANCE as writePartitioned: without it every task
          // writes a file into every day it touches
          .hint("rebalance", col("year"), col("month"), col("day"))
          .write.mode("overwrite")
          .partitionBy("year", "month", "day")
          .parquet(s"$zone/batch=$batchId")
        } finally pages.unpersist()
      }
      .start()
  }

  /** The tx half of the streaming sync: `readStream` over `/tx_search`
    * pages (same DSv2 source, `kind = txs`) → the three tx flatteners →
    * time-enriched, hive-partitioned zones, one streaming query feeding
    * ALL of tx_result/log_attributes/events — with streamingSyncBlocks
    * this makes the whole reference pipeline (both raw kinds) run as
    * streaming queries.
    *
    * Same exactly-once device as the blocks stream (each table overwrites
    * its own `batch=<id>` subtree; the error ledger is append-idempotent),
    * and the same broadcast bound as the batch parse stage: the
    * enrichment's blocks side is pruned to THIS batch's height window
    * (free from the page rows' start/end) before the broadcast join.
    * Page-overlap duplicates from a mid-chunk degrade collapse on the tx
    * hash — one raw tx feeds all three flatteners exactly once. */
  def streamingSyncTxs(fetcherClass: String, startHeight: Long = 1L,
      chunk: Long = 1000L, maxBlocksPerBatch: Long = 10000L,
      blocksZoneName: String = "blocks_stream")
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import org.apache.spark.sql.types.{ArrayType, StructField, StructType}
    val envelope = StructType(Seq(StructField("result", StructType(Seq(
      StructField("txs", ArrayType(Flatteners.txSchema)))))))
    spark.readStream.format("tendermint-rpc")
      .option("url", apiUrl).option("kind", "txs")
      .option("start", startHeight).option("chunk", chunk)
      .option("maxBlocksPerBatch", maxBlocksPerBatch)
      .option("perPage", perPage)
      .option("fetcher", fetcherClass)
      .load()
      .writeStream
      .option("checkpointLocation", s"$dataRoot/checkpoints/txs_sync")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        // persist first: this body runs FIVE actions (ledger + span +
        // three zone writes) and a foreachBatch frame re-executes its
        // source per action — without the cache each would re-fetch
        val pages = batch.persist()
        try {
          val failed = pages.filter(col("quarantined"))
            .select("start", "end").collect()
          if (failed.nonEmpty)
            graft.ingest.ErrorHeights.append(dataRoot, "txs",
              failed.toIndexedSeq.flatMap(r => r.getLong(0) to r.getLong(1)).distinct)
          // the batch's height window bounds the enrichment broadcast —
          // the streaming analog of the batch path's filename-span prune
          val spanRow = pages.agg(
            org.apache.spark.sql.functions.min("start"),
            org.apache.spark.sql.functions.max("end")).head()
          val span =
            if (spanRow.isNullAt(0)) None
            else Some((spanRow.getLong(0), spanRow.getLong(1)))
          val blocks = enrichmentBlocks(span, blocksZoneName)
          val rawAll = pages
            .filter(col("quarantined") === false && col("body").isNotNull)
            .select(org.apache.spark.sql.functions.explode(
              org.apache.spark.sql.functions.from_json(col("body"), envelope)
                .getField("result").getField("txs")).as("t"))
            .select("t.*")
          // a mid-chunk degrade can re-cover already-fetched txs (see
          // writeRaw's distinct); the chain tx hash is the natural key.
          // NULL hashes (malformed envelope rows) bypass the dedup:
          // dropDuplicates treats nulls as equal and would silently
          // collapse every null-hash row to one
          val raw = rawAll.filter(col("hash").isNotNull).dropDuplicates("hash")
            .unionByName(rawAll.filter(col("hash").isNull))
          def land(df: DataFrame, table: String): Unit =
            enrich(df, blocks, hintBroadcast = span.isDefined)
              .hint("rebalance", col("year"), col("month"), col("day"))
              .write.mode("overwrite")
              .partitionBy("year", "month", "day")
              .parquet(s"$parsedRoot/${table}_stream/batch=$batchId")
          land(Flatteners.parseTxResult(raw), "tx_result")
          land(Flatteners.parseLogAttributes(raw), "log_attributes")
          land(Flatteners.parseEventsWide(raw), "events")
        } finally pages.unpersist()
      }
      .start()
  }

  /** Parse stage (parse.py:202-226): manifest-filtered raw files →
    * 4 flatteners → time-enriched hive-partitioned parquet. */
  def parse(): Unit = {
    val manifest = new Manifest(parsedRoot)

    def newFiles(kind: String): Seq[String] = {
      val dir = Paths.get(rawDir(kind))
      val all =
        if (!Files.isDirectory(dir)) Nil
        else {
          val stream = Files.list(dir) // close: leaks a directory fd per call
          try stream.iterator().asScala.map(_.getFileName.toString)
            .filter(n => n.endsWith(".json") && n != "metadata.json").toSeq.sorted
          finally stream.close()
        }
      manifest.newFiles(all, kind)
    }

    val blockFiles = newFiles("blocks")
    val txFiles = newFiles("txs")
    if (blockFiles.isEmpty && txFiles.isEmpty) return

    // raw files are single JSON arrays (orjson list dump) → multiLine
    if (blockFiles.nonEmpty) {
      val rawBlocks = spark.read.schema(Flatteners.blockSchema)
        .option("multiLine", "true")
        .json(blockFiles.map(f => s"${rawDir("blocks")}/$f"): _*)
      Flatteners.writePartitioned(
        Flatteners.parseBlocks(rawBlocks).drop("ts"), s"$parsedRoot/blocks")
      // record immediately after a successful write: a crash between
      // table writes must not leave files half-recorded
      manifest.record(blockFiles, "blocks")
    }

    if (txFiles.nonEmpty) {
      // enrichment joins the parsed blocks zone, not just this batch's
      // new block files: tx files can arrive in a later batch than
      // their blocks (gap-fill, partial-failure replay), and a
      // batch-local join would strand those rows with null day/month/
      // year in the hive default partition. On a first run / replay
      // where tx files precede any blocks batch, the zone doesn't exist
      // yet — enrich against an empty frame so tx rows land with null
      // time columns (the documented late-blocks behavior) instead of
      // failing the whole parse stage on the missing path.
      //
      // The zone is NOT joined whole: blocks grow with chain height
      // forever, and enrichTime broadcasts its blocks side — an
      // unbounded broadcast at scale. The tx batch's height span is
      // free from the raw filenames (`{start}_{end}.json`), so the
      // blocks scan is pruned to that span FIRST: the broadcast is
      // bounded by the batch window, and the height range predicate
      // pushes down to the parquet scan (row-group pruning).
      val txSpan = Pipeline.fileHeightSpan(txFiles)
      val allBlocks = enrichmentBlocks(txSpan)
      // per-TABLE manifest keys ("txs:<table>") make the three appends
      // retry-idempotent as a group: Flow retries parse() whole, and
      // with one umbrella record after all three writes, a crash
      // between the first land and the record would re-append the
      // already-landed tables. Each table records right after its own
      // write, so a retry resumes exactly the tables that didn't
      // finish; the legacy umbrella "txs" record (kept for the
      // manifest's what-is-parsed surface and old manifests) lands
      // only after all three.
      Pipeline.txTables.foreach { case (table, parseF) =>
        val pending = manifest.newFiles(txFiles, s"txs:$table")
        if (pending.nonEmpty) {
          val rawTxs = spark.read.schema(Flatteners.txSchema)
            .option("multiLine", "true")
            .json(pending.map(f => s"${rawDir("txs")}/$f"): _*)
          // if no filename bounded the span (foreign files in the raw
          // dir), the blocks side is the whole zone — skip the broadcast
          // hint and let AQE pick the strategy from the real size
          Flatteners.writePartitioned(
            enrich(parseF(rawTxs), allBlocks, hintBroadcast = txSpan.isDefined),
            s"$parsedRoot/$table")
          manifest.record(pending, s"txs:$table")
        }
      }
      manifest.record(txFiles, "txs")
    }
  }

  /** A parse-stage output as landed: time-enriched, without `ts`. */
  private def enrich(table: DataFrame, blocks: DataFrame,
      hintBroadcast: Boolean = true): DataFrame =
    Flatteners.enrichTime(table, blocks, hintBroadcast).drop("ts")

  /** The schema each static parsed table reads back with: the frame
    * parse() lands, hive partition columns last, as strings (partition
    * type inference is off). Derived by analysing the flatteners over
    * empty frames, so reading a zone needs no footer-inference job.
    * `events` has none: its pivot columns depend on the data. */
  private[graft] lazy val zoneSchemas: Map[String, StructType] = {
    def empty(schema: StructType) = spark.createDataFrame(java.util.List.of[Row](), schema)
    val blocks = Flatteners.parseBlocks(empty(Flatteners.blockSchema))
    val txs = empty(Flatteners.txSchema)
    val landed = ("blocks" -> blocks.drop("ts")) +: Pipeline.txTables
      .filter { case (t, _) => Pipeline.staticTables.contains(t) }
      .map { case (t, parseF) => t -> enrich(parseF(txs), blocks) }
    landed.map { case (t, df) =>
      val data = df.schema.filterNot(f => Flatteners.partitionCols.contains(f.name))
      val parts = Flatteners.partitionCols.map(StructField(_, StringType))
      t -> StructType((data ++ parts).map(_.copy(nullable = true)))
    }.toMap
  }

  /** A static parsed table as of this call, read with its known schema:
    * the frame's file list is fixed here, so files a later parse()
    * appends stay invisible to it. Empty while the zone doesn't exist,
    * and for a zone dir with no parquet files yet (a zero-row write
    * leaves only `_SUCCESS`): nothing is inferred from footers. */
  private def readZone(table: String, dir: String): DataFrame = {
    val schema = zoneSchemas(table)
    val path = s"$parsedRoot/$dir"
    if (Files.isDirectory(Paths.get(path))) spark.read.schema(schema).parquet(path)
    else spark.createDataFrame(java.util.List.of[Row](), schema)
  }

  /** The blocks frame the time-enrichment joins: the parsed blocks zone
    * pruned to the tx batch's height span (pushed to the parquet scan).
    * Package-visible so PipelineSpec can audit the pruning. */
  private[graft] def enrichmentBlocks(txSpan: Option[(Long, Long)],
      zoneName: String = "blocks"): DataFrame = {
    val zone = readZone("blocks", zoneName).withColumn("ts", to_timestamp(col("time")))
    txSpan.fold(zone) { case (lo, hi) => zone.filter(col("height").between(lo, hi)) }
  }

  /** Model stage (dbt run analog): build the given SQL model DAG over the
    * parsed zone. Each parsed table registers as a temp view of the
    * zone's files as of this call, and `{{ source("parsed", t) }}` binds
    * to it: the bundled parsed models are views over these snapshots,
    * not copies of the zone (DIVERGENCES.md #9). */
  def runModels(models: Seq[Model]): Map[String, DataFrame] = {
    Pipeline.staticTables.foreach(t => readZone(t, t).createOrReplaceTempView(t))
    // events' pivot columns are data-dependent (parse.py:177-179): each
    // appended batch may carry a different column set, so the read must
    // union footers (mergeSchema) or a later batch's new event types
    // silently vanish behind one file's schema. A zone whose every batch
    // was empty has no footers to merge — it stays unregistered.
    val events = s"$parsedRoot/events"
    if (Files.isDirectory(Paths.get(events)))
      try spark.read.option("mergeSchema", "true").parquet(events)
        .createOrReplaceTempView("events")
      catch { case _: AnalysisException => () }
    val sources = (Pipeline.staticTables :+ "events").map(t => ("parsed", t) -> t).toMap
    new ModelRunner(spark, sources).run(models)
  }

  /** Gap-fill stage (Q3 — left dormant in the reference,
    * pipelines/pipeline.py:99-109/120-123; wired into the flow here per
    * SURVEY §2.10): re-extract the per-kind quarantined heights from
    * the error ledger as contiguous ranges.
    *
    * Claim-then-refetch: claimed heights leave the ledger BEFORE the
    * fetch, and a still-failing page re-appends its missing heights
    * through writeRaw's normal quarantine path — healed heights clear,
    * persistent failures stay (and never loop within one run). A crash
    * between claim and fetch drops the claim — the same at-least-once
    * window the reference's dormant loop had; the raw-zone coverage
    * diff (expected heights ∖ landed heights, the J3 anti-join) remains
    * the recovery net. Refetched file names are un-recorded from the
    * parse manifest so a name collision with an already-parsed file
    * (only possible when that parse landed nothing for these heights)
    * cannot stop the next parse() from consuming the refetched
    * content. Returns the refetched ranges per kind.
    *
    * When a `flow` is supplied, refetch/re-quarantine counts are
    * recorded as stage counters. Unlike the sync/backfill extracts,
    * 100% re-quarantine here does NOT fail the stage: gap-fill's input
    * is exactly the heights that already failed once, so a persistent
    * bad height (the degrade path's terminal case) would otherwise
    * make every future run red — the counter is the signal. */
  def gapFill(flow: Option[Flow] = None): Map[String, Seq[(Long, Long)]] =
    Seq("blocks", "txs").map { kind =>
      val gaps = graft.ingest.ErrorHeights.read(dataRoot, kind)
      val ranges = RangePlanner.gapFillRanges(gaps)
      if (gaps.nonEmpty) {
        graft.ingest.ErrorHeights.remove(dataRoot, kind, gaps)
        // restore the claim if the refetch dies mid-way: without this a
        // transient failure here (or a retry wrapper around the stage)
        // would drop the claimed heights on the floor and the retry
        // would no-op against an empty ledger — masking the loss as
        // success. Re-appending is idempotent against whatever subset
        // the partial run already re-quarantined, and every refetch
        // output is overwrite-in-place, so retry-after-restore converges.
        try {
          val written = ranges.map { case (s, e) => extractRange(kind, s, e) }
          flow.foreach { f =>
            f.count(s"${kind}_ranges_refetched", written.size.toLong)
            f.count(s"${kind}_chunks_requarantined",
              written.map(_.chunksQuarantined.toLong).sum)
            f.count(s"${kind}_heights_requarantined",
              written.map(_.heightsQuarantined).sum)
          }
          new Manifest(parsedRoot).forget(
            written.map(w => Paths.get(w.path).getFileName.toString), kind)
        } catch {
          case e: Throwable =>
            graft.ingest.ErrorHeights.append(dataRoot, kind, gaps)
            throw e
        }
      }
      kind -> ranges
    }.toMap

  /** The full flow (pipeline.py:115-131): sync newest → backfill older
    * chunks → gap-fill quarantined heights → parse → models.
    * `tip`/`chainFloor` come from the node client in production;
    * injected here. */
  def run(tip: Long, chainFloor: Long, numBlocks: Long,
      models: Seq[Model]): Map[String, DataFrame] =
    runWithReport(tip, chainFloor, numBlocks, models)._1

  /** [[run]] with the flow-observability report: each stage is a
    * [[Flow]] task (bounded retry + timing), mirroring what the
    * reference's `@prefect.task` decorations get from Prefect's
    * runtime. Retries cover failures Spark's own task retry cannot see
    * (driver-side HTTP, FS metadata ops, transient SQL); every stage is
    * idempotent (overwrite-by-range, versioned state, manifest-gated
    * parse), so a retried or rerun stage converges. */
  def runWithReport(tip: Long, chainFloor: Long, numBlocks: Long,
      models: Seq[Model], retries: Int = 2, backoffMs: Long = 500)
      : (Map[String, DataFrame], Flow) = {
    val flow = new Flow(retries, backoffMs)
    val blocksWs = new WatermarkStore(rawDir("blocks"))

    val (syncStart, syncEnd) = stage(flow, "determine_sync_range")(
      RangePlanner.syncRange(tip, chainFloor, blocksWs.maxHeightFromFiles, numBlocks))
    stage(flow, "extract_sync") {
      // an unchanged tip yields an inverted (start > end) plan — a
      // no-op sync, NOT a fetch: extracting it would write a junk
      // `{tip+1}_{tip}.json` pair per idle run and feed pointless RPC
      // probes into every parse
      if (syncStart <= syncEnd)
        noteExtracts(flow, Seq(
          extractRange("blocks", syncStart, syncEnd),
          extractRange("txs", syncStart, syncEnd)))
    }

    val (bfStart, bfEnd) = stage(flow, "determine_backfill_range")(
      RangePlanner.backfillRange(chainFloor, blocksWs.minHeightFromFiles, numBlocks))
    stage(flow, "extract_backfill") {
      noteExtracts(flow,
        RangePlanner.backfillChunks(bfStart, bfEnd, numBlocks).flatMap {
          case (s, e) => Seq(
            extractRange("blocks", s, e),
            extractRange("txs", s, e))
        })
    }

    stage(flow, "gap_fill")(gapFill(Some(flow)))

    stage(flow, "parse_data")(parse())
    (stage(flow, "run_models")(runModels(models)), flow)
  }

  /** A [[Flow]] task whose Spark jobs carry `pipeline.<name>` as their
    * job description, so the UI and any listener can tell which stage
    * ran a job. */
  private def stage[T](flow: Flow, name: String)(body: => T): T =
    flow.task(name) {
      val sc = spark.sparkContext
      val outer = sc.getLocalProperty("spark.job.description")
      sc.setJobDescription(s"pipeline.$name")
      try body finally sc.setJobDescription(outer)
    }

  /** Quarantine accounting for an extract stage: counts into the flow
    * report, and a LOUD failure when EVERY planned chunk quarantined —
    * a fully unreachable node used to produce a "successful" run with
    * empty output and all heights ledgered, its only signal log lines
    * and ledger growth. Partial quarantine stays a success (that is
    * the degrade contract — gap-fill owns the ledgered heights); total
    * quarantine is indistinguishable from "the node is down" and must
    * fail the stage so Flow's retry/backoff gets a chance and the run
    * goes red instead of silently empty. */
  private def noteExtracts(flow: Flow, ws: Seq[Pipeline.RawWrite]): Unit = {
    val planned = ws.map(_.chunksPlanned.toLong).sum
    val bad = ws.map(_.chunksQuarantined.toLong).sum
    flow.count("chunks_planned", planned)
    flow.count("chunks_quarantined", bad)
    flow.count("heights_quarantined", ws.map(_.heightsQuarantined).sum)
    if (Pipeline.fullyQuarantined(planned, bad))
      throw new IllegalStateException(
        s"extract stage quarantined ALL $planned chunk(s) — node unreachable " +
          "or every count probe failed; heights are ledgered for gap-fill " +
          "but this run produced no output")
  }
}

object Pipeline {
  /** The tx-derived parsed tables in landing order, with their flatteners. */
  private val txTables: Seq[(String, DataFrame => DataFrame)] = Seq(
    "tx_result" -> (Flatteners.parseTxResult(_)),
    "log_attributes" -> (Flatteners.parseLogAttributes(_)),
    "events" -> (Flatteners.parseEventsWide(_)))

  /** The parsed tables whose columns are fixed by their flattener. */
  val staticTables: Seq[String] = Seq("blocks", "tx_result", "log_attributes")

  /** Outcome of one raw-zone extract: the landed `{start}_{end}.json`
    * path plus quarantine accounting. A run with quarantined chunks is
    * still a "successful" write (the heights are ledgered for gap-fill),
    * so callers that need a loud signal — rather than log lines and
    * ledger growth — read the counts here. */
  final case class RawWrite(path: String, chunksPlanned: Int,
      chunksQuarantined: Int, heightsQuarantined: Long) {
    /** Every planned chunk quarantined — the fully-unreachable-node
      * shape: zero output, everything ledgered. */
    def fullyQuarantined: Boolean =
      Pipeline.fullyQuarantined(chunksPlanned.toLong, chunksQuarantined.toLong)
  }

  /** THE definition of "fully quarantined" — shared by the per-write
    * accessor above and the stage-level gate in noteExtracts, so the
    * enforced predicate can't drift from the reported one. */
  def fullyQuarantined(planned: Long, quarantined: Long): Boolean =
    planned > 0 && quarantined >= planned

  /** Inclusive height span covered by a batch of raw `{start}_{end}.json`
    * files — the filename contract writeRaw pins (extract.py:186-192).
    * Driver-side and free: this is what bounds the parse stage's
    * time-enrichment broadcast to the batch window instead of the whole
    * (ever-growing) blocks zone.
    *
    * Returns None unless EVERY filename parses: a partial span computed
    * from only the conforming files could exclude the blocks that a
    * non-conforming file's txs need, silently stranding those rows with
    * null time columns — when any filename is foreign, the caller falls
    * back to the unpruned zone (and skips the broadcast hint). */
  def fileHeightSpan(files: Seq[String]): Option[(Long, Long)] = {
    val spans = files.map { n =>
      n.stripSuffix(".json").split("_") match {
        case Array(a, b) =>
          for {
            lo <- scala.util.Try(a.toLong).toOption
            hi <- scala.util.Try(b.toLong).toOption
          } yield (lo, hi)
        case _ => None
      }
    }
    if (spans.isEmpty || spans.exists(_.isEmpty)) None
    else Some((spans.flatten.map(_._1).min, spans.flatten.map(_._2).max))
  }
}
