package graft.pipeline

import java.nio.file.{Files, Paths}
import java.nio.file.StandardCopyOption.{ATOMIC_MOVE, REPLACE_EXISTING}
import java.util.concurrent.{ExecutionException, Executors, Future}

import scala.collection.immutable.SeqMap
import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.sql.{AnalysisException, DataFrame, GraftBridge, Row, SparkSession}
import org.apache.spark.sql.functions.{col, to_timestamp}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.internal.SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES
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
    // traded for never silently losing a multi-item height.
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
    val heightsQuarantined = ledger(kind, failed.toIndexedSeq.map(r => (r.start, r.end)))
    val dir = Paths.get(rawDir(kind))
    Files.createDirectories(dir)
    val path = dir.resolve(s"${start}_$end.json")
    // temp + atomic rename: a crash mid-write leaves no torn file under
    // the name parse reads (the temp name is not a `.json` file)
    Files.move(Files.writeString(dir.resolve(s".${start}_$end.json.tmp"),
      JsonMethods.compact(JArray(items.toList))), path, ATOMIC_MOVE, REPLACE_EXISTING)
    new WatermarkStore(rawDir(kind)).updateFromFiles()
    Pipeline.RawWrite(path.toString, chunksPlanned, badChunks.size, heightsQuarantined)
  }

  /** Quarantined spans → the per-kind error-height ledger, which
    * gap-fill reads back; returns the number of heights ledgered. */
  private def ledger(kind: String, spans: Seq[(Long, Long)]): Long = {
    val heights = spans.flatMap { case (s, e) => s to e }.distinct
    graft.ingest.ErrorHeights.append(dataRoot, kind, heights)
    heights.size.toLong
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
    // raw files are single JSON arrays (orjson list dump) → multiLine;
    // FAILFAST: a document that does not parse fails the stage, where the
    // default mode would land its prefix plus an all-null row
    def read(kind: String, files: Seq[String]): DataFrame =
      spark.read.schema(Pipeline.rawSchema(kind)).option("multiLine", "true")
        .option("mode", "FAILFAST").json(files.map(f => s"${rawDir(kind)}/$f"): _*)
    // raw bytes that fit one AQE advisory partition: AQE would coalesce
    // the write's rebalance to one task anyway, so write with one task
    def oneTask(kind: String, files: Seq[String]): Boolean =
      files.map(f => Files.size(Paths.get(rawDir(kind), f))).sum <=
        spark.sessionState.conf.getConf(ADVISORY_PARTITION_SIZE_IN_BYTES)

    val blockFiles = newFiles("blocks")
    if (blockFiles.nonEmpty) {
      write("blocks", Flatteners.parseBlocks(read("blocks", blockFiles)), oneTask("blocks", blockFiles))
      // record immediately after a successful write: a crash between
      // table writes must not leave files half-recorded
      manifest.record(blockFiles, "blocks")
    }

    val txFiles = newFiles("txs")
    if (txFiles.nonEmpty) {
      // The tx batch's height span is free from the raw filenames
      // (`{start}_{end}.json`); landTxs prunes the enrichment's blocks
      // side to it (see enrichmentBlocks).
      val span = Pipeline.fileHeightSpan(txFiles)
      // per-TABLE manifest keys ("txs:<table>") make the three appends
      // retry-idempotent as a group: Flow retries parse() whole, and
      // with one umbrella record after all three writes, a failure
      // between the first land and the record would re-append the
      // already-landed tables. Each table records right after its own
      // write, so a retry resumes exactly the tables that didn't
      // finish — normally all three share one pending set and one
      // read; a resumed retry reads once per distinct set. The legacy
      // umbrella "txs" record (kept for the manifest's what-is-parsed
      // surface and old manifests) lands only after all three.
      val pending = Pipeline.txTables.keys.toSeq
        .map(t => t -> manifest.newFiles(txFiles, s"txs:$t")).filter(_._2.nonEmpty)
      pending.map(_._2).distinct.foreach { files =>
        val tables = pending.collect { case (t, `files`) => t }
        landTxs(read("txs", files), tables, span, span.isDefined && oneTask("txs", files))(t =>
          manifest.record(files, s"txs:$t"))
      }
      manifest.record(txFiles, "txs")
    }
  }

  /** Land one raw tx batch as `tables`: the raw frame is persisted once
    * and every table flattens from it, time-enriched against one blocks
    * frame (the blocks zone pruned to `span`, collected once into local
    * rows on a pool thread). The tables are built on the caller's
    * thread, where the events flattener's key collect is the one job
    * that reads the raw batch: the persisted frame is built before the
    * writes fan out over it. They land concurrently, one thread each,
    * and `landed(table)` runs right after that table's own write. Waits
    * for every table, then rethrows the first failure's own cause; the
    * tables that landed stay landed.
    *
    * A `oneTask` batch runs each table as one job of one task: the
    * events occurrences are numbered and the blocks joined inside the
    * write's task, so no shuffle or broadcast job runs.
    *
    * The pool is made here, per call: its threads inherit the caller's
    * Spark local properties (the stage's job description) when they
    * start, and end with the call. */
  private def landTxs(raw: DataFrame, tables: Seq[String], span: Option[(Long, Long)],
      oneTask: Boolean)(landed: String => Unit): Unit = {
    val cached = raw.persist()
    val pool = Executors.newFixedThreadPool(tables.size)
    def await[T](f: Future[T]): T = try f.get() catch { case e: ExecutionException => throw e.getCause }
    // an unbounded span (a foreign file name in the raw dir) joins the
    // whole blocks zone: no broadcast hint, AQE picks the strategy from
    // the real size
    val blocks = pool.submit[DataFrame] { () =>
      val zone = enrichmentBlocks(span)
      if (span.isEmpty) zone else spark.createDataFrame(zone.collect().toSeq.asJava, zone.schema)
    }
    try {
      val flats = tables.map(t => t -> Pipeline.txTables(t)(cached, oneTask))
      val writes = flats.map { case (t, flat) =>
        pool.submit[Unit] { () =>
          write(t, Flatteners.enrichTime(flat, await(blocks), span.isDefined, oneTask), oneTask)
          landed(t)
        }
      }
      writes.flatMap(w => Try(await(w)).failed.toOption).headOption.foreach(throw _)
    } finally {
      Try(blocks.get())
      pool.shutdown()
      cached.unpersist()
    }
  }

  /** The one writer of the parsed zone: `flat` hive-partitioned and
    * appended to `<table>`, by one task when `oneTask`. */
  private def write(table: String, flat: DataFrame, oneTask: Boolean): Unit = {
    val rows = flat.drop("ts")
    if (table == "events") eventsLanded ++= rows.columns
    Flatteners.writePartitioned(rows, s"$parsedRoot/$table", oneTask)
  }

  /** Every column of an events batch this Pipeline landed. */
  @volatile private var eventsLanded = Set.empty[String]

  /** The schema each static parsed table reads back with: the frame
    * [[write]] lands, hive partition columns last, as strings (partition
    * type inference is off). Derived by analysing the flatteners over
    * empty frames, so reading a zone needs no footer-inference job.
    * `events` has none: its pivot columns depend on the data. */
  private[graft] lazy val zoneSchemas: Map[String, StructType] = {
    def empty(kind: String) =
      spark.createDataFrame(java.util.List.of[Row](), Pipeline.rawSchema(kind))
    val blocks = Flatteners.parseBlocks(empty("blocks"))
    Pipeline.staticTables.map { t =>
      val landed = Pipeline.txTables.get(t)
        .fold(blocks)(parseF => Flatteners.enrichTime(parseF(empty("txs"), false), blocks))
      val data = landed.drop("ts").schema
        .filterNot(f => Flatteners.partitionCols.contains(f.name))
      val parts = Flatteners.partitionCols.map(StructField(_, StringType))
      t -> StructType((data ++ parts).map(_.copy(nullable = true)))
    }.toMap
  }

  /** A static parsed table as of this call, read with its known schema:
    * the frame's file list is fixed here, so files a later parse()
    * appends stay invisible to it. Empty while the zone doesn't exist,
    * and for a zone dir with no parquet files yet (a zero-row write
    * leaves only `_SUCCESS`): nothing is inferred from footers. */
  private def readZone(table: String): DataFrame = {
    val schema = zoneSchemas(table)
    val path = s"$parsedRoot/$table"
    if (Files.isDirectory(Paths.get(path))) spark.read.schema(schema).parquet(path)
    else spark.createDataFrame(java.util.List.of[Row](), schema)
  }

  /** The blocks frame the time-enrichment joins: the parsed blocks zone
    * pruned to the tx batch's height span (pushed to the parquet scan).
    *
    * The zone, not just this batch's new block files: tx files can
    * arrive in a later batch than their blocks (gap-fill, partial-failure
    * replay), and a batch-local join would strand those rows with null
    * day/month/year in the hive default partition. Where the zone
    * doesn't exist yet (tx files before any blocks batch) it is empty,
    * so tx rows land with null time columns — the documented
    * late-blocks behavior — instead of failing the stage. It is NOT
    * joined whole: blocks grow with chain height forever and enrichTime
    * broadcasts its blocks side, so the span bounds the broadcast to the
    * batch window and the height predicate prunes row groups.
    * Package-visible so PipelineSpec can audit the pruning. */
  private[graft] def enrichmentBlocks(txSpan: Option[(Long, Long)]): DataFrame = {
    val zone = readZone("blocks").withColumn("ts", to_timestamp(col("time")))
    txSpan.fold(zone) { case (lo, hi) => zone.filter(col("height").between(lo, hi)) }
  }

  /** Model stage (dbt run analog): build the given SQL model DAG over the
    * parsed zone. Each parsed table registers as a temp view of the
    * zone's files as of this call, and `{{ source("parsed", t) }}` binds
    * to it: the bundled parsed models are views over these snapshots,
    * not copies of the zone (DIVERGENCES.md #9).
    *
    * The DAG is built once and then refreshed in place: a later call
    * with the same all-`view` models relists the held source frames'
    * files and returns new frames over the held plans — no read, no
    * view registration, no job — as long as every source is a file
    * relation, the session's temp views are still the ones this build
    * registered, and no events batch landed since has a column the
    * events view lacks. Anything else rebuilds. */
  def runModels(models: Seq[Model]): Map[String, DataFrame] = held match {
    case Some(h) if h.models == models && eventsLanded.subsetOf(h.sources("events").columns.toSet)
        && h.views.forall { case (n, v) => tempView(n).exists(_ eq v) } =>
      h.sources.values.foreach(_.queryExecution.analyzed.refresh())
      // new frames over the held plans: an action on a frame plans its
      // file list once, so a frame acted on before would stay stale
      h.out.view.mapValues(GraftBridge.rebind(spark, _)).toMap
    case _ =>
      // events' pivot columns are data-dependent (parse.py:177-179): each
      // appended batch may carry a different column set, so the read must
      // union footers (mergeSchema) or a later batch's new event types
      // silently vanish behind one file's schema. A zone whose every batch
      // was empty has no footers to merge — it stays unregistered.
      val events = Some(s"$parsedRoot/events").filter(p => Files.isDirectory(Paths.get(p)))
        .flatMap(p => try Some(spark.read.option("mergeSchema", "true").parquet(p))
          catch { case _: AnalysisException => None })
      val sources = Pipeline.staticTables.map(t => t -> readZone(t)).toMap ++ events.map("events" -> _)
      sources.foreach { case (t, df) => df.createOrReplaceTempView(t) }
      val parsed = (Pipeline.staticTables :+ "events").map(t => ("parsed", t) -> t).toMap
      val out = new ModelRunner(spark, parsed).run(models)
      val files = sources.values.forall(_.queryExecution.analyzed.isInstanceOf[LogicalRelation])
      held = Option.when(files && events.nonEmpty && models.forall(_.materialization == "view"))(
        Pipeline.Held(models, sources, out,
          (sources.keys ++ out.keys).flatMap(n => tempView(n).map(n -> _)).toMap))
      out
  }

  /** The last [[runModels]] build, while a later call may refresh it. */
  private var held: Option[Pipeline.Held] = None

  private def tempView(name: String): Option[AnyRef] =
    spark.sessionState.catalog.getRawTempView(name)

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
    if (planned > 0 && bad >= planned)
      throw new IllegalStateException(
        s"extract stage quarantined ALL $planned chunk(s) — node unreachable " +
          "or every count probe failed; heights are ledgered for gap-fill " +
          "but this run produced no output")
  }
}

object Pipeline {
  /** The tx-derived parsed tables in landing order, with their flatteners
    * of a raw batch, given whether one task writes it. */
  private val txTables: SeqMap[String, (DataFrame, Boolean) => DataFrame] = SeqMap(
    "tx_result" -> ((raw, _) => Flatteners.parseTxResult(raw)),
    "log_attributes" -> ((raw, _) => Flatteners.parseLogAttributes(raw)),
    "events" -> (Flatteners.parseEventsWide(_, _)))

  /** A [[runModels]] build: its models, the source frames it registered,
    * its output and every temp view it left in the session. */
  private final case class Held(models: Seq[Model], sources: Map[String, DataFrame],
      out: Map[String, DataFrame], views: Map[String, AnyRef])

  /** The parsed tables whose columns are fixed by their flattener. */
  val staticTables: Seq[String] = Seq("blocks", "tx_result", "log_attributes")

  /** The row schema of a raw kind's items. */
  private def rawSchema(kind: String): StructType =
    if (kind == "blocks") Flatteners.blockSchema else Flatteners.txSchema

  /** Outcome of one raw-zone extract: the landed `{start}_{end}.json`
    * path plus quarantine accounting. A run with quarantined chunks is
    * still a "successful" write (the heights are ledgered for gap-fill),
    * so callers that need a loud signal — rather than log lines and
    * ledger growth — read the counts here. */
  final case class RawWrite(path: String, chunksPlanned: Int,
      chunksQuarantined: Int, heightsQuarantined: Long)

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
