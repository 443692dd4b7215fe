package graft.ingest

import scala.util.Try

import org.apache.spark.sql.{Dataset, SparkSession}
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Chain-node envelope parsing + the distributed paginated fetch harness
  * (reference extract.py: S1 paginated scan :48-105, S2 adaptive
  * page-size degrade :81-101, S4 async fan-out :295-316/338-406,
  * S5 tip/floor discovery :498-514).
  *
  * Spark realization: the height range is partitioned into inclusive
  * [[HeightChunk]]s on the driver (the predicate pushdown — each chunk
  * becomes the RPC query `tx.height>={start} AND tx.height<={end}`), and
  * chunks fan out as `Dataset[HeightChunk].mapPartitions(fetch)` — task
  * parallelism replaces the reference's asyncio semaphore. The HTTP call
  * is a pluggable `String => String` so the harness is testable in this
  * zero-egress container; production wires `java.net.http`.
  */
object ChainClient {

  /** `/abci_info` → result.response.last_block_height (string int,
    * extract.py:509-514). */
  def parseTip(json: String): Long =
    (JsonMethods.parse(json) \ "result" \ "response" \ "last_block_height") match {
      case JString(s) => s.toLong
      case JInt(i)    => i.toLong
      case other => throw new IllegalArgumentException(s"bad abci_info envelope: $other")
    }

  /** `/block?height=1` → 1 if `result` present, else the last word of
    * error.data ("... lowest height is 42" → 42, extract.py:498-507). */
  def parseChainFloor(json: String): Long = {
    val parsed = JsonMethods.parse(json)
    parsed \ "result" match {
      case JNothing =>
        parsed \ "error" \ "data" match {
          case JString(msg) => msg.split(' ').last.toLong
          case other => throw new IllegalArgumentException(s"bad error envelope: $other")
        }
      case _ => 1L
    }
  }

  /** `total_count` is a string in RPC envelopes (extract.py:72-78). */
  def parseTotalCount(json: String): Long =
    (JsonMethods.parse(json) \ "result" \ "total_count") match {
      case JString(s) => s.toLong
      case JInt(i)    => i.toLong
      case other => throw new IllegalArgumentException(s"bad count envelope: $other")
    }
}

/** Inclusive height range fetched by one task. */
final case class HeightChunk(start: Long, end: Long)

/** One page fetch outcome: raw JSON payload or a quarantined failure. */
final case class FetchResult(
    start: Long, end: Long, page: Int, perPage: Int,
    body: Option[String], quarantined: Boolean)

object Fetch {

  /** Chain-tip probe endpoint (extract.py:509). */
  def abciInfoUrl(api: String): String = s"$api/abci_info"

  /** RPC page URLs (extract.py:150, 169). */
  def txSearchUrl(api: String, start: Long, end: Long, page: Int, perPage: Int): String =
    s"""$api/tx_search?query="tx.height>=$start AND tx.height<=$end"&page=$page&per_page=$perPage&order_by="asc""""

  def blockSearchUrl(api: String, start: Long, end: Long, page: Int, perPage: Int): String =
    s"""$api/block_search?query="block.height>=$start AND block.height<=$end"&page=$page&per_page=$perPage&order_by="asc""""

  /** Cosmos LCD REST endpoint (extract.py:161 — offset/limit pagination;
    * the reference notes RPC is ~50× faster for these queries). */
  def lcdTxsUrl(api: String, start: Long, end: Long, page: Int, perPage: Int): String =
    s"$api/cosmos/tx/v1beta1/txs?events=tx.height>=$start&events=tx.height<=$end" +
      s"&pagination.offset=${(page - 1).toLong * perPage}&pagination.limit=$perPage" +
      "&pagination.count_total=true&order_by=ORDER_BY_ASC"

  /** LCD envelope: parallel `txs` + `tx_responses` arrays zipped into one
    * struct per transaction (extract.py:107-141 collects the two lists
    * side by side; the zip is the relational equivalent). Returns
    * compact-rendered `{"tx":…,"tx_response":…}` JSON strings. */
  def zipLcdPage(json: String): Seq[String] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val parsed = JsonMethods.parse(json)
    val txs = parsed \ "txs" match { case JArray(vs) => vs; case _ => Nil }
    val rsps = parsed \ "tx_responses" match { case JArray(vs) => vs; case _ => Nil }
    require(txs.size == rsps.size,
      s"LCD arrays out of sync: ${txs.size} txs vs ${rsps.size} tx_responses")
    txs.zip(rsps).map { case (t, r) =>
      JsonMethods.compact(JObject("tx" -> t, "tx_response" -> r))
    }
  }

  /** LCD `pagination.total` (a string count of matching txs). */
  def parseLcdTotal(json: String): Long = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    (JsonMethods.parse(json) \ "pagination" \ "total") match {
      case JString(s) => s.toLong
      case JInt(i)    => i.toLong
      case other => throw new IllegalArgumentException(s"bad LCD envelope: $other")
    }
  }

  /** Partition an inclusive range into fetch chunks (the source-side
    * predicate pushdown: ranges ARE the predicate). */
  def chunks(start: Long, end: Long, chunkSize: Long): Seq[HeightChunk] = {
    require(chunkSize > 0)
    (start to end by chunkSize).map(s => HeightChunk(s, math.min(s + chunkSize - 1, end)))
  }

  /** Fetch every page of one chunk with the reference's adaptive degrade
    * (extract.py:81-101): on an unparseable/oversized response, halve
    * per_page and recompute the current page from items already fetched;
    * below per_page 1, quarantine the failing ITEM and keep fetching the
    * rest of the chunk — a single poison item must not block its whole
    * span forever (a gap-fill refetch of the span re-lands every good
    * item and re-quarantines only the poison one; the raw-zone sink
    * dedups re-landed items structurally).
    *
    * "Unparseable" is checked HERE, not left to the sink: a node/proxy
    * that answers 200 with a truncated or HTML body must trigger the
    * degrade exactly like a thrown fetch — counting it as a good page
    * would advance past items that never landed (a crashed parse when
    * the raw zone is read).
    *
    * Progress is tracked as the index of the first UNFETCHED item; after
    * a success on page p the next index is `p * per_page` (what the page
    * actually covered), never an increment of a running counter — an
    * increment both drifts when a degraded per_page no longer divides
    * the fetched prefix (the recomputed page re-covers earlier items)
    * and can terminate early, silently dropping the chunk tail. When a
    * mid-chunk degrade lands the recomputed page before the fetched
    * prefix, the overlap re-emits those items (page-numbered APIs offer
    * no offset recovery); coverage stays complete and the raw-zone sink
    * (Pipeline.writeRaw) dedups items structurally before landing them.
    *
    * `fetch` is executed executor-side; `countOf` extracts total_count
    * from a page-1 probe. Retries on transient errors are the fetcher's
    * concern (the reference sleeps and retries forever; a Spark task
    * should bound retries and let task-retry handle the rest).
    */
  def fetchChunk(
      chunk: HeightChunk,
      initialPerPage: Int,
      fetch: String => String,
      urlOf: (Long, Long, Int, Int) => String,
      totalOf: String => Long): Seq[FetchResult] = {
    // a failing COUNT PROBE quarantines the chunk instead of failing
    // the task: the probe's 1-item page contains the chunk's first
    // height, so an oversized first item (the very thing the degrade
    // path guards against) would otherwise crash the whole extract job
    // — and a gap-fill refetch of a still-broken height would crash
    // the run that is supposed to re-claim it
    val total = Try(totalOf(fetch(urlOf(chunk.start, chunk.end, 1, 1))))
      .getOrElse(-1L)
    if (total < 0)
      return Seq(FetchResult(chunk.start, chunk.end, 1, initialPerPage,
        None, quarantined = true))
    val out = Seq.newBuilder[FetchResult]
    var next = 0L // index of the first item no fetched page has covered
    var perPage = initialPerPage
    while (next < total) {
      val page = (next / perPage).toInt + 1
      // a 200 with an unparseable body is a failure, same as a throw
      val body = Try(fetch(urlOf(chunk.start, chunk.end, page, perPage)))
        .toOption
        .filter(b => Try(org.json4s.jackson.JsonMethods.parse(b)).isSuccess)
      body match {
        case Some(b) =>
          out += FetchResult(chunk.start, chunk.end, page, perPage, Some(b), quarantined = false)
          next = math.min(page.toLong * perPage, total)
        case None if perPage > 1 =>
          perPage = perPage / 2 // degrade and recompute page from next
        case None =>
          // fully degraded: this 1-item page IS the poison item —
          // quarantine exactly it (the row's page/perPage pin the item
          // index for ACCOUNTING — q199's oracle counts these) and keep
          // fetching; per_page stays 1. Whether the chunk's good pages
          // LAND is the sink's contract, not this fetcher's: the raw
          // zone (Pipeline.writeRaw) is deliberately
          // all-or-nothing per chunk — the poison item's HEIGHT is
          // unknowable (its body is what failed to parse), so landing
          // partials would let a multi-item height that straddles a
          // good page and the poison item read as "landed" and the
          // gap-fill ledger could never heal it. See writeRaw's
          // rationale block.
          out += FetchResult(chunk.start, chunk.end, page, perPage, None, quarantined = true)
          next += 1
      }
    }
    out.result()
  }

  /** Distributed fan-out: one task per chunk partition, results (raw page
    * JSON + quarantine rows) back as a Dataset. */
  def fetchAll(
      spark: SparkSession,
      ranges: Seq[HeightChunk],
      initialPerPage: Int,
      fetch: String => String,
      urlOf: (Long, Long, Int, Int) => String,
      totalOf: String => Long): Dataset[FetchResult] = {
    import spark.implicits._
    spark.createDataset(ranges)
      .repartition(math.max(1, math.min(ranges.size, spark.sparkContext.defaultParallelism)))
      .mapPartitions(_.flatMap(c => fetchChunk(c, initialPerPage, fetch, urlOf, totalOf)))
  }
}
