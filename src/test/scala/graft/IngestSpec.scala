package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.ingest._

/** Ports the reference's own sync-protocol tests
  * (tests/extract_test.py:30-112) plus the planner arithmetic they pin. */
class IngestSpec extends AnyFunSuite with SparkSpec {

  private def tempDir(files: String*): String = {
    val dir = Files.createTempDirectory("graft-ingest")
    files.foreach(f => Files.writeString(dir.resolve(f), "[]"))
    dir.toString
  }

  // --- watermark store (extract_test.py:61-67, 42-52) ---

  test("min/max heights derive from filenames; empty dir → 0") {
    val ws = new WatermarkStore(tempDir("100_200.json", "200_300.json"))
    assert(ws.minHeightFromFiles == 100L)
    assert(ws.maxHeightFromFiles == 300L)
    val empty = new WatermarkStore(tempDir())
    assert(empty.minHeightFromFiles == 0L)
    assert(empty.maxHeightFromFiles == 0L)
  }

  test("metadata: missing file or key → 0; write/read/validate/repair") {
    val dir = tempDir("100_200.json")
    val ws = new WatermarkStore(dir)
    assert(ws.minIngested == 0L && ws.maxIngested == 0L) // no metadata.json
    ws.write(100, 200)
    assert(ws.minIngested == 100L && ws.maxIngested == 200L)
    assert(ws.validate())
    Files.writeString(java.nio.file.Paths.get(dir, "150_300.json"), "[]")
    assert(!ws.validate()) // mismatch detection (extract_test.py:42-52)
    ws.updateFromFiles()
    assert(ws.validate() && ws.maxIngested == 300L)
    Files.writeString(java.nio.file.Paths.get(dir, "metadata.json"), """{"max_height": 9}""")
    assert(ws.minIngested == 0L && ws.maxIngested == 9L) // missing key → 0
  }

  // --- manifest (parse.py:66-95) ---

  test("manifest: missing/empty/non-dict resets; record + newFiles filter") {
    val dir = tempDir()
    val m = new Manifest(dir)
    assert(m.load() == Map("blocks" -> Nil, "txs" -> Nil))
    Files.writeString(java.nio.file.Paths.get(dir, "parsed_files.json"), """["not","a","dict"]""")
    assert(m.load() == Map("blocks" -> Nil, "txs" -> Nil))
    m.record(Seq("100_200.json"), "blocks")
    assert(m.newFiles(Seq("100_200.json", "200_300.json"), "blocks") == Seq("200_300.json"))
    assert(m.newFiles(Seq("100_200.json"), "txs") == Seq("100_200.json"))
    m.record(Seq("200_300.json"), "blocks")
    assert(m.load()("blocks") == Seq("100_200.json", "200_300.json"))
  }

  test("manifest: concurrent records of different keys all survive") {
    // the tx tables land concurrently and each records its own key right
    // after its write; an unserialized read-modify-write loses keys
    (1 to 20).foreach { round =>
      val dir = tempDir()
      val start = new java.util.concurrent.CyclicBarrier(3)
      val threads = (1 to 3).map { i =>
        new Thread(() => {
          start.await()
          new Manifest(dir).record(Seq(s"f$i.json"), s"txs:t$i")
        })
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      val m = new Manifest(dir).load()
      assert((1 to 3).forall(i => m.get(s"txs:t$i").contains(Seq(s"f$i.json"))),
        s"round $round lost a key: $m")
    }
  }

  // --- chain client envelope parsing (extract.py:498-514, 72-78) ---

  test("tip / chain floor / total_count envelope parsing") {
    assert(ChainClient.parseTip(
      """{"result":{"response":{"last_block_height":"10000"}}}""") == 10000L)
    assert(ChainClient.parseChainFloor("""{"result":{"block":{}}}""") == 1L)
    assert(ChainClient.parseChainFloor(
      """{"error":{"data":"height 1 is not available, lowest height is 42"}}""") == 42L)
    assert(ChainClient.parseTotalCount("""{"result":{"total_count":"257"}}""") == 257L)
  }

  // --- range planners (pipeline.py:16-62, 126-128) ---

  test("sync range: tip window clipped by ingested watermark and chain floor") {
    assert(RangePlanner.syncRange(tip = 10000, chainFloor = 1, maxIngested = 0, numBlocks = 1000) == (9000L, 10000L))
    assert(RangePlanner.syncRange(10000, 1, 9500, 1000) == (9501L, 10000L))
    assert(RangePlanner.syncRange(10000, 9800, 0, 1000) == (9800L, 10000L))
    // tip advanced by less than numBlocks: start clips to maxIngested+1,
    // not back into the ingested window (the reference's min-guard bug)
    assert(RangePlanner.syncRange(10050, 1, 10000, 1000) == (10001L, 10050L))
  }

  test("backfill range and chunk loop") {
    assert(RangePlanner.backfillRange(chainFloor = 1, minIngested = 9001, numBlocks = 1000) == (8001L, 9000L))
    assert(RangePlanner.backfillRange(8900, 9001, 1000) == (8900L, 9000L))
    val chunks = RangePlanner.backfillChunks(1, 25, 10)
    assert(chunks == Seq((1L, 11L), (12L, 22L), (23L, 25L)))
    // single-height remainder is fetched, not dropped (reference bug repaired)
    assert(RangePlanner.backfillChunks(5, 5, 10) == Seq((5L, 5L)))
    assert(RangePlanner.backfillChunks(6, 5, 10).isEmpty)
  }

  test("gap-fill ranges collapse contiguous error heights") {
    assert(RangePlanner.gapFillRanges(Seq(5, 3, 4, 9, 11, 12)) ==
      Seq((3L, 5L), (9L, 9L), (11L, 12L)))
    assert(RangePlanner.gapFillRanges(Nil).isEmpty)
  }

  test("error-height ledger: append + read + gap-fill roundtrip") {
    val dir = tempDir()
    assert(ErrorHeights.read(dir).isEmpty) // missing file → empty
    ErrorHeights.append(dir, Seq(7L, 8L))
    ErrorHeights.append(dir, Seq(12L))
    assert(ErrorHeights.read(dir) == Seq(7L, 8L, 12L))
    assert(RangePlanner.gapFillRanges(ErrorHeights.read(dir)) ==
      Seq((7L, 8L), (12L, 12L)))
    // a LEGACY ledger without a trailing newline (reference extractor,
    // hand edits) must not have its last height fused with the first
    // appended one ("101" + "200" → bogus 101200, real 101 lost)
    val legacy = tempDir()
    val p = java.nio.file.Paths.get(legacy, "errors", "error_heights.txt")
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.writeString(p, "100\n101")
    ErrorHeights.append(legacy, Seq(200L))
    assert(ErrorHeights.read(legacy) == Seq(100L, 101L, 200L))
  }

  // --- fetch harness (extract.py:48-105) ---

  test("chunking covers the range inclusively") {
    assert(Fetch.chunks(1, 25, 10) == Seq(HeightChunk(1, 10), HeightChunk(11, 20), HeightChunk(21, 25)))
  }

  test("adaptive page-size degrade halves per_page and recomputes the page") {
    // fake node: 10 items; any request with per_page > 4 is "oversized"
    val urls = collection.mutable.ArrayBuffer.empty[(Int, Int)]
    def url(s: Long, e: Long, page: Int, perPage: Int) = s"$page:$perPage"
    def fetchF(u: String): String = {
      val Array(p, pp) = u.split(":").map(_.toInt)
      if (pp > 4 && u != "1:1") throw new RuntimeException("oversized")
      urls += ((p, pp)); s"""{"result":{"total_count":"10"}}"""
    }
    val res = Fetch.fetchChunk(HeightChunk(1, 100), initialPerPage = 16,
      fetchF, url, ChainClient.parseTotalCount)
    // 16 → 8 (both fail) → 4: pages 1,2 then page 3 (8 consumed / 4 + 1)
    assert(res.forall(!_.quarantined))
    assert(res.map(r => (r.page, r.perPage)) == Seq((1, 4), (2, 4), (3, 4)))
  }

  test("mid-chunk degrade never drops the chunk tail (non-dividing per_page)") {
    // 110 items; per_page 100 serves page 1 then oversizes; halving lands
    // on 12, which does not divide the 100 already fetched — the
    // recomputed page re-covers items 96-107 (documented duplication) and
    // the tail 108-109 must still be fetched. A consumed-counter
    // recompute (consumed += per_page) claims 110 after page 9 and drops
    // the tail.
    def url(s: Long, e: Long, page: Int, perPage: Int) = s"$page:$perPage"
    def fetchF(u: String): String = {
      val Array(p, pp) = u.split(":").map(_.toInt)
      if (u == "1:1" || (p == 1 && pp == 100) || pp <= 12)
        s"""{"result":{"total_count":"110"}}"""
      else throw new RuntimeException("oversized")
    }
    val res = Fetch.fetchChunk(HeightChunk(1, 200), initialPerPage = 100,
      fetchF, url, ChainClient.parseTotalCount)
    assert(res.forall(!_.quarantined))
    // 100 → 50 → 25 → 12: page 9 covers 96-107, page 10 covers 108-119
    assert(res.map(r => (r.page, r.perPage)) == Seq((1, 100), (9, 12), (10, 12)))
  }

  test("per_page exhaustion quarantines the poison item and keeps fetching the rest") {
    // only the page-1/per_page-1 shape ever succeeds: the count probe and
    // the fully-degraded first page; everything else is "oversized"
    def fetchF(u: String): String =
      if (u == "1:1") s"""{"result":{"total_count":"5"}}"""
      else throw new RuntimeException("always oversized")
    def url(s: Long, e: Long, page: Int, perPage: Int) = s"$page:$perPage"
    val res = Fetch.fetchChunk(HeightChunk(1, 10), initialPerPage = 4,
      fetchF, url, ChainClient.parseTotalCount)
    // 4 → 2 → 1: page 1 succeeds at per_page 1; items 2-5 each fail and
    // quarantine INDIVIDUALLY — one poison item must never block the span
    assert(res.size == 5)
    assert(!res.head.quarantined && res.head.page == 1 && res.head.perPage == 1)
    assert(res.tail.forall(r => r.quarantined && r.perPage == 1))
    assert(res.tail.map(_.page) == Seq(2, 3, 4, 5))
  }

  test("a poison item mid-chunk quarantines alone; items after it still land") {
    // 6 items; item index 2 (page 3 at per_page 1) is permanently
    // oversized, everything else serves at per_page <= 2
    def url(s: Long, e: Long, page: Int, perPage: Int) = s"$page:$perPage"
    def fetchF(u: String): String = {
      val Array(p, pp) = u.split(":").map(_.toInt)
      if (pp > 2 && u != "1:1") throw new RuntimeException("oversized")
      if (pp == 2 && p == 2) throw new RuntimeException("oversized") // covers item 2
      if (pp == 1 && p == 3) throw new RuntimeException("oversized")
      s"""{"result":{"total_count":"6"}}"""
    }
    val res = Fetch.fetchChunk(HeightChunk(1, 10), initialPerPage = 4,
      fetchF, url, ChainClient.parseTotalCount)
    val (bad, good) = res.partition(_.quarantined)
    assert(bad.map(r => (r.page, r.perPage)) == Seq((3, 1)))
    // coverage complete: good pages cover items 0-1 (page 1 @ 2), 3, 4, 5
    assert(good.forall(_.body.isDefined))
    val covered = good.flatMap(r =>
      ((r.page - 1).toLong * r.perPage) until math.min(r.page.toLong * r.perPage, 6L)).toSet
    assert(covered == Set(0L, 1L, 3L, 4L, 5L), covered)
  }

  test("an unparseable 200 body degrades exactly like a thrown fetch") {
    // per_page > 4 answers 200 with an HTML error page; the degrade must
    // treat it as a failure, not advance past items that never landed
    def url(s: Long, e: Long, page: Int, perPage: Int) = s"$page:$perPage"
    def fetchF(u: String): String = {
      val Array(p, pp) = u.split(":").map(_.toInt)
      if (pp > 4 && u != "1:1") "<html>502 Bad Gateway</html>"
      else s"""{"result":{"total_count":"10"}}"""
    }
    val res = Fetch.fetchChunk(HeightChunk(1, 100), initialPerPage = 16,
      fetchF, url, ChainClient.parseTotalCount)
    assert(res.forall(!_.quarantined))
    assert(res.map(r => (r.page, r.perPage)) == Seq((1, 4), (2, 4), (3, 4)))
  }

  test("a failing count probe quarantines the chunk instead of failing the task") {
    // the probe's 1-item page carries the chunk's first height, so an
    // oversized FIRST item breaks the probe itself — the chunk must
    // quarantine (heights reach the gap-fill ledger) rather than crash
    // the extract job, or a gap-fill refetch of a still-broken height
    // would kill the very run that is re-claiming it
    def fetchF(u: String): String = throw new RuntimeException("oversized")
    def url(s: Long, e: Long, page: Int, perPage: Int) = s"$page:$perPage"
    val res = Fetch.fetchChunk(HeightChunk(7, 9), initialPerPage = 4,
      fetchF, url, ChainClient.parseTotalCount)
    assert(res == Seq(graft.ingest.FetchResult(7, 9, 1, 4, None, quarantined = true)))
  }

  test("LCD scan: offset pagination URL + parallel-array zip (extract.py:107-141)") {
    val url = Fetch.lcdTxsUrl("http://n", 10, 20, page = 3, perPage = 50)
    assert(url.contains("pagination.offset=100") && url.contains("pagination.limit=50"))
    assert(url.contains("events=tx.height>=10") && url.contains("events=tx.height<=20"))

    val page =
      """{"txs":[{"body":"a"},{"body":"b"}],
         |"tx_responses":[{"height":"1"},{"height":"2"}],
         |"pagination":{"total":"7"}}""".stripMargin
    assert(Fetch.parseLcdTotal(page) == 7L)
    val zipped = Fetch.zipLcdPage(page)
    assert(zipped == Seq(
      """{"tx":{"body":"a"},"tx_response":{"height":"1"}}""",
      """{"tx":{"body":"b"},"tx_response":{"height":"2"}}"""))
    // out-of-sync arrays are an error, not silent misalignment
    intercept[IllegalArgumentException] {
      Fetch.zipLcdPage("""{"txs":[{}],"tx_responses":[],"pagination":{"total":"1"}}""")
    }
  }

  test("fetchAll fans chunks out as Spark tasks") {
    val res = Fetch.fetchAll(spark, Fetch.chunks(1, 40, 10), 100,
      u => u, (s, e, p, pp) => s"""{"result":{"total_count":"3"},"range":"$s-$e"}""",
      ChainClient.parseTotalCount).collect()
    assert(res.length == 4 && res.forall(r => r.body.isDefined && !r.quarantined))
    assert(res.map(r => (r.start, r.end)).sorted.toSeq ==
      Seq((1L, 10L), (11L, 20L), (21L, 30L), (31L, 40L)))
  }

  test("fetchAll: pages per chunk follow total_count") {
    // 4 chunks of 25 heights, 25 items each at per_page 10 → 3 pages each
    val res = Fetch.fetchAll(spark, Fetch.chunks(1, 100, 25), 10,
      u => u, (s, e, p, pp) => s"""{"result":{"total_count":"${e - s + 1}"}}""",
      ChainClient.parseTotalCount).collect()
    assert(res.length == 12 && res.forall(!_.quarantined))
    val byChunk = res.groupBy(r => (r.start, r.end))
    assert(byChunk.keySet == Set((1L, 25L), (26L, 50L), (51L, 75L), (76L, 100L)))
    assert(byChunk.values.forall(_.map(_.page).sorted.toSeq == Seq(1, 2, 3)))
  }
}
