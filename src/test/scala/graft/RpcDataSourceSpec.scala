package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.RpcFetcher

/** Deterministic fake node as a no-arg-constructible fetcher (the class
  * name rides through scan options to executors). */
class FakeRpcFetcher extends RpcFetcher {
  override def fetch(url: String): String = {
    val range = "height>=(\\d+) AND \\w+\\.height<=(\\d+)".r.unanchored
    val m = range.findFirstMatchIn(url).get
    val (start, end) = (m.group(1).toLong, m.group(2).toLong)
    val total = end - start + 1 // one tx per height
    s"""{"result":{"total_count":"$total","txs":[],"range":"${start}_$end"}}"""
  }
}

/** Fake node with a controllable chain tip (static state: executors in
  * local mode share the JVM). Pages delegate to [[FakeRpcFetcher]]. */
class FakeTipRpcFetcher extends RpcFetcher {
  override def fetch(url: String): String =
    if (url.contains("abci_info"))
      s"""{"result":{"response":{"last_block_height":"${FakeTipRpcFetcher.tip.get}"}}}"""
    else new FakeRpcFetcher().fetch(url)
}
object FakeTipRpcFetcher {
  val tip = new java.util.concurrent.atomic.AtomicLong(50L)
}

class RpcDataSourceSpec extends AnyFunSuite with SparkSpec {

  private def read(start: Long, end: Long, chunk: Long, perPage: Int) =
    spark.read.format("tendermint-rpc")
      .option("url", "http://node")
      .option("kind", "txs")
      .option("start", start).option("end", end)
      .option("chunk", chunk).option("perPage", perPage)
      .option("fetcher", classOf[FakeRpcFetcher].getName)
      .load()

  test("short name resolves via DataSourceRegister; schema is fixed") {
    val df = read(1, 100, 50, 100)
    assert(df.schema.fieldNames.toSeq ==
      Seq("start", "end", "page", "per_page", "body", "quarantined"))
  }

  test("options are case-insensitive (DSv2 convention): miscased keys bind, never silently default") {
    // 'Start'/'End'/'Chunk' in arbitrary case — a miscased option used
    // to fall back to its default silently (Start=26 → stream from 1)
    val rows = spark.read.format("tendermint-rpc")
      .option("URL", "http://node")
      .option("Kind", "txs")
      .option("Start", 26).option("End", 50)
      .option("Chunk", 25).option("PerPage", 10)
      .option("Fetcher", classOf[FakeRpcFetcher].getName)
      .load().collect()
    assert(rows.nonEmpty)
    assert(rows.map(r => (r.getAs[Long]("start"), r.getAs[Long]("end"))).toSet ==
      Set((26L, 50L)))
    assert(rows.forall(_.getAs[Int]("per_page") == 10))
  }

  test("one input partition per height chunk; pages per chunk follow total_count") {
    val df = read(1, 100, 25, 10)
    // 4 chunks of 25 heights; 25 items at per_page 10 → 3 pages each
    assert(df.rdd.getNumPartitions == 4)
    val rows = df.collect()
    assert(rows.length == 12)
    assert(rows.forall(!_.getAs[Boolean]("quarantined")))
    val byChunk = rows.groupBy(r => (r.getAs[Long]("start"), r.getAs[Long]("end")))
    assert(byChunk.keySet == Set((1L, 25L), (26L, 50L), (51L, 75L), (76L, 100L)))
    assert(byChunk.values.forall(_.map(_.getAs[Int]("page")).sorted.toSeq == Seq(1, 2, 3)))
  }

  test("page bodies parse downstream with from_json (ELT hand-off)") {
    val df = read(1, 20, 10, 100)
    val parsed = df.select(
      get_json_object(col("body"), "$.result.range").as("range"))
    assert(parsed.collect().map(_.getString(0)).sorted.toSeq ==
      Seq("11_20", "1_10"))
  }

  test("JavaHttpFetcher + DSv2 source over a real local socket") {
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    // the JDK reads nodelay once per JVM, at its first HttpServer; this
    // one may be the first, and QueryServer's replies need it on
    sys.props.getOrElseUpdate("sun.net.httpserver.nodelay", "true")
    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    try {
      server.createContext("/", new HttpHandler {
        override def handle(ex: HttpExchange): Unit = {
          val uri = java.net.URLDecoder.decode(ex.getRequestURI.toString, "UTF-8")
          val body = FakeNode.fetch(uri)
          val bytes = body.getBytes("UTF-8")
          ex.sendResponseHeaders(200, bytes.length)
          ex.getResponseBody.write(bytes)
          ex.close()
        }
      })
      server.start()
      val port = server.getAddress.getPort
      // FakeNode serves heights 1-5 (one tx per odd height): chunks
      // (1,2),(3,4),(5,5) each hold one tx → one page each
      val rows = spark.read.format("tendermint-rpc")
        .option("url", s"http://127.0.0.1:$port")
        .option("kind", "txs")
        .option("start", 1).option("end", 5)
        .option("chunk", 2).option("perPage", 100)
        .load() // default fetcher = JavaHttpFetcher over the real socket
        .collect()
      assert(rows.length == 3, rows.mkString(";"))
      assert(rows.forall(!_.getAs[Boolean]("quarantined")))
      assert(rows.forall(_.getAs[String]("body").contains("total_count")))
    } finally server.stop(0)
  }

  test("escapeUrl: every URI-illegal char percent-encoded, including %") {
    import graft.sources.JavaHttpFetcher.escapeUrl
    assert(escapeUrl("""http://n/tx_search?query="tx.height>=1 AND tx.height<=2"""") ==
      "http://n/tx_search?query=%22tx.height%3E=1%20AND%20tx.height%3C=2%22")
    assert(escapeUrl("http://n/a?x=50%") == "http://n/a?x=50%25")
    // '#' must be encoded, or URI would read it as a fragment delimiter
    // and silently truncate the query sent to the node
    assert(escapeUrl("http://n/a?q=x#y") == "http://n/a?q=x%23y")
    assert(java.net.URI.create(escapeUrl("http://n/a?q=x#y")).getFragment == null)
    // the escaped form is always a valid URI
    java.net.URI.create(escapeUrl("""http://n/p?q="a b" | {c}^d"""))
  }

  private def startStream(checkpoint: String, queryName: String) =
    spark.readStream.format("tendermint-rpc")
      .option("url", "http://node").option("kind", "txs")
      .option("start", 1).option("chunk", 10)
      .option("maxBlocksPerBatch", 20)
      .option("fetcher", classOf[FakeTipRpcFetcher].getName)
      .load()
      .writeStream.format("memory").queryName(queryName)
      .option("checkpointLocation", checkpoint)
      .start()

  test("micro-batch stream: tip-capped batches cover each height exactly once") {
    val ckpt = java.nio.file.Files.createTempDirectory("rpc-stream").toString
    FakeTipRpcFetcher.tip.set(50L)
    val q = startStream(ckpt, "rpc_stream")
    try { q.processAllAvailable() } finally q.stop()
    val ranges = spark.table("rpc_stream").collect()
      .map(r => (r.getAs[Long]("start"), r.getAs[Long]("end"))).sorted.toSeq
    // 50 heights, chunk 10 → 5 single-page chunks, no dup / no gap
    assert(ranges == Seq((1L, 10L), (11L, 20L), (21L, 30L), (31L, 40L), (41L, 50L)))
    // admission control capped each batch at 20 blocks → 3 offset commits
    val offsets = new java.io.File(s"$ckpt/offsets").list().count(!_.startsWith("."))
    assert(offsets == 3, s"expected 3 capped batches, saw $offsets")
  }

  test("Trigger.AvailableNow drains to the pinned tip in capped batches, then stops") {
    val ckpt = java.nio.file.Files.createTempDirectory("rpc-avnow").toString
    FakeTipRpcFetcher.tip.set(50L)
    val q = spark.readStream.format("tendermint-rpc")
      .option("url", "http://node").option("kind", "txs")
      .option("start", 1).option("chunk", 10)
      .option("maxBlocksPerBatch", 20)
      .option("fetcher", classOf[FakeTipRpcFetcher].getName)
      .load()
      .writeStream.format("memory").queryName("rpc_avnow")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    // AvailableNow terminates on its own once the pinned tip is reached
    assert(q.awaitTermination(60000), "AvailableNow query did not self-terminate")
    val ranges = spark.table("rpc_avnow").collect()
      .map(r => (r.getAs[Long]("start"), r.getAs[Long]("end"))).sorted.toSeq
    assert(ranges == Seq((1L, 10L), (11L, 20L), (21L, 30L), (31L, 40L), (41L, 50L)))
  }

  test("micro-batch stream: checkpoint restart resumes past the committed tip") {
    // parquet sink: the memory sink refuses checkpoint recovery, and the
    // file sink additionally proves exactly-once coverage across restart
    val ckpt = java.nio.file.Files.createTempDirectory("rpc-stream2").toString
    val out = java.nio.file.Files.createTempDirectory("rpc-stream2-out").toString
    def run(): Unit = {
      val q = spark.readStream.format("tendermint-rpc")
        .option("url", "http://node").option("kind", "txs")
        .option("start", 1).option("chunk", 10)
        .option("maxBlocksPerBatch", 20)
        .option("fetcher", classOf[FakeTipRpcFetcher].getName)
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    FakeTipRpcFetcher.tip.set(30L)
    run()
    assert(spark.read.parquet(out).count() == 3) // heights 1-30

    FakeTipRpcFetcher.tip.set(70L) // chain advanced while we were down
    run()
    // offset came back from the checkpoint, not from "start": heights
    // 1-70 covered exactly once across both runs, no re-fetch, no gap
    val ranges = spark.read.parquet(out).collect()
      .map(r => (r.getAs[Long]("start"), r.getAs[Long]("end"))).sorted.toSeq
    assert(ranges == (0 until 7).map(i => (i * 10L + 1, i * 10L + 10)))
  }

  test("a lagging node's regressed tip never rewinds the committed offset") {
    val ckpt = java.nio.file.Files.createTempDirectory("rpc-lag").toString
    val out = java.nio.file.Files.createTempDirectory("rpc-lag-out").toString
    def run(): Unit = {
      val q = spark.readStream.format("tendermint-rpc")
        .option("url", "http://node").option("kind", "txs")
        .option("start", 1).option("chunk", 10)
        .option("fetcher", classOf[FakeTipRpcFetcher].getName)
        .load()
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    FakeTipRpcFetcher.tip.set(30L)
    run()
    assert(spark.read.parquet(out).count() == 3) // heights 1-30

    FakeTipRpcFetcher.tip.set(20L) // lagging replica answers below committed
    run()
    assert(spark.read.parquet(out).count() == 3, "regressed tip re-fetched heights")

    FakeTipRpcFetcher.tip.set(40L) // recovered: only the NEW heights arrive
    run()
    val ranges = spark.read.parquet(out).collect()
      .map(r => (r.getAs[Long]("start"), r.getAs[Long]("end"))).sorted.toSeq
    assert(ranges == (0 until 4).map(i => (i * 10L + 1, i * 10L + 10)))
  }

  test("missing required option fails fast") {
    val e = intercept[Exception] {
      spark.read.format("tendermint-rpc").option("url", "x")
        .option("fetcher", classOf[FakeRpcFetcher].getName)
        .load().collect()
    }
    assert(e.getMessage.contains("missing option"))
  }
}
