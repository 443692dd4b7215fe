package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.Base64

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.scalatest.funsuite.AnyFunSuite

import graft.models.{BreadModels, Model}
import graft.pipeline.Pipeline

/** End-to-end: fake node → raw zone → flatteners → hive-partitioned
  * parquet → model DAG → the reference's dashboard probe
  * (pages/index.md:8-10). Mirrors `make pipeline` (SURVEY §3.1). */
/** Fake node lives outside the suite: the fetcher closure ships to
  * executors and must not capture the (non-serializable) test engine. */
object FakeNode extends Serializable {

  private def b64(s: String): String =
    Base64.getEncoder.encodeToString(s.getBytes(StandardCharsets.UTF_8))

  /** 5 blocks (heights 1-5), one tx at every odd height. All pages
    * served in one response (per_page default 100). */
  def fetch(url: String): String = {
    val range = "height>=(\\d+) AND \\w+\\.height<=(\\d+)".r.unanchored
    val (start, end) = range.findFirstMatchIn(url)
      .map(m => (m.group(1).toLong, m.group(2).toLong))
      .getOrElse(sys.error(s"no range in $url"))
    def block(h: Long) =
      s"""{"block":{"header":{"height":"$h","chain_id":"e2e-1","time":"2023-08-0${h}T00:00:0$h.00000000${h}Z","proposer_address":"P$h"},"data":{"txs":[]}}}"""
    def tx(h: Long) = {
      val log = s"""[{\\"msg_index\\":0,\\"events\\":[{\\"type\\":\\"transfer\\",\\"attributes\\":[{\\"key\\":\\"amount\\",\\"value\\":\\"${h}00uakt\\"}]}]}]"""
      s"""{"hash":"T$h","height":"$h","tx_result":{"code":0,"log":"$log","info":"","gas_wanted":"${h * 1000}","gas_used":"${h * 900}","codespace":"",
         |"events":[{"type":"transfer","attributes":[{"key":"${b64("amount")}","value":"${b64(s"${h}00uakt")}"}]}]}}""".stripMargin.replace("\n", "")
    }
    if (url.contains("block_search")) {
      val hs = (math.max(1, start) to math.min(5, end))
      s"""{"result":{"total_count":"${hs.size}","blocks":[${hs.map(block).mkString(",")}]}}"""
    } else {
      val hs = (math.max(1, start) to math.min(5, end)).filter(_ % 2 == 1)
      s"""{"result":{"total_count":"${hs.size}","txs":[${hs.map(tx).mkString(",")}]}}"""
    }
  }
}

/** FakeNode whose txs from height 4 up carry a `mint` event keyed
  * `supply` instead of `transfer`/`amount`: parse batches split at
  * height 4 pivot to disjoint events columns. */
object MintNode extends Serializable {
  private val from = "height>=(\\d+)".r.unanchored

  def fetch(url: String): String = {
    val body = FakeNode.fetch(url)
    val late = from.findFirstMatchIn(url).exists(_.group(1).toLong >= 4)
    if (url.contains("block_search") || !late) body
    else body.replace("\"type\":\"transfer\"", "\"type\":\"mint\"")
      .replace(b64("amount"), b64("supply"))
  }

  private def b64(s: String): String =
    Base64.getEncoder.encodeToString(s.getBytes(StandardCharsets.UTF_8))
}

/** FakeNode plus a chain tip, for PipelineMain (which polls
  * /abci_info; FakeNode only serves search pages). */
class FakeChainFetcher extends graft.sources.RpcFetcher {
  override def fetch(url: String): String =
    if (url.contains("abci_info"))
      """{"result":{"response":{"last_block_height":"5"}}}"""
    else FakeNode.fetch(url)
}

/** Paging-honest fake node (5 blocks, one tx at height 1) with a
  * "monster block" at height 4: until healed, ANY block page whose
  * served items would include height 4 fails — the count probe
  * included, exactly like an oversized first item would on a real node.
  * Drives the batch degrade → quarantine → gap-fill loop end-to-end. */
object HealingNode extends Serializable {
  @volatile var healed = false
  private val pageRe = "page=(\\d+)&per_page=(\\d+)".r.unanchored
  private val rangeRe = "height>=(\\d+) AND \\w+\\.height<=(\\d+)".r.unanchored
  private def b64(s: String): String =
    Base64.getEncoder.encodeToString(s.getBytes(StandardCharsets.UTF_8))
  def fetch(url: String): String = {
    val pm = pageRe.findFirstMatchIn(url).getOrElse(sys.error(s"no page in $url"))
    val (page, pp) = (pm.group(1).toInt, pm.group(2).toInt)
    val rm = rangeRe.findFirstMatchIn(url).getOrElse(sys.error(s"no range in $url"))
    val (lo, hi) = (rm.group(1).toLong, rm.group(2).toLong)
    if (url.contains("block_search")) {
      val all = (math.max(1L, lo) to math.min(5L, hi))
      val hs = all.slice((page - 1) * pp, math.min(all.size, page * pp))
      if (!HealingNode.healed && hs.contains(4L))
        sys.error("oversized response")
      def block(h: Long) =
        s"""{"block":{"header":{"height":"$h","chain_id":"e2e-1","time":"2023-08-0${h}T00:00:0$h.00000000${h}Z","proposer_address":"P$h"},"data":{"txs":[]}}}"""
      s"""{"result":{"total_count":"${all.size}","blocks":[${hs.map(block).mkString(",")}]}}"""
    } else {
      val txs = if (lo <= 1L && 1L <= hi && page == 1)
        Seq(s"""{"hash":"T1","height":"1","tx_result":{"code":0,"log":"","info":"","gas_wanted":"1000","gas_used":"900","codespace":"","events":[{"type":"transfer","attributes":[{"key":"${b64("amount")}","value":"${b64("100uakt")}"}]}]}}""")
      else Nil
      val total = if (lo <= 1L && 1L <= hi) 1 else 0
      s"""{"result":{"total_count":"$total","txs":[${txs.mkString(",")}]}}"""
    }
  }
}

class PipelineSpec extends AnyFunSuite with SparkSpec {

  test("gap-fill: a quarantined height is re-extracted by the next run and the ledger clears") {
    val root = Files.createTempDirectory("graft-gapfill").toString
    val pipe = new Pipeline(spark, root, HealingNode.fetch)
    HealingNode.healed = false
    try {
      // run 1: the page serving the monster height 4 fails below
      // per_page 1 → the chunk quarantines ALL-OR-NOTHING (its partial
      // pages land nothing — a landed partial would make a multi-item
      // height look covered and its remaining items unrecoverable) and
      // the whole span enters the blocks ledger. The SAME run's
      // gap-fill stage re-claims 1-5, the refetch re-quarantines (no
      // crash), and the heights re-enter the ledger.
      pipe.run(tip = 5, chainFloor = 1, numBlocks = 10, models = Nil)
      // nothing landed for blocks (empty raw file → zero parsed rows)
      assert(scala.util.Try(
        spark.read.parquet(s"$root/parsed/blocks").count()).getOrElse(0L) == 0L)
      assert(graft.ingest.ErrorHeights.read(root, "blocks") == (1L to 5L))
      assert(graft.ingest.ErrorHeights.read(root, "txs").isEmpty)
      // the tx side was unaffected: T1 landed and enriches later
      assert(spark.read.parquet(s"$root/parsed/tx_result").count() == 1)

      // run 2 (node healed): the gap-fill stage re-extracts range 1-5
      // (overwriting run-1's empty 1_5.json — the manifest-forget
      // collision path), parse consumes the refetched file, the ledger
      // clears, and no height is duplicated in the parsed zone
      HealingNode.healed = true
      pipe.run(tip = 5, chainFloor = 1, numBlocks = 10, models = Nil)
      val blocks2 = spark.read.parquet(s"$root/parsed/blocks")
        .select("height").collect().map(_.getLong(0)).sorted.toSeq
      assert(blocks2 == (1L to 5L), s"run-2 blocks: $blocks2")
      assert(graft.ingest.ErrorHeights.read(root, "blocks").isEmpty)
      // a third run finds nothing to gap-fill and changes nothing
      assert(pipe.gapFill().values.forall(_.isEmpty))
      assert(spark.read.parquet(s"$root/parsed/blocks").count() == 5)
    } finally HealingNode.healed = false
  }

  test("gap-fill: a failure mid-stage restores the claimed heights to the ledger") {
    val root = Files.createTempDirectory("graft-gapclaim").toString
    val pipe = new Pipeline(spark, root, FakeNode.fetch)
    graft.ingest.ErrorHeights.append(root, "blocks", Seq(2L, 3L))
    // sabotage the post-refetch manifest step: parsed_files.json as a
    // DIRECTORY makes Manifest.forget's write throw after the claim
    Files.createDirectories(Paths.get(root, "parsed", "parsed_files.json"))
    intercept[Exception] { pipe.gapFill() }
    // the claim was restored — a retry (or the next run) still sees the
    // heights instead of a silently emptied ledger
    assert(graft.ingest.ErrorHeights.read(root, "blocks") == Seq(2L, 3L))
  }

  test("degrade-overlap duplicates never reach the raw zone") {
    // per_page 5, total 7, page 2@5 oversized → degrade to 2 → the
    // recomputed page 3@2 re-covers item 5 (5 not divisible by 2): the
    // fetch layer re-emits height 5, the raw sink must land it once
    val dir = Files.createTempDirectory("graft-dedup-raw").toString
    val pageRe = "page=(\\d+)&per_page=(\\d+)".r.unanchored
    val fetch: String => String = { url =>
      val m = pageRe.findFirstMatchIn(url).get
      val (page, pp) = (m.group(1).toInt, m.group(2).toInt)
      if (pp == 5 && page == 2) sys.error("oversized response")
      val hs = ((page - 1) * pp + 1) to math.min(7, page * pp)
      val blocks = hs.map(h =>
        s"""{"block":{"header":{"height":"$h","chain_id":"e2e-1"}}}""")
      s"""{"result":{"total_count":"7","blocks":[${blocks.mkString(",")}]}}"""
    }
    val p = new Pipeline(spark, dir, fetch, perPage = 5)
    val path = p.extractRange("blocks", 1, 7).path
    val heights = org.json4s.jackson.JsonMethods.parse(Files.readString(Paths.get(path))) match {
      case org.json4s.JArray(vs) => vs.map(v =>
        (v \ "block" \ "header" \ "height").asInstanceOf[org.json4s.JString].s.toLong)
      case other => fail(s"raw file is not an array: $other")
    }
    assert(heights == (1L to 7L), s"raw items not unique/ordered: $heights")
  }

  test("PipelineMain arg/env contract mirrors the reference CLI") {
    import graft.pipeline.PipelineMain
    val env = Map("API_URL" -> "http://n", "NETWORK" -> "akash", "PER_PAGE" -> "50")
    val c = PipelineMain.parseArgs(Seq("--dir", "/tmp/x", "--num_blocks", "500"), env)
    assert(c == PipelineMain.Config("/tmp/x", 500L, "http://n", 50))
    // defaults follow the reference (./data/$NETWORK, 10000 blocks, 100/page)
    val d = PipelineMain.parseArgs(Nil, Map("API_URL" -> "http://n", "NETWORK" -> "akash"))
    assert(d == PipelineMain.Config("./data/akash", 10000L, "http://n", 100))
    intercept[IllegalArgumentException](PipelineMain.parseArgs(Nil, Map.empty))
    intercept[IllegalArgumentException](
      PipelineMain.parseArgs(Seq("--bogus", "1"), env))
  }

  test("PipelineMain.run drives the chain through the parsed models") {
    import graft.pipeline.PipelineMain
    val root = Files.createTempDirectory("graft-cli").toString
    val chain = new FakeChainFetcher
    // the chain serves height 1, so the floor probe answers with a block
    val fetch = (url: String) =>
      if (url.endsWith("/block?height=1")) """{"result":{}}"""
      else chain.fetch(url)
    val built = PipelineMain.run(spark,
      PipelineMain.Config(root, 10L, "http://node", 100), fetch)
    assert(built.keySet == BreadModels.parsedModelNames.toSet)
    // every parsed model view resolves against the landed zone
    assert(BreadModels.parsedModelNames.map(spark.table(_).count()) ==
      Seq(5L, 3L, 3L, 3L))
  }

  test("parse with tx files but no blocks zone lands rows with null time columns") {
    // first run / replay where a tx file precedes any blocks batch: the
    // parse stage must not fail on the missing parsed-blocks path; tx
    // rows land with null day/month/year (late-blocks enrichment)
    val root = Files.createTempDirectory("graft-noblocks").toString
    val pipe = new Pipeline(spark, root, FakeNode.fetch)
    pipe.extractRange("txs", 1, 5)
    pipe.parse()
    val txr = spark.read.parquet(s"$root/parsed/tx_result")
    assert(txr.count() == 3) // odd heights 1, 3, 5
    assert(txr.filter("day IS NULL").count() == 3)
  }

  test("parse retry resumes per table: an already-recorded table is not re-appended") {
    // simulate a crash between the tx-table lands: tx_result was
    // written AND recorded under its per-table key, the others were
    // not — the retry must land ONLY the missing tables (no duplicate
    // tx_result rows) and then complete the umbrella record
    val root = Files.createTempDirectory("graft-retry").toString
    val pipe = new Pipeline(spark, root, FakeNode.fetch)
    pipe.extractRange("txs", 1, 5)
    pipe.parse() // clean first run: all three tables land
    val before = spark.read.parquet(s"$root/parsed/tx_result").count()
    // a second raw file arrives; pretend the crashed first attempt got
    // tx_result landed+recorded before dying
    pipe.extractRange("txs", 6, 9)
    val m = new graft.ingest.Manifest(s"$root/parsed")
    val newFile = "6_9.json"
    assert(Files.isRegularFile(java.nio.file.Paths.get(s"$root/rpc/txs/$newFile")))
    m.record(Seq(newFile), "txs:tx_result")
    val txrAfterCrash = spark.read.parquet(s"$root/parsed/tx_result").count()
    pipe.parse() // the "retry"
    // tx_result unchanged (already recorded); the other tables caught up
    assert(spark.read.parquet(s"$root/parsed/tx_result").count() == txrAfterCrash)
    assert(txrAfterCrash == before) // nothing was double-appended
    val la = spark.read.parquet(s"$root/parsed/log_attributes").count()
    val ev = spark.read.parquet(s"$root/parsed/events")
      .select("height").distinct().count()
    assert(ev >= 2, s"events caught up, got $ev heights") // heights 7, 9
    assert(la > 0)
    // umbrella recorded: a third parse is a no-op
    assert(m.newFiles(Seq(newFile), "txs").isEmpty)
  }

  test("a failed tx table: parse rethrows its cause, the others land, a retry lands only it") {
    def counts(root: String): Seq[Long] =
      Seq("tx_result", "log_attributes", "events").map(t => spark.read.parquet(s"$root/parsed/$t").count())
    val clean = Files.createTempDirectory("graft-land-clean").toString
    val ok = new Pipeline(spark, clean, FakeNode.fetch)
    Seq("blocks", "txs").foreach(ok.extractRange(_, 1, 5))
    ok.parse()

    val root = Files.createTempDirectory("graft-land-fail").toString
    val pipe = new Pipeline(spark, root, FakeNode.fetch)
    Seq("blocks", "txs").foreach(pipe.extractRange(_, 1, 5))
    // a regular file where the log_attributes zone must go: its write fails
    val obstruction = Paths.get(root, "parsed", "log_attributes")
    Files.createDirectories(obstruction.getParent)
    Files.writeString(obstruction, "not a directory")
    val e = intercept[Throwable](pipe.parse())
    assert(!e.isInstanceOf[java.util.concurrent.ExecutionException], e)
    assert(Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("log_attributes")), e)
    assert(spark.sparkContext.statusTracker.getActiveJobIds().isEmpty)
    val m = new graft.ingest.Manifest(s"$root/parsed")
    assert(m.newFiles(Seq("1_5.json"), "txs:tx_result").isEmpty)
    assert(m.newFiles(Seq("1_5.json"), "txs:events").isEmpty)
    assert(m.newFiles(Seq("1_5.json"), "txs:log_attributes") == Seq("1_5.json"))
    assert(m.newFiles(Seq("1_5.json"), "txs") == Seq("1_5.json"))

    Files.delete(obstruction)
    pipe.parse()
    assert(counts(root) == counts(clean))
    assert(m.newFiles(Seq("1_5.json"), "txs").isEmpty)
  }

  test("the batch parse reads the raw tx JSON once per pending file set") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.util.QueryExecutionListener
    // raw tx scans the executions ran: a file scan in a plan runs once
    // per execution; one inside a cached relation runs once per cache
    val direct = new java.util.concurrent.atomic.AtomicInteger(0)
    val caches = java.util.concurrent.ConcurrentHashMap.newKeySet[AnyRef]()
    var txDir = ""
    def readsTxs(f: FileSourceScanExec): Boolean =
      f.relation.location.rootPaths.exists(_.toString.contains(txDir))
    def count(p: SparkPlan): Unit = p match {
      case f: FileSourceScanExec => if (readsTxs(f)) direct.incrementAndGet()
      case i: InMemoryTableScanExec =>
        if (i.relation.cachedPlan.exists { case f: FileSourceScanExec => readsTxs(f); case _ => false })
          caches.add(i.relation.cacheBuilder)
      case a: AdaptiveSparkPlanExec => count(a.executedPlan)
      case s: QueryStageExec => count(s.plan)
      case other => other.children.foreach(count)
    }
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = count(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = count(qe.executedPlan)
    }
    def scans(body: => Unit): Int = {
      direct.set(0); caches.clear()
      GraftBridge.waitForListenerBus(spark)
      spark.listenerManager.register(listener)
      try { body; GraftBridge.waitForListenerBus(spark) }
      finally spark.listenerManager.unregister(listener)
      direct.get + caches.size
    }
    def pipeline(prefix: String): (String, Pipeline) = {
      val root = Files.createTempDirectory(prefix).toString
      txDir = s"$root/rpc/txs"
      (root, new Pipeline(spark, root, FakeNode.fetch))
    }
    val (_, clean) = pipeline("graft-land-once")
    Seq("blocks", "txs").foreach(clean.extractRange(_, 1, 5))
    assert(scans(clean.parse()) == 1)
    // a resumed retry: tx_result already landed 1_3, the other two
    // tables landed neither file, so two pending sets and two reads
    // (both non-empty: AQE would drop an empty cached relation's scan)
    val (root, resumed) = pipeline("graft-land-twice")
    resumed.extractRange("blocks", 1, 5)
    resumed.extractRange("txs", 1, 3)
    resumed.extractRange("txs", 4, 5)
    new graft.ingest.Manifest(s"$root/parsed").record(Seq("1_3.json"), "txs:tx_result")
    assert(scans(resumed.parse()) == 2)
  }

  test("time-enrichment blocks side is pruned to the tx batch's height span") {
    // the blocks zone grows with chain height forever; the enrichment
    // broadcast must be bounded by the BATCH window, with the range
    // predicate pushed into the parquet scan
    val root = Files.createTempDirectory("graft-bounded-enrich").toString
    val pipe = new Pipeline(spark, root, FakeNode.fetch)
    pipe.extractRange("blocks", 1, 5)
    pipe.parse() // blocks land first
    // filename contract → span
    assert(Pipeline.fileHeightSpan(Seq("3_5.json", "1_2.json")) == Some((1L, 5L)))
    assert(Pipeline.fileHeightSpan(Seq("metadata.json", "junk")) == None)
    assert(Pipeline.fileHeightSpan(Nil) == None)
    // the bounded frame carries the span filter down to the file scan
    val bounded = pipe.enrichmentBlocks(Some((3L, 5L)))
    val scan = bounded.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("GreaterThanOrEqual(height,3)") &&
      scan.contains("LessThanOrEqual(height,5)"),
      s"height span not pushed to the blocks scan:\n$scan")
    assert(bounded.select("height").collect().map(_.getLong(0)).sorted.toSeq
      == Seq(3L, 4L, 5L))
    // and the late-blocks tx batch still enriches correctly end-to-end:
    // txs [3,5] join only their window's blocks
    pipe.extractRange("txs", 3, 5)
    pipe.parse()
    val txr = spark.read.parquet(s"$root/parsed/tx_result")
    assert(txr.filter("height = 3").head().getAs[String]("day") == "2023-08-03")
    assert(txr.filter("day IS NULL").count() == 0)
  }

  test("events model keeps pivot columns that first appear in a later parse batch") {
    val root = Files.createTempDirectory("graft-events-merge").toString
    val pipe = new Pipeline(spark, root, MintNode.fetch)
    pipe.extractRange("blocks", 1, 5)
    pipe.extractRange("txs", 1, 3)
    pipe.parse() // transfer_amount only
    pipe.extractRange("txs", 4, 5)
    pipe.parse() // mint_supply only
    val events = pipe.runModels(BreadModels.parsedModels)("events")
    assert(Set("transfer_amount", "mint_supply").subsetOf(events.columns.toSet),
      events.columns.mkString(", "))
    val byHeight: Map[Long, (String, String)] = events.collect().map { r =>
      r.getAs[Long]("height") -> (r.getAs[String]("transfer_amount"), r.getAs[String]("mint_supply"))
    }.toMap
    assert(byHeight == Map(1L -> ("100uakt", null), 3L -> ("300uakt", null),
      5L -> (null, "500uakt")))
  }

  test("zone schemas: each static parsed table's known schema is what a footer read infers") {
    val root = Files.createTempDirectory("graft-zone-schema").toString
    val pipe = new Pipeline(spark, root, FakeNode.fetch)
    Seq("blocks", "txs").foreach(pipe.extractRange(_, 1, 5))
    pipe.parse()
    Pipeline.staticTables.foreach { t =>
      val inferred = spark.read.parquet(s"$root/parsed/$t").schema
      assert(pipe.zoneSchemas(t) == inferred,
        s"$t known:\n${pipe.zoneSchemas(t).treeString}inferred:\n${inferred.treeString}")
    }
  }

  test("model views are snapshots: rows a later parse lands stay invisible until the next runModels") {
    val root = Files.createTempDirectory("graft-snapshot").toString
    val pipe = new Pipeline(spark, root, FakeNode.fetch)
    def counts(out: Map[String, DataFrame]): Seq[Long] =
      BreadModels.parsedModelNames.map(out(_).count())
    Seq("blocks", "txs").foreach(pipe.extractRange(_, 1, 3))
    pipe.parse()
    val first = pipe.runModels(BreadModels.parsedModels)
    assert(counts(first) == Seq(3L, 2L, 2L, 2L)) // blocks 1-3, txs at 1 and 3
    Seq("blocks", "txs").foreach(pipe.extractRange(_, 4, 5))
    pipe.parse()
    assert(counts(first) == Seq(3L, 2L, 2L, 2L))
    assert(spark.table("tx_result").count() == 2)
    assert(counts(pipe.runModels(BreadModels.parsedModels)) == Seq(5L, 3L, 3L, 3L))
  }

  test("job budget: an incremental run's models cost one schema merge, its parse no footer read") {
    val root = Files.createTempDirectory("graft-job-budget").toString
    val pipe = new Pipeline(spark, root, FakeNode.fetch)
    pipe.run(tip = 3, chainFloor = 1, numBlocks = 2, models = BreadModels.parsedModels)
    // (job description, ran inside a SQL execution): a job outside any
    // execution is a metadata job — a footer read or schema merge
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, Boolean)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add((String.valueOf(e.properties.getProperty("spark.job.description")),
          e.properties.getProperty("spark.sql.execution.id") != null))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    val out = try {
      val (built, _) = pipe.runWithReport(tip = 5, chainFloor = 1, numBlocks = 2,
        models = BreadModels.parsedModels)
      // listener events arrive in order: once the barrier job shows up,
      // every job of the run has been seen
      sc.setJobDescription("barrier")
      try sc.parallelize(Seq(1)).count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 30000000000L
      while (!jobs.asScala.exists(_._1 == "barrier") && System.nanoTime() < deadline)
        Thread.sleep(10)
      built
    } finally sc.removeSparkListener(listener)
    def stage(name: String) = jobs.asScala.filter(_._1 == s"pipeline.$name").toSeq
    assert(stage("run_models").size <= 1, stage("run_models"))
    assert(stage("parse_data").nonEmpty, "the parse stage's writes were not seen")
    assert(stage("parse_data").forall(_._2), stage("parse_data"))
    assert(out("blocks").count() == 5 && out("tx_result").count() == 3)
  }

  /** (job description, ran inside a SQL execution) of every job `body`
    * starts, and the descriptions of its SQL executions. */
  private def ladder(body: => Unit): (Seq[(String, Boolean)], Seq[String]) = {
    import org.apache.spark.scheduler.SparkListenerEvent
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, Boolean)]()
    val sqls = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add((String.valueOf(e.properties.getProperty("spark.job.description")),
          e.properties.getProperty("spark.sql.execution.id") != null))
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => sqls.add(s.description)
        case _ => ()
      }
    }
    GraftBridge.waitForListenerBus(spark)
    spark.sparkContext.addSparkListener(listener)
    try { body; GraftBridge.waitForListenerBus(spark) }
    finally spark.sparkContext.removeSparkListener(listener)
    (jobs.asScala.toSeq, sqls.asScala.toSeq)
  }

  test("increment job budget: parse runs at most 8 jobs, a reused run_models none") {
    val root = Files.createTempDirectory("graft-increment-budget").toString
    val pipe = new Pipeline(spark, root, FakeNode.fetch)
    val models = BreadModels.parsedModels
    val first = pipe.run(tip = 3, chainFloor = 1, numBlocks = 2, models = models)
    assert(first("blocks").collect().length == 3)
    var out = Map.empty[String, DataFrame]
    val (jobs, sqls) = ladder {
      out = pipe.runWithReport(tip = 5, chainFloor = 1, numBlocks = 2, models = models)._1
    }
    val parse = jobs.filter(_._1 == "pipeline.parse_data")
    assert(parse.nonEmpty && parse.size <= 8, parse)
    assert(parse.forall(_._2), parse)
    assert(!jobs.exists(_._1 == "pipeline.run_models"), jobs)
    assert(!sqls.contains("pipeline.run_models"), sqls)
    assert(out("blocks").collect().length == 5 && out("tx_result").count() == 3)
    assert(first("blocks").count() == 5)
    val (again, againSqls) = ladder(pipe.runModels(models))
    assert(again.isEmpty && againSqls.isEmpty, (again, againSqls))
  }

  test("events widening: a batch with a new pivot column rebuilds the events view") {
    val root = Files.createTempDirectory("graft-events-widen").toString
    val pipe = new Pipeline(spark, root, MintNode.fetch)
    pipe.extractRange("blocks", 1, 5)
    pipe.extractRange("txs", 1, 3)
    pipe.parse() // transfer_amount only
    assert(!pipe.runModels(BreadModels.parsedModels)("events").columns.contains("mint_supply"))
    pipe.extractRange("txs", 4, 5)
    pipe.parse() // mint_supply only
    val events = pipe.runModels(BreadModels.parsedModels)("events")
    assert(Set("transfer_amount", "mint_supply").subsetOf(events.columns.toSet),
      events.columns.mkString(", "))
    val rows = events.collect().toSet
    val fresh = new Pipeline(spark, root, MintNode.fetch).runModels(BreadModels.parsedModels)("events")
    assert(fresh.columns.toSeq == events.columns.toSeq)
    assert(fresh.collect().toSet == rows && rows.size == 3)
  }

  test("two Pipelines in one session: the views answer for the last runModels caller's zone") {
    def zone(tip: Long): Pipeline = {
      val pipe = new Pipeline(spark, Files.createTempDirectory("graft-two-zones").toString,
        FakeNode.fetch)
      Seq("blocks", "txs").foreach(pipe.extractRange(_, 1, tip))
      pipe.parse()
      pipe
    }
    val (five, three) = (zone(5), zone(3))
    def views: (Long, Long) =
      (spark.table("blocks").count(), spark.table("tx_result").count())
    for ((pipe, expected) <- Seq(five -> (5L, 3L), three -> (3L, 2L), five -> (5L, 3L),
        five -> (5L, 3L), three -> (3L, 2L))) {
      pipe.runModels(BreadModels.parsedModels)
      assert(views == expected)
    }
  }

  test("a DAG with a table model sees a second run's rows") {
    val root = Files.createTempDirectory("graft-table-model").toString
    val pipe = new Pipeline(spark, root, FakeNode.fetch)
    val models = BreadModels.parsedModels :+
      Model("tx_count", """select count(*) as n from {{ ref("tx_result") }}""", "table")
    def txCount(): Long = pipe.runModels(models)("tx_count").head().getLong(0)
    Seq("blocks", "txs").foreach(pipe.extractRange(_, 1, 3))
    pipe.parse()
    assert(txCount() == 2)
    Seq("blocks", "txs").foreach(pipe.extractRange(_, 4, 5))
    pipe.parse()
    assert(txCount() == 3)
  }

  test("a batch larger than the advisory partition size keeps the rebalance; files per day stay bounded") {
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.{REBALANCE_PARTITIONS_BY_COL, ShuffleExchangeExec}
    import org.apache.spark.sql.util.QueryExecutionListener
    // every block of this chain falls on one day, in one raw file per
    // height: five read partitions for that day
    val root = Files.createTempDirectory("graft-large-batch").toString
    val pipe = new Pipeline(spark, root, url => FakeNode.fetch(url).replaceAll("2023-08-0\\d", "2023-08-01"))
    (1L to 5L).foreach(h => pipe.extractRange("blocks", h, h))
    val rawBytes = (1 to 5).map(h => Files.size(Paths.get(root, "rpc", "blocks", s"${h}_$h.json"))).sum
    val rebalances = new java.util.concurrent.atomic.AtomicInteger(0)
    def count(p: SparkPlan): Unit = p match {
      case s: ShuffleExchangeExec if s.shuffleOrigin == REBALANCE_PARTITIONS_BY_COL =>
        rebalances.incrementAndGet(); count(s.child)
      case a: AdaptiveSparkPlanExec => count(a.executedPlan)
      case s: QueryStageExec => count(s.plan)
      case other => other.children.foreach(count)
    }
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = count(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, (rawBytes - 1).toString)
    spark.listenerManager.register(listener)
    try { pipe.parse(); GraftBridge.waitForListenerBus(spark) }
    finally {
      spark.listenerManager.unregister(listener)
      before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
    assert(rebalances.get == 1)
    val day = Paths.get(root, "parsed", "blocks", "year=2023", "month=2023-08", "day=2023-08-01")
    val files = Files.list(day)
    val parquet = try files.iterator().asScala.count(_.toString.endsWith(".parquet")) finally files.close()
    assert(parquet >= 1 && parquet < 5, s"$parquet files for one day from 5 read partitions")
    assert(spark.read.parquet(s"$root/parsed/blocks").count() == 5)
  }

  test("a torn raw file fails the parse and lands nothing; re-extracting the range heals it") {
    def parquetFiles(root: String, table: String): Long = {
      val dir = Paths.get(root, "parsed", table)
      if (!Files.isDirectory(dir)) 0L
      else {
        val s = Files.walk(dir)
        try s.iterator().asScala.count(_.toString.endsWith(".parquet")).toLong finally s.close()
      }
    }
    for (kind <- Seq("blocks", "txs")) {
      val root = Files.createTempDirectory(s"graft-torn-$kind").toString
      val pipe = new Pipeline(spark, root, FakeNode.fetch)
      Seq("blocks", "txs").foreach(pipe.extractRange(_, 1, 5))
      val raw = Paths.get(root, "rpc", kind, "1_5.json")
      val body = Files.readString(raw)
      Files.writeString(raw, body.take(body.length / 2))
      intercept[Exception](pipe.parse())
      val tables = if (kind == "blocks") Seq("blocks") else Seq("tx_result", "log_attributes", "events")
      assert(tables.forall(parquetFiles(root, _) == 0), kind)
      val m = new graft.ingest.Manifest(s"$root/parsed")
      assert((kind +: tables.filter(_ != "blocks").map(t => s"txs:$t"))
        .forall(k => m.newFiles(Seq("1_5.json"), k) == Seq("1_5.json")), kind)
      pipe.extractRange(kind, 1, 5)
      pipe.parse()
      assert(spark.read.parquet(s"$root/parsed/blocks").select("height").as[Long](org.apache.spark.sql.Encoders.scalaLong)
        .collect().sorted.toSeq == (1L to 5L))
      val txr = spark.read.parquet(s"$root/parsed/tx_result")
      assert(txr.select("height").as[Long](org.apache.spark.sql.Encoders.scalaLong).collect().sorted.toSeq
        == Seq(1L, 3L, 5L), kind)
      assert(txr.filter("day IS NULL").count() == 0, kind)
    }
  }

  test("error-height ledger appends are idempotent under batch replay") {
    val root = Files.createTempDirectory("graft-ledger-replay").toString
    graft.ingest.ErrorHeights.append(root, Seq(3L, 4L))
    // a crash between ledger append and offset commit replays the batch
    graft.ingest.ErrorHeights.append(root, Seq(3L, 4L))
    graft.ingest.ErrorHeights.append(root, Seq(4L, 9L))
    assert(graft.ingest.ErrorHeights.read(root) == Seq(3L, 4L, 9L))
  }

  test("full flow: sync + backfill -> parse -> models -> dashboard probe") {
    val root = Files.createTempDirectory("graft-e2e").toString
    val pipe = new Pipeline(spark, root, FakeNode.fetch)

    val models = Seq(
      Model("gas_used_per_day",
        "SELECT day, SUM(CAST(gas_used AS BIGINT)) AS gas FROM tx_result GROUP BY day",
        "table"),
      Model("cum_gas",
        """SELECT day, gas, SUM(gas) OVER (ORDER BY day ASC
          |ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_gas
          |FROM {{ ref("gas_used_per_day") }}""".stripMargin))

    // tip=5, floor=1, sync window of 2 → sync [3,5], then backfill [1,2]
    val out = pipe.run(tip = 5, chainFloor = 1, numBlocks = 2, models = models)

    // raw zone: sync file + backfill chunks, watermark repaired from files
    val ws = new graft.ingest.WatermarkStore(s"$root/rpc/blocks")
    assert(ws.minHeightFromFiles == 1L && ws.maxHeightFromFiles == 5L)

    // parsed zone
    assert(spark.read.parquet(s"$root/parsed/blocks").count() == 5)
    val txr = spark.read.parquet(s"$root/parsed/tx_result")
    assert(txr.count() == 3) // odd heights 1,3,5
    // time-enrichment joined the per-height day strings
    assert(txr.filter("height = 3").head().getAs[String]("day") == "2023-08-03")
    // events wide: pivoted transfer_amount column with decoded base64
    val ev = spark.read.parquet(s"$root/parsed/events")
    assert(ev.filter("height = 5").head().getAs[String]("transfer_amount") == "500uakt")

    // models: ref() DAG built in order; cumulative window over days
    val cum = out("cum_gas").orderBy("day").collect()
    assert(cum.map(_.getAs[Long]("gas")).toSeq == Seq(900L, 2700L, 4500L))
    assert(cum.map(_.getAs[Long]("cum_gas")).toSeq == Seq(900L, 3600L, 8100L))

    // log_attributes EAV rows flowed through the lenient log-JSON path
    val la = spark.read.parquet(s"$root/parsed/log_attributes")
    assert(la.filter("height = 1").head().getAs[String]("value") == "100uakt")

    // the reference's first dashboard probe runs against the same session
    val gas = spark.sql(
      "SELECT CAST(gas_used AS INT) AS gas_used, CAST(gas_wanted AS INT) AS gas_wanted FROM tx_result")
    assert(gas.count() == 3)

    // idempotent re-parse: manifest filters already-processed raw files
    pipe.parse()
    assert(spark.read.parquet(s"$root/parsed/tx_result").count() == 3)

    // the rendered front door, end-to-end: the reference's
    // pages/index.md VERBATIM (its `main.tx_result` resolved via a
    // `main` database view over the parsed zone this very run landed),
    // served over HTTP and rendered to a chart with the real gas rows
    spark.sql("CREATE DATABASE IF NOT EXISTS main")
    spark.sql("CREATE OR REPLACE VIEW main.tx_result AS " +
      s"SELECT * FROM parquet.`$root/parsed/tx_result`")
    val indexMd =
      """---
        |title: bread 🍞
        |hide_title: true
        |---
        |
        |# bread 🍞
        |
        |```sql gas
        |select cast(gas_used as int), cast(gas_wanted as int) from main.tx_result
        |```
        |
        |<LineChart data={gas}/>
        |""".stripMargin
    val srv = new graft.query.QueryServer(spark, Map("index" -> indexMd))
    val port = srv.start()
    try {
      val conn = java.net.URI.create(s"http://127.0.0.1:$port/page/index.html")
        .toURL.openConnection().asInstanceOf[java.net.HttpURLConnection]
      assert(conn.getResponseCode == 200)
      val html = new String(conn.getInputStream.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8)
      conn.disconnect()
      assert(html.contains("<h1>bread 🍞</h1>"), html.take(400))
      // x defaults to the first column (gas_used), y to the one other
      // numeric column → exactly ONE series, its 3 tx rows as 3 points
      val polylines = "<polyline points=\"([^\"]*)\"".r
        .findAllMatchIn(html).map(_.group(1)).toList
      assert(polylines.size == 1, html)
      assert(polylines.head.trim.split(" ").length == 3, polylines.head)
      assert(html.contains(""">gas_wanted</text>"""), html) // series legend
    } finally {
      srv.stop()
      spark.sql("DROP VIEW IF EXISTS main.tx_result")
      spark.sql("DROP DATABASE IF EXISTS main")
    }
  }

  test("corpus flow e2e: fixture JSON -> curate -> token shards, manifest certifies the store") {
    import graft.operators.CorpusPipeline
    import graft.pipeline.CorpusFlow
    import org.apache.spark.sql.functions._
    val in = Files.createTempDirectory("graft-corpus-in").toString
    val out = Files.createTempDirectory("graft-corpus-out").toString
    // 10 good docs over two sources, a planted EXACT duplicate (doc 11
    // repeats doc 1's text), one too-short doc, one corrupt line, one
    // null-id line
    val words = (0 until 40).map(i => s"w$i")
    def textOf(seed: Int) = (0 until 20).map(i => words((seed * 7 + i) % 40)).mkString(" ")
    val lines =
      (1 to 10).map { i =>
        val src = if (i % 2 == 0) "a" else "b"
        s"""{"doc_id": $i, "source": "$src", "text": "${textOf(i)}"}"""
      } ++ Seq(
        s"""{"doc_id": 11, "source": "a", "text": "${textOf(1)}"}""", // exact dup of doc 1
        """{"doc_id": 12, "source": "a", "text": "too short"}""",     // fails quality
        """this line is not json at all""",                           // corrupt
        """{"source": "b", "text": "null id line of sixteen words or so padded out to pass quality gates fine"}""")
    Files.writeString(Paths.get(in, "docs.json"), lines.mkString("\n"))

    val epochs = Map("a" -> 2.0, "b" -> 1.0)
    val (manifest, flow) = CorpusFlow.runWithReport(spark, in, epochs,
      numShards = 2, seqLen = 16, outDir = out)
    val rows = manifest.collect()

    // the flow report: three stages, no errors, honest counters
    val report = flow.report
    assert(report.map(_.name) ==
      Seq("ingest_documents", "curate", "export_token_shards"))
    assert(report.forall(_.error.isEmpty))
    val ingest = report(0).counters
    assert(ingest("corrupt_or_null_lines") == 2L, ingest)
    assert(ingest("docs_read") == 12L, ingest)
    val curate = report(1).counters
    assert(curate("docs_in") == 12L && curate("after_quality") == 11L &&
      curate("after_exact_dedup") == 10L, curate)
    val export = report(2).counters
    assert(export("shards") == rows.length.toLong)
    // epoch mix with integer factors is exact: a-survivors ×2 + b-survivors ×1
    val bySrc = spark.read.parquet(s"$out/stream")
      .groupBy("source").agg(countDistinct("doc_id").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(export("mixed_docs") == 2L * bySrc.getOrElse("a", 0L) +
      bySrc.getOrElse("b", 0L), (export, bySrc))

    // the manifest certifies the on-disk store: recompute it from the
    // files and from an independent in-memory replay — all three agree
    val disk = spark.read.parquet(s"$out/stream")
      .withColumn("shard", col("shard").cast("long"))
    val fromDisk = CorpusPipeline.tokenShardManifest(disk, seqLen = 16)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4), r.getLong(5))).toMap
    val replay = {
      val docs = spark.read
        .schema("doc_id LONG, source STRING, text STRING, _corrupt STRING")
        .option("columnNameOfCorruptRecord", "_corrupt").json(in)
        .filter(col("_corrupt").isNull && col("doc_id").isNotNull &&
          col("text").isNotNull)
        .select("doc_id", "source", "text")
      val (curated, _) = CorpusPipeline.curate(docs, "doc_id", "text")
      CorpusPipeline.tokenShardManifest(
        CorpusPipeline.tokenShardStream(curated, "doc_id", "source", "text",
          epochs, numShards = 2, seqLen = 16), seqLen = 16)
        .collect().map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4), r.getLong(5))).toMap
    }
    val returned = rows.map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4), r.getLong(5))).toMap
    assert(returned == fromDisk, "manifest must certify the written files")
    assert(returned == replay, "flow output must equal an independent replay")
    assert(returned.values.map(_._1).sum == export("mixed_docs"))
    // rerun converges (idempotent overwrite sinks): same manifest
    val (again, _) = CorpusFlow.runWithReport(spark, in, epochs,
      numShards = 2, seqLen = 16, outDir = out)
    val rerun = again.collect().map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4), r.getLong(5))).toMap
    assert(rerun == returned)

    // boundedManifest=true: the WHOLE export (flow → writeTokenShards →
    // manifest job) runs without the buffering md5 fingerprint — the
    // manifest carries shard_fp_pos ONLY, with the same values the
    // unbounded manifest computed for the same store
    val outB = Files.createTempDirectory("graft-flow-bounded").toString
    val (bounded, _) = CorpusFlow.runWithReport(spark, in, epochs,
      numShards = 2, seqLen = 16, outDir = outB, boundedManifest = true)
    assert(!bounded.columns.contains("shard_fp") &&
      bounded.columns.contains("shard_fp_pos"), bounded.columns.mkString(","))
    val boundedFps = bounded.collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("shard_fp_pos")).toMap
    assert(boundedFps == returned.map { case (s, v) => s -> v._5 })
  }
}
