package perfbench

import graft.pipeline.{Flow, Pipeline}

import FlowPhase.FlowRun

/** The flow's extract, parse and models through `Pipeline.runWithReport`:
  * backfill a synthetic chain into an empty data root (sync, backfill
  * chunks, gap-fill, parse, all 14 models), then small incremental syncs
  * as the tip advances. */
final class FlowPhase(ctx: Ctx, chain: SyntheticChain) {

  private val extractStages = Seq("extract_sync", "extract_backfill", "gap_fill")
  private val step = FlowPhase.step

  private def once(pipe: Pipeline, models: Seq[graft.models.Model], tip: Long,
      name: String): FlowRun = {
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    val (_, flow) = ctx.span(name)(pipe.runWithReport(tip, 1L, chain.tip0 / 2, models))
    FlowRun(t0, flow, (System.nanoTime() - n0) / 1e9)
  }

  /** One set-up round: a pipeline over a fresh root, the node's tip
    * probed (`/abci_info`) and a first small extract of each kind. */
  def setup(): Unit = {
    val fetch = FlowPhase.fetcher(chain.copy(faults = false))
    val tip = graft.ingest.ChainClient.parseTip(fetch(graft.ingest.Fetch.abciInfoUrl("http://node")))
    ctx.checks.eq("abci_info tip", tip, chain.tip0)
    val pipe = new Pipeline(ctx.spark, ctx.freshDir("setup"), fetch)
    Seq("blocks", "txs").foreach(k => pipe.extractRange(k, 1, 500))
  }

  /** Backfill into an empty root, then `increments` incremental syncs of
    * `step` heights as the tip advances; returns the root and its
    * expected contents. */
  def run(increments: Int): (String, Expected) = {
    val spark = ctx.spark
    val root = ctx.freshDir("zone")
    val models = Bread.models(s"$root/parsed")
    val pipe = new Pipeline(spark, root, FlowPhase.fetcher(chain))

    val fetch0 = FetchCounters.snapshot()
    val backfill = once(pipe, models, chain.tip0, "flow.backfill")
    val fetch1 = FetchCounters.snapshot()
    Main.log(f"backfill ${backfill.seconds}%.2f s: ${backfill.flow.reportJson}")
    val exp = chain.expected(chain.tip0 + increments.toLong * step)

    // the first increment pays the increment path's JIT and codegen; the
    // median of three is one of the warm ones
    val incs = (1 to increments).map { k =>
      val tip = chain.tip0 + k.toLong * step
      val f0 = Bread.parsedFiles(root)
      val r = once(pipe, models, tip, "flow.increment")
      Main.log(f"increment $k ${r.seconds}%.2f s")
      (r, Bread.parsedFiles(root) - f0)
    }
    Bread.checkZone(spark, root, exp, ctx.checks)

    val m = ctx.metrics
    m("flow_backfill_s", "s", backfill.seconds)
    m("flow_increment_s", "s", Stats.median(incs.map(_._1.seconds)))
    m("batch_s", "s", backfill.seconds)
    m("step_ms", "ms", Stats.median(incs.map(_._1.seconds * 1e3)))

    ctx.trace.foreach { tr =>
      tr.drain()
      // each Flow stage as a child span of its run
      for ((r, parent) <- (backfill +: incs.map(_._1)).zip(
          tr.spansNamed("flow.backfill") ++ tr.spansNamed("flow.increment"));
          (stage, (s, e)) <- r.stages)
        tr.record(s"pipeline.$stage", parent.req, s, e, parent.id)
      def win(r: FlowRun, stages: Seq[String]): Window = stages.flatMap(r.stages.get)
        .map { case (s, e) => tr.window(s, e) }.foldLeft(Window.zero)(_ + _)
      val ingest = win(backfill, extractStages)
      val d = fetch1.zip(fetch0).map { case (a, b) => (a - b).toDouble }
      m("ingest.extract_s", "s", extractStages.map(backfill.secs).sum)
      m("ingest.fetch_calls", "count", d(0))
      m("ingest.fetch_busy_s", "s", d(1) / 1e9)
      m("ingest.raw_bytes", "bytes", d(2))
      m("ingest.fetch_failures", "count", d(4))
      m("ingest.useful_page_ratio", "ratio", d(3) / math.max(1.0, d(0)))
      m("ingest.tasks", "count", ingest.tasks.toDouble)
      m("ingest.driver_s", "s", ingest.driverGapMs / 1e3)
      m("ingest.chunks_quarantined", "count",
        backfill.counter(extractStages, "chunks_quarantined").toDouble)
      m("ingest.heights_refetched", "count",
        backfill.counter(extractStages, "heights_quarantined").toDouble)
      Seq("determine_sync_range", "extract_sync", "determine_backfill_range",
        "extract_backfill", "gap_fill", "parse_data", "run_models").foreach { s =>
        m(s"pipeline.${s}_s", "s", backfill.secs(s))
      }
      val parse = win(backfill, Seq("parse_data"))
      val (ps, pe) = backfill.stages("parse_data")
      m("parse.s", "s", backfill.secs("parse_data"))
      m("parse.executor_cpu_s", "s", parse.cpuNs / 1e9)
      m("parse.gc_s", "s", parse.gcMs / 1e3)
      m("parse.shuffle_bytes", "bytes", parse.shuffleBytes.toDouble)
      m("parse.bytes_written", "bytes", parse.bytesWritten.toDouble)
      Bread.tables.foreach { t =>
        m(s"parse.${t}_s", "s", tr.writeTo(s"parsed/$t", ps, pe).fold(0L)(_.durationNs) / 1e9)
      }
      val incParse = incs.map { case (r, files) => (win(r, Seq("parse_data")), files) }
      m("parse.jobs", "count", Stats.median(incParse.map(_._1.jobs.toDouble)))
      m("parse.tasks", "count", Stats.median(incParse.map(_._1.tasks.toDouble)))
      m("parse.files_written", "count", Stats.median(incParse.map(_._2.toDouble)))
      m("parse.driver_gap_s", "s", Stats.median(incParse.map(_._1.driverGapMs / 1e3)))
      val mw = win(backfill, Seq("run_models"))
      val (ms, me) = backfill.stages("run_models")
      m("models.s", "s", backfill.secs("run_models"))
      m("models.jobs", "count", mw.jobs.toDouble)
      m("models.bytes_written", "bytes", mw.bytesWritten.toDouble)
      Bread.tables.foreach { t =>
        m(s"models.${t}_s", "s", tr.writeTo(s"/$t", ms, me, unless = "/parsed/")
          .fold(0L)(_.durationNs) / 1e9)
      }
    }
    (root, exp)
  }
}

object FlowPhase {
  final case class FlowRun(startMs: Long, flow: Flow, seconds: Double) {
    /** Stage → [start, end] ms: stages run back to back, so each starts
      * where the previous one ended. */
    lazy val stages: Map[String, (Long, Long)] = {
      var t = startMs.toDouble
      flow.report.map { r =>
        val s = t; t += r.seconds * 1000
        r.name -> (s.toLong, t.toLong)
      }.toMap
    }
    def secs(stage: String): Double =
      flow.report.filter(_.name == stage).map(_.seconds).sum
    def counter(stages: Seq[String], key: String): Long =
      flow.report.filter(r => stages.contains(r.name)).flatMap(_.counters.get(key)).sum
  }

  /** The node as a plain function: it ships to executors, so it must
    * capture the chain and nothing else. */
  def fetcher(c: SyntheticChain): String => String = u => c.fetch(u)

  val flowHeights = 5100
  val step = 300 // heights per incremental sync
  val pageDelayMicros = 2000

  /** Every chain spans twelve days, whatever its height. */
  def chain(seed: Long, heights: Int, faults: Boolean): SyntheticChain =
    SyntheticChain(seed, heights, heights / 12, pageDelayMicros, faults)

  val layerMetrics: Seq[(String, String)] = Seq(
    "flow_backfill_s" -> "s", "flow_increment_s" -> "s",
    "ingest.extract_s" -> "s", "ingest.fetch_calls" -> "count", "ingest.fetch_busy_s" -> "s",
    "ingest.raw_bytes" -> "bytes", "ingest.fetch_failures" -> "count",
    "ingest.useful_page_ratio" -> "ratio",
    "ingest.tasks" -> "count", "ingest.driver_s" -> "s",
    "ingest.chunks_quarantined" -> "count", "ingest.heights_refetched" -> "count") ++
    Seq("determine_sync_range", "extract_sync", "determine_backfill_range",
      "extract_backfill", "gap_fill", "parse_data", "run_models").map(s => s"pipeline.${s}_s" -> "s") ++
    Seq("parse.s" -> "s", "parse.executor_cpu_s" -> "s", "parse.gc_s" -> "s",
      "parse.shuffle_bytes" -> "bytes", "parse.bytes_written" -> "bytes") ++
    Bread.tables.map(t => s"parse.${t}_s" -> "s") ++
    Seq("parse.jobs" -> "count", "parse.tasks" -> "count", "parse.files_written" -> "count",
      "parse.driver_gap_s" -> "s", "models.s" -> "s", "models.jobs" -> "count",
      "models.bytes_written" -> "bytes") ++
    Bread.tables.map(t => s"models.${t}_s" -> "s")
}
