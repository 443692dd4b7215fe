package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** What every phase shares within one run. */
final class Ctx(val spark: SparkSession, val seed: Long, val work: String,
    val cores: Int, val trace: Option[Trace], val checks: Checks = new Checks) {
  val metrics = new Metrics
  def freshDir(tag: String): String =
    Files.createDirectories(Path.of(work, s"$tag-${Ctx.dirs.incrementAndGet()}")).toString
  def span[T](name: String, req: String = "")(body: => T): T =
    trace.fold(body)(_.span(name, req)(body))
}

object Ctx {
  private val dirs = new java.util.concurrent.atomic.AtomicInteger(0)
}

object Main {
  private val t0 = System.nanoTime()
  /** Progress on stderr: phase boundaries with seconds since start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - t0) / 1e9}%7.2f] $msg")

  private def opt(args: Array[String], k: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`k`, v) => v }

  /** Time `rounds` repetitions of a set-up; the median is setup_s. */
  private def setupRounds(ctx: Ctx, rounds: Int)(body: => Unit): Unit = {
    val ts = (1 to rounds).map { _ =>
      val t0 = System.nanoTime()
      ctx.span("setup")(body)
      (System.nanoTime() - t0) / 1e9
    }
    ctx.metrics("setup_s", "s", Stats.median(ts))
    log(s"setup rounds ${ts.map(s => f"$s%.2f").mkString(" ")}")
  }

  /** Heap in use once garbage is gone: full GCs until the live set stops
    * shrinking. Spark's ContextCleaner frees shuffle and broadcast state
    * only after a GC has cleared the weak references to it, so one GC is
    * not enough to see what stays. */
  private def retainedHeap(spark: SparkSession): Long = {
    spark.sharedState.cacheManager.clearCache()
    val mem = ManagementFactory.getMemoryMXBean
    var last = Long.MaxValue
    var used = { System.gc(); mem.getHeapMemoryUsage.getUsed }
    var rounds = 1
    while (used < last - (1L << 20) && rounds < 6) {
      last = used
      Thread.sleep(200)
      System.gc()
      used = mem.getHeapMemoryUsage.getUsed
      rounds += 1
    }
    used
  }

  def main(args: Array[String]): Unit = {
    def need(k: String) = opt(args, k).getOrElse(sys.error(s"missing $k"))
    val workload = need("--workload")
    val seed = need("--seed").toLong
    val seconds = need("--seconds").toDouble
    val traced = need("--trace") == "1"
    val work = need("--work")
    val dataDir = need("--regdata")
    val cores = need("--cores").toInt
    require(Seq("flow", "registry").contains(workload), s"unknown workload $workload")

    val spark = GraftSession.local("perfbench", cores)
    val ctx = new Ctx(spark, seed, work, cores, if (traced) Some(new Trace(spark)) else None)
    val m = ctx.metrics
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    var gc0 = 0L
    def measuring(): Unit = {
      gc0 = gcBeans.map(_.getCollectionTime).sum
      pools.foreach(_.resetPeakUsage())
    }
    log("session up")

    val env = workload match {
      case "flow" =>
        // extract -> parse -> models -> serve, as one flow
        val chain = FlowPhase.chain(seed, FlowPhase.flowHeights, faults = true)
        val flow = new FlowPhase(ctx, chain)
        setupRounds(ctx, 3)(flow.setup())
        measuring()
        val (root, exp) = flow.run(increments = 3)
        log("flow done")
        val serve = new ServePhase(ctx, root, exp, ServePhase.rate, seconds, ServePhase.cycles)
        serve.run()
        Seq("chain_heights" -> chain.tip0.toString,
          "page_delay_us" -> chain.pageDelayMicros.toString,
          "offered_rps" -> Json.num(ServePhase.rate),
          "clients" -> serve.clients.toString)
      case _ =>
        val phase = new RegistryPhase(ctx, dataDir, RegistryPhase.slice)
        setupRounds(ctx, 3)(phase.setup())
        measuring()
        phase.run()
        Seq("registry_queries" -> RegistryPhase.slice.size.toString)
    }
    log(s"$workload measured")

    val heapPeak = pools.map(_.getPeakUsage.getUsed).sum
    val gcS = (gcBeans.map(_.getCollectionTime).sum - gc0) / 1e3
    m("heap_retained_mb", "MB", retainedHeap(spark) / 1048576.0)
    ctx.trace.foreach { tr =>
      tr.drain()
      val all = tr.window(0L, Long.MaxValue / 2)
      m("plans.analysis_s", "s", all.analysisMs / 1e3)
      m("plans.optimization_s", "s", all.optimizationMs / 1e3)
      m("plans.planning_s", "s", all.planningMs / 1e3)
      m("jvm.gc_s", "s", gcS)
      m("jvm.heap_peak_mb", "MB", heapPeak / 1048576.0)
      m("trace.spans", "count", tr.allSpans.size.toDouble)
      // every per-layer metric is measured in every traced run: after this
      // workload's own numbers are taken, the other workload's layers run
      // at a smaller size and fill in their per-layer metrics
      val tour = new Ctx(spark, seed, work, cores, ctx.trace, ctx.checks)
      workload match {
        case "flow" =>
          new RegistryPhase(tour, dataDir, RegistryPhase.named :+ "q01_pricing_summary").run()
        case _ =>
          val chain = FlowPhase.chain(seed, 2000, faults = true)
          val (root, exp) = new FlowPhase(tour, chain).run(increments = 2)
          new ServePhase(tour, root, exp, ServePhase.rate, 4, cycles = 0).run()
      }
      log("other layers toured")
      (FlowPhase.layerMetrics ++ ServePhase.layerMetrics ++ RegistryPhase.layerMetrics)
        .foreach { case (name, unit) => if (!m.contains(name)) m(name, unit, tour.metrics(name)) }
      tr.close()
      Files.write(Path.of(work, "spans.jsonl"), tr.spansJsonLines.toSeq.asJava)
    }

    val (attempted, failed) = ctx.checks.counts
    val envAll = Seq(
      "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "cores" -> cores.toString,
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
      "seed" -> seed.toString) ++ env
    println(Json.obj(Seq(
      "workload" -> Json.str(workload),
      "env" -> Json.obj(envAll),
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "failures" -> ctx.checks.failures.map(Json.str).mkString("[", ",", "]"),
      "metrics" -> m.toJson)))
    spark.stop()
  }
}
