package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ingest.{ChainClient, Fetch}
import graft.models.BreadModels
import graft.sources.JavaHttpFetcher

/** CLI entry mirroring the reference's `python pipeline.py`
  * (pipelines/pipeline.py:133-139 + env contract :10-12):
  * `--dir` data root (default `./data/$NETWORK`), `--num_blocks` sync
  * window (default 10000); env `API_URL` (required), `NETWORK`,
  * `PER_PAGE`. Discovers tip/floor from the node, runs
  * sync → backfill → parse → the parsed models (the analytics models
  * read `indexer.*` sources this flow does not land).
  */
object PipelineMain {

  final case class Config(dir: String, numBlocks: Long, apiUrl: String, perPage: Int)

  def parseArgs(args: Seq[String], env: Map[String, String]): Config = {
    val apiUrl = env.getOrElse("API_URL",
      throw new IllegalArgumentException("API_URL env var is required"))
    val network = env.getOrElse("NETWORK", "default")
    val opts = args.sliding(2, 2).collect {
      case Seq(k, v) if k.startsWith("--") => k.stripPrefix("--") -> v
    }.toMap
    args.grouped(2).foreach {
      case Seq(k, _) if !k.startsWith("--") =>
        throw new IllegalArgumentException(s"unexpected argument '$k'")
      case Seq(k) =>
        throw new IllegalArgumentException(s"option '$k' needs a value")
      case _ => ()
    }
    val known = Set("dir", "num_blocks")
    opts.keys.filterNot(known).foreach(k =>
      throw new IllegalArgumentException(s"unknown option '--$k'"))
    Config(
      dir = opts.getOrElse("dir", s"./data/$network"),
      numBlocks = opts.get("num_blocks").map(_.toLong).getOrElse(10000L),
      apiUrl = apiUrl,
      perPage = env.get("PER_PAGE").map(_.toInt).getOrElse(100))
  }

  def main(args: Array[String]): Unit = {
    val cfg = parseArgs(args.toSeq, sys.env)
    val spark = graft.GraftSession.build("graft-pipeline")
    try run(spark, cfg, (new JavaHttpFetcher).fetch)
    finally spark.stop()
  }

  /** Discover tip and floor from the node, then run the flow through the
    * parsed models; returns the built model views by name. */
  def run(spark: SparkSession, cfg: Config,
      fetch: String => String): Map[String, DataFrame] = {
    val tip = ChainClient.parseTip(fetch(Fetch.abciInfoUrl(cfg.apiUrl)))
    val floor = ChainClient.parseChainFloor(fetch(s"${cfg.apiUrl}/block?height=1"))
    val pipe = new Pipeline(spark, cfg.dir, fetch, cfg.apiUrl, cfg.perPage)
    val built = pipe.run(tip, floor, cfg.numBlocks, BreadModels.parsedModels)
    println(s"pipeline complete: tip=$tip floor=$floor models=${built.size}")
    built
  }
}
