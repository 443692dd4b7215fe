package graft.models

import scala.io.Source

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The reference's 13 dbt models (4 parsed-zone views + 9 analytics
  * models, bread dbt/models + dbt/old_models), ported to Spark SQL and
  * bundled as classpath resources under graft/models/.
  *
  * Required bindings when running:
  *  - sources: ("indexer","txs") and ("indexer","logs") → registered
  *    views with the old-postgres schema (FIXTURES.md §3) — `txs(txhash,
  *    height, gas_used, gas_wanted, timestamp)`, `logs(txhash, msg_index,
  *    parsed map<string,array<string>>)`;
  *  - sources: ("parsed", t) for t in blocks, tx_result, log_attributes,
  *    events → registered views of the four parsed tables (only needed
  *    for the four parsed models; `Pipeline.runModels` binds them to the
  *    zone's files as of that run).
  */
object BreadModels {

  val parsedModelNames: Seq[String] =
    Seq("blocks", "tx_result", "log_attributes", "events")

  val analyticsModelNames: Seq[String] = Seq(
    "ibc_transfers_in", "ibc_transfers_out", "ibc_transfers",
    "daily_ibc_transfers", "hourly_ibc_transfers",
    "daily_cum_ibc_transfers", "hourly_cum_ibc_transfers",
    "gas_used_per_day", "num_txs_per_day", "cum_txs_per_day")

  private val resourceDirs = Map(
    "blocks" -> "parsed", "tx_result" -> "parsed",
    "log_attributes" -> "parsed", "events" -> "parsed",
    "ibc_transfers_in" -> "ibc", "ibc_transfers_out" -> "ibc",
    "ibc_transfers" -> "ibc", "daily_ibc_transfers" -> "ibc",
    "hourly_ibc_transfers" -> "ibc", "daily_cum_ibc_transfers" -> "ibc",
    "hourly_cum_ibc_transfers" -> "ibc",
    "gas_used_per_day" -> "gas",
    "num_txs_per_day" -> "txs", "cum_txs_per_day" -> "txs")

  def load(name: String): Model = {
    val path = s"/graft/models/${resourceDirs(name)}/$name.sql"
    val in = getClass.getResourceAsStream(path)
    require(in != null, s"missing bundled model resource $path")
    val sql = try Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    ModelRunner.parseModel(name, sql)
  }

  def parsedModels: Seq[Model]    = parsedModelNames.map(load)
  def analyticsModels: Seq[Model] = analyticsModelNames.map(load)

  /** Build the analytics DAG against registered `txs`/`logs` views. */
  def runAnalytics(
      spark: SparkSession,
      txsView: String = "txs",
      logsView: String = "logs"): Map[String, DataFrame] = {
    val runner = new ModelRunner(
      spark,
      sources = Map(
        ("indexer", "txs") -> txsView,
        ("indexer", "logs") -> logsView))
    runner.run(analyticsModels)
  }
}
