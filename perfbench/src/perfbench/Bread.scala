package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.ingest.ErrorHeights
import graft.models.{BreadModels, Model}

/** The model DAG the flow runs: all 14 bundled models plus the two
  * source views they read (`indexer.txs`, `indexer.logs`), built here
  * from the parsed tables. Sources become refs so the DAG orders them. */
object Bread {
  val bridgeTxs = Model("indexer_txs",
    """select t.hash as txhash, t.height,
      |  cast(t.gas_used as bigint) as gas_used,
      |  cast(t.gas_wanted as bigint) as gas_wanted,
      |  to_timestamp(b.time) as timestamp
      |from {{ ref("tx_result") }} t join {{ ref("blocks") }} b on t.height = b.height
      |""".stripMargin)

  val bridgeLogs = Model("indexer_logs",
    """select hash as txhash, msg_index,
      |  map_from_entries(collect_list(struct(k, vs))) as parsed
      |from (
      |  select hash, msg_index, concat(type, '_', key) as k, collect_list(value) as vs
      |  from {{ ref("log_attributes") }}
      |  group by hash, msg_index, type, key)
      |group by hash, msg_index
      |""".stripMargin)

  def models(parsedRoot: String): Seq[Model] =
    (BreadModels.parsedModels ++ BreadModels.analyticsModels).map { m =>
      val sql = m.sql
        .replaceAll("""\{\{\s*var\(\s*['"]parsed_root['"]\s*\)\s*\}\}""",
          java.util.regex.Matcher.quoteReplacement(parsedRoot))
        .replaceAll("""\{\{\s*source\(\s*['"]indexer['"]\s*,\s*['"](\w+)['"]\s*\)\s*\}\}""",
          """{{ ref("indexer_$1") }}""")
      m.copy(sql = sql)
    } ++ Seq(bridgeTxs, bridgeLogs)

  val tables: Seq[String] = BreadModels.parsedModelNames

  /** Parquet files under the parsed zone. */
  def parsedFiles(root: String): Long = {
    val p = Path.of(root, "parsed")
    if (!Files.isDirectory(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.count(_.toString.endsWith(".parquet")).toLong
      finally s.close()
    }
  }

  /** Cheap checks after an increment: coverage and the empty ledger. */
  def checkCoverage(spark: SparkSession, root: String, exp: Expected, tip: Long,
      checks: Checks): Unit = {
    val b = spark.sql(
      "select count(*), count(distinct height), min(height), max(height) from blocks").head()
    checks.eq("blocks rows, distinct heights, range",
      (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3)), (tip, tip, 1L, tip))
    checks.eq("tx_result rows", spark.table("tx_result").count(), exp.txPrefix(tip.toInt))
    checks.eq("error ledger", (ErrorHeights.read(root, "blocks") ++
      ErrorHeights.read(root, "txs")).size, 0)
  }

  /** Full checks of a zone landed to `exp.tip`: per-table rows, gas per
    * day, txs per day, IBC totals, every analytics model non-empty. */
  def checkZone(spark: SparkSession, root: String, exp: Expected, checks: Checks): Unit = {
    checkCoverage(spark, root, exp, exp.tip, checks)
    // one action for every row count and IBC total
    val counts = (Seq("log_attributes", "events") ++ BreadModels.analyticsModelNames)
      .map(t => s"select '$t', count(*), cast(null as bigint) from $t")
    val sums = Seq(
      "select 'in', cast(sum(transfer_amount) as bigint), 0 from ibc_transfers_in",
      "select 'out', cast(sum(transfer_amount) as bigint), 0 from ibc_transfers_out",
      "select 'net', cast(sum(total_amount_over_direction) as bigint), 0 from daily_ibc_transfers",
      "select 'cum', max(tx_count), 0 from cum_txs_per_day")
    val got = spark.sql((counts ++ sums).mkString(" union all "))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    checks.eq("log_attributes rows", got("log_attributes"), exp.logAttributeRows)
    checks.eq("events rows", got("events"), exp.eventRows)
    checks.eq("ibc_transfers_in", (got("ibc_transfers_in"), got("in")), (exp.ibcIn, exp.ibcInAmount))
    checks.eq("ibc_transfers_out", (got("ibc_transfers_out"), got("out")), (exp.ibcOut, exp.ibcOutAmount))
    checks.eq("ibc net amount", got("net"), exp.ibcInAmount - exp.ibcOutAmount)
    checks.eq("cum_txs_per_day final", got("cum"), exp.txs)
    BreadModels.analyticsModelNames.foreach(m => checks.op(got(m) > 0, s"model $m is empty"))
    val gas = spark.sql("select date_format(day, 'yyyy-MM-dd'), sum_gas_used from gas_used_per_day")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    checks.eq("gas_used_per_day", gas, exp.gasByDay)
    val perDay = spark.sql("select date_format(day, 'yyyy-MM-dd'), tx_count from num_txs_per_day")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    checks.eq("num_txs_per_day", perDay, exp.txsByDay)
  }
}
