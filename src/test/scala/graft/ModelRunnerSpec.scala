package graft

import graft.models.SchemaTests

class SchemaTestsSpec extends org.scalatest.funsuite.AnyFunSuite with SparkSpec {
  test("unique + not_null probes detect violations and pass clean data") {
    import spark.implicits._
    Seq(("2023-08-01", 1L), ("2023-08-02", 2L))
      .toDF("day", "n").createOrReplaceTempView("st_clean")
    Seq((Option("2023-08-01"), 1L), (Option("2023-08-01"), 2L), (None, 3L))
      .toDF("day", "n").createOrReplaceTempView("st_dirty")

    val clean = SchemaTests.run(spark, Seq(
      SchemaTests.SchemaTest("st_clean", "day", SchemaTests.Unique),
      SchemaTests.SchemaTest("st_clean", "day", SchemaTests.NotNull)))
    assert(clean.forall(_.passed))

    val dirty = SchemaTests.run(spark, Seq(
      SchemaTests.SchemaTest("st_dirty", "day", SchemaTests.Unique),
      SchemaTests.SchemaTest("st_dirty", "day", SchemaTests.NotNull)))
    assert(dirty.map(r => (r.test.kind, r.violations)).toSet ==
      Set((SchemaTests.Unique, 1L), (SchemaTests.NotNull, 1L)))
  }
}

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.models.{BreadModels, Model, ModelRunner}

/** Exercises the dbt-style runner against fixture frames shaped like the
  * reference's old-postgres sources (FIXTURES.md §3) and asserts the
  * numbers its 9 analytics models should produce.
  */
class ModelRunnerSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  /** txs: 2 days; gas 100+200 on day1, 300 on day2. */
  private lazy val txs: DataFrame = Seq(
    ("TXIN1", 10L, 100L, 150L, ts("2023-08-01 10:00:00")),
    ("TXOUT1", 11L, 200L, 250L, ts("2023-08-01 11:00:00")),
    ("TXOTHER", 12L, 300L, 350L, ts("2023-08-02 09:00:00"))
  ).toDF("txhash", "height", "gas_used", "gas_wanted", "timestamp")

  /** logs: one inbound IBC transfer (message_module exactly
    * [ibc_channel, ibc_channel]), one outbound (contains transfer +
    * ibc_channel), one non-IBC row that must be filtered out. */
  private lazy val logs: DataFrame = Seq(
    ("TXIN1", 0L, Map(
      "message_module" -> Seq("ibc_channel", "ibc_channel"),
      "transfer_amount" -> Seq("123uakt"),
      "fungible_token_packet_sender" -> Seq("cosmos1aaa"),
      "fungible_token_packet_receiver" -> Seq("akash1bbb"),
      "recv_packet_packet_src_port" -> Seq("transfer"),
      "recv_packet_packet_src_channel" -> Seq("channel-9"),
      "recv_packet_packet_dst_port" -> Seq("transfer"),
      "recv_packet_packet_dst_channel" -> Seq("channel-17"))),
    ("TXOUT1", 0L, Map(
      "message_module" -> Seq("transfer", "ibc_channel"),
      "transfer_amount" -> Seq("40uakt"),
      "ibc_transfer_sender" -> Seq("akash1ccc"),
      "ibc_transfer_receiver" -> Seq("cosmos1ddd"),
      "send_packet_packet_src_port" -> Seq("transfer"),
      "send_packet_packet_src_channel" -> Seq("channel-17"),
      "send_packet_packet_dst_port" -> Seq("transfer"),
      "send_packet_packet_dst_channel" -> Seq("channel-9"))),
    ("TXOTHER", 0L, Map(
      "message_module" -> Seq("bank"),
      "transfer_amount" -> Seq("999uakt")))
  ).toDF("txhash", "msg_index", "parsed")

  private lazy val built: Map[String, DataFrame] = {
    txs.createOrReplaceTempView("txs")
    logs.createOrReplaceTempView("logs")
    BreadModels.runAnalytics(spark)
  }

  test("template resolution: ref, source, var") {
    val r = new ModelRunner(
      spark,
      sources = Map(("indexer", "txs") -> "real_txs"),
      vars = Map("network" -> "akash"))
    val sql = """select * from {{ ref("m1") }} join {{ source("indexer", "txs") }} using (x) where net = '{{ var('network') }}'"""
    assert(r.resolve(sql) === "select * from m1 join real_txs using (x) where net = 'akash'")
  }

  test("materialization directive parsing") {
    assert(ModelRunner.parseModel("m", "-- materialized: table\nselect 1").materialization === "table")
    assert(ModelRunner.parseModel("m", "select 1").materialization === "view")
  }

  test("topo sort orders refs before dependents; cycle fails") {
    val r = new ModelRunner(spark)
    val ms = Seq(
      Model("c", "select * from {{ ref('b') }}"),
      Model("a", "select 1"),
      Model("b", "select * from {{ ref('a') }}"))
    assert(r.topoSort(ms).map(_.name) === Seq("a", "b", "c"))
    val cyc = Seq(
      Model("x", "select * from {{ ref('y') }}"),
      Model("y", "select * from {{ ref('x') }}"))
    assertThrows[IllegalStateException](r.topoSort(cyc))
    // duplicate basenames (models/a/daily.sql + models/b/daily.sql)
    // would collapse last-wins in the name-keyed maps — one model's SQL
    // silently never running; refused up front instead
    val dup = Seq(Model("daily", "select 1"), Model("daily", "select 2"))
    val e = intercept[IllegalArgumentException](r.topoSort(dup))
    assert(e.getMessage.contains("daily"), e.getMessage)
  }

  test("ibc_transfers_in extracts amount/denom and filters on array equality") {
    val in = built("ibc_transfers_in").collect()
    assert(in.length === 1)
    val row = in.head
    assert(row.getAs[String]("txhash") === "TXIN1")
    assert(row.getAs[java.math.BigDecimal]("transfer_amount").longValue === 123L)
    assert(row.getAs[String]("transfer_denom") === "uakt")
    assert(row.getAs[String]("src_channel") === "channel-9")
  }

  test("ibc_transfers_out uses key-exists semantics and excludes non-IBC rows") {
    val out = built("ibc_transfers_out").collect()
    assert(out.length === 1)
    assert(out.head.getAs[String]("txhash") === "TXOUT1")
    assert(out.head.getAs[java.math.BigDecimal]("transfer_amount").longValue === 40L)
  }

  test("ibc_transfers unions with sign flip") {
    val rows = built("ibc_transfers")
      .select("txhash", "amount_over_direction").collect()
      .map(r => r.getString(0) -> r.getDecimal(1).longValue).toMap
    assert(rows === Map("TXIN1" -> 123L, "TXOUT1" -> -40L))
  }

  test("daily_ibc_transfers aggregates net flow per day and denom") {
    val rows = built("daily_ibc_transfers").collect()
    assert(rows.length === 1) // both transfers on 2023-08-01, same denom
    assert(rows.head.getAs[java.math.BigDecimal]("total_amount_over_direction").longValue === 83L)
    assert(rows.head.getAs[String]("transfer_denom") === "uakt")
  }

  test("cumulative models carry running totals") {
    val cum = built("cum_txs_per_day").orderBy("day").collect()
    assert(cum.map(_.getAs[Long]("tx_count")).toSeq === Seq(2L, 3L))
    val gas = built("gas_used_per_day").orderBy("day").collect()
    assert(gas.map(_.getAs[Long]("sum_gas_used")).toSeq === Seq(300L, 300L))
  }

  test("dbt schema probes: day unique + not_null on the gas/txs models") {
    // the reference's own declared tests (_gas.yml:6-9,
    // _tx_models.yml:7-18), run through the SchemaTests probe API
    built // ensure the DAG is built and views registered
    val results = SchemaTests.run(spark, SchemaTests.breadTests)
    assert(results.forall(_.passed),
      results.filterNot(_.passed).map(_.test).mkString(", "))
  }

  test("parsed models scan hive-partitioned parquet with partition recovery") {
    val root = Files.createTempDirectory("graft-parsed").toString
    Seq(
      (10L, "akashnet-2", "2023-08-01T10:00:00Z", "AAA", "2023-08-01", "2023-08", "2023"),
      (11L, "akashnet-2", "2023-08-02T10:00:00Z", "BBB", "2023-08-02", "2023-08", "2023"))
      .toDF("height", "chain_id", "time", "proposer_address", "day", "month", "year")
      .write.partitionBy("year", "month", "day").parquet(s"$root/blocks")
    spark.read.parquet(s"$root/blocks").createOrReplaceTempView("zone_blocks")
    val runner = new ModelRunner(spark,
      sources = Map(("parsed", "blocks") -> "zone_blocks"))
    val out = runner.run(Seq(BreadModels.load("blocks")))
    val blocks = out("blocks")
    assert(blocks.count() === 2)
    // partition columns recovered from the hive layout
    assert(Seq("year", "month", "day").forall(blocks.columns.contains))
    assert(blocks.filter(col("day") === "2023-08-02").count() === 1)
  }
}
