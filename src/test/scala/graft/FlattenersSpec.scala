package graft

import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.Base64

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.parse.Flatteners

/** Fixture shapes follow FIXTURES.md §1 (raw Tendermint RPC payloads),
  * including the malformed-log and repeated-(type,key) cases the
  * reference's parse stage must handle. */
class FlattenersSpec extends AnyFunSuite with SparkSpec {

  private def b64(s: String): String =
    Base64.getEncoder.encodeToString(s.getBytes(StandardCharsets.UTF_8))

  private def jstr(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  private lazy val rawBlocks: DataFrame = {
    import spark.implicits._
    val rows = Seq(
      """{"block":{"header":{"height":"101","chain_id":"test-1","time":"2023-08-01T12:34:56.789012345Z","proposer_address":"AAA"},"data":{"txs":["dHgx","dHgy"]}}}""",
      """{"block":{"header":{"height":"102","chain_id":"test-1","time":"2023-09-02T01:02:03.000000001Z","proposer_address":"BBB"},"data":{"txs":[]}}}""")
    spark.read.schema(Flatteners.blockSchema).json(rows.toDS())
  }

  private lazy val rawTxs: DataFrame = {
    import spark.implicits._
    val logJson =
      """[{"msg_index":0,"events":[{"type":"transfer","attributes":[{"key":"amount","value":"1uakt"},{"key":"amount","value":"2uakt"}]}]},""" +
        """{"events":[{"type":"message","attributes":[{"key":"module","value":"bank"}]}]}]"""
    val tx1 =
      s"""{"hash":"H1","height":"101","tx_result":{"code":0,"log":${jstr(logJson)},"info":"","gas_wanted":"200000","gas_used":"151234","codespace":"",
         |"events":[
         |  {"type":"transfer","attributes":[
         |    {"key":"${b64("amount")}","value":"${b64("100uakt")}"},
         |    {"key":"${b64("amount")}","value":"${b64("200uakt")}"}]},
         |  {"type":"message","attributes":[{"key":"${b64("module")}","value":"${b64("bank")}"}]}
         |]}}""".stripMargin.replace("\n", "")
    val tx2 = // malformed log string + no events: the lenient-parse path
      s"""{"hash":"H2","height":"102","tx_result":{"code":1,"log":"out of gas","info":"","gas_wanted":"50000","gas_used":"50001","codespace":"sdk","events":[]}}"""
    spark.read.schema(Flatteners.txSchema).json(Seq(tx1, tx2).toDS())
  }

  test("parseBlocks: nested projection, int height, period strings (parse.py:134-139)") {
    val out = Flatteners.parseBlocks(rawBlocks).orderBy("height").collect()
    assert(out.length == 2)
    val b = out.head
    assert(b.getAs[Long]("height") == 101L)
    assert(b.getAs[String]("chain_id") == "test-1")
    // raw RFC3339 ns string preserved verbatim
    assert(b.getAs[String]("time") == "2023-08-01T12:34:56.789012345Z")
    assert(b.getAs[String]("day") == "2023-08-01")
    assert(b.getAs[String]("month") == "2023-08")
    assert(b.getAs[String]("year") == "2023")
  }

  test("parseTxResult: struct flatten, gas stays string (parse.py:145, pages/index.md:9)") {
    val out = Flatteners.parseTxResult(rawTxs).orderBy("hash").collect()
    assert(out.map(_.getAs[String]("hash")).toSeq == Seq("H1", "H2"))
    val t1 = out.head
    assert(t1.getAs[Long]("height") == 101L)
    assert(t1.getAs[String]("gas_used") == "151234")
    assert(t1.getAs[Long]("code") == 0L)
    assert(out(1).getAs[String]("codespace") == "sdk")
  }

  test("parseLogAttributes: lenient parse + explode chain + msg_index fill (parse.py:152-162)") {
    val out = Flatteners.parseLogAttributes(rawTxs)
      .orderBy("hash", "type", "value").collect()
    // malformed log (H2) contributes zero rows; H1: 2 amounts + 1 module
    assert(out.map(_.getAs[String]("hash")).toSeq == Seq("H1", "H1", "H1"))
    assert(out.map(r => (r.getAs[String]("type"), r.getAs[String]("key"), r.getAs[String]("value"))).toSeq ==
      Seq(("message", "module", "bank"), ("transfer", "amount", "1uakt"), ("transfer", "amount", "2uakt")))
    // absent msg_index fills to 0 (parse.py:154)
    assert(out.forall(_.getAs[Long]("msg_index") == 0L))
  }

  test("parseEventsLong: base64 decode + occurrence ordinals (parse.py:171-178)") {
    val out = Flatteners.parseEventsLong(rawTxs)
      .orderBy("combined_key", "occurrence").collect()
    val rows = out.map(r => (r.getAs[String]("combined_key"),
      r.getAs[Long]("occurrence"), r.getAs[String]("value"))).toSeq
    assert(rows == Seq(
      ("message_module", 0L, "bank"),
      ("transfer_amount", 0L, "100uakt"),
      ("transfer_amount", 1L, "200uakt")))
  }

  test("parseEventsWide: dynamic pivot on observed combined_keys (parse.py:179)") {
    val wide = Flatteners.parseEventsWide(rawTxs)
    assert(wide.columns.toSet == Set("hash", "height", "occurrence", "message_module", "transfer_amount"))
    val rows = wide.orderBy("occurrence").collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[String]("transfer_amount") == "100uakt")
    assert(rows(0).getAs[String]("message_module") == "bank")
    assert(rows(1).getAs[String]("transfer_amount") == "200uakt")
    assert(rows(1).getAs[String]("message_module") == null)
  }

  test("appended pivot batches with different column sets merge on read") {
    import spark.implicits._
    // batch 1 only has transfer events; batch 2 only mint events — the
    // wide table's columns differ per batch (data-dependent pivot)
    def tx(hash: String, height: Int, typ: String, key: String): String =
      s"""{"hash":"$hash","height":"$height","tx_result":{"code":0,"log":"","info":"","gas_wanted":"1","gas_used":"1","codespace":"",
         |"events":[{"type":"$typ","attributes":[{"key":"${b64(key)}","value":"${b64("v")}"}]}]}}"""
        .stripMargin.replace("\n", "")
    val b1 = spark.read.schema(Flatteners.txSchema).json(Seq(tx("A", 1, "transfer", "amount")).toDS())
    val b2 = spark.read.schema(Flatteners.txSchema).json(Seq(tx("B", 2, "mint", "supply")).toDS())

    val dir = Files.createTempDirectory("graft-pivot-merge").toString
    val w1 = Flatteners.parseEventsWide(b1)
      .withColumn("year", lit("2023")).withColumn("month", lit("2023-08"))
      .withColumn("day", lit("2023-08-01"))
    Flatteners.writePartitioned(w1, s"$dir/events")
    val w2 = Flatteners.parseEventsWide(b2)
      .withColumn("year", lit("2023")).withColumn("month", lit("2023-08"))
      .withColumn("day", lit("2023-08-02"))
    Flatteners.writePartitioned(w2, s"$dir/events")

    val merged = spark.read.option("mergeSchema", "true").parquet(s"$dir/events")
    // read-side union schema is EXACTLY the union of the two batches'
    // pivot columns — the reference's pd.concat of differently-shaped
    // wide frames, no extras, nothing dropped
    assert(merged.columns.toSet == w1.columns.toSet ++ w2.columns.toSet)
    assert(merged.columns.toSet.contains("transfer_amount"))
    assert(merged.columns.toSet.contains("mint_supply"))
    assert(merged.count() == 2)
    val a = merged.filter(col("hash") === "A").head()
    assert(a.getAs[String]("transfer_amount") == "v")
    assert(a.getAs[String]("mint_supply") == null) // absent in batch 1
    val b = merged.filter(col("hash") === "B").head()
    assert(b.getAs[String]("mint_supply") == "v")
    assert(b.getAs[String]("transfer_amount") == null) // absent in batch 2
  }

  test("pivot fails loudly past spark.sql.pivotMaxValues (DIVERGENCES #8)") {
    import spark.implicits._
    // 5 distinct type_key combinations against a cap of 4: pandas would
    // quietly widen; Spark must raise an analysis error naming the
    // config, so a key explosion cannot produce an unusably wide table
    def tx(hash: String, key: String): String =
      s"""{"hash":"$hash","height":"1","tx_result":{"code":0,"log":"","info":"","gas_wanted":"1","gas_used":"1","codespace":"",
         |"events":[{"type":"t","attributes":[{"key":"${b64(key)}","value":"${b64("v")}"}]}]}}"""
        .stripMargin.replace("\n", "")
    val raw = spark.read.schema(Flatteners.txSchema)
      .json((1 to 5).map(i => tx(s"H$i", s"k$i")).toDS())
    val prev = spark.conf.get("spark.sql.pivotMaxValues")
    try {
      spark.conf.set("spark.sql.pivotMaxValues", 4)
      val e = intercept[Exception] { Flatteners.parseEventsWide(raw).collect() }
      assert(e.getMessage.contains("spark.sql.pivotMaxValues"), e.getMessage)
    } finally spark.conf.set("spark.sql.pivotMaxValues", prev)
    // within the bound the same input pivots fine
    assert(Flatteners.parseEventsWide(raw).columns.length == 3 + 5)
  }

  test("parseEventsWide equals Spark's own pivot: columns in order, rows") {
    import spark.implicits._
    // Spark's pivot("combined_key") resolves the same column set by its
    // own distinct scan and sorts it in UTF-8 byte order: "t_Ａ" (U+FF21,
    // EF BC A1) before "t_😀" (F0 9F 98 80), the reverse of their UTF-16
    // order, so a JVM string sort would misorder the columns
    def tx(hash: String, keys: String*): String = {
      val attrs = keys.map(k => s"""{"key":"${b64(k)}","value":"${b64(s"$hash-$k")}"}""")
      s"""{"hash":"$hash","height":"7","tx_result":{"code":0,"log":"","info":"","gas_wanted":"1","gas_used":"1","codespace":"",""" +
        s""""events":[{"type":"t","attributes":[${attrs.mkString(",")}]}]}}"""
    }
    val wideKeys = spark.read.schema(Flatteners.txSchema)
      .json(Seq(tx("U1", "😀", "Ａ", "a"), tx("U2", "Ａ", "Ａ")).toDS())
    val noEvents = rawTxs.filter(col("hash") === "H2")
    def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq
    Seq(rawTxs, wideKeys, noEvents).foreach { raw =>
      val mine = Flatteners.parseEventsWide(raw)
      val reference = Flatteners.parseEventsLong(raw)
        .groupBy("hash", "height", "occurrence").pivot("combined_key").agg(first("value"))
      assert(mine.columns.toSeq == reference.columns.toSeq)
      assert(mine.schema == reference.schema)
      assert(rows(mine) == rows(reference))
    }
    assert(Flatteners.parseEventsWide(wideKeys).columns.toSeq ==
      Seq("hash", "height", "occurrence", "t_a", "t_Ａ", "t_😀"))
    assert(Flatteners.parseEventsWide(noEvents).count() == 0)
  }

  test("the events window and pivot aggregate share one (hash, height) shuffle") {
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val plan = Flatteners.parseEventsWide(rawTxs).queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    val shuffles = plan.collect { case s: ShuffleExchangeExec => s }
    assert(shuffles.size == 1, plan.treeString)
    val keys = shuffles.head.outputPartitioning match {
      case h: HashPartitioning => h.expressions.collect { case a: AttributeReference => a.name }
      case other => fail(s"not a hash shuffle: $other")
    }
    assert(keys == Seq("hash", "height"), plan.treeString)
    // the shuffle sits below the pivot aggregate, with no aggregate under it
    assert(shuffles.head.collect { case a: BaseAggregateExec => a }.isEmpty, plan.treeString)
    assert(plan.collect { case a: BaseAggregateExec => a }
      .exists(_.collect { case s: ShuffleExchangeExec => s }.nonEmpty), plan.treeString)
  }

  test("enrichTime + partitioned write/read roundtrip (parse.py:182-226)") {
    val blocks = Flatteners.parseBlocks(rawBlocks)
    val enriched = Flatteners.enrichTime(Flatteners.parseTxResult(rawTxs), blocks)
    val e = enriched.orderBy("hash").collect()
    assert(e(0).getAs[String]("day") == "2023-08-01")
    assert(e(1).getAs[String]("month") == "2023-09")

    val dir = Files.createTempDirectory("graft-flatteners").toString
    Flatteners.writePartitioned(enriched, s"$dir/tx_result")
    val back = spark.read.parquet(s"$dir/tx_result")
    assert(back.count() == 2)
    // hive partition recovery: partition columns come back, pruning works
    assert(back.columns.toSet.contains("year"))
    val pruned = back.filter(col("day") === "2023-08-01")
    assert(pruned.count() == 1)
    // the rebalance routes each hive partition to as few tasks as its
    // volume needs: a tiny day must land as ONE file, not one per task
    val dayDir = java.nio.file.Paths.get(
      s"$dir/tx_result/year=2023/month=2023-08/day=2023-08-01")
    val stream = java.nio.file.Files.list(dayDir) // close: directory fd
    val parquets =
      try scala.jdk.CollectionConverters.IteratorHasAsScala(stream.iterator())
        .asScala.map(_.getFileName.toString).filter(_.endsWith(".parquet")).toSeq
      finally stream.close()
    assert(parquets.size == 1, s"expected 1 file for a tiny partition: $parquets")
    assert(pruned.queryExecution.executedPlan.toString.contains("PartitionFilters"))
  }
}
