package graft

import graft.query.{QueryChainCompiler, ResultCache}
import graft.query.QueryChainCompiler.{ChainQuery, CircularRefError}

class QueryChainCompilerSpec extends SparkSpec {

  test("inlines a reference as a parenthesized derived table") {
    val out = QueryChainCompiler.compile(Seq(
      ChainQuery("base", "select 1 as x"),
      ChainQuery("top", "select x from ${base}")))
    assert(out.find(_.id == "top").get.sql === "select x from (select 1 as x)")
    assert(out.forall(_.isOk))
  }

  test("chains transitively through multiple levels") {
    val out = QueryChainCompiler.compile(Seq(
      ChainQuery("a", "select 1 as x"),
      ChainQuery("b", "select x from ${a}"),
      ChainQuery("c", "select x from ${b} where x > 0")))
    assert(out.find(_.id == "c").get.sql ===
      "select x from (select x from (select 1 as x)) where x > 0")
  }

  test("replaces multiple and repeated references") {
    val out = QueryChainCompiler.compile(Seq(
      ChainQuery("a", "select 1 as x"),
      ChainQuery("b", "select 2 as x"),
      ChainQuery("u", "select * from ${a} union all select * from ${b} union all select * from ${a}")))
    assert(out.find(_.id == "u").get.sql ===
      "select * from (select 1 as x) union all select * from (select 2 as x) union all select * from (select 1 as x)")
  }

  test("unknown reference error matches the reference's message") {
    val out = QueryChainCompiler.compile(Seq(
      ChainQuery("q", "select * from ${nope}")))
    assert(out.head.error ===
      Some("Compiler error: 'nope' is not a query on this page"))
    assert(out.head.sql === "Compiler error: 'nope' is not a query on this page")
  }

  test("empty reference error matches the reference's message") {
    val out = QueryChainCompiler.compile(Seq(
      ChainQuery("q", "select * from ${}")))
    assert(out.head.error === Some("Compiler error: missing query reference"))
  }

  test("circular reference detected after max iterations") {
    val out = QueryChainCompiler.compile(Seq(
      ChainQuery("a", "select * from ${b}"),
      ChainQuery("b", "select * from ${a}")))
    assert(out.forall(_.error === Some(CircularRefError)))
  }

  test("self reference is circular") {
    val out = QueryChainCompiler.compile(Seq(
      ChainQuery("a", "select * from ${a}")))
    assert(out.head.error === Some(CircularRefError))
  }

  test("file-based query cannot reference an inline query") {
    val out = QueryChainCompiler.compile(Seq(
      ChainQuery("page_q", "select 1 as x", inline = true),
      ChainQuery("file_q", "select * from ${page_q}", inline = false)))
    assert(out.find(_.id == "file_q").get.error ===
      Some("Cannot reference inline query from SQL File. (Referenced page_q)"))
  }

  test("extracts fenced sql blocks from markdown") {
    val md =
      """# Dashboard
        |```sql gas
        |select cast(gas_used as int) as gas_used from tx_result
        |```
        |Some prose.
        |```sql total
        |select sum(gas_used) as total from ${gas}
        |```
        |""".stripMargin
    val qs = QueryChainCompiler.extractQueries(md)
    assert(qs.map(_.id) === Seq("gas", "total"))
    assert(qs.head.sql === "select cast(gas_used as int) as gas_used from tx_result")
  }

  test("runToJson: the /api/{route}.json endpoint shape (JSON rows per query)") {
    import spark.implicits._
    Seq((1, "a"), (2, "b")).toDF("id", "name").createOrReplaceTempView("chain_json_t")
    val md =
      """```sql base
        |select id, name from chain_json_t
        |```
        |```sql top
        |select max(id) as max_id from ${base}
        |```
        |```sql broken
        |select * from ${nope}
        |```""".stripMargin
    val out = QueryChainCompiler.runToJson(spark, md, new ResultCache)
    assert(out("top") == Right(QueryChainCompiler.JsonResult(Seq("""{"max_id":2}"""), false)))
    assert(out("base").toOption.get.rows.toSet ==
      Set("""{"id":1,"name":"a"}""", """{"id":2,"name":"b"}"""))
    assert(out("broken").swap.toOption.get.contains("not a query on this page"))

    // truncation is flagged, not silent
    val trunc = QueryChainCompiler.runToJson(spark,
      "```sql base\nselect id, name from chain_json_t\n```", new ResultCache, maxRows = 1)
    val r = trunc("base").toOption.get
    assert(r.rows.length == 1 && r.truncated)
  }

  test("end-to-end: markdown page compiles and executes against Spark") {
    import spark.implicits._
    Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("id", "gas_used")
      .createOrReplaceTempView("qcc_tx")
    val md =
      """```sql gas
        |select gas_used from qcc_tx
        |```
        |```sql total
        |select sum(gas_used) as total from ${gas}
        |```""".stripMargin
    val results = QueryChainCompiler.run(spark, md)
    assert(results("total").toOption.get.collect().head.getLong(0) === 60L)
  }
}
