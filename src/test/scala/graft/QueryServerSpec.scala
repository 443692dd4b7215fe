package graft

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets

import graft.query.QueryServer

/** Drives the Q7 serving shim over real HTTP: a chained page's queries
  * come back as JSON rows, per-query errors (circular reference) surface
  * in the failed query's slot exactly as the reference renders them, and
  * unknown routes 404. */
class QueryServerSpec extends SparkSpec {

  private def get(port: Int, path: String,
      headers: Map[String, String] = Map.empty): (Int, String) = {
    val conn = URI.create(s"http://127.0.0.1:$port$path").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod("GET")
    headers.foreach { case (k, v) => conn.setRequestProperty(k, v) }
    val code = conn.getResponseCode
    val in = if (code >= 400) conn.getErrorStream else conn.getInputStream
    val body = new String(in.readAllBytes(), StandardCharsets.UTF_8)
    conn.disconnect()
    (code, body)
  }

  test("bearer-token auth: 401 without the token, serves with it, open when unset") {
    val page = "```sql one\nSELECT 1 AS v\n```"
    val srv = new QueryServer(spark, Map("p" -> page),
      bearerToken = Some("tok123"))
    val port = srv.start(0)
    try {
      val (noAuth, _) = get(port, "/api/p.json")
      assert(noAuth == 401)
      val (badAuth, _) = get(port, "/api/p.json",
        Map("Authorization" -> "Bearer nope"))
      assert(badAuth == 401)
      val (okCode, body) = get(port, "/api/p.json",
        Map("Authorization" -> "Bearer tok123"))
      assert(okCode == 200 && body.contains("\"v\":1"), body)
    } finally srv.stop()
  }

  test("GET /api/{route}.json serves a chained page's queries as JSON rows") {
    Tables.nation(spark, sf("sf0.001")).createOrReplaceTempView("nation")
    val page =
      """# Nations
        |```sql regions
        |SELECT n_regionkey, count(*) AS n FROM nation GROUP BY n_regionkey
        |```
        |```sql biggest
        |SELECT n_regionkey, n FROM ${regions} ORDER BY n DESC, n_regionkey LIMIT 1
        |```
        |```sql broken
        |SELECT * FROM ${broken}
        |```
      """.stripMargin
    val srv = new QueryServer(spark, Map("nations" -> page), maxRows = 3)
    val port = srv.start()
    try {
      val (code, body) = get(port, "/api/nations.json")
      assert(code == 200, body)
      // chained query executed through Spark and serialized as rows
      assert(body.contains(""""biggest":{"ok":true,"truncated":false,"rows":[{"n_regionkey":"""),
        body)
      // row cap: 5 region groups, maxRows=3 → truncated flag set
      assert(body.contains(""""regions":{"ok":true,"truncated":true"""), body)
      // the cycle error lands in ITS query's slot; the page still serves
      assert(body.contains(
        s""""broken":{"ok":false,"error":"${query.QueryChainCompiler.CircularRefError}"}"""),
        body)

      val (missing, mbody) = get(port, "/api/nope.json")
      assert(missing == 404 && mbody.contains("no page"), mbody)
      assert(get(port, "/api/definitely/not/here")._1 == 404)
    } finally srv.stop()
  }

  test("concurrent page loads interleave instead of queueing") {
    Tables.nation(spark, sf("sf0.001")).createOrReplaceTempView("nation")
    val pages = (1 to 4).map { i =>
      s"p$i" ->
        s"""```sql q$i
           |SELECT n_regionkey, count(*) + $i AS n FROM nation GROUP BY n_regionkey
           |```
         """.stripMargin
    }.toMap
    val srv = new QueryServer(spark, pages)
    val port = srv.start()
    try {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val results = Await.result(
        Future.sequence((1 to 4).map(i => Future(get(port, s"/api/p$i.json")))),
        2.minutes)
      results.zipWithIndex.foreach { case ((code, body), ix) =>
        assert(code == 200, body)
        assert(body.contains(s""""q${ix + 1}":{"ok":true"""), body)
      }
    } finally srv.stop()
  }

  private def post(port: Int, path: String, body: String): (Int, String) = {
    val conn = URI.create(s"http://127.0.0.1:$port$path").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod("POST")
    conn.setDoOutput(true)
    val out = conn.getOutputStream
    try out.write(body.getBytes(StandardCharsets.UTF_8)) finally out.close()
    val code = conn.getResponseCode
    val in = if (code >= 400) conn.getErrorStream else conn.getInputStream
    val resp = new String(in.readAllBytes(), StandardCharsets.UTF_8)
    conn.disconnect()
    (code, resp)
  }

  test("POST /sql: ad-hoc concurrent SQL gateway with row cap and per-query errors") {
    Tables.nation(spark, sf("sf0.001")).createOrReplaceTempView("nation")
    val srv = new QueryServer(spark, Map.empty, maxRows = 3)
    val port = srv.start()
    try {
      val (code, body) = post(port, "/sql",
        "SELECT n_regionkey, count(*) AS n FROM nation GROUP BY n_regionkey ORDER BY n_regionkey")
      assert(code == 200, body)
      assert(body.startsWith("""{"ok":true,"truncated":true,"rows":["""), body)
      assert(body.contains(""""n_regionkey":0"""), body)

      // a bad query is a result, not a server failure
      val (bcode, bbody) = post(port, "/sql", "SELECT * FROM no_such_table")
      assert(bcode == 200 && bbody.startsWith("""{"ok":false,"error":"""), bbody)

      // concurrent ad-hoc statements all complete
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val results = Await.result(
        Future.sequence((1 to 4).map(i =>
          Future(post(port, "/sql", s"SELECT $i AS x")))), 2.minutes)
      results.zipWithIndex.foreach { case ((c, b), ix) =>
        assert(c == 200 && b.contains(s""""x":${ix + 1}"""), b)
      }
    } finally srv.stop()
  }

  test("GET /page/{route}.html serves the rendered dashboard") {
    import spark.implicits._
    Seq((1, 2), (3, 4)).toDF("gas_used", "gas_wanted")
      .createOrReplaceTempView("tx_result")
    val page =
      """```sql gas
        |select gas_used, gas_wanted from tx_result
        |```
        |<LineChart data={gas}/>
        |""".stripMargin
    val srv = new QueryServer(spark, Map("index" -> page))
    val port = srv.start()
    try {
      val (code, body) = get(port, "/page/index.html")
      assert(code == 200, body)
      assert(body.startsWith("<!doctype html>"))
      assert(body.contains("<polyline"), body)
      val (nf, _) = get(port, "/page/nope.html")
      assert(nf == 404)
    } finally srv.stop()
  }

  test("GET /api/metrics serves the server's result-cache counters") {
    import spark.implicits._
    Seq((1, 2), (3, 4)).toDF("gas_used", "gas_wanted")
      .createOrReplaceTempView("metrics_gas")
    val page = "```sql gas\nselect sum(gas_used) as g from metrics_gas\n```"
    val srv = new QueryServer(spark, Map("m" -> page))
    val port = srv.start()
    try {
      assert(get(port, "/api/metrics") ==
        (200, """{"result_cache":{"hits":0,"misses":0,"evictions":0,"bytes":0,"entries":0}}"""))
      val first = get(port, "/api/m.json")
      assert(get(port, "/api/m.json") == first)
      val (code, body) = get(port, "/api/metrics")
      assert(code == 200, body)
      assert(body.startsWith("""{"result_cache":{"hits":1,"misses":1,"evictions":0,"bytes":"""), body)
      assert(body.endsWith(""","entries":1}}"""), body)
    } finally srv.stop()
  }

  test("small replies are not held for the client's delayed ACK") {
    val srv = new QueryServer(spark, Map.empty)
    val port = srv.start()
    try {
      val url = URI.create(s"http://127.0.0.1:$port/api/metrics").toURL
      // read to the end and close the stream, not the connection: the
      // next request reuses the socket (keep-alive)
      def timedGet(): Double = {
        val t0 = System.nanoTime()
        val in = url.openConnection().getInputStream
        try in.readAllBytes() finally in.close()
        (System.nanoTime() - t0) / 1e6
      }
      timedGet()
      val ms = Seq.fill(20)(timedGet()).sorted
      val report = f"median ${ms(ms.size / 2)}%.1f ms of ${ms.map(t => f"$t%.1f").mkString(" ")}"
      info(report)
      assert(ms(ms.size / 2) < 20, report)
    } finally srv.stop()
  }

  test("a repeated load of an unchanged page leaves queries.json untouched") {
    val statusDir = java.nio.file.Files.createTempDirectory("graft-status-write").toString
    val file = java.nio.file.Paths.get(statusDir, "extracted",
      new graft.query.QueryStatusStore(statusDir).routeHash("/w"), "queries.json")
    val old = java.nio.file.attribute.FileTime.fromMillis(1000000000000L)
    def page(v: Int) = s"```sql one\nSELECT $v AS v\n```"
    val srv = new QueryServer(spark, Map("w" -> page(1)), statusDir = Some(statusDir))
    val port = srv.start()
    try {
      assert(get(port, "/api/w.json")._1 == 200)
      java.nio.file.Files.setLastModifiedTime(file, old)
      assert(get(port, "/api/w.json")._1 == 200)
      assert(get(port, "/api/status/w")._2 == """{"status":[{"id":"one","status":"done"}]}""")
      assert(java.nio.file.Files.getLastModifiedTime(file) == old, "rewritten on a repeated load")
    } finally srv.stop()
    // an edited page still rewrites it
    val srv2 = new QueryServer(spark, Map("w" -> page(2)), statusDir = Some(statusDir))
    val port2 = srv2.start()
    try {
      assert(get(port2, "/api/w.json")._1 == 200)
      assert(java.nio.file.Files.getLastModifiedTime(file) != old)
      assert(java.nio.file.Files.readString(file).contains("SELECT 2 AS v"))
    } finally srv2.stop()
  }

  test("GET /api/status/{route}: cold-compile → cached after run → invalidated on page change") {
    Tables.nation(spark, sf("sf0.001")).createOrReplaceTempView("nation")
    val statusDir = java.nio.file.Files
      .createTempDirectory("graft-status-cache").toString
    def page(limit: Int) =
      s"""```sql regions
         |SELECT n_regionkey FROM nation GROUP BY n_regionkey LIMIT $limit
         |```
         |```sql top
         |SELECT * FROM $${regions} LIMIT 1
         |```
         |```sql broken
         |SELECT * FROM $${broken}
         |```
       """.stripMargin
    val srv = new QueryServer(spark, Map("n" -> page(5)),
      statusDir = Some(statusDir))
    val port = srv.start()
    try {
      // cold: every query compiles fresh → "not run"
      val (c0, b0) = get(port, "/api/status/n")
      assert(c0 == 200, b0)
      assert(b0 == """{"status":[{"id":"regions","status":"not run"},{"id":"top","status":"not run"},{"id":"broken","status":"not run"}]}""", b0)
      // running the page transitions done/error
      get(port, "/api/n.json")
      val (_, b1) = get(port, "/api/status/n")
      assert(b1.contains("""{"id":"regions","status":"done"}""") &&
        b1.contains("""{"id":"top","status":"done"}""") &&
        b1.contains("""{"id":"broken","status":"error"}"""), b1)
      assert(get(port, "/api/status/nope")._1 == 404)
    } finally srv.stop()
    // same cache dir, edited page: `regions` changed, so BOTH regions
    // and the chained `top` (whose compiled text inlines it) invalidate
    // back to "not run" — md5 keys the COMPILED text, exactly the
    // reference's extractQueries.server.js:19-30 semantics
    val srv2 = new QueryServer(spark, Map("n" -> page(4)),
      statusDir = Some(statusDir))
    val port2 = srv2.start()
    try {
      val (_, b2) = get(port2, "/api/status/n")
      assert(b2.contains("""{"id":"regions","status":"not run"}""") &&
        b2.contains("""{"id":"top","status":"not run"}""") &&
        b2.contains("""{"id":"broken","status":"error"}"""), b2)
    } finally srv2.stop()
  }

  test("status store: md5-keyed carry-forward and zero-query page empties the cache") {
    val store = new graft.query.QueryStatusStore(
      java.nio.file.Files.createTempDirectory("graft-status-store").toString)
    // routeHash is md5 of the route string (the reference's dir key)
    assert(store.routeHash("/n") == "b852ca18b86701a48600366c50bc1cbc")
    val md = "```sql a\nSELECT 1 AS x\n```"
    assert(store.statusFor("/n", md) == Seq("a" -> "not run"))
    store.record("/n", Map("a" -> "done"))
    assert(store.statusFor("/n", md) == Seq("a" -> "done"))
    // unchanged id + changed SQL → invalidated; unknown recorded id ignored
    store.record("/n", Map("ghost" -> "done"))
    assert(store.statusFor("/n", "```sql a\nSELECT 2 AS x\n```")
      == Seq("a" -> "not run"))
    // zero queries: the cache empties (extractQueries.server.js:33-34)
    assert(store.statusFor("/n", "# just prose").isEmpty)
    assert(store.statusFor("/n", md) == Seq("a" -> "not run"))
  }
}
