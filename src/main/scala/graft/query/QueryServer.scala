package graft.query

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.SparkSession

/** Thin serving shim for the query-chain surface (SURVEY §2.10 Q7): the
  * reference serves every page's compiled queries as JSON over
  * `GET /api/{route}.json`
  * (.evidence/template/src/pages/api/[route].json/+server.js:1-11); this
  * is the same endpoint over the JDK's built-in `com.sun.net.httpserver`
  * — no new dependency, no framework.
  *
  * A page registry maps route → markdown source; each request compiles
  * the page's ```sql blocks (QueryChainCompiler — `${ref}` chaining,
  * circular-reference and unknown-id errors exactly as the reference
  * surfaces them) and runs them through the shared SparkSession. The
  * response is one JSON object per query id:
  * `{"ok":true,"truncated":false,"rows":[...]}` or
  * `{"ok":false,"error":"Compiler error: circular reference"}` — errors
  * are per-query, never a 500, mirroring the reference which renders the
  * error message in the failed query's place while the rest of the page
  * loads.
  *
  * Serving-tier scale notes: `runToJson`'s row cap bounds every
  * driver-side collect (dashboards read aggregates, and `truncated`
  * makes a cut-off response self-describing); a repeated query over
  * unchanged files is answered from the server's [[ResultCache]], whose
  * counters `GET /api/metrics` serves; the server thread pool is
  * the JDK default executor — a production deployment would front MANY
  * Spark apps, but the per-request path here (compile → Catalyst →
  * collect) is exactly what any deployment runs. The postgres-wire
  * face of the same gateway is `PgWireServer` (SURVEY §2.10 Q8); for
  * a fully multi-tenant deployment, Spark's own Thrift/Connect
  * servers remain the stock heavyweight answer.
  */
final class QueryServer(
    spark: SparkSession,
    pages: Map[String, String],
    maxRows: Int = 10000,
    statusDir: Option[String] = None,
    bearerToken: Option[String] = None) {

  private var server: Option[HttpServer] = None
  private val route = "^/api/([A-Za-z0-9_-]+)\\.json$".r
  private val statusRoute = "^/api/status/([A-Za-z0-9_-]+)$".r
  private val pageRoute = "^/page/([A-Za-z0-9_-]+)\\.html$".r
  private val maxSqlBytes = 1 << 20 // 1 MiB statement cap
  private val cache = new ResultCache

  /** Evidence's md5-keyed compile/run status cache (`GET
    * /api/status/{route}` — the endpoint a client polls before loading
    * a page). `statusDir` pins the cache across server restarts (the
    * reference's `./.evidence-queries`); default is a per-instance
    * temp dir, created lazily on first use so servers that never touch
    * the status/page surface don't litter the temp filesystem. */
  private lazy val statusStore = new QueryStatusStore(statusDir.getOrElse(
    java.nio.file.Files.createTempDirectory("graft-query-status").toString))

  /** Start on `port` (0 = ephemeral); returns the bound port.
    * Requests run on a cached thread pool, not the server's single
    * dispatcher thread: Spark schedules jobs from concurrent caller
    * threads FIFO within one SparkContext, so simultaneous page loads
    * interleave instead of queueing behind each other — the small-N
    * concurrent story (same model as `PgWireServer`'s per-connection
    * threads, SURVEY §2.10 Q8). */
  def start(port: Int = 0): Int = synchronized {
    require(server.isEmpty, "QueryServer already started")
    // the JDK server writes a reply's headers and body as two writes; with
    // Nagle on, the body waits for the client's delayed ACK (~40 ms). The
    // JDK reads this once, at the first HttpServer the JVM creates.
    sys.props.getOrElseUpdate("sun.net.httpserver.nodelay", "true")
    val s = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    s.setExecutor(java.util.concurrent.Executors.newCachedThreadPool(r => {
      val t = new Thread(r, "graft-query-server")
      t.setDaemon(true)
      t
    }))
    s.createContext("/api", (exchange: HttpExchange) => handle(exchange))
    s.createContext("/sql", (exchange: HttpExchange) => handle(exchange))
    s.createContext("/page", (exchange: HttpExchange) => handle(exchange))
    s.start()
    server = Some(s)
    s.getAddress.getPort
  }

  def stop(): Unit = synchronized {
    server.foreach(_.stop(0))
    server = None
    cache.clear()
  }

  /** Opt-in bearer-token auth: with no token configured the gateway
    * stays open (the reference's trust model); with one, every route
    * requires `Authorization: Bearer <token>` (constant-time compare).
    * A gateway credential, not a user model — front with TLS off-box. */
  private def authorized(exchange: HttpExchange): Boolean =
    bearerToken.forall { tok =>
      Option(exchange.getRequestHeaders.getFirst("Authorization")).exists(h =>
        java.security.MessageDigest.isEqual(
          h.getBytes(java.nio.charset.StandardCharsets.UTF_8),
          s"Bearer $tok".getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    }

  private def handle(exchange: HttpExchange): Unit =
    try {
      if (!authorized(exchange)) {
        exchange.getResponseHeaders.add("WWW-Authenticate", "Bearer")
        respond(exchange, 401, """{"error":"unauthorized"}""")
        return
      }
      val path = exchange.getRequestURI.getPath
      (exchange.getRequestMethod, path) match {
        case ("GET", "/api/metrics") =>
          respond(exchange, 200, s"""{"result_cache":${cache.stats.json}}""")
        case ("GET", route(name)) if pages.contains(name) =>
          respond(exchange, 200, pageJson(name))
        case ("GET", route(name)) =>
          respond(exchange, 404, s"""{"error":"no page '${escape(name)}'"}""")
        // compile-state poll (reference +server.js: GET /api/status/{route}
        // → {"status":[{id,status}...]}); routes are keyed as '/'-prefixed
        // paths, matching getStatusAndExtractQueries('/' + route)
        case ("GET", statusRoute(name)) if pages.contains(name) =>
          val st = statusStore.statusFor(s"/$name", pages(name))
            .map { case (id, s) =>
              s"""{"id":"${escape(id)}","status":"${escape(s)}"}""" }
            .mkString("[", ",", "]")
          respond(exchange, 200, s"""{"status":$st}""")
        case ("GET", statusRoute(name)) =>
          respond(exchange, 404, s"""{"error":"no page '${escape(name)}'"}""")
        // the rendered front door: same page registry, same bounded
        // collect, HTML+inline-SVG out (DashboardRenderer)
        case ("GET", pageRoute(name)) if pages.contains(name) =>
          respond(exchange, 200,
            DashboardRenderer.render(spark, pages(name), cache, maxRows),
            contentType = "text/html; charset=utf-8")
        case ("GET", pageRoute(name)) =>
          respond(exchange, 404, s"""{"error":"no page '${escape(name)}'"}""")
        case ("POST", "/sql") =>
          // bound the body BEFORE buffering it: readNBytes stops at the
          // cap, and one extra probe byte distinguishes "exactly at the
          // cap" from "over it" — an oversized statement is a 413, not
          // an unbounded heap allocation
          val body = exchange.getRequestBody.readNBytes(maxSqlBytes + 1)
          if (body.length > maxSqlBytes)
            respond(exchange, 413,
              s"""{"error":"statement exceeds $maxSqlBytes bytes"}""")
          else
            respond(exchange, 200,
              sqlJson(new String(body, StandardCharsets.UTF_8)))
        case ("GET", _) =>
          respond(exchange, 404, """{"error":"not found"}""")
        case (_, _) =>
          respond(exchange, 405, """{"error":"method not allowed"}""")
      }
    } catch {
      case e: Exception =>
        respond(exchange, 500, s"""{"error":"${escape(String.valueOf(e.getMessage))}"}""")
    } finally exchange.close()

  private def pageJson(name: String): String = {
    // compile ONCE: the run and the status cache share the chain (the
    // old runToJson + statusFor pair compiled the markdown twice and
    // took the store lock twice per page load)
    val compiled = QueryChainCompiler.compile(
      QueryChainCompiler.extractQueries(pages(name)))
    val results = QueryChainCompiler.runCompiledToJson(spark, compiled, cache, maxRows)
    // the engine IS the query runner here, so it owns the status
    // transitions the reference leaves to Evidence's dev runtime:
    // executing a page marks each query done/error in the status cache,
    // seeding entries when the page is served cold in the same locked
    // pass
    statusStore.seedAndRecord(s"/$name", compiled, results.map {
      case (id, Right(_)) => id -> "done"
      case (id, Left(_))  => id -> "error"
    })
    results.toSeq.sortBy(_._1).map {
      case (id, Right(r)) =>
        s""""${escape(id)}":{"ok":true,"truncated":${r.truncated},"rows":[${r.rows.mkString(",")}]}"""
      case (id, Left(err)) =>
        s""""${escape(id)}":{"ok":false,"error":"${escape(err)}"}"""
    }.mkString("{", ",", "}")
  }

  /** `POST /sql` with a raw SQL body — the ad-hoc concurrent SQL
    * gateway (SURVEY §2.10 Q8's capability over plain HTTP: the
    * reference fronts DuckDB with a postgres-wire proxy so dbt and the
    * dashboard can query concurrently; here concurrent POSTs run on the
    * request pool against one thread-safe SparkSession, and the wire
    * protocol is JSON — the postgres-wire protocol proper is
    * `PgWireServer`, the same shared session behind a real pg-v3
    * listener). Query errors (parse,
    * missing table) come back `ok:false` in a 200 — a bad query is a
    * result, not a server failure — with the row cap + `truncated`
    * contract and the result cache shared with the page endpoint
    * ([[ResultCache.json]]).
    *
    * Trust model: like Spark's own Thrift/Connect servers, statements
    * run with the session's full privileges — SET/DDL from one client
    * is visible to every other (that shared mutability IS what the
    * reference's concurrency proxy exposes to dbt). Bind to localhost /
    * trusted networks only; this is a gateway, not an auth boundary. */
  private def sqlJson(sql: String): String =
    try {
      val r = cache.json(spark.sql(sql), maxRows)
      s"""{"ok":true,"truncated":${r.truncated},"rows":[${r.rows.mkString(",")}]}"""
    } catch {
      case e: Exception =>
        s"""{"ok":false,"error":"${escape(String.valueOf(e.getMessage))}"}"""
    }

  private def escape(s: String): String =
    s.flatMap {
      case '"'           => "\\\""
      case '\\'          => "\\\\"
      case '\n'          => "\\n"
      case '\r'          => "\\r"
      case '\t'          => "\\t"
      case c if c < ' '  => f"\\u${c.toInt}%04x"
      case c             => c.toString
    }

  private def respond(exchange: HttpExchange, code: Int, body: String,
      contentType: String = "application/json"): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    exchange.getResponseHeaders.set("Content-Type", contentType)
    exchange.sendResponseHeaders(code, bytes.length.toLong)
    val out = exchange.getResponseBody
    try out.write(bytes) finally out.close()
  }
}
