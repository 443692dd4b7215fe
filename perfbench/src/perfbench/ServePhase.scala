package perfbench

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream}
import java.net.{HttpURLConnection, Socket, URI}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.query.{PgWireServer, QueryServer}

import PgClient.Result
import ServePhase.Outcome

/** A minimal postgres v3 simple-query client: enough for a dashboard
  * reader and a dbt-style writer. */
final class PgClient(port: Int) extends AutoCloseable {
  private val sock = new Socket("127.0.0.1", port)
  sock.setTcpNoDelay(true)
  private val in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
  private val out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream))

  locally {
    val params = "user\u0000bench\u0000database\u0000bench\u0000\u0000".getBytes(UTF_8)
    out.writeInt(8 + params.length); out.writeInt(196608); out.write(params); out.flush()
    val r = readUntilReady()
    require(r.error.isEmpty, s"pg startup failed: ${r.error}")
  }

  def query(sql: String): Result = {
    val b = sql.getBytes(UTF_8)
    out.writeByte('Q'); out.writeInt(4 + b.length + 1); out.write(b); out.writeByte(0)
    out.flush()
    readUntilReady()
  }

  private def readUntilReady(): Result = {
    val rows = mutable.ArrayBuffer.empty[Seq[String]]
    var err: Option[String] = None
    var bytes = 0L
    var done = false
    while (!done) {
      val kind = in.readByte().toChar
      val len = in.readInt()
      val p = new Array[Byte](len - 4)
      in.readFully(p)
      bytes += len + 1
      kind match {
        case 'D' =>
          val bb = java.nio.ByteBuffer.wrap(p)
          rows += (0 until bb.getShort().toInt).map { _ =>
            val n = bb.getInt()
            if (n < 0) null
            else { val s = new String(p, bb.position(), n, UTF_8); bb.position(bb.position() + n); s }
          }
        case 'E' =>
          err = Some(new String(p, UTF_8).split('\u0000').find(_.startsWith("M"))
            .map(_.drop(1)).getOrElse("error"))
        case 'Z' => done = true
        case _   => ()
      }
    }
    Result(rows.toList, err, bytes)
  }

  def close(): Unit = {
    try { out.writeByte('X'); out.writeInt(4); out.flush() } catch { case _: java.io.IOException => }
    sock.close()
  }
}

object PgClient {
  final case class Result(rows: Seq[Seq[String]], error: Option[String], bytes: Long)
}

/** Dashboard traffic against the landed zone: an open-loop generator at
  * a fixed offered rate over the HTTP face (`/api/{route}.json`,
  * `/page/{route}.html`) and pg-wire simple queries, plus one writer
  * connection re-materializing a model table on a fixed schedule. All
  * share the one session, as `graft.Serve` does. Then, with nothing else
  * running, one client sends `cycles` passes over every request shape,
  * one request at a time: the interactive latency. */
final class ServePhase(ctx: Ctx, root: String, exp: Expected, rate: Double,
    seconds: Double, cycles: Int) {

  private val rebuildEverySec = 2.0
  /** Reader connections: all cores but one for the writer; one when
    * traced, so each Spark job falls inside a single request. */
  val clients: Int = if (ctx.trace.isDefined) 1 else math.max(1, ctx.cores - 1)

  // the reference's pages/index.md, verbatim
  private val indexMd =
    """---
      |title: bread 🍞
      |hide_title: true
      |---
      |
      |# bread 🍞
      |
      |```sql gas
      |select cast(gas_used as int), cast(gas_wanted as int) from main.tx_result
      |```
      |
      |<LineChart data={gas}/>
      |""".stripMargin

  private val ibcMd =
    """---
      |title: ibc
      |---
      |
      |```sql ibc_daily
      |select date_format(day, 'yyyy-MM-dd') as day, transfer_denom, total_amount_over_direction
      |from daily_ibc_transfers
      |```
      |
      |```sql ibc_net
      |select cast(sum(total_amount_over_direction) as bigint) as net from ${ibc_daily}
      |```
      |
      |<BarChart data={ibc_daily} x=day y=total_amount_over_direction/>
      |""".stripMargin

  private val txsMd =
    """---
      |title: txs
      |---
      |
      |```sql txs_per_day
      |select date_format(day, 'yyyy-MM-dd') as day, tx_count from num_txs_per_day order by day
      |```
      |
      |```sql cum_txs
      |select date_format(day, 'yyyy-MM-dd') as day, tx_count from cum_txs_per_day order by day
      |```
      |
      |<LineChart data={cum_txs}/>
      |<DataTable data={txs_per_day}/>
      |""".stripMargin

  private val pages = Map("index" -> indexMd, "ibc" -> ibcMd, "txs" -> txsMd)
  private val maxRows = 10000
  private val net = exp.ibcInAmount - exp.ibcOutAmount
  private val rebuildTable = "bench_gas_daily"
  private val rebuildSql =
    s"INSERT OVERWRITE TABLE $rebuildTable SELECT sum_gas_used, day FROM gas_used_per_day"


  private def rows(v: JValue, id: String): Seq[JValue] = v \ id \ "rows" match {
    case JArray(rs) => rs
    case _          => Nil
  }

  private def long(v: JValue): Long = v match {
    case JInt(i)     => i.toLong
    case JLong(l)    => l
    case JDecimal(d) => d.toLong
    case JDouble(d)  => d.toLong
    case JString(s)  => s.toLong
    case other       => throw new IllegalArgumentException(s"not a number: $other")
  }

  private def httpGet(port: Int, path: String): (Int, String) = {
    val c = URI.create(s"http://127.0.0.1:$port$path").toURL.openConnection()
      .asInstanceOf[HttpURLConnection]
    val code = c.getResponseCode
    // read to the end and close: that returns the socket to keep-alive
    val s = if (code < 400) c.getInputStream else c.getErrorStream
    try (code, new String(s.readAllBytes(), UTF_8)) finally s.close()
  }

  /** The request mix: a fixed cycle over both faces and every query
    * shape, so every run serves the same mix; the seed picks the rows. */
  private val kinds = Seq("api:ibc", "pg:gas", "api:txs", "pg:range", "page",
    "pg:days", "api:index", "pg:ibc")

  /** One request: run it, check its output, return (kind, rows, bytes). */
  private def request(i: Int, httpPort: Int, pg: PgClient): (String, Long, Long) = {
    val checks = ctx.checks
    val kind = kinds(Math.floorMod(i, kinds.size))
    kind.split(':') match {
      case Array("api", route) =>
        val (code, body) = httpGet(httpPort, s"/api/$route.json")
        checks.eq(s"http $route status", code, 200)
        val v = JsonMethods.parse(body)
        val n = route match {
          case "index" =>
            val rs = rows(v, "gas")
            checks.eq("http index rows", rs.size.toLong, math.min(exp.txs, maxRows.toLong))
            rs.size
          case "ibc" =>
            checks.eq("http ibc net", long(rows(v, "ibc_net").head \ "net"), net)
            rows(v, "ibc_daily").size
          case _ =>
            val rs = rows(v, "txs_per_day")
            checks.eq("http txs per day", rs.map(r => long(r \ "tx_count")).sum, exp.txs)
            checks.eq("http cum txs", long(rows(v, "cum_txs").last \ "tx_count"), exp.txs)
            rs.size
        }
        (kind, n.toLong, body.length.toLong)
      case Array("page") =>
        val route = Seq("ibc", "txs", "index")(Math.floorMod(i / kinds.size, 3))
        val (code, body) = httpGet(httpPort, s"/page/$route.html")
        checks.op(code == 200 && body.contains("<svg"), s"page $route: status $code")
        (s"page:$route", 0L, body.length.toLong)
      case Array(_, q) =>
        val (sql, want): (String, Seq[Seq[String]] => Boolean) = q match {
          case "gas" =>
            ("select cast(sum(sum_gas_used) as bigint) from gas_used_per_day",
              r => r.head.head.toLong == exp.gasByDay.values.sum)
          case "range" =>
            val a = 1 + Mix.below(exp.tip, ctx.seed, 24, i)
            val b = math.min(exp.tip, a + Mix.below(5000, ctx.seed, 25, i))
            (s"select count(*) from tx_result where height between $a and $b",
              r => r.head.head.toLong == exp.txsBetween(a, b))
          case "days" =>
            ("select day, tx_count from num_txs_per_day order by day",
              r => r.size == exp.txsByDay.size && r.map(_(1).toLong).sum == exp.txs)
          case _ =>
            ("select count(*) from ibc_transfers",
              r => r.head.head.toLong == exp.ibcIn + exp.ibcOut)
        }
        val r = pg.query(sql)
        checks.op(r.error.isEmpty && scala.util.Try(want(r.rows)).getOrElse(false),
          s"pg `$sql`: ${r.error.getOrElse(r.rows.take(3).toString)}")
        (kind, r.rows.size.toLong, r.bytes)
    }
  }

  private def prepare(): Unit = {
    val spark = ctx.spark
    spark.sql("CREATE DATABASE IF NOT EXISTS main")
    spark.sql("CREATE OR REPLACE VIEW main.tx_result AS " +
      s"SELECT * FROM parquet.`$root/parsed/tx_result`")
    spark.sql(s"DROP TABLE IF EXISTS $rebuildTable")
    spark.sql(s"CREATE TABLE $rebuildTable USING parquet AS SELECT sum_gas_used, day FROM gas_used_per_day")
  }

  def run(): Unit = {
    val spark = ctx.spark
    prepare()
    val http = new QueryServer(spark, pages, maxRows)
    val pgw = new PgWireServer(spark, maxRows)
    val httpPort = http.start()
    val pgPort = pgw.start()
    val traced = ctx.trace.isDefined
    val pgs = (0 until clients).map(_ => new PgClient(pgPort))
    val writer = new PgClient(pgPort)
    try {
      // the open loop sends each request shape once and comes first, so
      // first-touch planning and codegen fall in it and the closed loop
      // after it is warm
      val n = math.max(1, (rate * seconds).round.toInt)
      val next = new AtomicInteger(0)
      val out = new java.util.concurrent.ConcurrentLinkedQueue[Outcome]()
      val t0 = System.nanoTime() + 20000000L
      def due(i: Int): Long = t0 + (i * 1e9 / rate).toLong
      def sleepUntil(t: Long): Unit = {
        var d = t - System.nanoTime()
        while (d > 0) { java.util.concurrent.locks.LockSupport.parkNanos(d); d = t - System.nanoTime() }
      }
      val workers = pgs.zipWithIndex.map { case (pg, w) =>
        val th = new Thread(() => {
          var i = next.getAndIncrement()
          while (i < n) {
            sleepUntil(due(i))
            val start = System.nanoTime()
            val (face, rws, bytes) = ctx.span("serve.request", s"r$i") {
              val res = request(i, httpPort, pg)
              ctx.trace.foreach(_.drain())
              res
            }
            val end = System.nanoTime()
            out.add(Outcome(face, (end - due(i)) / 1e6, (start - due(i)) / 1e6, rws, bytes))
            i = next.getAndIncrement()
          }
        }, s"perfbench-client-$w")
        th.start()
        th
      }
      // the writer: on its own connection and schedule while readers run;
      // in the traced run it waits for the readers so each job falls
      // inside one request
      if (traced) workers.foreach(_.join())
      val rebuildDue = if (traced) Seq.fill(math.max(3, (seconds / rebuildEverySec).toInt))(0L)
        else (1 to math.max(1, (seconds / rebuildEverySec).toInt))
          .map(j => t0 + (j * rebuildEverySec * 1e9).toLong)
      val rebuilds = rebuildDue.zipWithIndex.map { case (d, j) =>
        if (d > 0) sleepUntil(d)
        val s = System.nanoTime()
        val r = ctx.span("serve.rebuild", s"w$j") {
          val res = writer.query(rebuildSql)
          ctx.trace.foreach(_.drain())
          res
        }
        ctx.checks.op(r.error.isEmpty, s"rebuild: ${r.error}")
        (System.nanoTime() - s) / 1e9
      }
      workers.foreach(_.join())
      ctx.checks.eq("rebuilt table rows", spark.table(rebuildTable).count(), exp.days.toLong)
      ctx.checks.eq("requests answered", out.size, n)

      // closed loop, one request at a time, so none waits for another: per
      // shape the median over the cycles, then the geometric mean over
      // shapes, so each shape counts by its relative change
      val single = for (c <- 0 until cycles; k <- kinds.indices) yield {
        // every cycle asks for the same page, the reference's index page,
        // so each shape's median is over like samples
        val i = (3 * c + 2) * kinds.size + k
        val s = System.nanoTime()
        ctx.span("serve.interactive", s"c$i") {
          request(i, httpPort, pgs.head)
          ctx.trace.foreach(_.drain())
        }
        kinds(k) -> (System.nanoTime() - s) / 1e6
      }
      val shapeP50 = single.groupBy(_._1).toSeq.sortBy(_._1)
        .map { case (k, ts) => k -> Stats.median(ts.map(_._2)) }

      val res = out.toArray(new Array[Outcome](0)).toSeq
      Main.log(s"serve: ${res.size} requests, service p50 by face " +
        res.groupBy(_.face).toSeq.sortBy(_._1).map { case (f, rs) =>
          f"$f ${Stats.median(rs.map(r => r.latencyMs - r.lateMs))}%.0f ms x${rs.size}" }
          .mkString(", ") + s", rebuilds ${rebuilds.map(r => f"$r%.2f").mkString(" ")}" +
        shapeP50.map { case (k, t) => f"$k $t%.0f ms" }.mkString("; interactive p50 by shape ", ", ", ""))
      val (pgR, httpR) = res.partition(_.face.startsWith("pg:"))
      val httpL = httpR.map(_.latencyMs)
      val pgL = pgR.map(_.latencyMs)
      val m = ctx.metrics
      m("serve_http_p50_ms", "ms", Stats.quantile(httpL, 0.5))
      m("serve_http_p99_ms", "ms", Stats.quantile(httpL, 0.99))
      m("serve_pg_p50_ms", "ms", Stats.quantile(pgL, 0.5))
      m("serve_pg_p99_ms", "ms", Stats.quantile(pgL, 0.99))
      m("serve_model_rebuild_s", "s", Stats.median(rebuilds))
      if (shapeP50.nonEmpty)
        m("interactive_ms", "ms", Stats.geomean(shapeP50.map(_._2)))
      ctx.trace.foreach { tr =>
        val reqs = tr.spansNamed("serve.request").map(tr.window)
        val total = reqs.foldLeft(Window.zero)(_ + _)
        val k = math.max(1, reqs.size).toDouble
        m("query.jobs_per_req", "count", total.jobs / k)
        m("query.tasks_per_req", "count", total.tasks / k)
        m("query.job_share", "ratio", total.jobMs.toDouble / math.max(1L, total.wallMs))
        m("query.rows_per_req", "count", res.map(_.rows).sum / k)
        m("query.resp_bytes_per_req", "bytes", res.map(_.bytes).sum / k)
        m("models.rebuild_jobs", "count",
          Stats.median(tr.spansNamed("serve.rebuild").map(s => tr.window(s).jobs.toDouble)))
        m("loadgen.offered_rps", "1/s", rate)
        m("loadgen.sent", "count", res.size.toDouble)
        m("loadgen.late_p99_ms", "ms", Stats.quantile(res.map(_.lateMs), 0.99))
      }
    } finally {
      (pgs :+ writer).foreach(c => scala.util.Try(c.close()))
      pgw.stop()
      http.stop()
    }
  }
}

object ServePhase {
  final case class Outcome(face: String, latencyMs: Double, lateMs: Double,
      rows: Long, bytes: Long)

  /** Offered requests per second: 1.6 sends all eight request shapes in
    * a 5 s run and, spread over three reader connections, keeps the faces
    * under saturation (one request takes 0.1-1.7 s alone), so latency
    * tracks service time instead of a growing backlog. */
  val rate = 1.6

  /** Closed-loop passes over the request shapes after the warm-up one:
    * per shape the median of three. */
  val cycles = 3

  val layerMetrics: Seq[(String, String)] = Seq(
    "serve_http_p50_ms" -> "ms", "serve_http_p99_ms" -> "ms", "serve_pg_p50_ms" -> "ms",
    "serve_pg_p99_ms" -> "ms", "serve_model_rebuild_s" -> "s",
    "query.jobs_per_req" -> "count", "query.tasks_per_req" -> "count",
    "query.job_share" -> "ratio", "query.rows_per_req" -> "count",
    "query.resp_bytes_per_req" -> "bytes", "models.rebuild_jobs" -> "count",
    "loadgen.offered_rps" -> "1/s", "loadgen.sent" -> "count", "loadgen.late_p99_ms" -> "ms")
}
