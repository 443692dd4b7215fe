package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.Pipeline
import graft.sources.JavaHttpFetcher

class JavaHttpFetcherSpec extends AnyFunSuite with SparkSpec {

  test("extractRange lands raw items over a real local socket") {
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    // the JDK reads nodelay once per JVM, at its first HttpServer; this
    // one may be the first, and QueryServer's replies need it on
    sys.props.getOrElseUpdate("sun.net.httpserver.nodelay", "true")
    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    try {
      server.createContext("/", new HttpHandler {
        override def handle(ex: HttpExchange): Unit = {
          val uri = java.net.URLDecoder.decode(ex.getRequestURI.toString, "UTF-8")
          val body = FakeNode.fetch(uri)
          val bytes = body.getBytes("UTF-8")
          ex.sendResponseHeaders(200, bytes.length)
          ex.getResponseBody.write(bytes)
          ex.close()
        }
      })
      server.start()
      val port = server.getAddress.getPort
      val dir = Files.createTempDirectory("graft-http").toString
      val pipe = new Pipeline(spark, dir, new JavaHttpFetcher().fetch,
        apiUrl = s"http://127.0.0.1:$port")
      // FakeNode serves heights 1-5 with one tx per odd height: chunks
      // (1,2), (3,4), (5,5) each hold one tx
      val w = pipe.extractRange("txs", 1, 5, 2)
      assert(w.chunksPlanned == 3 && w.chunksQuarantined == 0)
      val items = org.json4s.jackson.JsonMethods.parse(Files.readString(Paths.get(w.path)))
      val heights = (items \ "height").children.map(_.values.toString.toLong).sorted
      assert(heights == Seq(1L, 3L, 5L), heights)
    } finally server.stop(0)
  }

  test("escapeUrl: every URI-illegal char percent-encoded, including %") {
    import graft.sources.JavaHttpFetcher.escapeUrl
    assert(escapeUrl("""http://n/tx_search?query="tx.height>=1 AND tx.height<=2"""") ==
      "http://n/tx_search?query=%22tx.height%3E=1%20AND%20tx.height%3C=2%22")
    assert(escapeUrl("http://n/a?x=50%") == "http://n/a?x=50%25")
    // '#' must be encoded, or URI would read it as a fragment delimiter
    // and silently truncate the query sent to the node
    assert(escapeUrl("http://n/a?q=x#y") == "http://n/a?q=x%23y")
    assert(java.net.URI.create(escapeUrl("http://n/a?q=x#y")).getFragment == null)
    // the escaped form is always a valid URI
    java.net.URI.create(escapeUrl("""http://n/p?q="a b" | {c}^d"""))
  }
}
