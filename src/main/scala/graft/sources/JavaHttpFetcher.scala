package graft.sources

/** HTTP transport contract: one GET, the response body back. The
  * extract ships `fetch` to executors inside its fetch tasks, so an
  * implementation must be serializable. */
trait RpcFetcher extends Serializable {
  def fetch(url: String): String
}

/** Production transport: plain blocking java.net.http. Retries are
  * bounded (Spark task retry is the outer loop, unlike the reference's
  * infinite sleep-retry, extract.py:352-370). */
final class JavaHttpFetcher extends RpcFetcher {
  @transient private lazy val client = java.net.http.HttpClient.newBuilder()
    // bounded, always: the JDK defaults are INFINITE, and a node that
    // accepts the connection but never answers would hang the task (or
    // a driver-side tip probe) forever — a hang never fails, so task
    // retry never gets a chance
    .connectTimeout(java.time.Duration.ofSeconds(15))
    .build()

  override def fetch(url: String): String = {
    val req = java.net.http.HttpRequest
      .newBuilder(java.net.URI.create(JavaHttpFetcher.escapeUrl(url)))
      .timeout(java.time.Duration.ofSeconds(60))
      .GET().build()
    val rsp = client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
    require(rsp.statusCode() == 200, s"HTTP ${rsp.statusCode()} for $url")
    rsp.body()
  }
}

object JavaHttpFetcher {
  /** Percent-encode every character java.net.URI rejects in a query
    * string. The URL builders (Fetch.txSearchUrl etc.) deliberately emit
    * the reference's human-readable format verbatim (literal spaces,
    * quotes, comparison operators — extract.py:150): that string is the
    * cross-transport contract, and test fetchers pattern-match it raw;
    * escaping is each HTTP transport's job. '%' is encoded too — the
    * builders never emit escapes, so a literal '%' must not be
    * misread as one. '#' is encoded too: the builders never need a raw
    * fragment delimiter, and an unescaped '#' inside a query value would
    * make java.net.URI silently truncate the query at the fragment. */
  def escapeUrl(url: String): String = {
    val keep = ((('a' to 'z') ++ ('A' to 'Z') ++ ('0' to '9')) ++
      "-._~!$&'()*+,;=:@/?").toSet
    url.flatMap { c =>
      if (keep(c)) c.toString
      else c.toString.getBytes("UTF-8").map(b => f"%%${b & 0xff}%02X").mkString
    }
  }
}
