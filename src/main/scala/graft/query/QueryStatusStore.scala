package graft.query

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import org.json4s._
import org.json4s.jackson.JsonMethods

/** Evidence's md5-keyed query-status cache — the compile-state layer a
  * dashboard client polls before loading a page (reference
  * `.evidence/template/src/pages/api/status/[...route]/extractQueries.server.js:8-44`
  * plus the `+layout.server.js:6-19` load hook that hits
  * `/api/status{route}` first).
  *
  * Contract, ported 1:1:
  *  - a route is keyed by `md5(route)`; its state lives at
  *    `{root}/extracted/{md5(route)}/queries.json` (the reference's
  *    `./.evidence-queries/extracted/{routeHash}` layout);
  *  - each page query is stored as
  *    `{id, compiledQueryString, queryStringMD5, status}` where
  *    `queryStringMD5 = md5(compiledQueryString)` — the COMPILED text,
  *    so editing any query in a `\${ref}` chain invalidates every
  *    query that inlines it;
  *  - on every status read the page is recompiled and each query's
  *    stored status carries forward ONLY when both id and md5 still
  *    match (extractQueries.server.js:19-30); a new or edited query is
  *    `"not run"`;
  *  - a page with zero queries empties its cache dir
  *    (extractQueries.server.js:33-37).
  *
  * The reference never writes a status other than `"not run"` in this
  * file (Evidence's dev-mode query runner, not vendored in the
  * checkout, owns the transitions); here the ENGINE runs the queries
  * itself, so [[record]] is that runner: the page endpoint marks each
  * query `"done"` or `"error"` after executing it.
  *
  * Serving-tier state, deliberately on the LOCAL filesystem: like the
  * reference's `.evidence-queries`, this is a per-server compile cache
  * keyed by content hashes — losing it costs one recompile, so it does
  * not need the durable Hadoop-FS treatment pipeline state gets. */
final class QueryStatusStore(root: String) {

  final case class Entry(id: String, compiledQueryString: String,
      queryStringMD5: String, status: String)

  def routeHash(route: String): String = md5hex(route)

  /** The status read (`GET /api/status/{route}`): recompile, carry
    * forward statuses whose (id, compiled-md5) still match, persist,
    * and return (id, status) per query in page order. */
  def statusFor(route: String, markdown: String): Seq[(String, String)] =
    synchronized {
      val compiled = QueryChainCompiler.compile(
        QueryChainCompiler.extractQueries(markdown))
      val dir = queryDir(route)
      val existing = readEntries(dir)
      val entries = compiled.map { c =>
        val m = md5hex(c.sql)
        val status = existing
          .find(e => e.id == c.id && e.queryStringMD5 == m)
          .map(_.status).getOrElse("not run")
        Entry(c.id, c.sql, m, status)
      }
      persist(dir, existing, entries)
      entries.map(e => e.id -> e.status)
    }

  /** The runner's combined seed+record (the page endpoint's path):
    * takes the PRE-COMPILED chain so serving a page compiles it exactly
    * once, and folds the cold-seed and the outcome write into ONE
    * locked read-modify-write — the old statusFor-then-record pair
    * recompiled the markdown and took the store lock twice per page
    * load, serializing the concurrent page serving it exists for. */
  def seedAndRecord(route: String,
      compiled: Seq[QueryChainCompiler.Compiled],
      outcomes: Map[String, String]): Unit = synchronized {
    val dir = queryDir(route)
    val existing = readEntries(dir)
    val entries = compiled.map { c =>
      val m = md5hex(c.sql)
      val carried = existing
        .find(e => e.id == c.id && e.queryStringMD5 == m).map(_.status)
      Entry(c.id, c.sql, m,
        outcomes.getOrElse(c.id, carried.getOrElse("not run")))
    }
    persist(dir, existing, entries)
  }

  /** Record run outcomes for queries already cached under `route` —
    * the runner's half of the protocol. Ids not in the cache are
    * ignored (the page changed between run and record; the next
    * status read recompiles anyway). */
  def record(route: String, outcomes: Map[String, String]): Unit =
    synchronized {
      val dir = queryDir(route)
      val existing = readEntries(dir)
      persist(dir, existing, existing.map(e =>
        outcomes.get(e.id).fold(e)(s => e.copy(status = s))))
    }

  /** Write `entries` (or empty the dir) only when they differ from the
    * `existing` ones read under the same lock: a repeated load of an
    * unchanged page leaves the file untouched. */
  private def persist(dir: Path, existing: Seq[Entry], entries: Seq[Entry]): Unit =
    if (entries != existing) {
      if (entries.isEmpty) Files.deleteIfExists(dir.resolve("queries.json"))
      else writeEntries(dir, entries)
    }

  private def queryDir(route: String): Path =
    Paths.get(root, "extracted", routeHash(route))

  private def readEntries(dir: Path): Seq[Entry] = {
    val f = dir.resolve("queries.json")
    if (!Files.exists(f)) Nil
    else JsonMethods.parse(Files.readString(f)) match {
      case JArray(vs) => vs.flatMap { v =>
        for {
          JString(id) <- Some(v \ "id")
          JString(sql) <- Some(v \ "compiledQueryString")
          JString(m) <- Some(v \ "queryStringMD5")
          JString(st) <- Some(v \ "status")
        } yield Entry(id, sql, m, st)
      }
      case _ => Nil
    }
  }

  private def writeEntries(dir: Path, entries: Seq[Entry]): Unit = {
    Files.createDirectories(dir)
    val arr = JArray(entries.map(e => JObject(
      "id" -> JString(e.id),
      "compiledQueryString" -> JString(e.compiledQueryString),
      "queryStringMD5" -> JString(e.queryStringMD5),
      "status" -> JString(e.status))).toList)
    Files.writeString(dir.resolve("queries.json"), JsonMethods.compact(arr))
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
}
