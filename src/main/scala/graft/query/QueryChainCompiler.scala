package graft.query

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Evidence-style query-chain compiler (SURVEY §2.10 Q6).
  *
  * Faithful port of the chaining semantics in the reference's
  * .evidence/template/src/pages/api/status/[...route]/extractQueries.server.js:46-109:
  *
  *  - named SQL blocks may reference each other with a `\$`-braced
  *    query id;
  *  - each reference is inlined as a parenthesized derived table
  *    `(referenced SQL)`;
  *  - up to 16 passes (maxIterations = 15, loop runs `0 to 15`); a query
  *    still holding references on the final pass is a circular reference;
  *  - an unknown id fails that query with
  *    `Compiler error: '<id>' is not a query on this page`; an empty
  *    `${}` with `Compiler error: missing query reference`;
  *  - a non-inline (file-based) query may not reference an inline
  *    (markdown) query;
  *  - on error the query's compiled text becomes the error message
  *    (mirrors the reference, which surfaces the message as the query).
  *
  * After compilation, `run` hands each successfully compiled query to
  * `spark.sql` — Catalyst then plans the whole chained tree at once, so
  * chained queries cost nothing extra versus hand-inlined SQL (derived
  * tables are collapsed by the optimizer; filters still push through).
  */
object QueryChainCompiler {

  val CircularRefError = "Compiler error: circular reference"
  private val MaxIterations = 15
  private val RefPattern = "\\$\\{.*?\\}".r

  final case class ChainQuery(id: String, sql: String, inline: Boolean = true)
  final case class Compiled(id: String, sql: String, error: Option[String]) {
    def isOk: Boolean = error.isEmpty
  }

  /** Extract fenced ```sql <id> ...``` blocks from markdown — the shape
    * Evidence pages use (reference pages/index.md:8-10). */
  def extractQueries(markdown: String): Seq[ChainQuery] = {
    val block = "(?s)```\\s*sql\\s+([A-Za-z0-9_]+)\\s*\\n(.*?)```".r
    block.findAllMatchIn(markdown).map { m =>
      ChainQuery(m.group(1), m.group(2).trim, inline = true)
    }.toSeq
  }

  def compile(queries: Seq[ChainQuery]): Seq[Compiled] = {
    val ids = queries.map(_.id)
    val texts  = mutable.ArrayBuffer(queries.map(_.sql): _*)
    val errors = mutable.ArrayBuffer.fill[Option[String]](queries.size)(None)

    for (i <- 0 to MaxIterations; qi <- queries.indices) {
      val refs = RefPattern.findAllIn(texts(qi)).toList
      refs.foreach { ref =>
        val refId = ref.stripPrefix("${").stripSuffix("}").trim
        val outcome: Either[String, String] =
          if (!ids.contains(refId))
            Left(
              if (refId.isEmpty) "Compiler error: missing query reference"
              else s"Compiler error: '$refId' is not a query on this page")
          else if (i >= MaxIterations) Left(CircularRefError)
          else {
            val refQuery = queries(ids.indexOf(refId))
            if (!queries(qi).inline && refQuery.inline)
              Left(s"Cannot reference inline query from SQL File. (Referenced $refId)")
            else Right(s"(${texts(ids.indexOf(refId))})")
          }
        outcome match {
          case Right(inlined) =>
            // replace the FIRST occurrence of this reference literal —
            // the reference's String.replace(string, string) semantics
            val at = texts(qi).indexOf(ref)
            if (at >= 0)
              texts(qi) = texts(qi).substring(0, at) + inlined +
                texts(qi).substring(at + ref.length)
          case Left(msg) =>
            errors(qi) = Some(msg)
            texts(qi) = msg
        }
      }
    }
    queries.indices.map(i => Compiled(queries(i).id, texts(i), errors(i)))
  }

  /** Compile a page's queries and run each compilable one through Spark.
    * Referenced tables must already be resolvable (temp views/catalog). */
  def run(spark: SparkSession, markdown: String): Map[String, Either[String, DataFrame]] =
    compile(extractQueries(markdown)).map { c =>
      c.id -> (c.error match {
        case Some(msg) => Left(msg)
        case None      => Right(spark.sql(c.sql))
      })
    }.toMap

  final case class JsonResult(rows: Seq[String], truncated: Boolean)

  /** The `/api/{route}.json` endpoint shape (reference
    * [route].json/+server.js:7-11): every page query as JSON rows, ready
    * to serialize. `maxRows` bounds the driver-side collect — dashboards
    * read aggregates, not raw scans, and an unbounded collect of a fact
    * table would OOM the serving tier. Collecting maxRows+1 lets the
    * caller distinguish "exactly maxRows" from "cut off" instead of
    * silently rendering a truncated result as complete. */
  def runToJson(spark: SparkSession, markdown: String, cache: ResultCache,
      maxRows: Int = 10000): Map[String, Either[String, JsonResult]] =
    runCompiledToJson(spark, compile(extractQueries(markdown)), cache, maxRows)

  /** The pre-compiled face of [[runToJson]]: callers that also need the
    * compiled chain for something else (the page endpoint seeds the
    * status cache with it) compile ONCE and pass it here instead of
    * paying extract+compile a second time. A server passes its own
    * [[ResultCache]], so a repeated page answers from it. */
  def runCompiledToJson(spark: SparkSession, compiled: Seq[Compiled], cache: ResultCache,
      maxRows: Int = 10000): Map[String, Either[String, JsonResult]] =
    compiled.map { c =>
      c.id -> (c.error match {
        case Some(msg) => Left(msg): Either[String, JsonResult]
        case None      => Right(cache.json(spark.sql(c.sql), maxRows))
      })
    }.toMap
}
