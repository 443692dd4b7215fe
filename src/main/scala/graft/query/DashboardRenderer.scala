package graft.query

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.NumericType

/** Server-side renderer for Evidence-style dashboard pages — the
  * reference's front door (`pages/index.md` + `.evidence` template:
  * markdown prose, fenced ```sql id``` blocks, then component tags like
  * `<LineChart data={gas}/>` bound to a query's rows). The reference
  * ships a Svelte UI; the ENGINE-side contract is: page text in →
  * compiled chained queries → executed rows → rendered charts. This
  * renders that contract to ONE self-contained HTML string (inline SVG,
  * no scripts, no external assets) so a page is servable by
  * [[QueryServer]] or writable to a static site by a pipeline run.
  *
  * Supported surface (what the reference's pages actually use, plus the
  * two Evidence staples every dashboard reaches for next):
  *  - frontmatter `title:` / `hide_title:` (pages/index.md:1-4);
  *  - markdown headings and paragraphs (prose is escaped, never
  *    interpreted as HTML);
  *  - `<LineChart data={id} [x=col] [y=col]/>` — x defaults to the
  *    first column, y to EVERY numeric column (multi-series);
  *  - `<BarChart data={id} [x=col] [y=col]/>`;
  *  - `<DataTable data={id}/>`;
  *  - a failed/unknown query renders an error box in place of the
  *    component (Evidence's error-state behavior), never a blank chart.
  *
  * Scale stance: rendering collects each page query through the SAME
  * bounded-collect device as the JSON endpoint
  * ([[ResultCache]]'s row cap — here via `maxRows`),
  * so a dashboard can never pull an unbounded fact table onto the
  * serving driver; charts are aggregate-shaped by construction. */
object DashboardRenderer {

  private val Palette = Seq("#4e79a7", "#f28e2b", "#59a14f", "#e15759",
    "#b07aa1", "#76b7b2")

  final case class Series(name: String, points: Seq[(Double, Double)],
    xLabels: Option[Seq[String]])

  /** Render a full page: frontmatter + prose + executed components. */
  def render(spark: SparkSession, markdown: String, cache: ResultCache,
      maxRows: Int = 10000): String = {
    val (front, body) = splitFrontmatter(markdown)
    val title = front.getOrElse("title", "")
    val hideTitle = front.get("hide_title").exists(_.trim == "true")
    val results: Map[String, Either[String, DataFrame]] =
      QueryChainCompiler.run(spark, body)

    val content = new StringBuilder
    if (title.nonEmpty && !hideTitle)
      content ++= s"<h1 class=page-title>${escapeHtml(title)}</h1>\n"

    // strip sql blocks (they execute, they don't render), then walk the
    // remaining lines: component tags render charts (with any prose
    // around them on the same line kept), non-sql code fences render
    // preformatted, everything else is minimal markdown (headings +
    // paragraphs)
    val sqlBlock = "(?s)```\\s*sql\\s+[A-Za-z0-9_]+\\s*\\n.*?```".r
    val prose = sqlBlock.replaceAllIn(body, "")
    val component =
      "<(LineChart|BarChart|DataTable)\\s+data=\\{\\s*([A-Za-z0-9_]+)\\s*\\}([^/>]*)/?>".r
    // a fenced non-sql block passes through as preformatted text —
    // rendering it line-by-line as paragraphs would collapse
    // indentation and read as prose
    var codeBuf: Option[StringBuilder] = None
    def flushCode(): Unit = codeBuf.foreach { buf =>
      content ++= s"<pre><code>${escapeHtml(buf.result().stripSuffix("\n"))}</code></pre>\n"
      codeBuf = None
    }
    prose.linesIterator.foreach { line =>
      val t = line.trim
      codeBuf match {
        case Some(buf) =>
          if (t.startsWith("```")) flushCode() else buf ++= line + "\n"
        case None if t.startsWith("```") =>
          codeBuf = Some(new StringBuilder)
        case None =>
          val ms = component.findAllMatchIn(t).toList
          if (ms.nonEmpty) {
            // surrounding prose on a component line renders too — the
            // tag replaces only ITS span, not the whole line
            var pos = 0
            ms.foreach { m =>
              val pre = t.substring(pos, m.start).trim
              if (pre.nonEmpty) content ++= s"<p>${escapeHtml(pre)}</p>\n"
              content ++= renderComponent(m.group(1), m.group(2),
                parseAttrs(m.group(3)), results.get(m.group(2)), maxRows, cache)
              pos = m.end
            }
            val post = t.substring(pos).trim
            if (post.nonEmpty) content ++= s"<p>${escapeHtml(post)}</p>\n"
          } else if (t.startsWith("#")) {
            val level = math.min(t.takeWhile(_ == '#').length, 6)
            content ++= s"<h$level>${escapeHtml(t.dropWhile(_ == '#').trim)}</h$level>\n"
          } else if (t.nonEmpty)
            content ++= s"<p>${escapeHtml(t)}</p>\n"
      }
    }
    flushCode() // an unclosed fence still renders what it collected

    s"""<!doctype html>
       |<html><head><meta charset="utf-8"><title>${escapeHtml(title)}</title>
       |<style>
       |body{font-family:sans-serif;max-width:860px;margin:2rem auto;color:#222}
       |.chart{margin:1rem 0}.error{color:#b00;border:1px solid #b00;padding:.5rem}
       |.notice{color:#665;font-size:.85em}
       |table{border-collapse:collapse}td,th{border:1px solid #ccc;padding:.3rem .6rem}
       |text{font-size:11px;fill:#555}.axis{stroke:#999;stroke-width:1}
       |</style></head><body>
       |${content.result()}</body></html>""".stripMargin
  }

  private def renderComponent(kind: String, id: String,
      attrs: Map[String, String], result: Option[Either[String, DataFrame]],
      maxRows: Int, cache: ResultCache): String =
    result match {
      case None =>
        s"""<div class=error>'$id' is not a query on this page</div>\n"""
      case Some(Left(err)) =>
        s"""<div class=error>${escapeHtml(err)}</div>\n"""
      case Some(Right(df)) =>
        try {
          // maxRows+1 so "exactly maxRows" and "cut off" stay
          // distinguishable — and the cut is SAID, never silently
          // rendered as a complete result
          val collected = cache.rows(df, maxRows)
          val truncated = collected.length > maxRows
          val rows = collected.take(maxRows).toSeq
          val body = kind match {
            case "DataTable" => dataTable(df, rows)
            case "LineChart" => chartSvg(df, rows, attrs, bars = false)
            case "BarChart"  => chartSvg(df, rows, attrs, bars = true)
          }
          if (truncated)
            body + s"<div class=notice>showing the first $maxRows rows — result truncated</div>\n"
          else body
        } catch {
          case e: Exception =>
            s"""<div class=error>${escapeHtml(s"$id: ${e.getMessage}")}</div>\n"""
        }
    }

  private def dataTable(df: DataFrame, rows: Seq[Row]): String = {
    val cols = df.columns.toSeq
    val head = cols.map(c => s"<th>${escapeHtml(c)}</th>").mkString
    val body = rows.map { r =>
      cols.indices.map { i =>
        val v = if (r.isNullAt(i)) "" else r.get(i).toString
        s"<td>${escapeHtml(v)}</td>"
      }.mkString("<tr>", "", "</tr>")
    }.mkString("\n")
    s"<div class=chart><table><tr>$head</tr>\n$body</table></div>\n"
  }

  /** Extract (x, series...) data: x = `x` attr or first column; y = `y`
    * attr or every numeric non-x column. A non-numeric x becomes a
    * categorical axis (positions 0..n-1 with the values as labels).
    * NULLS ARE GAPS, never points: a null x drops the row, a null y
    * drops that series' point — rendering a null as 0 would fabricate a
    * measured-zero data point (the Evidence contract plots missing). */
  private[query] def seriesOf(df: DataFrame, rows: Seq[Row],
      attrs: Map[String, String]): Seq[Series] = {
    val cols = df.schema.fields.toSeq
    val xName = attrs.getOrElse("x", cols.head.name)
    val xIdx = df.columns.indexOf(xName)
    require(xIdx >= 0, s"no column '$xName'")
    val numericIdx = cols.indices.filter(i => i != xIdx &&
      cols(i).dataType.isInstanceOf[NumericType])
    val yIdx = attrs.get("y") match {
      case Some(y) =>
        val i = df.columns.indexOf(y); require(i >= 0, s"no column '$y'"); Seq(i)
      case None => numericIdx
    }
    require(yIdx.nonEmpty, "no numeric y column to plot")
    val keep = rows.filter(r => !r.isNullAt(xIdx))
    val xNumeric = cols(xIdx).dataType.isInstanceOf[NumericType]
    val xs: Seq[Double] =
      if (xNumeric) keep.map(r => numAt(r, xIdx))
      else keep.indices.map(_.toDouble)
    val xLabels =
      if (xNumeric) None else Some(keep.map(_.get(xIdx).toString))
    yIdx.map { yi =>
      Series(cols(yi).name,
        keep.zip(xs).collect { case (r, x) if !r.isNullAt(yi) => (x, numAt(r, yi)) },
        xLabels)
    }
  }

  private def numAt(r: Row, i: Int): Double = r.get(i) match {
    case n: java.lang.Number => n.doubleValue()
    case other => other.toString.toDouble
  }

  private def chartSvg(df: DataFrame, rows: Seq[Row],
      attrs: Map[String, String], bars: Boolean): String = {
    if (rows.isEmpty) return "<div class=chart>(no rows)</div>\n"
    val series = seriesOf(df, rows, attrs)
    val allPts = series.flatMap(_.points)
    if (allPts.isEmpty) return "<div class=chart>(no plottable points)</div>\n"
    val (w, h, padL, padB, padT) = (640, 280, 56, 28, 12)
    val xs = allPts.map(_._1)
    val ys = allPts.map(_._2)
    val (x0, x1) = (xs.min, xs.max)
    val (yMin, yMax) = (math.min(ys.min, 0.0), math.max(ys.max, 0.0))
    val xSpan = if (x1 == x0) 1.0 else x1 - x0
    val ySpan = if (yMax == yMin) 1.0 else yMax - yMin
    def px(x: Double) = padL + (x - x0) / xSpan * (w - padL - 8)
    def py(y: Double) = h - padB - (y - yMin) / ySpan * (h - padB - padT)
    val sb = new StringBuilder
    sb ++= s"""<div class=chart><svg viewBox="0 0 $w $h" width="$w" height="$h" role="img">"""
    sb ++= s"""<line class=axis x1=$padL y1=${h - padB} x2=${w - 8} y2=${h - padB}/>"""
    sb ++= s"""<line class=axis x1=$padL y1=$padT x2=$padL y2=${h - padB}/>"""
    sb ++= s"""<text x=4 y=${py(yMax).toInt + 4}>${fmtNum(yMax)}</text>"""
    sb ++= s"""<text x=4 y=${py(yMin).toInt + 4}>${fmtNum(yMin)}</text>"""
    series.head.xLabels match {
      case Some(labels) if labels.nonEmpty =>
        sb ++= s"""<text x=${px(x0).toInt} y=${h - 8}>${escapeHtml(labels.head)}</text>"""
        if (labels.size > 1)
          sb ++= s"""<text x=${px(x1).toInt - 40} y=${h - 8}>${escapeHtml(labels.last)}</text>"""
      case _ =>
        sb ++= s"""<text x=${px(x0).toInt} y=${h - 8}>${fmtNum(x0)}</text>"""
        sb ++= s"""<text x=${px(x1).toInt - 20} y=${h - 8}>${fmtNum(x1)}</text>"""
    }
    series.zipWithIndex.foreach { case (s, si) =>
      val color = Palette(si % Palette.size)
      if (bars) {
        val bw = math.max(2.0,
          (w - padL - 8).toDouble / math.max(1, s.points.size) / series.size - 2)
        s.points.zipWithIndex.foreach { case ((x, y), i) =>
          val xPos = px(x) + si * bw - (series.size * bw) / 2
          val (top, bot) = (py(math.max(y, 0.0)), py(math.min(y, 0.0)))
          sb ++= f"""<rect x=${xPos}%.1f y=${top}%.1f width=${bw}%.1f height=${math.max(bot - top, 0.5)}%.1f fill="$color"/>"""
        }
      } else {
        val pts = s.points.sortBy(_._1)
          .map { case (x, y) => f"${px(x)}%.1f,${py(y)}%.1f" }.mkString(" ")
        sb ++= s"""<polyline points="$pts" fill="none" stroke="$color" stroke-width="1.5"/>"""
      }
      sb ++= s"""<text x=${w - 150} y=${padT + 14 * (si + 1)} fill="$color">${escapeHtml(s.name)}</text>"""
    }
    sb ++= "</svg></div>\n"
    sb.result()
  }

  private def fmtNum(v: Double): String =
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else f"$v%.2f"

  private def parseAttrs(s: String): Map[String, String] =
    "([A-Za-z_]+)=\\{?\"?([A-Za-z0-9_.-]+)\"?\\}?".r.findAllMatchIn(s)
      .map(m => m.group(1) -> m.group(2)).toMap

  private[query] def splitFrontmatter(md: String): (Map[String, String], String) = {
    val fm = "(?s)\\A---\\s*\\n(.*?)\\n---\\s*\\n(.*)\\z".r
    md match {
      case fm(head, rest) =>
        val kv = head.linesIterator.flatMap { l =>
          l.split(":", 2) match {
            case Array(k, v) => Some(k.trim -> v.trim)
            case _           => None
          }
        }.toMap
        (kv, rest)
      case _ => (Map.empty, md)
    }
  }

  private def escapeHtml(s: String): String =
    s.flatMap {
      case '<' => "&lt;"
      case '>' => "&gt;"
      case '&' => "&amp;"
      case '"' => "&quot;"
      case c   => c.toString
    }
}
