package graft

import graft.query.{DashboardRenderer, ResultCache}

/** The rendered front door: Evidence-style page markdown → compiled
  * chained queries → executed rows → self-contained HTML with inline
  * SVG charts (reference pages/index.md + the .evidence template's
  * render pipeline, re-expressed server-side). */
class DashboardRendererSpec extends SparkSpec {

  private def referencePage =
    """---
      |title: bread 🍞
      |hide_title: true
      |---
      |
      |# bread 🍞
      |
      |```sql gas
      |select cast(gas_used as int) as gas_used, cast(gas_wanted as int) as gas_wanted from tx_result
      |```
      |
      |<LineChart data={gas}/>
      |""".stripMargin

  test("the reference's index.md renders: prose heading + multi-series line chart") {
    import spark.implicits._
    Seq((10, 12), (20, 25), (30, 31), (40, 44))
      .toDF("gas_used", "gas_wanted").createOrReplaceTempView("tx_result")
    val html = DashboardRenderer.render(spark, referencePage, new ResultCache)
    // hide_title honored: the frontmatter title renders only via the
    // markdown heading, not the page-title block
    assert(!html.contains("class=page-title"))
    assert(html.contains("<h1>bread 🍞</h1>"))
    // the sql block itself never renders
    assert(!html.contains("select cast"))
    // x defaults to the first column, y to every OTHER numeric column →
    // one polyline (gas_wanted series) over the 4 rows
    val polylines = "<polyline".r.findAllIn(html).size
    assert(polylines == 1, html)
    assert(html.contains("gas_wanted")) // series legend
    val pts = "points=\"([^\"]+)\"".r.findFirstMatchIn(html).get.group(1)
    assert(pts.split(" ").length == 4, pts)
    // self-contained: no scripts, no external refs
    assert(!html.contains("<script") && !html.contains("http://") && !html.contains("https://"))
  }

  test("explicit x/y attributes, bar charts and data tables render from rows") {
    import spark.implicits._
    Seq(("2024-01-01", 3L, 1.0), ("2024-01-02", 5L, 2.0), ("2024-01-03", 2L, 3.0))
      .toDF("day", "n", "v").createOrReplaceTempView("daily")
    val page =
      """```sql d
        |select day, n, v from daily
        |```
        |<BarChart data={d} x=day y=n/>
        |<DataTable data={d}/>
        |""".stripMargin
    val html = DashboardRenderer.render(spark, page, new ResultCache)
    // 3 bars for the selected y only; categorical x labels on the axis
    assert("<rect".r.findAllIn(html).size == 3, html)
    assert(html.contains("2024-01-01") && html.contains("2024-01-03"))
    // the table renders header + 3 rows
    assert(html.contains("<th>day</th><th>n</th><th>v</th>"))
    assert("<tr><td>".r.findAllIn(html).size == 3)
  }

  test("a failed or unknown query renders an error box, never a blank chart") {
    val page =
      """```sql a
        |SELECT * FROM ${nope}
        |```
        |<LineChart data={a}/>
        |<LineChart data={missing}/>
        |""".stripMargin
    val html = DashboardRenderer.render(spark, page, new ResultCache)
    assert(html.contains("'nope' is not a query on this page"), html)
    assert(html.contains("'missing' is not a query on this page"), html)
    assert(!html.contains("<polyline"))
  }

  test("nulls are gaps, not fabricated zeros; truncation is said, not silent") {
    import spark.implicits._
    // day 2's value is NULL (an outer-join hole): the polyline must
    // have 2 points, never a dip to a fabricated zero
    Seq(("d1", Some(5.0)), ("d2", None), ("d3", Some(7.0)))
      .toDF("day", "v").createOrReplaceTempView("gappy")
    val page =
      """```sql g
        |select day, v from gappy
        |```
        |<LineChart data={g}/>
        |""".stripMargin
    val html = DashboardRenderer.render(spark, page, new ResultCache)
    val pts = "points=\"([^\"]+)\"".r.findFirstMatchIn(html).get.group(1)
    assert(pts.split(" ").length == 2, pts)

    // row cap: 3 rows, maxRows 2 → truncated notice rendered
    val capped = DashboardRenderer.render(spark, page, new ResultCache, maxRows = 2)
    assert(capped.contains("result truncated"), capped)
    assert(!html.contains("result truncated"))
  }

  test("prose is escaped, never interpreted as HTML") {
    val html = DashboardRenderer.render(spark, "# a <b>bold</b> & title", new ResultCache)
    assert(html.contains("<h1>a &lt;b&gt;bold&lt;/b&gt; &amp; title</h1>"))
  }

  test("prose around a component tag on the same line renders too") {
    import spark.implicits._
    Seq((1, 2), (2, 3)).toDF("x", "y").createOrReplaceTempView("t_inline")
    val page =
      """```sql q
        |select x, y from t_inline
        |```
        |
        |Daily gas: <LineChart data={q}/> as measured on-chain.
        |""".stripMargin
    val html = DashboardRenderer.render(spark, page, new ResultCache)
    assert(html.contains("<p>Daily gas:</p>"), html)
    assert(html.contains("<polyline"), html)
    assert(html.contains("<p>as measured on-chain.</p>"), html)
  }

  test("non-sql code fences render preformatted, not as paragraphs") {
    val page =
      """Install with:
        |
        |```bash
        |  make pipeline
        |  make dashboard
        |```
        |
        |then open the page.
        |""".stripMargin
    val html = DashboardRenderer.render(spark, page, new ResultCache)
    assert(html.contains("<pre><code>  make pipeline\n  make dashboard</code></pre>"), html)
    assert(!html.contains("<p>make pipeline</p>"), html)
    assert(html.contains("<p>then open the page.</p>"), html)
  }
}
