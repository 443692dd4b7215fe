package graft.query

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.functions.udf

import graft.SparkSpec

/** The serving faces' result cache: a repeated query is answered
  * without a Spark job, a changed input (new files, a replaced view)
  * misses, impure plans are never stored, and the byte cap evicts the
  * least recently used entry. */
class ResultCacheSpec extends SparkSpec {
  import spark.implicits._

  private def get(port: Int, path: String): (Int, String) = {
    val conn = URI.create(s"http://127.0.0.1:$port$path").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    val code = conn.getResponseCode
    val in = if (code >= 400) conn.getErrorStream else conn.getInputStream
    try (code, new String(in.readAllBytes(), StandardCharsets.UTF_8))
    finally conn.disconnect()
  }

  private def count(c: ResultCache, sql: String): Long =
    c.rows(spark.sql(sql), 10).head.getLong(0)

  test("a repeated page load runs no Spark job the second time") {
    val dir = Files.createTempDirectory("graft-rc-page").resolve("t").toString
    (1 to 40).map(i => (i % 5, i.toLong)).toDF("day", "gas").write.parquet(dir)
    spark.read.parquet(dir).createOrReplaceTempView("rc_gas")
    val page =
      """```sql per_day
        |select day, sum(gas) as gas from rc_gas group by day order by day
        |```
        |```sql total
        |select sum(gas) as total from ${per_day}
        |```
        |<BarChart data={per_day} x=day y=gas/>
        |""".stripMargin
    val srv = new QueryServer(spark, Map("gas" -> page))
    val port = srv.start()
    try {
      for (path <- Seq("/page/gas.html", "/api/gas.json")) {
        val ((c1, b1), cold) = jobsDuring(get(port, path))
        val ((c2, b2), warm) = jobsDuring(get(port, path))
        assert(c1 == 200 && c2 == 200 && b1 == b2, b2)
        assert(cold > 0, s"$path: the first load runs its queries")
        assert(warm == 0, s"$path: the repeated load ran $warm Spark jobs")
      }
      assert(get(port, "/api/gas.json")._2.contains(""""total":{"ok":true,"truncated":false,"rows":[{"total":820}]}"""))
    } finally srv.stop()
  }

  test("a repeated page load runs no optimizer the second time") {
    val dir = Files.createTempDirectory("graft-rc-opt").resolve("t").toString
    (1 to 40).map(i => (i % 5, i.toLong)).toDF("day", "gas").write.parquet(dir)
    spark.read.parquet(dir).createOrReplaceTempView("rc_opt")
    val page =
      """```sql per_day
        |select day, sum(gas) as gas from rc_opt group by day order by day
        |```
        |<BarChart data={per_day} x=day y=gas/>
        |""".stripMargin
    val runs = new AtomicInteger(0)
    val counting = new Rule[LogicalPlan] {
      override def apply(plan: LogicalPlan): LogicalPlan = { runs.incrementAndGet(); plan }
    }
    val before = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = before :+ counting
    val srv = new QueryServer(spark, Map("opt" -> page))
    val port = srv.start()
    try {
      for (path <- Seq("/api/opt.json", "/page/opt.html")) {
        runs.set(0)
        assert(get(port, path)._1 == 200)
        assert(runs.get > 0, s"$path: the first load optimizes its query")
        runs.set(0)
        assert(get(port, path)._1 == 200)
        assert(runs.get == 0, s"$path: the repeated load ran the optimizer ${runs.get} times")
      }
    } finally {
      srv.stop()
      spark.experimental.extraOptimizations = before
    }
  }

  test("CTE shapes answer from the cache on /api/*.json") {
    val dir = Files.createTempDirectory("graft-rc-cte").resolve("t").toString
    (1 to 40).map(i => (i % 5, i.toLong)).toDF("day", "gas").write.parquet(dir)
    spark.read.parquet(dir).createOrReplaceTempView("rc_cte_src")
    // a view whose body has a WITH, re-analyzed (new CTE ids) per query
    spark.sql(
      """create or replace temp view rc_cte_days as
        |with per_day as (select day, count(*) as n from rc_cte_src group by day)
        |select day, n from per_day""".stripMargin)
    val pages = Map(
      "view" -> "```sql days\nselect day, n from rc_cte_days order by day\n```",
      "own" -> ("```sql total\nwith g as (select day, sum(gas) as s from rc_cte_src " +
        "group by day) select sum(s) as total from g\n```"))
    val srv = new QueryServer(spark, pages)
    val port = srv.start()
    def hits(): Long = "\"hits\":(\\d+)".r.findFirstMatchIn(get(port, "/api/metrics")._2)
      .map(_.group(1).toLong).getOrElse(-1L)
    try {
      for (route <- pages.keys) {
        val ((c1, b1), cold) = jobsDuring(get(port, s"/api/$route.json"))
        val before = hits()
        val ((c2, b2), warm) = jobsDuring(get(port, s"/api/$route.json"))
        assert(c1 == 200 && c2 == 200 && b1 == b2 && b1.contains(""""ok":true"""), b1)
        assert(cold > 0, s"$route: the first load runs its query")
        assert(hits() == before + 1 && warm == 0, s"$route: $warm Spark jobs on the repeated load")
      }
    } finally srv.stop()
  }

  test("JSON lines match Dataset.toJSON for every column shape") {
    val df = spark.sql(
      """select id, cast(id as decimal(12, 3)) / 7 as dec, cast(null as string) as nothing,
        |  timestamp'2024-03-01 12:34:56.789' + make_interval(0, 0, 0, 0, id) as ts,
        |  date'2024-01-31' + cast(id as int) as d, array(id, id * 2) as arr,
        |  map('k', id) as m, named_struct('a', id, 'b', 'x"y') as s, id % 2 = 0 as even,
        |  cast(id as double) / 3 as ratio, 'ünï\n' as txt
        |from range(5)""".stripMargin)
    val r = new ResultCache().json(df, 3)
    assert(r.truncated)
    assert(r.rows == df.limit(3).toJSON.collect().toSeq)
  }

  test("appending a file under a parquet.`dir` view returns the new count") {
    val dir = Files.createTempDirectory("graft-rc-append").resolve("t").toString
    Seq(1, 2, 3).toDF("x").write.parquet(dir)
    spark.sql(s"create or replace temp view rc_dir as select * from parquet.`$dir`")
    val c = new ResultCache
    assert(count(c, "select count(*) from rc_dir") == 3)
    assert(count(c, "select count(*) from rc_dir") == 3)
    assert(c.stats.hits == 1)
    Seq(4, 5).toDF("x").write.mode("append").parquet(dir)
    assert(count(c, "select count(*) from rc_dir") == 5)
    assert(c.stats.misses == 2 && c.stats.entries == 2)
  }

  test("a partitioned catalog table hits, and an insert returns the new sum") {
    spark.sql("drop table if exists rc_parts")
    (1 to 6).map(i => (i.toLong, i % 2)).toDF("x", "p").write.partitionBy("p")
      .saveAsTable("rc_parts")
    try {
      val c = new ResultCache
      def sum(): Long =
        c.rows(spark.sql("select sum(x) from rc_parts where p = 1"), 10).head.getLong(0)
      assert(sum() == 9 && sum() == 9)
      assert(c.stats.hits == 1, c.stats)
      Seq((7L, 1)).toDF("x", "p").write.insertInto("rc_parts")
      assert(sum() == 16)
      assert(c.stats.hits == 1 && c.stats.entries == 2, c.stats)
    } finally spark.sql("drop table if exists rc_parts")
  }

  test("createOrReplaceTempView with other data returns the new rows") {
    val c = new ResultCache
    def xs(): Seq[Int] = c.rows(spark.sql("select x from rc_local order by x"), 10)
      .map(_.getInt(0))
    Seq(1, 2, 3).toDF("x").createOrReplaceTempView("rc_local")
    assert(xs() == Seq(1, 2, 3) && xs() == Seq(1, 2, 3))
    Seq(7, 8).toDF("x").createOrReplaceTempView("rc_local")
    assert(xs() == Seq(7, 8))
    val dir = Files.createTempDirectory("graft-rc-view").resolve("t").toString
    Seq(4, 5).toDF("x").write.parquet(dir)
    spark.read.parquet(dir).createOrReplaceTempView("rc_local")
    assert(xs() == Seq(4, 5))
    assert(c.stats.hits == 1 && c.stats.misses == 3)
  }

  test("rand(), current_timestamp() and a Scala UDF are never cached") {
    spark.udf.register("rc_plus_one", udf((x: Long) => x + 1))
    val c = new ResultCache
    val impure = Seq(
      "select rand() as r",
      "select current_timestamp() as t",
      "select current_date() as d",
      "select id from range(3) where rand(1) < 2",
      "select rc_plus_one(id) as y from range(3)",
      "select * from (select id, uuid() as u from range(2))")
    for (sql <- impure; _ <- 1 to 2) c.rows(spark.sql(sql), 10)
    assert(c.stats.hits == 0 && c.stats.entries == 0, c.stats)
    spark.sql("select id, rc_plus_one(id) as y from range(3)").createOrReplaceTempView("rc_udf_view")
    c.rows(spark.sql("select count(*) from rc_udf_view"), 10)
    assert(c.stats.entries == 0, "a UDF inside a temp view's body")
    // the control: the same shape without the impure call is stored
    c.rows(spark.sql("select id from range(3)"), 10)
    assert(c.stats.entries == 1)
  }

  test("what the optimizer folds from the session or the clock is never cached") {
    val c = new ResultCache
    val folded = Seq(
      "select cast('now' as timestamp) as t",
      "select cast(' today ' as date) as d",
      "select id from range(3) where cast(id as timestamp) < cast('tomorrow' as timestamp_ntz)",
      "select current_database() as db",
      "select current_catalog() as c",
      "select current_user() as u",
      "select localtimestamp() as t",
      "select id from range(3) where date_add(date'2024-01-01', cast(id as int)) < localtimestamp()",
      "select current_timezone() as z")
    for (sql <- folded; _ <- 1 to 2) c.rows(spark.sql(sql), 10)
    assert(c.stats.hits == 0 && c.stats.entries == 0, c.stats)
    // a constant datetime cast that throws when evaluated: building the
    // key does not fail the request, the run reports Spark's own error
    val throwing = "select case when id < 0 then cast(concat('x', 1 div 0) as date) end as d " +
      "from range(3)"
    val misses = c.stats.misses
    val e = intercept[ArithmeticException](c.rows(spark.sql(throwing), 10))
    assert(e.asInstanceOf[org.apache.spark.SparkThrowable].getCondition == "DIVIDE_BY_ZERO")
    assert(c.stats.misses == misses + 1 && c.stats.entries == 0, c.stats)
    // the control: a datetime string the optimizer does not replace is stored
    c.rows(spark.sql("select cast('2024-01-31' as date) as d"), 10)
    assert(c.stats.entries == 1)
  }

  test("a persistent view's entry holds no catalog entry") {
    val dir = Files.createTempDirectory("graft-rc-pview").resolve("t").toString
    Seq(1, 2, 3).toDF("x").write.parquet(dir)
    spark.sql(s"create or replace view rc_pview as select x from parquet.`$dir`")
    try {
      val c = new ResultCache
      def sum(): Long = c.rows(spark.sql("select sum(x) from rc_pview"), 10).head.getLong(0)
      assert(sum() == 6 && sum() == 6)
      assert(c.stats.hits == 1 && c.stats.entries == 1, c.stats)
      for (cls <- Seq(classOf[org.apache.spark.sql.SparkSession],
          classOf[org.apache.spark.sql.execution.datasources.FileIndex],
          classOf[org.apache.spark.sql.catalyst.catalog.CatalogTable]))
        assert(pathTo(c, cls).isEmpty, s"${cls.getName} via ${pathTo(c, cls)}")
    } finally spark.sql("drop view if exists rc_pview")
  }

  test("commands, RDD relations and cached data are not stored") {
    val c = new ResultCache
    c.rows(spark.sql("show tables"), 10)
    c.rows(spark.sql("set spark.sql.shuffle.partitions"), 10)
    spark.createDataFrame(spark.sparkContext.parallelize(Seq(1, 2)).map(Tuple1(_)))
      .toDF("x").createOrReplaceTempView("rc_rdd")
    c.rows(spark.sql("select sum(x) from rc_rdd"), 10)
    val cachedDf = spark.range(5).toDF("x").cache()
    try c.rows(cachedDf.selectExpr("sum(x)"), 10)
    finally cachedDf.unpersist(blocking = true)
    assert(c.stats.entries == 0 && c.stats.misses == 4, c.stats)
  }

  test("the key carries the row cap, the face and the session conf") {
    val c = new ResultCache
    val q = "select id from range(20)"
    assert(c.rows(spark.sql(q), 5).size == 6)
    assert(c.rows(spark.sql(q), 10).size == 11)
    assert(c.json(spark.sql(q), 10).rows.size == 10)
    val other = spark.newSession()
    other.conf.set("spark.sql.shuffle.partitions", "3")
    c.rows(other.sql(q), 10)
    assert(c.stats.hits == 0 && c.stats.entries == 4, c.stats)
    c.rows(spark.sql(q), 10)
    assert(c.stats.hits == 1)
  }

  test("queries that differ only in their aliases answer with their own names") {
    val c = new ResultCache
    def names(sql: String): (Seq[String], Seq[String]) =
      (c.json(spark.sql(sql), 10).rows, c.rows(spark.sql(sql), 10).map(_.schema.fieldNames.mkString(",")))
    assert(names("select count(*) as a from range(3)") == (Seq("""{"a":3}"""), Seq("a")))
    assert(names("select count(*) as b from range(3)") == (Seq("""{"b":3}"""), Seq("b")))
    assert(names("select s.x as y from (select id as x from range(1)) s") ==
      (Seq("""{"y":0}"""), Seq("y")))
    assert(names("select s.z as y from (select id as z from range(1)) s") ==
      (Seq("""{"y":0}"""), Seq("y")))
    assert(c.stats.hits == 2 && c.stats.misses == 6, c.stats)
  }

  /** The shortest field path from `root` to an instance of `target`,
    * by a reflective walk of the object graph. */
  private def pathTo(root: AnyRef, target: Class[_]): Option[List[String]] = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[AnyRef, java.lang.Boolean])
    val queue = new java.util.ArrayDeque[(AnyRef, List[String])]
    queue.add((root, Nil))
    seen.add(root)
    def visit(v: AnyRef, step: String, path: List[String]): Unit =
      if (v != null && seen.add(v)) queue.add((v, s"$step: ${v.getClass.getName}" :: path))
    while (!queue.isEmpty) {
      val (o, path) = queue.poll()
      if (target.isInstance(o)) return Some(path.reverse)
      o match {
        case arr: Array[AnyRef] => arr.zipWithIndex.foreach { case (v, i) => visit(v, s"[$i]", path) }
        case _: Class[_] | _: Array[_] =>
        case _ =>
          Iterator.iterate[Class[_]](o.getClass)(_.getSuperclass).takeWhile(_ != null)
            .flatMap(_.getDeclaredFields)
            .filter(f => !java.lang.reflect.Modifier.isStatic(f.getModifiers) && !f.getType.isPrimitive)
            .foreach { f =>
              f.setAccessible(true)
              visit(f.get(o), f.getName, path)
            }
      }
    }
    None
  }

  test("an entry holds no session, file index or catalog entry") {
    val dir = Files.createTempDirectory("graft-rc-session").resolve("t").toString
    Seq(1, 2, 3).toDF("x").write.parquet(dir)
    // an isolated pg-wire connection's session, dropped once it closes
    val closed = spark.newSession()
    closed.read.parquet(dir).createOrReplaceTempView("rc_closed")
    val df = closed.sql("select sum(x) from rc_closed")
    val live = Seq(classOf[org.apache.spark.sql.SparkSession],
      classOf[org.apache.spark.sql.execution.datasources.FileIndex],
      classOf[org.apache.spark.sql.catalyst.catalog.CatalogTable])
    // the walk sees through the plan and the cache's map
    val holder = new java.util.LinkedHashMap[AnyRef, AnyRef]()
    holder.put("plan", df.queryExecution.optimizedPlan)
    assert(live.take(2).forall(pathTo(holder, _).isDefined))
    val c = new ResultCache
    assert(c.rows(df, 10).head.getLong(0) == 6)
    assert(c.stats.entries == 1)
    for (cls <- live) assert(pathTo(c, cls).isEmpty, s"${cls.getName} via ${pathTo(c, cls)}")
    // the entry still answers the same query from another new session
    val next = spark.newSession()
    next.read.parquet(dir).createOrReplaceTempView("rc_closed")
    assert(c.rows(next.sql("select sum(x) from rc_closed"), 10).head.getLong(0) == 6)
    assert(c.stats.hits == 1, c.stats)
  }

  test("going over the byte cap evicts the least recently used entry") {
    def q(k: Int) = spark.sql(s"select id + $k as v from range(50)")
    val probe = new ResultCache // an entry of the same shape as q(1..3)
    probe.rows(q(4), 100)
    val one = probe.stats.bytes
    assert(one > 0)
    val c = new ResultCache((one * 2.5).toLong)
    c.rows(q(1), 100)
    c.rows(q(2), 100)
    c.rows(q(1), 100) // q(1) is now the most recently used
    assert(c.stats.hits == 1 && c.stats.evictions == 0)
    c.rows(q(3), 100)
    assert(c.stats.evictions == 1 && c.stats.entries == 2)
    assert(c.stats.bytes <= (one * 2.5).toLong)
    c.rows(q(1), 100)
    assert(c.stats.hits == 2, "the recently used entry survived")
    c.rows(q(2), 100)
    assert(c.stats.hits == 2, "the least recently used entry was evicted")
    // an entry larger than the whole cap is never stored
    val tiny = new ResultCache(one / 2)
    tiny.rows(q(1), 100)
    assert(tiny.stats.entries == 0 && tiny.stats.bytes == 0)
  }
}
