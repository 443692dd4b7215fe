package graft.query

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.GraftBridge
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

  /** Spark jobs started while `body` runs. */
  private def jobsDuring[A](body: => A): (A, Int) = {
    val n = new AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { n.incrementAndGet(); () }
    }
    GraftBridge.waitForListenerBus(spark)
    spark.sparkContext.addSparkListener(l)
    try {
      val a = body
      GraftBridge.waitForListenerBus(spark)
      (a, n.get)
    } finally spark.sparkContext.removeSparkListener(l)
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
