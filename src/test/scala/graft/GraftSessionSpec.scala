package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the shared session contract the mains rely on: scale-relevant
  * conf defaults and the SQL registration of the custom expressions.
  *
  * Deliberately does NOT call GraftSession.build here: getOrCreate on
  * the shared test session would re-apply the recommended conf to it,
  * changing planner behavior for every suite that runs afterwards
  * (order-dependent flakiness). The conf contract is asserted as data;
  * the fresh-session path is exactly `recommendedConf` + the builder
  * boilerplate, both visible in GraftSession.build.
  */
class GraftSessionSpec extends AnyFunSuite with SparkSpec {

  test("registered SQL surface: vec_dot/vec_norm/minhash/simhash_tokens resolve") {
    graft.plans.GraftExtensions.register(spark) // idempotent
    val r = spark.sql("""
      SELECT vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d,
             vec_norm(array(3.0D, 4.0D)) AS n,
             size(minhash(array('a b c d'), 4)) AS k,
             length(simhash_tokens(array('a', 'b'))) AS hx""").head()
    assert(r.getDouble(0) === 11.0)
    assert(r.getDouble(1) === 5.0)
    assert(r.getInt(2) === 4)
    assert(r.getInt(3) === 16)
  }

  test("fixture janitor: a dir with fresh DEEP writes survives; a fully-stale dir is reaped") {
    import java.nio.file.Files
    val old = System.currentTimeMillis() - 7L * 3600 * 1000
    // stale fixture: root and every file inside untouched for 7 h
    val stale = Files.createTempDirectory("graft-janitorstale")
    val sPart = stale.resolve("part-0"); Files.writeString(sPart, "x")
    assert(sPart.toFile.setLastModified(old) && stale.toFile.setLastModified(old))
    // live fixture: the ROOT mtime is 7 h old (parquet writes under
    // table subdirs never touch it) but a part file deep inside is
    // minutes old — the long-stress-sweep shape the root-mtime rule
    // used to reap mid-use
    val live = Files.createTempDirectory("graft-janitorlive")
    val deep = live.resolve("table").resolve("part-0")
    Files.createDirectories(deep.getParent)
    Files.writeString(deep, "x")
    assert(deep.getParent.toFile.setLastModified(old) &&
      live.toFile.setLastModified(old))
    GraftSession.reapStaleFixtures()
    assert(!Files.exists(stale), "fully-stale fixture should be reaped")
    assert(Files.exists(deep), "deep-fresh fixture must survive the janitor")
    // cleanup the survivor
    Files.delete(deep); Files.delete(deep.getParent); Files.delete(live)
  }

  test("the recommended conf carries the documented scale contract") {
    val c = GraftSession.recommendedConf
    assert(c("spark.sql.adaptive.enabled") == "true")
    assert(c("spark.sql.adaptive.coalescePartitions.enabled") == "true")
    assert(c("spark.sql.adaptive.skewJoin.enabled") == "true")
    assert(c("spark.sql.sources.partitionColumnTypeInference.enabled") == "false")
    assert(c("spark.sql.session.timeZone") == "UTC")
    assert(c("spark.hadoop.fs.file.impl") == classOf[NioLocalFileSystem].getName)
  }

  test("NioLocalFileSystem: creates, mkdirs and setPermission give the asked modes") {
    import java.nio.file.Files
    import java.nio.file.attribute.PosixFilePermissions.{toString => modeOf}
    import org.apache.hadoop.fs.Path
    import org.apache.hadoop.fs.permission.FsPermission
    val conf = new org.apache.hadoop.conf.Configuration()
    conf.set("fs.file.impl", classOf[NioLocalFileSystem].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    val root = Files.createTempDirectory("graft-niofs")
    val fs = new Path(root.toUri).getFileSystem(conf)
    try {
      assert(fs.isInstanceOf[NioLocalFileSystem])
      val dir = new Path(root.toUri.toString + "/a/b")
      assert(fs.mkdirs(dir, new FsPermission("750")))
      assert(modeOf(Files.getPosixFilePermissions(root.resolve("a/b"))) == "rwxr-x---")
      val f = new Path(dir, "part-0")
      val out = fs.create(f, new FsPermission("640"), true, 4096, 1.toShort, 1L << 20, null)
      out.write(Array[Byte](1, 2, 3)); out.close()
      assert(modeOf(Files.getPosixFilePermissions(root.resolve("a/b/part-0"))) == "rw-r-----")
      fs.setPermission(f, new FsPermission("604"))
      assert(modeOf(Files.getPosixFilePermissions(root.resolve("a/b/part-0"))) == "rw----r--")
      // the checksum side file is kept beside it, as LocalFileSystem does
      assert(Files.exists(root.resolve("a/b/.part-0.crc")))
      intercept[java.io.FileNotFoundException](
        fs.setPermission(new Path(dir, "missing"), new FsPermission("644")))
    } finally fs.close()
  }

  test("an LSH append plans on a private clone: the shared session keeps AQE and its width meanwhile") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.functions._
    import graft.operators.Dedup
    val db = "graft_maint_scope"
    val loc = java.nio.file.Files.createTempDirectory("graft-maint-scope")
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db LOCATION '$loc'")
    Seq("idx", "idx__pairs", "idx__bands")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $db.$t"))
    val docs = Tables.documents(spark, sf("sf0.001"))
    val old = docs.filter(col("doc_id") % 3 =!= 0)
    Dedup.lshBuildIndex(old, "doc_id", "text", s"$db.idx")
    def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select(col("id_a").cast("long"), col("id_b").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val oldOnly = pairSet(Dedup.minHashLshPairs(old, "doc_id", "text"))
    val full = pairSet(Dedup.minHashLshPairs(docs, "doc_id", "text"))
    val width = spark.conf.get("spark.sql.shuffle.partitions")
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")

    // the batch's ids pass through a UDF that parks each task until
    // released, so the append's first job holds its scope open
    val park = udf { (x: Long) =>
      MaintenanceScopeLatches.entered.countDown()
      MaintenanceScopeLatches.release.await()
      x
    }
    val batch = docs.filter(col("doc_id") % 3 === 0)
      .withColumn("doc_id", park(col("doc_id").cast("long")))
    val appended = new java.util.concurrent.atomic.AtomicReference[
      scala.util.Try[Set[(Long, Long)]]]()
    val t = new Thread(() => appended.set(scala.util.Try(pairSet(
      Dedup.lshIndexAppend(spark, s"$db.idx", batch, "doc_id", "text")))))
    t.start()
    try {
      assert(MaintenanceScopeLatches.entered.await(120,
        java.util.concurrent.TimeUnit.SECONDS), "the append never started")
      val plan = spark.range(1000).groupBy(col("id") % 7).count()
        .queryExecution.executedPlan
      val widths = plan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan.collect {
          case s: ShuffleExchangeExec => s.outputPartitioning.numPartitions
        }
        case other => fail(s"planned without AQE during the append:\n$other")
      }
      assert(widths == Seq(width.toInt), plan.treeString)
      assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
      assert(spark.conf.get("spark.sql.shuffle.partitions") == width)
    } finally MaintenanceScopeLatches.release.countDown()
    t.join(300000)
    val pairs = appended.get.get
    assert(oldOnly ++ pairs == full)
    assert(oldOnly.intersect(pairs).isEmpty)
  }
}

/** Latches the parking UDF reads statically: task closures are
  * serialized, so a captured latch would be a copy. */
object MaintenanceScopeLatches {
  val entered = new java.util.concurrent.CountDownLatch(1)
  val release = new java.util.concurrent.CountDownLatch(1)
}
