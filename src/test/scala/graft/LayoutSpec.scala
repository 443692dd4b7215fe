package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Layout

class LayoutSpec extends AnyFunSuite with SparkSpec {

  test("bucketed tables join without a shuffle") {
    val db = "graft_buckets"
    // unique location per JVM: the in-memory catalog forgets tables
    // between runs but their files would survive and collide
    val loc = java.nio.file.Files.createTempDirectory("graft-bucketdb")
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db LOCATION '$loc'")
    spark.sql(s"DROP TABLE IF EXISTS $db.orders_b")
    spark.sql(s"DROP TABLE IF EXISTS $db.lineitem_b")
    val orders = Tables.orders(spark, sf("sf0.001"))
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val lineitem = Tables.lineitem(spark, sf("sf0.001"))
      .select("l_orderkey", "l_quantity")
    Layout.writeBucketed(orders, s"$db.orders_b", Seq("o_orderkey"), 8)
    Layout.writeBucketed(
      lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
      s"$db.lineitem_b", Seq("o_orderkey"), 8)

    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1") // force the join to be shuffle-shaped
      val joined = spark.table(s"$db.orders_b")
        .join(spark.table(s"$db.lineitem_b"), "o_orderkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange"), s"bucketed join should not shuffle:\n$plan")
      assert(plan.contains("SelectedBucketsCount"), plan)
      // and it computes the same thing as the plain join
      val plain = orders.join(
        lineitem.withColumnRenamed("l_orderkey", "o_orderkey"), "o_orderkey")
      assert(joined.count() == plain.count())
    } finally spark.conf.set(key, prev)
  }

  test("small-batch append (batchParts < numBuckets) keeps bucket integrity and bounded files") {
    val db = "graft_smallappend"
    val loc = java.nio.file.Files.createTempDirectory("graft-smallappend")
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db LOCATION '$loc'")
    spark.sql(s"DROP TABLE IF EXISTS $db.t")
    val orders = Tables.orders(spark, sf("sf0.001"))
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val (base, batch) = (orders.filter(col("o_orderkey") % 2 === 0),
      orders.filter(col("o_orderkey") % 2 === 1))
    Layout.writeBucketed(base, s"$db.t", Seq("o_orderkey"), 16)
    val before = spark.table(s"$db.t").inputFiles.length
    // a serving-sized append declares its own width — 2 shuffle
    // partitions against a 16-bucket table. Partitioning on the bucket
    // column colocates every bucket's rows for ANY partition count, so
    // the writer must still land AT MOST one file per non-empty bucket
    // and every row must be FINDABLE through bucket pruning afterwards
    // (a row written under a wrong bucket id would vanish from pruned
    // reads while surviving full scans — the silent failure mode).
    Layout.appendBucketed(batch.repartition(2), s"$db.t",
      batchParts = Some(2))
    val added = spark.table(s"$db.t").inputFiles.length - before
    assert(added <= 16, s"small append added $added files (> one per bucket)")
    assert(spark.table(s"$db.t").count() == orders.count())
    // bucket-pruned point reads see every appended row: the join-side
    // bucket pruning path (SelectedBucketsCount) is how serving reads
    // find rows, so prune-by-key must return each appended key
    val probe = batch.select("o_orderkey").limit(50).collect().map(_.getLong(0))
    val found = spark.table(s"$db.t")
      .filter(col("o_orderkey").isInCollection(probe.toSeq))
      .select("o_orderkey").collect().map(_.getLong(0)).toSet
    assert(probe.toSet.subsetOf(found),
      s"appended keys missing from pruned read: ${probe.toSet -- found}")
  }

  test("compactBucketedTable: appends accrete files, compact restores the build's bound — content, props, bucketing preserved") {
    val db = "graft_compact_b"
    val loc = java.nio.file.Files.createTempDirectory("graft-compact-b")
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db LOCATION '$loc'")
    Seq("t", "t__compact").foreach(x => spark.sql(s"DROP TABLE IF EXISTS $db.$x"))
    val orders = Tables.orders(spark, sf("sf0.001"))
      .select("o_orderkey", "o_custkey", "o_totalprice")
    Layout.writeBucketed(orders.filter(col("o_orderkey") % 4 === 0),
      s"$db.t", Seq("o_orderkey"), 8)
    spark.sql(s"ALTER TABLE $db.t SET TBLPROPERTIES ('graft.demo' = 'v7')")
    (1L to 3L).foreach(r => Layout.appendBucketed(
      orders.filter(col("o_orderkey") % 4 === r), s"$db.t"))
    val before = spark.table(s"$db.t").inputFiles.length
    val rows = spark.table(s"$db.t").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    Layout.compactBucketedTable(spark, s"$db.t")
    val after = spark.table(s"$db.t").inputFiles.length
    assert(after < before, s"compact did not shrink files: $before -> $after")
    // one write's bound: <= numBuckets x files-per-bucket of a build
    assert(after <= 8 * graft.operators.Layout.MaxFilesPerBucket)
    assert(spark.table(s"$db.t").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet == rows)
    // graft.* property stamps traveled with the staging swap
    assert(org.apache.spark.sql.GraftBridge
      .tableProperties(spark, s"$db.t").get("graft.demo").contains("v7"))
    // the bucket layout survived: a same-spec append still validates,
    // and the catalog reports the same spec
    assert(org.apache.spark.sql.GraftBridge.bucketSpec(spark, s"$db.t")
      .contains((8, Seq("o_orderkey"), Seq("o_orderkey"))))
    Layout.appendBucketed(orders.limit(0), s"$db.t")

    // crash window between DROP and RENAME: table absent, staging holds
    // everything — a re-run resumes by completing the rename
    spark.sql(s"DROP TABLE IF EXISTS $db.t__compact")
    Layout.writeBucketed(spark.table(s"$db.t"), s"$db.t__compact",
      Seq("o_orderkey"), 8)
    spark.sql(s"ALTER TABLE $db.t__compact SET TBLPROPERTIES ('graft.demo' = 'v7')")
    spark.sql(s"DROP TABLE $db.t")
    Layout.compactBucketedTable(spark, s"$db.t") // resume path
    assert(spark.table(s"$db.t").count() == rows.size)
    assert(org.apache.spark.sql.GraftBridge
      .tableProperties(spark, s"$db.t").get("graft.demo").contains("v7"))
    // and an unbucketed table refuses instead of silently flattening
    spark.sql(s"DROP TABLE IF EXISTS $db.plain")
    orders.limit(5).write.format("parquet").saveAsTable(s"$db.plain")
    val e = intercept[IllegalArgumentException] {
      Layout.compactBucketedTable(spark, s"$db.plain")
    }
    assert(e.getMessage.contains("not bucketed"), e.getMessage)
  }

  test("salted join equals the plain join and spreads the hot key") {
    import spark.implicits._
    // skewed fact: one hot key (90%) + tail
    val fact = (1 to 2000).map(i => (if (i % 10 == 0) i.toLong else 7L, i))
      .toDF("k", "v")
    val dim = Seq((7L, "hot"), (10L, "ten"), (20L, "twenty"), (999L, "none"))
      .toDF("k", "name")

    val salted = Layout.saltedJoin(fact, dim, "k", salts = 8)
    val plain = fact.join(dim, Seq("k"))
    assert(salted.count() == plain.count())
    assert(
      salted.groupBy("k", "name").count().orderBy("k").collect().toSeq ==
        plain.groupBy("k", "name").count().orderBy("k").collect().toSeq)

    // the hot key actually scatters across the salt domain
    val spread = fact.withColumn("__salt",
      pmod(hash(col("k"), monotonically_increasing_id()), lit(8)))
      .filter(col("k") === 7L).select("__salt").distinct().count()
    assert(spread == 8, s"hot key used only $spread of 8 salts")
  }

  test("salted join rejects dim-side-preserving join types") {
    import spark.implicits._
    val fact = Seq((1L, "a")).toDF("k", "v")
    val dim = Seq((1L, "one")).toDF("k", "name")
    val e = intercept[IllegalArgumentException] {
      Layout.saltedJoin(fact, dim, "k", salts = 4, joinType = "full_outer")
    }
    assert(e.getMessage.contains("fact-side-preserving"))
    // "cross" passes no USING-join validation in Spark either — rejected
    // up front rather than throwing AnalysisException at runtime
    intercept[IllegalArgumentException] {
      Layout.saltedJoin(fact, dim, "k", salts = 4, joinType = "cross")
    }
  }

  test("z-order layout keeps a range predicate on EITHER column local to few files") {
    import spark.implicits._
    val grid = for {x <- 0 until 64; y <- 0 until 64} yield (x, y)
    val df = grid.toDF("x", "y")
    val zDir = java.nio.file.Files.createTempDirectory("graft-z").toString
    val xDir = java.nio.file.Files.createTempDirectory("graft-x").toString
    Layout.zorderWrite(df, zDir, "x", "y", numFiles = 16, bits = 6)
    // the 1-D alternative: sorted and split by x only
    df.repartitionByRange(16, col("x")).sortWithinPartitions("x")
      .write.mode("overwrite").parquet(xDir)
    def filesTouched(dir: String, pred: String): Long =
      spark.read.parquet(dir).filter(pred)
        .select(input_file_name()).distinct().count()
    // an x-predicate is local in both layouts...
    assert(filesTouched(zDir, "x < 8") <= 8)
    // ...but a y-predicate hits EVERY x-sorted file and only a minority
    // of z-ordered files — the skippability z-ordering buys
    val zTouched = filesTouched(zDir, "y < 8")
    val xTouched = filesTouched(xDir, "y < 8")
    assert(xTouched == 16, s"x-sorted layout should spread y everywhere, got $xTouched")
    assert(zTouched <= 8, s"z-ordered layout should localize y, got $zTouched")
  }

  test("statsSummary reports per-file stats and pruneableFiles measures skippability") {
    import spark.implicits._
    val grid = for {x <- 0 until 64; y <- 0 until 64} yield (x, y)
    val zDir = java.nio.file.Files.createTempDirectory("graft-zstats").toString
    Layout.zorderWrite(grid.toDF("x", "y"), zDir, "x", "y", numFiles = 16, bits = 6)

    val stats = Layout.statsSummary(spark.read.parquet(zDir), Seq("x", "y"))
    val rows = stats.collect()
    assert(rows.length == 16, s"one row per file, got ${rows.length}")
    assert(rows.map(_.getAs[Long]("n_rows")).sum == 64L * 64L)
    assert(rows.forall(_.getAs[Long]("nulls_x") == 0L))
    // stats must be consistent per file: min <= max, all within domain
    rows.foreach { r =>
      assert(r.getAs[Int]("min_x") <= r.getAs[Int]("max_x"))
      assert(r.getAs[Int]("min_y") >= 0 && r.getAs[Int]("max_y") < 64)
    }
    // a narrow range on either z-ordered dimension skips most files,
    // and never more than the true non-matching population
    for (c <- Seq("x", "y")) {
      val skippable = Layout.pruneableFiles(stats, c, lit(0), lit(7)).count()
      assert(skippable >= 8, s"z-order should let a narrow $c-range skip most files, got $skippable")
      val matching = spark.read.parquet(zDir).filter(col(c) <= 7)
        .select(input_file_name()).distinct().count()
      assert(skippable + matching <= 16)
    }

    // an all-null file is skippable by ANY range predicate, even though
    // its min/max stats are NULL (the three-valued range test alone
    // would say UNKNOWN and drop it from the pruneable set)
    val nullDir = java.nio.file.Files.createTempDirectory("graft-nullstats").toString
    Seq[(Integer, Int)]((null, 1), (null, 2)).toDF("x", "y")
      .coalesce(1).write.mode("overwrite").parquet(nullDir)
    val nullStats = Layout.statsSummary(spark.read.parquet(nullDir), Seq("x"))
    assert(Layout.pruneableFiles(nullStats, "x", lit(0), lit(100)).count() == 1)
  }

  test("zValue interleaves bits exactly") {
    import spark.implicits._
    // a=0b101 (bits at 0,2 -> z positions 0,4), b=0b11 (bits at 0,1 ->
    // z positions 1,3): z = 1 + 2 + 8 + 16 = 27
    val z = Seq((5, 3)).toDF("a", "b")
      .select(Layout.zValue(col("a"), col("b"), 8).as("z"))
      .head().getLong(0)
    assert(z == 27L)
    // out-of-range values refuse loudly: a silent low-bit interleave
    // collides values 2^bits apart (and collapses ALL negatives to
    // max-z) — a useless layout that looks like a working one
    def zOf(a: Int, b: Int): Long = Seq((a, b)).toDF("a", "b")
      .select(Layout.zValue(col("a"), col("b"), 8).as("z")).head().getLong(0)
    val big = intercept[Exception] { zOf(256, 0) }
    assert(big.getMessage != null && big.getMessage.contains("outside"), big.getMessage)
    val neg = intercept[Exception] { zOf(5, -1) }
    assert(neg.getMessage != null && neg.getMessage.contains("outside"), neg.getMessage)
  }

  test("salted left join keeps unmatched fact rows exactly once") {
    import spark.implicits._
    val fact = Seq((1L, "a"), (1L, "b"), (5L, "c")).toDF("k", "v")
    val dim = Seq((1L, "one")).toDF("k", "name")
    val out = Layout.saltedJoin(fact, dim, "k", salts = 4, joinType = "left")
      .orderBy("k", "v").collect()
    assert(out.length == 3)
    assert(out.map(r => (r.getAs[Long]("k"), r.getAs[String]("v"),
      r.getAs[String]("name"))).toSeq ==
      Seq((1L, "a", "one"), (1L, "b", "one"), (5L, "c", null)))
  }

  test("bloom-pruned join: byte-identical result, fact side pre-shrunk map-side") {
    import org.apache.spark.sql.functions._
    val fact = Tables.lineitem(spark, sf("sf0.001"))
      .select("l_orderkey", "l_partkey", "l_quantity")
    // sparse dim: 1% of orders
    val dim = Tables.orders(spark, sf("sf0.001"))
      .filter(col("o_orderkey") % 100 === 0)
      .select(col("o_orderkey").as("l_orderkey"), col("o_totalprice"))
    val plain = fact.join(dim, Seq("l_orderkey")).collect().toSet
    val pruned = Layout.bloomPrunedJoin(fact, dim, "l_orderkey",
      expectedItems = 1000, fpp = 0.01)
    assert(pruned.collect().toSet === plain)
    // the bloom prefilter alone must cut the fact side hard (≈1% + fpp)
    val bf = dim.stat.bloomFilter("l_orderkey", 1000, 0.01)
    val kept = fact.collect().count(r => bf.mightContainLong(r.getLong(0)))
    assert(kept < fact.count() / 10, s"bloom kept $kept rows")
    // the probe is a codegen'd expression, not a scalar UDF
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("bloom_might_contain"), plan)
    assert(!plan.contains("UDF"), s"scalar UDF on the probe path:\n$plan")
    // string keys go through the UTF-8 mightContainBinary path
    val sdim = dim.select(col("l_orderkey").cast("string").as("k"))
    val sfact = fact.select(col("l_orderkey").cast("string").as("k"),
      col("l_quantity"))
    assert(Layout.bloomPrunedJoin(sfact, sdim, "k", expectedItems = 1000)
      .collect().toSet ===
      sfact.join(sdim, Seq("k")).collect().toSet)
    // semi keeps fact rows with a dim match — prefilter-safe
    val semi = Layout.bloomPrunedJoin(fact, dim.select("l_orderkey"),
      "l_orderkey", expectedItems = 1000, joinType = "left_semi")
    assert(semi.collect().map(_.getLong(0)).toSet ===
      plain.map(_.getLong(0)))
    // outer/anti joins need the unmatched fact rows the prefilter drops:
    // the API must refuse, not silently return a wrong answer
    intercept[IllegalArgumentException](
      Layout.bloomPrunedJoin(fact, dim, "l_orderkey", joinType = "left"))
    intercept[IllegalArgumentException](
      Layout.bloomPrunedJoin(fact, dim, "l_orderkey", joinType = "left_anti"))
  }

  test("compaction: FFD plan respects the target, compact preserves rows and shrinks file count") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-compact-in").toString
    val out = java.nio.file.Files.createTempDirectory("graft-compact-out").toString
    // many small files + one big one
    (1 to 6).foreach { i =>
      spark.range(200).select((col("id") + i * 1000).as("v"))
        .coalesce(1).write.mode("append").parquet(dir)
    }
    spark.range(50000).select(col("id").as("v"))
      .coalesce(1).write.mode("append").parquet(dir)

    val sizes = new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith("part-")).map(_.length())
    val big = sizes.max
    val target = big + 1000 // big file fills its own bin; small ones pack

    val plan = Layout.compact(spark, dir, out, target)
    val bins = plan.select("bin").distinct().count()
    assert(bins < sizes.length, "plan must merge the small files")
    // per-bin byte sums respect the target (single-file bins may exceed)
    plan.groupBy("bin").agg(sum("bytes").as("b"), count(lit(1)).as("n"))
      .collect().foreach { r =>
        assert(r.getLong(1) <= target || r.getLong(2) == 1,
          s"bin over target: $r")
      }
    // content preserved exactly, output file count == bin count
    val before = spark.read.parquet(dir).groupBy("v").count()
    val after = spark.read.parquet(out).groupBy("v").count()
    assert(before.exceptAll(after).isEmpty && after.exceptAll(before).isEmpty)
    val outFiles = new java.io.File(out).listFiles()
      .filter(f => f.isFile && f.getName.startsWith("bin-"))
    assert(outFiles.length.toLong == bins, outFiles.map(_.getName).mkString(","))

    // retry-idempotency: re-running compact into the same outDir must
    // converge (the old append + UUID part names duplicated every
    // multi-file bin's rows on a retry)
    Layout.compact(spark, dir, out, target)
    val rerun = spark.read.parquet(out).groupBy("v").count()
    assert(before.exceptAll(rerun).isEmpty && rerun.exceptAll(before).isEmpty,
      "re-run must not duplicate rows")
    val rerunFiles = new java.io.File(out).listFiles()
      .filter(f => f.isFile && f.getName.startsWith("bin-"))
    assert(rerunFiles.length.toLong == bins)

    // a SHRUNKEN source renumbers the bins — a re-run must clear the
    // old plan's stale high-numbered bins, not leave their rows mixed
    // in next to the fresh output
    val dataFiles = new java.io.File(dir).listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith("."))
      .sortBy(_.getName)
    dataFiles.drop(2).foreach { f =>
      f.delete()
      new java.io.File(f.getParent, s".${f.getName}.crc").delete()
    }
    Layout.compact(spark, dir, out, target)
    val shrunk = spark.read.parquet(dir).groupBy("v").count()
    val shrunkOut = spark.read.parquet(out).groupBy("v").count()
    assert(shrunk.exceptAll(shrunkOut).isEmpty && shrunkOut.exceptAll(shrunk).isEmpty,
      "stale bins from the previous plan must not survive a re-run")
  }

  test("compactionPlan refuses a hive-partitioned root instead of planning nothing") {
    val root = java.nio.file.Files.createTempDirectory("graft-compact-hive").toString
    spark.range(10).withColumn("p", col("id") % 2)
      .write.partitionBy("p").mode("overwrite").parquet(root)
    val e = intercept[IllegalArgumentException] {
      Layout.compactionPlan(spark, root, 1024 * 1024)
    }
    assert(e.getMessage.contains("per-directory"), e.getMessage)
    // pointed at a partition directory it plans normally
    assert(Layout.compactionPlan(spark, s"$root/p=0", 1024 * 1024).count() > 0)
  }

  test("bloomPrunedJoin refuses a fact/dim key type mismatch instead of dropping matches") {
    import spark.implicits._
    val fact = Seq("123", "456").toDF("k")
    val dim = Seq(123L, 789L).toDF("k")
    val e = intercept[IllegalArgumentException] {
      Layout.bloomPrunedJoin(fact, dim, "k")
    }
    assert(e.getMessage.contains("type mismatch"))
  }

  test("distributedNtile matches the SQL NTILE remainder rule exactly") {
    import spark.implicits._
    // n=23, b=5: q=4, rem=3 → tiles of 5,5,5,4,4; scrambled input order
    // and a deliberately skewed key distribution
    val rows = scala.util.Random.shuffle(
      (1 to 23).map(i => (i.toLong, (i * i % 97).toLong * 1000 + i)))
    val df = rows.toDF("id", "v").repartition(7)
    val got = Layout.distributedNtile(df, 5, Seq(col("v"), col("id")), "tile")
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Long]("v"),
        r.getAs[Long]("tile")))
    // reference: sort by (v, id), apply the remainder rule on the rank
    val sorted = rows.sortBy(t => (t._2, t._1))
    val expect = sorted.zipWithIndex.map { case ((id, v), i) =>
      val rank = i + 1L
      val (q, rem) = (23L / 5, 23L % 5)
      val tile = if (rank <= (q + 1) * rem) (rank - 1) / (q + 1) + 1
                 else rem + (rank - 1 - rem * (q + 1)) / q + 1
      (id, v, tile)
    }.toSet
    assert(got.toSet == expect)
    // per-tile counts differ by at most 1 and first tiles get the extra
    val counts = got.groupBy(_._3).view.mapValues(_.length).toMap
    assert(counts == Map(1L -> 5, 2L -> 5, 3L -> 5, 4L -> 4, 5L -> 4), counts)
  }

  test("distributedNtile: fewer rows than buckets — one row per leading tile") {
    import spark.implicits._
    val df = Seq(30L, 10L, 20L).toDF("v")
    val got = Layout.distributedNtile(df, 10, Seq(col("v")), "tile")
      .collect().map(r => r.getAs[Long]("v") -> r.getAs[Long]("tile")).toMap
    assert(got == Map(10L -> 1L, 20L -> 2L, 30L -> 3L), got)
  }

  test("distributedNtile refuses duplicate or null sort keys") {
    import spark.implicits._
    val dup = Seq(1L -> "a", 1L -> "b", 2L -> "c").toDF("v", "x")
    val e = intercept[Exception] {
      Layout.distributedNtile(dup, 2, Seq(col("v")), "tile").collect()
    }
    assert(e.getMessage != null && e.getMessage.contains("unique"), e.getMessage)
    val withNull = Seq(Some(1L), None, Some(2L)).toDF("v")
    val e2 = intercept[Exception] {
      Layout.distributedNtile(withNull, 2, Seq(col("v")), "tile").collect()
    }
    assert(e2.getMessage != null && e2.getMessage.contains("unique"), e2.getMessage)
  }
}
