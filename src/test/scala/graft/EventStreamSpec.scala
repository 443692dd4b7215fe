package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.EventStream

class EventStreamSpec extends AnyFunSuite with SparkSpec {

  private def newDirs(): (String, String) = {
    val root = Files.createTempDirectory("graft-stream")
    val in = root.resolve("in"); Files.createDirectories(in)
    (in.toString, root.resolve("chk").toString)
  }

  private def drop(dir: String, name: String, lines: String*): Unit =
    Files.writeString(Paths.get(dir, name), lines.mkString("\n"))

  test("streaming curate: per-batch survivors equal the batch operator; replays are no-ops") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    def doc(id: Long, text: String) = s"""{"doc_id":$id,"text":"$text"}"""
    val a = (1 to 30).map(i => s"a$i").mkString(" ")
    val b = (1 to 30).map(i => s"b$i").mkString(" ")
    val b2 = (1 to 29).map(i => s"b$i").mkString(" ") + " zz"
    val (in, chk) = newDirs()
    val state = Files.createTempDirectory("graft-curstate").toString
    val out = Files.createTempDirectory("graft-curout").toString
    val src = spark.readStream.schema(docSchema).json(in)
    drop(in, "a.json", doc(1, a), doc(2, a), doc(3, "tiny"))
    EventStream.streamingCurate(src, state, out, chk).awaitTermination()
    val ids0 = spark.read.parquet(s"$out/batch=0")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids0 == Set(1L)) // exact dup and quality-fail dropped
    drop(in, "b.json", doc(10, a), doc(11, b), doc(12, b2))
    EventStream.streamingCurate(src, state, out, chk).awaitTermination()
    val ids1 = spark.read.parquet(s"$out/batch=1")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // equivalence with the batch operator over the same state evolution
    import spark.implicits._
    val (fps, idx) = graft.operators.CorpusPipeline.curateStateBuild(
      Seq((1L, a), (2L, a), (3L, "tiny")).toDF("doc_id", "text"),
      "doc_id", "text")
    val (surv, _, _) = graft.operators.CorpusPipeline.curateIncremental(
      fps, idx, Seq((10L, a), (11L, b), (12L, b2)).toDF("doc_id", "text"),
      "doc_id", "text")
    val expect = surv.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids1 == expect)
    assert(!ids1.contains(10L)) // stored fingerprint blocks re-ingest
    assert(ids1.contains(11L))
    // replay with no new input: committed-version guard leaves all as-is
    EventStream.streamingCurate(src, state, out, chk).awaitTermination()
    assert(spark.read.parquet(s"$out/batch=1")
      .select("doc_id").collect().map(_.getLong(0)).toSet == ids1)
    // version deltas are batch-proportional: v=1 holds only the two
    // fingerprints this batch contributed (md5(b), md5(b2)), never a
    // rewrite of the whole stored set
    assert(spark.read.parquet(s"$state/v=1/fp").count() == 2)
    assert(spark.read.parquet(s"$state/v=0/fp").count() == 1)
  }

  test("compactCurateState: versions merge to one, the stream continues, a crashed swap recovers") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    def doc(id: Long, text: String) = s"""{"doc_id":$id,"text":"$text"}"""
    def words(a: Int, b: Int, p: String) = (a to b).map(i => s"$p$i").mkString(" ")
    val (in, chk) = newDirs()
    val state = Files.createTempDirectory("graft-cmpstate").toString
    val out = Files.createTempDirectory("graft-cmpout").toString
    val src = spark.readStream.schema(docSchema).json(in)
    drop(in, "a.json", doc(1, words(1, 30, "a")))
    EventStream.streamingCurate(src, state, out, chk).awaitTermination()
    drop(in, "b.json", doc(10, words(1, 30, "b")))
    EventStream.streamingCurate(src, state, out, chk).awaitTermination()
    val before = spark.read.parquet(s"$state/v=*/fp").collect()
      .map(_.getString(0)).toSet
    EventStream.compactCurateState(spark, state)
    val dirs = new java.io.File(state).listFiles().filter(_.isDirectory)
    assert(dirs.map(_.getName).toSet == Set("v=1"), dirs.mkString(","))
    assert(spark.read.parquet(s"$state/v=1/fp").collect()
      .map(_.getString(0)).toSet == before)
    // the stream continues against the compacted state: a re-ingest of
    // batch-0 content is still recognized as a duplicate
    drop(in, "c.json", doc(20, words(1, 30, "a")), doc(21, words(1, 30, "c")))
    EventStream.streamingCurate(src, state, out, chk).awaitTermination()
    val ids2 = spark.read.parquet(s"$out/batch=2")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids2 == Set(21L))
    // crashed-swap recovery: simulate a crash AFTER staging completed
    // but BEFORE the swap — rerunning compaction must finish it
    val staged = new java.io.File(state, "__compact.v=2")
    val full = spark.read.parquet(s"$state/v=*/fp")
    full.write.mode("overwrite").parquet(s"$staged/fp")
    spark.read.parquet(s"$state/v=*/idx")
      .write.mode("overwrite").parquet(s"$staged/idx")
    EventStream.compactCurateState(spark, state)
    val dirs2 = new java.io.File(state).listFiles().filter(_.isDirectory)
    assert(dirs2.map(_.getName).toSet == Set("v=2"), dirs2.mkString(","))
    assert(spark.read.parquet(s"$state/v=2/fp").count() == 3) // a, b, c
  }

  test("compactCurateState: a stale staged snapshot is discarded, newer deltas survive") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    def doc(id: Long, text: String) = s"""{"doc_id":$id,"text":"$text"}"""
    def words(a: Int, b: Int, p: String) = (a to b).map(i => s"$p$i").mkString(" ")
    val (in, chk) = newDirs()
    val state = Files.createTempDirectory("graft-stalestate").toString
    val out = Files.createTempDirectory("graft-staleout").toString
    val src = spark.readStream.schema(docSchema).json(in)
    drop(in, "a.json", doc(1, words(1, 30, "a")))
    EventStream.streamingCurate(src, state, out, chk).awaitTermination()
    drop(in, "b.json", doc(10, words(1, 30, "b")))
    EventStream.streamingCurate(src, state, out, chk).awaitTermination()
    // simulate a compaction that staged v<=1 and crashed before its swap
    val staged = new java.io.File(state, "__compact.v=1")
    spark.read.parquet(s"$state/v=0/fp", s"$state/v=1/fp")
      .write.mode("overwrite").parquet(s"$staged/fp")
    spark.read.parquet(s"$state/v=0/idx", s"$state/v=1/idx")
      .write.mode("overwrite").parquet(s"$staged/idx")
    // a NEWER delta arrives before the next maintenance window
    drop(in, "c.json", doc(20, words(1, 30, "c")))
    EventStream.streamingCurate(src, state, out, chk).awaitTermination()
    // compaction must notice the staging is stale, discard it, and
    // rebuild including the batch-2 delta — finishing the stale swap
    // would have deleted v=2 and lost the c-fingerprint
    EventStream.compactCurateState(spark, state)
    val dirs = new java.io.File(state).listFiles().filter(_.isDirectory)
    assert(dirs.map(_.getName).toSet == Set("v=2"), dirs.mkString(","))
    assert(spark.read.parquet(s"$state/v=2/fp").count() == 3)
    // and the compacted state still blocks a re-ingest of c-content
    drop(in, "d.json", doc(30, words(1, 30, "c")), doc(31, words(1, 30, "d")))
    EventStream.streamingCurate(src, state, out, chk).awaitTermination()
    val ids3 = spark.read.parquet(s"$out/batch=3")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids3 == Set(31L))
  }

  test("streaming curate + compaction run against an explicit file: URI state path (Hadoop FS, not java.io)") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    def doc(id: Long, text: String) = s"""{"doc_id":$id,"text":"$text"}"""
    def words(a: Int, b: Int, p: String) = (a to b).map(i => s"$p$i").mkString(" ")
    val (in, chk) = newDirs()
    val stateDisk = Files.createTempDirectory("graft-uristate").toString
    val state = s"file:$stateDisk" // scheme-qualified: resolved via Path#getFileSystem
    val out = Files.createTempDirectory("graft-uriout").toString
    val src = spark.readStream.schema(docSchema).json(in)
    drop(in, "a.json", doc(1, words(1, 30, "a")))
    EventStream.streamingCurate(src, state, out, chk).awaitTermination()
    drop(in, "b.json", doc(10, words(1, 30, "a")), doc(11, words(1, 30, "b")))
    EventStream.streamingCurate(src, state, out, chk).awaitTermination()
    // the URI state blocked the re-ingest of batch-0 content
    assert(spark.read.parquet(s"$out/batch=1")
      .select("doc_id").collect().map(_.getLong(0)).toSet == Set(11L))
    EventStream.compactCurateState(spark, state)
    assert(new java.io.File(stateDisk).listFiles().filter(_.isDirectory)
      .map(_.getName).toSet == Set("v=1"))
    assert(spark.read.parquet(s"$state/v=1/fp").count() == 2)
    // and the stream continues against the compacted URI state
    drop(in, "c.json", doc(20, words(1, 30, "b")), doc(21, words(1, 30, "c")))
    EventStream.streamingCurate(src, state, out, chk).awaitTermination()
    assert(spark.read.parquet(s"$out/batch=2")
      .select("doc_id").collect().map(_.getLong(0)).toSet == Set(21L))
  }

  test("streaming curate: an uncommitted prior version delta is not unioned as state") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    def doc(id: Long, text: String) = s"""{"doc_id":$id,"text":"$text"}"""
    def words(a: Int, b: Int, p: String) = (a to b).map(i => s"$p$i").mkString(" ")
    val (in, chk) = newDirs()
    val state = Files.createTempDirectory("graft-uncommitted").toString
    val out = Files.createTempDirectory("graft-uncommitted-out").toString
    val src = spark.readStream.schema(docSchema).json(in)
    drop(in, "a.json", doc(1, words(1, 30, "a")))
    EventStream.streamingCurate(src, state, out, chk).awaitTermination()
    drop(in, "b.json", doc(10, words(1, 30, "b")))
    EventStream.streamingCurate(src, state, out, chk).awaitTermination()
    // tear v=0 (simulated partial restore: parquet present, _SUCCESS gone)
    assert(new java.io.File(s"$state/v=0/fp/_SUCCESS").delete())
    // batch 2: v=0 must be EXCLUDED from the state union — batch-0
    // content passes (its fingerprint is in the torn delta), batch-1
    // content is still blocked by the intact v=1
    drop(in, "c.json", doc(20, words(1, 30, "a")), doc(21, words(1, 30, "b")))
    EventStream.streamingCurate(src, state, out, chk).awaitTermination()
    assert(spark.read.parquet(s"$out/batch=2")
      .select("doc_id").collect().map(_.getLong(0)).toSet == Set(20L))
  }
}
