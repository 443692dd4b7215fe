package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.EventStream

class EventStreamSpec extends AnyFunSuite with SparkSpec {

  private def ev(id: Long, ts: String, user: Long, typ: String, v: Double): String =
    s"""{"event_id":$id,"ts":"$ts","user_id":$user,"event_type":"$typ","value":$v}"""

  private def newDirs(): (String, String) = {
    val root = Files.createTempDirectory("graft-stream")
    val in = root.resolve("in"); Files.createDirectories(in)
    (in.toString, root.resolve("chk").toString)
  }

  private def drop(dir: String, name: String, lines: String*): Unit =
    Files.writeString(Paths.get(dir, name), lines.mkString("\n"))

  test("file stream + checkpoint = exactly-once incremental file pickup") {
    val (in, chk) = newDirs()
    drop(in, "a.json",
      ev(1, "2024-01-01T00:10:00Z", 1, "click", 1.0),
      ev(2, "2024-01-01T00:20:00Z", 1, "view", 2.0))
    val counts = EventStream.windowedCounts(
      EventStream.jsonFileStream(spark, in, EventStream.eventSchema))
    val q1 = EventStream.runAvailableNow(counts, "wc", chk, outputMode = "complete")
    q1.awaitTermination()
    assert(spark.table("wc").count() == 2) // two (window, type) groups

    // second run: only the NEW file is processed (checkpoint file log),
    // but complete mode still re-emits full aggregate state
    drop(in, "b.json", ev(3, "2024-01-01T00:30:00Z", 2, "click", 3.0))
    val q2 = EventStream.runAvailableNow(counts, "wc", chk, outputMode = "complete")
    q2.awaitTermination()
    val rows = spark.table("wc").collect()
      .map(r => (r.getAs[String]("window_start"), r.getAs[String]("event_type"),
        r.getAs[Long]("n"), r.getAs[Double]("total_value")))
    assert(rows.toSet == Set(
      ("2024-01-01 00:00:00", "click", 2L, 4.0),
      ("2024-01-01 00:00:00", "view", 1L, 2.0)))
  }

  test("append mode emits a window only after the watermark passes it") {
    val (in, chk) = newDirs()
    val out = Files.createTempDirectory("graft-wm-out").toString
    drop(in, "a.json",
      ev(1, "2024-01-01T00:10:00Z", 1, "click", 1.0),
      ev(2, "2024-01-01T01:30:00Z", 1, "click", 1.0))
    val counts = EventStream.windowedCounts(
      EventStream.jsonFileStream(spark, in, EventStream.eventSchema),
      lateness = "10 minutes")
    val q1 = EventStream.runAvailableNowToParquet(counts, out, chk)
    q1.awaitTermination()
    // watermark after run 1 = 01:30 − 10m = 01:20 → hour-0 window closed
    drop(in, "b.json", ev(3, "2024-01-01T03:00:00Z", 1, "click", 1.0))
    val q2 = EventStream.runAvailableNowToParquet(counts, out, chk)
    q2.awaitTermination()
    val emitted = spark.read.parquet(out).collect()
      .map(r => r.getAs[String]("window_start")).toSet
    assert(emitted.contains("2024-01-01 00:00:00"))
    assert(!emitted.contains("2024-01-01 03:00:00")) // still open
  }

  test("session_window aggregate matches the stateful sessionizer's splits") {
    val (in, chk) = newDirs()
    drop(in, "a.json",
      ev(1, "2024-01-01T00:00:00Z", 7, "click", 1.0),
      ev(2, "2024-01-01T00:10:00Z", 7, "view", 2.5),
      ev(3, "2024-01-01T00:05:00Z", 8, "click", 1.0),
      ev(5, "2024-01-01T00:00:00Z", 10, "click", 4.0),
      ev(6, "2024-01-01T03:00:00Z", 10, "click", 8.0),
      // watermark driver so every session above can close
      ev(7, "2024-01-01T09:00:00Z", 9, "click", 0.5))
    val outDir = Files.createTempDirectory("graft-swin-out").toString
    val stats = EventStream.sessionWindowStats(
      spark.readStream.schema(EventStream.eventSchema).json(in), gap = "30 minutes")
    val q = EventStream.runAvailableNowToParquet(stats, outDir, chk)
    q.awaitTermination()
    val out = spark.read.parquet(outDir).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("session_start"),
        r.getAs[Long]("n_events"), r.getAs[Double]("total_value"))).toSet
    // same session splits as the flatMapGroupsWithState path: user 10's
    // 3h gap yields two sessions; user 9's driver event stays open (its
    // own watermark never passes it) — only closed sessions emit
    assert(out == Set(
      (7L, "2024-01-01 00:00:00", 2L, 3.5),
      (8L, "2024-01-01 00:05:00", 1L, 1.0),
      (10L, "2024-01-01 00:00:00", 1L, 4.0),
      (10L, "2024-01-01 03:00:00", 1L, 8.0)))
  }

  test("sessionize: event-time gap closes and evicts per-user sessions") {
    val (in, chk) = newDirs()
    drop(in, "a.json",
      ev(1, "2024-01-01T00:00:00Z", 7, "click", 1.0),
      ev(2, "2024-01-01T00:10:00Z", 7, "view", 2.5),
      ev(3, "2024-01-01T00:05:00Z", 8, "click", 1.0),
      // user 10: two events 3h apart IN THE SAME BATCH → the first
      // session must close inside the batch, not merge across the gap
      ev(5, "2024-01-01T00:00:00Z", 10, "click", 4.0),
      ev(6, "2024-01-01T03:00:00Z", 10, "click", 8.0))
    val outDir = Files.createTempDirectory("graft-sess-out").toString
    val sessions = EventStream.sessionize(
      spark.readStream.schema(EventStream.eventSchema).json(in),
      gapMs = 30 * 60 * 1000L)
    val q1 = EventStream.runAvailableNowToParquet(sessions.toDF(), outDir, chk)
    q1.awaitTermination()
    // user 10's first session closes mid-batch (gap split); users 7/8
    // close at the end of run 1 because user 10's 03:00 event advanced
    // the watermark past their 30-minute timeouts
    val run1 = spark.read.parquet(outDir).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Int]("n_events"),
        r.getAs[Double]("duration_sec"), r.getAs[Double]("total_value"))).toSet
    assert(run1 == Set((10L, 1, 0.0, 4.0), (7L, 2, 600.0, 3.5), (8L, 1, 0.0, 1.0)))

    // events far in the future push the watermark past every gap
    drop(in, "b.json", ev(4, "2024-01-01T09:00:00Z", 9, "click", 0.5))
    val q2 = EventStream.runAvailableNowToParquet(sessions.toDF(), outDir, chk)
    q2.awaitTermination()
    val out = spark.read.parquet(outDir).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Int]("n_events"),
        r.getAs[Double]("duration_sec"), r.getAs[Double]("total_value"))).toSet
    assert(out == Set(
      (10L, 1, 0.0, 4.0),   // emitted in run 1 (intra-batch split)
      (7L, 2, 600.0, 3.5), (8L, 1, 0.0, 1.0),
      (10L, 1, 0.0, 8.0)))  // user 10's second session, closed by watermark
  }

  test("maxFilesPerTrigger throttles a backlog into bounded micro-batches") {
    // the backpressure contract for a 100 TB raw-zone backfill: however
    // deep the file backlog, AvailableNow drains it in batches of at
    // most N files, so per-batch state/memory is bounded by N files —
    // not by the backlog
    val (in, chk) = newDirs()
    for (i <- 1 to 6)
      drop(in, s"f$i.json", ev(i.toLong, f"2024-01-01T00:$i%02d:00Z", 1, "click", 1.0))
    val src = EventStream.jsonFileStream(
      spark, in, EventStream.eventSchema, maxFilesPerTrigger = Some(2))
    val q = EventStream.runAvailableNow(src, "throttled", chk)
    q.awaitTermination()
    assert(spark.table("throttled").count() == 6) // the whole backlog lands...
    val batches = q.recentProgress.filter(_.numInputRows > 0)
    assert(batches.length == 3, s"expected 3 bounded batches, got ${batches.length}")
    assert(batches.forall(_.numInputRows == 2)) // ...two files (rows) at a time
  }

  test("incremental aggregate sink: streamed state equals the direct aggregate") {
    import org.apache.spark.sql.functions._
    val (in, chk) = newDirs()
    val state = Files.createTempDirectory("graft-incragg").toString
    drop(in, "a.json",
      ev(1, "2024-01-01T00:10:00Z", 1, "click", 1.5),
      ev(2, "2024-01-01T00:20:00Z", 2, "view", 2.0))
    val src = EventStream.jsonFileStream(spark, in, EventStream.eventSchema)
    EventStream.runIncrementalAgg(src, state, chk).awaitTermination()
    // second bounded run merges only the NEW file's delta into the state
    drop(in, "b.json",
      ev(3, "2024-01-01T00:30:00Z", 1, "click", 2.5),
      ev(4, "2024-01-01T00:40:00Z", 3, "purchase", 9.0))
    EventStream.runIncrementalAgg(src, state, chk).awaitTermination()
    val got = EventStream.latestAggState(spark, state)
      .select(col("event_type"), col("n").cast("long"),
        col("total").cast("double"))
      .orderBy("event_type").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == Seq(("click", 2L, 4.0), ("purchase", 1L, 9.0), ("view", 1L, 2.0)))
    // a run with no new files merges nothing and leaves the state intact
    EventStream.runIncrementalAgg(src, state, chk).awaitTermination()
    assert(EventStream.latestAggState(spark, state)
      .agg(sum(col("n").cast("long"))).head().getLong(0) == 4L)
  }

  test("streaming decontamination screens each shard against the bench set") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val base = (1 to 30).map(i => s"tok$i").mkString(" ")
    def doc(id: Long, text: String) = s"""{"doc_id":$id,"text":"$text"}"""
    val (in, chk) = newDirs()
    val out = Files.createTempDirectory("graft-decontam-out").toString
    import spark.implicits._
    val bench = Seq((1L, base + " extra")).toDF("doc_id", "text")
    // shard 1: one contaminated doc, one clean
    drop(in, "a.json", doc(10, base),
      doc(12, (100 to 140).map(i => s"w$i").mkString(" ")))
    val src = EventStream.jsonFileStream(spark, in, docSchema)
    EventStream.streamingDecontaminate(src, bench, out, chk).awaitTermination()
    // shard 2: another near-dup of the bench doc
    drop(in, "b.json", doc(20, base + " tail"))
    EventStream.streamingDecontaminate(src, bench, out, chk).awaitTermination()
    val rep = spark.read.parquet(out)
      .select(col("doc_id"), col("contaminated"), col("batch").cast("long"))
      .collect()
      .map(r => r.getLong(0) -> (r.getBoolean(1), r.getLong(2))).toMap
    assert(rep.keySet == Set(10L, 12L, 20L))
    assert(rep(10L) == ((true, 0L)) && rep(12L) == ((false, 0L)))
    assert(rep(20L)._1 && rep(20L)._2 == 1L)
    // a re-run with no new shards changes nothing (idempotent batches)
    EventStream.streamingDecontaminate(src, bench, out, chk).awaitTermination()
    assert(spark.read.parquet(out).count() == 3)
  }

  test("streaming mix-weights: state tracks shards, weights match the batch operator") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val docSchema = StructType(Seq(
      StructField("source", StringType), StructField("text", StringType)))
    def doc(src: String, text: String) = s"""{"source":"$src","text":"$text"}"""
    val (in, chk) = newDirs()
    val state = Files.createTempDirectory("graft-mixstate").toString
    drop(in, "a.json", doc("a", "t1 t2 t3"), doc("b", "t1 t2"))
    val src = EventStream.jsonFileStream(spark, in, docSchema)
    EventStream.streamingSourceTokenCounts(src, state, chk).awaitTermination()
    // second shard lands only source a's delta
    drop(in, "b.json", doc("a", "x y z"))
    EventStream.streamingSourceTokenCounts(src, state, chk).awaitTermination()
    val counts = EventStream.latestAggState(spark, state)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map("a" -> 6L, "b" -> 2L))
    // weights off the state ≡ the batch operator over the full corpus
    val streamed = EventStream.mixWeightsFromState(spark, state, alpha = 0.0)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(3), r.getDouble(4)))
    import spark.implicits._
    val direct = graft.operators.QualityModels.temperatureMix(
      Seq(("a", "t1 t2 t3"), ("b", "t1 t2"), ("a", "x y z"))
        .toDF("source", "text"), "source", "text", alpha = 0.0)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(3), r.getDouble(4)))
    assert(streamed.toSeq == direct.toSeq)
    assert(streamed.toSeq == Seq(("a", 6L, 0.5, 0.6667), ("b", 2L, 0.5, 2.0)))
    // a run with no new shards leaves the state intact
    EventStream.streamingSourceTokenCounts(src, state, chk).awaitTermination()
    assert(EventStream.latestAggState(spark, state)
      .agg(sum(col("tokens"))).head().getLong(0) == 8L)
    // version retention: merged-state sinks keep only the current
    // version + the replay-guard predecessor — a long-running stream
    // must not accumulate version dirs (listing cost ∝ stream age)
    val vdirs = new java.io.File(state).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("v=")).map(_.getName)
    assert(vdirs.length <= 2, vdirs.toSeq)
  }

  test("streaming dedup drops cross-batch re-deliveries within the watermark") {
    val (in, chk) = newDirs()
    val out = Files.createTempDirectory("graft-dedup-out").toString
    drop(in, "a.json",
      ev(1, "2024-01-01T00:10:00Z", 1, "click", 1.0),
      ev(2, "2024-01-01T00:20:00Z", 1, "view", 2.0))
    val deduped = EventStream.dedupedStream(
      EventStream.jsonFileStream(spark, in, EventStream.eventSchema))
    EventStream.runAvailableNowToParquet(deduped, out, chk).awaitTermination()
    // second batch re-delivers event 2 and adds event 3
    drop(in, "b.json",
      ev(2, "2024-01-01T00:20:00Z", 1, "view", 2.0),
      ev(3, "2024-01-01T00:25:00Z", 2, "click", 3.0))
    EventStream.runAvailableNowToParquet(deduped, out, chk).awaitTermination()
    val ids = spark.read.parquet(out).collect().map(_.getAs[Long]("event_id")).sorted
    assert(ids.toSeq == Seq(1L, 2L, 3L))
  }

  test("key-only streaming dedup collapses re-deliveries with re-stamped event times") {
    val (in, chk) = newDirs()
    val out = Files.createTempDirectory("graft-dedup2-out").toString
    drop(in, "a.json",
      ev(1, "2024-01-01T00:10:00Z", 1, "click", 1.0),
      // same event_id re-delivered with a DIFFERENT ts in the same batch:
      // (id, ts)-dedup would keep both; key-only dedup must not
      ev(1, "2024-01-01T00:12:00Z", 1, "click", 1.0),
      ev(2, "2024-01-01T00:20:00Z", 1, "view", 2.0))
    val deduped = EventStream.dedupedByKeyWithinWatermark(
      EventStream.jsonFileStream(spark, in, EventStream.eventSchema))
    EventStream.runAvailableNowToParquet(deduped, out, chk).awaitTermination()
    // next batch: another re-stamped re-delivery of 1, plus a new event
    drop(in, "b.json",
      ev(1, "2024-01-01T00:14:00Z", 1, "click", 1.0),
      ev(3, "2024-01-01T00:25:00Z", 2, "click", 3.0))
    EventStream.runAvailableNowToParquet(deduped, out, chk).awaitTermination()
    val ids = spark.read.parquet(out).collect().map(_.getAs[Long]("event_id")).sorted
    assert(ids.toSeq == Seq(1L, 2L, 3L))
  }

  test("stream-static enrichment broadcasts the dim; the stream side keeps flowing") {
    import spark.implicits._
    val (in, chk) = newDirs()
    val out = Files.createTempDirectory("graft-enrich-out").toString
    drop(in, "a.json",
      ev(1, "2024-01-01T00:10:00Z", 10, "click", 1.0),
      ev(2, "2024-01-01T00:20:00Z", 11, "view", 2.0),
      ev(3, "2024-01-01T00:30:00Z", 99, "view", 3.0)) // no dim row → null
    val dim = Seq((10L, "gold"), (11L, "silver")).toDF("user_id", "tier")
    val enriched = EventStream.enrichStream(
      EventStream.jsonFileStream(spark, in, EventStream.eventSchema), dim, "user_id")
    EventStream.runAvailableNowToParquet(enriched, out, chk).awaitTermination()
    val got = spark.read.parquet(out).collect()
      .map(r => (r.getAs[Long]("event_id"), r.getAs[String]("tier"))).sortBy(_._1)
    assert(got.toSeq == Seq((1L, "gold"), (2L, "silver"), (3L, null)))
  }

  test("stream-stream interval join pairs purchases with the user's recent clicks") {
    val (in, chk) = newDirs()
    val out = Files.createTempDirectory("graft-ssjoin-out").toString
    drop(in, "a.json",
      ev(1, "2024-01-01T09:50:00Z", 1, "click", 1.0),    // 10 min before → match
      ev(2, "2024-01-01T09:40:00Z", 1, "click", 1.0),    // 20 min before → outside
      ev(3, "2024-01-01T09:55:00Z", 2, "click", 1.0),    // other user
      ev(4, "2024-01-01T10:00:00Z", 1, "purchase", 9.0),
      ev(5, "2024-01-01T10:00:00Z", 3, "purchase", 5.0)) // no clicks → no row
    val joined = EventStream.purchaseClickJoin(
      EventStream.jsonFileStream(spark, in, EventStream.eventSchema))
    EventStream.runAvailableNowToParquet(joined, out, chk).awaitTermination()
    val got = spark.read.parquet(out).collect()
      .map(r => (r.getAs[Long]("purchase_id"), r.getAs[Long]("click_id")))
    assert(got.toSeq.sorted == Seq((4L, 1L)))
  }

  test("left-outer interval join: null click rows flush when the click watermark passes") {
    val (in, chk) = newDirs()
    val out = Files.createTempDirectory("graft-ssleft-out").toString
    drop(in, "a.json",
      ev(1, "2024-01-01T09:50:00Z", 1, "click", 1.0),    // match for purchase 4
      ev(4, "2024-01-01T10:00:00Z", 1, "purchase", 9.0),
      ev(5, "2024-01-01T10:00:00Z", 3, "purchase", 5.0)) // no clicks → null row
    val joined = EventStream.purchaseClickLeftJoin(
      EventStream.jsonFileStream(spark, in, EventStream.eventSchema),
      lateness = "10 minutes")
    EventStream.runAvailableNowToParquet(joined, out, chk).awaitTermination()
    // run 1: the matched row emits; the unmatched purchase is still held
    // back — a click before 10:00 could yet arrive under the watermark
    val run1 = spark.read.parquet(out).collect()
      .map(r => (r.getAs[Long]("purchase_id"), r.getAs[Any]("click_id")))
    assert(run1.toSeq == Seq((4L, 1L)), run1.toSeq)
    // later events must advance BOTH sides' watermarks (the query
    // watermark is their MIN) past 10:00, proving no match can arrive
    // for purchase 5 → its null row can emit
    drop(in, "b.json",
      ev(8, "2024-01-02T00:00:00Z", 7, "purchase", 1.0),
      ev(9, "2024-01-02T00:00:00Z", 8, "click", 1.0))
    EventStream.runAvailableNowToParquet(joined, out, chk).awaitTermination()
    // the watermark advance commits at the END of that batch; the null
    // row emits in the next batch that runs with it — drive one more
    drop(in, "c.json",
      ev(10, "2024-01-02T02:00:00Z", 7, "purchase", 1.0),
      ev(11, "2024-01-02T02:00:00Z", 8, "click", 1.0))
    EventStream.runAvailableNowToParquet(joined, out, chk).awaitTermination()
    val run2 = spark.read.parquet(out).collect()
      .map(r => (r.getAs[Long]("purchase_id"), Option(r.getAs[Any]("click_id"))))
      .filter(_._1 <= 5).sortBy(_._1)
    assert(run2.toSeq == Seq((4L, Some(1L)), (5L, None)), run2.toSeq)
  }

  test("foreachBatch idempotent sink: a replayed batch overwrites, never duplicates") {
    val (in, chk) = newDirs()
    val out = Files.createTempDirectory("graft-fb-out").toString
    drop(in, "a.json",
      ev(1, "2024-01-01T00:10:00Z", 1, "click", 1.0),
      ev(2, "2024-01-01T00:20:00Z", 1, "view", 2.0))
    val stream = EventStream.jsonFileStream(spark, in, EventStream.eventSchema)
    EventStream.runForeachBatchIdempotent(stream, out, chk).awaitTermination()
    drop(in, "b.json", ev(3, "2024-01-01T00:25:00Z", 2, "click", 3.0))
    EventStream.runForeachBatchIdempotent(stream, out, chk).awaitTermination()
    assert(spark.read.parquet(out).count() == 3)
    // simulate the failure mode: batch 1 replays (sink write ran, the
    // checkpoint commit didn't) — the overwrite-by-batchId sink must
    // converge to the same state instead of appending a second copy
    val b1 = spark.read.parquet(s"$out/batch=1")
    val replay = spark.createDataFrame(
      new java.util.ArrayList(java.util.Arrays.asList(b1.collect(): _*)), b1.schema)
    replay.write.mode("overwrite").parquet(s"$out/batch=1")
    val rows = spark.read.parquet(out)
    assert(rows.count() == 3)
    assert(rows.select("event_id").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 2L, 3L))
  }

  test("streaming IVF arrival: staged batches absorb into the index exactly once, replays converge") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val emb = Tables.embeddings(spark, sf("sf0.001"))
    val anchors = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("anchor_id"), col("embedding").as("av"))
    val db = "graft_ivf_stream"
    val loc = Files.createTempDirectory("graft-ivf-streamdb")
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db LOCATION '$loc'")
    spark.sql(s"DROP TABLE IF EXISTS $db.served")
    val stage = Files.createTempDirectory("graft-ivf-stage").toString
    val chk = Files.createTempDirectory("graft-ivf-chk").toString

    // served index starts from the lower half of the corpus
    val mx = emb.agg(max("vec_id")).head().getLong(0)
    val cut = (mx + 1) / 2
    graft.operators.Similarity.ivfBuildIndex(
      emb.filter(col("vec_id") < cut), anchors, "vec_id",
      s"$db.served", numBuckets = 8)

    // the upper half arrives as two micro-batches on a stream
    val rows = emb.filter(col("vec_id") >= cut)
      .select("vec_id", "embedding", "label").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1), r.getInt(2))).toSeq
    val (b1, b2) = rows.splitAt(rows.length / 2)
    val ms = MemoryStream[(Long, Seq[Float], Int)]
    def stream = ms.toDF().toDF("vec_id", "embedding", "label")
    ms.addData(b1)
    EventStream.streamingIvfStage(stream, s"$db.served", "vec_id", stage, chk)
      .awaitTermination()
    ms.addData(b2)
    EventStream.streamingIvfStage(stream, s"$db.served", "vec_id", stage, chk)
      .awaitTermination()

    // absorb folds both staged batches in; a second absorb is a no-op
    // (a replayed BATCH is the staged-absorb contract spec's case)
    val (nb, nr) = graft.operators.Similarity.ivfIndexAbsorb(
      spark, stage, s"$db.served", "vec_id")
    assert(nb == 2 && nr == rows.length.toLong, (nb, nr))
    assert(graft.operators.Similarity.ivfIndexAbsorb(
      spark, stage, s"$db.served", "vec_id") == (0L, 0L))
    assert(spark.table(s"$db.served").count() == emb.count())

    // the absorbed index serves exactly like a one-shot full build
    val qv = emb.filter(col("vec_id") === 0)
      .head().getAs[Seq[Float]]("embedding").toArray
    spark.sql(s"DROP TABLE IF EXISTS $db.rebuilt")
    graft.operators.Similarity.ivfBuildIndex(emb, anchors, "vec_id",
      s"$db.rebuilt", numBuckets = 8)
    def hits(t: String) = graft.operators.Similarity.ivfSearchStored(
        spark, t, "vec_id", qv, nprobe = 2, k = 10, excludeId = Some(0L))
      .select("vec_id", "sim").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(hits(s"$db.served") == hits(s"$db.rebuilt"))
  }

  test("streaming IVF-PQ arrival: staged codes absorb exactly once; a mid-stage retrain refuses the stale stage") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val emb = Tables.embeddings(spark, sf("sf0.001"))
    val anchors = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("anchor_id"), col("embedding").as("av"))
    val model = graft.operators.Similarity.pqCodebooksSampled(anchors, m = 4)
    val db = "graft_ivfpq_stream"
    val loc = Files.createTempDirectory("graft-ivfpq-streamdb")
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db LOCATION '$loc'")
    Seq("codes", "codes__anchors", "codes__pq", "v2", "v2__anchors", "v2__pq")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $db.$t"))
    val stage = Files.createTempDirectory("graft-ivfpq-stage").toString
    val chk = Files.createTempDirectory("graft-ivfpq-chk").toString

    val mx = emb.agg(max("vec_id")).head().getLong(0)
    val cut = (mx + 1) / 2
    graft.operators.Similarity.ivfPqBuildIndex(
      emb.filter(col("vec_id") < cut), anchors, "vec_id", model,
      s"$db.codes", numBuckets = 8)

    // the upper half arrives on a stream; the stage encodes under the
    // store's OWN artifact pair (no caller-passed model to drift)
    val rows = emb.filter(col("vec_id") >= cut)
      .select("vec_id", "embedding", "label").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1), r.getInt(2))).toSeq
    val ms = MemoryStream[(Long, Seq[Float], Int)]
    def stream = ms.toDF().toDF("vec_id", "embedding", "label")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    ms.addData(rows)
    EventStream.streamingIvfStage(stream, s"$db.codes", "vec_id",
      stage, chk).awaitTermination()
    val (nb, nr) = graft.operators.Similarity.ivfIndexAbsorb(
      spark, stage, s"$db.codes", "vec_id")
    assert(nb == 1L && nr == rows.length.toLong, (nb, nr))
    // absorbed store == the synchronous-append store, row for row
    spark.sql(s"DROP TABLE IF EXISTS $db.direct")
    graft.operators.Similarity.ivfPqBuildIndex(emb, anchors, "vec_id",
      model, s"$db.direct", numBuckets = 8)
    def codesOf(t: String) = spark.table(t)
      .select("vec_id", "cell", "codes").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2))).toSet
    assert(codesOf(s"$db.codes") == codesOf(s"$db.direct"))

    // a stage cut BEFORE a retrain refuses after it: the marker's
    // fingerprints no longer match the store's stamps
    ms.addData(rows.take(3).map { case (i, v, l) => (i + 100000L, v, l) })
    EventStream.streamingIvfStage(stream, s"$db.codes", "vec_id",
      stage, chk).awaitTermination()
    graft.operators.Similarity.ivfPqRetrain(spark, s"$db.codes",
      s"$db.v2", emb, "vec_id", iters = 1, numBuckets = 8)
    // (retrain writes v2; simulate the operational mistake of absorbing
    // the old stage into the RETRAINED serving version)
    val e = intercept[IllegalArgumentException] {
      graft.operators.Similarity.ivfIndexAbsorb(
        spark, stage, s"$db.v2", "vec_id")
    }
    assert(e.getMessage.contains("retrained/rebuilt while the stage"),
      e.getMessage)
  }

  test("streaming LSH arrival: staged batches absorb into the durable store, ledger equals recompute") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = Tables.documents(spark, sf("sf0.001"))
    val db = "graft_lsh_stream"
    val loc = Files.createTempDirectory("graft-lsh-streamdb")
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db LOCATION '$loc'")
    Seq("idx", "idx__pairs", "idx__bands")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $db.$t"))
    val stage = Files.createTempDirectory("graft-lsh-stage").toString
    val chk = Files.createTempDirectory("graft-lsh-chk").toString

    // served store starts from two thirds of the corpus
    graft.operators.Dedup.lshBuildIndex(
      docs.filter(col("doc_id") % 3 =!= 0), "doc_id", "text", s"$db.idx")

    // the rest arrives as two micro-batches on a stream
    val rows = docs.filter(col("doc_id") % 3 === 0)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val (b1, b2) = rows.splitAt(rows.length / 2)
    val ms = MemoryStream[(Long, String)]
    def stream = ms.toDF().toDF("doc_id", "text")
    ms.addData(b1)
    EventStream.streamingLshStage(stream, s"$db.idx", "doc_id", "text",
      stage, chk).awaitTermination()
    ms.addData(b2)
    EventStream.streamingLshStage(stream, s"$db.idx", "doc_id", "text",
      stage, chk).awaitTermination()

    val (nb, nr, np) = graft.operators.Dedup.lshIndexAbsorb(
      spark, stage, s"$db.idx", "doc_id")
    assert(nb == 2 && nr == rows.length.toLong, (nb, nr, np))
    // absorbed state ≡ synchronous appends ≡ full recompute: the main
    // table holds every doc, the LEDGER equals minHashLshPairs over all
    def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select(col("id_a").cast("long"), col("id_b").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(spark.table(s"$db.idx").count() == docs.count())
    val full = pairSet(graft.operators.Dedup.minHashLshPairs(
      docs, "doc_id", "text"))
    val ledger = pairSet(spark.table(s"$db.idx__pairs"))
    assert(ledger == full, s"ledger != recompute: ${ledger.size} vs ${full.size}")

    // a replayed absorb over the emptied stage is a no-op
    assert(graft.operators.Dedup.lshIndexAbsorb(
      spark, stage, s"$db.idx", "doc_id") == (0L, 0L, 0L))
  }

  /** One row of the staged-absorb contract: a durable-index family's
    * corpus, how to build its store (and rebuild it in place under
    * other parameters), its streaming stage, and its absorb as
    * (batches absorbed, rows appended). */
  private case class AbsorbFamily(name: String, id: String,
      corpus: () => org.apache.spark.sql.DataFrame,
      build: (org.apache.spark.sql.DataFrame, String) => Unit,
      rebuild: (org.apache.spark.sql.DataFrame, String) => Unit,
      stage: (org.apache.spark.sql.DataFrame, String, String, String) =>
        org.apache.spark.sql.streaming.StreamingQuery,
      absorb: (String, String) => (Long, Long))

  private val absorbFamilies = {
    import org.apache.spark.sql.functions.col
    import graft.operators.{Dedup, Similarity}
    def emb = Tables.embeddings(spark, sf("sf0.001"))
      .select("vec_id", "embedding", "label")
    def grid(lo: Int) = emb.filter(col("vec_id") >= lo && col("vec_id") < lo + 8)
      .select(col("vec_id").as("anchor_id"), col("embedding").as("av"))
    val ivfStage = (s: org.apache.spark.sql.DataFrame, t: String,
        dir: String, chk: String) =>
      EventStream.streamingIvfStage(s, t, "vec_id", dir, chk)
    val ivfAbsorb = (dir: String, t: String) =>
      Similarity.ivfIndexAbsorb(spark, dir, t, "vec_id")
    Seq(
      AbsorbFamily("LSH", "doc_id",
        () => Tables.documents(spark, sf("sf0.001")).select("doc_id", "text"),
        (rows, t) => Dedup.lshBuildIndex(rows, "doc_id", "text", t),
        (rows, t) => Dedup.lshBuildIndex(rows, "doc_id", "text", t, k = 8),
        (s, t, dir, chk) =>
          EventStream.streamingLshStage(s, t, "doc_id", "text", dir, chk),
        (dir, t) => {
          val (b, r, _) = Dedup.lshIndexAbsorb(spark, dir, t, "doc_id")
          (b, r)
        }),
      // the in-place rebuild under another grid is the drift a plain IVF
      // stage once absorbed unchecked, landing rows in unprobed cells
      AbsorbFamily("IVF", "vec_id", () => emb,
        (rows, t) => Similarity.ivfBuildIndex(rows, grid(0), "vec_id", t,
          numBuckets = 8),
        (rows, t) => Similarity.ivfBuildIndex(rows, grid(8), "vec_id", t,
          numBuckets = 8),
        ivfStage, ivfAbsorb),
      AbsorbFamily("IVF-PQ", "vec_id", () => emb,
        (rows, t) => Similarity.ivfPqBuildIndex(rows, grid(0), "vec_id",
          Similarity.pqCodebooksSampled(grid(0), m = 4), t, numBuckets = 8),
        (rows, t) => Similarity.ivfPqBuildIndex(rows, grid(0), "vec_id",
          Similarity.pqCodebooksSampled(grid(8), m = 4), t, numBuckets = 8),
        ivfStage, ivfAbsorb))
  }

  for (f <- absorbFamilies)
    test(s"staged absorb (${f.name}): torn skipped, replay adds nothing, drift refuses") {
      import org.apache.spark.sql.functions.col
      val db = "graft_absorb_" + f.name.toLowerCase.replace("-", "")
      val loc = Files.createTempDirectory(s"$db-db")
      spark.sql(s"CREATE DATABASE IF NOT EXISTS $db LOCATION '$loc'")
      val t = s"$db.idx"
      Seq("", "__pairs", "__bands", "__anchors", "__pq")
        .foreach(x => spark.sql(s"DROP TABLE IF EXISTS $t$x"))
      val corpus = f.corpus()
      val batch = corpus.filter(col(f.id) % 3 === 0)
      f.build(corpus.filter(col(f.id) % 3 =!= 0), t)
      val n = batch.count()
      val stage = Files.createTempDirectory(s"$db-stage").toString
      // each call is a fresh stream over the same rows: batch 0 again
      def stageBatch(): Unit = {
        val src = Files.createTempDirectory(s"$db-src").toString
        batch.write.mode("overwrite").parquet(src)
        f.stage(spark.readStream.schema(batch.schema).parquet(src), t, stage,
          Files.createTempDirectory(s"$db-chk").toString).awaitTermination()
      }
      stageBatch()
      val dir = Paths.get(stage, "batch=0")
      // through the Hadoop filesystem, which keeps the marker's checksum
      // sidecar in step with its content
      val marker = new org.apache.hadoop.fs.Path(dir.toString,
        graft.operators.StagedBatches.MarkerFile)
      val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
      def writeMarker(text: String): Unit = {
        val os = fs.create(marker, true)
        try os.write(text.getBytes("UTF-8")) finally os.close()
      }
      val stamps = Files.readString(
        dir.resolve(graft.operators.StagedBatches.MarkerFile))

      // a missing marker: the crash window between the data commit and
      // the marker write — skipped, and the dir survives for the replay
      fs.delete(marker, false)
      assert(f.absorb(stage, t) == (0L, 0L))
      assert(Files.exists(dir))
      // a half-written marker (every key present, cut before its end) is
      // the same torn stage, never read as drift
      writeMarker(stamps.dropRight(2))
      assert(f.absorb(stage, t) == (0L, 0L))
      assert(Files.exists(dir))
      // the replay completes the marker: the batch folds in
      writeMarker(stamps)
      assert(f.absorb(stage, t) == (1L, n))
      assert(!Files.exists(dir))
      assert(spark.table(t).count() == corpus.count())

      // a replayed batch (crash after the append, before the cleanup)
      // is absorbed and appends zero rows
      stageBatch()
      assert(f.absorb(stage, t) == (1L, 0L))
      assert(spark.table(t).count() == corpus.count())

      // a stage cut before the store is rebuilt in place under other
      // parameters refuses
      stageBatch()
      f.rebuild(corpus, t)
      val e = intercept[IllegalArgumentException](f.absorb(stage, t))
      assert(e.getMessage.contains(
        "retrained/rebuilt while the stage was outstanding"), e.getMessage)
    }

  test("streaming LSH near-dup filter: later near-copies hit the earlier owner's buckets") {
    val (in, chk) = newDirs()
    val out = Files.createTempDirectory("graft-lsh-out").toString
    def doc(id: Long, ts: String, text: String): String =
      s"""{"doc_id":$id,"text":"$text","ts":"$ts"}"""
    val textA = (1 to 12).map(i => s"w$i").mkString(" ")
    val textB = (1 to 12).map(i => s"x$i").mkString(" ")
    drop(in, "a.json",
      doc(1, "2024-01-01T00:00:00Z", textA),
      doc(2, "2024-01-01T00:01:00Z", textB))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType)))
    val hits = EventStream.lshNearDupHits(
      spark.readStream.schema(schema).json(in))
    EventStream.runAvailableNowToParquet(hits.toDF(), out, chk).awaitTermination()
    // doc 3 is a byte-copy of doc 1 → every band bucket already owned by 1
    drop(in, "b.json",
      doc(3, "2024-01-01T00:05:00Z", textA),
      doc(4, "2024-01-01T00:06:00Z", (1 to 12).map(i => s"y$i").mkString(" ")))
    EventStream.runAvailableNowToParquet(hits.toDF(), out, chk).awaitTermination()

    val rows = spark.read.parquet(out).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("owner")))
    val byDoc = rows.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(byDoc(1L) == Set(1L)) // first doc owns its buckets
    assert(byDoc(2L) == Set(2L))
    assert(byDoc(3L) == Set(1L), s"near-copy should hit doc 1's buckets: $byDoc")
    assert(byDoc(4L) == Set(4L))
    assert(rows.count(_._1 == 3L) == 4) // one hit per band
  }

  test("lshNearDupHits: a late SMALLER doc_id still reports the collision with the earlier owner") {
    val (in, chk) = newDirs()
    val out = Files.createTempDirectory("graft-lsh-late").toString
    def doc(id: Long, ts: String, text: String): String =
      s"""{"doc_id":$id,"text":"$text","ts":"$ts"}"""
    val textA = (1 to 12).map(i => s"w$i").mkString(" ")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType)))
    val hits = EventStream.lshNearDupHits(
      spark.readStream.schema(schema).json(in))
    // batch 1: doc 7 owns the buckets
    drop(in, "a.json", doc(7, "2024-01-01T00:00:00Z", textA))
    EventStream.runAvailableNowToParquet(hits.toDF(), out, chk).awaitTermination()
    // batch 2: doc 5 (smaller id) is a byte-copy — it must REPORT the
    // collision with 7, not silently take ownership
    drop(in, "b.json", doc(5, "2024-01-01T00:10:00Z", textA))
    EventStream.runAvailableNowToParquet(hits.toDF(), out, chk).awaitTermination()
    val rows = spark.read.parquet(out).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("owner")))
    assert(rows.filter(_._1 == 5L).map(_._2).toSet == Set(7L),
      s"late smaller id must hit the prior owner: ${rows.toSeq}")
    // bad banding parameters fail loudly, like the batch twin
    assertThrows[IllegalArgumentException] {
      EventStream.lshNearDupHits(
        spark.readStream.schema(schema).json(in), k = 16, bands = 5)
    }
  }

  test("sessionize: a late-but-within-watermark event EARLIER than the open session extends it backward") {
    val (in, chk) = newDirs()
    val outDir = Files.createTempDirectory("graft-sess-late").toString
    val sessions = EventStream.sessionize(
      spark.readStream.schema(EventStream.eventSchema).json(in),
      gapMs = 30 * 60 * 1000L, lateness = "2 hours")
    // batch 1: user 7 at 10:00 (open session [10:00, 10:00])
    drop(in, "a.json", ev(1, "2024-01-01T10:00:00Z", 7, "click", 1.0))
    EventStream.runAvailableNowToParquet(sessions.toDF(), outDir, chk)
      .awaitTermination()
    // batch 2: a LATE event at 09:45 (within lateness) — must move the
    // session start back, then a far-future event closes everything
    drop(in, "b.json",
      ev(2, "2024-01-01T09:45:00Z", 7, "view", 2.0),
      ev(3, "2024-01-02T00:00:00Z", 9, "click", 0.5))
    EventStream.runAvailableNowToParquet(sessions.toDF(), outDir, chk)
      .awaitTermination()
    drop(in, "c.json", ev(4, "2024-01-03T00:00:00Z", 11, "click", 0.5))
    EventStream.runAvailableNowToParquet(sessions.toDF(), outDir, chk)
      .awaitTermination()
    val got = spark.read.parquet(outDir).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Int]("n_events"),
        r.getAs[Double]("duration_sec")))
      .filter(_._1 == 7L).toSet
    // one session, 2 events, 900 s — NOT duration 0 with a wrong start
    assert(got == Set((7L, 2, 900.0)), s"got $got")
  }

  test("streaming near-dup maintenance: cross-batch pairs equal a full recompute") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val (in, chk) = newDirs()
    val idx = Files.createTempDirectory("graft-snd-idx").toString
    val pairsDir = Files.createTempDirectory("graft-snd-pairs").toString
    def doc(id: Long, text: String) = s"""{"doc_id":$id,"text":"$text"}"""
    val tA = (1 to 12).map(i => s"w$i").mkString(" ")
    val tB = tA.replace("w12", "z12") // jaccard 0.8 vs tA
    val tC = (1 to 12).map(i => s"q$i").mkString(" ")
    val tD = (1 to 12).map(i => s"r$i").mkString(" ")
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val stream = spark.readStream.schema(schema).json(in)

    // batch 0: no pairs yet; batch 1: the cross-batch pair (1,2) must
    // come out of the incremental run against the STORED index
    drop(in, "a.json", doc(1, tA), doc(5, tC))
    EventStream.streamingNearDupPairs(stream, idx, pairsDir, chk)
      .awaitTermination()
    drop(in, "b.json", doc(2, tB), doc(6, tD))
    EventStream.streamingNearDupPairs(stream, idx, pairsDir, chk)
      .awaitTermination()

    val got = spark.read.parquet(pairsDir)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    import spark.implicits._
    val all = Seq((1L, tA), (5L, tC), (2L, tB), (6L, tD)).toDF("doc_id", "text")
    val full = graft.operators.Dedup.minHashLshPairs(all, "doc_id", "text")
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == full, s"streamed $got vs full $full")
    assert(got.contains((1L, 2L)))
    // the persistent index holds every ingested doc exactly once
    val idxIds = spark.read.parquet(idx).select("doc_id").collect()
      .map(_.getLong(0)).toSeq
    assert(idxIds.sorted == Seq(1L, 2L, 5L, 6L))
  }

  test("streaming novelty: per-batch reports track new content, replays rewrite identically") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    def doc(id: Long, text: String) = s"""{"doc_id":$id,"text":"$text"}"""
    val (in, chk) = newDirs()
    val state = Files.createTempDirectory("graft-novstate").toString
    val reports = Files.createTempDirectory("graft-novreports").toString
    val src = EventStream.jsonFileStream(spark, in, docSchema)
    // batch 0: 2+1 distinct 4-grams
    drop(in, "a.json", doc(1, "w1 w2 w3 w4 w5"), doc(2, "x1 x2 x3 x4"))
    EventStream.streamingNovelty(src, state, reports, chk).awaitTermination()
    // batch 1: one repeated doc (0 new grams) + 3 new grams
    drop(in, "b.json", doc(3, "w1 w2 w3 w4 w5"), doc(4, "y1 y2 y3 y4 y5 y6"))
    EventStream.streamingNovelty(src, state, reports, chk).awaitTermination()
    val rep = spark.read.parquet(reports).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    // sparse cardinalities: HLL is exact here
    assert(rep(1L) == ((3L, 3.0, 3.0)))
    assert(rep(2L) == ((5L, 3.0, 6.0)))  // 3 of 5 batch grams are new
    // replay: a fresh run with no new files must leave everything as-is
    EventStream.streamingNovelty(src, state, reports, chk).awaitTermination()
    val rep2 = spark.read.parquet(reports).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(rep2 == rep)
    assert(EventStream.latestAggState(spark, state).head().getLong(1) == 2L)
  }

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
    val src = EventStream.jsonFileStream(spark, in, docSchema)
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
    val src = EventStream.jsonFileStream(spark, in, docSchema)
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
    val src = EventStream.jsonFileStream(spark, in, docSchema)
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
    val src = EventStream.jsonFileStream(spark, in, docSchema)
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
    val src = EventStream.jsonFileStream(spark, in, docSchema)
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

  test("streaming novelty: old state versions are pruned to the last two") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    def doc(id: Long, text: String) = s"""{"doc_id":$id,"text":"$text"}"""
    val (in, chk) = newDirs()
    val state = Files.createTempDirectory("graft-novprune").toString
    val reports = Files.createTempDirectory("graft-novprune-rep").toString
    val src = EventStream.jsonFileStream(spark, in, docSchema)
    drop(in, "a.json", doc(1, "w1 w2 w3 w4 w5"))
    EventStream.streamingNovelty(src, state, reports, chk).awaitTermination()
    drop(in, "b.json", doc(2, "x1 x2 x3 x4 x5"))
    EventStream.streamingNovelty(src, state, reports, chk).awaitTermination()
    drop(in, "c.json", doc(3, "y1 y2 y3 y4 y5"))
    EventStream.streamingNovelty(src, state, reports, chk).awaitTermination()
    val vs = new java.io.File(state).listFiles().filter(_.isDirectory)
      .map(_.getName).toSet
    assert(vs == Set("v=1", "v=2"), s"expected last-2 retention, got $vs")
    // reports for all three batches survive and totals accumulated
    val rep = spark.read.parquet(reports).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(rep.keySet == Set(1L, 2L, 3L))
    assert(rep(3L) == 6.0) // 2+2+2 distinct 4-grams, HLL exact when sparse
  }

  test("the batch flatteners run unchanged on a streaming DataFrame") {
    val (in, chk) = newDirs()
    drop(in, "blocks.json",
      """{"block":{"header":{"height":"5","chain_id":"c","time":"2023-08-01T00:00:00.000000001Z","proposer_address":"P"},"data":{"txs":[]}}}""")
    val q = EventStream.runAvailableNow(
      EventStream.blocksStream(spark, in), "blk", chk)
    q.awaitTermination()
    val r = spark.table("blk").head()
    assert(r.getAs[Long]("height") == 5L)
    assert(r.getAs[String]("day") == "2023-08-01")
  }
}
