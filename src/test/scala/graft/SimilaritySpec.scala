package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Similarity

class SimilaritySpec extends AnyFunSuite with SparkSpec {

  private def emb = Tables.embeddings(spark, sf("sf0.001"))
  private def anchors = emb.filter(col("vec_id") < 8)
    .select(col("vec_id").as("anchor_id"), col("embedding").as("av"))

  /** One query served by the stored IVF-PQ face, by table name alone. */
  private def pqStoredSearch(table: String, qid: Long) =
    Similarity.ivfPqSearchStoredBatch(spark, table,
        emb.select(col("vec_id"), col("embedding")), "vec_id",
        emb.filter(col("vec_id") === qid)
          .select(col("vec_id").as("query_id"), col("embedding").as("qvec")),
        "query_id", "qvec", nprobe = 2, refine = 40, k = 10)
      .orderBy("rank")

  test("persisted IVF index: bucket-pruned search matches the inline IVF plan") {
    val db = "graft_ivf"
    val loc = java.nio.file.Files.createTempDirectory("graft-ivfdb")
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db LOCATION '$loc'")
    spark.sql(s"DROP TABLE IF EXISTS $db.emb_ivf")

    Similarity.ivfBuildIndex(emb, anchors, "vec_id", s"$db.emb_ivf", numBuckets = 8)

    val qv = emb.filter(col("vec_id") === 0)
      .head().getAs[Seq[Float]]("embedding").toArray
    val hits = Similarity.ivfSearchStored(
      spark, s"$db.emb_ivf", "vec_id", qv, nprobe = 2, k = 10,
      excludeId = Some(0L))

    // bucket pruning engaged: only the probed cells' buckets are read.
    // (autoBucketedScan would otherwise disable bucketed reading for a
    // filter-only query — in production either conf works, since the IN
    // filter also prunes via parquet row-group stats.)
    val key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "false")
      val plan = hits.queryExecution.executedPlan.toString
      assert(plan.contains("SelectedBucketsCount"), plan)
      val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(plan).get
      assert(sel.group(1).toInt < sel.group(2).toInt,
        s"expected pruning, read ${sel.group(1)}/${sel.group(2)} buckets")
    } finally spark.conf.set(key, prev)

    // same results as the inline (unpersisted) IVF path
    val inline = Similarity.ivfTopK(emb, "vec_id", 0, anchors, nprobe = 2, k = 10)
    assert(
      hits.select("vec_id", "sim").collect().map(r => (r.getLong(0), r.getDouble(1))).toSet ==
        inline.select("vec_id", "sim").collect().map(r => (r.getLong(0), r.getDouble(1))).toSet)
  }

  test("persisted IVF-PQ index: bucket-pruned codes scan, row-identical to the inline composition") {
    val model = Similarity.pqCodebooksSampled(anchors, m = 4)
    val db = "graft_ivfpq"
    val loc = java.nio.file.Files.createTempDirectory("graft-ivfpqdb")
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db LOCATION '$loc'")
    spark.sql(s"DROP TABLE IF EXISTS $db.emb_ivfpq")

    Similarity.ivfPqBuildIndex(emb, anchors, "vec_id", model,
      s"$db.emb_ivfpq", numBuckets = 8)
    // the persisted index is codes-only — no float column on disk
    assert(!spark.table(s"$db.emb_ivfpq").columns.contains("embedding"))

    val hits = pqStoredSearch(s"$db.emb_ivfpq", 0L)

    val key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "false")
      val plan = hits.queryExecution.executedPlan.toString
      assert(plan.contains("SelectedBucketsCount"), plan)
      val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(plan).get
      assert(sel.group(1).toInt < sel.group(2).toInt,
        s"expected pruning, read ${sel.group(1)}/${sel.group(2)} buckets")
    } finally spark.conf.set(key, prev)

    val inline = Similarity.ivfPqTopK(emb, "vec_id", 0, anchors, model,
      nprobe = 2, refine = 40, k = 10)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("vec_id", "adist", "sim").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq
    assert(rows(hits) == rows(inline))
  }

  test("ivfPqIndexAppend: search after append is row-identical to a rebuilt index") {
    val model = Similarity.pqCodebooksSampled(anchors, m = 4)
    val db = "graft_ivfpq_append"
    val loc = java.nio.file.Files.createTempDirectory("graft-ivfpq-append")
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db LOCATION '$loc'")
    spark.sql(s"DROP TABLE IF EXISTS $db.appended")
    spark.sql(s"DROP TABLE IF EXISTS $db.rebuilt")

    val mx = emb.agg(max("vec_id")).head().getLong(0)
    val cut = (mx + 1) / 2
    Similarity.ivfPqBuildIndex(emb.filter(col("vec_id") < cut), anchors,
      "vec_id", model, s"$db.appended", numBuckets = 8)
    val skew = Similarity.ivfPqIndexAppend(emb.filter(col("vec_id") >= cut),
      "vec_id", s"$db.appended")
    // the skew report covers the UNION and its shares sum to the cells
    assert(skew.agg(sum("n_vectors")).head().getLong(0) == emb.count())

    Similarity.ivfPqBuildIndex(emb, anchors, "vec_id", model,
      s"$db.rebuilt", numBuckets = 8)

    def rows(table: String) = pqStoredSearch(table, 0L)
      .select("vec_id", "adist", "sim").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq
    assert(rows(s"$db.appended") == rows(s"$db.rebuilt"))
  }

  test("recallEvalStored: stored-assignment eval equals the frame-based eval, with no assignment scan") {
    val db = "graft_recall_idx"
    val loc = java.nio.file.Files.createTempDirectory("graft-recall-idx")
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db LOCATION '$loc'")
    spark.sql(s"DROP TABLE IF EXISTS $db.idx")
    Similarity.ivfBuildIndex(emb, anchors, "vec_id", s"$db.idx", numBuckets = 8)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    val fromStore = Similarity.recallEvalStored(spark, s"$db.idx",
      "vec_id", queryIds = Seq(0L, 1L, 2L, 3L), nprobes = Seq(1, 2, 4), k = 10)
    val fromFrames = Similarity.recallEval(emb, "vec_id",
      queryIds = Seq(0L, 1L, 2L, 3L), anchors, nprobes = Seq(1, 2, 4), k = 10)
    assert(rows(fromStore) == rows(fromFrames))
    // the deployment claim: evaluating against the store runs NO
    // assignment argmax. The argmax's signature is the fused
    // vec_nearest_anchors expression (earlier shapes: least() over
    // per-anchor candidate structs, and array_sort before that — pin
    // all three so none sneaks back in); the frame-based eval's plan
    // carries it, the indexed one must not.
    val p = fromStore.queryExecution.executedPlan.toString
    assert(!p.contains("vec_nearest_anchors") &&
      !p.contains("least(struct(nc") && !p.contains("array_sort"), p)
    assert(fromFrames.queryExecution.executedPlan.toString
      .contains("vec_nearest_anchors")) // the sentinel stays meaningful
  }

  test("ivfRetrain: fresh centroids rebuild into a new version; search agrees with the inline plan") {
    val db = "graft_ivf_retrain"
    val loc = java.nio.file.Files.createTempDirectory("graft-ivf-retrain")
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db LOCATION '$loc'")
    spark.sql(s"DROP TABLE IF EXISTS $db.v1")
    spark.sql(s"DROP TABLE IF EXISTS $db.v2")

    // v1 is built on a DEGENERATE 2-anchor grid — the drifted-index
    // stand-in whose skew report motivates the retrain
    val badAnchors = emb.filter(col("vec_id") < 2)
      .select(col("vec_id").as("anchor_id"), col("embedding").as("av"))
    Similarity.ivfBuildIndex(emb, badAnchors, "vec_id", s"$db.v1", numBuckets = 8)

    val newAnchors = Similarity.ivfRetrain(spark, s"$db.v1", s"$db.v2",
      "vec_id", k = 8, iters = 3, numBuckets = 8)
    // same corpus, fresh grid: no vector lost or duplicated
    assert(spark.table(s"$db.v2").count() == emb.count())
    assert(newAnchors.count() == 8)
    // the retrain's lever is PRUNING GRANULARITY: v1's 2-cell grid can
    // never prune below 1/2 of the corpus per probe; the retrained grid
    // has k populated cells and its occupancy report accounts for every
    // vector. (ratio_to_mean is relative to each grid's own mean, so a
    // cross-grid skew comparison is not an operator property — a 2-cell
    // grid is trivially "balanced".)
    val stats = Similarity.ivfCellStats(spark, s"$db.v2").collect()
    // (an empty kmeans cluster simply has no rows in the store, so the
    // report can carry fewer than k cells — but always more than v1's 2)
    assert(stats.length > 2 && stats.length <= 8, stats.toSeq)
    assert(stats.forall(_.getLong(1) > 0) &&
      stats.map(_.getLong(1)).sum == emb.count())
    // the rebuilt store + returned anchors answer exactly like the
    // inline IVF plan over the same vectors and grid
    val qv = emb.filter(col("vec_id") === 0)
      .head().getAs[Seq[Float]]("embedding").toArray
    val stored = Similarity.ivfSearchStored(spark, s"$db.v2", "vec_id",
        qv, nprobe = 2, k = 10, excludeId = Some(0L))
      .select("vec_id", "sim").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    val inline = Similarity.ivfTopK(emb, "vec_id", 0, newAnchors,
        nprobe = 2, k = 10)
      .select("vec_id", "sim").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(stored == inline)
    // in-place retrain (read + overwrite the same table) is refused
    intercept[IllegalArgumentException] {
      Similarity.ivfRetrain(spark, s"$db.v2", s"$db.v2", "vec_id", k = 4)
    }
  }

  test("degenerate shapes analyze: one-anchor grid, integer-id corpus") {
    // least() needs two children — a k=1 grid takes its lone candidate
    val one = anchors.limit(1)
    val cells = Similarity.ivfAssign(emb, one, "vec_id")
      .select("cell").distinct().collect().map(_.getLong(0)).toSeq
    assert(cells == Seq(0L))
    // an INT id column (legal under the old rank-window evals) must
    // still analyze — the bounded aggregates widen it to BIGINT
    val embInt = emb.withColumn("vec_id", col("vec_id").cast("int"))
    val viaInt = Similarity.recallEval(embInt, "vec_id",
      queryIds = Seq(0L, 1L), anchors, nprobes = Seq(1, 2), k = 10).collect()
    val viaLong = Similarity.recallEval(emb, "vec_id",
      queryIds = Seq(0L, 1L), anchors, nprobes = Seq(1, 2), k = 10).collect()
    assert(viaInt.toSeq == viaLong.toSeq)
  }

  test("a half-built store refuses to serve: grid_id missing but artifact present") {
    val db = "graft_halfbuilt"
    val loc = java.nio.file.Files.createTempDirectory("graft-halfbuilt")
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db LOCATION '$loc'")
    Seq("idx", "idx__anchors")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $db.$t"))
    Similarity.ivfBuildIndex(emb, anchors, "vec_id", s"$db.idx",
      numBuckets = 8)
    // simulate a crash between the data write and the final grid stamp
    spark.sql(s"ALTER TABLE $db.idx UNSET TBLPROPERTIES ('graft.grid_id')")
    val qv = emb.filter(col("vec_id") === 0)
      .head().getAs[Seq[Float]]("embedding").toArray
    def refuses(f: => Any): Unit = {
      val e = intercept[IllegalArgumentException](f)
      assert(e.getMessage.contains("rebuild the pair"), e.getMessage)
    }
    // the search and the append both refuse
    refuses(Similarity.ivfSearchStored(spark, s"$db.idx", "vec_id", qv,
      nprobe = 2, k = 5))
    refuses(Similarity.ivfIndexAppend(emb.limit(1), "vec_id", s"$db.idx"))
    // a pre-artifact table (no __anchors at all) has no grid to serve
    // from: it refuses too, never serves unvalidated
    spark.sql(s"DROP TABLE $db.idx__anchors")
    refuses(Similarity.ivfSearchStored(spark, s"$db.idx", "vec_id", qv,
      nprobe = 2, k = 5))
  }

  test("storedPqModel refuses a torn codebook artifact cleanly, never crashes opaquely") {
    val db = "graft_tornpq"
    val loc = java.nio.file.Files.createTempDirectory("graft-tornpq")
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db LOCATION '$loc'")
    Seq("idx", "idx__anchors", "idx__pq")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $db.$t"))
    val model = Similarity.pqCodebooksSampled(anchors, m = 4)
    Similarity.ivfPqBuildIndex(emb, anchors, "vec_id", model, s"$db.idx",
      numBuckets = 8)
    def refuses(f: => Any): Unit = {
      val e = intercept[IllegalArgumentException](f)
      assert(e.getMessage.contains("rebuild the pair"), e.getMessage)
    }
    // a missing subspace stratum refuses by name, before any ranking
    spark.table(s"$db.idx__pq").filter(col("j") =!= 0)
      .write.mode("overwrite").format("parquet").saveAsTable(s"$db.idx__pq_t")
    spark.sql(s"DROP TABLE $db.idx__pq")
    spark.sql(s"ALTER TABLE $db.idx__pq_t RENAME TO $db.idx__pq")
    refuses(Similarity.storedPqModel(spark, s"$db.idx"))
    // an EMPTY artifact refuses too (the old code crashed on max())
    spark.table(s"$db.idx__pq").limit(0)
      .write.mode("overwrite").format("parquet").saveAsTable(s"$db.idx__pq_e")
    spark.sql(s"DROP TABLE $db.idx__pq")
    spark.sql(s"ALTER TABLE $db.idx__pq_e RENAME TO $db.idx__pq")
    refuses(Similarity.storedPqModel(spark, s"$db.idx"))
    // and the half-built window on the PQ side: pq_id missing while the
    // artifact exists must refuse ANY model — not fall through the
    // pre-artifact permissive path
    spark.sql(s"ALTER TABLE $db.idx UNSET TBLPROPERTIES ('graft.pq_id')")
    refuses(Similarity.ivfPqIndexAppend(emb.limit(1), "vec_id", s"$db.idx"))
  }

  test("recall evals refuse a non-integral id column up front") {
    val bad = emb.select(col("vec_id").cast("string").as("vec_id"),
      col("embedding"))
    val e = intercept[IllegalArgumentException] {
      Similarity.recallEval(bad, "vec_id", Seq(0L), anchors,
        nprobes = Seq(1), k = 5)
    }
    assert(e.getMessage.contains("integral"), e.getMessage)
  }

  test("ivfSearchStoredBatch: row-identical to N per-query ivfSearchStored calls") {
    val db = "graft_batch_serve"
    val loc = java.nio.file.Files.createTempDirectory("graft-batch-serve")
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db LOCATION '$loc'")
    Seq("idx", "idx__anchors")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $db.$t"))
    Similarity.ivfBuildIndex(emb, anchors, "vec_id", s"$db.idx",
      numBuckets = 8)
    val qIds = Seq(0L, 3L, 17L, 41L)
    val queries = emb.filter(col("vec_id").isInCollection(qIds))
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val batch = Similarity.ivfSearchStoredBatch(spark, s"$db.idx",
        "vec_id", queries, "query_id", "qvec", nprobe = 2, k = 10)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    // ranks are 1-based, contiguous, best-first per query
    val byQ = batch.groupBy(_._1)
    assert(byQ.keySet == qIds.toSet, byQ.keySet)
    for ((_, rows) <- byQ) {
      assert(rows.map(_._2).sorted.sameElements(1 to rows.length))
      val ordered = rows.sortBy(_._2)
      assert(ordered.sliding(2).forall {
        case Array((_, _, idA, sA), (_, _, idB, sB)) =>
          sA > sB || (sA == sB && idA < idB)
        case _ => true
      })
    }
    // exact row equality with the per-query face, query by query
    for (qid <- qIds) {
      val qv = emb.filter(col("vec_id") === qid)
        .head().getAs[Seq[Float]]("embedding").toArray
      val single = Similarity.ivfSearchStored(spark, s"$db.idx", "vec_id",
          qv, nprobe = 2, k = 10)
        .select("vec_id", "sim").collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
      val fromBatch = byQ(qid).sortBy(_._2).map(t => (t._3, t._4))
      assert(fromBatch.toSeq == single.toSeq,
        s"q$qid: batch=${fromBatch.toSeq} single=${single.toSeq}")
    }
    // excludeSelf drops exactly the query's own row
    val noSelf = Similarity.ivfSearchStoredBatch(spark, s"$db.idx",
        "vec_id", queries, "query_id", "qvec", nprobe = 2, k = 10,
        excludeSelf = true)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(noSelf.forall { case (q, id) => q != id })
    // a non-integral query id refuses loudly instead of null-casting
    val badQ = queries.select(col("query_id").cast("string").as("query_id"),
      col("qvec"))
    val e = intercept[IllegalArgumentException] {
      Similarity.ivfSearchStoredBatch(spark, s"$db.idx", "vec_id", badQ,
        "query_id", "qvec", nprobe = 2, k = 10)
    }
    assert(e.getMessage.contains("integral"), e.getMessage)
    // duplicate q_id values would MERGE two queries' candidate sets into
    // one blended top-k attributed to both — refuse, never blend
    val dup = intercept[IllegalArgumentException] {
      Similarity.ivfSearchStoredBatch(spark, s"$db.idx", "vec_id",
        queries.union(queries.limit(1)), "query_id", "qvec",
        nprobe = 2, k = 10)
    }
    assert(dup.getMessage.contains("duplicate"), dup.getMessage)
  }

  test("ivfPqSearchStoredBatch: row-identical to per-query ivfPqTopK, stored artifacts only") {
    val db = "graft_pq_batch_serve"
    val loc = java.nio.file.Files.createTempDirectory("graft-pq-batch-serve")
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db LOCATION '$loc'")
    Seq("idx", "idx__anchors", "idx__pq")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $db.$t"))
    val model = Similarity.pqCodebooksSampled(anchors, m = 4)
    Similarity.ivfPqBuildIndex(emb, anchors, "vec_id", model, s"$db.idx",
      numBuckets = 8)
    val vectors = emb.select(col("vec_id"), col("embedding"))
    val qIds = Seq(0L, 3L, 17L, 41L)
    val queries = emb.filter(col("vec_id").isInCollection(qIds))
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val batch = Similarity.ivfPqSearchStoredBatch(spark, s"$db.idx",
        vectors, "vec_id", queries, "query_id", "qvec",
        nprobe = 2, refine = 40, k = 10)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    val byQ = batch.groupBy(_._1)
    assert(byQ.keySet == qIds.toSet, byQ.keySet)
    for ((qid, rows) <- byQ) {
      // ranks 1-based contiguous best-first, self dropped
      assert(rows.map(_._2).sorted.sameElements(1 to rows.length))
      assert(rows.forall(_._3 != qid))
      // exact row equality with the inline per-query composition (grid
      // + codebook passed explicitly there; the batch face loads the
      // artifacts)
      val single = Similarity.ivfPqTopK(emb, "vec_id", qid, anchors, model,
          nprobe = 2, refine = 40, k = 10)
        .select("vec_id", "adist", "sim").collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
      val fromBatch = rows.sortBy(_._2).map(t => (t._3, t._4, t._5))
      assert(fromBatch.toSeq == single.toSeq,
        s"q$qid: batch=${fromBatch.toSeq} single=${single.toSeq}")
    }
    // duplicate q_id refusal, the ivfSearchStoredBatch rule
    val dup = intercept[IllegalArgumentException] {
      Similarity.ivfPqSearchStoredBatch(spark, s"$db.idx", vectors,
        "vec_id", queries.union(queries.limit(1)), "query_id", "qvec",
        nprobe = 2, refine = 40, k = 10)
    }
    assert(dup.getMessage.contains("duplicate"), dup.getMessage)
    // an empty batch returns an empty, correctly-shaped frame
    val empty = Similarity.ivfPqSearchStoredBatch(spark, s"$db.idx",
      vectors, "vec_id", queries.limit(0), "query_id", "qvec",
      nprobe = 2, refine = 40, k = 10)
    assert(empty.columns.toSeq ==
      Seq("query_id", "rank", "vec_id", "adist", "sim"))
    assert(empty.isEmpty)
  }

  test("the (index, grid) pairing is ONE artifact: stored faces load it, wrong grids refuse") {
    val db = "graft_grid_artifact"
    val loc = java.nio.file.Files.createTempDirectory("graft-grid-art")
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db LOCATION '$loc'")
    Seq("idx", "idx__anchors", "v2", "v2__anchors")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $db.$t"))
    // the index carries a payload column beyond (id, embedding)
    val withPayload = emb.withColumn("label", col("vec_id") % 3)
    Similarity.ivfBuildIndex(withPayload, anchors, "vec_id", s"$db.idx",
      numBuckets = 8)

    // 1. the stored faces need only the table name and agree with the
    //    inline faces run on the build grid
    val qv = emb.filter(col("vec_id") === 0)
      .head().getAs[Seq[Float]]("embedding").toArray
    def hitSet(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "sim").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(
      hitSet(Similarity.ivfSearchStored(spark, s"$db.idx", "vec_id", qv,
        nprobe = 2, k = 10, excludeId = Some(0L))) ==
        hitSet(Similarity.ivfTopK(emb, "vec_id", 0L, anchors,
          nprobe = 2, k = 10)))
    val viaStored = Similarity.recallEvalStored(spark, s"$db.idx",
      "vec_id", queryIds = Seq(0L, 1L), nprobes = Seq(1, 2), k = 10).collect()
    val viaFrames = Similarity.recallEval(emb, "vec_id",
      queryIds = Seq(0L, 1L), anchors, nprobes = Seq(1, 2), k = 10).collect()
    assert(viaStored.toSeq == viaFrames.toSeq)

    // 2. retrain preserves payload columns (rebuild reads the full
    //    stored row) and writes the v2 artifact pair, which the v2
    //    stored face serves from: v2's OWN 4-anchor grid
    Similarity.ivfRetrain(spark, s"$db.idx", s"$db.v2", "vec_id",
      k = 4, iters = 2, numBuckets = 8)
    assert(spark.table(s"$db.v2").columns.contains("label"),
      spark.table(s"$db.v2").columns.mkString(","))
    assert(spark.catalog.tableExists(s"$db.v2__anchors"))
    assert(Similarity.storedAnchors(spark, s"$db.v2").count() == 4)
    assert(Similarity.ivfSearchStored(spark, s"$db.v2", "vec_id", qv,
      nprobe = 2, k = 5, excludeId = Some(0L)).count() == 5)

    // 3. a DIFFERENT grid swapped into the store's artifact refuses
    //    loudly on every face — search, eval, and incremental append
    val wrongGrid = emb.filter(col("vec_id") >= 8 && col("vec_id") < 12)
      .select(col("vec_id").as("anchor_id"), col("embedding").as("av"))
    wrongGrid.write.mode("overwrite").format("parquet")
      .saveAsTable(s"$db.idx__anchors")
    def refusal(f: => Any): Unit = {
      val e = intercept[IllegalArgumentException](f)
      assert(e.getMessage.contains("grid pairing broken"), e.getMessage)
    }
    refusal(Similarity.ivfSearchStored(spark, s"$db.idx", "vec_id", qv,
      nprobe = 2, k = 10))
    refusal(Similarity.recallEvalStored(spark, s"$db.idx", "vec_id",
      Seq(0L), Seq(1), k = 10).collect())
    refusal(Similarity.ivfIndexAppend(emb.limit(1), "vec_id", s"$db.idx"))
  }

  test("storedPqModel reloads the exact codebook the codes table was encoded with") {
    val db = "graft_pq_artifact"
    val loc = java.nio.file.Files.createTempDirectory("graft-pq-art")
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db LOCATION '$loc'")
    Seq("codes", "codes__anchors", "codes__pq")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $db.$t"))
    val model = Similarity.pqCodebooksSampled(anchors, m = 4)
    Similarity.ivfPqBuildIndex(emb, anchors, "vec_id", model,
      s"$db.codes", numBuckets = 8)
    val reloaded = Similarity.storedPqModel(spark, s"$db.codes")
    assert(reloaded.m == model.m && reloaded.sub == model.sub)
    assert(reloaded.codebooks.flatten.flatten.toSeq ==
      model.codebooks.flatten.flatten.toSeq)
    // a drifted codebook swapped into the artifact refuses on append
    val other = Similarity.pqCodebooksSampled(
      emb.filter(col("vec_id") >= 8 && col("vec_id") < 16)
        .select(col("vec_id").as("anchor_id"), col("embedding").as("av")),
      m = 4)
    import spark.implicits._
    other.codebooks.zipWithIndex.flatMap { case (cb, j) =>
      cb.zipWithIndex.map { case (cw, c) => (j, c, cw.toSeq) }
    }.toSeq.toDF("j", "code", "cw")
      .write.mode("overwrite").format("parquet").saveAsTable(s"$db.codes__pq")
    val e = intercept[IllegalArgumentException] {
      Similarity.ivfPqIndexAppend(emb.limit(1), "vec_id", s"$db.codes")
    }
    assert(e.getMessage.contains("codebook pairing broken"), e.getMessage)
  }

  test("ivfPqRetrain: refit codebooks rebuild into v2 — payloads survive, error never worse, drift stats reset") {
    val db = "graft_pq_retrain"
    val loc = java.nio.file.Files.createTempDirectory("graft-pq-retrain")
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db LOCATION '$loc'")
    Seq("v1", "v1__anchors", "v1__pq", "v2", "v2__anchors", "v2__pq")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $db.$t"))
    val model = Similarity.pqCodebooksSampled(anchors, m = 4)
    // v1 is built on HALF the corpus, then the other half appends — the
    // drift scenario: the frozen codebook was fit before the appends
    Similarity.ivfPqBuildIndex(emb.filter(col("vec_id") % 2 === 0),
      anchors, "vec_id", model, s"$db.v1", numBuckets = 8)
    Similarity.ivfPqIndexAppend(emb.filter(col("vec_id") % 2 =!= 0),
      "vec_id", s"$db.v1")

    // the drift signal: err_build was stamped over the build half,
    // err_now measures the full store — n_vectors says all were matched
    val drift = Similarity.pqDriftStats(spark, s"$db.v1", emb, "vec_id")
      .collect()
    assert(drift.length == 4)
    assert(drift.forall(_.getAs[Long]("n_vectors") == emb.count()))
    assert(drift.forall(r => r.getAs[Double]("err_build") > 0
      && r.getAs[Double]("drift_ratio") > 0))
    val errV1 = drift.map(_.getAs[Double]("err_now")).sum

    // retrain: warm-start refit over the STORED rows' floats, v2 build
    val refit = Similarity.ivfPqRetrain(spark, s"$db.v1", s"$db.v2",
      emb, "vec_id", iters = 2, numBuckets = 8)
    assert(spark.table(s"$db.v2").count() == emb.count())
    // payload survival: every (vec_id, label) pair of v1 is in v2
    val labels = emb.select("vec_id", "label").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(spark.table(s"$db.v2").select("vec_id", "label").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet == labels)
    // the artifact pairing is complete: v2 serves from its OWN stamps
    val reloaded = Similarity.storedPqModel(spark, s"$db.v2")
    assert(reloaded.codebooks.flatten.flatten.toSeq ==
      refit.codebooks.flatten.flatten.toSeq)
    // Lloyd monotonicity, warm start: the refit model's error over the
    // same corpus is never worse than the frozen codebook's
    val drift2 = Similarity.pqDriftStats(spark, s"$db.v2", emb, "vec_id")
      .collect()
    val errV2 = drift2.map(_.getAs[Double]("err_now")).sum
    assert(errV2 <= errV1 + 1e-9, s"refit worsened error: $errV1 -> $errV2")
    // v2's baseline was stamped over the SAME corpus it holds → ratio 1
    assert(drift2.forall(r =>
      math.abs(r.getAs[Double]("drift_ratio") - 1.0) < 1e-6), drift2.toSeq)

    // refusals: in-place rebuild; a float corpus missing a stored id
    intercept[IllegalArgumentException] {
      Similarity.ivfPqRetrain(spark, s"$db.v2", s"$db.v2", emb, "vec_id")
    }
    val partial = emb.filter(col("vec_id") =!= 3L)
    val e = intercept[Exception] {
      Similarity.ivfPqRetrain(spark, s"$db.v1", s"$db.v2b", partial, "vec_id")
    }
    def messages(t: Throwable): String =
      if (t == null) "" else s"${t.getMessage}\n${messages(t.getCause)}"
    assert(messages(e).contains("has no vector"), messages(e))

    // a pre-signal store (no graft.pq_err stamp) refuses the drift probe
    spark.sql(s"ALTER TABLE $db.v1 UNSET TBLPROPERTIES ('graft.pq_err')")
    val e2 = intercept[IllegalArgumentException] {
      Similarity.pqDriftStats(spark, s"$db.v1", emb, "vec_id")
    }
    assert(e2.getMessage.contains("graft.pq_err"), e2.getMessage)
  }

  test("PQ encode is mode-agnostic: the streaming encode equals the batch encode") {
    // a narrow expression works unchanged on a stream — the ingest-time
    // index-append path (encode on arrival, append to the codes table)
    // needs no separate streaming kernel
    val model = Similarity.pqCodebooksSampled(anchors, m = 4)
    val batch = emb.select(col("vec_id"),
        Similarity.pqCodesCol(col("embedding"), model).as("codes"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = emb.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
    val ms = MemoryStream[(Long, Seq[Float])]
    ms.addData(rows)
    val streamed = ms.toDF().toDF("vec_id", "embedding")
      .select(col("vec_id"),
        Similarity.pqCodesCol(col("embedding").cast("array<float>"), model).as("codes"))
    val q = streamed.writeStream.format("memory")
      .queryName("pq_stream_codes").outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val out = spark.table("pq_stream_codes")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(out == batch)
  }

  test("bucketed near-dup pairing: quadratic work shrinks, in-cell pairs are exact") {
    val lowT = 0.15 // low threshold so the tiny corpus yields pairs
    val exact = Similarity.nearDupPairs(emb, "vec_id", lowT)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val single = Similarity.nearDupPairsBucketed(emb, anchors, "vec_id", lowT,
        nprobe = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // sound: every bucketed pair is a true pair
    assert(single.subsetOf(exact), s"false pairs: ${single.diff(exact)}")
    // complete within cells: a pair sharing a home cell must be found
    val cells = Similarity.ivfAssign(emb, anchors, "vec_id")
      .select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sameCellExact = exact.filter { case (x, y) => cells(x) == cells(y) }
    assert(single == sameCellExact)
    // and the candidate space genuinely shrinks
    val n = emb.count()
    val cellSizes = cells.values.groupBy(identity).map(_._2.size.toLong)
    val bucketedCand = cellSizes.map(c => c * (c - 1) / 2).sum
    assert(bucketedCand < n * (n - 1) / 2 / 2,
      s"bucketing should cut candidates: $bucketedCand vs ${n * (n - 1) / 2}")
    // the second probe only ADDS true pairs: sound, and recall never
    // drops below single-probe
    val multi = Similarity.nearDupPairsBucketed(emb, anchors, "vec_id", lowT,
        nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(multi.subsetOf(exact), s"false pairs: ${multi.diff(exact)}")
    assert(single.subsetOf(multi),
      s"second probe lost pairs: ${single.diff(multi)}")
  }

  test("second-probe recall vs the exact q39 baseline at sf0.1") {
    // the q39/q109 operating point: threshold 0.4 over the sf0.1 corpus
    val e = Tables.embeddings(spark, sf("sf0.1"))
    val a = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("anchor_id"), col("embedding").as("av"))
    val exact = Similarity.nearDupPairs(e, "vec_id", 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def bucketedPairs(np: Int) =
      Similarity.nearDupPairsBucketed(e, a, "vec_id", 0.4, nprobe = np)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val single = bucketedPairs(1)
    val multi = bucketedPairs(2)
    assert(multi.subsetOf(exact), s"false pairs: ${multi.diff(exact)}")
    assert(single.subsetOf(multi), s"lost pairs: ${single.diff(multi)}")
    if (exact.nonEmpty) {
      val rSingle = single.size.toDouble / exact.size
      val rMulti = multi.size.toDouble / exact.size
      assert(rMulti >= rSingle,
        s"second probe reduced recall: $rMulti < $rSingle")
      info(f"recall vs exact: single-probe $rSingle%.3f, 2-probe $rMulti%.3f " +
        s"(${exact.size} true pairs)")
    }
  }

  test("IVF recall vs brute force on the probed fraction") {
    val exact = Similarity.cosineTopK(emb, "vec_id", 0, 10)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val approx = Similarity.ivfTopK(emb, "vec_id", 0, anchors, nprobe = 2, k = 10)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    // nprobe=2 of 8 cells: recall won't be perfect, but the probed cells
    // must contribute a non-trivial overlap with the exact top-10
    assert(approx.size == 10)
    assert((exact intersect approx).nonEmpty,
      s"zero overlap between exact $exact and IVF $approx")
  }

  test("kmeans: every vector is assigned to its nearest centroid") {
    val (assign, cents) = Similarity.kmeans(emb, "vec_id", k = 5, iters = 3)
    val cs = cents.collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val vecs = emb.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def d2(x: Array[Double], c: Array[Double]): Double =
      x.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum
    val rows = assign.collect()
    assert(rows.length == vecs.size)
    rows.foreach { r =>
      val (id, cl) = (r.getLong(0), r.getLong(1))
      val best = cs.toSeq.map { case (c, cv) => (d2(vecs(id), cv), c) }.min
      // assigned distance must equal the true minimum (ties may pick
      // either centroid id; the distance itself is what argmin pins)
      assert(math.abs(d2(vecs(id), cs(cl)) - best._1) < 1e-9,
        s"vector $id assigned to non-nearest centroid $cl")
    }
  }

  test("kmeans: within-cluster SSE is non-increasing across iterations") {
    def sse(iters: Int): Double =
      Similarity.kmeans(emb, "vec_id", k = 5, iters = iters)._1
        .agg(org.apache.spark.sql.functions.sum("dist2")).head().getDouble(0)
    val curve = (0 to 3).map(sse)
    curve.sliding(2).foreach { case Seq(a, b) =>
      assert(b <= a + 1e-6, s"SSE increased: $curve")
    }
    // and the iterations actually moved the centroids off the raw seeds
    assert(curve.last < curve.head)
  }

  test("PQ: anchor vectors encode to their own codewords with zero error") {
    val model = Similarity.pqCodebooksSampled(anchors, m = 4)
    assert(model.m == 4 && model.sub == 16 && model.ksub == 8)
    val det = emb.filter(col("vec_id") < 8)
      .select(col("vec_id"),
        Similarity.pqEncodeDetailCol(col("embedding"), model).as("det"))
      .collect()
    assert(det.length == 8)
    det.foreach { r =>
      val id = r.getLong(0)
      val entries = r.getSeq[org.apache.spark.sql.Row](1)
      assert(entries.length == 4)
      // each anchor's subvectors ARE codeword `id` — distance exactly 0
      entries.foreach { e =>
        assert(e.getDouble(0) == 0.0, s"vec $id nonzero self-distance $e")
        assert(e.getLong(1) == id, s"vec $id chose foreign codeword $e")
      }
    }
  }

  test("PQ: codes are partition-independent") {
    val model = Similarity.pqCodebooksSampled(anchors, m = 4)
    def codes(df: org.apache.spark.sql.DataFrame) = df
      .select(col("vec_id"), Similarity.pqCodesCol(col("embedding"), model).as("c"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(codes(emb) == codes(emb.repartition(7)))
  }

  test("PQ ADC: re-ranked sims are exact; top-k overlaps the true neighbors") {
    val model = Similarity.pqCodebooksSampled(anchors, m = 4)
    val out = Similarity.pqTopK(emb, "vec_id", 0, model, refine = 40, k = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(out.size == 10)
    // the re-rank pays the TRUE cosine: sims must equal the brute-force
    // values for the same ids (ADC only selects candidates, never scores
    // the output)
    val brute = Similarity.cosineTopK(emb, "vec_id", 0, k = 10000)
      .collect().map(r => (r.getLong(0), r.getAs[Double]("sim"))).toMap
    out.foreach { case (id, sim) =>
      assert(brute(id) == sim, s"vec $id rerank sim $sim != exact ${brute(id)}")
    }
    // and the approximation finds a non-trivial share of the exact top-10
    val exactTop = brute.toSeq.sortBy { case (id, s) => (-s, id) }
      .take(10).map(_._1).toSet
    assert((exactTop intersect out.keySet).nonEmpty,
      s"zero overlap: exact $exactTop vs PQ ${out.keySet}")
  }

  test("PQ ADC: persisted-codes path returns exactly the on-the-fly result; absent query is empty") {
    val model = Similarity.pqCodebooksSampled(anchors, m = 4)
    // deployment shape: the stored index carries codes (+ payload), no floats
    val codesDf = emb
      .withColumn("codes", Similarity.pqCodesCol(col("embedding"), model))
      .drop("embedding")
    val vectors = emb.select(col("vec_id"), col("embedding"))
    val indexed = Similarity
      .pqTopKIndexed(codesDf, vectors, "vec_id", 0, model, refine = 40, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(2), r.getDouble(3))).toSeq
    val direct = Similarity
      .pqTopK(emb, "vec_id", 0, model, refine = 40, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(2), r.getDouble(3))).toSeq
    assert(indexed == direct)
    // absent query id: empty result with the output schema, the
    // cosineTopK/ivfTopK contract (never an exception)
    val none = Similarity.pqTopKIndexed(codesDf, vectors, "vec_id",
      queryId = -1L, model, refine = 40, k = 10)
    assert(none.count() == 0)
    assert(none.columns.takeRight(2).toSeq == Seq("adist", "sim"))
  }

  test("IVF-PQ: results come only from probed cells, sims are exact, absent query is empty") {
    val model = Similarity.pqCodebooksSampled(anchors, m = 4)
    val out = Similarity.ivfPqTopK(emb, "vec_id", 0, anchors, model,
        nprobe = 2, refine = 40, k = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(out.nonEmpty)
    // every returned id sits in one of the query's 2 probed cells
    val assigned = Similarity.ivfAssign(emb, anchors, "vec_id")
      .select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val qCells = out.keySet.map(assigned)
    assert(qCells.size <= 2, s"results span cells $qCells")
    // the re-rank pays the TRUE cosine (ADC + probing only select)
    val brute = Similarity.cosineTopK(emb, "vec_id", 0, k = 10000)
      .collect().map(r => (r.getLong(0), r.getAs[Double]("sim"))).toMap
    out.foreach { case (id, sim) => assert(brute(id) == sim, s"vec $id") }
    // absent query: empty frame, never an exception
    assert(Similarity.ivfPqTopK(emb, "vec_id", -1L, anchors, model,
      nprobe = 2, refine = 40, k = 10).count() == 0)
  }

  test("PQ ADC: a persisted index that drifted from the model fails loudly, not silently") {
    val model = Similarity.pqCodebooksSampled(anchors, m = 4)
    // codes out of the model's codeword range (as after a retrain with
    // smaller ksub): must raise, never rank the corrupt rows
    val bad = emb.select(col("vec_id"),
      typedLit(Seq(999L, 999L, 999L, 999L)).as("codes"))
    val ex = intercept[Exception] {
      Similarity.pqTopKIndexed(bad, emb.select(col("vec_id"), col("embedding")),
        "vec_id", 0, model, refine = 10, k = 5).collect()
    }
    assert(ex.getMessage.contains("pq codes/model mismatch"),
      ex.getMessage.take(200))
  }

  test("hardNegatives: every mined negative carries a different label and ranks by sim") {
    val out = Similarity.hardNegatives(emb, "vec_id", "label",
      queryIds = Seq(0L, 1L), k = 3).collect()
    assert(out.length == 6) // 2 queries x top-3
    val labels = emb.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    out.foreach { r =>
      val (qid, rk, negId, negLabel) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))
      assert(negLabel != labels(qid), s"q$qid mined a same-label negative $negId")
      assert(rk >= 1 && rk <= 3)
    }
    // within each query the sims are non-increasing in rank order
    out.groupBy(_.getLong(0)).values.foreach { rows =>
      val sims = rows.sortBy(_.getLong(1)).map(_.getDouble(4))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
    }
  }

  test("hardNegatives: the top negative is the max different-label cosine") {
    val top = Similarity.hardNegatives(emb, "vec_id", "label",
      queryIds = Seq(0L), k = 1).head()
    // recompute by brute force through the same rounded-cosine path
    val labels = emb.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val qv = emb.filter(col("vec_id") === 0)
    val best = emb.filter(col("label") =!= labels(0L))
      .crossJoin(broadcast(qv.select(col("embedding").as("qv"))))
      .select(col("vec_id"),
        round(graft.functions.vec.cosine(col("embedding"), col("qv")), 4).as("s"))
      .orderBy(desc("s"), asc("vec_id")).head()
    assert(top.getLong(2) == best.getLong(0))
    assert(top.getDouble(4) == best.getDouble(1))
  }

  test("truncatedDimAgreement: full-width truncation agrees with itself exactly") {
    val dims = emb.head().getAs[Seq[Float]]("embedding").length
    val out = Similarity.truncatedDimAgreement(emb, "vec_id",
      queryIds = Seq(0L, 1L, 2L), dims = dims).collect()
    assert(out.length == 3)
    out.foreach { r =>
      assert(r.getLong(1) == r.getLong(3)) // nn_full == nn_trunc
      assert(r.getDouble(2) == r.getDouble(4))
      assert(r.getBoolean(5))
    }
  }

  test("truncatedDimAgreement: nn_full matches the brute-force top-1") {
    val out = Similarity.truncatedDimAgreement(emb, "vec_id",
      queryIds = Seq(0L), dims = 16).head()
    val expect = Similarity.cosineTopK(emb, "vec_id", queryId = 0, k = 1)
      .head().getLong(0)
    assert(out.getLong(1) == expect)
  }

  test("knnLabelEval: matrix equals an independent window-ranked rebuild, one count per held-out vector") {
    import org.apache.spark.sql.expressions.Window
    val holdout = col("vec_id") % 5 === 0
    val out = Similarity.knnLabelEval(emb, "vec_id", "label", holdout)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(out.values.sum == emb.filter(holdout).count())
    // independent rebuild: rank per query with a window instead of the
    // struct-max argmax; the two must tabulate identically
    val eval = emb.filter(holdout)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"),
        col("label").as("true_label"))
    val byQ = Window.partitionBy("q_id").orderBy(desc("s"), asc("n_id"))
    val expect = emb.filter(!holdout)
      .select(col("vec_id").as("n_id"), col("embedding"),
        col("label").as("pred_label"))
      .crossJoin(broadcast(eval))
      .withColumn("s", round(graft.functions.vec.cosine(col("embedding"), col("qv")), 4))
      .withColumn("rk", row_number().over(byQ))
      .filter(col("rk") === 1)
      .groupBy("true_label", "pred_label").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(out == expect)
  }

  test("kmeans: deterministic under repartitioning") {
    val base = Similarity.kmeans(emb, "vec_id", k = 4, iters = 2)._1
      .select("vec_id", "cluster").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val shuffled = Similarity.kmeans(
      emb.repartition(7, col("vec_id")), "vec_id", k = 4, iters = 2)._1
      .select("vec_id", "cluster").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(base == shuffled)
  }

  test("ivfAssign rejects non-numeric anchor ids with a clear message") {
    import spark.implicits._
    val strAnchors = Seq(("anchor-uuid-1", Array(1.0f, 0.0f)))
      .toDF("anchor_id", "av")
    val twoD = Seq((1L, Array(0.9f, 0.1f))).toDF("vec_id", "embedding")
    val ex = intercept[IllegalArgumentException] {
      Similarity.ivfAssign(twoD, strAnchors, "vec_id")
    }
    assert(ex.getMessage.contains("numeric anchor_id"), ex.getMessage)
  }
}
