package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.vec
import graft.functions.BoundedTopK.{topKIds, topKPairs}

/** Reusable similarity-search operators over an embeddings DataFrame
  * `(id, embedding: array<float>)` — the library surface behind
  * q34/q39/q40. All vector math runs through the codegen'd expressions
  * in graft.functions.vec.
  */
object Similarity {

  /** Brute-force cosine top-k against one stored query vector: broadcast
    * the query, map-only scan, k-row reduce (TakeOrdered) — the correct
    * plan at any scale when k is small.
    *
    * `roundAt` rounds sim BEFORE ranking: ranking on rounded values (with
    * the id tie-break) is reproducible across engines whose float
    * summation order differs by ~1e-15; ranking on raw doubles is not. */
  def cosineTopK(emb: DataFrame, id: String, queryId: Long, k: Int,
      roundAt: Int = 4): DataFrame = {
    val qv = emb.filter(col(id) === queryId).select(col("embedding").as("qv"))
    emb.filter(col(id) =!= queryId)
      .crossJoin(broadcast(qv))
      // nanvl: a zero-norm vector (padding row, failed encoder) has
      // cosine 0/0 = NaN, which Spark sorts ABOVE every real value —
      // unguarded it would take rank 1. Map to -1 so degenerates rank
      // last (same convention as ivfAssign).
      .withColumn("sim",
        round(nanvl(vec.cosine(col("embedding"), col("qv")), lit(-1.0)), roundAt))
      .drop("qv")
      .orderBy(desc("sim"), asc(id))
      .limit(k)
  }

  /** All-pairs cosine near-duplicates ≥ threshold. Norms are computed
    * once per vector before the quadratic stage; the pair join itself is
    * the honest O(n²) baseline — for corpus-scale use, bucket first
    * (random-hyperplane LSH or the IVF cells below) and verify within
    * buckets, exactly like Dedup.minHashLshPairs does for text. */
  def nearDupPairs(emb: DataFrame, id: String, threshold: Double): DataFrame = {
    // zero-norm vectors have no defined cosine — and an unguarded 0/0
    // gives NaN, which Spark's comparison orders ABOVE every threshold
    // (spurious "near-dup" pairs); exclude them up front
    val e = emb.select(col(id), col("embedding"), vec.norm(col("embedding")).as("nrm"))
      .filter(col("nrm") > 0)
    // The pair stage is a nested-loop join (inequality condition): its
    // parallelism is the STREAMED side's partition count, and a small
    // embeddings table read from one parquet split would run the whole
    // O(n²) loop on one core. Spread the streamed side across the
    // session's shuffle-partition width; broadcast the other side
    // explicitly (it's the same small table).
    val n = emb.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val a = e.repartition(n)
      .select(col(id).as("id_a"), col("embedding").as("ea"), col("nrm").as("na"))
    val b = e.select(col(id).as("id_b"), col("embedding").as("eb"), col("nrm").as("nb"))
    a.join(broadcast(b), col("id_a") < col("id_b"))
      .withColumn("sim", vec.dot(col("ea"), col("eb")) / (col("na") * col("nb")))
      .filter(col("sim") >= threshold)
      .select("id_a", "id_b", "sim")
  }

  /** Hard-negative mining for embedding-model training: for each query
    * vector in a (small, broadcast) batch, the top-`k` most similar
    * vectors carrying a DIFFERENT label — the highest-loss negatives a
    * contrastive trainer wants in the same batch as the positive. One
    * scan of the candidate set joined against the broadcast query
    * batch; ranking is a per-query window (partitioned by query id —
    * parallel across the batch) on ROUNDED cosine with the candidate-id
    * tie-break, the cross-engine top-k rule. At corpus scale the query
    * batch is whatever fits a training step (hundreds), so the
    * join+window stage is batch × corpus map work with no self-join.
    * Output: (q_id, rk, neg_id, neg_label, sim). */
  def hardNegatives(emb: DataFrame, id: String, label: String,
      queryIds: Seq[Long], k: Int, roundAt: Int = 4): DataFrame = {
    require(queryIds.nonEmpty && k >= 1)
    val q = emb.filter(col(id).isInCollection(queryIds))
      .select(col(id).as("q_id"), col("embedding").as("qv"),
        col(label).as("q_label"))
    val byQ = Window.partitionBy("q_id").orderBy(desc("sim"), asc("neg_id"))
    // NULL labels make `neg_label =!= q_label` NULL (not true), silently
    // dropping those rows from the candidate pool AND those queries from
    // the output — surface the partially-labeled corpus explicitly
    // instead of shipping a weaker negative set
    emb.select(col(id).as("neg_id"), col("embedding"), col(label).as("neg_label"))
      .filter(col("neg_label").isNotNull)
      .join(broadcast(q.filter(col("q_label").isNotNull)),
        col("neg_label") =!= col("q_label"))
      .withColumn("sim",
        round(nanvl(vec.cosine(col("embedding"), col("qv")), lit(-1.0)), roundAt))
      .withColumn("rk", row_number().over(byQ).cast("long"))
      .filter(col("rk") <= k)
      .select("q_id", "rk", "neg_id", "neg_label", "sim")
      .orderBy("q_id", "rk")
  }

  /** Matryoshka-style dimension-truncation audit: for each query in a
    * broadcast batch, the exact nearest neighbor under FULL-dimension
    * cosine vs under the first-`dims` prefix — whether a truncated
    * index would return the same answer, and at what similarity. The
    * per-query argmax is a struct-max aggregate (rounded sim, then
    * smallest id — the q134 packed-key device), so the whole audit is
    * one scan + one partial-aggregable reduce per query batch: no
    * window, no sort, no self-join. Output:
    * (q_id, nn_full, sim_full, nn_trunc, sim_trunc, agree). */
  def truncatedDimAgreement(emb: DataFrame, id: String,
      queryIds: Seq[Long], dims: Int, roundAt: Int = 4): DataFrame = {
    require(queryIds.nonEmpty && dims >= 1)
    val q = emb.filter(col(id).isInCollection(queryIds))
      .select(col(id).as("q_id"), col("embedding").as("qv"))
    val scored = emb.select(col(id).as("neg_id"), col("embedding"))
      .join(broadcast(q), col("neg_id") =!= col("q_id"))
      .select(col("q_id"), col("neg_id"),
        // a vector shorter than `dims` would make slice() a silent
        // no-op and the audit trivially "agree" — fail loudly instead;
        // nanvl because a prefix that happens to be all-zero has
        // cosine NaN, which would WIN the struct-max argmax
        when(size(col("embedding")) < dims || size(col("qv")) < dims,
          raise_error(format_string(
            s"truncation audit needs >= $dims dims, got %s",
            least(size(col("embedding")), size(col("qv"))).cast("string"))))
          .otherwise(
            round(nanvl(vec.cosine(col("embedding"), col("qv")), lit(-1.0)),
              roundAt)).as("sim_full"),
        round(nanvl(vec.cosine(slice(col("embedding"), 1, dims),
          slice(col("qv"), 1, dims)), lit(-1.0)), roundAt).as("sim_trunc"))
    scored.groupBy("q_id")
      .agg(
        max(struct(col("sim_full").as("s"), (-col("neg_id")).as("ni"),
          col("neg_id").as("pid"))).as("mf"),
        max(struct(col("sim_trunc").as("s"), (-col("neg_id")).as("ni"),
          col("neg_id").as("pid"))).as("mt"))
      .select(col("q_id"),
        col("mf.pid").as("nn_full"), col("mf.s").as("sim_full"),
        col("mt.pid").as("nn_trunc"), col("mt.s").as("sim_trunc"),
        (col("mf.pid") === col("mt.pid")).as("agree"))
      .orderBy("q_id")
  }

  /** 1-NN label transfer + confusion matrix — the auto-labeling QA op:
    * hold out the vectors matching `holdout`, predict each one's label
    * from its single nearest LABELED neighbor (rounded cosine, id
    * tie-break), and tabulate predicted vs true — the quality report a
    * pipeline runs before trusting propagated labels at corpus scale.
    * The holdout/eval set is benchmark-sized, so it broadcasts; the
    * labeled corpus streams through one scan, and the per-query argmax
    * is the q185 struct-max device (payload label rides the packed key)
    * — partial-aggregable, no window, no sort. Output:
    * (true_label, pred_label, n) — label-count-squared rows. */
  def knnLabelEval(emb: DataFrame, id: String, label: String,
      holdout: Column, roundAt: Int = 4): DataFrame = {
    val eval = emb.filter(holdout)
      .select(col(id).as("q_id"), col("embedding").as("qv"),
        col(label).as("true_label"))
    val labeled = emb.filter(!holdout)
      .select(col(id).as("n_id"), col("embedding"),
        col(label).as("pred_label"))
    labeled.crossJoin(broadcast(eval))
      .select(col("q_id"), col("true_label"),
        struct(
          // nanvl: one zero-norm labeled neighbor must not win every
          // argmax and become the predicted label for the whole eval set
          round(nanvl(vec.cosine(col("embedding"), col("qv")), lit(-1.0)),
            roundAt).as("s"),
          (-col("n_id")).as("ni"),
          col("pred_label").as("pl")).as("cand"))
      .groupBy("q_id", "true_label")
      .agg(max("cand").as("best"))
      .groupBy(col("true_label"), col("best.pl").as("pred_label"))
      .agg(count(lit(1)).as("n"))
      // the matrix is label²-sized by construction: one partition +
      // local sort gives the same total order as orderBy without the
      // range-partitioner's sampling pass (one fewer job per eval)
      .coalesce(1)
      .sortWithinPartitions("true_label", "pred_label")
  }

  /** The anchor model collected to the driver and inlined as one
    * struct candidate per anchor — (−rounded-cosine, anchor id, cell):
    * `array_sort` over these is EXACTLY the old window's
    * `desc(acos), asc(anchor_id)` order (negated rounded cosine asc =
    * cosine desc; ties → lower id; nanvl(−1) keeps zero-norm vectors
    * ranked last as before), but the argmax is now a single narrow
    * expression — no crossJoin streaming corpus×anchors rows, no
    * per-id window shuffle (the kmeans `assignFull` device, which this
    * file already uses for k-means itself). The literal payload is
    * O(|anchors|·dim) — the same data the old plan broadcast. Literal
    * element types mirror the anchors frame so the cosine arithmetic
    * is bit-identical to the joined-column formulation. */
  private def anchorModel(anchors: DataFrame):
      (Array[Long], Array[Array[Double]], Array[Double]) = {
    import org.apache.spark.sql.types.{ArrayType, FloatType, LongType}
    val aidType = anchors.schema("anchor_id").dataType
    val isFloat = anchors.schema("av").dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    // try_cast, not cast: under ANSI a malformed value (string UUID
    // anchor ids) would throw CAST_INVALID_INPUT mid-collect — and with
    // ANSI off it would null out and NPE at getLong. Either way the
    // caller deserves a message naming the actual contract.
    val rows = anchors
      .select(col("anchor_id").try_cast(LongType).as("aid"), col("av"))
      .collect()
    require(rows.nonEmpty, "ivf assignment needs at least one anchor")
    require(rows.forall(!_.isNullAt(0)),
      s"ivf assignment needs numeric anchor_id values; got type $aidType " +
        "with values that do not cast to BIGINT (e.g. string UUIDs) — " +
        "map anchor_id to a dense numeric id before calling ivfAssign")
    val sorted = rows.sortBy(_.getLong(0))
    val aids = sorted.map(_.getLong(0))
    // widen anchor elements to double PER ELEMENT — VecDot's own rule,
    // so float grids keep bit-identical cosine arithmetic
    val mat = sorted.map { r =>
      if (isFloat) r.getSeq[Float](1).map(_.toDouble).toArray
      else r.getSeq[Double](1).toArray
    }
    // VecNorm's fold: sum of squares ascending, then sqrt
    val norms = mat.map { av =>
      var s = 0.0; var i = 0
      while (i < av.length) { s += av(i) * av(i); i += 1 }
      math.sqrt(s)
    }
    (aids, mat, norms)
  }

  /** IVF cell assignment: nearest anchor per vector (anchors inlined;
    * ties → lower anchor id). At scale this is written once as a
    * cell-bucketed table; assigning a 100 TB corpus is a single scan.
    * The argmax ranks on ROUNDED cosine (same rule as cosineTopK):
    * raw-double ranking is not reproducible across engines whose
    * summation order differs, and a flipped assignment changes the
    * candidate set downstream. */
  def ivfAssign(emb: DataFrame, anchors: DataFrame, id: String,
      roundAt: Int = 4): DataFrame = {
    // argmax via the fused VecNearestAnchors expression: same
    // (rounded-cosine desc, anchor-id asc) rule as the old per-anchor
    // struct least(), but the anchor matrix rides as ONE reference
    // object instead of |anchors| literal cosine subtrees — the plan,
    // the task binary and the generated code stay O(1) in the anchor
    // count (the literal form cost ~0.1-0.2s of task DESERIALIZATION
    // per task on every IVF stage, plus a per-plan Janino compile of
    // the unrolled candidates).
    val aidType = anchors.schema("anchor_id").dataType
    val (aids, mat, norms) = anchorModel(anchors)
    emb.withColumn("cell",
      element_at(vec.nearestAnchors(col("embedding"), aids, mat, norms,
        k = 1, roundAt = roundAt), 1).cast(aidType))
  }

  /** Multi-probe IVF assignment: one row per (vector, probed cell) for
    * the vector's `nprobe` nearest anchors — rank 1 is [[ivfAssign]]'s
    * home cell, rank 2 the second-nearest, etc. Same inlined-argmax
    * shape: sort the per-anchor candidates in one expression, slice the
    * top `nprobe`, posexplode — still one narrow scan, no window. */
  def ivfAssignProbes(emb: DataFrame, anchors: DataFrame, id: String,
      nprobe: Int, roundAt: Int = 4): DataFrame = {
    require(nprobe >= 1)
    // same fused argmax as ivfAssign, keeping the top nprobe: the
    // expression returns the probed anchor ids already in rank order
    val aidType = anchors.schema("anchor_id").dataType
    val (aids, mat, norms) = anchorModel(anchors)
    val probed = vec.nearestAnchors(col("embedding"), aids, mat, norms,
      k = nprobe, roundAt = roundAt)
    emb.select(col("*"), posexplode(probed))
      .withColumn("cell", col("col").cast(aidType))
      .withColumn("probe_rk", (col("pos") + 1).cast("int"))
      .drop("pos", "col")
  }

  /** All-pairs near-dup, bucketed: assign vectors to IVF cells and pair
    * only within a shared cell — candidate count drops from n²/2 to
    * Σ|cell|²/2 per probe. `nprobe = 2` (default) also pairs against
    * each vector's second-nearest cell, recovering most pairs that
    * straddle a cell boundary (both endpoints sit near it, so their
    * probe SETS usually intersect) for ~2× candidate mass — the same
    * recall/cost dial as multi-band LSH for text. Still an approximation
    * by design: [[nearDupPairs]] is the exact baseline it approximates,
    * and SimilaritySpec pins this variant's recall against it. A pair
    * colliding in several shared cells is emitted once (pair-key dedup
    * on fixed-width ids, never embeddings). */
  def nearDupPairsBucketed(emb: DataFrame, anchors: DataFrame, id: String,
      threshold: Double, nprobe: Int = 2): DataFrame = {
    val assigned = ivfAssignProbes(emb, anchors, id, nprobe)
      .select(col(id), col("embedding"), col("cell"),
        vec.norm(col("embedding")).as("nrm"))
      .filter(col("nrm") > 0) // see nearDupPairs: NaN would pass any threshold
    val a = assigned.select(col(id).as("id_a"), col("cell"),
      col("embedding").as("ea"), col("nrm").as("na"))
    val b = assigned.select(col(id).as("id_b"), col("cell"),
      col("embedding").as("eb"), col("nrm").as("nb"))
    a.join(b, Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("sim", vec.dot(col("ea"), col("eb")) / (col("na") * col("nb")))
      .filter(col("sim") >= threshold)
      .select("id_a", "id_b", "sim")
      .dropDuplicates("id_a", "id_b")
  }

  /** The paired-anchors artifact table of a persisted index. */
  def anchorsTableName(table: String): String = s"${table}__anchors"

  /** The paired-codebook artifact table of a persisted IVF-PQ index. */
  def pqTableName(table: String): String = s"${table}__pq"


  private def anchorFingerprintOf(rows: Array[org.apache.spark.sql.Row]): String = {
    // anchor_id follows ivfAssign's try_cast contract: any value that
    // casts to BIGINT is legal, including numeric STRINGS — fingerprint
    // them identically to their numeric form
    def aidOf(v: Any): Long = v match {
      case n: java.lang.Number => n.longValue()
      case other => String.valueOf(other).trim.toLong
    }
    val canon = rows
      .map(r => aidOf(r.get(0)) ->
        r.getSeq[Any](1).map(String.valueOf).mkString(","))
      .sortBy(_._1)
      .map { case (i, v) => s"$i:$v" }.mkString(";")
    md5Hex(canon)
  }

  private def pqFingerprint(model: PqModel): String = {
    val sb = new StringBuilder
    sb.append(model.m).append('|').append(model.sub)
    for (j <- model.codebooks.indices; c <- model.codebooks(j).indices) {
      sb.append(';').append(j).append(':').append(c).append(':')
      sb.append(model.codebooks(j)(c).mkString(","))
    }
    md5Hex(sb.toString)
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def tableProp(spark: org.apache.spark.sql.SparkSession,
      table: String, key: String): Option[String] =
    org.apache.spark.sql.GraftBridge.tableProperties(spark, table).get(key)

  /** Persist the grid WITH the index it was built with: the anchors as
    * `<table>__anchors` and the grid fingerprint as a `graft.grid_id`
    * table property on BOTH tables. An index version and its grid are
    * ONE artifact — [[storedAnchors]] reloads it by table name, and
    * every face that reads or grows the store takes its grid from there.
    *
    * Build ordering contract: the artifact is written BEFORE the index
    * data, and the index table's own `graft.grid_id` is stamped LAST
    * ([[stampGridId]]) — so a crash anywhere mid-build leaves a store
    * that REFUSES to serve (old-grid mismatch, missing table, or the
    * half-built check in [[storedAnchors]]), never one that silently
    * serves an arbitrary grid. */
  private def writeAnchorsArtifact(spark: org.apache.spark.sql.SparkSession,
      table: String, anchors: DataFrame): (String, DataFrame) = {
    // ONE collect serves the fingerprint, the artifact write AND the
    // returned local grid the build assigns with — fingerprinting one
    // execution of the anchors plan while assigning from another would
    // let a nondeterministic plan (limit/sample without order) stamp
    // grid A over B-assigned cells, and every later check would pass
    val proj = anchors.select(col("anchor_id"), col("av"))
    val rows = proj.collect()
    val gid = anchorFingerprintOf(rows)
    val at = anchorsTableName(table)
    val local = spark.createDataFrame(java.util.Arrays.asList(rows: _*), proj.schema)
    // the artifact is a driver-local, KB-sized grid — one write task and
    // one file; the default write fans a LocalRelation over the
    // parallelism (measured: 8 near-empty tasks per artifact write)
    local.coalesce(1).write.mode("overwrite").format("parquet").saveAsTable(at)
    spark.sql(s"ALTER TABLE $at SET TBLPROPERTIES ('graft.grid_id' = '$gid')")
    (gid, local)
  }

  /** The build-complete marker: stamping the index table with its grid
    * fingerprint is the LAST build step, after the data lands. */
  private def stampGridId(spark: org.apache.spark.sql.SparkSession,
      table: String, gid: String): Unit =
    spark.sql(s"ALTER TABLE $table SET TBLPROPERTIES ('graft.grid_id' = '$gid')")

  /** The anchor grid a persisted index was built with — loaded from the
    * paired `<table>__anchors` artifact after fingerprinting its CONTENT
    * against the index's own `graft.grid_id` (a swapped, half-updated,
    * or hand-edited artifact refuses instead of serving wrong cells).
    * Every face that reads or grows a persisted IVF(-PQ) store loads its
    * grid here, so pairing a store with the wrong grid is not
    * constructible. */
  def storedAnchors(spark: org.apache.spark.sql.SparkSession,
      table: String): DataFrame = {
    require(spark.catalog.tableExists(table),
      s"no such index table: $table")
    val at = anchorsTableName(table)
    require(spark.catalog.tableExists(at),
      s"index $table has no paired anchors artifact $at — built before " +
        "the artifact existed or half-built; rebuild the pair")
    val want = tableProp(spark, table, "graft.grid_id")
    require(want.nonEmpty,
      s"index $table records no graft.grid_id but artifact $at exists — " +
        "a build that crashed between the data write and the grid stamp; " +
        "rebuild the pair")
    // ONE collect serves the fingerprint check AND every downstream
    // probe/assign inlining (the serving faces would otherwise re-run
    // the artifact scan per call)
    val proj = spark.table(at).select(col("anchor_id"), col("av"))
    val rows = proj.collect()
    val got = anchorFingerprintOf(rows)
    require(want.contains(got),
      s"grid pairing broken for $table: index records grid " +
        s"${want.get}, artifact $at fingerprints as $got — rebuild the pair")
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), proj.schema)
  }

  /** Persist the IVF assignment as a cell-bucketed table: the one-off
    * build cost that turns every later search into a bucket-pruned scan.
    * At 100 TB the assignment pass runs once (or incrementally on new
    * vectors); searches then read ~nprobe/numBuckets of the data with no
    * shuffle (verified by SimilaritySpec via SelectedBucketsCount).
    * The grid is persisted WITH the index (`<table>__anchors` +
    * `graft.grid_id` on both) so the (index, grid) pairing is an
    * artifact, not caller discipline. */
  def ivfBuildIndex(emb: DataFrame, anchors: DataFrame, id: String,
      table: String, numBuckets: Int = 16, roundAt: Int = 4): Unit = {
    // artifact FIRST, data second, index grid-stamp LAST: every crash
    // window leaves a store the serving faces refuse (see
    // writeAnchorsArtifact's ordering contract)
    val (gid, grid) = writeAnchorsArtifact(emb.sparkSession, table, anchors)
    Layout.writeBucketed(ivfAssign(emb, grid, id, roundAt), table,
      bucketCols = Seq("cell"), numBuckets = numBuckets)
    stampGridId(emb.sparkSession, table, gid)
  }

  /** Incremental append to a persisted IVF index: assign ONLY the new
    * vectors against the store's OWN anchor grid ([[storedAnchors]]) and
    * append them to the bucketed store — the ingest path that grows a
    * deployed index by a batch without re-encoding the corpus (the ANN
    * twin of Dedup.incrementalLshPairs). Cost is batch-proportional: one
    * assignment scan over `newVecs` plus a bucketed append under the
    * catalog's bucket spec; the existing index files are never read or
    * rewritten, and because [[ivfAssign]] is a pure per-vector function
    * of (vector, anchors), the appended index is row-identical to a full
    * rebuild over old ∪ new (oracle-pinned by q209, spec-pinned for the
    * PQ twin).
    *
    * Returns the post-append [[ivfCellStats]] occupancy report: appended
    * batches follow the OLD centroids, so drifting data shows up as a
    * climbing max ratio_to_mean on the hot cells — the operator's signal
    * to re-train anchors and rebuild rather than keep appending. */
  def ivfIndexAppend(newVecs: DataFrame, id: String, table: String,
      roundAt: Int = 4): DataFrame =
    appendStored(newVecs, id, table, codes = false, roundAt)

  /** Incremental append to a persisted IVF-PQ codes index
    * ([[ivfPqBuildIndex]]'s table): assign + PQ-encode only the batch
    * under the store's own anchors and codebook ([[storedPqModel]]),
    * append the codes rows. Same equivalence argument as
    * [[ivfIndexAppend]] (assignment and encoding are pure per-vector
    * functions of the frozen model), same skew report — plus the
    * PQ-specific caveat that a frozen codebook's quantization error grows
    * as the data distribution drifts, which the cell-occupancy skew is
    * the cheap observable proxy for. */
  def ivfPqIndexAppend(newVecs: DataFrame, id: String, table: String,
      roundAt: Int = 4): DataFrame =
    appendStored(newVecs, id, table, codes = true, roundAt)

  private def appendStored(newVecs: DataFrame, id: String, table: String,
      codes: Boolean, roundAt: Int): DataFrame = {
    val spark = newVecs.sparkSession
    val grid = storedAnchors(spark, table)
    val model = if (codes) Some(storedPqModel(spark, table)) else None
    // batch-scoped maintenance session, same rationale as the LSH append
    // (GraftSession.maintenanceScope): the assignment and the write are
    // batch-bounded, so AQE's stage-per-job execution and the session's
    // static shuffle width only add driver round-trips. The returned
    // occupancy report is LAZY and runs on the caller's session, so
    // store-scale reads keep the caller's full conf.
    graft.GraftSession.maintenanceScope(spark, newVecs, writes = Seq(table)) {
        (_, batch) =>
      // the grid is driver state: ivfAssign collects it, never joins it
      Layout.appendBucketed(ivfRows(batch, grid, model, id, roundAt), table,
        batchParts = Some(batch.rdd.getNumPartitions))
    }
    ivfCellStats(spark, table, roundAt)
  }

  /** The rows an IVF store holds for `emb`: [[ivfAssign]]'s cell, plus —
    * for a codes store — the PQ codes in place of the float vector. */
  private[graft] def ivfRows(emb: DataFrame, anchors: DataFrame,
      model: Option[PqModel], id: String, roundAt: Int): DataFrame = {
    val assigned = ivfAssign(emb, anchors, id, roundAt)
    model.fold(assigned)(m => assigned
      .withColumn("codes", pqCodesCol(col("embedding"), m, roundAt))
      .drop("embedding"))
  }

  /** Re-train + rebuild for a drifted IVF index — the operator the
    * [[ivfCellStats]] skew report tells you to run: appended batches
    * follow the OLD centroids, so occupancy skew creeps up until the
    * probe reads stop pruning. Fits `k` fresh centroids over the STORED
    * vectors with [[kmeans]] (driver model state, one job per
    * iteration), rebuilds the bucketed store under `newTable` (a fresh
    * version — never an in-place overwrite of a table that is being
    * read from), and returns the new `(anchor_id, av)` anchors frame.
    * `newTable` carries its own grid artifact, so the stored faces serve
    * it by name alone.
    * Cost: the kmeans fits (iters scans) + one assignment scan + the
    * bucketed write — the amortized one-off [[ivfIndexAppend]] defers. */
  def ivfRetrain(spark: org.apache.spark.sql.SparkSession, table: String,
      newTable: String, id: String, k: Int, iters: Int = 3,
      numBuckets: Int = 16, roundAt: Int = 4): DataFrame = {
    require(table != newTable,
      "ivfRetrain rebuilds into a NEW table version: reading and " +
        "overwriting the same bucketed table is not a safe operation")
    // kmeans fits on the (id, embedding) projection, but the REBUILD
    // reads the full stored row minus the stale cell — payload columns
    // the v1 index carried (labels, source tags) survive into v2
    val stored = spark.table(table).drop("cell")
    val (_, centroids) =
      kmeans(stored.select(col(id), col("embedding")), id, k, iters)
    // centroids are driver state (a local relation) — the anchors frame
    // is k rows of O(dim) doubles, the same payload ivfAssign inlines
    val anchors = centroids
      .select(col("cluster").as("anchor_id"), col("cv").as("av"))
    ivfBuildIndex(stored, anchors, id, newTable, numBuckets, roundAt)
    anchors
  }

  /** Warm-start Lloyd refit of PQ codebooks over `(id, embedding)`
    * rows: each round is ONE scan — per-vector per-subspace codeword
    * assignment under the CURRENT codebooks (exactly
    * [[pqEncodeDetailCol]]'s rounded-distance, tie-to-lower-code rule),
    * then per-(subspace, codeword, dim) means fold into the next
    * codebooks on the driver (O(m·ksub·sub) doubles — model state, the
    * [[kmeans]] update device applied per subspace). A codeword that
    * attracted no vectors keeps its previous value, so the model shape
    * (m, ksub, sub) is invariant and the result always constructs.
    * Starting from the STORED model rather than fresh seeds is the
    * point: drift repair moves codewords toward where the data went,
    * monotonically reducing quantization error round over round. */
  /** Deterministic fixed-size sample of `(id, …)` rows for a codebook
    * refit: the `cap` rows with the smallest Knuth multiplicative hash
    * of the id, ties to the lower id. The hash is plain modular
    * arithmetic — `(id * 2654435761) % 2147483647` — NOT an engine
    * hash function, precisely so a cross-engine oracle can replay the
    * exact sample (`ORDER BY (id * 2654435761) % 2147483647, id
    * LIMIT cap` in ANSI SQL); ids are assumed non-negative (Spark's
    * `pmod` and SQL `%` agree there). Plans as a distributed top-N
    * (TakeOrdered), never a global sort. Codebook quality is
    * sample-stable — Lloyd means over a few hundred vectors land
    * within quantization noise of the full-corpus refit — which is
    * what makes [[ivfPqRetrain]]'s refit phase store-size-independent
    * when a cap is set. */
  def pqRefitSample(emb: DataFrame, id: String, cap: Int): DataFrame = {
    require(cap > 0, s"sample cap must be positive, got $cap")
    emb.orderBy(
      pmod(col(id).cast("long") * lit(2654435761L), lit(2147483647L)).asc,
      col(id).asc).limit(cap)
  }

  def pqRefitCodebooks(emb: DataFrame, model: PqModel, iters: Int,
      roundAt: Int = 4): PqModel = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    var cur = model
    for (_ <- 1 to iters) {
      val means = emb
        .select(col("embedding"),
          posexplode(pqEncodeDetailCol(col("embedding"), cur, roundAt)))
        .select(col("pos").as("j"), col("col.code").as("code"),
          posexplode(slice(col("embedding"),
            col("pos") * lit(cur.sub) + 1, lit(cur.sub))))
        .groupBy(col("j"), col("code"), col("pos").as("i"))
        .agg(avg(col("col").cast("double")).as("m"))
        .collect()
        .groupBy(r => (r.getInt(0), r.getLong(1)))
        .map { case ((j, c), rows) =>
          (j, c.toInt) -> rows.sortBy(_.getInt(2)).map(_.getDouble(3)).toArray
        }
      cur = PqModel(cur.m, cur.sub, Array.tabulate(cur.m) { j =>
        Array.tabulate(cur.ksub) { c =>
          means.getOrElse((j, c), cur.codebooks(j)(c))
        }
      })
    }
    cur
  }

  /** Codebook re-train + re-encode for a drifted IVF-PQ store — the
    * repair [[pqDriftStats]] tells you to run, and the PQ twin of
    * [[ivfRetrain]]: the anchor GRID is kept (cell skew is ivfRetrain's
    * domain; this closes the other half of the lifecycle — the frozen
    * codebook whose ADC error grows as appends drift), the codebooks
    * are warm-start refit over the STORED rows' float vectors
    * ([[pqRefitCodebooks]], `iters` one-scan rounds), and the store is
    * re-encoded into `newTable` — a fresh version, never an in-place
    * overwrite of a table being served. Payload columns the v1 rows
    * carried survive into v2; the stale codes are replaced.
    *
    * The store holds CODES, not floats, so the caller supplies the
    * float corpus (`vectors`) — and every stored id must be present in
    * it: a silent inner join would shrink the index on rebuild, so a
    * stored id with no vector refuses in-plan. Re-running into an
    * existing `newTable` un-stamps it FIRST (the lshBuildIndex rebuild
    * rule): every mid-rebuild crash window leaves a table the serving
    * faces refuse, never v1 artifacts paired with v2 codes. Returns
    * the refit model (also persisted as `newTable`'s own artifact).
    *
    * Cost: with `refitSampleCap = 0` (the cross-engine-exact default),
    * iters + 2 corpus scans + the bucketed write — fully
    * index-proportional. With a cap set, the refit phase runs over a
    * deterministic [[pqRefitSample]] of the stored vectors instead of
    * all of them, so the Lloyd rounds cost O(cap) and the only
    * index-proportional work left is the one re-encode pass + the
    * rewrite — the recommended deployment dial (a few hundred vectors
    * pin the codeword means; the sample is id-hash-deterministic, so
    * an oracle can still replay it exactly). */
  def ivfPqRetrain(spark: org.apache.spark.sql.SparkSession, table: String,
      newTable: String, vectors: DataFrame, id: String, iters: Int = 2,
      numBuckets: Int = 16, roundAt: Int = 4,
      refitSampleCap: Int = 0): PqModel = {
    require(table != newTable,
      "ivfPqRetrain rebuilds into a NEW table version: reading and " +
        "overwriting the same bucketed table is not a safe operation")
    val anchors = storedAnchors(spark, table)
    val model = storedPqModel(spark, table)
    if (spark.catalog.tableExists(newTable))
      spark.sql(s"ALTER TABLE $newTable UNSET TBLPROPERTIES IF EXISTS (" +
        "'graft.grid_id', 'graft.pq_id', 'graft.pq_err')")
    val stored = spark.table(table).drop("cell", "codes")
    val floats = vectors.select(col(id), col("embedding"))
    val joined = stored.join(floats, Seq(id), "left")
      .withColumn("embedding",
        when(col("embedding").isNotNull, col("embedding"))
          .otherwise(raise_error(concat(
            lit("ivfPqRetrain: stored id "), col(id).cast("string"),
            lit(" has no vector in the caller's frame — the rebuild " +
              "would silently drop it; pass the full float corpus")))))
      .localCheckpoint(true) // refit rounds + the rebuild share one join
    val proj = joined.select(col(id), col("embedding"))
    // the sample is materialized ONCE (one TakeOrdered pass over the
    // checkpointed join), so the Lloyd rounds iterate over cap rows —
    // without this each round would replay the top-N scan
    val fitRows =
      if (refitSampleCap > 0)
        pqRefitSample(proj, id, refitSampleCap).localCheckpoint(true)
      else proj
    val refit = pqRefitCodebooks(fitRows, model, iters, roundAt)
    ivfPqBuildIndex(joined, anchors, id, refit, newTable, numBuckets, roundAt)
    if (refitSampleCap > 0) Dedup.freeLocalCheckpoint(fitRows)
    Dedup.freeLocalCheckpoint(joined)
    refit
  }

  /** The WHEN of the codebook lifecycle: per-subspace quantization
    * error of the store's CURRENT contents under its own frozen
    * codebook, against the error stamped at build/retrain time
    * (`graft.pq_err`). Appends encode drifting data with old codewords,
    * so `drift_ratio` climbing above ~1 is the signal that ADC ranking
    * quality is decaying and [[ivfPqRetrain]] is due — the codebook
    * twin of [[ivfCellStats]]' occupancy skew (which only sees the
    * GRID drift). The store holds codes, not floats, so the caller
    * supplies the float corpus; ids absent from it are skipped and the
    * per-subspace `n_vectors` says how much of the store was measured.
    * ONE scan of the matched vectors (collision-free map-side encode +
    * a subspace-keyed partial agg — m·ksub-bounded output). */
  def pqDriftStats(spark: org.apache.spark.sql.SparkSession, table: String,
      vectors: DataFrame, id: String, roundAt: Int = 4): DataFrame = {
    val model = storedPqModel(spark, table)
    val stamped = tableProp(spark, table, "graft.pq_err").getOrElse(
      throw new IllegalArgumentException(
        s"index $table records no graft.pq_err baseline — built before " +
          "the drift signal existed; rebuild or retrain to stamp it"))
    val errBuild = stamped.split(",").map(_.toDouble).toSeq
    require(errBuild.length == model.m,
      s"graft.pq_err on $table has ${errBuild.length} entries for a " +
        s"model with m=${model.m} — artifact drift; rebuild the pair")
    val matched = vectors.select(col(id), col("embedding"))
      .join(spark.table(table).select(col(id)), Seq(id), "leftsemi")
    matched
      .select(posexplode(pqEncodeDetailCol(col("embedding"), model, roundAt)))
      .groupBy(col("pos").as("subspace"))
      .agg(count(lit(1)).as("n_vectors"), avg(col("col.d")).as("__e"))
      .select(col("subspace"), col("n_vectors"),
        round(col("__e"), roundAt).as("err_now"),
        element_at(typedLit(errBuild), col("subspace") + 1).as("err_build"))
      // ratio of the ROUNDED error to the (rounded) stamp — comparing
      // the unrounded average against a rounded baseline would report
      // phantom ±1e-4 drift on an unchanged corpus
      .withColumn("drift_ratio",
        when(col("err_build") > 0,
          round(col("err_now") / col("err_build"), roundAt)))
      .orderBy("subspace")
  }

  /** Per-cell occupancy of a persisted IVF(-PQ) index: vectors per cell
    * and each cell's ratio to the mean occupancy — the skew report that
    * tells an operator when the anchor grid has drifted from the data
    * (one cell absorbing appends ⇒ its probe reads stop pruning; time to
    * re-train + rebuild). ONE count agg over the index's cell column
    * (column-pruned, partial-aggregable); the mean rides an
    * unpartitioned window over the post-agg frame — |cells| rows, anchor
    * -grid-sized, so the single-partition window is trivially safe and
    * the index is scanned exactly once. */
  def ivfCellStats(spark: org.apache.spark.sql.SparkSession, table: String,
      roundAt: Int = 4): DataFrame = {
    val all = Window.partitionBy()
    spark.table(table).groupBy("cell")
      .agg(count(lit(1)).as("n_vectors"))
      .select(col("cell"), col("n_vectors"),
        round(col("n_vectors") / avg("n_vectors").over(all), roundAt)
          .as("ratio_to_mean"))
      .orderBy("cell")
  }

  /** The ONE probe-cell ranking all search paths share: anchors by
    * rounded query cosine desc, anchor id asc, NaN (zero-norm) → -1 so
    * degenerate anchors rank last deterministically — the same rule as
    * [[ivfAssign]]'s cell argmax. Returns the `nprobe`-row (cell)
    * frame; collect it where an `IN` pushdown is wanted. */
  private def probeCellsDf(anchors: DataFrame, qLit: Column, nprobe: Int,
      roundAt: Int): DataFrame =
    anchors
      .select(col("anchor_id"),
        round(nanvl(vec.cosine(col("av"), qLit), lit(-1.0)), roundAt).as("qcos"))
      .orderBy(desc("qcos"), asc("anchor_id"))
      .limit(nprobe)
      .select(col("anchor_id").as("cell"))

  /** Top-k against a persisted IVF index, by table name alone: probe
    * cells are resolved from the index's OWN grid ([[storedAnchors]]),
    * then the bucketed table is scanned with a `cell IN (...)` filter
    * that prunes to the probed buckets. */
  def ivfSearchStored(spark: org.apache.spark.sql.SparkSession,
      table: String, id: String, queryVec: Array[Float], nprobe: Int,
      k: Int, roundAt: Int = 4, excludeId: Option[Long] = None): DataFrame = {
    val qLit = typedLit(queryVec.toSeq)
    val cells = probeCellsDf(storedAnchors(spark, table), qLit, nprobe, roundAt)
      .collect().map(_.getAs[Number]("cell").longValue())
    val base = spark.table(table).filter(col("cell").isin(cells.toIndexedSeq: _*))
    excludeId.fold(base)(x => base.filter(col(id) =!= x)) // self-match drop
      .withColumn("sim",
        round(nanvl(vec.cosine(col("embedding"), qLit), lit(-1.0)), roundAt))
      .orderBy(desc("sim"), asc(id))
      .limit(k)
  }

  /** Batch-of-queries serving against a persisted IVF index: ONE
    * bucket-pruned scan of the stored table answers EVERY query vector
    * in `queries` — the serving-tier shape, vs [[ivfSearchStored]]'s
    * one-scan-per-call. Per query the semantics are IDENTICAL to the
    * per-query face (SimilaritySpec pins row equality): probe cells =
    * top-`nprobe` anchors by rounded cosine with [[probeCellsDf]]'s tie
    * rule, candidates = stored rows in that query's probed cells, exact
    * top-k by (rounded sim DESC, id ASC).
    *
    * Scale shape: the (q_id, cell) probe table is driver-collected —
    * bounded by |batch| × nprobe, never by the corpus — and broadcast
    * into the scan; the UNION of probed cells prunes buckets
    * (`cell IN (...)`, SelectedBucketsCount); each query's top-k is a
    * bounded heap ([[graft.functions.BoundedTopKPairs]]) inside ONE
    * grouped aggregation — no rank window, no per-query scan.
    * PlanAuditSpec pins the stored-table scan count query-count-
    * independent. A query whose probed cells hold no rows (or that is
    * absent after `excludeSelf`) returns no rows, exactly like the
    * per-query face. Output: (query_id, rank, <id>, sim), rank 1-based
    * best-first. */
  def ivfSearchStoredBatch(spark: org.apache.spark.sql.SparkSession,
      table: String, id: String, queries: DataFrame, qId: String,
      qVec: String, nprobe: Int, k: Int, roundAt: Int = 4,
      excludeSelf: Boolean = false): DataFrame = {
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    require(k >= 1, s"k must be >= 1, got $k")
    val anchors = storedAnchors(spark, table)
    val stored = spark.table(table)
    requireIntegralId(stored, id, "ivfSearchStoredBatch index table")
    requireIntegralId(queries.select(col(qId).as(qId)), qId,
      "ivfSearchStoredBatch query batch")
    import spark.implicits._
    // ONE execution of the caller's queries plan, re-shipped as a local
    // relation (the writeAnchorsArtifact device): probe ranking and the
    // final scoring join MUST see the same (q_id, qv) rows — a
    // nondeterministic queries frame (limit/sample without order)
    // evaluated twice could pair probe cells from one evaluation with
    // vectors from another, returning plausible wrong neighbors
    val qProj = queries.select(col(qId).cast("long").as("q_id"),
      col(qVec).as("qv"))
    val qRows = qProj.collect()
    // duplicate q_id values would have their candidate sets MERGED by
    // the per-query heap groupBy — one blended top-k attributed to both
    // rows, no error. The batch is already on the driver: refuse loudly,
    // the tableDiff one-row-per-key rule.
    val dupIds = qRows.groupBy(_.getLong(0)).collect {
      case (qid, rows) if rows.length > 1 => qid
    }
    require(dupIds.isEmpty,
      s"ivfSearchStoredBatch query batch has duplicate $qId value(s) " +
        s"${dupIds.toSeq.sorted.take(5).mkString(", ")} — each query " +
        "vector needs a distinct id (duplicates would merge into one " +
        "blended top-k); dedup the batch first")
    val q = spark.createDataFrame(
      java.util.Arrays.asList(qRows: _*), qProj.schema)
    // per-query probe cells, driver-collected once: |batch| × nprobe
    // pairs — serving-tier metadata, not data volume
    val probePairs = probeRanks(anchors, q, nprobe, roundAt)
      .select(col("q_id"), col("cell").cast("long").as("cell"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toIndexedSeq
    val cells = probePairs.map(_._2).distinct
    val probeDf = broadcast(probePairs.toDF("q_id", "cell"))
    val scored = stored
      .filter(col("cell").isin(cells: _*)) // bucket-pruned union scan
      .join(probeDf, stored("cell").cast("long") === probeDf("cell"))
      .join(broadcast(q), Seq("q_id"))
      .withColumn("sim",
        round(nanvl(vec.cosine(col("embedding"), col("qv")), lit(-1.0)), roundAt))
    val filtered =
      if (excludeSelf) scored.filter(col(id).cast("long") =!= col("q_id"))
      else scored
    filtered
      .groupBy("q_id")
      .agg(topKPairs(col("sim"), col(id).cast("long"), col("sim"), k).as("top"))
      .select(col("q_id").as("query_id"),
        posexplode(col("top")).as(Seq("r", "p")))
      .select(col("query_id"),
        (col("r") + 1).cast("int").as("rank"),
        col("p.id").as(id), col("p.payload").as("sim"))
      .orderBy("query_id", "rank")
  }

  /** The serving faces' id contract: per-query top-k ties break on the
    * id's NATIVE order while the batched/bounded-heap faces order on
    * the id cast to BIGINT — identical only for integral types. A
    * string or fractional id would also null/truncate under the cast
    * and silently shrink the candidate set, so refuse loudly. */
  private def requireIntegralId(df: DataFrame, id: String,
      context: String): Unit = {
    val dt = df.schema(id).dataType
    val ok = dt == org.apache.spark.sql.types.ByteType ||
      dt == org.apache.spark.sql.types.ShortType ||
      dt == org.apache.spark.sql.types.IntegerType ||
      dt == org.apache.spark.sql.types.LongType
    require(ok, s"$context: id column '$id' must be an integral type " +
      s"(the bounded top-k heaps rank on it as BIGINT), got ${dt.simpleString}")
  }

  /** Persist the composed IVF-PQ index: the cell-bucketed CODES table —
    * (id [, payload], cell, codes), no float vectors — the artifact a
    * billion-vector deployment serves from. One pass assigns cells and
    * encodes; `Layout.writeBucketed` makes every search's
    * `cell IN (probed)` filter prune to ~nprobe/numBuckets of the files
    * (SelectedBucketsCount, asserted in SimilaritySpec). */
  def ivfPqBuildIndex(emb: DataFrame, anchors: DataFrame, id: String,
      model: PqModel, table: String, numBuckets: Int = 16,
      roundAt: Int = 4): Unit = {
    val spark = emb.sparkSession
    // both artifacts FIRST, codes data second, index stamps LAST —
    // same crash-refuses-to-serve ordering as ivfBuildIndex
    val (gid, grid) = writeAnchorsArtifact(spark, table, anchors)
    val pid = writePqArtifact(spark, table, model)
    Layout.writeBucketed(ivfRows(emb, grid, Some(model), id, roundAt),
      table, bucketCols = Seq("cell"), numBuckets = numBuckets)
    // the drift BASELINE ([[pqDriftStats]]): per-subspace mean encode
    // error of the build corpus under this codebook — one extra agg
    // scan, a build-time one-off. Stamped with the completion marker so
    // a crash before it leaves a store the serving faces refuse anyway.
    val err = pqSubspaceErr(emb, model, roundAt)
    stampGridId(spark, table, gid)
    spark.sql(s"ALTER TABLE $table SET TBLPROPERTIES (" +
      s"'graft.pq_id' = '$pid', 'graft.pq_err' = '${err.mkString(",")}')")
  }

  /** Per-subspace mean quantization error of `emb` under `model` —
    * the [[pqDriftStats]] arithmetic, shared by the build-time stamp
    * and the drift probe. */
  private def pqSubspaceErr(emb: DataFrame, model: PqModel,
      roundAt: Int): Array[Double] = {
    val got = emb
      .select(posexplode(pqEncodeDetailCol(col("embedding"), model, roundAt)))
      .groupBy(col("pos")).agg(avg(col("col.d")).as("e"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    Array.tabulate(model.m)(j => roundHalfUp(got.getOrElse(j, 0.0), roundAt))
  }

  /** Persist the codebook WITH the codes it encoded (`<table>__pq`,
    * rows (j, code, cw)) plus a `graft.pq_id` fingerprint property —
    * the PQ half of the one-artifact pairing rule. The index table's
    * own stamp is the caller's LAST build step. */
  private def writePqArtifact(spark: org.apache.spark.sql.SparkSession,
      table: String, model: PqModel): String = {
    import spark.implicits._
    val pid = pqFingerprint(model)
    val pt = pqTableName(table)
    // driver-local, KB-sized codebook: one write task, one file (the
    // default write fanned it over defaultParallelism — measured 32
    // near-empty tasks paying ~0.1s task-deserialization each)
    model.codebooks.zipWithIndex.flatMap { case (cb, j) =>
      cb.zipWithIndex.map { case (cw, c) => (j, c, cw.toSeq) }
    }.toIndexedSeq.toDF("j", "code", "cw").coalesce(1)
      .write.mode("overwrite").format("parquet").saveAsTable(pt)
    spark.sql(s"ALTER TABLE $pt SET TBLPROPERTIES ('graft.pq_id' = '$pid')")
    pid
  }

  /** The [[PqModel]] a persisted codes table was encoded with — loaded
    * from the paired `<table>__pq` artifact, fingerprint-checked
    * against the index's own `graft.pq_id`. */
  def storedPqModel(spark: org.apache.spark.sql.SparkSession,
      table: String): PqModel = {
    val pt = pqTableName(table)
    require(spark.catalog.tableExists(pt),
      s"index $table has no paired codebook artifact $pt — not a codes " +
        "store, or built before the artifact existed; rebuild the pair")
    val rows = spark.table(pt).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
    // a torn or hand-edited artifact must refuse with the same "rebuild
    // the pair" message as a fingerprint mismatch — not crash opaquely
    // on max/apply while constructing the model
    def corrupt(what: String): Nothing =
      throw new IllegalArgumentException(
        s"codebook artifact $pt is corrupt: $what — rebuild the pair")
    if (rows.isEmpty) corrupt("no rows")
    val m = rows.map(_._1).max + 1
    val codebooks = Array.tabulate(m) { j =>
      rows.filter(_._1 == j).sortBy(_._2).map(_._3)
    }
    codebooks.zipWithIndex.foreach { case (cb, j) =>
      if (cb.isEmpty) corrupt(s"subspace $j has no codewords")
      if (cb.map(_.length).distinct.length != 1 ||
          cb.length != codebooks(0).length)
        corrupt(s"subspace $j has a ragged codeword set")
      if (!cb.indices.forall(c => rows.exists(r => r._1 == j && r._2 == c)))
        corrupt(s"subspace $j is missing code indices")
    }
    if (codebooks(0)(0).isEmpty) corrupt("zero-width codewords")
    if (codebooks.flatten.map(_.length).distinct.length != 1)
      corrupt("subspace codeword widths differ")
    val model = PqModel(m, codebooks(0)(0).length, codebooks)
    val want = tableProp(spark, table, "graft.pq_id")
    val got = pqFingerprint(model)
    require(want.contains(got),
      s"codebook pairing broken for $table: index records " +
        s"${want.getOrElse("<none>")}, artifact $pt reloads as $got — " +
        "rebuild the pair")
    model
  }

  /** Batch-of-queries serving against a persisted IVF-PQ codes index
    * ([[ivfPqBuildIndex]]'s table) — the PQ twin of
    * [[ivfSearchStoredBatch]]: N query vectors answered from ONE
    * bucket-pruned scan of the m-byte codes, with the stored grid AND
    * codebook loaded from the index's own artifacts (a mismatched pair
    * is not constructible). Per query the semantics are IDENTICAL to
    * serving each vector through the per-query chain (probe →
    * ADC-top-`refine` → exact re-rank → top-k; SimilaritySpec pins row
    * equality against [[ivfPqTopK]] on indexed query ids):
    * probe cells by rounded anchor cosine with the [[probeCellsDf]] tie
    * rule, ADC over each query's own LUT, candidates by (adist ASC, id
    * ASC), final ranking by (exact sim DESC, id ASC). Rows whose id
    * equals their query's id are dropped (the [[pqTopKImpl]] self-drop).
    *
    * Scale shape: probe metadata is |batch| × nprobe driver pairs; the
    * per-query ADC LUTs ship as ONE broadcast map literal (|batch| ×
    * m·ksub doubles — model state); the union-of-cells `IN` prunes
    * buckets (SelectedBucketsCount); each query's ADC top-`refine` is a
    * bounded heap in one grouped aggregation (score = NEGATED adist);
    * the exact re-rank joins the ≤|batch|·refine candidates against the
    * float `vectors` frame as the BROADCAST side (the id-bounded
    * lookup — at deployment the vector table is id-bucketed), and the
    * final top-k window sorts ≤refine rows per query — candidate-
    * bounded, never corpus-bounded. Output: (query_id, rank, <id>,
    * adist, sim), rank 1-based best-first. */
  def ivfPqSearchStoredBatch(spark: org.apache.spark.sql.SparkSession,
      table: String, vectors: DataFrame, id: String, queries: DataFrame,
      qId: String, qVec: String, nprobe: Int, refine: Int, k: Int,
      roundAt: Int = 4): DataFrame = {
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    require(refine >= 1, s"refine must be >= 1, got $refine")
    require(k >= 1, s"k must be >= 1, got $k")
    val anchors = storedAnchors(spark, table)
    val model = storedPqModel(spark, table)
    val stored = spark.table(table)
    requireIntegralId(stored, id, "ivfPqSearchStoredBatch index table")
    requireIntegralId(vectors, id, "ivfPqSearchStoredBatch vectors frame")
    requireIntegralId(queries.select(col(qId).as(qId)), qId,
      "ivfPqSearchStoredBatch query batch")
    import spark.implicits._
    // ONE execution of the caller's queries plan, re-shipped as a local
    // relation (the ivfSearchStoredBatch device): probe ranking, the
    // LUT map, and the re-rank join must all see the same (q_id, qv)
    // rows — and duplicate q_id values would merge two queries'
    // candidate heaps into one blended top-k, so they refuse
    val qProj = queries.select(col(qId).cast("long").as("q_id"),
      col(qVec).as("qv"))
    val qRows = qProj.collect()
    val dupIds = qRows.groupBy(_.getLong(0)).collect {
      case (qid, rows) if rows.length > 1 => qid
    }
    require(dupIds.isEmpty,
      s"ivfPqSearchStoredBatch query batch has duplicate $qId value(s) " +
        s"${dupIds.toSeq.sorted.take(5).mkString(", ")} — each query " +
        "vector needs a distinct id; dedup the batch first")
    val outSchema = Seq("query_id", "rank", id, "adist", "sim")
    if (qRows.isEmpty)
      return Seq.empty[(Long, Int, Long, Double, Double)]
        .toDF(outSchema: _*)
    val q = spark.createDataFrame(
      java.util.Arrays.asList(qRows: _*), qProj.schema)
    // driver model state: one flat ADC LUT per query vector, shipped as
    // a SINGLE typed map literal — building it from per-element lit()
    // nodes would put |batch|·m·ksub expression nodes in the tree
    // (≈262k at batch=64, m=16, ksub=256), and analysis/codegen over
    // that dominates wall clock long before the data does
    val lutMap = typedLit(qRows.map { r =>
      val qid = r.getLong(0)
      val qd = r.getSeq[Float](1).map(_.toDouble).toArray
      require(qd.length == model.m * model.sub,
        s"query dim != model dim for $qId=$qid")
      qid -> flatAdcLut(model, qd).toSeq
    }.toMap)
    val probePairs = probeRanks(anchors, q, nprobe, roundAt)
      .select(col("q_id"), col("cell").cast("long").as("cell"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toIndexedSeq
    val cells = probePairs.map(_._2).distinct
    val probeDf = broadcast(probePairs.toDF("q_id", "cell"))
    val cands = stored
      .filter(col("cell").isin(cells: _*)) // bucket-pruned union scan
      .join(probeDf, stored("cell").cast("long") === probeDf("cell"))
      .filter(col(id).cast("long") =!= col("q_id")) // per-query self-drop
      .withColumn("adist",
        adcDistFromLut(model, element_at(lutMap, col("q_id")), id, roundAt))
      .groupBy("q_id")
      .agg(topKPairs(-col("adist"), col(id).cast("long"), col("adist"),
        refine).as("cand"))
      .select(col("q_id"), explode(col("cand")).as("c"))
      .select(col("q_id"), col("c.id").as("__cid"),
        col("c.payload").as("adist"))
    // exact re-rank: the candidate frame (≤ |batch|·refine rows) is the
    // BROADCAST side; the corpus-sized float table streams once
    val w = Window.partitionBy("q_id").orderBy(desc("sim"), asc("__cid"))
    broadcast(cands)
      .join(vectors.select(col(id).cast("long").as("__cid"),
        col("embedding")), Seq("__cid"))
      .join(broadcast(q), Seq("q_id"))
      .withColumn("sim",
        round(nanvl(vec.cosine(col("embedding"), col("qv")), lit(-1.0)),
          roundAt))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id").as("query_id"), col("rank").cast("int").as("rank"),
        col("__cid").as(id), col("adist"), col("sim"))
      .orderBy("query_id", "rank")
  }

  /** Lloyd's k-means over `(id, embedding: array<float>)` — the
    * clustering pass that turns hash-picked IVF anchors into LEARNED
    * cell centroids (tighter cells → better recall at the same nprobe),
    * and the baseline corpus-exploration tool (topic buckets, dedup
    * stratification).
    *
    * Deterministic by construction: seeds are the `k` vectors with the
    * lowest md5(id) (hash-random, reproducible on any engine and
    * partitioning — same device as the deterministic samplers q71/q103);
    * assignment breaks distance ties on the lower cluster id; per-vector
    * distances are sequential-sum doubles, so they never depend on
    * partitioning. Mean updates aggregate per (cluster, dimension) —
    * float-summation order across partitions can differ between RUNS at
    * the last-ulp level, which matters only for vectors equidistant to
    * two centroids (SimilaritySpec pins exact determinism on the real
    * corpus).
    *
    * Scale shape: centroid state is O(k·d) and lives on the driver
    * between iterations (it is the MODEL, not data); each iteration is
    * one broadcast-join scan (assignment) + one (cluster, dim)-keyed
    * aggregate (update) — no quadratic stage anywhere. Empty clusters
    * keep their previous centroid.
    *
    * Returns (assignments `(id, cluster, dist2)`, centroids
    * `(cluster, centroid: array<double>)`). */
  def kmeans(emb: DataFrame, id: String, k: Int, iters: Int): (DataFrame, DataFrame) = {
    require(k > 0 && iters >= 0)
    val spark = emb.sparkSession
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._

    val vecs = emb.select(col(id), col("embedding"))
    var centroids: Array[(Long, Array[Double])] =
      vecs.withColumn("__h", md5(col(id).cast("string")))
        .orderBy("__h", id).limit(k)
        .select(col("embedding")).collect()
        .zipWithIndex
        .map { case (r, i) =>
          i.toLong -> r.getSeq[Float](0).map(_.toDouble).toArray
        }

    def centroidDf: DataFrame = spark.createDataFrame(
      java.util.Arrays.asList(
        centroids.map { case (c, v) => Row(c, v.toSeq) }: _*),
      StructType(Seq(StructField("cluster", LongType),
        StructField("cv", ArrayType(DoubleType)))))

    // nearest centroid per vector as ONE narrow expression (the PQ
    // pattern, pqEncodeDetailCol): the O(k·d) centroid model is inlined
    // as a literal array, the argmin is array_min over (dist2, cluster)
    // structs — same dist2 arithmetic and same tie-to-lower-cluster rule
    // as the previous window form, but no crossJoin, no per-id shuffle,
    // no re-join for the update step. Assigning a 100 TB corpus is a
    // single scan. ||x - c||² = dot(x,x) - 2·dot(x,c) + dot(c,c)
    def assignFull(cs: Array[(Long, Array[Double])]): DataFrame = {
      val cArr = typedLit(cs.map { case (c, v) => (c, v.toSeq) }.toSeq)
      vecs
        .withColumn("__best", array_min(transform(cArr, c =>
          struct(
            (vec.dot(col("embedding"), col("embedding"))
              - lit(2.0) * vec.dot(col("embedding"), c.getField("_2"))
              + vec.dot(c.getField("_2"), c.getField("_2"))).as("dist2"),
            c.getField("_1").as("cluster")))))
        .select(col(id), col("__best.cluster").as("cluster"),
          col("__best.dist2").as("dist2"), col("embedding"))
    }

    for (_ <- 1 to iters) {
      val means = assignFull(centroids)
        .select(col("cluster"), posexplode(col("embedding")))
        .groupBy("cluster", "pos")
        .agg(avg(col("col").cast("double")).as("m"))
        .collect()
        .groupBy(_.getLong(0))
        .map { case (c, rows) =>
          c -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toArray
        }
      centroids = centroids.map { case (c, prev) => c -> means.getOrElse(c, prev) }
    }
    (assignFull(centroids).select(col(id), col("cluster"), col("dist2")), centroidDf)
  }

  /** Product-quantization model: `codebooks(j)(c)` is codeword `c` of
    * subspace `j` (`sub = dim/m` doubles each). O(m·ksub·sub) doubles —
    * model state like k-means centroids, held on the driver and shipped
    * into expressions as literals, never joined. */
  final case class PqModel(m: Int, sub: Int, codebooks: Array[Array[Array[Double]]]) {
    require(m >= 1 && codebooks.length == m && codebooks.forall(_.nonEmpty))
    // ragged models mis-encode silently (zip_with null-pads short
    // codewords, corrupting ranks) — reject at construction instead
    require(codebooks.forall(_.length == codebooks(0).length),
      "all subspaces must hold the same number of codewords")
    require(codebooks.forall(_.forall(_.length == sub)),
      s"every codeword must have dimension sub=$sub")
    def ksub: Int = codebooks(0).length
  }

  /** Sampled PQ codebooks from an anchors frame `(anchor_id, av)`: each
    * anchor vector is cut into `m` equal subvectors; slice `j` of anchor
    * `c` becomes codeword `c` of subspace `j` (codeword ids = 0-based
    * anchor rank by id). Data-sampled codebooks are the zero-training PQ
    * baseline (any codebook is a valid PQ model); swap in per-subspace
    * k-means centroids via [[kmeans]] when recall needs it. */
  def pqCodebooksSampled(anchors: DataFrame, m: Int): PqModel = {
    val vecs = anchors.orderBy("anchor_id").select("av").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    require(vecs.nonEmpty, "pqCodebooksSampled: empty anchors")
    val dim = vecs.head.length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sub = dim / m
    PqModel(m, sub, Array.tabulate(m)(j => vecs.map(_.slice(j * sub, (j + 1) * sub))))
  }

  /** Per-subspace PQ assignment as ONE map-side expression over the
    * embedding column: `array<struct<d: double, code: bigint>>`, element
    * `j` = (rounded squared distance, codeword) chosen for subspace `j`.
    * The argmin is an `array_sort` of (d, code) structs — rounded-first
    * ranking with ties to the lower code, the same cross-engine rule as
    * [[ivfAssign]]. No shuffle, no window, no join: encoding a 100 TB
    * corpus is a single scan with the O(m·ksub·sub) codebook inlined. */
  def pqEncodeDetailCol(embedding: Column, model: PqModel, roundAt: Int = 4): Column = {
    // fused per-subspace argmin (graft.functions.PqEncodeDetail): the
    // codebooks ride as ONE reference object instead of m·ksub literal
    // arrays + zip_with/aggregate lambdas — the literal form was
    // O(m·ksub·sub) plan nodes (seconds of task deserialization per
    // encode stage) and its higher-order lambdas evaluated interpreted
    // on the encode hot path. Equivalence notes live on the expression.
    val enc = graft.functions.vec.pqEncodeDetail(
      embedding, model.codebooks, roundAt)
    // dim mismatch vs the fitted model would null-pad zip_with, make d2
    // NULL for EVERY codeword and silently encode the subspace as code 0
    // — a corrupt index the downstream okCodes range check cannot catch
    // (0 is valid). Refuse mixed-dim input loudly at encode time.
    val dim = model.m * model.sub
    when(size(embedding) === dim, enc)
      .otherwise(raise_error(format_string(
        s"pq model expects dim=$dim vectors, got %s", size(embedding).cast("string"))))
  }

  /** PQ codes only: `array<bigint>` of length m — the persisted index
    * payload (m bytes-ish per vector vs 4·dim for the raw floats; 32×
    * compression at dim=64, m=4 with byte codes). */
  def pqCodesCol(embedding: Column, model: PqModel, roundAt: Int = 4): Column =
    transform(pqEncodeDetailCol(embedding, model, roundAt), s => s.getField("code"))

  private def roundHalfUp(x: Double, scale: Int): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(scale, java.math.RoundingMode.HALF_UP).doubleValue()

  /** The ADC arithmetic shared by [[pqTopKImpl]] and [[ivfPqRecallEval]]:
    * the query's per-(subspace, codeword) squared distances form an
    * O(m·ksub) driver-side LUT (roundHalfUp to 6 dp — the same decimal
    * rule as engine ROUND); each vector's approximate distance is the
    * m-term lookup sum over its `codes` column, accumulated in subspace
    * order, rounded to `roundAt` for ranking.
    *
    * A persisted index can drift from the model (retrained codebooks,
    * truncated arrays): out-of-range codes would make element_at return
    * NULL, and NULL adist sorts FIRST ascending — corrupt rows would
    * silently fill every candidate slot. Fail loudly instead. */
  private def adcDistCol(model: PqModel, q: Array[Double], id: String,
      roundAt: Int): Column =
    adcDistFromLut(model, typedLit(flatAdcLut(model, q).toSeq), id, roundAt)

  /** One query's ADC LUT, flattened `[j * ksub + code]` — the layout
    * [[adcDistFromLut]] indexes, and the per-query value of the
    * broadcast LUT map in the batched [[ivfPqRecallEval]]. */
  private def flatAdcLut(model: PqModel, q: Array[Double]): Array[Double] =
    Array.tabulate(model.m * model.ksub) { idx =>
      val j = idx / model.ksub
      val cw = model.codebooks(j)(idx % model.ksub)
      var s = 0.0
      var i = 0
      while (i < model.sub) {
        val dlt = q(j * model.sub + i) - cw(i); s += dlt * dlt; i += 1
      }
      roundHalfUp(s, 6)
    }

  /** The m-term ADC lookup sum over a flat LUT column (a literal for a
    * single query; `element_at(lutMap, q_id)` for a batch). */
  private def adcDistFromLut(model: PqModel, lutq: Column, id: String,
      roundAt: Int): Column = {
    val adist = (0 until model.m).map { j =>
      element_at(lutq,
        (lit(j * model.ksub) + element_at(col("codes"), j + 1) + 1).cast("int"))
    }.reduce(_ + _)
    val okCodes = size(col("codes")) === model.m &&
      forall(col("codes"), c => c >= 0 && c < model.ksub)
    when(okCodes, round(adist, roundAt)).otherwise(raise_error(
      format_string(s"pq codes/model mismatch (m=${model.m} ksub=${model.ksub}) at id=%s",
        col(id).cast("string"))))
  }

  /** PQ top-k by asymmetric distance computation (ADC) with exact
    * re-rank: the query's per-(subspace, codeword) squared distances form
    * an O(m·ksub) lookup table computed on the driver (model state); each
    * corpus vector's approximate distance is the sum of m table lookups
    * on its codes, and only the `refine` best candidates pay an exact
    * cosine before the final top-k.
    *
    * This convenience entry ENCODES on the fly (one pass over the float
    * vectors — fine for one-off queries and for the oracle, which replays
    * exactly this). The deployment shape is [[pqTopKIndexed]] over a
    * persisted codes frame, where the ADC scan reads the m-byte codes
    * column instead of the 256-byte vectors — the memory/bandwidth lever
    * that makes billion-vector search feasible (IVF-PQ = partition the
    * scan by [[ivfAssign]] cells on top of this).
    *
    * Determinism: LUT entries are rounded to 6 dp (driver BigDecimal
    * HALF_UP — the same decimal rule as engine ROUND), the m-term sum is
    * accumulated in subspace order, and both rank keys (`adist`, `sim`)
    * are rounded before ordering with id tie-breaks. */
  def pqTopK(emb: DataFrame, id: String, queryId: Long, model: PqModel,
      refine: Int, k: Int, roundAt: Int = 4): DataFrame =
    pqTopKIndexed(
      emb.withColumn("codes", pqCodesCol(col("embedding"), model, roundAt))
        .drop("embedding"),
      emb.select(col(id), col("embedding")),
      id, queryId, model, refine, k, roundAt)

  /** PQ ADC top-k over a PRE-ENCODED index — the deployment path (the
    * `incrementalLshPairsIndexed` precedent): `codes` is the persisted
    * index frame `(id, codes [, payload cols])` whose ADC scan reads the
    * m-byte codes and never the float vectors; `vectors` `(id,
    * embedding)` is consulted only for the query vector and the exact
    * re-rank of the top-`refine` candidates (an id-bounded broadcast
    * join — at deployment the vector table is id-bucketed, so that
    * lookup prunes). The query embedding is collected once and inlined
    * as literals (LUT + float-array literal for the re-rank — identical
    * arithmetic to scanning it). An absent `queryId` yields an empty
    * result, the cosineTopK/ivfTopK contract. Output: the index frame's
    * payload columns + (adist, sim), top-k by exact cosine. */
  def pqTopKIndexed(codes: DataFrame, vectors: DataFrame, id: String,
      queryId: Long, model: PqModel, refine: Int, k: Int,
      roundAt: Int = 4): DataFrame = {
    val qRows = vectors.filter(col(id) === queryId).select("embedding").take(1)
    pqTopKImpl(codes, vectors, id, queryId, model, refine, k, roundAt,
      qRows.headOption.map(_.getSeq[Float](0)))
  }

  /** Shared body: the query vector arrives pre-collected so composed
    * callers ([[ivfPqTopK]]) never pay a second vectors-frame scan. */
  private def pqTopKImpl(codes: DataFrame, vectors: DataFrame, id: String,
      queryId: Long, model: PqModel, refine: Int, k: Int, roundAt: Int,
      query: Option[Seq[Float]]): DataFrame = {
    val emptyOut = codes.drop("codes")
      .withColumn("adist", lit(0.0d)).withColumn("sim", lit(0.0d)).limit(0)
    if (query.isEmpty) return emptyOut
    val qF: Seq[Float] = query.get
    val q = qF.map(_.toDouble).toArray
    require(q.length == model.m * model.sub, "query dim != model dim")
    val cands = codes.filter(col(id) =!= queryId)
      .withColumn("adist", adcDistCol(model, q, id, roundAt))
      .orderBy(asc("adist"), asc(id))
      .limit(refine)
      .drop("codes")
    val qLit = typedLit(qF) // float literal: bit-identical to scanning the row
    cands
      .join(vectors.select(col(id), col("embedding")), Seq(id))
      .withColumn("sim",
        round(nanvl(vec.cosine(col("embedding"), qLit), lit(-1.0)), roundAt))
      .drop("embedding")
      .orderBy(desc("sim"), asc(id))
      .limit(k)
  }

  /** IVF-PQ top-k — the composed billion-vector shape (FAISS IVFPQ):
    * probe the query's `nprobe` nearest cells on the [[ivfAssign]] grid,
    * run the PQ ADC scan ONLY over vectors assigned to probed cells,
    * exact-re-rank the `refine` best. A deployed index stores the
    * cell-bucketed codes table, so one query reads ~nprobe/ncells of an
    * m-byte-per-vector table — both levers at once. Probe ranking, code
    * assignment, ADC and both rank keys all use the components'
    * rounded-first determinism rules, so the whole composition is
    * oracle-replayable (q178). */
  def ivfPqTopK(emb: DataFrame, id: String, queryId: Long,
      anchors: DataFrame, model: PqModel, nprobe: Int, refine: Int, k: Int,
      roundAt: Int = 4): DataFrame = {
    require(nprobe >= 1)
    val vectors = emb.select(col(id), col("embedding"))
    val codesAll = ivfRows(emb, anchors, Some(model), id, roundAt)
    val qRows = vectors.filter(col(id) === queryId).select("embedding").take(1)
    if (qRows.isEmpty)
      return pqTopKImpl(codesAll.drop("cell").limit(0), vectors,
        id, queryId, model, refine, k, roundAt, None)
    val qF = qRows(0).getSeq[Float](0)
    val probed = broadcast(probeCellsDf(anchors, typedLit(qF), nprobe, roundAt))
    pqTopKImpl(codesAll.join(probed, Seq("cell")).drop("cell"),
      vectors, id, queryId, model, refine, k, roundAt, Some(qF))
  }

  /** IVF top-k: probe the query's `nprobe` nearest cells, rank only
    * vectors assigned there — each query touches ~nprobe/ncells of the
    * corpus instead of all of it. */
  def ivfTopK(emb: DataFrame, id: String, queryId: Long,
      anchors: DataFrame, nprobe: Int, k: Int, roundAt: Int = 4): DataFrame = {
    val assigned = ivfAssign(emb, anchors, id, roundAt)
    val qv = broadcast(emb.filter(col(id) === queryId).select(col("embedding").as("qv")))
    // same probe ranking rule as probeCellsDf (NaN → -1, rounded-first,
    // id tie-break), kept frame-based so an absent queryId flows through
    // as an empty result without a driver collect
    val probed = broadcast(
      anchors.crossJoin(qv)
        .select(col("anchor_id"),
          round(nanvl(vec.cosine(col("av"), col("qv")), lit(-1.0)), roundAt).as("qcos"))
        .orderBy(desc("qcos"), asc("anchor_id"))
        .limit(nprobe)
        .select(col("anchor_id").as("cell")))
    assigned.join(probed, Seq("cell"))
      .filter(col(id) =!= queryId)
      .crossJoin(qv)
      .withColumn("sim",
        round(nanvl(vec.cosine(col("embedding"), col("qv")), lit(-1.0)), roundAt))
      .drop("qv")
      .orderBy(desc("sim"), asc(id))
      .limit(k)
  }

  /** IVF recall evaluation — the (query × nprobe → recall@k vs exact
    * brute force) dial table an operator reads before sizing a deployed
    * index. The corpus-wide work is ONE scan shared by everything: the
    * [[ivfAssign]] cell assignment (a pure projection) rides the same
    * pass as the corpus × query-batch cosine, so sweeping 12 dials
    * costs the same single corpus read as sweeping one. (The naive
    * per-dial composition — ivfTopK + cosineTopK per (query, nprobe) —
    * re-scans the corpus twice per dial and cannot run against a
    * billion-vector index; PlanAuditSpec pins this shape's scan count
    * as dial-independent.)
    *
    * Every rank key is rounded-first with an id tie-break ([[cosineTopK]]'s
    * cross-engine rule). Both top-k's — the exact brute ground truth and
    * each dial's IVF retrieval — are BOUNDED aggregates computed in one
    * grouped aggregation ([[recallDialFold]]): size-k heaps with
    * map-side partials, so no stage sorts a full per-query corpus
    * partition. Output: (query_id, nprobe, recall_at_k). */
  def recallEval(emb: DataFrame, id: String, queryIds: Seq[Long],
      anchors: DataFrame, nprobes: Seq[Int], k: Int,
      roundAt: Int = 4): DataFrame = {
    require(queryIds.nonEmpty && k >= 1)
    require(nprobes.nonEmpty && nprobes.forall(_ >= 1))
    requireIntegralId(emb, id, "recallEval")
    val spark = emb.sparkSession
    import spark.implicits._
    val recallCol = s"recall_at_$k"
    val paramsDf = queryIds.flatMap(q => nprobes.map(np => (q, np)))
      .toDF("q_id", "nprobe")
    val q = emb.filter(col(id).isInCollection(queryIds))
      .select(col(id).as("q_id"), col("embedding").as("qv"))
    val probes = probeRanks(anchors, q, nprobes.max, roundAt)
    // THE one corpus pass: the cell assignment is a pure projection
    // (ivfAssign inlines the anchors — PlanAuditSpec pins it as a
    // windowless, joinless scan), so it rides the SAME scan as the
    // query-batch cosine; each row's probe rank arrives by broadcast
    // (q_id, cell) lookup, null when its cell is outside the widest dial
    val scored = ivfAssign(emb.select(col(id), col("embedding")), anchors, id, roundAt)
      .join(broadcast(q), col(id) =!= col("q_id"))
      .select(col("q_id"), col(id), col("cell"),
        round(nanvl(vec.cosine(col("embedding"), col("qv")), lit(-1.0)), roundAt).as("sim"))
      .join(broadcast(probes), Seq("q_id", "cell"), "left")
    recallDialFold(scored, id, paramsDf, nprobes, k, roundAt, recallCol)
  }

  /** The probe-cell ranking the recall evals share: anchors × query
    * batch, probe rank per (q_id, cell), capped at the widest dial —
    * same NaN → -1 / rounded-first / id-tie rule as [[probeCellsDf]].
    * The rank window partitions by query over the anchor GRID (k cells
    * per query), never over corpus rows. */
  private def probeRanks(anchors: DataFrame, q: DataFrame, maxProbe: Int,
      roundAt: Int): DataFrame =
    anchors.crossJoin(broadcast(q))
      .select(col("q_id"), col("anchor_id").as("cell"),
        round(nanvl(vec.cosine(col("av"), col("qv")), lit(-1.0)), roundAt).as("qcos"))
      .withColumn("prk",
        row_number().over(Window.partitionBy("q_id").orderBy(desc("qcos"), asc("cell"))))
      .filter(col("prk") <= maxProbe)
      .select("q_id", "cell", "prk")

  /** The recall evals' shared fold over a scored frame
    * `(q_id, id, sim, prk)`: ONE bounded aggregation per query computes
    * the exact brute top-k (ground truth) AND every dial's cell-pruned
    * top-k — `when(prk <= np, sim)` is null outside the dial's probed
    * cells and [[graft.functions.BoundedTopKIds]] skips null scores, so
    * each per-dial heap aggregates exactly its candidate set. recall@k
    * is then `|dial ∩ truth| / k` via an intersect of two ≤k-element
    * arrays — no second corpus pass, no join, and no rank window (the
    * row_number form funnelled the whole corpus through one task's sort
    * per query; PlanAuditSpec pins its absence). */
  private def recallDialFold(scored: DataFrame, id: String,
      paramsDf: DataFrame, nprobes: Seq[Int], k: Int, roundAt: Int,
      recallCol: String): DataFrame = {
    val dials = nprobes.distinct
    // cast("long"): the aggregate hard-requires BIGINT ids; an integer
    // id column (fine under the old rank-window forms) widens losslessly
    val idL = col(id).cast("long")
    val aggCols = topKIds(col("sim"), idL, k).as("gt_ids") +:
      dials.map(np =>
        topKIds(when(col("prk") <= np, col("sim")), idL, k).as(s"ids_$np"))
    val folded = scored.groupBy("q_id").agg(aggCols.head, aggCols.tail: _*)
    val dialMap = map(dials.flatMap(np => Seq(lit(np), col(s"ids_$np"))): _*)
    val recall = folded
      .select(col("q_id"), col("gt_ids"), explode(dialMap).as(Seq("nprobe", "ids")))
      .select(col("q_id"), col("nprobe"),
        round(size(array_intersect(col("ids"), col("gt_ids"))) / k.toDouble,
          roundAt).as(recallCol))
    // left join back so a query id absent from the corpus still reports
    // its dials at recall 0 instead of vanishing
    paramsDf.join(recall, Seq("q_id", "nprobe"), "left")
      .select(col("q_id").as("query_id"), col("nprobe"),
        coalesce(col(recallCol), lit(0.0)).as(recallCol))
      .orderBy("query_id", "nprobe")
  }

  /** [[recallEval]] against a PERSISTED index ([[ivfBuildIndex]]'s
    * cell-bucketed table), by table name alone: the deployment face —
    * cell assignments are READ from the store and the grid loads from
    * its own artifact ([[storedAnchors]]), so the eval's corpus-wide
    * work drops to ONE query-batch cosine pass over the stored
    * `(id, embedding, cell)` rows (brute ground truth and IVF candidates
    * both derive from it via bounded top-k aggregates). Evaluating a
    * billion-vector index costs one scan of it, no assignment or encode
    * pass at all. Output and ranking rules identical to [[recallEval]] —
    * spec-pinned equal on the same data. */
  def recallEvalStored(spark: org.apache.spark.sql.SparkSession,
      table: String, id: String, queryIds: Seq[Long], nprobes: Seq[Int],
      k: Int, roundAt: Int = 4): DataFrame = {
    require(queryIds.nonEmpty && k >= 1)
    require(nprobes.nonEmpty && nprobes.forall(_ >= 1))
    requireIntegralId(spark.table(table), id, "recallEval (stored index)")
    import spark.implicits._
    val recallCol = s"recall_at_$k"
    val paramsDf = queryIds.flatMap(q => nprobes.map(np => (q, np)))
      .toDF("q_id", "nprobe")
    val stored = spark.table(table)
    val q = stored.filter(col(id).isInCollection(queryIds))
      .select(col(id).as("q_id"), col("embedding").as("qv"))
    val probes = probeRanks(storedAnchors(spark, table), q, nprobes.max, roundAt)
    // THE one corpus pass: stored rows × query batch, carrying the
    // STORED cell — no assignment or encode pass; ground truth and
    // every dial fold out of it in one bounded aggregation
    val scored = stored.select(col(id), col("embedding"), col("cell"))
      .join(broadcast(q), col(id) =!= col("q_id"))
      .select(col("q_id"), col(id), col("cell"),
        round(nanvl(vec.cosine(col("embedding"), col("qv")), lit(-1.0)), roundAt).as("sim"))
      .join(broadcast(probes), Seq("q_id", "cell"), "left")
    recallDialFold(scored, id, paramsDf, nprobes, k, roundAt, recallCol)
  }

  /** IVF-PQ recall evaluation over a QUERY BATCH × (nprobe, refine)
    * dials — the full index-sizing sweep a deployment runs before
    * picking its read-volume dials. ONE corpus pass shared by
    * everything: the cell assignment and PQ encode ride the same scan
    * as the corpus × query-batch cosine, and each query's ADC LUT
    * (driver model state, O(m·ksub) doubles) ships as one broadcast
    * map literal keyed by query id — the approximate distance is
    * dial-independent and computed once per (candidate, query).
    *
    * Per (query, dial): candidates are the ADC top-refine via a
    * bounded heap ([[graft.functions.BoundedTopKPairs]], score =
    * NEGATED adist — the heap keeps high scores, ADC is an ascending
    * distance) carrying each candidate's exact cosine; the exact
    * re-rank then runs INSIDE the ≤refine-element array (struct sort +
    * slice), and recall@k is an array intersect with the query's exact
    * top-k from the same aggregation. No rank window, no second corpus
    * scan; PlanAuditSpec pins the scan count as dial- AND query-count-
    * independent. Output: (query_id, nprobe, refine, recall_at_k). */
  def ivfPqRecallEval(emb: DataFrame, id: String, queryIds: Seq[Long],
      anchors: DataFrame, model: PqModel, dials: Seq[(Int, Int)], k: Int,
      roundAt: Int = 4): DataFrame = {
    require(queryIds.nonEmpty && k >= 1)
    require(dials.nonEmpty && dials.forall(d => d._1 >= 1 && d._2 >= 1))
    requireIntegralId(emb, id, "ivfPqRecallEval")
    val spark = emb.sparkSession
    import spark.implicits._
    val recallCol = s"recall_at_$k"
    val paramsDf = queryIds.flatMap(qid => dials.map(d => (qid, d._1, d._2)))
      .toDF("q_id", "nprobe", "refine")
    val vectors = emb.select(col(id), col("embedding"))
    // driver model state: one flat ADC LUT per present query vector
    val qCollected = vectors.filter(col(id).isInCollection(queryIds)).collect()
    if (qCollected.isEmpty) // no query present: every dial retrieves nothing
      return paramsDf
        .select(col("q_id").as("query_id"), col("nprobe"), col("refine"),
          lit(0.0).as(recallCol))
        .orderBy("query_id", "nprobe", "refine")
    // ONE typed map literal, not |queries|·m·ksub lit() nodes — the
    // ivfPqSearchStoredBatch rationale: expression-tree size must stay
    // independent of the LUT payload
    val lutMap = typedLit(qCollected.map { r =>
      val qid = r.getAs[Number](0).longValue()
      val qd = r.getSeq[Float](1).map(_.toDouble).toArray
      require(qd.length == model.m * model.sub,
        s"query dim != model dim for $id=$qid")
      qid -> flatAdcLut(model, qd).toSeq
    }.toMap)
    val q = vectors.filter(col(id).isInCollection(queryIds))
      .select(col(id).as("q_id"), col("embedding").as("qv"))
    val probes = probeRanks(anchors, q, dials.map(_._1).max, roundAt)
    // THE one corpus pass: assign + encode + query-batch cosine on the
    // same scan; probe rank by broadcast lookup (null outside the
    // widest dial); ADC only where a dial could use it
    val scored = ivfAssign(vectors, anchors, id, roundAt)
      .withColumn("codes", pqCodesCol(col("embedding"), model, roundAt))
      .join(broadcast(q), col(id) =!= col("q_id"))
      .select(col("q_id"), col(id), col("cell"), col("codes"),
        round(nanvl(vec.cosine(col("embedding"), col("qv")), lit(-1.0)), roundAt).as("sim"))
      .join(broadcast(probes), Seq("q_id", "cell"), "left")
      .withColumn("adist", when(col("prk").isNotNull,
        adcDistFromLut(model, element_at(lutMap, col("q_id")), id, roundAt)))
    // ONE bounded aggregation per query: exact ground truth + each
    // dial's ADC top-refine candidates, sim carried for the re-rank
    val dialKeys = dials.distinct
    val idL = col(id).cast("long") // integer-id corpora widen losslessly
    val aggCols = topKIds(col("sim"), idL, k).as("gt_ids") +:
      dialKeys.map { case (np, rf) =>
        topKPairs(when(col("prk") <= np, -col("adist")), idL, col("sim"), rf)
          .as(s"cand_${np}_$rf")
      }
    val folded = scored.groupBy("q_id").agg(aggCols.head, aggCols.tail: _*)
    val dialArr = array(dialKeys.map { case (np, rf) =>
      struct(lit(np).as("nprobe"), lit(rf).as("refine"),
        col(s"cand_${np}_$rf").as("cand"))
    }: _*)
    // exact re-rank INSIDE each ≤refine-element candidate array:
    // (sim DESC, id ASC) via a natural struct sort, then the top-k slice
    val recall = folded
      .select(col("q_id"), col("gt_ids"), explode(dialArr).as("d"))
      .select(col("q_id"), col("d.nprobe").as("nprobe"),
        col("d.refine").as("refine"), col("gt_ids"),
        transform(
          slice(array_sort(transform(col("d.cand"),
            x => struct((-x("payload")).as("ns"), x("id").as("id")))), 1, k),
          x => x("id")).as("ids"))
      .select(col("q_id"), col("nprobe"), col("refine"),
        round(size(array_intersect(col("ids"), col("gt_ids"))) / k.toDouble,
          roundAt).as(recallCol))
    paramsDf.join(recall, Seq("q_id", "nprobe", "refine"), "left")
      .select(col("q_id").as("query_id"), col("nprobe"), col("refine"),
        coalesce(col(recallCol), lit(0.0)).as(recallCol))
      .orderBy("query_id", "nprobe", "refine")
  }
}
