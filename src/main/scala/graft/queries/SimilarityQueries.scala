package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.vec

/** Similarity search over the `embeddings` table (64-dim float vectors).
  *
  * All vector math goes through graft.functions.vec — custom Catalyst
  * expressions with `doGenCode` (tight primitive loops inside
  * WholeStageCodegen), not higher-order-function folds. Floats are widened
  * to double per element, ascending index order, so results match an
  * oracle that casts to DOUBLE[] first. Cosines are rounded to 4 dp at the
  * output edge so engine-level summation-order noise (~1e-15) can never
  * flip the hash compare.
  *
  * Scale notes:
  *  - q34 broadcasts the single query vector: map-only scan + k-row
  *    reduce — the right plan at 100 TB too.
  *  - q39 (all-pairs near-dup) is the honest quadratic baseline, bounded
  *    here by data size; the scale path for all-pairs is LSH banding
  *    (see DedupQueries' MinHash pipeline for the text analog).
  *  - q40 is the scale path for top-k: IVF — assign every vector to its
  *    nearest anchor (one map-side pass, anchors broadcast), probe only
  *    the query's top-2 anchor cells. At 100 TB the assignment is written
  *    once as a bucketed table and each query touches ~nprobe/ncells of
  *    the data instead of all of it.
  */
object SimilarityQueries {

  private def asDouble(c: Column): Column = transform(c, x => x.cast("double"))

  /** Brute-force cosine top-k against one query vector (vec_id=0). */
  val q34 = Q(
    "q34_ann_bruteforce",
    (s, d) =>
      graft.operators.Similarity
        .cosineTopK(Tables.embeddings(s, d), "vec_id", queryId = 0, k = 10)
        .select("vec_id", "label", "sim"),
    Some("""
      WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0)
      SELECT vec_id, label,
             ROUND(list_cosine_similarity(CAST(embedding AS DOUBLE[]), qv), 4) AS sim
      FROM embeddings, q
      WHERE vec_id <> 0
      ORDER BY sim DESC, vec_id
      LIMIT 10"""))

  /** Vector norms — checks the numeric fold itself over every row. */
  val q35 = Q(
    "q35_vector_norms",
    (s, d) =>
      Tables.embeddings(s, d)
        .select(col("vec_id"),
          round(vec.norm(col("embedding")), 4).as("l2"),
          size(col("embedding")).cast("long").as("dims"))
        .orderBy("vec_id"),
    Some("""
      SELECT vec_id,
             ROUND(sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))), 4) AS l2,
             CAST(len(embedding) AS BIGINT) AS dims
      FROM embeddings ORDER BY vec_id"""))

  /** Embedding-cosine near-duplicate pairs: all pairs with cosine >= 0.6.
    * Norms are computed once per vector before the pair join, so the
    * quadratic stage does one codegen'd dot per pair. */
  val q39 = Q(
    "q39_embed_neardup",
    (s, d) =>
      graft.operators.Similarity
        .nearDupPairs(Tables.embeddings(s, d), "vec_id", threshold = 0.6)
        .select(col("id_a").as("vec_a"), col("id_b").as("vec_b"),
          round(col("sim"), 4).as("sim"))
        .orderBy("vec_a", "vec_b"),
    Some("""
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                          CAST(b.embedding AS DOUBLE[])), 4) AS sim
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                   CAST(b.embedding AS DOUBLE[])) >= 0.6
      ORDER BY vec_a, vec_b"""))

  /** IVF-style bucketed ANN: vectors with vec_id < 8 act as the 8 anchor
    * centroids. Every vector is assigned to its nearest anchor (argmax
    * cosine, ties → lower anchor id); the query (vec_id=0) probes its 2
    * nearest anchor cells and ranks only vectors assigned there. */
  val q40 = Q(
    "q40_ann_ivf",
    (s, d) => {
      val e = Tables.embeddings(s, d)
      val anchors = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("anchor_id"), col("embedding").as("av"))
      graft.operators.Similarity
        .ivfTopK(e, "vec_id", queryId = 0, anchors, nprobe = 2, k = 10)
        .select("vec_id", "label", "sim")
    },
    Some("""
      WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
      anchors AS (SELECT vec_id AS anchor_id, CAST(embedding AS DOUBLE[]) AS av
                  FROM embeddings WHERE vec_id < 8),
      assigned AS (
        SELECT vec_id, label, embedding, anchor_id AS cell FROM (
          SELECT e.vec_id, e.label, e.embedding, a.anchor_id,
                 ROW_NUMBER() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY ROUND(CASE WHEN isnan(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), a.av))
                                       THEN -1 ELSE list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), a.av) END, 4) DESC,
                            a.anchor_id) AS rk
          FROM embeddings e CROSS JOIN anchors a) t
        WHERE rk = 1),
      probe AS (
        SELECT anchor_id AS cell FROM anchors, q
        ORDER BY ROUND(CASE WHEN isnan(list_cosine_similarity(av, qv))
                            THEN -1 ELSE list_cosine_similarity(av, qv) END, 4) DESC,
                 anchor_id
        LIMIT 2)
      SELECT vec_id, label,
             ROUND(list_cosine_similarity(CAST(embedding AS DOUBLE[]), qv), 4) AS sim
      FROM assigned JOIN probe USING (cell), q
      WHERE vec_id <> 0
      ORDER BY sim DESC, vec_id
      LIMIT 10"""))

  /** Scalar int8 quantization of the embedding column: per-vector
    * scale of max|x|/127, code = floor(x/scale), plus the L2 reconstruction
    * error. Floor (not round) keeps the codes engine-identical — round
    * differs on .5 ties across engines. At 100 TB this is the 4×
    * storage/bandwidth lever for the ANN index: codes are exact integers
    * in both engines, only the error metric needs rounding. */
  val q48 = Q(
    "q48_quantize_int8",
    (s, d) =>
      Tables.embeddings(s, d)
        .withColumn("scale", expr(
          "aggregate(embedding, CAST(0.0 AS DOUBLE), (a, v) -> greatest(a, abs(CAST(v AS DOUBLE)))) / 127.0D"))
        .filter(col("scale") > 0)
        .withColumn("q", expr(
          "transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) / scale) AS BIGINT))"))
        .select(col("vec_id"),
          round(col("scale"), 6).as("scale_r"),
          expr("CAST(aggregate(q, CAST(0 AS BIGINT), (a, v) -> a + abs(v)) AS BIGINT)").as("l1_code"),
          round(sqrt(expr(
            """aggregate(
                 transform(sequence(1, size(embedding)),
                           i -> pow(CAST(element_at(embedding, i) AS DOUBLE)
                                    - element_at(q, i) * scale, 2)),
                 CAST(0.0 AS DOUBLE), (a, v) -> a + v)""")), 4).as("l2_err"))
        .orderBy("vec_id"),
    Some("""
      WITH t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x FROM embeddings),
      s AS (SELECT vec_id, x,
                   list_max(list_transform(x, v -> abs(v))) / 127.0 AS scale
            FROM t),
      qz AS (SELECT vec_id, x, scale,
                    list_transform(x, v -> CAST(floor(v / scale) AS BIGINT)) AS q
             FROM s WHERE scale > 0)
      SELECT vec_id,
             ROUND(scale, 6) AS scale_r,
             CAST(list_sum(list_transform(q, v -> abs(v))) AS BIGINT) AS l1_code,
             ROUND(sqrt(list_sum(list_transform(range(1, len(x) + 1),
                          i -> pow(x[i] - q[i] * scale, 2)))), 4) AS l2_err
      FROM qz ORDER BY vec_id"""))

  /** Random-hyperplane signature frame: (vec_id, label, embedding, sig)
    * with sig a 16-bit bucket id — 16 md5-derived integer hyperplanes,
    * one sign bit each, dotted against the q48 int8 quantization of the
    * vector. ALL-INTEGER sums, so a sign can never flip on float
    * summation order the way raw-float hyperplane dots could. Shared by
    * q59 (signature/bucket audit) and q60 (multi-probe search). */
  private def hyperplaneSigs(s: SparkSession, d: String): DataFrame = {
    // spread the (single-split) table before the CPU-bound 16-plane
    // signature pass — at real scale the scan already has many splits
    val emb = Tables.embeddings(s, d)
      .repartition(s.conf.get("spark.sql.shuffle.partitions", "32").toInt)
    val dim = emb.agg(max(size(col("embedding")))).head().getInt(0)
    val planes: Seq[Seq[Long]] = (0 until 16).map { j =>
      (1 to dim).map { i =>
        java.lang.Long.remainderUnsigned(
          graft.functions.TextHashAggregators.md5Half64(
            org.apache.spark.unsafe.types.UTF8String.fromString(s"hp:$j:$i")),
          2001L) - 1000L
      }
    }
    val qz = emb
      .withColumn("scale", expr(
        "aggregate(embedding, CAST(0.0 AS DOUBLE), (a, v) -> greatest(a, abs(CAST(v AS DOUBLE)))) / 127.0D"))
      .filter(col("scale") > 0)
      .withColumn("q", expr(
        "transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) / scale) AS BIGINT))"))
    val sigCol = planes.zipWithIndex.map { case (r, j) =>
      val rl = array(r.map(lit): _*)
      when(aggregate(zip_with(col("q"), rl, (a, b) => a * b),
        lit(0L), (acc, x) => acc + x) > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    qz.select(col("vec_id"), col("label"), col("embedding"), sigCol.as("sig"))
  }

  /** The matching DuckDB CTE chain ending in `sig(vec_id, sig)`. */
  private val SigCtes = """t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x FROM embeddings),
      s AS (SELECT vec_id, x, list_max(list_transform(x, v -> abs(v))) / 127.0 AS scale
            FROM t),
      qz AS (SELECT vec_id, list_transform(x, v -> CAST(floor(v / scale) AS BIGINT)) AS q
             FROM s WHERE scale > 0),
      dims AS (SELECT DISTINCT len(q) AS dim FROM qz),
      hp AS (SELECT j, i,
                    CAST(list_reduce(list_prepend(0::HUGEINT, list_transform(range(1, 17),
                           c -> instr('0123456789abcdef', substr(md5('hp:' || j || ':' || i), c, 1)) - 1)),
                         (acc, dd) -> acc * 16 + dd) % 2001 AS BIGINT) - 1000 AS r
             FROM (SELECT UNNEST(range(0, 16)) AS j) jj, dims,
                  LATERAL (SELECT UNNEST(range(1, dim + 1)) AS i) g),
      unq AS (SELECT vec_id, i, q[i] AS qi
              FROM qz, LATERAL (SELECT UNNEST(range(1, len(q) + 1)) AS i) g),
      dots AS (SELECT u.vec_id, h.j, SUM(u.qi * h.r) AS dot
               FROM unq u JOIN hp h ON h.i = u.i GROUP BY 1, 2),
      sig AS (SELECT vec_id,
                     CAST(SUM(CASE WHEN dot > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)
                          AS BIGINT) AS sig
              FROM dots GROUP BY 1)"""

  /** Random-hyperplane (cosine) LSH signatures — the second ANN scale
    * path next to IVF (q40): every vector lands in a 16-bit bucket;
    * candidate search then touches only same/near buckets instead of
    * the corpus. Emits the per-bucket population as `bucket_n`. */
  val q59 = Q(
    "q59_lsh_hyperplane",
    (s, d) =>
      hyperplaneSigs(s, d)
        .select(col("vec_id"), col("sig"))
        .withColumn("bucket_n", count(lit(1)).over(Window.partitionBy("sig")))
        .orderBy("vec_id"),
    Some(s"""
      WITH $SigCtes
      SELECT vec_id, sig,
             CAST(COUNT(*) OVER (PARTITION BY sig) AS BIGINT) AS bucket_n
      FROM sig ORDER BY vec_id"""))

  /** Multi-probe LSH search: the query (vec_id=0) probes its own bucket
    * plus every bucket within Hamming distance 4 (~2.5k of 65536 — the
    * multi-probe radius is a recall/cost dial; 4 keeps dozens of
    * candidates live on the test corpus), and only those candidates pay
    * a verified cosine — the bucket-pruned
    * candidate path that replaces the corpus scan at 100 TB. Probing is
    * a bit_count(sig XOR qsig) <= 1 predicate in both engines. */
  val q60 = Q(
    "q60_lsh_multiprobe",
    (s, d) => {
      val sigs = hyperplaneSigs(s, d)
      val qrow = sigs.filter(col("vec_id") === 0)
        .select(col("sig").as("qsig"), col("embedding").as("qv"))
      sigs.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(qrow))
        .filter(expr("bit_count(sig ^ qsig)") <= 4)
        .select(col("vec_id"), col("label"),
          round(vec.cosine(asDouble(col("embedding")), asDouble(col("qv"))), 4).as("sim"))
        .orderBy(col("sim").desc, col("vec_id"))
        .limit(10)
    },
    Some(s"""
      WITH $SigCtes,
      q AS (SELECT s.sig AS qsig, CAST(e.embedding AS DOUBLE[]) AS qv
            FROM sig s JOIN embeddings e USING (vec_id) WHERE vec_id = 0)
      SELECT e.vec_id, e.label,
             ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 4) AS sim
      FROM sig s JOIN embeddings e USING (vec_id), q
      WHERE e.vec_id <> 0 AND bit_count(xor(s.sig, q.qsig)) <= 4
      ORDER BY sim DESC, vec_id
      LIMIT 10"""))

  /** Bucketed (IVF-celled) near-dup pairs — the 100 TB shape q39
    * approximates away from: assign every vector to its TWO nearest
    * anchor cells (multi-probe, one broadcast map pass), pair only
    * within a shared cell, dedup pairs that collide in both. Candidate
    * mass stays Σ|cell|²-bounded while the second probe recovers most
    * boundary-straddling pairs (recall vs cost dial — same trade as LSH
    * banding). The oracle mirrors the 2-probe assignment and the
    * DISTINCT pair set exactly, so this checks the approximation's
    * DEFINITION, not just its plumbing. */
  val q109 = Q(
    "q109_embed_neardup_bucketed",
    (s, d) => {
      val e = Tables.embeddings(s, d)
      val anchors = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("anchor_id"), col("embedding").as("av"))
      graft.operators.Similarity
        .nearDupPairsBucketed(e, anchors, "vec_id", threshold = 0.4, nprobe = 2)
        .select(col("id_a").as("vec_a"), col("id_b").as("vec_b"),
          round(col("sim"), 4).as("sim"))
        .orderBy("vec_a", "vec_b")
    },
    Some("""
      WITH anchors AS (SELECT vec_id AS anchor_id, CAST(embedding AS DOUBLE[]) AS av
                       FROM embeddings WHERE vec_id < 8),
      assigned AS (
        SELECT vec_id, embedding, anchor_id AS cell FROM (
          SELECT e.vec_id, e.embedding, a.anchor_id,
                 ROW_NUMBER() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY ROUND(CASE WHEN isnan(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), a.av))
                                       THEN -1 ELSE list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), a.av) END, 4) DESC,
                            a.anchor_id) AS rk
          FROM embeddings e CROSS JOIN anchors a
          WHERE list_sum(list_transform(CAST(e.embedding AS DOUBLE[]), x -> x * x)) > 0) t
        WHERE rk <= 2)
      SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b,
             ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                          CAST(b.embedding AS DOUBLE[])), 4) AS sim
      FROM assigned a JOIN assigned b ON a.cell = b.cell AND a.vec_id < b.vec_id
      WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                   CAST(b.embedding AS DOUBLE[])) >= 0.4
      ORDER BY vec_a, vec_b"""))

  /** Semantic dedup (SemDeDup shape): the q109 bucketed near-dup pairs
    * promoted to a KEEP/DROP decision — transitive clusters over the
    * pair graph (a~b~c is ONE semantic group even if a,c never share a
    * cell pair), each cluster keeps its lowest vec_id, everything else
    * is dropped; vectors in no pair keep themselves. This is the
    * embedding-space twin of q51's text clustering, composed from the
    * same operators (`nearDupPairsBucketed` → `duplicateClusters`), so
    * the 100 TB shape is inherited: cell-bounded candidate mass, then a
    * pair-graph-sized clustering. The oracle rebuilds the identical
    * 2-probe pair set and closes it with a recursive CTE. */
  val q155 = Q(
    "q155_semantic_dedup",
    (s, d) => {
      val e = Tables.embeddings(s, d)
      val anchors = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("anchor_id"), col("embedding").as("av"))
      val pairs = graft.operators.Similarity
        .nearDupPairsBucketed(e, anchors, "vec_id", threshold = 0.4, nprobe = 2)
        .select("id_a", "id_b")
      val clusters = graft.operators.Dedup.duplicateClusters(pairs)
      e.select(col("vec_id"))
        .join(clusters.select(col("id").as("vec_id"), col("cluster")),
          Seq("vec_id"), "left")
        .select(col("vec_id"),
          coalesce(col("cluster"), col("vec_id")).as("rep"),
          (coalesce(col("cluster"), col("vec_id")) === col("vec_id")).as("kept"))
        .orderBy("vec_id")
    },
    Some("""
      WITH RECURSIVE anchors AS (SELECT vec_id AS anchor_id, CAST(embedding AS DOUBLE[]) AS av
                       FROM embeddings WHERE vec_id < 8),
      assigned AS (
        SELECT vec_id, embedding, anchor_id AS cell FROM (
          SELECT e.vec_id, e.embedding, a.anchor_id,
                 ROW_NUMBER() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY ROUND(CASE WHEN isnan(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), a.av))
                                       THEN -1 ELSE list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), a.av) END, 4) DESC,
                            a.anchor_id) AS rk
          FROM embeddings e CROSS JOIN anchors a
          WHERE list_sum(list_transform(CAST(e.embedding AS DOUBLE[]), x -> x * x)) > 0) t
        WHERE rk <= 2),
      pairs AS (SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb
                FROM assigned a JOIN assigned b ON a.cell = b.cell AND a.vec_id < b.vec_id
                WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                             CAST(b.embedding AS DOUBLE[])) >= 0.4),
      edges AS (SELECT va AS a, vb AS b FROM pairs
                UNION SELECT vb, va FROM pairs),
      reach AS (SELECT a, b FROM edges
                UNION
                SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
      cl AS (SELECT a AS vec_id, LEAST(a, MIN(b)) AS rep FROM reach GROUP BY a)
      SELECT e.vec_id, COALESCE(cl.rep, e.vec_id) AS rep,
             COALESCE(cl.rep, e.vec_id) = e.vec_id AS kept
      FROM embeddings e LEFT JOIN cl USING (vec_id)
      ORDER BY e.vec_id"""))

  /** One Lloyd iteration as oracle CTEs: assignment of every vector to
    * its nearest centroid in `cPrev` (squared distance expanded the same
    * way the Spark side does, ties to the lower cluster id), then
    * per-(cluster, dim) means re-assembled into the next centroid list;
    * an empty cluster keeps its previous centroid — all double math,
    * matching Similarity.kmeans step for step. */
  private def kmeansIterSql(i: Int): String = {
    val (cPrev, a, m, c) = (s"c${i - 1}", s"a$i", s"m$i", s"c$i")
    s"""
      $a AS (SELECT vec_id, cluster, dist2 FROM (
               SELECT vec_id, cluster, dist2,
                      ROW_NUMBER() OVER (PARTITION BY vec_id
                                         ORDER BY dist2, cluster) AS rk
               FROM (SELECT e.vec_id, c.cluster,
                            list_dot_product(e.x, e.x)
                              - 2 * list_dot_product(e.x, c.cv)
                              + list_dot_product(c.cv, c.cv) AS dist2
                     FROM e CROSS JOIN $cPrev c) t0) t1
             WHERE rk = 1),
      $m AS (SELECT a.cluster, g.i AS pos, AVG(e.x[g.i]) AS m
             FROM $a a JOIN e ON a.vec_id = e.vec_id,
                  LATERAL (SELECT UNNEST(range(1, len(e.x) + 1)) AS i) g
             GROUP BY a.cluster, g.i),
      $c AS (SELECT c.cluster, COALESCE(mm.cv, c.cv) AS cv
             FROM $cPrev c LEFT JOIN
                  (SELECT cluster, list(m ORDER BY pos) AS cv
                   FROM $m GROUP BY cluster) mm USING (cluster))"""
  }

  /** Lloyd k-means cluster profile (operators.Similarity.kmeans — md5-
    * seeded init, deterministic assignment, 3 iterations). The oracle
    * replays the ENTIRE algorithm in SQL (seed order, unrolled
    * iterations, final assignment): every step is double math in both
    * engines, assignments are discrete (a flip needs a near-exact
    * distance tie), and the one float-noise-bearing output (sse) is
    * rounded to 2 dp — so the hash compares semantics, not summation
    * order. SimilaritySpec additionally pins nearest-centroid
    * assignment, monotone SSE and partition independence. */
  val q136 = Q(
    "q136_kmeans",
    (s, d) => {
      val (assign, _) = graft.operators.Similarity.kmeans(
        Tables.embeddings(s, d), "vec_id", k = 8, iters = 3)
      assign.groupBy("cluster")
        .agg(count(lit(1)).as("n_vectors"),
          round(sum("dist2"), 2).as("sse"))
        .orderBy("cluster")
    },
    Some(s"""
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x FROM embeddings),
      c0 AS (SELECT ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cluster,
                    x AS cv
             FROM (SELECT vec_id, x FROM e
                   ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8) s),
      ${kmeansIterSql(1)},
      ${kmeansIterSql(2)},
      ${kmeansIterSql(3)},
      a4 AS (SELECT vec_id, cluster, dist2 FROM (
               SELECT vec_id, cluster, dist2,
                      ROW_NUMBER() OVER (PARTITION BY vec_id
                                         ORDER BY dist2, cluster) AS rk
               FROM (SELECT e.vec_id, c.cluster,
                            list_dot_product(e.x, e.x)
                              - 2 * list_dot_product(e.x, c.cv)
                              + list_dot_product(c.cv, c.cv) AS dist2
                     FROM e CROSS JOIN c3 c) t0) t1
             WHERE rk = 1)
      SELECT cluster, COUNT(*) AS n_vectors, ROUND(SUM(dist2), 2) AS sse
      FROM a4 GROUP BY cluster ORDER BY cluster"""))

  /** The anchors-as-codebook frame shared by q171/q172: vectors 0-7 cut
    * into 4 subspaces of 16 dims each (the q40 anchor convention carried
    * to PQ). */
  private def pqModel(s: SparkSession, d: String) = {
    val anchors = Tables.embeddings(s, d).filter(col("vec_id") < 8)
      .select(col("vec_id").as("anchor_id"), col("embedding").as("av"))
    graft.operators.Similarity.pqCodebooksSampled(anchors, m = 4)
  }

  /** The matching DuckDB CTE chain: `e` (double-cast corpus), `cb`
    * (subspace × codeword slices of anchors 0-7), `enc` (per-vector
    * per-subspace argmin codeword, rounded-distance rank with code
    * tie-break — exactly [[graft.operators.Similarity.pqEncodeDetailCol]]). */
  private val PqCtes = """e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS x FROM embeddings),
      js AS (SELECT UNNEST(range(0, 4)) AS j),
      cb AS (SELECT j, vec_id AS code, list_slice(x, j*16 + 1, j*16 + 16) AS cw
             FROM e, js WHERE vec_id < 8),
      enc AS (SELECT vec_id, j, code, d FROM (
                SELECT e.vec_id, c.j, c.code,
                       ROUND(list_sum(list_transform(range(1, 17),
                         i -> pow(e.x[c.j*16 + i] - c.cw[i], 2))), 4) AS d,
                       ROW_NUMBER() OVER (PARTITION BY e.vec_id, c.j
                         ORDER BY ROUND(list_sum(list_transform(range(1, 17),
                           i -> pow(e.x[c.j*16 + i] - c.cw[i], 2))), 4), c.code) AS rk
                FROM e CROSS JOIN cb c) t WHERE rk = 1)"""

  /** Product-quantization ANN: codes-only ADC scan (sum of m lookup-table
    * entries per vector — the floats are never read), top-`refine`
    * candidates by approximate distance, exact-cosine re-rank to top-k.
    * The 32× compression lever for billion-vector search; the oracle
    * replays codebook slicing, encoding, the LUT and the two-stage rank
    * definition-for-definition. */
  val q171 = Q(
    "q171_pq_adc",
    (s, d) =>
      graft.operators.Similarity.pqTopK(
        Tables.embeddings(s, d), "vec_id", queryId = 0, pqModel(s, d),
        refine = 40, k = 10),
    Some(s"""
      WITH $PqCtes,
      q AS (SELECT x AS qx FROM e WHERE vec_id = 0),
      lut AS (SELECT c.j, c.code,
                     ROUND(list_sum(list_transform(range(1, 17),
                       i -> pow(q.qx[c.j*16 + i] - c.cw[i], 2))), 6) AS lv
              FROM cb c, q),
      ad AS (SELECT enc.vec_id,
                    ROUND(list_sum(list(lut.lv ORDER BY enc.j)), 4) AS adist
             FROM enc JOIN lut ON enc.j = lut.j AND enc.code = lut.code
             GROUP BY enc.vec_id),
      cand AS (SELECT vec_id, adist FROM ad WHERE vec_id <> 0
               ORDER BY adist, vec_id LIMIT 40)
      SELECT c.vec_id, e.label, c.adist,
             ROUND(list_cosine_similarity(e.x, q.qx), 4) AS sim
      FROM cand c JOIN e USING (vec_id), q
      ORDER BY sim DESC, vec_id
      LIMIT 10"""))

  /** IVF-PQ: the composed billion-vector search shape — cell pruning
    * (q40's probe grid) on top of the codes-only ADC scan (q171), exact
    * re-rank last. The oracle chains both replays: assignment and probe
    * CTEs from q40, codebook/encode/LUT CTEs from q171, with the ADC
    * restricted to probed cells. One query on a deployed index reads
    * ~nprobe/ncells of an m-byte-per-vector table. */
  val q178 = Q(
    "q178_ivfpq",
    (s, d) => {
      val e = Tables.embeddings(s, d)
      val anchors = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("anchor_id"), col("embedding").as("av"))
      graft.operators.Similarity.ivfPqTopK(
        e, "vec_id", queryId = 0, anchors, pqModel(s, d),
        nprobe = 4, refine = 40, k = 10)
    },
    Some(s"""
      WITH $PqCtes,
      q AS (SELECT x AS qx FROM e WHERE vec_id = 0),
      anchors AS (SELECT vec_id AS anchor_id, x AS av FROM e WHERE vec_id < 8),
      assigned AS (SELECT vec_id, cell FROM (
          SELECT e.vec_id, a.anchor_id AS cell,
                 ROW_NUMBER() OVER (PARTITION BY e.vec_id
                   ORDER BY ROUND(CASE WHEN isnan(list_cosine_similarity(e.x, a.av))
                                       THEN -1 ELSE list_cosine_similarity(e.x, a.av) END, 4) DESC,
                            a.anchor_id) AS rk
          FROM e CROSS JOIN anchors a) t WHERE rk = 1),
      probe AS (SELECT anchor_id AS cell FROM anchors, q
                ORDER BY ROUND(CASE WHEN isnan(list_cosine_similarity(av, qx))
                                    THEN -1 ELSE list_cosine_similarity(av, qx) END, 4) DESC,
                         anchor_id
                LIMIT 4),
      lut AS (SELECT c.j, c.code,
                     ROUND(list_sum(list_transform(range(1, 17),
                       i -> pow(q.qx[c.j*16 + i] - c.cw[i], 2))), 6) AS lv
              FROM cb c, q),
      ad AS (SELECT enc.vec_id,
                    ROUND(list_sum(list(lut.lv ORDER BY enc.j)), 4) AS adist
             FROM enc
             JOIN lut ON enc.j = lut.j AND enc.code = lut.code
             JOIN assigned s ON s.vec_id = enc.vec_id
             JOIN probe p ON p.cell = s.cell
             GROUP BY enc.vec_id),
      cand AS (SELECT vec_id, adist FROM ad WHERE vec_id <> 0
               ORDER BY adist, vec_id LIMIT 40)
      SELECT c.vec_id, e.label, c.adist,
             ROUND(list_cosine_similarity(e.x, q.qx), 4) AS sim
      FROM cand c JOIN e USING (vec_id), q
      ORDER BY sim DESC, vec_id
      LIMIT 10"""))

  /** PQ codebook utilization profile: per (subspace, codeword) population
    * and total quantization error — the encode-quality diagnostic that
    * decides whether sampled codebooks suffice or k-means training is
    * needed (dead codewords / fat cells = poor recall at a given m).
    * Pins the full encode assignment over every vector, not just the
    * query path q171 exercises. */
  val q172 = Q(
    "q172_pq_code_stats",
    (s, d) => {
      val model = pqModel(s, d)
      Tables.embeddings(s, d)
        .select(col("vec_id"),
          posexplode(graft.operators.Similarity
            .pqEncodeDetailCol(col("embedding"), model)))
        .select(col("pos").as("subspace"), col("col.code").as("code"),
          col("col.d").as("d"))
        .groupBy("subspace", "code")
        .agg(count(lit(1)).as("n"), round(sum("d"), 2).as("err_sum"))
        .orderBy("subspace", "code")
    },
    Some(s"""
      WITH $PqCtes
      SELECT CAST(j AS INTEGER) AS subspace, code, COUNT(*) AS n,
             ROUND(SUM(d), 2) AS err_sum
      FROM enc GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** Hard-negative mining (Similarity.hardNegatives): for each of 5
    * query vectors, the top-5 most cosine-similar vectors with a
    * DIFFERENT label — the contrastive-training batch builder. Queries
    * broadcast; one candidate scan; per-query window on rounded sim
    * with the id tie-break. */
  val q184 = Q(
    "q184_hard_negatives",
    (s, d) => graft.operators.Similarity.hardNegatives(
      Tables.embeddings(s, d), "vec_id", "label",
      queryIds = Seq(0L, 1L, 2L, 3L, 4L), k = 5),
    Some("""
      WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv,
                        label AS q_label
                 FROM embeddings WHERE vec_id IN (0, 1, 2, 3, 4)),
      r AS (SELECT q.q_id, e.vec_id AS neg_id, e.label AS neg_label,
                   ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 4) AS sim
            FROM embeddings e JOIN q ON e.label <> q.q_label),
      rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                         ORDER BY sim DESC, neg_id) AS rk FROM r)
      SELECT q_id, CAST(rk AS BIGINT) AS rk, neg_id, neg_label, sim
      FROM rk WHERE rk <= 5 ORDER BY q_id, rk"""))

  /** Matryoshka truncation audit (Similarity.truncatedDimAgreement):
    * per query, the exact nearest neighbor under full 64-dim cosine vs
    * under the first 16 dims — would a truncated index return the same
    * answer? Argmax is a struct-max aggregate on (rounded sim, id) —
    * no window, no sort. */
  val q185 = Q(
    "q185_dim_truncation",
    (s, d) => graft.operators.Similarity.truncatedDimAgreement(
      Tables.embeddings(s, d), "vec_id",
      queryIds = Seq(0L, 1L, 2L, 3L, 4L), dims = 16),
    Some("""
      WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
                 FROM embeddings WHERE vec_id IN (0, 1, 2, 3, 4)),
      r AS (SELECT q.q_id, e.vec_id AS neg_id,
                   ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 4) AS sim_full,
                   ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[])[1:16], q.qv[1:16]), 4) AS sim_trunc
            FROM embeddings e JOIN q ON e.vec_id <> q.q_id),
      rk AS (SELECT *,
                    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim_full DESC, neg_id) AS rf,
                    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim_trunc DESC, neg_id) AS rt
             FROM r)
      SELECT f.q_id, f.neg_id AS nn_full, f.sim_full,
             t.neg_id AS nn_trunc, t.sim_trunc,
             f.neg_id = t.neg_id AS agree
      FROM (SELECT * FROM rk WHERE rf = 1) f
           JOIN (SELECT * FROM rk WHERE rt = 1) t USING (q_id)
      ORDER BY f.q_id"""))

  /** 1-NN label transfer QA (Similarity.knnLabelEval): every 5th vector
    * held out, labels predicted from the nearest labeled neighbor,
    * confusion matrix tabulated — the report run before trusting
    * propagated labels. Struct-max argmax; rounded-sim determinism. */
  val q190 = Q(
    "q190_knn_label_eval",
    (s, d) => graft.operators.Similarity.knnLabelEval(
      // the sf* embeddings parquet is ONE split, so the eval's whole
      // corpus × eval-batch cosine pass would run on a single task —
      // spread it (the q166/q187 harness fix; a real corpus arrives in
      // many splits and never pays this shuffle)
      Tables.embeddings(s, d)
        .transform(Tables.spread("vec_id")),
      "vec_id", "label",
      holdout = col("vec_id") % 5 === 0),
    Some("""
      WITH e AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv,
                        label AS true_label
                 FROM embeddings WHERE vec_id % 5 = 0),
      l AS (SELECT vec_id AS n_id, CAST(embedding AS DOUBLE[]) AS x,
                   label AS pred_label
            FROM embeddings WHERE vec_id % 5 <> 0),
      r AS (SELECT e.q_id, e.true_label, l.pred_label, l.n_id,
                   ROUND(list_cosine_similarity(l.x, e.qv), 4) AS sim
            FROM l, e),
      rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                         ORDER BY sim DESC, n_id) AS rk FROM r)
      SELECT true_label, pred_label, CAST(COUNT(*) AS BIGINT) AS n
      FROM rk WHERE rk = 1
      GROUP BY true_label, pred_label
      ORDER BY true_label, pred_label"""))

  /** ANN recall evaluation, IVF face: recall@10 of [[q40]]'s IVF search
    * against [[q34]]'s exact brute force, swept over 4 query vectors ×
    * nprobe ∈ {1, 2, 4} — the recall/cost dial table an operator reads
    * before sizing a deployed index (documented in SimilaritySpec, now
    * pinned in CORRECTNESS). Runs through Similarity.recallEval, which
    * computes the corpus-wide work (cell assignment, query-batch cosine
    * + brute ranks) ONCE and sweeps the 12 dials over the shared frames
    * — PlanAuditSpec pins the scan count as dial-independent. The
    * oracle replays assignment, probe ranking and both top-10s
    * generically over a params grid rather than 12 copied CTE chains. */
  val q206 = Q(
    "q206_ann_recall_eval",
    (s, d) => {
      val e = Tables.embeddings(s, d)
      val anchors = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("anchor_id"), col("embedding").as("av"))
      graft.operators.Similarity.recallEval(
        e, "vec_id", queryIds = Seq(0L, 1L, 2L, 3L), anchors,
        nprobes = Seq(1, 2, 4), k = 10)
    },
    Some("""
      WITH params AS (SELECT CAST(q.query_id AS BIGINT) AS query_id, n.nprobe
                      FROM (VALUES (0), (1), (2), (3)) q(query_id)
                      CROSS JOIN (VALUES (1), (2), (4)) n(nprobe)),
      qv AS (SELECT CAST(vec_id AS BIGINT) AS query_id, CAST(embedding AS DOUBLE[]) AS qx
             FROM embeddings WHERE vec_id IN (0, 1, 2, 3)),
      anchors AS (SELECT vec_id AS anchor_id, CAST(embedding AS DOUBLE[]) AS av
                  FROM embeddings WHERE vec_id < 8),
      assigned AS (SELECT vec_id, cell FROM (
          SELECT e.vec_id, a.anchor_id AS cell,
                 ROW_NUMBER() OVER (PARTITION BY e.vec_id
                   ORDER BY ROUND(CASE WHEN isnan(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), a.av))
                                       THEN -1 ELSE list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), a.av) END, 4) DESC,
                            a.anchor_id) AS rk
          FROM embeddings e CROSS JOIN anchors a) t WHERE rk = 1),
      sims AS (SELECT q.query_id, e.vec_id,
                      ROUND(CASE WHEN isnan(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qx))
                                 THEN -1 ELSE list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qx) END, 4) AS sim
               FROM embeddings e CROSS JOIN qv q
               WHERE e.vec_id <> q.query_id),
      brute AS (SELECT query_id, vec_id FROM (
                  SELECT query_id, vec_id,
                         ROW_NUMBER() OVER (PARTITION BY query_id
                                            ORDER BY sim DESC, vec_id) AS rk
                  FROM sims) t WHERE rk <= 10),
      probes AS (SELECT q.query_id, a.anchor_id AS cell,
                        ROW_NUMBER() OVER (PARTITION BY q.query_id
                          ORDER BY ROUND(CASE WHEN isnan(list_cosine_similarity(a.av, q.qx))
                                              THEN -1 ELSE list_cosine_similarity(a.av, q.qx) END, 4) DESC,
                                   a.anchor_id) AS prk
                 FROM anchors a CROSS JOIN qv q),
      ivf AS (SELECT query_id, nprobe, vec_id FROM (
                SELECT p.query_id, p.nprobe, s.vec_id,
                       ROW_NUMBER() OVER (PARTITION BY p.query_id, p.nprobe
                                          ORDER BY s.sim DESC, s.vec_id) AS rk
                FROM params p
                JOIN probes pr ON pr.query_id = p.query_id AND pr.prk <= p.nprobe
                JOIN assigned c ON c.cell = pr.cell
                JOIN sims s ON s.query_id = p.query_id AND s.vec_id = c.vec_id) t
              WHERE rk <= 10)
      SELECT p.query_id, p.nprobe,
             ROUND(COALESCE(SUM(CASE WHEN b.vec_id IS NOT NULL THEN 1 ELSE 0 END), 0) / 10.0, 4) AS recall_at_10
      FROM params p
      LEFT JOIN ivf i ON i.query_id = p.query_id AND i.nprobe = p.nprobe
      LEFT JOIN brute b ON b.query_id = i.query_id AND b.vec_id = i.vec_id
      GROUP BY p.query_id, p.nprobe
      ORDER BY p.query_id, p.nprobe"""))

  /** ANN recall evaluation, IVF-PQ face: recall@10 of the composed
    * cell-pruned + product-quantized search ([[q178]]) against exact
    * brute force, swept over a QUERY BATCH × (nprobe, refine) — the
    * full sizing sweep for the two dials that trade recall for read
    * volume on a deployed billion-vector index. Runs through
    * Similarity.ivfPqRecallEval: ONE corpus pass (assign + encode +
    * query-batch cosine on the same scan), per-query ADC LUTs shipped
    * as one broadcast map, bounded top-refine heaps carrying the exact
    * cosine for an in-array re-rank — scan count dial- AND query-count-
    * independent (PlanAuditSpec). Oracle = q178's replay chain
    * parameterized by a (query × dial) grid, plus the per-query brute
    * top-10 and the recall fold. */
  val q207 = Q(
    "q207_ivfpq_recall_eval",
    (s, d) => {
      val e = Tables.embeddings(s, d)
      val anchors = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("anchor_id"), col("embedding").as("av"))
      graft.operators.Similarity.ivfPqRecallEval(
        e, "vec_id", queryIds = Seq(0L, 5L), anchors, pqModel(s, d),
        dials = Seq((1, 20), (2, 40), (4, 40)), k = 10)
    },
    Some(s"""
      WITH $PqCtes,
      params AS (SELECT CAST(qq.query_id AS BIGINT) AS query_id, dl.nprobe, dl.refine
                 FROM (VALUES (0), (5)) qq(query_id)
                 CROSS JOIN (VALUES (1, 20), (2, 40), (4, 40)) dl(nprobe, refine)),
      qs AS (SELECT CAST(vec_id AS BIGINT) AS query_id, x AS qx
             FROM e WHERE vec_id IN (0, 5)),
      anchors AS (SELECT vec_id AS anchor_id, x AS av FROM e WHERE vec_id < 8),
      assigned AS (SELECT vec_id, cell FROM (
          SELECT e.vec_id, a.anchor_id AS cell,
                 ROW_NUMBER() OVER (PARTITION BY e.vec_id
                   ORDER BY ROUND(CASE WHEN isnan(list_cosine_similarity(e.x, a.av))
                                       THEN -1 ELSE list_cosine_similarity(e.x, a.av) END, 4) DESC,
                            a.anchor_id) AS rk
          FROM e CROSS JOIN anchors a) t WHERE rk = 1),
      probes AS (SELECT qs.query_id, a.anchor_id AS cell,
                        ROW_NUMBER() OVER (PARTITION BY qs.query_id
                          ORDER BY ROUND(CASE WHEN isnan(list_cosine_similarity(a.av, qs.qx))
                                              THEN -1 ELSE list_cosine_similarity(a.av, qs.qx) END, 4) DESC,
                                   a.anchor_id) AS prk
                 FROM anchors a CROSS JOIN qs),
      lut AS (SELECT qs.query_id, c.j, c.code,
                     ROUND(list_sum(list_transform(range(1, 17),
                       i -> pow(qs.qx[c.j*16 + i] - c.cw[i], 2))), 6) AS lv
              FROM cb c, qs),
      ad AS (SELECT p.query_id, p.nprobe, p.refine, enc.vec_id,
                    ROUND(list_sum(list(lut.lv ORDER BY enc.j)), 4) AS adist
             FROM params p
             JOIN probes pr ON pr.query_id = p.query_id AND pr.prk <= p.nprobe
             JOIN assigned s ON s.cell = pr.cell
             JOIN enc ON enc.vec_id = s.vec_id
             JOIN lut ON lut.query_id = p.query_id AND enc.j = lut.j AND enc.code = lut.code
             WHERE enc.vec_id <> p.query_id
             GROUP BY p.query_id, p.nprobe, p.refine, enc.vec_id),
      cand AS (SELECT query_id, nprobe, refine, vec_id FROM (
                 SELECT query_id, nprobe, refine, vec_id,
                        ROW_NUMBER() OVER (PARTITION BY query_id, nprobe, refine
                                           ORDER BY adist, vec_id) AS rk
                 FROM ad) t WHERE rk <= refine),
      rer AS (SELECT query_id, nprobe, refine, vec_id FROM (
                SELECT c.query_id, c.nprobe, c.refine, c.vec_id,
                       ROW_NUMBER() OVER (PARTITION BY c.query_id, c.nprobe, c.refine
                         ORDER BY ROUND(list_cosine_similarity(e.x, qs.qx), 4) DESC,
                                  c.vec_id) AS rk
                FROM cand c JOIN e USING (vec_id)
                JOIN qs ON qs.query_id = c.query_id) t WHERE rk <= 10),
      brute AS (SELECT query_id, vec_id FROM (
                  SELECT qs.query_id, e.vec_id,
                         ROW_NUMBER() OVER (PARTITION BY qs.query_id
                           ORDER BY ROUND(CASE WHEN isnan(list_cosine_similarity(e.x, qs.qx))
                                               THEN -1 ELSE list_cosine_similarity(e.x, qs.qx) END, 4) DESC,
                                    e.vec_id) AS rk
                  FROM e CROSS JOIN qs WHERE e.vec_id <> qs.query_id) t WHERE rk <= 10)
      SELECT p.query_id, p.nprobe, p.refine,
             ROUND(COALESCE(SUM(CASE WHEN b.vec_id IS NOT NULL THEN 1 ELSE 0 END), 0) / 10.0, 4) AS recall_at_10
      FROM params p
      LEFT JOIN rer r ON r.query_id = p.query_id AND r.nprobe = p.nprobe AND r.refine = p.refine
      LEFT JOIN brute b ON b.query_id = r.query_id AND b.vec_id = r.vec_id
      GROUP BY p.query_id, p.nprobe, p.refine
      ORDER BY p.query_id, p.nprobe, p.refine"""))

  /** The build-then-append fixture q209/q210 share: persist the lower
    * half of the corpus (by id) as the existing cell-bucketed IVF index,
    * then [[graft.operators.Similarity.ivfIndexAppend]] the upper half —
    * the q170/q192 split device on the ANN side. Returns the appended
    * table's name and the append's skew report. Each call builds into a
    * fresh temp location so the queries stay self-contained under
    * SPARK_GRAFT_ONLY and repeated Bench runs. */
  private def ivfAppendFixture(s: SparkSession, d: String): (String, DataFrame) = {
    val e = Tables.embeddings(s, d)
    val anchors = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("anchor_id"), col("embedding").as("av"))
    val db = "graft_ivf_append"
    val loc = java.nio.file.Files.createTempDirectory("graft-ivf-append")
    s.sql(s"CREATE DATABASE IF NOT EXISTS $db LOCATION '$loc'")
    s.sql(s"DROP TABLE IF EXISTS $db.emb_ivf")
    val mx = e.agg(max("vec_id")).head().getLong(0)
    val cut = (mx + 1) / 2
    graft.operators.Similarity.ivfBuildIndex(
      e.filter(col("vec_id") < cut), anchors, "vec_id",
      s"$db.emb_ivf", numBuckets = 8)
    val skew = graft.operators.Similarity.ivfIndexAppend(
      e.filter(col("vec_id") >= cut), "vec_id", s"$db.emb_ivf")
    (s"$db.emb_ivf", skew)
  }

  /** Incremental IVF index append, search-equivalence face: build the
    * persisted index from HALF the corpus, ivfIndexAppend the other
    * half, then search the appended store — the oracle is q40's
    * full-corpus IVF replay, so green here PROVES append ≡ rebuild
    * (assignment is a pure per-vector function of the frozen anchors).
    * This is the ingest path that grows a 100 TB index
    * batch-proportionally instead of re-encoding the corpus. */
  val q209 = Q(
    "q209_ivf_index_append",
    (s, d) => {
      val (table, _) = ivfAppendFixture(s, d)
      val qv = Tables.embeddings(s, d).filter(col("vec_id") === 0)
        .head().getAs[Seq[Float]]("embedding").toArray
      graft.operators.Similarity.ivfSearchStored(
          s, table, "vec_id", qv, nprobe = 2, k = 10, excludeId = Some(0L))
        .select("vec_id", "label", "sim")
    },
    Some("""
      WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
      anchors AS (SELECT vec_id AS anchor_id, CAST(embedding AS DOUBLE[]) AS av
                  FROM embeddings WHERE vec_id < 8),
      assigned AS (
        SELECT vec_id, label, embedding, anchor_id AS cell FROM (
          SELECT e.vec_id, e.label, e.embedding, a.anchor_id,
                 ROW_NUMBER() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY ROUND(CASE WHEN isnan(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), a.av))
                                       THEN -1 ELSE list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), a.av) END, 4) DESC,
                            a.anchor_id) AS rk
          FROM embeddings e CROSS JOIN anchors a) t
        WHERE rk = 1),
      probe AS (
        SELECT anchor_id AS cell FROM anchors, q
        ORDER BY ROUND(CASE WHEN isnan(list_cosine_similarity(av, qv))
                            THEN -1 ELSE list_cosine_similarity(av, qv) END, 4) DESC,
                 anchor_id
        LIMIT 2)
      SELECT vec_id, label,
             ROUND(list_cosine_similarity(CAST(embedding AS DOUBLE[]), qv), 4) AS sim
      FROM assigned JOIN probe USING (cell), q
      WHERE vec_id <> 0
      ORDER BY sim DESC, vec_id
      LIMIT 10"""))

  /** Incremental IVF index append, skew-report face: the per-cell
    * occupancy table [[graft.operators.Similarity.ivfIndexAppend]]
    * returns after landing a batch — n_vectors per cell and its ratio to
    * the mean, the drift observable that tells the operator when the
    * frozen anchor grid needs a re-train+rebuild. Oracle = the q40
    * assignment replay over the full corpus, grouped, against its own
    * average. */
  val q210 = Q(
    "q210_ivf_append_skew",
    (s, d) => ivfAppendFixture(s, d)._2,
    Some("""
      WITH anchors AS (SELECT vec_id AS anchor_id, CAST(embedding AS DOUBLE[]) AS av
                       FROM embeddings WHERE vec_id < 8),
      assigned AS (
        SELECT vec_id, anchor_id AS cell FROM (
          SELECT e.vec_id, a.anchor_id,
                 ROW_NUMBER() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY ROUND(CASE WHEN isnan(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), a.av))
                                       THEN -1 ELSE list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), a.av) END, 4) DESC,
                            a.anchor_id) AS rk
          FROM embeddings e CROSS JOIN anchors a) t
        WHERE rk = 1),
      counts AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_vectors
                 FROM assigned GROUP BY cell)
      SELECT cell, n_vectors,
             ROUND(n_vectors / (SELECT AVG(n_vectors) FROM counts), 4) AS ratio_to_mean
      FROM counts ORDER BY cell"""))

  /** IVF re-train + rebuild (Similarity.ivfRetrain — the operator the
    * skew report tells you to run): build v1 on the q40 anchor grid,
    * re-fit 8 centroids over the STORED vectors with 3 Lloyd rounds
    * (q136's kmeans, driver model state), rebuild into v2, and report
    * v2's occupancy. The oracle replays the kmeans rounds as unrolled
    * CTE layers (the q136 chain), then assigns by ROUNDED COSINE to the
    * final centroids — ivfBuildIndex's assignment rule, NOT the fit's
    * dist² rule — and folds the q210 occupancy arithmetic. Green here
    * pins the whole lifecycle edge cross-engine: stored vectors →
    * re-trained grid → rebuilt cells. */
  val q211 = Q(
    "q211_ivf_retrain",
    (s, d) => {
      val e = Tables.embeddings(s, d)
      val anchors = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("anchor_id"), col("embedding").as("av"))
      val db = "graft_q211"
      val loc = java.nio.file.Files.createTempDirectory("graft-q211")
      s.sql(s"CREATE DATABASE IF NOT EXISTS $db LOCATION '$loc'")
      s.sql(s"DROP TABLE IF EXISTS $db.v1")
      s.sql(s"DROP TABLE IF EXISTS $db.v2")
      graft.operators.Similarity.ivfBuildIndex(e, anchors, "vec_id",
        s"$db.v1", numBuckets = 8)
      graft.operators.Similarity.ivfRetrain(s, s"$db.v1", s"$db.v2",
        "vec_id", k = 8, iters = 3, numBuckets = 8)
      graft.operators.Similarity.ivfCellStats(s, s"$db.v2")
    },
    Some(s"""
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x FROM embeddings),
      c0 AS (SELECT ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cluster,
                    x AS cv
             FROM (SELECT vec_id, x FROM e
                   ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8) s),
      ${kmeansIterSql(1)},
      ${kmeansIterSql(2)},
      ${kmeansIterSql(3)},
      anchors AS (SELECT cluster AS anchor_id, cv AS av FROM c3),
      assigned AS (SELECT vec_id, cell FROM (
          SELECT e.vec_id, a.anchor_id AS cell,
                 ROW_NUMBER() OVER (PARTITION BY e.vec_id
                   ORDER BY ROUND(CASE WHEN isnan(list_cosine_similarity(e.x, a.av))
                                       THEN -1 ELSE list_cosine_similarity(e.x, a.av) END, 4) DESC,
                            a.anchor_id) AS rk
          FROM e CROSS JOIN anchors a) t WHERE rk = 1),
      counts AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_vectors
                 FROM assigned GROUP BY cell)
      SELECT cell, n_vectors,
             ROUND(n_vectors / (SELECT AVG(n_vectors) FROM counts), 4) AS ratio_to_mean
      FROM counts ORDER BY cell"""))

  /** The one-artifact serving loop under the cross-engine gate: build a
    * persisted IVF index (which persists its grid as `<table>__anchors`
    * + fingerprint), then search through
    * [[graft.operators.Similarity.ivfSearchStored]] — TABLE NAME ONLY,
    * the grid loads from the store's own artifact and is content-
    * fingerprint-verified before serving. The oracle is q40's inline
    * IVF replay over the full corpus, so green here proves the
    * artifact roundtrip (write → reload → fingerprint check → probe →
    * search) returns exactly what the frame-based plan computes — the
    * deployment face a 100 TB serving tier actually calls. */
  val q213 = Q(
    "q213_ann_stored_search",
    (s, d) => {
      val e = Tables.embeddings(s, d)
      // read-only serve face over a one-off fixture store (round 15;
      // q209/q210 are the IVF build/append lifecycle entries)
      val db = Fixtures.once(s, "graft_ivf_stored", d) { db =>
        val anchors = e.filter(col("vec_id") < 8)
          .select(col("vec_id").as("anchor_id"), col("embedding").as("av"))
        graft.operators.Similarity.ivfBuildIndex(
          e, anchors, "vec_id", s"$db.emb_ivf", numBuckets = 8)
      }
      val qv = e.filter(col("vec_id") === 0)
        .head().getAs[Seq[Float]]("embedding").toArray
      graft.operators.Similarity.ivfSearchStored(
          s, s"$db.emb_ivf", "vec_id", qv, nprobe = 2, k = 10,
          excludeId = Some(0L))
        .select("vec_id", "label", "sim")
    },
    Some("""
      WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
      anchors AS (SELECT vec_id AS anchor_id, CAST(embedding AS DOUBLE[]) AS av
                  FROM embeddings WHERE vec_id < 8),
      assigned AS (
        SELECT vec_id, label, embedding, anchor_id AS cell FROM (
          SELECT e.vec_id, e.label, e.embedding, a.anchor_id,
                 ROW_NUMBER() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY ROUND(CASE WHEN isnan(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), a.av))
                                       THEN -1 ELSE list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), a.av) END, 4) DESC,
                            a.anchor_id) AS rk
          FROM embeddings e CROSS JOIN anchors a) t
        WHERE rk = 1),
      probe AS (
        SELECT anchor_id AS cell FROM anchors, q
        ORDER BY ROUND(CASE WHEN isnan(list_cosine_similarity(av, qv))
                            THEN -1 ELSE list_cosine_similarity(av, qv) END, 4) DESC,
                 anchor_id
        LIMIT 2)
      SELECT vec_id, label,
             ROUND(CASE WHEN isnan(list_cosine_similarity(CAST(embedding AS DOUBLE[]), qv))
                        THEN -1 ELSE list_cosine_similarity(CAST(embedding AS DOUBLE[]), qv) END, 4) AS sim
      FROM assigned JOIN probe USING (cell), q
      WHERE vec_id <> 0
      ORDER BY sim DESC, vec_id
      LIMIT 10"""))

  /** The batched stored-index serving face
    * ([[graft.operators.Similarity.ivfSearchStoredBatch]]): build +
    * persist the (index, grid) pair, then serve a 3-query batch from
    * ONE bucket-pruned scan — per-query semantics identical to q213's
    * one-at-a-time face (SimilaritySpec pins row equality; PlanAuditSpec
    * pins the scan count batch-size-independent). The oracle replays
    * the whole chain per query: assignment, top-2 probe cells with the
    * rounded-cosine/anchor-id tie rule, candidate scoring, and the
    * (sim DESC, vec_id) top-10 with a 1-based rank. */
  val q214 = Q(
    "q214_ann_stored_batch_search",
    (s, d) => {
      val e = Tables.embeddings(s, d)
      // read-only serve face over a one-off fixture store (round 15)
      val db = Fixtures.once(s, "graft_ivf_batch", d) { db =>
        val anchors = e.filter(col("vec_id") < 8)
          .select(col("vec_id").as("anchor_id"), col("embedding").as("av"))
        graft.operators.Similarity.ivfBuildIndex(
          e, anchors, "vec_id", s"$db.emb_ivf", numBuckets = 8)
      }
      val queries = e.filter(col("vec_id").isInCollection(Seq(0L, 5L, 9L)))
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      graft.operators.Similarity.ivfSearchStoredBatch(
        s, s"$db.emb_ivf", "vec_id", queries, "query_id", "qvec",
        nprobe = 2, k = 10)
    },
    Some("""
      WITH anchors AS (SELECT vec_id AS anchor_id, CAST(embedding AS DOUBLE[]) AS av
                       FROM embeddings WHERE vec_id < 8),
      assigned AS (
        SELECT vec_id, embedding, anchor_id AS cell FROM (
          SELECT e.vec_id, e.embedding, a.anchor_id,
                 ROW_NUMBER() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY ROUND(CASE WHEN isnan(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), a.av))
                                       THEN -1 ELSE list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), a.av) END, 4) DESC,
                            a.anchor_id) AS rk
          FROM embeddings e CROSS JOIN anchors a) t
        WHERE rk = 1),
      q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
            FROM embeddings WHERE vec_id IN (0, 5, 9)),
      probe AS (
        SELECT query_id, cell FROM (
          SELECT q.query_id, a.anchor_id AS cell,
                 ROW_NUMBER() OVER (
                   PARTITION BY q.query_id
                   ORDER BY ROUND(CASE WHEN isnan(list_cosine_similarity(a.av, q.qv))
                                       THEN -1 ELSE list_cosine_similarity(a.av, q.qv) END, 4) DESC,
                            a.anchor_id) AS prk
          FROM anchors a CROSS JOIN q) t
        WHERE prk <= 2),
      cand AS (
        SELECT q.query_id, s.vec_id,
               ROUND(CASE WHEN isnan(list_cosine_similarity(CAST(s.embedding AS DOUBLE[]), q.qv))
                          THEN -1 ELSE list_cosine_similarity(CAST(s.embedding AS DOUBLE[]), q.qv) END, 4) AS sim
        FROM assigned s JOIN probe p ON s.cell = p.cell
                        JOIN q ON q.query_id = p.query_id)
      SELECT query_id, rank, vec_id, sim FROM (
        SELECT query_id, vec_id, sim,
               CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY sim DESC, vec_id) AS INTEGER) AS rank
        FROM cand) r
      WHERE rank <= 10
      ORDER BY query_id, rank"""))

  /** The batched stored-index serving face for IVF-PQ
    * ([[graft.operators.Similarity.ivfPqSearchStoredBatch]]): build +
    * persist the (codes, grid, codebook) triple, then serve a 3-query
    * batch from ONE bucket-pruned scan of the m-byte codes — per-query
    * semantics identical to the q178 chain served one at a time
    * (SimilaritySpec pins row equality against ivfPqTopK).
    * The oracle replays the whole composition per query: full-corpus
    * encode (q171's CTEs), assignment + per-query top-2 probe cells
    * (q214's rules), each query's own 6-dp LUT, ADC over probed cells
    * with the self-drop, top-40 by (adist, vec_id), exact-cosine
    * re-rank to a 1-based top-10. */
  val q216 = Q(
    "q216_ann_stored_batch_pq",
    (s, d) => {
      val e = Tables.embeddings(s, d)
      // the batched PQ search is a read-only SERVE face — the store is
      // a one-off fixture (Fixtures.once), not part of the timed op;
      // the build face is q217's lifecycle (round 15: this entry
      // previously rebuilt the store inside every timed call)
      val db = Fixtures.once(s, "graft_ivfpq_batch", d) { db =>
        val anchors = e.filter(col("vec_id") < 8)
          .select(col("vec_id").as("anchor_id"), col("embedding").as("av"))
        graft.operators.Similarity.ivfPqBuildIndex(
          e, anchors, "vec_id", pqModel(s, d), s"$db.idx", numBuckets = 8)
      }
      val queries = e.filter(col("vec_id").isInCollection(Seq(0L, 5L, 9L)))
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      graft.operators.Similarity.ivfPqSearchStoredBatch(
        s, s"$db.idx", e.select(col("vec_id"), col("embedding")), "vec_id",
        queries, "query_id", "qvec", nprobe = 2, refine = 40, k = 10)
    },
    Some(s"""
      WITH $PqCtes,
      anchors AS (SELECT vec_id AS anchor_id, x AS av FROM e WHERE vec_id < 8),
      assigned AS (SELECT vec_id, cell FROM (
          SELECT e.vec_id, a.anchor_id AS cell,
                 ROW_NUMBER() OVER (PARTITION BY e.vec_id
                   ORDER BY ROUND(CASE WHEN isnan(list_cosine_similarity(e.x, a.av))
                                       THEN -1 ELSE list_cosine_similarity(e.x, a.av) END, 4) DESC,
                            a.anchor_id) AS rk
          FROM e CROSS JOIN anchors a) t WHERE rk = 1),
      q AS (SELECT vec_id AS query_id, x AS qv FROM e WHERE vec_id IN (0, 5, 9)),
      probe AS (SELECT query_id, cell FROM (
          SELECT q.query_id, a.anchor_id AS cell,
                 ROW_NUMBER() OVER (PARTITION BY q.query_id
                   ORDER BY ROUND(CASE WHEN isnan(list_cosine_similarity(a.av, q.qv))
                                       THEN -1 ELSE list_cosine_similarity(a.av, q.qv) END, 4) DESC,
                            a.anchor_id) AS prk
          FROM anchors a CROSS JOIN q) t WHERE prk <= 2),
      lut AS (SELECT q.query_id, c.j, c.code,
                     ROUND(list_sum(list_transform(range(1, 17),
                       i -> pow(q.qv[c.j*16 + i] - c.cw[i], 2))), 6) AS lv
              FROM cb c, q),
      ad AS (SELECT l.query_id, enc.vec_id,
                    ROUND(list_sum(list(l.lv ORDER BY enc.j)), 4) AS adist
             FROM enc
             JOIN lut l ON enc.j = l.j AND enc.code = l.code
             JOIN assigned s ON s.vec_id = enc.vec_id
             JOIN probe p ON p.cell = s.cell AND p.query_id = l.query_id
             WHERE enc.vec_id <> l.query_id
             GROUP BY l.query_id, enc.vec_id),
      cand AS (SELECT query_id, vec_id, adist FROM (
                 SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY adist, vec_id) AS crk FROM ad) t
               WHERE crk <= 40)
      SELECT query_id, rank, vec_id, adist, sim FROM (
        SELECT c.query_id, c.vec_id, c.adist,
               ROUND(list_cosine_similarity(e.x, q.qv), 4) AS sim,
               CAST(ROW_NUMBER() OVER (PARTITION BY c.query_id
                 ORDER BY ROUND(list_cosine_similarity(e.x, q.qv), 4) DESC,
                          c.vec_id) AS INTEGER) AS rank
        FROM cand c JOIN e USING (vec_id)
             JOIN q ON q.query_id = c.query_id) r
      WHERE rank <= 10
      ORDER BY query_id, rank"""))

  /** One warm-start PQ codebook refit round as DuckDB CTEs (the
    * kmeansIterSql device per subspace), fit over `src` rows: `enc$i`
    * assigns every src vector's subspace-j slice to its nearest
    * `cb${i-1}` codeword (ROUNDED squared distance at 4 dp, ties to
    * the lower code — exactly pqEncodeDetailCol), `mu$i` is the
    * per-(j, code, dim) mean, and `cb$i` folds the means back, keeping
    * the old codeword where no vector landed —
    * [[graft.operators.Similarity.pqRefitCodebooks]]' update rule. */
  private def pqRefitIterSql(i: Int, src: String = "e"): String = {
    val (cPrev, enc, mu, c) = (s"cb${i - 1}", s"enc$i", s"mu$i", s"cb$i")
    s"""
      $enc AS (SELECT vec_id, j, code FROM (
                 SELECT e.vec_id, c.j, c.code,
                        ROW_NUMBER() OVER (PARTITION BY e.vec_id, c.j
                          ORDER BY ROUND(list_sum(list_transform(range(1, 17),
                            i -> pow(e.x[c.j*16 + i] - c.cw[i], 2))), 4),
                                   c.code) AS rk
                 FROM $src e CROSS JOIN $cPrev c) t WHERE rk = 1),
      $mu AS (SELECT a.j, a.code, g.i AS pos, AVG(e.x[a.j*16 + g.i]) AS m
              FROM $enc a JOIN $src e USING (vec_id),
                   LATERAL (SELECT UNNEST(range(1, 17)) AS i) g
              GROUP BY a.j, a.code, g.i),
      $c AS (SELECT c.j, c.code, COALESCE(mm.cw, c.cw) AS cw
             FROM $cPrev c LEFT JOIN
                  (SELECT j, code, list(m ORDER BY pos) AS cw
                   FROM $mu GROUP BY j, code) mm USING (j, code))"""
  }

  /** The refit-fit sample both engines agree on exactly
    * ([[graft.operators.Similarity.pqRefitSample]]): the
    * [[RefitSampleCap]] vectors with the smallest Knuth multiplicative
    * id hash — plain modular arithmetic, so the oracle's ORDER BY
    * replays the very rows the Spark TakeOrdered picks. 256 < 500
    * (the smallest SF's corpus), so the sampled path is genuinely
    * exercised at every scale factor. */
  private val RefitSampleCap = 256
  private val RefitSampleSql =
    s"""samp AS (SELECT vec_id, x FROM e
               ORDER BY (vec_id * 2654435761) % 2147483647, vec_id
               LIMIT $RefitSampleCap)"""

  /** IVF-PQ codebook re-train + re-encode
    * ([[graft.operators.Similarity.ivfPqRetrain]] — the repair the
    * pqDriftStats signal tells you to run): build v1 on the sampled
    * codebook, warm-start refit it over the deterministic
    * [[RefitSampleCap]]-row sample of the STORED vectors with 2 Lloyd
    * rounds (the sublinear deployment dial — the refit phase costs
    * O(cap) regardless of store size; only the re-encode pass touches
    * the whole store), rebuild into v2, and report v2's per-(subspace,
    * codeword) population joined with the refit codeword's first
    * coordinate. The oracle unrolls the sample and both refit rounds
    * as CTE layers (the q211 device, per subspace) and re-encodes the
    * FULL corpus under the final codebooks — green pins the whole
    * lifecycle edge cross-engine: stored codes → sampled refit →
    * re-encoded v2 store. */
  val q217 = Q(
    "q217_pq_retrain",
    (s, d) => {
      import s.implicits._
      val e = Tables.embeddings(s, d)
      val anchors = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("anchor_id"), col("embedding").as("av"))
      val db = "graft_q217"
      val loc = java.nio.file.Files.createTempDirectory("graft-q217")
      s.sql(s"CREATE DATABASE IF NOT EXISTS $db LOCATION '$loc'")
      Seq("v1", "v1__anchors", "v1__pq", "v2", "v2__anchors", "v2__pq")
        .foreach(t => s.sql(s"DROP TABLE IF EXISTS $db.$t"))
      graft.operators.Similarity.ivfPqBuildIndex(e, anchors, "vec_id",
        graft.operators.Similarity.pqCodebooksSampled(anchors, m = 4),
        s"$db.v1", numBuckets = 8)
      val refit = graft.operators.Similarity.ivfPqRetrain(
        s, s"$db.v1", s"$db.v2", e, "vec_id", iters = 2, numBuckets = 8,
        refitSampleCap = RefitSampleCap)
      val hist = s.table(s"$db.v2")
        .select(posexplode(col("codes")))
        .groupBy(col("pos").as("subspace"), col("col").as("code"))
        .agg(count(lit(1)).as("n"))
      val cw1 = refit.codebooks.zipWithIndex.flatMap { case (cb, j) =>
        cb.zipWithIndex.map { case (w, c) =>
          (j, c.toLong, java.math.BigDecimal.valueOf(w(0))
            .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue())
        }
      }.toIndexedSeq.toDF("subspace", "code", "cw1")
      cw1.join(hist, Seq("subspace", "code"), "left")
        .select(col("subspace"), col("code"),
          coalesce(col("n"), lit(0L)).as("n"), col("cw1"))
        .orderBy("subspace", "code")
    },
    Some(s"""
      WITH $PqCtes,
      $RefitSampleSql,
      cb0 AS (SELECT j, code, cw FROM cb),
      ${pqRefitIterSql(1, "samp")},
      ${pqRefitIterSql(2, "samp")},
      encF AS (SELECT vec_id, j, code FROM (
                 SELECT e.vec_id, c.j, c.code,
                        ROW_NUMBER() OVER (PARTITION BY e.vec_id, c.j
                          ORDER BY ROUND(list_sum(list_transform(range(1, 17),
                            i -> pow(e.x[c.j*16 + i] - c.cw[i], 2))), 4),
                                   c.code) AS rk
                 FROM e CROSS JOIN cb2 c) t WHERE rk = 1),
      hist AS (SELECT j, code, CAST(COUNT(*) AS BIGINT) AS n
               FROM encF GROUP BY j, code)
      SELECT CAST(c.j AS INTEGER) AS subspace, CAST(c.code AS BIGINT) AS code,
             CAST(COALESCE(h.n, 0) AS BIGINT) AS n, ROUND(c.cw[1], 6) AS cw1
      FROM cb2 c LEFT JOIN hist h USING (j, code)
      ORDER BY 1, 2"""))

  /** The codebook drift signal
    * ([[graft.operators.Similarity.pqDriftStats]]): v1 is built on the
    * even half of the corpus (stamping that half's per-subspace encode
    * error as the baseline), the odd half appends under the frozen
    * codebook, and the probe reports current vs baseline error per
    * subspace — the WHEN of the q217 retrain. The oracle replays both
    * encode+average chains over the same halves. */
  val q218 = Q(
    "q218_pq_drift",
    (s, d) => {
      val e = Tables.embeddings(s, d)
      // the drift probe is the RECURRING monitoring face — read-only
      // over the store — so the build+append that sets up the drifted
      // state is a one-off fixture (round 15; the build/append costs
      // are q217's and q209's lifecycle territory)
      val db = Fixtures.once(s, "graft_q218", d) { db =>
        val anchors = e.filter(col("vec_id") < 8)
          .select(col("vec_id").as("anchor_id"), col("embedding").as("av"))
        val model =
          graft.operators.Similarity.pqCodebooksSampled(anchors, m = 4)
        graft.operators.Similarity.ivfPqBuildIndex(
          e.filter(col("vec_id") % 2 === 0), anchors, "vec_id", model,
          s"$db.v1", numBuckets = 8)
        graft.operators.Similarity.ivfPqIndexAppend(
          e.filter(col("vec_id") % 2 =!= 0), "vec_id", s"$db.v1")
      }
      graft.operators.Similarity.pqDriftStats(s, s"$db.v1", e, "vec_id")
    },
    Some(s"""
      WITH $PqCtes,
      base AS (SELECT j, ROUND(AVG(d), 4) AS err_build
               FROM enc WHERE vec_id % 2 = 0 GROUP BY j),
      now AS (SELECT j, CAST(COUNT(*) AS BIGINT) AS n_vectors,
                     ROUND(AVG(d), 4) AS err_now
              FROM enc GROUP BY j)
      SELECT CAST(n.j AS INTEGER) AS subspace, n.n_vectors, n.err_now,
             b.err_build,
             CASE WHEN b.err_build > 0
                  THEN ROUND(n.err_now / b.err_build, 4) END AS drift_ratio
      FROM now n JOIN base b USING (j)
      ORDER BY 1"""))

  /** The RECURRING face of the q217 lifecycle, measured alone: q217
    * deliberately times build-v1 + refit + rebuild in one body (it
    * pins the whole edge), which makes its bench number a one-off
    * build cost masquerading as steady state. Here the v1 store is a
    * build-once-per-JVM fixture ([[Fixtures.once]] — Bench's warmup
    * call pays it), and the measured body is only what a deployment
    * re-runs: sample the stored ids' vectors ([[RefitSampleCap]]
    * rows, id-hash-deterministic), 2 warm-start Lloyd rounds over the
    * sample, then the post-refit encode HISTOGRAM of the full corpus
    * computed on the fly — no store write, so every call is
    * idempotent and the measured pair is a true serve-face number.
    * The oracle is q217's CTE chain unchanged — that chain never
    * reads the store; both entries must produce the same rows, which
    * itself pins serve-face ≡ lifecycle-face. */
  val q220 = Q(
    "q220_pq_refit_only",
    (s, d) => {
      import s.implicits._
      val e = Tables.embeddings(s, d)
      val db = Fixtures.once(s, "graft_q220", d) { db =>
        val anchors = e.filter(col("vec_id") < 8)
          .select(col("vec_id").as("anchor_id"), col("embedding").as("av"))
        graft.operators.Similarity.ivfPqBuildIndex(
          e, anchors, "vec_id", pqModel(s, d), s"$db.v1", numBuckets = 8)
      }
      val model = graft.operators.Similarity.storedPqModel(s, s"$db.v1")
      // the store holds codes, not floats: the refit face reads the
      // stored IDS (column-pruned) and matches them to the caller's
      // float corpus — same contract as ivfPqRetrain, minus the rebuild
      val storedVecs = e.select(col("vec_id"), col("embedding"))
        .join(s.table(s"$db.v1").select(col("vec_id")), Seq("vec_id"),
          "leftsemi")
      val refit = graft.operators.Similarity.pqRefitCodebooks(
        graft.operators.Similarity.pqRefitSample(
          storedVecs, "vec_id", RefitSampleCap),
        model, iters = 2)
      val hist = e
        .select(posexplode(
          graft.operators.Similarity.pqCodesCol(col("embedding"), refit)))
        .groupBy(col("pos").as("subspace"), col("col").as("code"))
        .agg(count(lit(1)).as("n"))
      val cw1 = refit.codebooks.zipWithIndex.flatMap { case (cb, j) =>
        cb.zipWithIndex.map { case (w, c) =>
          (j, c.toLong, java.math.BigDecimal.valueOf(w(0))
            .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue())
        }
      }.toIndexedSeq.toDF("subspace", "code", "cw1")
      cw1.join(hist, Seq("subspace", "code"), "left")
        .select(col("subspace"), col("code"),
          coalesce(col("n"), lit(0L)).as("n"), col("cw1"))
        .orderBy("subspace", "code")
    },
    Some(s"""
      WITH $PqCtes,
      $RefitSampleSql,
      cb0 AS (SELECT j, code, cw FROM cb),
      ${pqRefitIterSql(1, "samp")},
      ${pqRefitIterSql(2, "samp")},
      encF AS (SELECT vec_id, j, code FROM (
                 SELECT e.vec_id, c.j, c.code,
                        ROW_NUMBER() OVER (PARTITION BY e.vec_id, c.j
                          ORDER BY ROUND(list_sum(list_transform(range(1, 17),
                            i -> pow(e.x[c.j*16 + i] - c.cw[i], 2))), 4),
                                   c.code) AS rk
                 FROM e CROSS JOIN cb2 c) t WHERE rk = 1),
      hist AS (SELECT j, code, CAST(COUNT(*) AS BIGINT) AS n
               FROM encF GROUP BY j, code)
      SELECT CAST(c.j AS INTEGER) AS subspace, CAST(c.code AS BIGINT) AS code,
             CAST(COALESCE(h.n, 0) AS BIGINT) AS n, ROUND(c.cw[1], 6) AS cw1
      FROM cb2 c LEFT JOIN hist h USING (j, code)
      ORDER BY 1, 2"""))

  def all: Seq[Q] =
    Seq(q34, q35, q39, q40, q48, q59, q60, q109, q136, q155, q171, q172,
      q178, q184, q185, q190, q206, q207, q209, q210, q211, q213, q214,
      q216, q217, q218, q220)
}
