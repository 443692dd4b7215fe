package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextHashAggregators

/** Reusable deduplication operators over a corpus DataFrame — the
  * library surface behind the q31/q32/q36-q38 query entries. Every
  * operator is `DataFrame => DataFrame` with explicit id/text columns so
  * it composes into any pipeline stage.
  *
  * Scale design notes are on each method; the common rule: shuffle keys
  * are always fixed-width digests/signatures, never raw text, and
  * anything quadratic is restricted to LSH-colliding candidates.
  */
object Dedup {

  /** Release a localCheckpoint'ed frame's storage for real:
    * `Dataset.unpersist` only talks to the CacheManager, which never saw
    * the checkpoint — the persisted RDD lives inside the plan's
    * LogicalRDD leaf, so unpersist that RDD directly. Without this the
    * corpus-sized signature/shingle blocks linger until GC collects the
    * RDD, piling up across repeated pipeline calls. No-op on plans
    * without a LogicalRDD. */
  private[graft] def freeLocalCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.unpersist(false)
      case _ => ()
    }

  /** word n-gram shingles of a token array column (by name), joined by
    * spaces. */
  def shingles(toksCol: String, n: Int): Column =
    expr(s"transform(sequence(0, size($toksCol) - $n), i -> array_join(slice($toksCol, i + 1, $n), ' '))")

  private def tokenized(docs: DataFrame, id: String, text: String, n: Int): DataFrame =
    docs.select(col(id), split(col(text), " ").as("toks"))
      .filter(size(col("toks")) >= n)

  /** The LSH document index: one row per doc with the MinHash signature
    * (for banding) and the DISTINCT shingle-hash set as an array (for
    * verification) — both from ONE fused kernel pass that digests each
    * shingle once. This is the canonical stored-index shape the
    * incremental path persists between batches: fixed-width per doc
    * (k×20-char signature + 8 bytes/distinct shingle, never raw text),
    * and verification joins carry whole docs' sets as single rows
    * instead of exploding to per-shingle rows. */
  def indexDocs(docs: DataFrame, id: String, text: String,
      n: Int = 4, k: Int = 16): DataFrame =
    tokenized(docs, id, text, n)
      .select(col(id), graft.functions.TextHashAggregators
        .minhashWithHalves(shingles("toks", n), k).as("__s"))
      .select(col(id), col("__s.mh").as("mh"),
        array_distinct(col("__s.hs")).as("hs"))

  /** Exact-duplicate groups keyed by content digest (md5 — the shuffle
    * key is 16 bytes regardless of document size). */
  def exactDuplicateGroups(docs: DataFrame, id: String, text: String): DataFrame =
    docs.groupBy(md5(col(text)).as("fingerprint"))
      .agg(count(lit(1)).as("copies"), min(col(id)).as("keeper"))
      .filter(col("copies") > 1)

  /** Keep-first exact dedup: returns surviving rows. The window
    * partitions on the content DIGEST, not the content: the shuffle then
    * moves 16-byte keys instead of whole documents' worth of comparator
    * work (same rule as every other operator here; groups differ from
    * raw-text grouping only on an md5 collision, which the cross-engine
    * hash compare would surface loudly). */
  def dropExactDuplicates(docs: DataFrame, id: String, text: String): DataFrame = {
    val w = Window.partitionBy(md5(col(text)))
    docs.withColumn("__keeper", min(col(id)).over(w))
      .filter(col(id) === col("__keeper"))
      .drop("__keeper")
  }

  /** MinHash signatures: one narrow pass per document (no shuffle; see
    * TextHashAggregators.minhashSignature). Output: (id, mh array<string>). */
  def minHashSignatures(docs: DataFrame, id: String, text: String,
      n: Int = 4, k: Int = 16): DataFrame =
    tokenized(docs, id, text, n)
      .select(col(id), TextHashAggregators.minhash(shingles("toks", n), k).as("mh"))

  /** Band a signature frame: one row per (id, band) carrying an 8-byte
    * md5-half digest of the concatenated in-band minhashes as the
    * bucket key. The digest IS the key (not the raw concatenation):
    * bucket grouping, the batch-vs-store semi-joins, and the persisted
    * `__bands` twin all move fixed 8-byte longs instead of ~80-char
    * high-entropy strings — measured 3-4× less scan/shuffle byte mass
    * on the whole LSH family, and the durable twin shrinks the same
    * factor on disk. Two distinct band slices collide into one bucket
    * only on a 64-bit digest collision (~n²/2^64 — and a FALSE pair
    * additionally needs the merged bucket's docs to pass exact-Jaccard
    * verification, so candidate-set noise never reaches the output;
    * the minhash signatures themselves are already 80-bit md5
    * truncations, so this adds no new failure class).
    *
    * Validated hard: a k that doesn't divide into bands would silently
    * ignore trailing hashes, and a STORED index whose signatures were
    * built with a different k would slice past the array — empty
    * slices give every doc the same "" bucket key in the tail bands,
    * which is either a corpus-sized bucket (guard off) or a silently
    * dropped one (guard on, WARN misattributed to boilerplate). Both
    * are recall/blow-up corruption with no error, so the screening k
    * is checked against each signature in-plan. */
  private[graft] def bandedSignatures(signatures: DataFrame, id: String,
      k: Int, bands: Int): DataFrame = {
    require(bands >= 1 && k >= bands && k % bands == 0,
      s"signature length k=$k must be a positive multiple of bands=$bands")
    val rows = k / bands
    signatures
      .select(col(id),
        when(size(col("mh")) === k, col("mh"))
          .otherwise(raise_error(format_string(
            s"stored signature length %s does not match screening k=$k " +
              "(index built with different minhash parameters?)",
            size(col("mh")).cast("string")))).as("mh"))
      .select(col(id), explode(sequence(lit(0), lit(bands - 1))).as("band"), col("mh"))
      .select(col(id), col("band"),
        TextHashAggregators.md5Half(
          expr(s"array_join(slice(mh, band * $rows + 1, $rows), '|')")).as("sig"))
  }

  /** [[bandedSignatures]] over a full [[indexDocs]] frame, carrying the
    * shingle-hash SET through the band explode: one row per (doc, band)
    * with (sig, hs) — the `__bands` twin's row shape. The hs array is
    * duplicated `bands`× on disk; that is the deliberate trade that lets
    * a trickle append's exact-Jaccard verification read ONLY
    * bucket-pruned twin rows (collision-bounded) instead of the main
    * table's hs column, whose mass grows with the index. */
  private[graft] def bandedWithSets(index: DataFrame, id: String,
      k: Int, bands: Int): DataFrame = {
    require(bands >= 1 && k >= bands && k % bands == 0,
      s"signature length k=$k must be a positive multiple of bands=$bands")
    val rows = k / bands
    index
      .select(col(id),
        when(size(col("mh")) === k, col("mh"))
          .otherwise(raise_error(format_string(
            s"stored signature length %s does not match screening k=$k " +
              "(index built with different minhash parameters?)",
            size(col("mh")).cast("string")))).as("mh"),
        col("hs"))
      .select(col(id), explode(sequence(lit(0), lit(bands - 1))).as("band"),
        col("mh"), col("hs"))
      .select(col(id), col("band"),
        TextHashAggregators.md5Half(
          expr(s"array_join(slice(mh, band * $rows + 1, $rows), '|')")).as("sig"),
        col("hs"))
  }

  /** In-bucket i<j pair expansion over a collected id list column: each
    * bucket's C(m,2) pairs as (id_a, id_b) structs, normalized
    * least-first so a cross-band distinct collapses mirrored orderings,
    * with SELF-PAIRS dropped (`id_a <> id_b` — a doc id appearing twice
    * in one bucket, e.g. duplicate input rows, must not pair with
    * itself; the old self-join formulation's strict `<` dropped these).
    * `extraPred` further filters pairs inside the lambda (before the
    * explode) from the element structs `x`/`y`. */
  private[graft] def bucketPairs(idsCol: String, aField: String, bField: String,
      aExpr: String = "x", bExpr: String = "y",
      extraPred: Option[String] = None): Column = {
    val guard = extraPred.map(p => s" AND ($p)").getOrElse("")
    expr(
      s"""filter(flatten(transform($idsCol, (x, i) ->
         |  transform(slice($idsCol, i + 2, size($idsCol) - i - 1), y ->
         |    named_struct('$aField', least($aExpr, $bExpr),
         |                 '$bField', greatest($aExpr, $bExpr),
         |                 '__keep', $aExpr <> $bExpr$guard)))),
         |  p -> p.__keep)""".stripMargin)
  }

  /** Default LSH hot-bucket cap: ON by default, because the failure
    * mode it prevents is a silent blow-up — at web-corpus scale one
    * boilerplate bucket (empty-ish docs, template pages) makes the
    * candidate stage quadratic in that bucket's population. 10k is far
    * above any honest near-dup bucket at sane band widths while still
    * bounding a degenerate bucket to ~5×10^7 in-bucket pairs. Pass
    * `maxBucketSize = Int.MaxValue` to opt out explicitly. */
  val DefaultMaxBucketSize: Int = 10000

  private val hotBucketObserveSeq = new java.util.concurrent.atomic.AtomicLong
  private val hotBucketListenerSessions =
    java.util.Collections.synchronizedSet(
      java.util.Collections.newSetFromMap(
        new java.util.WeakHashMap[org.apache.spark.sql.SparkSession, java.lang.Boolean]()))

  /** The guarded LSH bucket aggregation: group the banded frame by
    * (band, sig) and collect each bucket's elements (`elem` per row)
    * as `__ids`, dropping buckets over `maxBucketSize` and singleton
    * buckets. The in-bucket pair expansion downstream is quadratic in
    * bucket size, so one degenerate bucket (millions of near-identical
    * boilerplate docs on one (band, sig) key) would otherwise dominate
    * the job — and the collection buffer itself would OOM an executor.
    *
    * Single-shuffle, single-aggregate: the cap rides the SAME
    * aggregation as the collection — a
    * [[graft.functions.BoundedCollectList]] buffer that stops growing
    * at `cap + 1` elements (map-side partials included). Overflow is
    * detected by LENGTH (`size(__ids) > cap`), so no separate exact
    * `count` aggregate is carried: over-limit groups are dropped on
    * the collected length BEFORE any pair expansion. (A count-prepass
    * + semi-join formulation measured ~1.3-1.5× on the whole operator;
    * the r7 same-aggregation `count(lit(1))` variant still cost
    * ~10-30% on the LSH family at sf0.1 — the guard must not tax the
    * stage it protects.)
    *
    * Recall note: a true near-dup pair is lost only if EVERY band it
    * collides in is hot — and hot buckets are overwhelmingly exact-dup/
    * boilerplate mass that upstream exact dedup should have removed.
    * `Int.MaxValue` = guard off, behavior byte-identical.
    *
    * No silent caps: the aggregation carries an `observe` metric (no
    * extra job), and a per-session listener WARNs with the
    * dropped-bucket count and the cap whenever the cap actually fired
    * (exact bucket sizes are no longer computed — overflow is detected
    * by collecting cap+1 elements, which is what keeps the guard free). */
  private[graft] def guardedBuckets(banded: DataFrame, elem: Column,
      maxBucketSize: Int, failOnOverflow: Boolean = false): DataFrame =
    if (maxBucketSize == Int.MaxValue)
      // explicit opt-out: UNBOUNDED collect — one corpus-sized
      // boilerplate bucket buffers its whole id list in a single
      // aggregation buffer and can OOM an executor. Callers that must
      // not drop buckets should prefer failOnOverflow with a large cap
      // (bounded memory, loud failure) over this.
      banded.groupBy("band", "sig")
        .agg(collect_list(elem).as("__ids"))
        .filter(size(col("__ids")) > 1)
    else if (failOnOverflow) {
      // leak-safe bounded mode: the buffer still stops at cap+1 (so a
      // degenerate bucket cannot OOM the executor), but an over-cap
      // bucket FAILS the job with an actionable message instead of
      // being silently dropped — the contract decontamination needs,
      // where a dropped hot bucket would let contaminated docs through
      // unreported.
      require(maxBucketSize >= 2, s"maxBucketSize must be >= 2, got $maxBucketSize")
      val overflowed = size(col("__ids")) > maxBucketSize
      banded.groupBy("band", "sig")
        .agg(graft.functions.BoundedCollect
          .boundedCollectList(elem, maxBucketSize + 1).as("__ids"))
        .filter(isnull(assert_true(!overflowed,
          concat(lit("LSH bucket (band="), col("band"), lit(", sig="),
            col("sig"), lit(s") exceeds maxBucketSize=$maxBucketSize — "),
            lit("boilerplate/exact-dup mass; run exact dedup upstream, " +
              "raise maxBucketSize, or allow drops (failOnOverflow=false)"))))
          && size(col("__ids")) > 1)
    } else {
      require(maxBucketSize >= 2, s"maxBucketSize must be >= 2, got $maxBucketSize")
      registerHotBucketListener(banded.sparkSession)
      val overflowed = size(col("__ids")) > maxBucketSize
      banded.groupBy("band", "sig")
        .agg(graft.functions.BoundedCollect
          .boundedCollectList(elem, maxBucketSize + 1).as("__ids"))
        // unique node name: two guarded stages may share one executed plan
        .observe(s"lsh_hot_bucket_guard_${hotBucketObserveSeq.incrementAndGet()}",
          // coalesced: over an EMPTY banded frame (all-short batch) sum
          // observes as NULL and the listener's getAs[Long] would NPE
          coalesce(sum(when(overflowed, 1L).otherwise(0L)),
            lit(0L)).as("dropped_buckets"),
          lit(maxBucketSize.toLong).as("cap"))
        .filter(!overflowed && size(col("__ids")) > 1)
    }

  private def registerHotBucketListener(
      spark: org.apache.spark.sql.SparkSession): Unit =
    if (hotBucketListenerSessions.add(spark))
      spark.listenerManager.register(
        new org.apache.spark.sql.util.QueryExecutionListener {
          private val log = org.apache.logging.log4j.LogManager.getLogger("graft.Dedup")
          override def onSuccess(funcName: String,
              qe: org.apache.spark.sql.execution.QueryExecution,
              durationNs: Long): Unit =
            qe.observedMetrics.foreach { case (name, row) =>
              if (name.startsWith("lsh_hot_bucket_guard_")) {
                val dropped = row.getAs[Long]("dropped_buckets")
                if (dropped > 0) log.warn(
                  s"LSH hot-bucket guard dropped $dropped bucket(s) over cap=" +
                    s"${row.getAs[Long]("cap")} — boilerplate/exact-dup " +
                    "mass; run exact dedup upstream or raise maxBucketSize")
              }
            }
          override def onFailure(funcName: String,
              qe: org.apache.spark.sql.execution.QueryExecution,
              exception: Exception): Unit = ()
        })

  /** Incremental near-dup maintenance — the append-a-shard path a 100 TB
    * corpus actually runs: keep the per-document [[indexDocs]] frame
    * from previous batches (fixed-width per doc, tiny next to the raw
    * text), and when a new batch of documents arrives compute ONLY the
    * pairs that touch a new document (new↔old and new↔new). Old↔old
    * pairs were reported by earlier batches and are never re-verified,
    * so ingest cost is proportional to the BATCH (plus one bucket
    * aggregation over the stored index), not the corpus.
    *
    * PRECONDITION: `oldIndex` and `newDocs` are disjoint on `id` — a doc
    * present in both would carry two rows into the verification sets
    * frame and double its intersection counts. (Self-pairs from such an
    * overlap are guarded regardless.)
    *
    * Same stage shape as [[minHashLshPairs]]: one (band, sig) groupBy
    * over old ∪ new with in-bucket pair expansion (old↔old pairs are
    * dropped INSIDE the bucket lambda, before the explode), then the
    * broadcast array-intersect verification — the stored index never
    * explodes to per-shingle rows on the append path.
    *
    * Invariant (IncrementalLshSpec): previous pairs ∪ this result ==
    * `minHashLshPairs` over the whole corpus, for any batch split.
    * Returns the new pairs `(id_a, id_b, jaccard)`, ids least-first. */
  def incrementalLshPairs(
      oldIndex: DataFrame, newDocs: DataFrame, id: String, text: String,
      n: Int = 4, k: Int = 16, bands: Int = 4,
      threshold: Double = 0.5, maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    val newIndex = indexDocs(newDocs, id, text, n, k).localCheckpoint(true)
    val out = incrementalLshPairsIndexed(oldIndex, newIndex, id,
      k = k, bands = bands, threshold = threshold, maxBucketSize = maxBucketSize)
    freeLocalCheckpoint(newIndex) // out is checkpointed; safe to drop
    out
  }

  /** Durable LSH dedup index: persist [[indexDocs]]'s (id, mh, hs) rows
    * as an id-bucketed table with the LSH parameters stamped as table
    * properties — the on-disk twin of the in-memory index frame, so the
    * dedup state survives restarts and grows by [[lshIndexAppend]]
    * batches exactly like the IVF family's stored indexes. The banded
    * rows are ALSO persisted, as the `<table>__bands` twin bucketed on
    * a (band, sig) hash key, so appends read only the buckets the batch
    * collides into instead of re-banding the whole store (see
    * [[storedBandsPrunedByKeys]]). This is the only writer of the store
    * layout every append assumes: the twin exists and carries `hs`.
    *
    * Ordering contract (the crash rule shared with
    * `Similarity.ivfBuildIndex`): the parameter stamp is the LAST build
    * step, so a crash mid-build leaves a table [[lshIndexAppend]]
    * REFUSES (no params = half-built) instead of one it would silently
    * band with the caller's — possibly different — parameters. A
    * REBUILD over an existing store additionally UNSETS the old stamp
    * as its FIRST step: without that, a crash between the ledger
    * overwrite and the index overwrite would leave the OLD index (old
    * stamp still valid, so appends would serve it) paired with the NEW
    * corpus's ledger — silently breaking the ledger-equals-recompute
    * invariant. Un-stamping first makes every mid-rebuild crash window
    * a refusal. */
  def lshBuildIndex(docs: DataFrame, id: String, text: String,
      table: String, n: Int = 4, k: Int = 16, bands: Int = 4,
      numBuckets: Int = 16, threshold: Double = 0.5,
      maxBucketSize: Int = DefaultMaxBucketSize): Unit = {
    require(bands >= 1 && k >= bands && k % bands == 0,
      s"signature length k=$k must be a positive multiple of bands=$bands")
    val spark = docs.sparkSession
    if (spark.catalog.tableExists(table))
      spark.sql(s"ALTER TABLE $table UNSET TBLPROPERTIES IF EXISTS (" +
        "'graft.lsh_n', 'graft.lsh_k', 'graft.lsh_bands', " +
        "'graft.lsh_buckets')")
    // ONE corpus pass: the fused signature kernel materializes the index
    // once, and the ledger seed, the bands twin, and the index write all
    // derive from it (the pairs previously re-ran indexDocs internally —
    // a second full kernel pass per build)
    val index = indexDocs(docs, id, text, n, k).localCheckpoint(true)
    // the pair LEDGER (`<table>__pairs`) is part of the durable state:
    // the build seeds it with the build corpus's own verified pairs, and
    // every append adds only its new pairs BEFORE the index rows land —
    // so the ledger always equals a full recompute over the stored docs,
    // and a crash can never lose a batch's pair report (see
    // lshIndexAppend's crash analysis)
    // the UNcheckpointed pair plan: the ledger write below is its one
    // consumer, so the write's own execution materializes it — a
    // checkpoint here (minHashLshPairsFromIndex's contract, needed when
    // the caller frees the index right after) would only add a
    // materialization job per build
    val pairs = minHashLshPairsPlan(index, id, k, bands, threshold,
      maxBucketSize)
    pairs.write.mode("overwrite").format("parquet")
      .saveAsTable(lshPairsTableName(table))
    // the index is checkpointed, so its partition count is known without
    // executing anything — the write-width hint keeps a small corpus's
    // bucketed writes (and the twin's file count, which every append's
    // pruned read pays a footer open per file for) input-proportional
    // instead of slot-wide; a corpus-scale build is unaffected
    val indexParts = Some(index.rdd.getNumPartitions)
    graft.operators.Layout.writeBucketed(
      withBandsKey(bandedWithSets(index, id, k, bands)),
      lshBandsTableName(table), bucketCols = Seq("bkey"),
      numBuckets = numBuckets, inputParts = indexParts)
    graft.operators.Layout.writeBucketed(index, table,
      bucketCols = Seq(id), numBuckets = numBuckets,
      inputParts = indexParts)
    freeLocalCheckpoint(index)
    spark.sql(s"ALTER TABLE $table SET TBLPROPERTIES (" +
      s"'graft.lsh_n' = '$n', 'graft.lsh_k' = '$k', " +
      s"'graft.lsh_bands' = '$bands', 'graft.lsh_buckets' = '$numBuckets')")
  }

  /** The durable pair ledger of a [[lshBuildIndex]] store. */
  def lshPairsTableName(table: String): String = s"${table}__pairs"

  /** The banded-rows twin of a [[lshBuildIndex]] store: one row per
    * (doc, band) with the bucket signature precomputed — what appends
    * scan instead of re-banding every stored signature. Each row also
    * carries the doc's shingle-hash set (`hs`, duplicated bands× on
    * disk) so a FILE-PRUNED append's verification never reads the main
    * table; batches too large to prune fall back to the single-copy
    * main-table read (see [[storedBandsPrunedByKeys]]). */
  def lshBandsTableName(table: String): String = s"${table}__bands"

  /** Bucket-key domain of the `__bands` twin. The table is BUCKETED on
    * `bkey = pmod(hash(band, sig), domain)`, so an append's
    * `bkey IN (batch keys)` filter prunes FILES (the IVF family's
    * `cell IN (...)`/SelectedBucketsCount device) — a small batch (the
    * serving-style trickle append) reads only the buckets it can collide
    * into. The domain caps the IN-list the driver collects at 1024
    * int literals regardless of batch size; pruning granularity itself
    * is the table's numBuckets. */
  private[graft] val BandsKeyDomain = 1024

  private def bandsKey: Column =
    pmod(hash(col("band"), col("sig")), lit(BandsKeyDomain))

  private def withBandsKey(banded: DataFrame): DataFrame =
    banded.withColumn("bkey", bandsKey)

  /** The batch's distinct (band, sig) keys with their bucket key, as ONE
    * driver collect — every consumer of the batch's band keys (the
    * `bkey IN (...)` file prune, the twin's exact semi-join, the pair
    * stage's old-side prune) derives from this array. The joins
    * BROADCAST these rows anyway, so they were driver-collected either
    * way; collecting once and re-wrapping as a local relation kills the
    * per-consumer broadcast-build jobs that dominated the append's
    * driver-job floor. */
  private[graft] def collectBatchKeys(
      batchBanded: DataFrame): BatchBandKeys = {
    val rows = batchBanded
      .select(col("band"), col("sig"), bandsKey.as("bkey"))
      .distinct().collect()
    BatchBandKeys(rows,
      batchBanded.select(col("band"), col("sig")).schema)
  }

  /** Driver-collected batch band keys: (band, sig, bkey) rows plus the
    * (band, sig) schema for rebuilding local relations. */
  private[graft] case class BatchBandKeys(
      rows: Array[org.apache.spark.sql.Row],
      bandSigSchema: org.apache.spark.sql.types.StructType) {
    def bkeys: IndexedSeq[Int] = rows.map(_.getInt(2)).distinct.toIndexedSeq
    def bandSigFrame(spark: org.apache.spark.sql.SparkSession): DataFrame =
      localFrame(spark, bandSigSchema, rows)
  }

  /** The leading `schema.length` fields of driver-collected `rows` as a
    * LOCAL relation on `spark` — broadcasting it never schedules an
    * executor job (LocalTableScan collects driver-side). */
  private def localFrame(spark: org.apache.spark.sql.SparkSession,
      schema: org.apache.spark.sql.types.StructType,
      rows: Array[org.apache.spark.sql.Row]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows.map(r =>
      org.apache.spark.sql.Row.fromSeq(r.toSeq.take(schema.length))): _*),
      schema)

  /** The stored `__bands` rows that can collide with a batch, from its
    * ALREADY-COLLECTED keys — the batch-proportional read at the heart
    * of [[lshIndexAppend]]: (1) the batch's ≤[[BandsKeyDomain]] distinct
    * bucket keys are pushed as `bkey IN (...)` into the bucketed scan
    * (file pruning, SelectedBucketsCount — pinned by
    * IncrementalLshSpec); (2) an exact broadcast semi-join on the
    * batch's (band, sig) keys prunes the surviving rows map-side;
    * (3) `dropDuplicates` over the collision-bounded remainder makes
    * the read immune to the one crash-replay window that can append a
    * batch's band rows twice (crash between the bands append and the
    * index append — see [[lshIndexAppendIndexed]]'s ordering analysis).
    * Nothing in the path aggregates or shuffles index-sized mass. */
  private[graft] def storedBandsPrunedByKeys(
      spark: org.apache.spark.sql.SparkSession, table: String,
      batchKeys: BatchBandKeys, id: String): DataFrame = {
    val keys = batchKeys.bkeys
    val twin = spark.table(lshBandsTableName(table))
    // The twin hands the verification its shingle sets on the same
    // pruned read — but the sets are duplicated bands× on disk, so that
    // only WINS when file pruning leaves most of the twin unread (the
    // trickle/serving shape the twin exists for). Once the batch's
    // bucket keys cover enough of the twin's files that the banded
    // duplicates would outweigh ONE full copy of the store's sets, hs is
    // NOT projected (the scan never reads the column) and the caller
    // falls back to the single-copy main-table read pruned by candidate
    // id-buckets: a domain-covering batch reading the sets through the
    // twin read bands× the hs mass (measured 1.8× the in-memory control
    // at a 1000× store vs ~1× via the main read).
    val (_, _, bands, numBuckets) = storedLshParams(spark, table)
    val expectedTouched =
      1.0 - math.pow(1.0 - 1.0 / numBuckets, keys.length.toDouble)
    val withSets = expectedTouched * bands <= 1.0
    val outCols = Seq(col(id), col("band"), col("sig")) ++
      (if (withSets) Seq(col("hs")) else Nil)
    if (keys.isEmpty) // empty/fully-replayed batch: nothing can collide
      return twin.filter(lit(false)).select(outCols: _*)
    // the IN can only prune FILES through the twin's bkey bucketing
    // (numBuckets granularity); once the batch's keys make every bucket
    // expected-touched, the up-to-1024-literal predicate prunes nothing
    // and costs real driver time to plan and codegen per append — skip
    // it there (the semi-join below stays exact either way; the pruned
    // read is allowed to be any superset). Trickle batches (few keys)
    // keep the IN and its SelectedBucketsCount file pruning.
    val pruned =
      if (expectedTouched >= 1.0 - 0.5 / numBuckets) twin
      else twin.filter(col("bkey").isin(keys: _*))
    pruned
      .join(broadcast(batchKeys.bandSigFrame(spark)),
        Seq("band", "sig"), "leftsemi")
      .dropDuplicates(id, "band")
      .select(outCols: _*)
  }

  /** The LSH parameters a stored index was built with — the banding
    * contract lives WITH the index, so an append can never band a batch
    * with drifted parameters. A table without them is half-built or
    * foreign: refuse. */
  private[graft] def storedLshParams(spark: org.apache.spark.sql.SparkSession,
      table: String): (Int, Int, Int, Int) = {
    require(spark.catalog.tableExists(table), s"no such index table: $table")
    val props = org.apache.spark.sql.GraftBridge.tableProperties(spark, table)
    def p(key: String): Int = props.get(key) match {
      case Some(v) => v.toInt
      case None => throw new IllegalArgumentException(
        s"index $table records no $key — not built by lshBuildIndex, or " +
          "a build that crashed before the final parameter stamp; rebuild")
    }
    (p("graft.lsh_n"), p("graft.lsh_k"), p("graft.lsh_bands"),
      p("graft.lsh_buckets"))
  }

  /** Grow a [[lshBuildIndex]] store by a batch and return the NEW
    * verified near-dup pairs (batch↔stored and batch↔batch, ids
    * least-first) — the durable, crash-convergent form of
    * [[incrementalLshPairs]]. Banding parameters are read from the
    * store's own stamp, never the caller. The batch is anti-joined
    * against the stored ids first, so a replayed append — a client
    * retry, a crash after the data landed — appends ZERO rows and
    * returns zero pairs instead of duplicating index state; persist the
    * returned pairs before relying on replay.
    *
    * Cost per append: the batch's signature pass + a FILE-PRUNED stored
    * -id lookup for the replay guard (the batch ids' own id-buckets
    * pick the files, a broadcast semi finds the overlap, the batch
    * anti-joins the broadcast overlap — no shuffle, no sort, and a
    * trickle opens 1-2 bucket files) + the bucket-pruned `__bands` read
    * ([[storedBandsPrunedByKeys]]: file pruning by the batch's bucket
    * keys, then an exact broadcast semi-join — no re-banding of stored
    * signatures, no index-sized aggregation). Verification picks its
    * shingle-set source ADAPTIVELY from the batch's expected bucket
    * coverage: a trickle/serving batch (file pruning engages) reads hs
    * off those same collision-bounded pruned twin rows — the MAIN table
    * is never read beyond the replay guard's id column, and nothing on
    * the append path reads index-proportional bytes; a domain-covering
    * shard batch instead reads the single-copy (id, hs) main table
    * pruned by the candidate ids' buckets, because the twin's bands× hs
    * duplication with no file pruning would cost bands× the store's set
    * mass. */
  def lshIndexAppend(spark: org.apache.spark.sql.SparkSession,
      table: String, newDocs: DataFrame, id: String, text: String,
      threshold: Double = 0.5,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    val (n, k, _, _) = storedLshParams(spark, table)
    lshIndexAppendIndexed(spark, table,
      indexDocs(newDocs, id, text, n, k), id, threshold, maxBucketSize)
  }

  /** [[lshIndexAppend]]'s core over an ALREADY-INDEXED batch — (id, mh,
    * hs) rows in [[indexDocs]] shape under the STORE's own parameters.
    * A batch whose signature length disagrees with the store's stamped
    * `k` refuses in-plan — banding a drifted signature would silently
    * miss every collision past the shorter length. All
    * ordering/crash/replay guarantees are [[lshIndexAppend]]'s. */
  private def lshIndexAppendIndexed(spark: org.apache.spark.sql.SparkSession,
      table: String, newIndex: DataFrame, id: String,
      threshold: Double = 0.5,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    val (_, k, bands, numBuckets) = storedLshParams(spark, table)
    // AQE is OFF and the shuffle width scoped to the batch for the
    // append's internal micro-queries (adaptive execution runs each
    // query stage as its own driver job, and every frame on this path is
    // batch-sized or broadcast-bounded — there is nothing for AQE to
    // adapt, while a 4-partition trickle gets 4-task stages instead of
    // the session's static 32). They plan on a private clone of the
    // session (GraftSession.maintenanceScope), so the caller's conf is
    // never touched; the pairs come back rebound to the caller.
    val pt = lshPairsTableName(table)
    val pairs = graft.GraftSession.maintenanceScope(spark, newIndex,
        writes = Seq(pt, lshBandsTableName(table), table)) { (clone, batch) =>
    val stored = clone.table(table)
    // the replay guard and the bucket appends both hash the BATCH's id
    // column — and murmur3 is type-sensitive: an int-typed batch id
    // hashing against a long-typed store opens the WRONG bucket files,
    // the overlap misses stored duplicates, and a replayed append
    // silently duplicates index rows. Align the batch to the store's id
    // type up front when the cast is lossless; refuse loudly otherwise
    // (the final appendBucketed would have auto-cast it anyway, hiding
    // the divergence).
    val storeIdType = stored.schema(id).dataType
    val batchIdType = batch.schema(id).dataType
    val typed =
      if (batchIdType == storeIdType) batch
      else if (org.apache.spark.sql.catalyst.expressions.Cast
          .canUpCast(batchIdType, storeIdType))
        batch.withColumn(id, col(id).cast(storeIdType))
      else throw new IllegalArgumentException(
        s"lshIndexAppendIndexed: batch id column '$id' is $batchIdType " +
          s"but $table stores $storeIdType — no lossless cast exists; " +
          "align the batch's id type before appending")
    val guarded = typed
      .withColumn("mh", when(size(col("mh")) === k, col("mh"))
        .otherwise(raise_error(format_string(
          s"lshIndexAppendIndexed: batch signature length %s != the " +
            s"store's stamped k=$k — indexed under drifted parameters; " +
            "re-index the batch from text", size(col("mh")).cast("string")))))
    // Replay guard WITHOUT an index-scale shuffle: a plain left-anti of
    // the batch against 5M+ stored ids plans a sort-merge join — the
    // stored side shuffles and sorts at every append, which is exactly
    // the index-linear work the append path exists to avoid. Instead:
    // (1) the batch's own id-buckets FILE-prune the stored-id read (a
    // trickle opens 1-2 bucket files; a shard-sized batch degrades to
    // one map-side column scan — never a shuffle); (2) a broadcast
    // SEMI-join finds the replay overlap (≤ batch rows); (3) the batch
    // anti-joins the BROADCAST overlap. Same rows as the plain
    // anti-join, zero exchanges on index-sized mass.
    // At serving cadence the append's wall IS its driver-job count, so
    // the batch's index rows materialize ONCE (`fresh` below) and every
    // later consumer reads those blocks.
    // The replay-guard overlap derives from the RAW batch ids — a
    // column-pruned scan of the arriving frame that never computes a
    // signature ([[indexDocs]] is projection-only, so selecting the id
    // prunes the kernel) — which lets the kernel and the anti-join
    // fuse into ONE materialization below: `fresh` (kernel output
    // minus replayed ids) is the path's only batch checkpoint, and
    // every later consumer (banding, verification, the index append)
    // reads its blocks instead of re-deriving the anti-join and
    // re-reading the store per consumer.
    // the batch's distinct ids were driver-collected anyway (the overlap
    // semi-join below BROADCASTS them) — ONE collect of (id, bucket)
    // folds the bucket probe into the same job, and the semi-join then
    // probes a local relation (no executor job to build its broadcast)
    val idRows = typed
      .select(col(id), pmod(hash(col(id)), lit(numBuckets)).as("__b"))
      .distinct().collect()
    val batchBuckets = idRows.map(_.getInt(1)).toSet
    val rawIds = localFrame(clone,
      org.apache.spark.sql.types.StructType(Seq(typed.schema(id))), idRows)
    val overlap = Layout.readBucketSubset(clone, table, batchBuckets)
      .select(col(id))
      .join(broadcast(rawIds), Seq(id), "leftsemi")
    // LAZY checkpoint, like bandedNew below: the batch-key collect's one
    // job computes bandedNew, whose computation runs (and thereby
    // persists) this marked RDD too — two materialization jobs become
    // zero, and every later consumer still reads blocks
    val fresh = guarded.join(broadcast(overlap), Seq(id), "leftanti")
      .localCheckpoint(false)
    // the batch's banded rows feed three consumers (the bkey collect,
    // the bucket union, the bands append) — one materialization. They
    // carry hs because the bands append must match the twin's schema.
    // LAZY: the batch-key collect right below is the materializing job
    // (its consumers are strictly sequential after it).
    val bandedNew = bandedWithSets(fresh, id, k, bands).localCheckpoint(false)
    // the batch's distinct band keys, collected ONCE for every consumer
    // (the twin's file prune + semi-join AND the pair stage's old-side
    // prune) — see [[collectBatchKeys]]; this collect materializes the
    // fresh + bandedNew checkpoints above
    val batchKeys = collectBatchKeys(bandedNew)
    // materialize the pruned twin read once: it feeds the bucket union
    // AND the verification below, and it is collision-bounded (rows in
    // batch-touched buckets only). Whether it CARRIES the verification
    // sets is storedBandsPrunedByKeys' adaptive call. LAZY checkpoint:
    // the first consumer's job materializes it (the candidate collect
    // below, or the pair jobs on the hs path).
    val pruned = storedBandsPrunedByKeys(clone, table, batchKeys, id)
      .localCheckpoint(false)
    val (oldSets, freeAfterPairs) =
      if (pruned.columns.contains("hs"))
        (pruned.select(col(id), col("hs")).dropDuplicates(id), Seq(pruned))
      else {
        // old candidate ids ⊆ pruned-bucket ids (candidates only come
        // from buckets the batch touches), so verification needs the
        // stored hs sets ONLY for those ids — and the store is
        // id-bucketed, so the candidate set prunes at FILE level too:
        // the candidates' ≤numBuckets distinct id-buckets select which
        // files to open ([[Layout.readBucketSubset]]), then the exact
        // broadcast semi-join prunes rows. The candidate ids would be
        // broadcast (= driver-collected) anyway, so ONE collect of
        // (id, bucket) serves both, and the semi-join probes a local
        // relation.
        val candRows = pruned
          .select(col(id), pmod(hash(col(id)), lit(numBuckets)).as("__b"))
          .distinct().collect()
        val touched = candRows.map(_.getInt(1)).toSet
        // a batch of genuinely new content collides with nothing —
        // the common serving case; an empty candidate set means zero
        // sets to read, so skip the read + checkpoint jobs outright
        if (touched.isEmpty)
          (stored.filter(lit(false)).select(col(id), col("hs")), Seq(pruned))
        else {
          val candLocal = localFrame(clone,
            org.apache.spark.sql.types.StructType(Seq(pruned.schema(id))),
            candRows)
          val sets = Layout.readBucketSubset(clone, table, touched)
            .select(col(id), col("hs"))
            .join(broadcast(candLocal), Seq(id), "leftsemi")
            .localCheckpoint(true)
          (sets, Seq(pruned, sets))
        }
      }
    val (pairs, nPairs) = incrementalPairsFromBandedCounted(oldSets,
      pruned.drop("hs"), bandedNew.drop("hs"), fresh.select(col(id), col("hs")),
      id, threshold, maxBucketSize,
      newKeys = Some(batchKeys.bandSigFrame(clone)))
    freeAfterPairs.foreach(freeLocalCheckpoint) // pairs is checkpointed
    // Durability order: pair LEDGER first, bands twin second, index rows
    // LAST. Crash after the ledger write → the replay's anti-join still
    // sees the batch as new (its ids are absent from the MAIN table,
    // which commits last), recomputes the SAME pairs, and the
    // ledger-side anti-join below drops them — convergent. Crash after
    // the bands append → same replay; the batch's band rows land twice
    // in the twin, which [[storedBandsPrunedByKeys]]' dropDuplicates
    // makes invisible to every later read (disk bloat only, never wrong
    // pairs). The REVERSE order (index before bands) would be the
    // dangerous one: a crash between them leaves stored docs whose band
    // rows are permanently missing from the twin — silently lost
    // collisions with every future batch.
    // a pair-less batch (all-new content at serving cadence) has
    // nothing to make durable: appending an empty frame would still pay
    // a full commit + catalog refresh; the count came free with the
    // pair checkpoint's own materialization job
    val skipLedger = nPairs == 0L
    val durable =
      if (!skipLedger && clone.catalog.tableExists(pt)) {
        // same double-hop as the id replay guard: the ledger is
        // pair-mass-sized and unbucketed, so a plain anti-join would
        // shuffle+sort it per append — semi-join it against the
        // BROADCAST batch pairs (one map-side scan). The overlap is
        // ≤ the batch's pairs and a broadcast would driver-collect it
        // anyway; collecting it explicitly lets the steady-state
        // all-new batch (empty overlap) write the checkpointed pairs
        // directly, with no anti-join plan or broadcast-build job at all
        val already = clone.table(pt).select(col("id_a"), col("id_b"))
          .join(broadcast(pairs.select(col("id_a"), col("id_b"))),
            Seq("id_a", "id_b"), "leftsemi")
          .collect()
        if (already.isEmpty) pairs
        else pairs.join(
          broadcast(localFrame(clone, org.apache.spark.sql.types.StructType(
            Seq(pairs.schema("id_a"), pairs.schema("id_b"))), already)),
          Seq("id_a", "id_b"), "leftanti")
      } else pairs
    // the FIRST append must still create the ledger table even when
    // pair-less — later appends' double-hop reads it
    if (!skipLedger || !clone.catalog.tableExists(pt))
      durable.write.mode("append").format("parquet").saveAsTable(pt)
    // the checkpointed frames' partition counts are known without
    // executing anything — pass them so a small append's bucketed
    // write schedules batch-proportional tasks, not numBuckets×m
    Layout.appendBucketed(withBandsKey(bandedNew), lshBandsTableName(table),
      batchParts = Some(bandedNew.rdd.getNumPartitions))
    Layout.appendBucketed(fresh, table,
      batchParts = Some(fresh.rdd.getNumPartitions))
    freeLocalCheckpoint(bandedNew)
    freeLocalCheckpoint(fresh) // pairs is checkpointed; safe to drop
    pairs
    }
    org.apache.spark.sql.GraftBridge.rebind(spark, pairs)
  }

  /** Compact a durable LSH store's bucketed tables (main + `__bands`
    * twin) back to a fresh build's bounded per-bucket file count —
    * run it on a maintenance cadence: every append adds files per
    * bucket, and after thousands of appends the footer-open cost creeps
    * into every pruned read. Each table is
    * one shuffle + a crash-convergent drop/rename swap
    * ([[graft.operators.Layout.compactBucketedTable]] — the parameter
    * stamps travel with the staging table, and mid-swap crash windows
    * either resume or refuse loudly). The pair LEDGER is left alone:
    * it is plain unbucketed parquet, append-only, and pair-mass-sized.
    * Quiesce appends during the swap. */
  def lshIndexCompact(spark: org.apache.spark.sql.SparkSession,
      table: String): Unit = {
    storedLshParams(spark, table) // refuse a half-built/foreign store
    Layout.compactBucketedTable(spark, table)
    Layout.compactBucketedTable(spark, lshBandsTableName(table))
  }

  /** The [[incrementalLshPairs]] append path when the new batch's index
    * rows are ALREADY materialized (both frames in [[indexDocs]] shape)
    * — a caller that keeps the batch's index rows would double the
    * per-batch cost by recomputing the CPU-bound signature pass here.
    * Same disjointness precondition on the two frames' ids. */
  def incrementalLshPairsIndexed(
      oldIndex: DataFrame, newIndex: DataFrame, id: String,
      k: Int = 16, bands: Int = 4,
      threshold: Double = 0.5, maxBucketSize: Int = DefaultMaxBucketSize): DataFrame =
    incrementalPairsFromBandedCounted(
      oldIndex.select(col(id), col("hs")),
      bandedSignatures(oldIndex.select(col(id), col("mh")), id, k, bands),
      bandedSignatures(newIndex.select(col(id), col("mh")), id, k, bands),
      newIndex.select(col(id), col("hs")), id, threshold, maxBucketSize)._1

  /** The shared append core over ALREADY-BANDED frames — what
    * [[incrementalLshPairsIndexed]] (in-memory index) and
    * [[lshIndexAppend]] (durable store, bands read pre-pruned from the
    * `__bands` twin) both run. `oldBanded` may be any SUPERSET of the
    * old rows in batch-touched buckets: buckets the batch never touches
    * cannot produce a new-involving pair (`x.nw OR y.nw`), so the old
    * side is pruned MAP-SIDE by a broadcast semi-join against the
    * batch's (band, sig) keys — batch-sized — BEFORE the bucket
    * aggregation. Without this the guarded collect re-aggregated the
    * ENTIRE index's banded rows every append; at a 1000× (5M-doc) index
    * that one stage was 40 of the append's 49 seconds, and it grew with
    * the index while everything else tracked the batch. The guard
    * semantics are unchanged: a surviving bucket still aggregates ALL
    * its old∪new rows, so the over-cap drop fires exactly as in the
    * full recompute (IncrementalLshSpec's invariant).
    *
    * Returns (pairs, count): the count rides the SAME job that
    * materializes the lazy checkpoint, so callers that need an
    * emptiness probe (the ledger-append skip) get it without a second
    * driver job over the checkpointed blocks. `newKeys` optionally
    * supplies the batch's distinct (band, sig) keys as an already-local
    * frame (see [[collectBatchKeys]]) so the old-side prune's broadcast
    * never schedules an executor job. */
  private[graft] def incrementalPairsFromBandedCounted(
      oldSets: DataFrame, oldBanded: DataFrame,
      bandedNew: DataFrame, newSets: DataFrame, id: String,
      threshold: Double, maxBucketSize: Int,
      newKeys: Option[DataFrame] = None): (DataFrame, Long) = {
    val bNew = bandedNew.withColumn("__nw", lit(true))
    val bOldHit = oldBanded.withColumn("__nw", lit(false))
      .join(broadcast(
        newKeys.getOrElse(bandedNew.select("band", "sig").distinct())),
        Seq("band", "sig"), "leftsemi")
      // the USING join moves (band, sig) to the front; the union below
      // is POSITIONAL, so restore the banded column order explicitly
      .select(bNew.columns.map(col).toIndexedSeq: _*)
    val cands = guardedBuckets(
        bOldHit.union(bNew),
        struct(col(id).as("i"), col("__nw").as("nw")), maxBucketSize)
      .select(explode(bucketPairs("__ids", "id_a", "id_b",
        aExpr = "x.i", bExpr = "y.i",
        extraPred = Some("x.nw OR y.nw"))).as("__p"))
      .select(col("__p.id_a").as("id_a"), col("__p.id_b").as("id_b"))
      .distinct()
    val sets = oldSets.union(newSets)
    // verification's output partitioning is the SETS side's (the stream
    // side of the broadcast joins): stored-mass reads contribute up to
    // one partition per bucket FILE, so the candidate-bounded pair frame
    // comes back smeared over ~file-count near-empty partitions — and
    // every downstream consumer (the emptiness probe, the ledger
    // semi/anti joins, the ledger APPEND, which writes one file per
    // partition) schedules that many tasks per append. Coalesce (no
    // shuffle) to the session's shuffle width before materializing: on
    // the append path that session is the maintenance scope's clone,
    // whose width is the BATCH's partition count, so tasks and ledger
    // file growth stay batch-proportional.
    val width = math.max(1,
      cands.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt)
    // LAZY checkpoint + count: the count() job is what materializes the
    // checkpoint blocks (the knBigramEntropy device), so the emptiness
    // probe the append path needs is free instead of a second job
    val out = verifyPairs(cands, sets, id, threshold).coalesce(width)
      .localCheckpoint(false)
    (out, out.count())
  }

  /** Exact-Jaccard verification of candidate pairs against per-doc
    * shingle-hash SETS (`sets` = (id, hs array), e.g. [[indexDocs]]):
    * two broadcast joins — cands against the id_a sets, the half-
    * enriched frame against the id_b sets — and one `array_intersect`
    * per pair. The corpus-sized sets frame is always the STREAM side,
    * so verification never shuffles with `broadcastPairs = true`
    * (the default; right whenever LSH collisions are sparse). Note the
    * second broadcast carries each pair's id_a shingle array — on a
    * corpus whose near-duplicate mass is itself huge (candidate pairs ×
    * set size approaching broadcast limits), pass `broadcastPairs =
    * false`: the second join then shuffles both (pair-bounded) halves
    * on id_b instead of broadcasting arrays. */
  private[operators] def verifyPairs(cands: DataFrame, sets: DataFrame,
      id: String, threshold: Double,
      broadcastPairs: Boolean = true): DataFrame = {
    val withA = (if (broadcastPairs) broadcast(cands) else cands)
      .join(sets.select(col(id).as("id_a"), col("hs").as("__hsa")), "id_a")
    (if (broadcastPairs) broadcast(withA) else withA)
      .join(sets.select(col(id).as("id_b"), col("hs").as("__hsb")), "id_b")
      .withColumn("__inter", size(array_intersect(col("__hsa"), col("__hsb"))))
      .withColumn("jaccard", col("__inter").cast("double") /
        (size(col("__hsa")) + size(col("__hsb")) - col("__inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Full MinHash+LSH near-dup pipeline (signatures → candidates →
    * verified Jaccard ≥ threshold).
    *
    * Stage economy is the design (this is the hot operator of q36/q51/
    * q55): ONE corpus pass (the fused kernel digests each shingle once
    * and emits signature + shingle-hash set together) is materialized;
    * candidates come from a single (band, sig) groupBy with in-bucket
    * pair expansion (map-side, no self-join); verification is two
    * broadcast joins of the candidate-bounded pair frame against the
    * per-doc shingle-hash ARRAYS with an `array_intersect` — no
    * corpus-wide explode, no intersection shuffle. The only shuffles in
    * the whole pipeline are the bucket groupBy and the cross-band pair
    * distinct, both over fixed-width keys.
    *
    * The in-bucket expansion is quadratic in BUCKET size — the same
    * near-dup collision mass the self-join formulation pays, just
    * without the join machinery; `maxBucketSize` engages the
    * [[guardedBuckets]] cap against degenerate boilerplate buckets. The
    * returned frame is checkpointed (it is candidate-bounded tiny) so
    * the corpus-sized base blocks are freed before returning. */
  def minHashLshPairs(docs: DataFrame, id: String, text: String,
      n: Int = 4, k: Int = 16, bands: Int = 4,
      threshold: Double = 0.5, maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    val base = indexDocs(docs, id, text, n, k).localCheckpoint(true)
    val out = minHashLshPairsFromIndex(base, id, k, bands, threshold,
      maxBucketSize)
    freeLocalCheckpoint(base)
    out
  }

  /** [[minHashLshPairs]] over an ALREADY-materialized [[indexDocs]]
    * frame — the entry point when the caller needs the index too
    * ([[lshBuildIndex]] writes it as the store), so the corpus-wide
    * fused signature kernel runs once, not once per consumer. */
  private[graft] def minHashLshPairsFromIndex(base: DataFrame, id: String,
      k: Int, bands: Int, threshold: Double, maxBucketSize: Int): DataFrame =
    // EAGER checkpoint: callers free the corpus-sized base right after,
    // so the pair frame must be materialized before its blocks go away
    minHashLshPairsPlan(base, id, k, bands, threshold, maxBucketSize)
      .localCheckpoint(true)

  /** The pair plan WITHOUT the checkpoint boundary — for callers whose
    * next action materializes it anyway (the build's ledger-seed write)
    * and who keep `base`'s blocks alive until then. */
  private def minHashLshPairsPlan(base: DataFrame, id: String,
      k: Int, bands: Int, threshold: Double, maxBucketSize: Int): DataFrame = {
    val cands = guardedBuckets(
        bandedSignatures(base.select(col(id), col("mh")), id, k, bands),
        col(id), maxBucketSize)
      .select(explode(bucketPairs("__ids", "id_a", "id_b")).as("__p"))
      .select(col("__p.id_a").as("id_a"), col("__p.id_b").as("id_b"))
      .distinct()
    verifyPairs(cands, base.select(col(id), col("hs")), id, threshold)
  }

  /** Near-dup pairs BETWEEN two corpora: same banding/verification
    * machinery as [[minHashLshPairs]], but only pairs with one endpoint
    * in `left` and one in `right` are expanded (the `x.r <> y.r` bucket
    * predicate drops within-frame pairs BEFORE the explode) — the
    * train-vs-benchmark shape of fuzzy decontamination, and the general
    * corpus-vs-corpus overlap probe. Candidate mass is bounded by
    * cross-frame bucket collisions, not by either corpus.
    *
    * PRECONDITION: `left` and `right` are disjoint on `id` — an id on
    * both sides would carry two shingle-set rows into verification.
    * Checked fail-fast on the (fixed-width, already-materialized)
    * indexes — an index-scale semi probe, not a corpus scan.
    *
    * Output: (id_l, id_r, jaccard), id_l always from `left`:
    * orientation is emitted directly from the side tags inside the
    * bucket lambda — no post-hoc id-set probe, nothing broadcast that
    * grows with either corpus. */
  def crossFrameLshPairs(left: DataFrame, right: DataFrame,
      id: String, text: String,
      n: Int = 4, k: Int = 16, bands: Int = 4,
      threshold: Double = 0.5, maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    val li = indexDocs(left, id, text, n, k).localCheckpoint(true)
    val ri = indexDocs(right, id, text, n, k).localCheckpoint(true)
    val out = crossFrameLshPairsIndexed(li, ri, id,
      k = k, bands = bands, threshold = threshold, maxBucketSize = maxBucketSize)
    freeLocalCheckpoint(li)
    freeLocalCheckpoint(ri)
    out
  }

  /** [[crossFrameLshPairs]] over already-materialized [[indexDocs]]
    * frames — the entry point when a caller needs the indexes too
    * (e.g. decontamination reports every indexed left doc) or screens
    * many batches against one stored right index. */
  def crossFrameLshPairsIndexed(li: DataFrame, ri: DataFrame, id: String,
      k: Int = 16, bands: Int = 4,
      threshold: Double = 0.5, maxBucketSize: Int = DefaultMaxBucketSize,
      failOnHotBucket: Boolean = false): DataFrame = {
    require(li.select(col(id)).join(ri.select(col(id)), Seq(id), "left_semi")
      .isEmpty, s"crossFrameLshPairs frames must be disjoint on '$id'")
    val tag = (isRight: Boolean, idx: DataFrame) =>
      bandedSignatures(idx.select(col(id), col("mh")), id, k, bands)
        .withColumn("__r", lit(isRight))
    val cands = guardedBuckets(
        tag(false, li).union(tag(true, ri)),
        struct(col(id).as("i"), col("__r").as("r")), maxBucketSize,
        failOnOverflow = failOnHotBucket)
      // oriented in-bucket expansion: the side tag picks which element
      // is the left endpoint, so no later lookup must recover sides
      .select(explode(expr(
        """filter(flatten(transform(__ids, (x, i) ->
          |  transform(slice(__ids, i + 2, size(__ids) - i - 1), y ->
          |    named_struct('id_a', if(x.r, y.i, x.i),
          |                 'id_b', if(x.r, x.i, y.i),
          |                 '__keep', x.r <> y.r)))),
          |  p -> p.__keep)""".stripMargin)).as("__p"))
      .select(col("__p.id_a").as("id_a"), col("__p.id_b").as("id_b"))
      .distinct()
    val sets = li.select(col(id), col("hs")).union(ri.select(col(id), col("hs")))
    verifyPairs(cands, sets, id, threshold)
      .select(col("id_a").as("id_l"), col("id_b").as("id_r"), col("jaccard"))
      .localCheckpoint(true)
  }

  /** Connected components over a near-duplicate pair graph: every doc
    * labeled with the smallest id reachable through pairs — the cluster
    * representative. Iterative min-label propagation; each round is one
    * join + aggregate, converging in O(graph diameter) rounds (duplicate
    * chains are short in practice; `maxIterations` bounds adversarial
    * chains). Each round's frame is materialized through
    * [[graft.plans.Checkpoints.iter]] to truncate the growing loop
    * lineage — without it each iteration's plan contains all previous
    * ones. At local[*] that is a localCheckpoint; set
    * `spark.graft.checkpoint.dir` on a real cluster to make the loop
    * survive executor loss (reliable checkpoints recompute lost
    * partitions from durable files instead of failing the job).
    *
    * Input: pairs (id_a, id_b). Output: (id, cluster) for every id that
    * appears in a pair; singletons never enter and keep themselves.
    *
    * Adaptive small-graph fast path: the pair graph is collision-sized —
    * tiny relative to the corpus (256 pairs for 5k docs at sf0.1) —
    * so when it fits comfortably on the driver (≤ `driverMaxEdges`,
    * numeric ids), a local union-find replaces the iterative join loop:
    * same labels, none of the per-iteration shuffle/checkpoint fixed
    * costs. Past the threshold (or for non-numeric ids) the distributed
    * loop runs unchanged — correctness never depends on the graph
    * fitting anywhere. */
  def duplicateClusters(pairs: DataFrame, maxIterations: Int = 20,
      driverMaxEdges: Long = 1L << 20): DataFrame = {
    import org.apache.spark.sql.types.{IntegerType, LongType}
    // materialize the pair frame BEFORE referencing it twice: each union
    // branch is otherwise a full copy of whatever produced the pairs
    // (for LSH input, the entire signature+verification pipeline), and
    // AQE executes the two branches as independent subqueries — measured
    // ~2× the whole upstream cost on q55 (exchange reuse does not bridge
    // the differing final projects)
    // LAZY checkpoint: the count below is the materializing action, so
    // the boundary costs one job, not two (checkpoint job + count job)
    val p = graft.plans.Checkpoints.iter(pairs, eager = false)
    val idType = pairs.schema("id_a").dataType
    // count is ~free: the frame was just materialized by the checkpoint.
    // The small-graph branch collects the PAIRS and mirrors them on the
    // driver — no distributed union/distinct round trip (union-find is
    // indifferent to duplicate or directed edges)
    if ((idType == LongType || idType == IntegerType) &&
        p.count() * 2 <= driverMaxEdges) {
      val spark = pairs.sparkSession
      import spark.implicits._
      val es = p.select(col("id_a").cast("long"), col("id_b").cast("long"))
        .as[(Long, Long)].collect()
      freeLocalCheckpoint(p)
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x // path compression
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      es.foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(if (ra < rb) rb else ra) = math.min(ra, rb)
      }
      // roots are min-ids already (union always points at the smaller root)
      val labeled = parent.keys.toSeq.map(idVal => (idVal, find(idVal)))
      return labeled.toDF("id", "cluster")
        .select(col("id").cast(idType).as("id"),
          col("cluster").cast(idType).as("cluster"))
    }
    val edges = graft.plans.Checkpoints.iter(
      p.select(col("id_a").as("src"), col("id_b").as("dst"))
        .union(p.select(col("id_b").as("src"), col("id_a").as("dst")))
        .distinct())
    freeLocalCheckpoint(p) // edges is materialized; p's blocks are dead weight
    var labels = graft.plans.Checkpoints.iter(
      edges.select(col("src").as("id")).distinct()
        .withColumn("cluster", col("id")))
    var converged = false
    var i = 0
    while (!converged && i < maxIterations) {
      val viaNeighbor = edges
        .join(labels.withColumnRenamed("id", "dst")
          .withColumnRenamed("cluster", "ncluster"), "dst")
        .groupBy(col("src").as("id"))
        .agg(min("ncluster").as("ncluster"))
      // carry the previous label through the checkpoint so convergence is
      // a narrow filter over the materialized step — not a second
      // shuffle join of next against labels per iteration
      val step = graft.plans.Checkpoints.iter(
        labels.join(viaNeighbor, Seq("id"), "left")
          .select(col("id"), col("cluster").as("__prev"),
            least(col("cluster"), coalesce(col("ncluster"), col("cluster"))).as("cluster")))
      converged = step.filter(col("cluster") =!= col("__prev")).isEmpty
      freeLocalCheckpoint(labels) // release the superseded checkpoint's blocks
      labels = step.drop("__prev")
      i += 1
    }
    freeLocalCheckpoint(edges)
    // silent truncation would mean silently-wrong dedup (a doc labeled a
    // local min keeps itself and survives as a duplicate) — fail instead
    if (!converged)
      throw new IllegalStateException(
        s"duplicateClusters did not converge in $maxIterations iterations " +
          "(pair-graph diameter exceeds it); raise maxIterations")
    labels
  }

  /** Chunk-level (paragraph) keep-first dedup: split each document into
    * fixed `chunkTokens`-token chunks and rank every chunk globally
    * within its content hash by (id, chunk_idx) — rank 1 is the kept
    * copy. Returns (id, chunk_idx, chunk, kept). This is the
    * sub-document pass run AFTER whole-doc dedup: boilerplate repeats
    * across documents that are not near-duplicates of each other. The
    * only shuffle key is the 16-byte chunk hash. */
  def chunkKeepFirst(docs: DataFrame, id: String, text: String,
      chunkTokens: Int = 10): DataFrame = {
    val c = chunkTokens
    docs
      .select(col(id), split(col(text), " ").as("__toks"))
      .select(col(id), posexplode(transform(
        sequence(lit(0L), expr(s"(size(__toks) - 1) div $c")),
        i => array_join(slice(col("__toks"), (i * c + 1).cast("int"), lit(c)), " "))))
      .withColumnsRenamed(Map("pos" -> "chunk_idx", "col" -> "chunk"))
      .withColumn("kept", row_number().over(
        Window.partitionBy(md5(col("chunk"))).orderBy(id, "chunk_idx")) === 1)
  }

  /** Exact shared-substring spans between document pairs — the
    * "exact substring deduplication" pass of training-data curation
    * (long verbatim overlaps: licenses, templates, quoted articles)
    * that Jaccard-style whole-doc scoring dilutes away. Classic
    * formulations build a corpus-wide suffix array; this is the
    * shuffle-native equivalent:
    *
    *  1. every k-token gram hashed to 8 bytes (one narrow pass),
    *  2. gram-hash buckets expanded to cross-document (pos_a, pos_b)
    *     matches — the SAME collision-bounded bucket shape as the LSH
    *     candidate stage: cost is the matched-gram mass (the suffix
    *     array's output size), never corpus²,
    *  3. matches on one (pair, pos_a - pos_b) diagonal grouped into
    *     maximal consecutive runs (gaps-and-islands): a run of m
    *     consecutive matching grams is a shared span of m + k - 1
    *     tokens.
    *
    * Returns one row per maximal shared span: (doc_a, doc_b, start_a,
    * start_b, span_tokens), ids least-first, spans ≥ `minSpanTokens`.
    * Shuffle keys are the 8-byte gram hash, then (pair, diagonal) —
    * raw text never shuffles. Highly repetitive text inflates the
    * bucket mass quadratically in its repetition count (as it does a
    * suffix array's LCP intervals); cap it upstream with
    * [[winnowingFingerprints]]-based prefiltering if a corpus has
    * pathological boilerplate. */
  def exactSubstringSpans(docs: DataFrame, id: String, text: String,
      k: Int = 8, minSpanTokens: Int = 12): DataFrame = {
    require(k >= 1 && minSpanTokens >= k,
      s"need minSpanTokens >= k, got k=$k minSpanTokens=$minSpanTokens")
    val grams = docs
      // spread the CPU-bound gram+md5 pass (same rationale as
      // winnowingFingerprints: a single-split scan serializes it)
      .repartition(docs.sparkSession.conf
        .get("spark.sql.shuffle.partitions", "32").toInt, col(id))
      .select(col(id), split(col(text), " ").as("toks"))
      .filter(size(col("toks")) >= k)
      .select(col(id).as("__id"), posexplode(shingles("toks", k)))
      .select(col("__id"), col("pos"),
        TextHashAggregators.md5Half(col("col")).as("h"))
    val matches = grams
      .groupBy("h")
      .agg(collect_list(struct(col("__id").as("i"), col("pos").as("p"))).as("__hits"))
      .filter(size(col("__hits")) > 1)
      // in-bucket cross-doc expansion, least-id-first WITH its position
      // (bucketPairs normalizes whole structs, which would mis-pair the
      // positions, so the expansion is inlined here)
      .select(explode(expr(
        """filter(flatten(transform(__hits, (x, i) ->
          |  transform(slice(__hits, i + 2, size(__hits) - i - 1), y ->
          |    named_struct(
          |      'doc_a', if(x.i < y.i, x.i, y.i),
          |      'doc_b', if(x.i < y.i, y.i, x.i),
          |      'pa', if(x.i < y.i, x.p, y.p),
          |      'pb', if(x.i < y.i, y.p, x.p),
          |      '__keep', x.i <> y.i)))),
          |  p -> p.__keep)""".stripMargin)).as("__m"))
      .select(col("__m.doc_a").as("doc_a"), col("__m.doc_b").as("doc_b"),
        col("__m.pa").as("pa"), col("__m.pb").as("pb"))
    // consecutive matches share a diagonal and advance pa by 1: pa minus
    // its rank within (pair, diagonal) is constant exactly over one
    // maximal run
    val grp = col("pa") - row_number().over(
      Window.partitionBy("doc_a", "doc_b", "__diag").orderBy("pa"))
    matches
      .withColumn("__diag", col("pa") - col("pb"))
      .withColumn("__grp", grp)
      .groupBy("doc_a", "doc_b", "__diag", "__grp")
      .agg(min("pa").as("start_a"), min("pb").as("start_b"),
        (count(lit(1)) + lit(k - 1)).as("span_tokens"))
      .filter(col("span_tokens") >= minSpanTokens)
      .select("doc_a", "doc_b", "start_a", "start_b", "span_tokens")
  }

  /** The removal step of exact-substring dedup: mask every shared span
    * (from [[exactSubstringSpans]]) out of the LATER document of its
    * pair — keep-first at token granularity, the transform that actually
    * shrinks a training corpus (whole-doc dedup only drops full
    * duplicates; this cuts the embedded verbatim overlap out of
    * otherwise-distinct documents). Overlapping spans from different
    * pairs union into one mask per document.
    *
    * Returns every input document as (id, clean_text, n_removed) —
    * n_removed = 0 and clean_text = the original for untouched docs.
    * The mask frame is span-bounded (the duplicate mass, not the
    * corpus), grouped to one integer array per affected doc before the
    * single join back to the corpus; within-document self-repetition is
    * out of scope (pairs are cross-document). */
  def stripSharedSpans(docs: DataFrame, id: String, text: String,
      k: Int = 8, minSpanTokens: Int = 12): DataFrame = {
    val mask = exactSubstringSpans(docs, id, text, k, minSpanTokens)
      .select(col("doc_b").as("__id"),
        explode(sequence(col("start_b"),
          col("start_b") + col("span_tokens").cast("int") - 1)).as("__pos"))
      .groupBy("__id")
      .agg(collect_set(col("__pos")).as("__mask"))
    docs
      .select(col(id), split(col(text), " ").as("__toks"))
      .join(mask, col(id) === col("__id"), "left")
      .select(col(id),
        array_join(expr(
          """filter(transform(__toks, (t, i) ->
            |  if(array_contains(coalesce(__mask, array()), i), null, t)),
            |  x -> x is not null)""".stripMargin), " ").as("clean_text"),
        coalesce(size(col("__mask")), lit(0)).cast("long").as("n_removed"))
  }

  /** Winnowing fingerprints (the MOSS scheme): hash every n-gram
    * shingle, slide a window of `window` consecutive hashes, keep each
    * window's minimum. Output: one row per distinct selected hash
    * `(id, fp)`. Any shared run of window+n-1 tokens between two
    * documents is guaranteed to share a fingerprint, at ~1/window the
    * storage of the full shingle set — the index you join on for
    * containment (partial-copy) detection, which MinHash's whole-doc
    * Jaccard misses. */
  def winnowingFingerprints(docs: DataFrame, id: String, text: String,
      n: Int = 4, window: Int = 5): DataFrame = {
    val w = window
    docs
      // spread the CPU-bound md5 pass: a small single-split scan would
      // otherwise serialize it on one core. The partition count is
      // EXPLICIT: repartition(col) alone is coalescible by AQE, which
      // would fold a small input right back to one partition.
      .repartition(docs.sparkSession.conf
        .get("spark.sql.shuffle.partitions", "32").toInt, col(id))
      .select(col(id), split(col(text), " ").as("toks"))
      .filter(size(col("toks")) >= n)
      // one fused kernel call per doc does shingle→md5→window-min→
      // distinct (TextHashAggregators.winnowData): NARROW — no explode,
      // no per-shingle rows, no window sort; the explode that follows
      // is over the tiny per-doc fingerprint set (~1/window of shingles)
      .select(col(id),
        explode(TextHashAggregators.winnow(col("toks"), n, w)).as("fp"))
  }

  /** 64-bit SimHash per document as a 16-hex signature — one narrow
    * scalar pass over the token array (no explode, no shuffle). For
    * inputs where tokens arrive as rows (streams, EAV tables), use
    * `TextHashAggregators.SimHashAggregator` instead: same result over
    * DISTINCT (id, token) rows — dedup before aggregating, because the
    * scalar kernel votes once per distinct token while the aggregator
    * votes once per row. */
  def simHashSignatures(docs: DataFrame, id: String, text: String): DataFrame =
    docs.select(col(id),
      TextHashAggregators.simhashOfTokens(split(lower(col(text)), " ")).as("simhash"))

  /** Hashing-trick document vectors — the feature-hashing vectorizer
    * that puts TEXT into the vector space the `Similarity` operators
    * search: each token hashes to a bucket in [0, dims) with a ±1 sign
    * (both md5-derived, engine-replayable), and the document's vector
    * is the signed term-frequency sum per bucket. All-integer
    * coordinates, so the vectors are exact cross-engine. Returns the
    * sparse entries `(id, bucket, v)` with zero entries absent — the
    * shape both the cosine join and the dense assembly consume. One
    * token explode + one (id, bucket) aggregate; shuffle keys are
    * fixed-width. */
  // the ONE definition of the feature-hashing scheme (mirrored by the
  // q194-q197 oracle CTEs): bucket from md5 hex 1-8, sign from hex 9
  private def hashBucket(tok: Column, dims: Int): Column =
    conv(substring(md5(tok), 1, 8), 16, 10).cast("long") % dims
  private def hashSign(tok: Column): Column =
    when(conv(substring(md5(tok), 9, 1), 16, 10).cast("long") % 2 === 1, 1L)
      .otherwise(-1L)

  def hashedVectorEntries(docs: DataFrame, id: String, text: String,
      dims: Int = 64): DataFrame = {
    require(dims > 0)
    docs.select(col(id), explode(split(col(text), " ")).as("tok"))
      .select(col(id), hashBucket(col("tok"), dims).as("bucket"),
        hashSign(col("tok")).as("sign"))
      .groupBy(col(id), col("bucket"))
      .agg(sum("sign").as("v"))
      .filter(col("v") =!= 0)
  }

  /** The shared cosine-top-k tail over a sparse entries frame
    * (id, bucket, v): query entries broadcast, candidates bucket-
    * joined, rounded-cosine ranking with the id tie-break into a
    * TakeOrdered k-row reduce. Zero entries must already be filtered —
    * a zero-norm doc would otherwise score 0/0 = NaN, which Spark's
    * desc ordering ranks FIRST. */
  private def cosineTopKFromEntries(e: DataFrame, id: String,
      queryId: Long, k: Int, roundAt: Int): DataFrame = {
    val norms = e.groupBy(col(id))
      .agg(sqrt(sum(col("v") * col("v"))).as("nrm"))
    val qe = e.filter(col(id) === queryId)
      .select(col("bucket"), col("v").as("qv"))
    val qn = norms.filter(col(id) === queryId).select(col("nrm").as("qn"))
    e.filter(col(id) =!= queryId)
      .join(broadcast(qe), Seq("bucket"))
      .groupBy(col(id))
      .agg(sum(col("v") * col("qv")).as("dot"))
      .join(norms, Seq(id))
      .crossJoin(broadcast(qn))
      .select(col(id),
        round(col("dot") / (col("nrm") * col("qn")), roundAt).as("cosine"))
      .orderBy(desc("cosine"), col(id))
      .limit(k)
  }

  /** Per-document summary of the hashed vector: non-zero coordinate
    * count, l2 norm, and a fingerprint of the DENSE vector in bucket
    * order (emitting the fingerprint instead of the array keeps the
    * cross-engine compare exact — list render differs between
    * engines). */
  def hashedDocVectors(docs: DataFrame, id: String, text: String,
      dims: Int = 64): DataFrame =
    // left join from the DISTINCT doc spine (the oracle's contract): a
    // document whose buckets all cancel to zero still emits (the
    // all-zero vector), and a duplicated input id emits once
    docs.select(col(id)).distinct()
      .join(hashedVectorEntries(docs, id, text, dims)
        .groupBy(col(id))
        .agg(map_from_entries(collect_list(struct(col("bucket"), col("v"))))
          .as("__m")), Seq(id), "left")
      .select(col(id),
        expr(s"transform(sequence(0, ${dims - 1}), i -> coalesce(element_at(__m, CAST(i AS BIGINT)), 0L))")
          .as("__vec"))
      .select(col(id),
        size(filter(col("__vec"), v => v =!= 0)).cast("long").as("nnz"),
        round(sqrt(aggregate(col("__vec"), lit(0.0),
          (acc, v) => acc + v * v)), 4).as("l2"),
        md5(array_join(col("__vec"), ",")).as("vec_fp"))

  /** Text-to-text retrieval over the hashed vectors: cosine top-k
    * documents for one query document, no embedding model in the loop —
    * the lexical-semantic search a corpus gets for free once
    * [[hashedVectorEntries]] exists. The query doc's (≤ dims) entries
    * broadcast; candidates join on the bucket key (only docs sharing a
    * non-zero bucket can score — sparse candidate set, not a corpus
    * cross join); ranking is rounded cosine + id tie-break into a
    * TakeOrdered k-row reduce. Docs sharing no bucket with the query
    * (cosine 0) are not returned — at k ≪ corpus they never rank. */
  def hashedTopK(docs: DataFrame, id: String, text: String,
      queryId: Long, k: Int, dims: Int = 64, roundAt: Int = 4): DataFrame =
    cosineTopKFromEntries(
      hashedVectorEntries(docs, id, text, dims).localCheckpoint(false),
      id, queryId, k, roundAt)

  /** [[hashedTopK]] with IDF weighting — the TF-IDF upgrade: each
    * token's contribution is `sign · tf · log2((N+1)/(df+1))`, so
    * corpus-wide boilerplate (high document frequency) stops dominating
    * retrieval and rare distinctive overlap ranks first. The IDF model
    * is the vocab-sized document-frequency aggregate (broadcast); the
    * doc-count is a 1-row broadcast; everything else is [[hashedTopK]]'s
    * shape. Weights are floats, so per-bucket sums carry summation-
    * order noise — ranking is on ROUNDED cosine with the id tie-break,
    * the standing cross-engine device. */
  def hashedTfidfTopK(docs: DataFrame, id: String, text: String,
      queryId: Long, k: Int, dims: Int = 64, roundAt: Int = 4): DataFrame = {
    require(dims > 0 && k >= 1)
    val toks = docs.select(col(id), explode(split(col(text), " ")).as("tok"))
    val nd = broadcast(docs.agg(countDistinct(col(id)).as("nd")))
    val dfreq = toks.select(col(id), col("tok")).distinct()
      .groupBy("tok").agg(count(lit(1)).as("df"))
    // exact-zero entries (df = N tokens, or exact cancellation) are
    // dropped like hashedVectorEntries' — a zero-norm doc otherwise
    // scores 0/0 = NaN, which desc ordering would rank FIRST, putting
    // pure-boilerplate docs at the top of the results
    val e = toks
      .groupBy(col(id), col("tok")).agg(count(lit(1)).as("tf"))
      .join(broadcast(dfreq), Seq("tok"))
      .crossJoin(nd)
      .select(col(id), hashBucket(col("tok"), dims).as("bucket"),
        (hashSign(col("tok")).cast("double") * col("tf") *
          log2((col("nd") + 1).cast("double") / (col("df") + 1))).as("w"))
      .groupBy(col(id), col("bucket"))
      .agg(sum("w").as("v"))
      .filter(col("v") =!= 0.0)
      .localCheckpoint(false)
    cosineTopKFromEntries(e, id, queryId, k, roundAt)
  }

  /** Okapi BM25 top-k retrieval over exact terms — the ranking function
    * behind Lucene/Elasticsearch and the standard lexical baseline next
    * to embedding retrieval (and the retriever used to mine hard
    * negatives for training data). Per candidate doc d for the query
    * doc's distinct terms t:
    * `idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·|d|/avgdl))` with the
    * Lucene non-negative idf `ln(1 + (N − df + ½)/(df + ½))`.
    *
    * Scale shape: the query side is ONE document's distinct terms
    * (broadcast), so the candidate set is Σ df(t) over query terms —
    * postings for the query's vocabulary, never a corpus cross join.
    * The df/length/avgdl statistics are the index: one token scan, two
    * aggregates (df is vocab-sized, lengths doc-sized), both reusable
    * across queries — at deployment scale these persist as the inverted
    * index's side tables. avgdl/N ride a 1-row broadcast. Scores are
    * double sums in arbitrary order → ranking is on ROUNDED score with
    * the id tie-break (the standing cross-engine device), TakeOrdered
    * k-row reduce at the top. */
  def bm25TopK(docs: DataFrame, id: String, text: String,
      queryId: Long, k: Int, k1: Double = 1.2, b: Double = 0.75,
      roundAt: Int = 4): DataFrame = {
    require(k >= 1 && k1 >= 0 && b >= 0 && b <= 1)
    val toks = docs.select(col(id), explode(split(col(text), " ")).as("tok"))
    val tf = toks.groupBy(col(id), col("tok")).agg(count(lit(1)).as("tf"))
    val dl = toks.groupBy(col(id)).agg(count(lit(1)).as("dl"))
    val stats = broadcast(dl.agg(
      avg(col("dl")).as("avgdl"), count(lit(1)).as("n")))
    val dfreq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val qterms = broadcast(
      toks.filter(col(id) === queryId).select("tok").distinct())
    tf.filter(col(id) =!= queryId)
      .join(qterms, Seq("tok"))
      .join(dfreq, Seq("tok"))
      .join(dl, Seq(id))
      .crossJoin(stats)
      .groupBy(col(id))
      .agg(sum(
        log(lit(1.0) + (col("n") - col("df") + 0.5) / (col("df") + 0.5)) *
          (col("tf") * lit(k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
        .as("raw"))
      .select(col(id), round(col("raw"), roundAt).as("score"))
      .orderBy(desc("score"), col(id))
      .limit(k)
  }

  /** Lexical-vs-semantic audit over the verified near-dup pair graph:
    * for every MinHash-verified pair, the hashed-vector cosine — does
    * cheap lexical dedup proxy semantic similarity, and which pairs
    * disagree. Pair-bounded by construction (the LSH collision set),
    * so the sparse dot product joins entries only for pair members:
    * at 100 TB this is pairs × dims work, never all-pairs. Cosine is
    * an exact integer dot over shared buckets divided by the two
    * integer norms, rounded once; a pair member whose buckets all
    * cancel (the zero vector — no defined cosine) reports 0.0 by
    * convention rather than dropping the verified pair. */
  def lexicalSemanticAudit(docs: DataFrame, id: String, text: String,
      dims: Int = 64, threshold: Double = 0.5): DataFrame = {
    val pairs = minHashLshPairs(docs, id, text, threshold = threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
    // lazily checkpointed (the ppmi device): three consumers (both dot
    // sides and the norms) would otherwise replay the corpus-wide
    // tokenize + aggregate pass each
    val e = hashedVectorEntries(docs, id, text, dims).localCheckpoint(false)
    val ea = e.select(col(id).as("id_a"), col("bucket"), col("v").as("va"))
    val eb = e.select(col(id).as("id_b"), col("bucket"), col("v").as("vb"))
    val dots = pairs.select("id_a", "id_b")
      .join(ea, Seq("id_a"))
      .join(eb, Seq("id_b", "bucket"))
      .groupBy("id_a", "id_b")
      .agg(sum(col("va") * col("vb")).as("dot"))
    val norms = e.groupBy(col(id))
      .agg(sqrt(sum(col("v") * col("v"))).as("nrm"))
    // norms joins are LEFT: an all-zero vector has no entries, and the
    // verified pair must still report (cosine 0.0 by convention —
    // anything else silently drops edges from the pair graph)
    pairs
      .join(dots, Seq("id_a", "id_b"), "left")
      .join(norms.select(col(id).as("id_a"), col("nrm").as("na")),
        Seq("id_a"), "left")
      .join(norms.select(col(id).as("id_b"), col("nrm").as("nb")),
        Seq("id_b"), "left")
      .select(col("id_a"), col("id_b"), col("jaccard"),
        when(col("na").isNull || col("nb").isNull, lit(0.0))
          .otherwise(round(coalesce(col("dot"), lit(0L)) /
            (col("na") * col("nb")), 4)).as("cosine"))
      .orderBy("id_a", "id_b")
  }
}
