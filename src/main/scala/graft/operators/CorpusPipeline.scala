package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** End-to-end training-data curation over a document corpus, composed
  * from the operator library — the shape of a pretraining data pipeline:
  *
  *   quality filter → exact dedup → MinHash-LSH near-dedup → annotate
  *
  * Each stage is `DataFrame => DataFrame` and independently usable; the
  * composition documents stage ordering (cheap narrow filters first,
  * exact dedup before the costlier LSH pass so signatures are computed
  * on survivors only) and returns per-stage counts for audit.
  *
  * Scale shape: stages 1-2 shuffle once on a 16-byte digest; stage 3 is
  * the LSH pipeline (narrow signatures + candidate-bounded verification);
  * stage 4 is map-only. Nothing here is quadratic in the corpus.
  */
object CorpusPipeline {

  final case class Report(
      input: Long, afterQuality: Long, afterExact: Long, afterNearDup: Long)

  /** Quality gate: token-count bounds — cheap, narrow, runs first so
    * later stages never see junk. Deliberately ONLY the length rule:
    * richer signals (stopword ratios, repetition, classifier scores)
    * live as composable scorers in q29/q54/q100/q200 and are applied
    * per deployment; this gate is the one filter every curation run
    * shares, and the curation oracles replay exactly it. */
  def qualityFilter(docs: DataFrame, text: String,
      minTokens: Int = 10, maxTokens: Int = 100000): DataFrame = {
    val toks = split(col(text), " ")
    docs.filter(size(toks).between(minTokens, maxTokens))
  }

  /** Near-dedup keep-first policy: cluster the verified near-dup pairs
    * transitively (connected components) and keep each cluster's lowest
    * id — a chain a~b~c keeps only a, even when a and c never collide
    * directly. */
  def dropNearDuplicates(docs: DataFrame, id: String, text: String,
      threshold: Double = 0.5): DataFrame = {
    val pairs = Dedup.minHashLshPairs(docs, id, text, threshold = threshold)
    val losers = Dedup.duplicateClusters(pairs)
      .filter(col("id") =!= col("cluster"))
      .select(col("id").as(id))
    docs.join(losers, Seq(id), "left_anti")
  }

  /** Seeded stratified sample: per-stratum fractions (e.g. rebalance
    * languages or sources in a training mix). `sampleBy` is a narrow
    * per-row Bernoulli draw — no shuffle, deterministic for a fixed
    * seed and partitioning, and at 100 TB the only affordable way to
    * downsample: nothing is counted or sorted first. Strata absent from
    * `fractions` are dropped (fraction 0), matching training-mix specs
    * where unlisted sources are excluded. */
  def stratifiedSample(docs: DataFrame, stratum: String,
      fractions: Map[String, Double], seed: Long): DataFrame =
    docs.stat.sampleBy(stratum, fractions, seed)

  /** Token-budget document packing: assign each document a bin index
    * within its stratum — the running token count (in `orderCol` order)
    * divided by the budget. The sequence-packing prep for training:
    * documents stream into fixed-size contexts in a stable, reproducible
    * order. Appends `n_tokens`, `bin`. Per-stratum window: no global
    * sort, each stratum's slice packs independently. */
  def packBins(docs: DataFrame, stratum: String, orderCol: String,
      text: String, budgetTokens: Int): DataFrame = {
    // division by zero would silently put every row in bin
    // Long.MaxValue (double Infinity through floor), not error
    require(budgetTokens > 0, s"bin budget must be positive, got $budgetTokens")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(stratum).orderBy(orderCol)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    docs
      .withColumn("n_tokens", size(split(col(text), " ")).cast("long"))
      .withColumn("bin",
        floor((sum("n_tokens").over(w) - 1) / budgetTokens).cast("long"))
  }

  /** Benchmark decontamination: per `train` document, the number of
    * distinct token n-grams it shares with the `bench` corpus (and a
    * contaminated flag) — the eval-overlap check run before training.
    * Documents shorter than `n` tokens carry no gram and are dropped
    * (they cannot collide). The bench gram set is distinct'd first:
    * relative to any real corpus it is small, so Spark broadcasts it
    * and the corpus-side explosion never shuffles. */
  def decontaminate(train: DataFrame, bench: DataFrame, id: String,
      text: String, n: Int = 8): DataFrame = {
    val benchGrams = gramTable(bench, id, text, n).select("__g").distinct()
    val shared = gramTable(train, id, text, n).join(benchGrams, Seq("__g"))
      .groupBy(id).agg(count(lit(1)).as("n_shared"))
    contaminationReport(train, shared, id, text, n)
  }

  /** Scale path of [[decontaminate]] — byte-identical output, different
    * join shape. A full eval-suite bench set can carry tens of millions
    * of grams: big enough that shuffling EVERY gram of every training
    * document into the confirm join's exchange dominates the job. Here a
    * Bloom filter over the bench grams (constant-size sketch, built once
    * driver-side, inlined into codegen via
    * `graft.functions.sketch.bloomMightContain`) pre-filters the corpus
    * gram stream map-side, so only ~|shared| + fpp·|grams| rows reach
    * the exchange; the exact join then eliminates the bloom's false
    * positives, which is what keeps the result identical to
    * [[decontaminate]]'s for any fpp. `expectedGrams` sizes the sketch
    * (overestimate freely — the sketch stays megabytes). */
  def decontaminateBloom(train: DataFrame, bench: DataFrame, id: String,
      text: String, n: Int = 8, expectedGrams: Long = 4000000L,
      fpp: Double = 0.01): DataFrame = {
    val benchGrams = gramTable(bench, id, text, n).select("__g").distinct()
    val shared = Layout
      .bloomPrunedJoin(gramTable(train, id, text, n), benchGrams, "__g",
        expectedItems = expectedGrams, fpp = fpp)
      .groupBy(id).agg(count(lit(1)).as("n_shared"))
    contaminationReport(train, shared, id, text, n)
  }

  /** Fuzzy (near-match) decontamination: where [[decontaminate]] flags
    * verbatim n-gram overlap, this flags training documents that are
    * NEAR-duplicates of a benchmark document (MinHash+LSH candidates,
    * exact-Jaccard verified ≥ `threshold`) — the paraphrase-level leak
    * the exact-gram probe misses. Same report shape as
    * [[decontaminate]]: one row per train doc (with enough tokens to
    * shingle), `(id, n_hits, max_jaccard, contaminated)`.
    *
    * Scale shape: Dedup.crossFrameLshPairs bounds all pairwise work to
    * cross-frame bucket collisions; the bench index is batch-sized and
    * the train corpus is indexed once (the same fused kernel pass the
    * dedup family uses), so cost tracks train + collision mass — never
    * train × bench.
    *
    * Hot-bucket handling is FAIL-LOUD by default HERE (unlike the
    * dedup family's silent-drop guard): this operator's contract is
    * LEAK PREVENTION — a dropped hot bucket could let contaminated
    * training docs through unreported, and benchmarks with boilerplate
    * prompt headers plausibly form exactly such buckets. But an
    * UNBOUNDED collect has its own failure mode: one corpus-sized
    * boilerplate bucket buffers its whole id list in a single executor
    * aggregation buffer and OOMs the job with an opaque crash. So the
    * default bounds the buffer at `maxBucketSize + 1` (memory-safe)
    * and RAISES an actionable error if any bucket overflows (never a
    * silent drop): run exact dedup upstream, raise the cap, or pass
    * `failOnHotBucket = false` to accept silent drops (WARN via the
    * guard's observe metric) for throughput. */
  def decontaminateFuzzy(train: DataFrame, bench: DataFrame, id: String,
      text: String, n: Int = 4, k: Int = 16, bands: Int = 4,
      threshold: Double = 0.5, maxBucketSize: Int = 1 << 20,
      failOnHotBucket: Boolean = true): DataFrame = {
    // index once: the train index feeds BOTH the pair search and the
    // report base (indexDocs already keeps exactly the ≥n-token docs),
    // so the corpus is scanned once, not twice
    val li = Dedup.indexDocs(train, id, text, n, k).localCheckpoint(true)
    val ri = Dedup.indexDocs(bench, id, text, n, k).localCheckpoint(true)
    val perDoc = Dedup
      .crossFrameLshPairsIndexed(li, ri, id,
        k = k, bands = bands, threshold = threshold,
        maxBucketSize = maxBucketSize, failOnHotBucket = failOnHotBucket)
      .groupBy(col("id_l").as(id))
      .agg(count(lit(1)).as("n_hits"), max("jaccard").as("__mx"))
    val out = li.select(col(id)).distinct()
      .join(perDoc, Seq(id), "left")
      .select(col(id),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        round(coalesce(col("__mx"), lit(0.0)), 4).as("max_jaccard"),
        (coalesce(col("n_hits"), lit(0L)) > 0).as("contaminated"))
      .localCheckpoint(true)
    Dedup.freeLocalCheckpoint(li)
    Dedup.freeLocalCheckpoint(ri)
    out
  }

  /** Deterministic shard assignment for training-data export: shard =
    * first 32 bits of md5(text) mod `numShards` — a pure function of
    * CONTENT, so re-ingesting the same corpus under different ids, file
    * order or cluster size lands every document in the same shard.
    * Appends `shard`. Narrow (no shuffle); the hash doubles as the
    * corpus-wide shuffle device training pipelines want (a content hash
    * is uniform, so shards are balanced regardless of source skew). */
  def assignShards(docs: DataFrame, text: String, numShards: Int): DataFrame = {
    require(numShards > 0)
    docs.withColumn("shard",
      (conv(substring(md5(col(text)), 1, 8), 16, 10).cast("long")
        % numShards).as("shard"))
  }

  /** Per-shard export manifest — what a training run verifies before it
    * trusts an exported corpus: document count, token count, and an
    * ORDER-SENSITIVE fingerprint of the shard's documents in their
    * canonical intra-shard order (content fingerprint, then id).
    * Byte-reproducible across runs and partitionings: nothing depends
    * on Spark's physical row order, and any dropped/duplicated/reordered
    * document changes the shard_fp.
    *
    * Scale shape: one narrow map + one shuffle keyed on shard. The
    * fingerprint folds a per-shard sorted array of 32-byte digests —
    * size `numShards` so |corpus|/numShards digests fit an executor
    * (1M docs/shard ≈ 48 MB transient), which a real export wants
    * anyway for file-size reasons. */
  def shardManifest(docs: DataFrame, id: String, text: String,
      numShards: Int): DataFrame =
    assignShards(docs, text, numShards)
      // the canonical order sorts on the id's NATIVE type and only the
      // RENDERING casts to string: the old long cast made every
      // non-numeric id null, and array_join SKIPS nulls — entire shards
      // fingerprinted as partial strings while n_docs still counted
      // every doc, voiding the any-change-changes-shard_fp contract
      // (for numeric ids, native sort + string render is unchanged)
      .select(col("shard"), md5(col(text)).as("__fp"),
        size(split(col(text), " ")).cast("long").as("__tok"),
        col(id).as("__id"))
      .groupBy("shard")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("__tok").as("n_tokens"),
        md5(array_join(
          transform(
            array_sort(collect_list(struct(col("__fp"), col("__id")))),
            x => concat(x.getField("__fp"), lit("#"),
              x.getField("__id").cast("string"))),
          ",")).as("shard_fp"))

  /** Materialize the sharded export: one hive partition per shard, rows
    * in the canonical (content fingerprint, id) order within each shard
    * — so a byte-compare of two exports of the same corpus is exact,
    * and [[shardManifest]]'s shard_fp can be recomputed from the files.
    * One shuffle (repartition on shard) + an intra-partition sort;
    * never a global sort. */
  def writeSharded(docs: DataFrame, id: String, text: String,
      numShards: Int, outDir: String): Unit =
    assignShards(docs, text, numShards)
      .withColumn("__fp", md5(col(text)))
      .repartition(numShards, col("shard"))
      .sortWithinPartitions(col("shard"), col("__fp"), col(id))
      .drop("__fp")
      .write.mode("overwrite").partitionBy("shard").parquet(outDir)

  /** Leak-proof train/test split assignment — the q179/q180 leakage
    * arc closed at the SOURCE: instead of splitting documents by their
    * own content hash (which lets near-duplicates straddle the split),
    * split every document by its near-dup CLUSTER representative's
    * content hash. All members of a cluster inherit the same
    * representative, so no verified near-dup pair can ever cross the
    * split — leakage is impossible by construction, and the output
    * carries the computed cross-split pair count (always 0) as the
    * built-in proof rather than an assumed invariant.
    *
    * `pairs` is the verified near-dup pair frame (id_a, id_b) — the
    * collision-bounded LSH output, so everything here is pair-bounded:
    * cluster labels via [[Dedup.duplicateClusters]], one left join to
    * default unclustered docs to themselves, one join to fetch the
    * representative's hash, and shards-sized aggregates. Output per
    * split: (split, n_docs, n_roots, n_cross_pairs). */
  def leakProofSplits(docs: DataFrame, id: String, text: String,
      pairs: DataFrame, numShards: Int = 10, trainShards: Int = 8): DataFrame = {
    require(numShards > 0 && trainShards > 0 && trainShards < numShards)
    val clusters = Dedup.duplicateClusters(pairs.select("id_a", "id_b"))
      .select(col("id").as(id), col("cluster"))
    val roots = docs.select(col(id))
      .join(clusters, Seq(id), "left")
      .select(col(id), coalesce(col("cluster"), col(id)).as("root"))
    // the split hash IS the sharding scheme: route through assignShards
    // so the same-content-same-shard story can't silently diverge from
    // a future change to that expression
    val rootHash = assignShards(docs, text, numShards)
      .select(col(id).as("root"), col("shard").as("__h"))
    // LEFT join + in-plan assert: an inner join would silently drop
    // every member of a cluster whose root id is absent from docs (a
    // stale caller-supplied pair graph) from BOTH splits — a stale
    // input must fail loudly, not shrink the corpus
    val splits = roots.join(rootHash, Seq("root"), "left")
      .select(col(id), col("root"),
        when(col("__h").isNull, raise_error(format_string(
          "leakProofSplits: cluster root %s is not in docs — the pairs " +
            "frame references ids absent from the corpus (stale pair graph)",
          col("root").cast("string"))))
          .otherwise(when(col("__h") < trainShards, lit("train"))
            .otherwise(lit("test"))).as("split"))
    // LEFT joins + in-plan assert, same rationale as the root check: an
    // inner join here silently DROPPED any pair whose (non-root)
    // endpoint is absent from docs, so the n_cross_pairs proof counted
    // a pruned pair graph — a stale member must fail as loudly as a
    // stale root
    val tagged = pairs
      .join(splits.select(col(id).as("id_a"), col("split").as("__sa")),
        Seq("id_a"), "left")
      .join(splits.select(col(id).as("id_b"), col("split").as("__sb")),
        Seq("id_b"), "left")
      .select(
        when(col("__sa").isNull || col("__sb").isNull, raise_error(
          format_string(
            "leakProofSplits: pair (%s, %s) references a doc absent from " +
              "the corpus (stale pair graph)",
            col("id_a").cast("string"), col("id_b").cast("string"))))
          .otherwise(col("__sa")).as("__sa"),
        col("__sb"))
    val cross = broadcast(tagged.filter(col("__sa") =!= col("__sb"))
      .agg(count(lit(1)).as("n_cross_pairs")))
    splits.groupBy("split")
      .agg(count(lit(1)).as("n_docs"), countDistinct("root").as("n_roots"))
      .crossJoin(cross)
      .orderBy("split")
  }

  /** Shard novelty curve — the dedup-ROI view of an append-ordered
    * corpus: split the corpus into `numShards` contiguous id ranges
    * (the stand-in for ingestion batches / crawl snapshots), and for
    * each shard report how many of its distinct word-`n`-grams appear
    * here for the FIRST time (no earlier shard contains them). A crawl
    * whose novelty rate decays toward zero is re-crawling known
    * content — the signal that tells a pipeline when another snapshot
    * stops buying new training data.
    *
    * Scale shape: shard assignment is narrow (id-range bucketing
    * against one broadcast max — never a global row-number sort);
    * grams are distinct-ed per (shard, md5(gram)) — the one big
    * shuffle, on the fixed-width hash, never raw text; first-occurrence
    * is a min-aggregate on the gram key (same key, exchange reusable);
    * everything after is shards-sized. Output per shard:
    * (shard, n_docs, n_grams, n_new, novelty_rate), rate 4 dp; shards
    * whose documents are all shorter than `n` tokens report 0 grams
    * and a 0 rate rather than vanishing. */
  def shardNovelty(docs: DataFrame, id: String, text: String,
      numShards: Int, n: Int = 4): DataFrame = {
    require(numShards > 0 && n > 0)
    val (sharded, grams) = shardGrams(docs, id, text, numShards, n)
    val perShard = grams.groupBy("shard").agg(count(lit(1)).as("n_grams"))
    val firstSeen = grams.groupBy("g").agg(min("shard").as("shard"))
      .groupBy("shard").agg(count(lit(1)).as("n_new"))
    sharded.groupBy("shard").agg(count(lit(1)).as("n_docs"))
      .join(perShard, Seq("shard"), "left")
      .join(firstSeen, Seq("shard"), "left")
      .select(col("shard"), col("n_docs"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        round(coalesce(col("n_new"), lit(0L)) /
          when(coalesce(col("n_grams"), lit(0L)) === 0, lit(null))
            .otherwise(coalesce(col("n_grams"), lit(0L))).cast("double"), 4)
          .as("novelty_rate"))
      .na.fill(0.0, Seq("novelty_rate"))
      .orderBy("shard")
  }

  /** Contiguous-id-range shard assignment + the distinct per-(shard,
    * md5(gram)) stream — shared by the exact and sketch novelty paths.
    * Assignment is narrow (one broadcast max-id, never a global
    * row-number sort); the distinct is the one corpus-sized shuffle,
    * keyed on the fixed-width hash.
    *
    * PRECONDITION: ids are NON-NEGATIVE and below ~2^53/numShards. The
    * bucket multiply runs in double (a long `id * numShards` overflows
    * int64 for ids near Long.MaxValue/numShards); doubles are exact to
    * 2^53, beyond which assignment could drift between engines. A
    * negative id clamps to shard 0 rather than emitting a negative
    * shard. */
  private def shardGrams(docs: DataFrame, id: String, text: String,
      numShards: Int, n: Int): (DataFrame, DataFrame) = {
    val mx = broadcast(docs.agg(max(col(id).cast("long")).as("mx")))
    val sharded = docs.crossJoin(mx)
      .select(
        greatest(lit(0L), least(lit(numShards - 1).cast("long"),
          floor(col(id).cast("double") * numShards / (col("mx") + lit(1.0)))
            .cast("long"))).as("shard"),
        col(id), col(text))
    val grams = sharded
      .select(col("shard"), split(col(text), " ").as("__toks"))
      .filter(size(col("__toks")) >= n)
      .select(col("shard"),
        explode(transform(Dedup.shingles("__toks", n), g => md5(g))).as("g"))
      .distinct()
    (sharded, grams)
  }

  /** [[shardNovelty]]'s sketch path — the state shape that survives a
    * 100 TB append stream: instead of tracking every seen gram (state =
    * gram mass), keep ONE Datasketches-HLL sketch per shard and
    * estimate each shard's novelty as the growth of the running prefix
    * union, `est_new(s) = |∪ sketches ≤ s| - |∪ sketches < s|`. The
    * per-shard sketches are KB-sized and mergeable — exactly what an
    * ingest pipeline checkpoints between batches; the prefix unions are
    * shards² sketch merges of those KB blobs, nothing corpus-sized.
    *
    * Engines' sketches differ, so the cross-engine contract is the
    * error bound (the q46/q164 device): the output carries the EXACT
    * novelty columns alongside whether the sketch estimate landed
    * within `bound` of the exact rate — a drift breaks the hash
    * compare. `lgK = 16` ⇒ ~0.2% rsd per cardinality; the estimate of
    * a difference compounds two prefix errors, hence the wider default
    * bound than q164's. Only the exact columns and the bound flag are
    * emitted (the raw estimate is engine-specific and cannot be
    * hash-compared). Output: (shard, n_grams, n_new, novelty_rate,
    * within_bound). */
  def shardNoveltySketch(docs: DataFrame, id: String, text: String,
      numShards: Int, n: Int = 4, lgK: Int = 16,
      bound: Double = 0.1): DataFrame = {
    require(numShards > 0 && n > 0)
    val exact = shardNovelty(docs, id, text, numShards, n)
    val (_, grams) = shardGrams(docs, id, text, numShards, n)
    val sk = grams.groupBy("shard").agg(hll_sketch_agg(col("g"), lit(lgK)).as("sk"))
    // running prefix unions: shards² KB-sized merges, never corpus data
    val prefix = sk.select(col("shard").as("s"), col("sk"))
      .join(sk.select(col("shard")), col("s") <= col("shard"))
      .groupBy("shard")
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).cast("double")
        .as("est_prefix"))
    // previous prefix via lag over the ORDERED gram-bearing shards — a
    // shard+1 self-join would lose the running total across a gram-less
    // interior shard (its missing row would zero est_prev and inflate
    // the next shard's delta to the whole prefix). The window is
    // single-partition by construction over the shards-sized frame.
    val byShard = org.apache.spark.sql.expressions.Window.orderBy("shard")
    val lagged = prefix
      .withColumn("est_prev", lag("est_prefix", 1, 0.0).over(byShard))
      .select(col("shard"), (col("est_prefix") - col("est_prev")).as("est_new"))
    exact.join(lagged, Seq("shard"), "left")
      .select(col("shard"), col("n_grams"), col("n_new"), col("novelty_rate"),
        when(col("n_grams") === 0, lit(true))
          .otherwise(abs(coalesce(col("est_new"), lit(0.0)) / col("n_grams") -
            col("novelty_rate")) <= bound).as("within_bound"))
      .orderBy("shard")
  }

  /** Retrieval (RAG) chunking: overlapping `chunkTokens`-token windows
    * at `stride`, with offsets and a content fingerprint per chunk —
    * the doc→chunk explode feeding an embedding pipeline (vs
    * [[graft.operators.Dedup.chunkKeepFirst]]'s disjoint chunks, which
    * feed dedup). Start grid: multiples of `stride` below
    * max(n - (chunkTokens - stride), 1), so the last window always
    * reaches the document tail and short docs emit exactly one chunk
    * (see the ChunkingSpec coverage property). Fully narrow — no
    * shuffle; fan-out bounded by n/stride chunks per doc. */
  def ragChunks(docs: DataFrame, id: String, text: String,
      chunkTokens: Int = 50, stride: Int = 25): DataFrame = {
    require(chunkTokens >= stride && stride > 0,
      s"need chunkTokens >= stride > 0, got $chunkTokens/$stride")
    val overlap = chunkTokens - stride
    docs
      .select(col(id), split(col(text), " ").as("toks"))
      .withColumn("n", size(col("toks")))
      .select(col(id), col("toks"), col("n"),
        explode(sequence(lit(0),
          greatest(col("n") - overlap, lit(1)) - 1, lit(stride))).as("start"))
      .select(col(id),
        (col("start") / stride).cast("long").as("chunk_idx"),
        col("start").cast("long").as("start_tok"),
        least(lit(chunkTokens), col("n") - col("start")).cast("long").as("chunk_tokens"),
        md5(concat_ws(" ", slice(col("toks"), col("start") + 1, lit(chunkTokens))))
          .as("chunk_fp"))
  }

  /** Within-source boilerplate n-grams: word `n`-grams appearing in at
    * least `minDocs` DISTINCT documents of the same source — template
    * text (headers, footers, injected nav), the C4-style repetition
    * pass at n-gram granularity. Returns (source, gram_h, n_docs) at
    * gram grain. Scale shape: shuffle keys are (source, md5(gram)) —
    * fixed width, never the raw n-gram — and the per-doc DISTINCT is
    * applied before the corpus-wide count so in-doc repetition cannot
    * inflate document frequency. */
  def boilerplateGrams(docs: DataFrame, id: String, source: String,
      text: String, n: Int = 8, minDocs: Int = 2): DataFrame = {
    require(n > 0 && minDocs >= 1)
    gramTable(docs, id, text, n, carry = Seq(source))
      .withColumnRenamed("__g", "gram_h")
      .groupBy(col(source), col("gram_h"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
  }

  /** Distinct (id [, carry…], md5(n-gram)) tuples of a corpus — the
    * shared gram stream the decontamination paths and the boilerplate
    * detector consume. Documents shorter than `n` tokens carry no gram
    * (they cannot collide). */
  private def gramTable(df: DataFrame, id: String, text: String,
      n: Int, carry: Seq[String] = Nil): DataFrame = {
    val keep = (id +: carry).map(col)
    df
      .select(keep :+ split(col(text), " ").as("__toks"): _*)
      .filter(size(col("__toks")) >= n)
      .select(keep :+ explode(transform(Dedup.shingles("__toks", n),
        g => md5(g))).as("__g"): _*)
      .distinct()
  }

  /** Left-join the per-doc shared-gram counts back onto every gram-bearing
    * training document (zero-share docs report 0, not absence). */
  private def contaminationReport(train: DataFrame, shared: DataFrame,
      id: String, text: String, n: Int): DataFrame = train
    .filter(size(split(col(text), " ")) >= n).select(col(id)).distinct()
    .join(shared, Seq(id), "left")
    .select(col(id),
      coalesce(col("n_shared"), lit(0L)).as("n_shared"),
      (coalesce(col("n_shared"), lit(0L)) > 0).as("contaminated"))

  /** Per-document curation ledger — [[curate]]'s audit trail at row
    * grain: every input document labeled with the stage that dropped it
    * (`quality`, `exact`, `near_dup`) or `kept`, plus the reference
    * document that justified the drop (the exact-dup keeper / the
    * near-dup cluster representative; -1 for quality drops, which have
    * no reference). The artifact a data audit asks for: "why is this
    * document not in the training set" answered per document, and the
    * per-stage counts reconcile exactly with [[curate]]'s Report.
    *
    * Same stage rules and ordering as curate (cheap narrow quality
    * gate, exact dedup before LSH so signatures are computed on
    * survivors only); the keyed (quality + keeper-window) frame is
    * lazily checkpointed — three branches (exact drops, the LSH index
    * build, the kept anti-join) consume it, and without the checkpoint
    * each would replay the corpus scan + md5 window (AQE exchange reuse
    * does not bridge union branches — curate documents the same
    * hazard). Output: (id, stage, ref_id), one row per input
    * document.
    *
    * `sorted = false` skips the final global ORDER BY — for consumers
    * that immediately re-aggregate or re-sort the ledger (compaction,
    * the per-source funnel), the range exchange + total sort is pure
    * waste: a join or groupBy destroys the order one operator later. */
  def curationLedger(docs: DataFrame, id: String, text: String,
      minTokens: Int = 10, maxTokens: Int = 100000,
      nearDupThreshold: Double = 0.5, sorted: Boolean = true): DataFrame = {
    // ref_id rides as LONG so the no-reference quality rows can carry
    // -1; a non-numeric id corpus must fail loudly here — a silent
    // cast-to-null answered "why was this dropped" with null refs
    // indistinguishable from corruption
    def refId(c: Column): Column =
      when(c.isNotNull && c.cast("long").isNull, raise_error(concat(
        lit("curationLedger: non-numeric id '"), c.cast("string"),
        lit("' cannot carry a long ref_id"))))
        .otherwise(c.cast("long"))
    val toks = size(split(col(text), " "))
    val qualityDrops = docs.filter(!toks.between(minTokens, maxTokens))
      .select(col(id), lit("quality").as("stage"), lit(-1L).as("ref_id"))
    val q = qualityFilter(docs, text, minTokens = minTokens, maxTokens = maxTokens)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(md5(col(text)))
    val keyed = q.withColumn("__keeper", min(col(id)).over(w))
      .localCheckpoint(false)
    val exactDrops = keyed.filter(col(id) =!= col("__keeper"))
      .select(col(id), lit("exact").as("stage"),
        refId(col("__keeper")).as("ref_id"))
    val ex = keyed.filter(col(id) === col("__keeper")).drop("__keeper")
    val clusters = Dedup.duplicateClusters(
      Dedup.minHashLshPairs(ex, id, text, threshold = nearDupThreshold)
        .select("id_a", "id_b"))
    val nearDrops = clusters.filter(col("id") =!= col("cluster"))
      .select(col("id").as(id), lit("near_dup").as("stage"),
        refId(col("cluster")).as("ref_id"))
    val kept = ex.join(nearDrops.select(col(id)), Seq(id), "left_anti")
      .select(col(id), lit("kept").as("stage"), refId(col(id)).as("ref_id"))
    val ledger = qualityDrops.unionByName(exactDrops).unionByName(nearDrops)
      .unionByName(kept)
    if (sorted) ledger.orderBy(col(id)) else ledger
  }

  /** Compaction for an append-only curation ledger: a long-running
    * ingest appends a decision row per (doc, audit pass) — replays
    * re-append identical rows, re-audits (a raised quality bar, a
    * corrected dedup verdict) append SUPERSEDING rows under a higher
    * `batchCol` — and the serving view is latest-per-doc. This folds
    * the history to exactly that view: per `id`, the row from the
    * highest batch (fully deterministic for ANY payload schema: within
    * a batch, ties order by the remaining columns — though a
    * well-formed ledger writes one row per doc per batch).
    * Run it in a maintenance window and the ledger's storage stops
    * growing with audit history.
    *
    * Scale shape: one shuffle keyed on `id`, a per-doc window over
    * ledger rows (rows per doc = number of audits that touched it —
    * single digits), never corpus×history. */
  def compactLedger(ledger: DataFrame, id: String,
      batchCol: String = "batch"): DataFrame = {
    // tie-break over whatever payload columns the ledger carries, so
    // the contract really is just (id, batchCol) — not a hidden
    // dependency on the curation ledger's exact schema
    val tieCols = ledger.columns.toIndexedSeq
      .filter(c => c != id && c != batchCol).map(col)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(id))
      .orderBy(col(batchCol).desc +: tieCols: _*)
    ledger.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .drop("__rk")
  }

  /** Build the stored state [[curateIncremental]] appends against, from
    * a corpus already ingested: the distinct content fingerprints and
    * the [[Dedup.indexDocs]] signature index of every quality+exact
    * survivor — near-dup LOSERS included. Keeping losers' signatures is
    * what preserves transitive equivalence with a full recompute: a new
    * doc that near-dups only a dropped old doc must still drop (the old
    * doc's cluster representative keeps its slot), which the index can
    * only know if the loser's signature stayed visible. */
  def curateStateBuild(docs: DataFrame, id: String, text: String,
      minTokens: Int = 10, maxTokens: Int = 100000): (DataFrame, DataFrame) = {
    val ex = Dedup.dropExactDuplicates(
      qualityFilter(docs, text, minTokens = minTokens, maxTokens = maxTokens),
      id, text)
    (ex.select(md5(col(text)).as("fp")).distinct(),
      Dedup.indexDocs(ex, id, text))
  }

  /** The append form of [[curate]] — the 100 TB ingestion path: curate
    * ONE new batch against the stored state instead of recomputing the
    * corpus. Quality-gate the batch; drop exact duplicates within the
    * batch and against the stored fingerprint set (one semi-join); drop
    * near-duplicates via [[Dedup.incrementalLshPairs]] (batch-
    * proportional: only pairs touching new docs are expanded) with the
    * keep-lowest-id cluster rule. Returns (survivors, newFingerprints,
    * newIndex) — the survivors annotated like curate's output, the
    * state frames grown by the batch's quality+exact survivors.
    *
    * PRECONDITION: batch ids are strictly greater than every ingested
    * id (append-ordered ingest). Under that ordering the result
    * provably equals a full recompute restricted to the batch: a new
    * doc connected (transitively, through any mix of new-new and
    * new-old pairs) to an old doc always loses to the old side, and
    * new-only components keep exactly their min id — old-old pairs,
    * the only edges the incremental graph lacks, can never flip either
    * decision (they only connect docs that are already dropped).
    * q192's oracle pins exactly this equivalence. */
  def curateIncremental(fingerprints: DataFrame, index: DataFrame,
      batch: DataFrame, id: String, text: String,
      minTokens: Int = 10, maxTokens: Int = 100000,
      nearDupThreshold: Double = 0.5): (DataFrame, DataFrame, DataFrame) = {
    val (survivors, fpDelta, idxDelta) = curateIncrementalDelta(
      fingerprints, index, batch, id, text, minTokens, maxTokens,
      nearDupThreshold)
    // both sides are distinct and disjoint by construction (the anti-
    // join against the stored set), so plain union IS the grown set —
    // a distinct() here would shuffle the corpus-sized state per batch
    (survivors, fingerprints.union(fpDelta), index.unionByName(idxDelta))
  }

  /** [[curateIncremental]] returning the batch's state DELTAS instead
    * of the grown state — what an ingest sink persists per version so
    * write I/O stays batch-proportional (the stored state is then the
    * union of all version deltas). Same semantics, same precondition;
    * the append-order precondition is ENFORCED in-plan via assert_true
    * against the stored index's max id (a broadcast 1-row aggregate),
    * so an out-of-order batch fails the job instead of silently
    * retaining near-duplicates. */
  def curateIncrementalDelta(fingerprints: DataFrame, index: DataFrame,
      batch: DataFrame, id: String, text: String,
      minTokens: Int = 10, maxTokens: Int = 100000,
      nearDupThreshold: Double = 0.5): (DataFrame, DataFrame, DataFrame) = {
    val q = qualityFilter(batch, text, minTokens = minTokens, maxTokens = maxTokens)
    val maxOld = broadcast(index.agg(
      coalesce(max(col(id)), lit(Long.MinValue)).as("__mx")))
    // checkpoint the quality+exact+anti-join chain: four consumers
    // (the LSH candidates, survivors, both deltas) would otherwise
    // re-execute it — including the state-sized fingerprint anti-join
    // the check rides the id column itself (the q171 raise_error
    // device) — an expression in a dropped side-column would be pruned
    // by the optimizer and never evaluated
    val ex = Dedup.dropExactDuplicates(q, id, text)
      .join(fingerprints, md5(col(text)) === fingerprints("fp"), "left_anti")
      .crossJoin(maxOld)
      .withColumn(id, when(col(id) > col("__mx"), col(id))
        .otherwise(raise_error(format_string(
          "curateIncremental: batch id %s <= stored max id %s — batches must be append-ordered",
          col(id).cast("string"), col("__mx").cast("string")))))
      .drop("__mx")
      .localCheckpoint(false)
    // ONE signature pass for both the pair search and the index delta
    // (incrementalLshPairs would recompute it internally — its Indexed
    // twin exists for exactly this)
    val batchIdx = Dedup.indexDocs(ex, id, text).localCheckpoint(false)
    val pairs = Dedup.incrementalLshPairsIndexed(index, batchIdx, id,
      threshold = nearDupThreshold)
    // cluster labels are min REACHABLE ids; old ids < batch ids by the
    // precondition, so any batch doc whose label isn't itself loses —
    // the anti-join is on batch ids only, old docs are never touched
    val losers = Dedup.duplicateClusters(pairs.select("id_a", "id_b"))
      .filter(col("id") =!= col("cluster"))
      .select(col("id").as(id))
    val survivors = ex.join(losers, Seq(id), "left_anti")
      .withColumn("fingerprint", md5(col(text)))
      .withColumn("n_tokens", size(split(col(text), " ")))
    (survivors, ex.select(md5(col(text)).as("fp")), batchIdx)
  }

  /** [[curate]]'s survivors-only face: the same quality → exact →
    * near-dup pipeline with the same returned columns, minus the audit
    * Report — callers that discard the report (the q55 registry face)
    * otherwise pay its three counting jobs, one of which re-tokenizes
    * the whole corpus. The exact-survivor frame is a LAZY checkpoint:
    * the LSH signature pass materializes it and the keep anti-join then
    * reads its blocks (curate's persist served the same two consumers).
    * The returned frame references those blocks — materialize (or
    * persist) it before freeing them. */
  def curateDocs(docs: DataFrame, id: String, text: String,
      minTokens: Int = 10, maxTokens: Int = 100000,
      nearDupThreshold: Double = 0.5): DataFrame = {
    val q = qualityFilter(docs, text, minTokens = minTokens, maxTokens = maxTokens)
    val exact = Dedup.dropExactDuplicates(q, id, text).localCheckpoint(false)
    dropNearDuplicates(exact, id, text, nearDupThreshold)
      .withColumn("fingerprint", md5(col(text)))
      .withColumn("n_tokens", size(split(col(text), " ")))
  }

  /** Full curation pass; returns the surviving corpus + stage counts.
    * Intermediate stages are persisted while the audit counts run (each
    * count would otherwise re-execute everything upstream, re-running
    * the LSH dedup ~3×); the returned frame stays cached — callers
    * materialize it once and may `unpersist()` after. */
  def curate(docs: DataFrame, id: String, text: String,
      minTokens: Int = 10, maxTokens: Int = 100000,
      nearDupThreshold: Double = 0.5): (DataFrame, Report) = {
    val q = qualityFilter(docs, text, minTokens = minTokens, maxTokens = maxTokens)
    val exact = Dedup.dropExactDuplicates(q, id, text).persist()
    val near = dropNearDuplicates(exact, id, text, nearDupThreshold)
    val annotated = near
      .withColumn("fingerprint", md5(col(text)))
      .withColumn("n_tokens", size(split(col(text), " ")))
      .persist()
    // input + after-quality in ONE scan (the quality predicate re-counted
    // as a conditional aggregate) — two separate counts would tokenize
    // the whole corpus twice
    val toks = split(col(text), " ")
    val inQ = docs.agg(
      count(lit(1)).as("n"),
      count(when(size(toks).between(minTokens, maxTokens), 1)).as("nq")).head()
    val report = Report(inQ.getLong(0), inQ.getLong(1),
      exact.count(), annotated.count())
    exact.unpersist()
    (annotated, report)
  }

  /** GPT-style sequence packing: concatenate the corpus token stream in
    * `orderCol` order and chunk it into fixed `seqLen`-token training
    * sequences, letting documents SPAN sequence boundaries (contrast
    * [[packBins]], which keeps each document whole inside its bin).
    * Appends per document: `n_tokens`, `first_seq`, `last_seq`,
    * `n_seqs`, and `seq_offset` (the position of the document's first
    * token inside `first_seq`).
    *
    * Scale shape — a distributed exclusive prefix sum, never a global
    * single-partition window: (1) range-partition a SKINNY
    * (orderCol, n_tokens) projection by the pack order so each
    * partition holds a contiguous slice of the stream, and pin the
    * layout (localCheckpoint) so both passes below see the same
    * partition ids; (2) aggregate ONE row per partition and fold the
    * per-partition token totals into exclusive offsets on the driver
    * (numPartitions entries — tiny); (3) a PER-PARTITION running-sum
    * window plus the broadcast offset map yields each document's
    * global start token. The full-width corpus is touched once, to
    * join the assignments back by `orderCol` — which must be unique
    * (ties would make the pack order, and hence the chunking,
    * ambiguous). */
  def packSequences(docs: DataFrame, orderCol: String, text: String,
      seqLen: Int): DataFrame = {
    require(seqLen > 0, s"sequence length must be positive, got $seqLen")
    val skinny = docs
      .select(col(orderCol),
        size(split(col(text), " ")).cast("long").as("n_tokens"))
      .repartitionByRange(col(orderCol))
      .sortWithinPartitions(orderCol)
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint(true)
    val totals = skinny.groupBy("__pid").agg(sum("n_tokens").as("t"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    var acc = 0L
    val offsets: Map[Int, Long] =
      (0 to totals.keys.foldLeft(-1)(math.max)).map { p =>
        val o = acc; acc += totals.getOrElse(p, 0L); p -> o
      }.toMap
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__pid").orderBy(orderCol)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val start = sum("n_tokens").over(w) - col("n_tokens") +
      coalesce(element_at(typedLit(offsets), col("__pid")), lit(0L))
    // in-plan uniqueness guard: a duplicate pack key would make the
    // chunking ambiguous AND multiply rows at the join-back, silently
    // corrupting first_seq/seq_offset. Range partitioning co-locates
    // equal keys, so a lag-equality probe over the window sort we
    // already pay for catches every duplicate — fail loudly, no extra
    // shuffle, no extra aggregate.
    val wOrd = org.apache.spark.sql.expressions.Window
      .partitionBy("__pid").orderBy(orderCol)
    val assigned = skinny
      .withColumn("__prev", lag(col(orderCol), 1).over(wOrd))
      .withColumn("__start", start)
      .filter(isnull(assert_true(
        col(orderCol).isNotNull &&
          (col("__prev").isNull || col("__prev") =!= col(orderCol)),
        concat(lit(s"packSequences: orderCol '$orderCol' must be unique " +
          "and non-null; offending key: "), col(orderCol).cast("string")))))
      .select(col(orderCol), col("n_tokens"),
        floor(col("__start") / seqLen).cast("long").as("first_seq"),
        floor((col("__start") + col("n_tokens") - 1) / seqLen).cast("long")
          .as("last_seq"),
        (col("__start") % seqLen).as("seq_offset"))
      .withColumn("n_seqs", col("last_seq") - col("first_seq") + 1)
    // replace-semantics like packBins's withColumn: curate() output
    // already carries n_tokens, and a join would otherwise emit the
    // column twice (ambiguous downstream)
    val appended = Seq("n_tokens", "first_seq", "last_seq", "seq_offset", "n_seqs")
    docs.drop(appended: _*).join(assigned, Seq(orderCol))
  }

  /** Epoch-mix materialization: expand the corpus into the exact stream
    * a training run consumes, given per-stratum epoch factors (e.g.
    * wiki ×2.5, web ×0.8). Each document materializes `floor(e)` full
    * copies plus one more iff its deterministic unit hash u(id) falls
    * below frac(e) — a 2.5-epoch source repeats every document twice
    * and a content-independent, reproducible half of them a third
    * time, so the realized token share matches the mix spec in
    * expectation with zero RNG state. Strata absent from `epochs` are
    * dropped, matching mix specs where unlisted sources are excluded.
    * Appends `copy` (0-based) and `order_key` = md5(id ":" copy) — the
    * deterministic global shuffle key: sorting the materialized stream
    * by it interleaves sources and scatters a document's copies, and
    * the SAME training order comes out on any engine, any
    * partitioning, any run.
    *
    * Scale shape: the epoch table is a broadcast literal, the
    * expansion is a narrow explode whose output mass is Σ e(s)·|s| —
    * exactly the stream the trainer reads, nothing more — and nothing
    * shuffles here; a sharded export sorts by `order_key` per shard,
    * never globally. */
  def materializeMix(docs: DataFrame, id: String, stratum: String,
      epochs: Map[String, Double]): DataFrame = {
    require(epochs.nonEmpty, "epoch mix must name at least one stratum")
    // an absurd factor would explode output mass quietly; real mixes
    // repeat a source a handful of times
    require(epochs.values.forall(e => e >= 0.0 && e <= 1000.0),
      s"epoch factors must be in [0, 1000], got $epochs")
    val spark = docs.sparkSession
    import spark.implicits._
    val eDf = epochs.toSeq.toDF(stratum, "__e")
    val u = (conv(substring(md5(col(id).cast("string")), 1, 8), 16, 10)
      .cast("long").cast("double") + 0.5) / 4294967296.0
    docs.join(broadcast(eDf), Seq(stratum))
      .withColumn("__copies",
        floor(col("__e")).cast("long") +
          when(u < col("__e") - floor(col("__e")), 1L).otherwise(0L))
      .filter(col("__copies") > 0)
      .withColumn("copy", explode(sequence(lit(0L), col("__copies") - 1)))
      .withColumn("order_key",
        md5(concat_ws(":", col(id).cast("string"), col("copy"))))
      .drop("__e", "__copies")
  }

  /** The tokenizer-ready training stream: [[materializeMix]] composed
    * with per-shard sequence packing — the frame an export writer
    * materializes and a training run reads. Each (doc, copy) of the
    * mixed stream is assigned a shard from its `order_key` (content ×
    * copy hash, so a document's epochs scatter across shards and
    * shards are balanced regardless of source skew), and WITHIN its
    * shard — in `order_key` order, which IS the training order — gets
    * the [[packSequences]] span columns: `n_tokens`, `first_seq`,
    * `last_seq`, `n_seqs`, `seq_offset`, all shard-local.
    *
    * Scale shape: one shuffle, keyed on shard; the per-shard running
    * sum rides a window inside each shard's partition (a shard is
    * file-sized by construction — numShards is chosen so |corpus| /
    * numShards fits an executor's sort spill comfortably, the same
    * sizing a real export wants for its output files). Packing is
    * shard-local ON PURPOSE: a global prefix sum would serialize the
    * export, and training runs consume shards independently anyway.
    * Requires unique `id` per input doc ((id, copy) keys the stream). */
  def tokenShardStream(docs: DataFrame, id: String, stratum: String,
      text: String, epochs: Map[String, Double], numShards: Int,
      seqLen: Int): DataFrame = {
    require(numShards > 0, s"numShards must be positive, got $numShards")
    require(seqLen > 0, s"sequence length must be positive, got $seqLen")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy("order_key")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    // duplicate-id guard, same device as packSequences: a duplicate
    // input id makes every copy's order_key collide, which would give
    // the tied rows nondeterministic relative positions in the shard
    // stream (silently ambiguous training order and spans). Equal
    // order_keys land in the same shard (shard is derived from the
    // key), so a lag-equality probe over the per-shard window sort we
    // already pay for catches every collision — fail loudly, no extra
    // shuffle.
    val wOrd = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy("order_key")
    materializeMix(docs, id, stratum, epochs)
      .withColumn("n_tokens", size(split(col(text), " ")).cast("long"))
      .withColumn("shard",
        conv(substring(col("order_key"), 1, 8), 16, 10).cast("long")
          % numShards)
      .withColumn("__prev", lag(col("order_key"), 1).over(wOrd))
      .filter(isnull(assert_true(
        col("__prev").isNull || col("__prev") =!= col("order_key"),
        concat(lit(s"tokenShardStream: input '$id' must be unique — "),
          lit("duplicate ids collide on order_key "), col("order_key")))))
      .drop("__prev")
      .withColumn("__start", sum("n_tokens").over(w) - col("n_tokens"))
      .withColumn("first_seq", floor(col("__start") / seqLen).cast("long"))
      .withColumn("last_seq",
        floor((col("__start") + col("n_tokens") - 1) / seqLen).cast("long"))
      .withColumn("n_seqs", col("last_seq") - col("first_seq") + 1)
      .withColumn("seq_offset", col("__start") % seqLen)
      .drop("__start")
  }

  /** Per-shard manifest of a [[tokenShardStream]] — what a training run
    * verifies before trusting an export: document count, token count,
    * sequence count (the last sequence may be partial), and TWO order-
    * sensitive fingerprints of the shard's training order (any dropped,
    * duplicated or reordered document changes both):
    *
    *  - `shard_fp`: md5 over the concatenated `order_key`s in stream
    *    order — cryptographic, but the concat buffers one shard's keys
    *    (32 bytes each) in a single agg buffer, so it relies on the
    *    [[tokenShardStream]] sizing discipline (numShards chosen so a
    *    shard fits an executor).
    *  - `shard_fp_pos`: Σ (md5₃₂(order_key) mod M) · (position mod M)
    *    mod 2⁶¹−1, position = the key's 1-based rank in training order.
    *    NEVER buffers: the rank rides the per-shard sort the export
    *    already pays (spillable), and the sum is a plain partial-
    *    aggregable fold in decimal(38,0) (term ≤ 2⁶², so even a
    *    10¹⁵-row shard stays within 38 digits). Not cryptographic — a
    *    position-weighted checksum — but any drop/dup/reorder changes
    *    it except under engineered collisions. THE fingerprint to
    *    verify when a config cannot guarantee executor-sized shards:
    *    pass `boundedOnly = true` to OMIT the md5 concat entirely, so
    *    the manifest job itself never materializes a shard's keys in
    *    one buffer (a flag, because computing the buffering fp "too"
    *    would defeat the reason this fold exists). */
  def tokenShardManifest(stream: DataFrame, seqLen: Int,
      boundedOnly: Boolean = false): DataFrame = {
    require(seqLen > 0, s"sequence length must be positive, got $seqLen")
    val M = 2147483647L          // 2^31 - 1: bounds each h·pos term
    val P = 2305843009213693951L // 2^61 - 1: final modulus, fits a long
    val wPos = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy("order_key")
    val h32 = conv(substring(md5(col("order_key")), 1, 8), 16, 10)
      .cast("long") % M
    val fpPos = pmod(sum(h32.cast("decimal(38,0)")
        * (col("__pos") % M).cast("decimal(38,0)")), lit(P))
      .cast("long").as("shard_fp_pos")
    val aggs = Seq(
      sum("n_tokens").as("n_tokens"),
      expr(s"CAST((sum(n_tokens) + ${seqLen - 1}) DIV $seqLen AS BIGINT)")
        .as("n_seqs")) ++
      (if (boundedOnly) Seq(fpPos)
       else Seq(
         md5(concat_ws("", array_sort(collect_list(col("order_key")))))
           .as("shard_fp"),
         fpPos))
    stream
      .withColumn("__pos", row_number().over(wPos).cast("long"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), aggs: _*)
  }

  /** Materialize a [[tokenShardStream]] export on disk: the stream is
    * written under `outDir/stream/shard=<s>/` with each shard's rows
    * physically SORTED by `order_key` (a trainer reads a shard's files
    * top to bottom and gets the training order without sorting), and
    * the manifest — computed from the FILES JUST WRITTEN, so it
    * certifies what is actually on disk, not what the plan intended —
    * lands under `outDir/manifest/`. Returns the manifest frame.
    * S9's partitioned-sink discipline at LLM scale: one job writes the
    * stream (shuffle keyed on shard, in-partition sort), one
    * shard-parallel job folds the manifest.
    *
    * `boundedOnly` threads through to [[tokenShardManifest]]: a
    * deployment whose shards exceed executor memory runs the WHOLE
    * export bounded — the manifest then carries only the never-
    * buffering `shard_fp_pos` fingerprint, omitting the md5-concat
    * `shard_fp` whose agg buffer holds one shard's keys. */
  def writeTokenShards(docs: DataFrame, id: String, stratum: String,
      text: String, epochs: Map[String, Double], numShards: Int,
      seqLen: Int, outDir: String, boundedOnly: Boolean = false): DataFrame = {
    val spark = docs.sparkSession
    // no extra repartition: the packing window already shuffled by
    // shard, so each shard sits whole inside one partition and the
    // in-partition (shard, order_key) sort is a near-no-op on the
    // window's existing order — one shuffle total for the whole export
    tokenShardStream(docs, id, stratum, text, epochs, numShards, seqLen)
      .sortWithinPartitions("shard", "order_key")
      .write.mode("overwrite").partitionBy("shard")
      .parquet(s"$outDir/stream")
    // partition-column type inference reads `shard=N` dirs back as INT;
    // normalize to the stream's BIGINT so both manifest faces agree
    val manifest = tokenShardManifest(
      spark.read.parquet(s"$outDir/stream")
        .withColumn("shard", col("shard").cast("long")), seqLen, boundedOnly)
    manifest.write.mode("overwrite").parquet(s"$outDir/manifest")
    spark.read.parquet(s"$outDir/manifest")
  }
}
