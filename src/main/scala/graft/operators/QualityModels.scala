package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Statistical quality models a pretraining-data pipeline fits ON the
  * corpus and then scores the corpus WITH — the lightweight stand-ins
  * for KenLM perplexity filtering and DSIR importance resampling that
  * ship in public curation stacks (CCNet's LM filter, DSIR's hashed
  * n-gram log-ratio, mT5's temperature mixing).
  *
  * Every model here is a pair of relational passes: an aggregate that
  * builds the model (token/bigram/vocabulary counts — small next to the
  * corpus, broadcastable), and a scoring pass that joins the model back
  * onto the token stream. Nothing is driver-held except what is O(vocab)
  * by construction; the corpus-sized frames only ever flow through
  * hash aggregates and broadcast-joined lookups, so each scorer is one
  * shuffle over tokens plus map-side work — the shape that survives a
  * 100 TB corpus (tokens shuffle once to count; scoring re-reads the
  * corpus with model lookups map-side).
  *
  * Cross-engine determinism (the repo's oracle rules): probabilities are
  * ratios of exact integer counts, logs are applied per-token and
  * averaged per-document, and every emitted float is rounded — so the
  * DuckDB oracle replays the identical arithmetic.
  */
object QualityModels {

  /** BPE merge glue joining an adopted pair inside one piece. U+241D
    * (group-separator symbol) — like the U+241F token separator, it
    * cannot occur in natural text, so "piece contains glue" exactly
    * means "merged piece". A plain '_' glue miscounted snake_case
    * tokens as merges and made a learned merge a+b indistinguishable
    * from a native token "a_b" in later training rounds. */
  private val Glue = "␝"

  /** (id, p, w) consecutive-bigram stream — the ONE definition of
    * "bigram" every LM here fits on (a tokenization change must hit all
    * consumers at once, not one copy of four). */
  private def bigrams(docs: DataFrame, id: String, text: String): DataFrame =
    docs.select(col(id), split(col(text), " ").as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col(id), explode(expr(
        "transform(sequence(0, size(toks) - 2), i -> struct(toks[i] AS p, toks[i + 1] AS w))")).as("b"))
      .select(col(id), col("b.p").as("p"), col("b.w").as("w"))

  /** (src, g) space-joined n-gram stream per source — shared by the
    * exact and sketch overlap operators. */
  private def sourceGrams(docs: DataFrame, source: String, text: String,
      n: Int): DataFrame =
    docs.select(col(source).as("src"), split(col(text), " ").as("toks"))
      .filter(size(col("toks")) >= n)
      // THE n-gram definition lives in Dedup.shingles — the overlap
      // detector and the dedup family must always agree on what an
      // n-gram is, so there is exactly one spelling of it
      .select(col("src"), explode(Dedup.shingles("toks", n)).as("g"))

  private def toks(docs: DataFrame, id: String, text: String): DataFrame =
    docs.select(col(id), explode(split(col(text), " ")).as("tok"))

  /** Per-document add-k-smoothed bigram surprisal — the self-scored
    * KenLM-style quality signal: fit bigram/context counts on the whole
    * corpus, then score each document by the mean negative log2
    * probability of its bigrams,
    * `P(w|p) = (c(p,w) + k) / (c(p,·) + k·V)` with V = unigram vocab
    * size. Boilerplate scores low (its bigrams dominate the counts),
    * word salad scores high; both tails get cut by the curation filter.
    *
    * Scale shape: the bigram-count model is |distinct bigrams| rows —
    * built with one shuffle on the bigram key and NOT collected; scoring
    * joins the per-doc bigram stream against it on the same key (the
    * partitioning is reused), context counts and V ride along as
    * broadcasts. A document with fewer than 2 tokens has no bigrams and
    * is excluded (no NULL-score rows).
    *
    * Output: (id, n_bigrams, surprisal), surprisal rounded to 4 dp. */
  def bigramSurprisal(docs: DataFrame, id: String, text: String,
      k: Double = 1.0): DataFrame = {
    require(k > 0, s"smoothing constant must be positive, got $k")
    val bi = bigrams(docs, id, text)
    val bcnt = bi.groupBy("p", "w").agg(count(lit(1)).as("cb"))
    // context mass = bigram occurrences starting at p (NOT the unigram
    // count: the last token of a doc opens no bigram), so P(·|p) sums
    // to 1 over the V-word vocabulary under add-k
    val ctx = bcnt.groupBy("p").agg(sum("cb").as("cp"))
    val vocab = broadcast(toks(docs, id, text).agg(countDistinct("tok").as("v")))
    bi.join(bcnt, Seq("p", "w"))
      .join(broadcast(ctx), Seq("p"))
      .crossJoin(vocab)
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(-log2((col("cb") + lit(k)) /
          (col("cp") + lit(k) * col("v")))), 4).as("surprisal"))
      .orderBy(col(id))
  }

  /** DSIR-style importance log-ratio: how much more likely a document's
    * tokens are under a TARGET domain's unigram distribution than under
    * the full corpus's — `score(d) = mean_w log2(P_tgt(w) / P_all(w))`,
    * both distributions add-1 smoothed over the corpus-wide vocabulary
    * (so target-unseen tokens penalize, never zero out). Positive means
    * "looks like the target domain"; importance resampling keeps the
    * high scorers. `targetPred` selects the target rows (a language, a
    * curated source, a benchmark-adjacent slice).
    *
    * Scale shape: both unigram models are vocab-sized aggregates; the
    * scoring join is a single broadcast lookup on the token stream —
    * the corpus is read twice (fit, score) and shuffled once (fit).
    *
    * Output: (id, n_toks, log_ratio), rounded to 4 dp. */
  def dsirLogRatio(docs: DataFrame, id: String, text: String,
      targetPred: Column): DataFrame = {
    val all = toks(docs, id, text)
    val tgt = toks(docs.filter(targetPred), id, text)
    val allCnt = all.groupBy("tok").agg(count(lit(1)).as("ca"))
    // left join: vocab = corpus vocab; target-absent tokens get ct=0
    val model = allCnt.join(
      tgt.groupBy("tok").agg(count(lit(1)).as("ct")), Seq("tok"), "left")
      .select(col("tok"), col("ca"), coalesce(col("ct"), lit(0L)).as("ct"))
    val totals = broadcast(
      all.agg(count(lit(1)).as("na"), countDistinct("tok").as("v"))
        .crossJoin(tgt.agg(count(lit(1)).as("nt"))))
    val mean = avg(log2(
      ((col("ct") + 1) / (col("nt") + col("v")).cast("double")) /
        ((col("ca") + 1) / (col("na") + col("v")).cast("double"))))
    all.join(broadcast(model), Seq("tok"))
      .crossJoin(totals)
      .groupBy(col(id))
      // a negative mean that rounds to zero is -0.0, as DuckDB's ROUND
      // gives; Spark's BigDecimal round alone drops the sign
      .agg(count(lit(1)).as("n_toks"),
        when(mean < 0, -round(-mean, 4)).otherwise(round(mean, 4))
          .as("log_ratio"))
      .orderBy(col(id))
  }

  /** Frequency-ranked vocabulary fit + per-document OOV rate — the
    * tokenizer-fitting step: take the `vocabSize` most frequent tokens
    * (count desc, token asc as the deterministic tie-break), then score
    * every document by the fraction of its tokens that fall outside the
    * vocabulary. High OOV = encoding junk, rare-language leakage, or
    * mojibake; it is also the direct estimate of the UNK rate a fixed
    * tokenizer would pay on that document.
    *
    * The vocabulary is rank-selected with a distributed top-k
    * (`orderBy().limit()` plans as TakeOrderedAndProject: per-partition
    * heaps + a k-row merge, never a global sort — the shape that holds
    * when the vocab aggregate is itself millions of rows) and the
    * scoring pass is one broadcast semi-lookup per token. Output:
    * (id, n_toks, n_oov, oov_rate), rate rounded to 4 dp. */
  def vocabOovRate(docs: DataFrame, id: String, text: String,
      vocabSize: Int): DataFrame = {
    require(vocabSize >= 1, s"vocabSize must be >= 1, got $vocabSize")
    val t = toks(docs, id, text)
    val vocab = t.groupBy("tok").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("tok").asc)
      .limit(vocabSize)
      .select("tok")
    t.join(broadcast(vocab.withColumn("__in", lit(1))), Seq("tok"), "left")
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_toks"),
        sum(when(col("__in").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col(id), col("n_toks"), col("n_oov"),
        round(col("n_oov") / col("n_toks").cast("double"), 4).as("oov_rate"))
      .orderBy(col(id))
  }

  /** Temperature-based source mixing (the mT5/multilingual sampling
    * rule): resampling weights that move the per-source token shares
    * `p_i` to `p_i^alpha / Σ p_j^alpha`. `alpha = 1` keeps the natural
    * mix, `alpha = 0` is uniform; the usual 0.2–0.7 range upsamples the
    * tail without flattening the head. Generalizes the uniform-target
    * reweighting (weight = temp_frac / actual_frac).
    *
    * Everything after the one token-count scan is sources-sized (a few
    * hundred rows at any corpus scale). Output per source:
    * (source, tokens, actual_frac, temp_frac, weight), 4 dp. */
  def temperatureMix(docs: DataFrame, source: String, text: String,
      alpha: Double): DataFrame =
    temperatureMixFromCounts(
      docs.select(col(source), size(split(col(text), " ")).cast("long").as("n"))
        .groupBy(source).agg(sum("n").as("tokens")),
      source, alpha)

  /** [[temperatureMix]] when the per-source token counts are already
    * materialized (a `(source, tokens)` frame): the weights then cost
    * only sources-sized work, with no corpus scan. */
  def temperatureMixFromCounts(perSource: DataFrame, source: String,
      alpha: Double): DataFrame = {
    require(alpha >= 0, s"alpha must be >= 0, got $alpha")
    // a registered-but-empty source (tokens = 0) is reachable through
    // externally-maintained counts; its p = 0 would make weight
    // pow(0,α)/z/0 = NaN (or Infinity at α = 0) and poison the
    // resampling plan — a source with no tokens has no resampling
    // weight, so it is excluded rather than emitted as NaN
    val live = perSource.filter(col("tokens") > 0)
    val total = broadcast(live.agg(sum("tokens").as("total")))
    val frac = live.crossJoin(total)
      .select(col(source), col("tokens"),
        (col("tokens").cast("double") / col("total")).as("p"))
    val z = broadcast(frac.agg(sum(pow(col("p"), alpha)).as("z")))
    frac.crossJoin(z)
      .select(col(source), col("tokens"),
        round(col("p"), 4).as("actual_frac"),
        round(pow(col("p"), alpha) / col("z"), 4).as("temp_frac"),
        round(pow(col("p"), alpha) / col("z") / col("p"), 4).as("weight"))
      .orderBy(col(source))
  }

  /** Token-budget water-filling — the mix-planning allocator: given a
    * total token budget B and per-source token masses T_i, find the cap
    * `t* = max integer t with Σ min(T_i, t) <= B` and allocate
    * `min(T_i, t*)` per source — small sources keep everything, large
    * sources are capped at a common level, the allocation that maximizes
    * the minimum source share under the budget (the water-filling
    * solution every sampling planner converges to).
    *
    * Closed form, no iteration: sort sources by mass ascending; on the
    * segment where exactly the k-1 smallest fit fully,
    * `Σ min = prefix_{k-1} + (n-k+1)·t`, so the segment's best cap is
    * `floor((B - prefix_{k-1}) / (n-k+1))`, valid when it clears the
    * previous source's mass; t* is the max valid candidate. Everything
    * after the one token-count scan is sources-sized (the q159 shape) —
    * the window runs over the per-source frame, never the corpus.
    * All-integer arithmetic → exact cross-engine. Output per source:
    * (source, tokens, alloc, capped, threshold). */
  def budgetWaterfill(docs: DataFrame, source: String, text: String,
      budgetFrac: Double): DataFrame = {
    require(budgetFrac > 0, s"budget fraction must be positive, got $budgetFrac")
    val perSource = docs
      .select(col(source), size(split(col(text), " ")).cast("long").as("n"))
      .groupBy(source).agg(sum("n").as("tokens"))
    val meta = broadcast(perSource.agg(
      floor(lit(budgetFrac) * sum("tokens")).cast("long").as("budget"),
      count(lit(1)).as("n")))
    val w = Window.orderBy(col("tokens").asc, col(source).asc)
    val ranked = perSource.crossJoin(meta)
      .withColumn("k", row_number().over(w).cast("long"))
      .withColumn("prefix", coalesce(
        sum("tokens").over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("prev_t", coalesce(lag("tokens", 1).over(w), lit(0L)))
    val thr = broadcast(ranked
      .select(floor((col("budget") - col("prefix")) /
        (col("n") - col("k") + 1)).cast("long").as("cand"), col("prev_t"))
      .filter(col("cand") >= col("prev_t"))
      .agg(max("cand").as("threshold")))
    perSource.crossJoin(thr)
      .select(col(source), col("tokens"),
        least(col("tokens"), col("threshold")).as("alloc"),
        (col("tokens") > col("threshold")).as("capped"),
        col("threshold"))
      .orderBy(col(source))
  }

  /** Greedy BPE-style merge training over whitespace tokens — the
    * tokenizer-FIT step (q43 applies a fixed tokenization; this LEARNS
    * the merge table): each round counts adjacent token pairs across
    * the corpus, adopts the most frequent pair (count desc, pair asc as
    * the deterministic tie-break) as a new merged token, and rewrites
    * the corpus before the next round — the byte-pair-encoding training
    * loop, run at word granularity so both engines can replay it. The
    * rewrite is a literal, non-overlapping, left-to-right string
    * replace on a separator-delimited token string; an occurrence that
    * shares its boundary separator with an earlier match in the same
    * round (consecutive repeats of the pair) stays un-merged and is
    * simply counted afresh next round — a documented approximation of
    * per-occurrence BPE greed whose semantics are byte-identical in
    * Spark and DuckDB (which is what makes the unrolled oracle exact).
    *
    * Scale shape: each round is ONE Spark job — the pair count
    * (map-side partial, 1-row collect; the adopted merge is model
    * state on the driver, the k-means-centroid precedent) whose scan
    * also materializes the previous round's lazily-checkpointed
    * rewrite. The rewrite itself is a narrow literal replace (no join:
    * the merge is inlined as literals), checkpointed lazily so its
    * cost lands inside the next round's count instead of a separate
    * job, and each corpus version's blocks are freed one round later,
    * once its successor is materialized. Driver holds nothing but the
    * merge table (`rounds` rows).
    *
    * Output: (step, w1, w2, n) — the learned merge table with adoption
    * counts. */
  def bpeMerges(docs: DataFrame, id: String, text: String,
      rounds: Int = 3): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val spark = docs.sparkSession
    import spark.implicits._
    val sep = "␟"
    // each round's rewrite goes through Checkpoints.iter (lazy): lineage
    // is cut per round, and the spark.graft.checkpoint.dir dial makes
    // the chain executor-loss-proof on a real cluster
    var cur = graft.plans.Checkpoints.iter(
      docs.select(col(id), regexp_replace(col(text), " ", sep).as("s")),
      eager = false)
    // the corpus version one behind `cur`: still holds the blocks the
    // un-materialized `cur` checkpoint reads, so it is only freed after
    // the next count job materializes `cur`
    var prev: DataFrame = null
    val steps = scala.collection.mutable.ListBuffer.empty[(Int, String, String, Long)]
    var stopped = false
    var r = 1
    while (r <= rounds && !stopped) {
      val toks = split(col("s"), sep)
      val top = cur.select(toks.as("toks"))
        .filter(size(col("toks")) >= 2)
        .select(explode(expr(
          "transform(sequence(0, size(toks) - 2), i -> struct(toks[i] AS w1, toks[i + 1] AS w2))")).as("b"))
        .groupBy("b.w1", "b.w2").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("w1").asc, col("w2").asc)
        .limit(1).collect()
      if (prev != null) { Dedup.freeLocalCheckpoint(prev); prev = null }
      // a pair-less round adopts nothing: stop
      if (top.isEmpty) stopped = true
      else {
        val (w1, w2) = (top(0).getString(0), top(0).getString(1))
        steps += ((r, w1, w2, top(0).getLong(2)))
        // strip exactly the ONE separator added at each end by the
        // wrap (a trim-ALL would also eat boundary empty tokens from
        // leading/trailing whitespace, silently changing round r+1's
        // pair counts)
        val next = cur
          .select(col(id), replace(
            concat(lit(sep), col("s"), lit(sep)),
            lit(sep + w1 + sep + w2 + sep),
            lit(sep + w1 + Glue + w2 + sep)).as("__t"))
          .select(col(id),
            expr("substring(__t, 2, length(__t) - 2)").as("s"))
        prev = cur
        cur = graft.plans.Checkpoints.iter(next, eager = false)
      }
      r += 1
    }
    if (prev != null) Dedup.freeLocalCheckpoint(prev)
    Dedup.freeLocalCheckpoint(cur)
    steps.toSeq.toDF("step", "w1", "w2", "n")
      .select("step", "w1", "w2", "n").orderBy("step")
  }

  /** Apply a learned merge table ([[bpeMerges]] output, collected) to a
    * corpus: the same wrap → literal replace → strip rewrite as each
    * training round, folded in step order over the separator-joined
    * token string — so applying the table to the ORIGINAL corpus
    * reproduces the training loop's final rewritten state exactly.
    * Fully narrow (the merge table is driver model state inlined as
    * literals): tokenizing a 100 TB corpus with a learned tokenizer is
    * a single scan. Output per doc: piece count after merging, count
    * of merged (multi-word) pieces, and an md5 fingerprint of the
    * rewritten string. */
  def bpeApply(docs: DataFrame, id: String, text: String,
      merges: Seq[(String, String)]): DataFrame = {
    val sep = "␟"
    // wrap ONCE, fold single-reference replaces, strip ONCE behind a
    // projection boundary: each replace pattern keeps the boundary
    // separators, so the ends stay wrapped across merges and
    // wrap/replace*/strip is step-identical to the training loop's
    // per-round wrap/replace/strip. A per-merge wrap+substr would
    // reference the accumulated expression twice and grow the Catalyst
    // tree exponentially in |merges|; this chain is linear, so a
    // realistically sized learned table (hundreds of merges) still
    // plans — and runs as one narrow scan.
    val wrapped: Column =
      concat(lit(sep), regexp_replace(col(text), " ", sep), lit(sep))
    val merged = merges.foldLeft(wrapped) { case (acc, (w1, w2)) =>
      replace(acc,
        lit(sep + w1 + sep + w2 + sep),
        lit(sep + w1 + Glue + w2 + sep))
    }
    docs.select(col(id), merged.as("__w"))
      .select(col(id), expr("substring(__w, 2, length(__w) - 2)").as("s"))
      .select(col(id),
        size(split(col("s"), sep)).cast("long").as("n_pieces"),
        size(filter(split(col("s"), sep), p => p.contains(Glue)))
          .cast("long").as("n_merged"),
        md5(col("s")).as("bpe_fp"))
  }

  /** Interpolated Kneser-Ney bigram cross-entropy per document — the
    * real-LM upgrade of [[bigramSurprisal]]'s add-k stand-in, and the
    * CCNet-style perplexity filter: fit absolute-discounted bigram
    * probabilities on the corpus,
    * `P(w|p) = (c(p,w) - D)/c(p·) + D·N1+(p·)/c(p·) · Pcont(w)` with
    * `Pcont(w) = N1+(·w)/|bigram types|`, then score each document by
    * the mean negative log2 probability of its bigrams and bucket the
    * corpus into head/middle/tail at the exact entropy terciles (the
    * CCNet split: head = most-predictable third). KN's continuation
    * probability is what separates it from add-k: a token seen in many
    * CONTEXTS backs off strong, a burst token seen often in one context
    * backs off weak — the distinction that makes boilerplate score
    * "head" even when its raw counts are modest.
    *
    * Every scored bigram is an observed one, so `c(p,w) >= 1 > D`,
    * `c(p·) >= 1` and `N1+(·w) >= 1` — no zero probabilities by
    * construction, no epsilon guards.
    *
    * Scale shape: the model is the bigram-count table (one shuffle on
    * the bigram key, never collected) plus three vocab-sized side
    * frames (context mass, context fan-out, continuation fan-in) that
    * broadcast; scoring re-joins the per-doc bigram stream on the same
    * bigram key. The tercile boundaries are one exact-percentile
    * aggregate over the per-doc scores (doc-count-sized, not
    * corpus-sized) broadcast back for the bucket label — never a
    * global sort. Output: (id, n_bigrams, kn_entropy, bucket),
    * entropy rounded to 4 dp before the tercile split so the
    * boundaries are cross-engine stable (the q167 percentile
    * equivalence). */
  def knBigramEntropy(docs: DataFrame, id: String, text: String,
      discount: Double = 0.75): DataFrame = {
    // consumed twice (percentile bounds + the final select): without
    // the boundary the whole explode/join pipeline executes twice
    val scored = knBigramScores(docs, id, text, discount).localCheckpoint(false)
    val bounds = broadcast(scored.agg(
      expr("percentile(kn_entropy, 0.3333)").as("b1"),
      expr("percentile(kn_entropy, 0.6667)").as("b2")))
    scored.crossJoin(bounds)
      .select(col(id), col("n_bigrams"), col("kn_entropy"),
        when(col("kn_entropy") <= col("b1"), "head")
          .when(col("kn_entropy") <= col("b2"), "middle")
          .otherwise("tail").as("bucket"))
      .orderBy(col(id))
  }

  /** The KN scoring stage, pre-checkpoint — separated so PlanAuditSpec
    * can pin the compute plan's properties (broadcast model frames,
    * hash-keyed bigram lookup) that the checkpoint boundary hides from
    * the public operator's final plan. */
  private[graft] def knBigramScores(docs: DataFrame, id: String,
      text: String, discount: Double): DataFrame = {
    require(discount > 0 && discount < 1,
      s"absolute discount must be in (0,1), got $discount")
    val bi = bigrams(docs, id, text)
    val bcnt = bi.groupBy("p", "w").agg(count(lit(1)).as("cb"))
    // context mass c(p·) and fan-out N1+(p·) in one pass over the model
    val ctx = bcnt.groupBy("p")
      .agg(sum("cb").as("cp"), count(lit(1)).as("n1p"))
    // continuation fan-in N1+(·w); |bigram types| normalizes it
    val cont = bcnt.groupBy("w").agg(count(lit(1)).as("n1w"))
    val types = broadcast(bcnt.agg(count(lit(1)).as("nbb")))
    bi.join(bcnt, Seq("p", "w"))
      .join(broadcast(ctx), Seq("p"))
      .join(broadcast(cont), Seq("w"))
      .crossJoin(types)
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(-log2(
          (col("cb") - lit(discount)) / col("cp") +
            lit(discount) * col("n1p") / col("cp") *
              (col("n1w").cast("double") / col("nbb")))), 4).as("kn_entropy"))
  }

  /** Count-based word vectors: positive pointwise mutual information
    * over symmetric ±`window` co-occurrence, then the `topK` most
    * cosine-similar word pairs — the word2vec-era distributional
    * similarity model (PPMI + cosine is the classic count baseline),
    * fit entirely with relational passes. The co-occurrence matrix is
    * built from directed (center, context) pairs in both directions, so
    * `c(a,c)` is symmetric; `PPMI(a,c) = max(0, log2(c(a,c)·N /
    * (c(a·)·c(·c))))`, and similarity is the sparse-vector cosine
    * computed by self-joining the PPMI table on the context key.
    *
    * Scale shape: pair generation is narrow (fan-out ≤ 2·window per
    * token); the matrix is one shuffle on the (center, context) key and
    * is CO-OCCURRENCE-sized, not corpus-sized; marginals are vocab-sized
    * broadcasts; the cosine self-join shuffles the PPMI table on
    * context — bounded by matrix mass — and the final ranking is
    * orderBy+limit (TakeOrderedAndProject: per-partition heaps, no
    * global sort). Ranking is by ROUNDED similarity with a lexical
    * (w1, w2) tie-break, the cross-engine determinism device.
    *
    * Hot-context cap (`maxContextDf`, ON by default): the self-join's
    * output mass is Σ_c m_c² for m_c = words whose PPMI with context c
    * is positive — one stopword-ish context shared by 10^5 words alone
    * yields 10^10 pairs, the quadratic blow-up of this operator at
    * web-corpus scale. Context dimensions with more than `maxContextDf`
    * positive partners are dropped from the VECTORS (norms included)
    * before the join — standard PPMI practice (stopword contexts carry
    * ~no distributional signal and drown the cosine) that also bounds
    * the join output by vocab·cap. `Int.MaxValue` opts out. Output:
    * (w1, w2, n_ctx, cosine). */
  def ppmiTopPairs(docs: DataFrame, text: String,
      window: Int = 2, topK: Int = 20,
      maxContextDf: Int = 1000): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    require(topK >= 1, s"topK must be >= 1, got $topK")
    require(maxContextDf >= 1, s"maxContextDf must be >= 1, got $maxContextDf")
    val pairs = docs.select(split(col(text), " ").as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(explode(expr(
        s"""flatten(flatten(transform(sequence(0, size(toks) - 2), i ->
           transform(sequence(1, least($window, size(toks) - 1 - i)), k ->
             array(struct(toks[i] AS a, toks[i + k] AS c),
                   struct(toks[i + k] AS a, toks[i] AS c))))))""")).as("p"))
      .select(col("p.a").as("a"), col("p.c").as("c"))
    // the co-occurrence matrix feeds THREE independent consumers (the
    // PPMI join, the marginals, the total) whose differing column
    // pruning makes their exchange subtrees non-identical — exchange
    // reuse never fires, and their stages launch CONCURRENTLY, so a
    // lazy boundary would still run the corpus-wide pair expansion
    // once per consumer (profiled: 3 simultaneous copies of the scan).
    // EAGER checkpoint = exactly one pair-generation pass.
    val ccnt = pairs.groupBy("a", "c").agg(count(lit(1)).as("nac"))
      .localCheckpoint(true)
    val marg = ccnt.groupBy("a").agg(sum("nac").as("na"))
    val tot = broadcast(ccnt.agg(sum("nac").as("ntot")))
    // PPMI table: only positive entries survive (the sparse vectors).
    // EAGERLY checkpointed, same rationale as ccnt: the cosine
    // self-join references it on both sides, the norm pass and the
    // hot-context aggregate two more times, and those stages launch
    // concurrently — one materialization of the vocab²-bounded matrix
    // instead of four concurrent replays. At deployment scale this
    // frame is the persisted index table.
    val ppmi = ccnt
      .join(broadcast(marg), Seq("a"))
      .join(broadcast(marg.select(col("a").as("c"), col("na").as("nc"))), Seq("c"))
      .crossJoin(tot)
      .select(col("a"), col("c"), col("nac"),
        log2((col("nac").cast("double") * col("ntot")) /
          (col("na").cast("double") * col("nc"))).as("v"))
      .filter(col("v") > 0)
      .localCheckpoint(true)
    Dedup.freeLocalCheckpoint(ccnt) // ppmi is materialized; ccnt's blocks are done
    // hot-context cap: per-context partner counts are a cheap aggregate
    // over the checkpointed matrix (fixed-width keys); the filter runs
    // BEFORE norms so dropped dimensions leave the vectors entirely
    val ppmiC =
      if (maxContextDf == Int.MaxValue) ppmi
      else ppmi.join(
        ppmi.groupBy("c").agg(count(lit(1)).as("__m"))
          .filter(col("__m") <= maxContextDf).select("c"),
        Seq("c"))
    val norms = ppmiC.groupBy("a").agg(sqrt(sum(col("v") * col("v"))).as("nrm"))
    ppmiC.select(col("a").as("w1"), col("c"), col("v").as("v1"))
      .join(ppmiC.select(col("a").as("w2"), col("c"), col("v").as("v2")), Seq("c"))
      .filter(col("w1") < col("w2"))
      .groupBy("w1", "w2")
      .agg(count(lit(1)).as("n_ctx"), sum(col("v1") * col("v2")).as("dot"))
      .join(broadcast(norms.select(col("a").as("w1"), col("nrm").as("nrm1"))), Seq("w1"))
      .join(broadcast(norms.select(col("a").as("w2"), col("nrm").as("nrm2"))), Seq("w2"))
      .select(col("w1"), col("w2"), col("n_ctx"),
        round(col("dot") / (col("nrm1") * col("nrm2")), 4).as("cosine"))
      .orderBy(col("cosine").desc, col("w1"), col("w2"))
      .limit(topK)
  }

  /** Cross-source n-gram overlap matrix: exact Jaccard similarity of
    * the distinct word-`n`-gram sets of every source pair — the corpus
    * forensics view that flags two "different" crawls sharing a common
    * ancestor (mirrors, re-crawls, licensed re-releases) before dedup
    * even runs. Upper triangle only (`source_a < source_b`).
    *
    * Scale shape: grams are distinct-ed per source FIRST (the big
    * shuffle, on the gram key), per-source set sizes are a tiny
    * aggregate, and the pair intersection self-joins the deduped gram
    * table on gram — a join bounded by grams appearing in ≥2 sources,
    * not by corpus mass. Sources-squared output is dashboard-sized.
    * Jaccard = inter / (|A| + |B| - inter), rounded to 4 dp; pairs with
    * an empty intersection are still emitted (jaccard 0) so the matrix
    * is complete. */
  /** [[sourceOverlap]]'s sketch path — the shape that survives MANY
    * sources at corpus scale: per-source Datasketches-HLL sketches of
    * the gram stream (no distinct shuffle — the sketch dedups; built
    * map-side-mergeable in one narrow pass), then every pair's Jaccard
    * estimated from |A|, |B| and the |A∪B| of the merged sketches via
    * inclusion-exclusion. The gram SELF-JOIN of the exact operator —
    * whose output is the intersection mass itself — disappears
    * entirely; pairwise work is sources² sketch merges (KB each).
    * `lgK = 14` ⇒ ~0.8% rsd per cardinality; the oracle (q164) pins an
    * absolute Jaccard-error bound, the q46 cross-engine contract for
    * sketches. Output: (source_a, source_b, est_a, est_b, est_union,
    * jaccard_est). */
  def sourceOverlapSketch(docs: DataFrame, source: String, text: String,
      n: Int = 3, lgK: Int = 14): DataFrame = {
    require(n >= 1, s"n-gram order must be >= 1, got $n")
    val grams = sourceGrams(docs, source, text, n)
    val sk = grams.groupBy("src").agg(hll_sketch_agg(col("g"), lgK).as("sk"))
    val a = sk.select(col("src").as("source_a"), col("sk").as("ska"))
    val b = sk.select(col("src").as("source_b"), col("sk").as("skb"))
    a.crossJoin(b).filter(col("source_a") < col("source_b"))
      .select(col("source_a"), col("source_b"),
        hll_sketch_estimate(col("ska")).as("est_a"),
        hll_sketch_estimate(col("skb")).as("est_b"),
        hll_sketch_estimate(hll_union(col("ska"), col("skb"))).as("est_union"))
      // HLL error can push est_union past est_a + est_b for disjoint
      // sources, estimating a (slightly) NEGATIVE intersection — clamp
      // at 0: the exact operator can never emit jaccard < 0, and the
      // estimate's error bound is one-sided-safe after the clamp
      // ...and the mirror-image error (two near-identical sources whose
      // per-source estimates overshoot while the union undershoots) can
      // push the estimate PAST 1 — clamp both sides to the exact
      // operator's [0, 1] range
      .withColumn("jaccard_est",
        least(lit(1.0), greatest(lit(0.0), round(
          (col("est_a") + col("est_b") - col("est_union")).cast("double") /
            col("est_union"), 4))))
      .orderBy("source_a", "source_b")
  }

  def sourceOverlap(docs: DataFrame, source: String, text: String,
      n: Int = 3): DataFrame = {
    require(n >= 1, s"n-gram order must be >= 1, got $n")
    val grams = sourceGrams(docs, source, text, n).distinct()
    val sizes = grams.groupBy("src").agg(count(lit(1)).as("sz"))
    val inter = grams.select(col("src").as("source_a"), col("g"))
      .join(grams.select(col("src").as("source_b"), col("g")), Seq("g"))
      .filter(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b").agg(count(lit(1)).as("inter"))
    val pairs = sizes.select(col("src").as("source_a"), col("sz").as("sza"))
      .crossJoin(sizes.select(col("src").as("source_b"), col("sz").as("szb")))
      .filter(col("source_a") < col("source_b"))
    pairs.join(inter, Seq("source_a", "source_b"), "left")
      .select(col("source_a"), col("source_b"),
        coalesce(col("inter"), lit(0L)).as("inter"),
        (col("sza") + col("szb") - coalesce(col("inter"), lit(0L))).as("uni"),
        round(coalesce(col("inter"), lit(0L)) /
          (col("sza") + col("szb") - coalesce(col("inter"), lit(0L))).cast("double"), 4)
          .as("jaccard"))
      .orderBy("source_a", "source_b")
  }

  /** Classifier-based quality filtering — the fastText-style move the
    * public pretraining stacks use (GPT-3/LLaMA/RefinedWeb train a
    * small classifier on known-good text and keep documents it scores
    * high): logistic regression fit by full-batch gradient descent on
    * cheap per-doc features, then the whole corpus scored with the
    * fitted weights.
    *
    * Features are deterministic functions of the row — intercept,
    * `ln(1+chars)`, `ln(1+tokens)` — and the label is a caller-chosen
    * boolean column (here typically "is the document in the target
    * language", the proxy a real stack would bootstrap from). Training
    * is `rounds` full-batch steps `w += lr · avg((y − σ(w·x)) · x)`
    * from w = 0: one narrow aggregation job per round over the feature
    * frame, with the model state (3 doubles) on the driver — the
    * k-means/BPE iteration idiom, so a 100 TB fit is `rounds` map-side-
    * combined scans, and scoring is one more map-only pass (weights
    * fold in as literals; no join, no shuffle). `keep` derives from the
    * ROUNDED score so the filter decision is reproducible cross-engine.
    *
    * Returns (id, score, keep) per document, plus the fitted weights
    * via the companion [[logregQualityWeights]] for inspection. */
  def logregQualityScores(docs: DataFrame, id: String, label: Column,
      charsCol: String, text: String, rounds: Int = 3, lr: Double = 1.0,
      threshold: Double = 0.5, roundAt: Int = 4): DataFrame = {
    val f = featureFrame(docs, id, label, charsCol, text)
    val w = fitLogreg(f, rounds, lr)
    val z = lit(w(0)) + lit(w(1)) * col("f1") + lit(w(2)) * col("f2")
    val sigma = lit(1.0) / (lit(1.0) + exp(-z))
    f.select(col(id), round(sigma, roundAt).as("score"))
      .withColumn("keep", col("score") >= threshold)
  }

  /** The fitted weight vector (w0 intercept, w1 ln-chars, w2 ln-tokens)
    * as a 1-row frame — the model artifact a pipeline would persist. */
  def logregQualityWeights(docs: DataFrame, id: String, label: Column,
      charsCol: String, text: String, rounds: Int = 3, lr: Double = 1.0,
      roundAt: Int = 4): DataFrame = {
    val f = featureFrame(docs, id, label, charsCol, text)
    val w = fitLogreg(f, rounds, lr)
    f.sparkSession.range(1).select(
      round(lit(w(0)), roundAt).as("w0"),
      round(lit(w(1)), roundAt).as("w1"),
      round(lit(w(2)), roundAt).as("w2"))
  }

  private def featureFrame(docs: DataFrame, id: String, label: Column,
      charsCol: String, text: String): DataFrame =
    docs.select(col(id),
      when(label, 1.0).otherwise(0.0).as("y"),
      log(lit(1.0) + col(charsCol).cast("double")).as("f1"),
      log(lit(1.0) + size(split(col(text), " ")).cast("double")).as("f2"))

  private def fitLogreg(f: DataFrame, rounds: Int, lr: Double): Array[Double] = {
    require(rounds >= 0)
    val w = Array(0.0, 0.0, 0.0)
    for (_ <- 1 to rounds) {
      val z = lit(w(0)) + lit(w(1)) * col("f1") + lit(w(2)) * col("f2")
      val resid = col("y") - lit(1.0) / (lit(1.0) + exp(-z))
      val g = f.agg(
        avg(resid).as("g0"),
        avg(resid * col("f1")).as("g1"),
        avg(resid * col("f2")).as("g2")).head()
      // avg over ZERO rows (empty / all-null-feature input) is NULL:
      // the gradient is undefined, so keep the current weights instead
      // of NPE-ing at getDouble — scoring with them yields an empty
      // frame anyway, the other fitters' empty-input convention
      if (g.isNullAt(0)) return w
      w(0) += lr * g.getDouble(0)
      w(1) += lr * g.getDouble(1)
      w(2) += lr * g.getDouble(2)
    }
    w
  }
}
