package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.Registry

/** Physical-plan regression tests: the properties that make these
  * operators viable at 100 TB are asserted, not assumed. If a refactor
  * reintroduces a shuffle, drops a broadcast hint, or breaks filter
  * pushdown, this suite fails before any benchmark notices.
  */
class PlanAuditSpec extends AnyFunSuite with SparkSpec {

  private val d = sf("sf0.001")
  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString
  private def run(name: String): DataFrame = Registry.queries(name)(spark, d)

  test("q02: filters and column pruning reach the parquet scan") {
    val p = plan(run("q02_filter_project"))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"), p)
    // projection+filter columns only — not the 16-column lineitem schema
    assert(p.contains("ReadSchema: struct<l_orderkey"), p)
    assert(!p.contains("l_comment"), p)
    assert(!p.contains("l_returnflag"), p)
  }

  test("q04: dimension join is a broadcast hash join, fact side never shuffles") {
    val p = plan(run("q04_join_broadcast"))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q08: star schema = bounded dims broadcast, growing joins shuffle") {
    // disable auto-broadcast: at sf0.001 everything fits under the
    // threshold, which would mask whether the EXPLICIT dim hints hold
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      val p = plan(run("q08_star_revenue"))
      // two shuffle joins: orders⋈lineitem (fact-fact) and the customer
      // dim (grows with SF — deliberately NOT hinted; AQE broadcasts it
      // when small). Only the bounded nation/region dims carry hints.
      assert("SortMergeJoin|ShuffledHashJoin".r.findAllIn(p).size == 2, p)
      assert("BroadcastHashJoin".r.findAllIn(p).size == 2, p)
    } finally spark.conf.set(key, prev)
  }

  test("q01: aggregation is partial (map-side combine) before the exchange") {
    val p = plan(run("q01_pricing_summary"))
    val aggs = "HashAggregate".r.findAllIn(p).size
    assert(aggs >= 2, s"expected partial+final HashAggregate:\n$p")
  }

  test("q34: top-k is TakeOrdered (k-row reduce), not a global sort") {
    val p = plan(run("q34_ann_bruteforce"))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("BroadcastNestedLoopJoin"), p) // 1-row query side broadcast
  }

  test("q171: PQ ADC candidate scan is map-only — no hash-partition shuffle") {
    val p = plan(run("q171_pq_adc"))
    // codes + LUT sums are inlined expressions over the scan; candidate
    // selection and the final top-k are k-row reduces, and the only
    // exchange is the broadcast of the refine-bounded candidate frame
    // into the exact-re-rank join (the query vector rides as literals)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange hashpartitioning"), p)
  }

  test("minhash signatures are computed without any shuffle") {
    val docs = Tables.documents(spark, d)
    val p = plan(graft.operators.Dedup.minHashSignatures(docs, "doc_id", "text"))
    assert(!p.contains("Exchange"), p)
  }

  test("simhash signatures are computed without any shuffle (scalar path)") {
    val docs = Tables.documents(spark, d)
    val p = plan(graft.operators.Dedup.simHashSignatures(docs, "doc_id", "text"))
    assert(!p.contains("Exchange"), p)
  }

  test("simhash aggregator path is partial: fixed-width states cross the wire") {
    import org.apache.spark.sql.functions._
    // row-shaped input (tokens as rows) — the shape streams/EAV produce
    val toks = Tables.documents(spark, d)
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("tok"))
      .select(col("doc_id"), md5(col("tok")).as("h"))
      .distinct() // the aggregator's contract: one row per distinct token
      .groupBy("doc_id")
      .agg(graft.functions.TextHashAggregators.simhash(col("h")).as("simhash"))
    val p = plan(toks)
    // ObjectHashAggregate partial + final; the distinct adds its own
    // exchange ahead of the group-by's
    assert("ObjectHashAggregate".r.findAllIn(p).size == 2, p)
    assert("Exchange".r.findAllIn(p).size == 2, p)
    // and the two shapes now agree: scalar kernel ≡ distinct-fed aggregator
    val viaScalar = graft.operators.Dedup
      .simHashSignatures(Tables.documents(spark, d), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val viaAgg = toks.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(viaScalar == viaAgg)
  }

  test("q40: IVF probe side is broadcast — the corpus scan never moves for the query") {
    val p = plan(run("q40_ann_ivf"))
    assert("BroadcastNestedLoopJoin|BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
  }

  test("q49: as-of join is window-over-union — no join operator, one exchange per side") {
    val p = plan(run("q49_asof_join"))
    // the whole point of the union-tag shape: no join at all, so no
    // per-key cross product to explode on hot keys
    assert(!p.contains("Join"), p)
    assert(p.contains("Window"), p)
    // both sides shuffle by key into the window, nothing else moves
    // (plus the final presentation sort's range exchange)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
  }

  test("q50: interval join is a single equi shuffle join on (key, bucket)") {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1") // at real scale neither side broadcasts
      val p = plan(run("q50_interval_join"))
      // bucketized: equi-join on (user_id, __bucket) — never a
      // nested-loop/range join, which degenerates per key
      assert("SortMergeJoin|ShuffledHashJoin".r.findAllIn(p).nonEmpty, p)
      assert(!p.contains("BroadcastNestedLoopJoin"), p)
      assert(!p.contains("CartesianProduct"), p)
    } finally spark.conf.set(key, prev)
  }

  test("q53: the corpus-size scalar is broadcast, not shuffled against tf") {
    val p = plan(run("q53_tfidf_top_terms"))
    assert(p.contains("BroadcastNestedLoopJoin"), p) // 1-row N cross join
  }

  test("q69: six-way join keeps bounded dims broadcast; only fact joins shuffle") {
    val p = plan(run("q69_tpch_q5"))
    // nation/region/supplier fit under the broadcast threshold; the
    // customer⋈orders⋈lineitem chain carries the data volume
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("CartesianProduct"), p)
    // both date bounds reach the orders scan
    assert(p.contains("PushedFilters: [IsNotNull(o_orderdate)"), p)
  }

  test("q74: salted aggregation is exactly two partial+final stages") {
    val p = plan(run("q74_salted_agg"))
    // stage 1 shuffles (flag, salt) — 32-way spread of the hot key;
    // stage 2 re-shuffles only the 96 partial rows by flag
    assert("HashAggregate".r.findAllIn(p).size == 4, p)
    assert(p.contains("hashpartitioning(l_returnflag") &&
      p.contains("__salt"), p)
  }

  test("q71: hash sampling prunes the scan to the 4 referenced columns") {
    val p = plan(run("q71_hash_sample"))
    assert(!p.contains("l_extendedprice"), p)
    assert(!p.contains("l_shipdate"), p)
  }

  test("q104: the scan-only TPC-H Q6 pushes every predicate and prunes to 4 columns") {
    val p = plan(run("q104_tpch_q6"))
    // the plan string truncates the PushedFilters list, so assert the
    // visible prefix covers all three predicate columns
    assert(p.contains(
      "PushedFilters: [IsNotNull(l_shipdate), IsNotNull(l_discount), IsNotNull(l_quantity), GreaterThanOrEqual"), p)
    assert(!p.contains("l_orderkey"), p) // pruned: only the 4 referenced columns scan
    // one partial+final agg pair around a single exchange, no join
    assert(!p.contains("Join"), p)
    assert("Exchange".r.findAllIn(p).size == 1, p)
  }

  test("q102: per-file stats aggregate partially map-side (no row-level shuffle)") {
    val p = plan(run("q102_file_stats"))
    // partial_min/max markers prove the map-side combine: only per-file
    // partials cross the exchange, not rows
    assert(p.contains("partial_min"), p)
    assert(p.contains("partial_count"), p)
  }

  test("q113: transition bigrams shuffle once for the window, then aggregate") {
    val p = plan(run("q113_event_transitions"))
    assert(p.contains("hashpartitioning(user_id"), p)
    // lag window over user partitions, then the 25-key aggregate: the
    // window exchange is the only per-row shuffle
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).size == 1, p)
  }

  test("q119: incremental refresh is one full-outer join of two aggregates") {
    val p = plan(run("q119_incremental_refresh"))
    assert(p.contains("FullOuter"), p)
    assert(p.contains("partial_count"), p) // both inputs partial-aggregate map-side
  }

  test("q85: RANGE window shuffles by user only — no pre-window global sort") {
    val p = plan(run("q85_range_window"))
    assert(p.contains("hashpartitioning(user_id"), p)
    // one partition exchange for the window + the final presentation
    // sort's range exchange, nothing else
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
    assert(p.contains("specifiedwindowframe(RangeFrame"), p)
  }

  test("q78: the benchmark gram set broadcasts against the corpus grams") {
    val df = run("q78_decontaminate")
    df.collect() // execute df's OWN QueryExecution so AQE finalizes it
    val p = plan(df)
    // the distinct'd benchmark set is tiny relative to the corpus: the
    // containment join must resolve to a broadcast, never a cartesian
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q153: the bloom probe prunes the gram stream BEFORE any exchange") {
    val df = run("q153_decontaminate_bloom")
    df.collect() // execute df's OWN QueryExecution so AQE finalizes it
    val p = plan(df)
    // the codegen'd sketch probe must sit in the corpus-side filter —
    // that is the whole point of the scale path: grams are dropped
    // map-side, not after a shuffle
    assert(p.contains("bloom_might_contain"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q154: the shard manifest shuffles once on shard — map-side partial agg, no global sort before the aggregate") {
    // pre-execution plan: AQE's post-run string repeats the plan in its
    // Final/Initial sections, which would double every exchange count
    val p = plan(run("q154_shard_manifest"))
    // one hash exchange keyed on the shard id; the only range exchange
    // is the presentation ORDER BY over 16 manifest rows
    assert("Exchange hashpartitioning\\(shard".r.findAllIn(p).size == 1, p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
    assert(p.contains("partial_count"), p)
  }

  test("q143: the CMS sketch broadcasts against the probe keys — the token stream shuffles only into the two aggregates") {
    val df = run("q143_cms_heavy_hitters")
    df.collect() // execute df's OWN QueryExecution so AQE finalizes it
    val p = plan(df)
    // the sketch is one aggregated row: its join with the top-k probe
    // table must be a broadcast, and nothing may cartesian the corpus
    assert("BroadcastHashJoin|BroadcastNestedLoopJoin".r.findFirstIn(p).isDefined, p)
    assert(!p.contains("CartesianProduct"), p)
    // both sketch build and exact counts aggregate partially map-side
    assert("partial_count_min_sketch|partial_count".r.findFirstIn(p).isDefined, p)
  }

  test("q145: metadata joins stay pair-bounded — the source lookup broadcasts") {
    val df = run("q145_neardup_by_source")
    df.collect() // execute df's OWN QueryExecution so AQE finalizes it
    val p = plan(df)
    // the verified pair graph is collision-sized; joining doc metadata
    // onto it must never shuffle the corpus against pairs
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q124: correlated EXISTS decorrelates to a semi join — no per-row subquery") {
    val p = plan(run("q124_tpch_q4"))
    assert(p.contains("LeftSemi"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the orders date window reaches the scan
    assert(p.contains("PushedFilters: [IsNotNull(o_orderdate)"), p)
  }

  test("q131: EXISTS + NOT EXISTS both decorrelate to semi/anti joins") {
    val p = plan(run("q131_tpch_q21"))
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the status filter reaches the orders scan
    assert(p.contains("EqualTo(o_orderstatus,F)"), p)
  }

  test("q125: dual-role nation dim broadcasts on both sides") {
    val p = plan(run("q125_tpch_q7"))
    // nation appears twice (supplier role + customer role): both
    // occurrences must broadcast — the fact chain never moves for a dim
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q127: both correlated scalar aggregates decorrelate into one lineitem re-agg") {
    val p = plan(run("q127_tpch_q17"))
    // count(*) and sum(qty) per partkey merge into a single aggregate
    // subtree joined back on l_partkey (not two separate passes, and
    // never a per-row loop)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_count"), p)
    assert(p.contains("partial_sum"), p)
  }

  test("q133: pagerank's rank iterations are driver model state — the returned frame is local") {
    val p = plan(run("q133_pagerank"))
    // the distributed work (edge-derivation window + aggregate) ran and
    // collected inside the query builder; the rank loop itself is |V|²
    // model state, so re-collecting the result must never replay the
    // fact-table scan
    assert(p.contains("LocalTableScan") || p.contains("Scan ExistingRDD"), p)
    assert(!p.contains("FileScan"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q151: substring spans use bucket expansion, not a self-join — text never shuffles") {
    val spans = graft.operators.Dedup.exactSubstringSpans(
      Tables.documents(spark, d), "doc_id", "text")
    val p = plan(spans)
    // candidate stage is a gram-hash groupBy with in-bucket expansion:
    // no join operator of any kind, no quadratic fallback
    assert(!p.contains("Join"), p)
    assert(!p.contains("CartesianProduct"), p)
    // exchanges: doc spread, gram-hash buckets, (pair, diagonal) window
    // — the island aggregate reuses the window's partitioning
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 3, p)
  }

  test("q36: the default-on hot-bucket guard adds NO join and NO extra exchange to the candidate stage") {
    // the guard IS the one bucket aggregation: a cap+1 bounded collect
    // whose overflow is detected by length — no count aggregate, no
    // prepass, no join (a count-prepass + join formulation measured
    // 1.3-1.5x on the whole operator; even an in-aggregation count cost
    // ~10-30% on the family at sf0.1). This pins the single-pass shape
    // so it cannot quietly regress. The operator checkpoints its
    // result, so audit the candidate STAGE directly.
    import org.apache.spark.sql.functions.col
    val idx = graft.operators.Dedup.indexDocs(
      Tables.documents(spark, d), "doc_id", "text")
    val buckets = graft.operators.Dedup.guardedBuckets(
      graft.operators.Dedup.bandedSignatures(
        idx.select(col("doc_id"), col("mh")), "doc_id", k = 16, bands = 4),
      col("doc_id"), graft.operators.Dedup.DefaultMaxBucketSize)
    val p = plan(buckets)
    assert(p.contains("bounded_collect_list"), p)
    assert(p.contains("ObjectHashAggregate"), p)
    assert(!p.contains("Join"), p)
    // no count aggregate rides the guard — overflow is length-detected
    assert(!p.contains("partial_count") && !p.contains("count(1)"), p)
    // exactly ONE exchange: the (band, sig) bucket shuffle
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
  }

  test("q156: bigram-LM model joins are hash-based, count aggregates partial map-side") {
    val df = run("q156_bigram_surprisal")
    df.collect() // execute df's OWN QueryExecution so AQE finalizes it
    val p = plan(df)
    // the vocab-size and context-mass frames ride as broadcasts; the
    // bigram-count lookup joins on its key — never a cartesian over the
    // token stream
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_count"), p)
  }

  test("q158: the vocabulary is a distributed top-k, not a global sort") {
    val p = plan(run("q158_vocab_oov"))
    assert(p.contains("TakeOrderedAndProject"), p)
    // the only full sort allowed is the presentation ORDER BY on doc_id
    assert(!p.contains("Window"), p)
  }

  test("q160: the gram self-join is hash-keyed; only the sources-sized pair frame may cross") {
    val df = run("q160_source_overlap")
    df.collect() // execute df's OWN QueryExecution so AQE finalizes it
    val p = plan(df)
    // per-source distinct grams aggregate partially before any exchange,
    // and the intersection join is keyed on the gram — the corpus-scale
    // frames never meet a nested-loop join (the sizes×sizes cross is
    // sources², dashboard-sized by construction)
    assert("SortMergeJoin|BroadcastHashJoin".r.findFirstIn(p).isDefined, p)
    assert(p.contains("partial_count"), p)
  }

  test("q161: ROLLUP subtotals expand before ONE aggregate — a single corpus scan") {
    val p = plan(run("q161_corpus_profile"))
    assert(p.contains("Expand"), p)
    assert("FileScan parquet".r.findAllIn(p).size == 1, p)
  }

  test("q164: the sketch path has NO gram self-join — only the sources-sized sketch cross") {
    val df = run("q164_source_overlap_sketch")
    df.collect() // execute df's OWN QueryExecution so AQE finalizes it
    val p = plan(df)
    assert(p.contains("hll_sketch_agg"), p)
    // the exact half of the audit query still joins on gram; the sketch
    // half must not add a second corpus-scale join — so the whole plan
    // carries at most the exact join plus sources-sized joins
    assert(p.contains("hll_union"), p)
  }

  test("q165: the returned merge table is driver-held model state — no live corpus lineage") {
    val df = run("q165_bpe_merges")
    val p = plan(df)
    // each round's count ran inside the loop and collected exactly one
    // row; the result is a local relation of `rounds` rows, so
    // re-collecting it must never replay a corpus pass
    assert(p.contains("LocalTableScan") || p.contains("Scan ExistingRDD"), p)
    assert(!p.contains("FileScan"), p)
  }

  test("q173: corpus-sized stage is the partial-aggregated token count; the window sorts only the vocab frame") {
    val p = plan(run("q173_vocab_coverage"))
    // map-side combine on the token stream before any exchange
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    // the single-partition window exists but its input is the AGGREGATED
    // vocab frame (post-groupBy), never the raw token stream: the
    // SinglePartition exchange must sit above the final token-count
    // aggregate in the plan tree (i.e. appear before it in the printout)
    assert(p.contains("Exchange SinglePartition"), p)
    assert(p.indexOf("Exchange SinglePartition") < p.indexOf("Exchange hashpartitioning(tok"), p)
  }

  test("q174: source caps use a per-source window — no single-partition stage") {
    val p = plan(run("q174_source_caps"))
    assert(p.contains("Window"), p)
    assert(!p.contains("Exchange SinglePartition"), p)
  }

  test("q175: chunking is narrow — the only exchange is the presentation sort") {
    val p = plan(run("q175_rag_chunks"))
    assert(p.contains("Generate explode"), p)
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges <= 1, s"expected at most the final sort exchange, got $exchanges:\n$p")
  }

  test("q176: boilerplate grams shuffle on fixed-width hashes, never raw n-gram strings") {
    val p = plan(run("q176_boilerplate_grams"))
    // the md5 is computed inside the explode's lambda — every exchange
    // ABOVE it in the top-down printout keys on (source, 32-hex hash),
    // never the raw n-gram string. The only exchange allowed BELOW it
    // is the corpus kernel spread (REPARTITION_BY_NUM on doc_id), which
    // moves whole documents before any gram exists.
    val below = p.substring(p.indexOf("md5"))
    assert(!below.contains("ENSURE_REQUIREMENTS"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("q181: KN model side-frames broadcast; the bigram lookup is hash-keyed; terciles are an aggregate, not a sort") {
    // the public operator checkpoints the scored frame (it feeds both
    // the percentile bounds and the final select), so the compute
    // properties are pinned on the pre-checkpoint scoring stage
    val scored = graft.operators.QualityModels.knBigramScores(
      graft.Tables.documents(spark, d), "doc_id", "text", discount = 0.75)
    scored.collect() // finalize AQE
    val ps = plan(scored)
    // ctx/cont/types ride as broadcasts; the (p,w) lookup joins on its
    // key — never a cartesian over the bigram stream
    assert(ps.contains("BroadcastHashJoin"), ps)
    assert(!ps.contains("CartesianProduct"), ps)
    assert(ps.contains("partial_count"), ps)
    // the public plan: checkpoint scan + broadcast bounds — the
    // head/middle/tail split is percentile aggregate + broadcast, not
    // an ntile window (which would single-partition the corpus)
    val df = run("q181_kn_bigram_lm")
    df.collect()
    val p = plan(df)
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q182: PPMI marginals broadcast, the cosine self-join is hash-keyed on context, top-k is TakeOrdered") {
    val df = run("q182_ppmi_word_sim")
    df.collect() // finalize AQE
    val p = plan(df)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q183: shard assignment is narrow (one broadcast max) and gram shuffles carry md5 hashes") {
    val df = run("q183_shard_novelty")
    df.collect() // finalize AQE
    val p = plan(df)
    // the max-id frame is a 1-row broadcast nested loop; everything else
    // is hash aggregates/joins on (shard, md5) keys
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Window"), p)
  }

  test("q184: the query batch broadcasts; ranking windows partition per query, never globally") {
    val df = run("q184_hard_negatives")
    df.collect()
    val p = plan(df)
    // different-label join = broadcast nested loop against the tiny
    // query batch; the rank window is PARTITIONED by q_id (the
    // partition column leads the windowspecdefinition — an
    // unpartitioned global window would not print it)
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert("windowspecdefinition\\(q_id#".r.findFirstIn(p).isDefined, p)
    // rank-limit pushdown: per-partition WindowGroupLimit trims to k
    // rows before the exchange — the shape that holds at corpus scale
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("q185/q190: struct-max argmax — no window, no sort over the candidate stream") {
    for (name <- Seq("q185_dim_truncation", "q190_knn_label_eval")) {
      val df = run(name)
      df.collect()
      val p = plan(df)
      assert(!p.contains("Window"), s"$name:\n$p")
      assert(p.contains("BroadcastNestedLoopJoin"), s"$name:\n$p")
      // struct-typed max plans as Sort/ObjectHashAggregate, still a
      // partial+final aggregate pair — not a global sort of candidates
      assert("(HashAggregate|ObjectHashAggregate|SortAggregate)".r
        .findAllIn(p).size >= 2, s"$name:\n$p")
    }
  }

  test("q189: the water-fill window runs over the sources-sized frame, after the token aggregate") {
    val df = run("q189_token_budget_fill")
    df.collect()
    val p = plan(df)
    // the corpus-scale work is the partial-aggregated token count; the
    // single-partition window sees only per-source rows
    assert(p.contains("partial_sum") || p.contains("partial_count"), p)
    assert(p.contains("Window"), p)
  }

  test("q191/q192: no cartesian products; the keeper window stays md5-partitioned") {
    // the keeper window itself runs inside the checkpoint job (its
    // lineage is truncated out of the returned plan), so the window
    // shape is pinned at its source: dropExactDuplicates' plan
    val dd = graft.operators.Dedup.dropExactDuplicates(
      Tables.documents(spark, d), "doc_id", "text")
    val pd = dd.queryExecution.executedPlan.toString
    // the digest is projected as _w0 and the window partitions (and
    // exchanges) on it — a global window would carry no partitioning
    assert(pd.contains("hashpartitioning(_w0"), pd)
    assert(pd.contains("md5(cast(text"), pd)
    for (name <- Seq("q191_curation_ledger", "q192_incremental_curate")) {
      val df = run(name)
      df.collect()
      val p = plan(df)
      assert(!p.contains("CartesianProduct"), s"$name:\n$p")
    }
  }

  test("q201: BM25 candidates come from broadcast query terms + TakeOrdered top-k") {
    val df = run("q201_bm25_topk")
    df.collect()
    val p = plan(df)
    // the query-doc's distinct terms and the 1-row avgdl/N stats ride
    // broadcasts; the ranking is a k-row reduce, never a global sort
    assert("BroadcastHashJoin|BroadcastNestedLoopJoin".r.findAllIn(p).size >= 2, p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q200: logreg scoring pass is map-only over the feature scan (no join, no shuffle past the agg)") {
    val df = run("q200_logreg_quality")
    val p = plan(df)
    // weights fold in as literals: scoring must not join a model frame
    assert(!p.contains("Join"), p)
  }

  test("q202: packSequences windows per range-partition, never one global partition") {
    val df = run("q202_pack_sequences")
    df.collect()
    val p = plan(df)
    // the running sum must partition by __pid (the distributed prefix
    // sum) — a regression to a global orderBy-only window serializes
    // the corpus through one task
    assert(p.contains("Window"), p)
    assert("windowspecdefinition\\(__pid#\\d+, doc_id".r.findFirstIn(p).isDefined, p)
  }

  test("q203: materializeMix is broadcast + narrow explode — no shuffle at all") {
    val df = run("q203_materialize_mix")
    val p = plan(df)
    // epoch table broadcasts; the expansion adds rows, not exchanges —
    // the only sort is the query's own output ORDER BY
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).isEmpty, p)
  }

  test("ivfAssign is a pure scan: no join, no window, no exchange") {
    val e = Tables.embeddings(spark, d)
    val anchors = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("anchor_id"), col("embedding").as("av"))
    // the anchor model is inlined as literals (kmeans assignFull
    // device) — a regression back to crossJoin+window would re-shuffle
    // corpus × anchors rows on every index build
    val p = plan(graft.operators.Similarity.ivfAssign(e, anchors, "vec_id"))
    assert(!p.contains("Window") && !p.contains("Join") && !p.contains("Exchange"), p)
    val pp = plan(graft.operators.Similarity
      .ivfAssignProbes(e, anchors, "vec_id", nprobe = 2))
    assert(!pp.contains("Window") && !pp.contains("Join"), pp)
  }

  test("recallEval: corpus scan count is dial-independent (one assignment, one sims pass)") {
    val e = Tables.embeddings(spark, d)
    val anchors = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("anchor_id"), col("embedding").as("av"))
    def scans(df: DataFrame): Int =
      "Scan parquet|FileScan parquet|BatchScan".r.findAllIn(plan(df)).size
    // the naive per-dial composition re-scanned the corpus 2× per dial;
    // the shared-scan eval must read the same number of times for 1
    // dial as for 12 — a regression here dies at a billion-vector index
    val one = scans(graft.operators.Similarity.recallEval(
      e, "vec_id", queryIds = Seq(0L), anchors, nprobes = Seq(1), k = 10))
    val twelve = scans(graft.operators.Similarity.recallEval(
      e, "vec_id", queryIds = Seq(0L, 1L, 2L, 3L), anchors,
      nprobes = Seq(1, 2, 4), k = 10))
    assert(twelve == one, s"scan count grew with dial count: $one -> $twelve")
    assert(twelve <= 5, s"expected <=5 embedding scans, got $twelve")
    val pqModel = graft.operators.Similarity.pqCodebooksSampled(anchors, m = 4)
    val pqOne = scans(graft.operators.Similarity.ivfPqRecallEval(
      e, "vec_id", queryIds = Seq(0L), anchors, pqModel,
      dials = Seq((1, 20)), k = 10))
    val pqSix = scans(graft.operators.Similarity.ivfPqRecallEval(
      e, "vec_id", queryIds = Seq(0L, 5L), anchors, pqModel,
      dials = Seq((1, 20), (2, 40), (4, 40)), k = 10))
    assert(pqSix == pqOne,
      s"PQ scan count grew with dial or query count: $pqOne -> $pqSix")
  }

  test("recallEval: top-k's are bounded aggregates — no corpus-sized rank window remains") {
    val e = Tables.embeddings(spark, d)
    val anchors = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("anchor_id"), col("embedding").as("av"))
    // both the brute ground truth and the per-dial IVF retrieval must
    // run as size-k heap aggregates (map-side partials); a regression
    // back to row_number().over(partitionBy(q_id)) funnels the whole
    // corpus through ONE task's sort per query — invisible at test SF,
    // hours at a billion vectors. The single legitimate window left is
    // the probe ranking over the tiny anchor grid.
    val p = plan(graft.operators.Similarity.recallEval(
      e, "vec_id", queryIds = Seq(0L, 1L), anchors, nprobes = Seq(1, 2), k = 10))
    assert(p.contains("bounded_top_k_ids"), p)
    assert("Window ".r.findAllIn(p).size == 1, p)
    graft.operators.Similarity.ivfBuildIndex(
      e, anchors, "vec_id", "plan_audit_recall_idx")
    try {
      val pi = plan(graft.operators.Similarity.recallEvalStored(
        spark, "plan_audit_recall_idx", "vec_id", Seq(0L, 1L),
        nprobes = Seq(1, 2), k = 10))
      assert(pi.contains("bounded_top_k_ids"), pi)
      assert("Window ".r.findAllIn(pi).size == 1, pi)
    } finally {
      spark.sql("DROP TABLE IF EXISTS plan_audit_recall_idx")
      spark.sql("DROP TABLE IF EXISTS plan_audit_recall_idx__anchors")
    }
  }

  test("ivfSearchStoredBatch: one bucket-pruned scan serves any batch size, no rank window") {
    val e = Tables.embeddings(spark, d)
    val anchors = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("anchor_id"), col("embedding").as("av"))
    def scans(df: DataFrame): Int =
      "Scan parquet|FileScan parquet|BatchScan".r.findAllIn(plan(df)).size
    graft.operators.Similarity.ivfBuildIndex(
      e, anchors, "vec_id", "plan_audit_batch_idx", numBuckets = 8)
    try {
      def face(qids: Seq[Long]): DataFrame =
        graft.operators.Similarity.ivfSearchStoredBatch(spark,
          "plan_audit_batch_idx", "vec_id",
          e.filter(col("vec_id").isInCollection(qids))
            .select(col("vec_id").as("query_id"), col("embedding").as("qvec")),
          "query_id", "qvec", nprobe = 2, k = 10)
      val one = face(Seq(0L))
      val eight = face(Seq(0L, 1L, 2L, 3L, 4L, 5L, 6L, 7L))
      assert(scans(eight) == scans(one),
        s"index scan count grew with batch size: ${scans(one)} -> ${scans(eight)}")
      val p = plan(eight)
      // the per-query top-k is a bounded heap, never a rank window over
      // corpus rows; the union-of-cells filter prunes buckets
      assert(p.contains("bounded_top_k_pairs"), p)
      assert(!p.contains("Window"), p)
      assert(p.contains("SelectedBucketsCount"), p)
    } finally {
      spark.sql("DROP TABLE IF EXISTS plan_audit_batch_idx")
      spark.sql("DROP TABLE IF EXISTS plan_audit_batch_idx__anchors")
    }
  }

  test("q190: the whole eval is a bounded number of jobs, cosine pass parallel") {
    // the eval's cost at test SF is pure scheduling floor, so its job
    // count IS its wall clock: one repartition spread, one broadcast
    // build, the crossJoin+argmax pass, the confusion fold, the local
    // sort, and AQE's stage materializations. A regression that adds a
    // per-eval-row or per-label action shows up here as a job explosion
    // long before the bench notices.
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      run("q190_knn_label_eval").collect()
      org.apache.spark.sql.GraftBridge.waitForListenerBus(spark)
      assert(jobs.get <= 8, s"q190 ran ${jobs.get} jobs — job-count diet regressed")
    } finally spark.sparkContext.removeSparkListener(listener)
    // and the heavy pass must not collapse to one task (the sf parquet
    // is a single split; the query-level repartition spreads it)
    val p = plan(run("q190_knn_label_eval"))
    assert(p.contains("Exchange"), p)
  }

  test("events scan converts nanos without breaking codegen") {
    val p = plan(Tables.events(spark, d).filter(col("event_type") === "click")
      .select("event_id", "ts"))
    assert(p.contains("PushedFilters: [IsNotNull(event_type), EqualTo(event_type,click)]"), p)
    // "*(n)" prefixes mark operators fused into a WholeStageCodegen stage
    assert(p.contains("*(1)"), p)
  }
}
