package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Physical-layout operators: the two standard answers to "this join
  * shuffles too much at scale".
  *
  *  - Bucketing: pre-shuffle once at write time; every later equi-join or
  *    aggregation on the bucket key reads co-located buckets and skips
  *    its Exchange entirely. The right tool for stable join keys
  *    (customer_id, doc fingerprint) touched by many downstream queries.
  *  - Salting: when one key is pathologically hot (power-law user_ids,
  *    null-heavy keys), explode the dimension side over a small salt
  *    domain and scatter the fact side across it — the hot key's rows
  *    spread over `salts` tasks instead of one straggler.
  */
object Layout {

  /** Spark's bucketed write emits one file per (write task, bucket)
    * pair — an input with T partitions fans out to up to T×numBuckets
    * files, and every later scan pays a parquet footer open per file
    * (measured: a 16-bucket table written from 64 tasks landed 1024
    * files and its scans cost seconds of pure footer overhead at ANY
    * data size). Pre-shuffling on the bucket columns bounds that: with
    * a partition count that is a MULTIPLE of numBuckets, every shuffle
    * partition holds rows of exactly one bucket (pmod(h, m·B) fixes
    * pmod(h, B) when B divides m·B — repartition's hash is the same
    * Murmur3-pmod the bucket id uses), so each task writes one file and
    * the table lands at most `m` files per bucket. `m` scales with the
    * cluster's task slots (capped at [[MaxFilesPerBucket]]) so a
    * corpus-scale BUILD keeps its write parallelism — repartitioning a
    * 5M-row build to exactly 16 buckets would funnel it through 16
    * tasks — while appends still add a small constant number of files
    * per batch instead of T×numBuckets. */
  private[graft] val MaxFilesPerBucket = 8

  private def oneFilePerBucket(df: DataFrame, bucketCols: Seq[String],
      numBuckets: Int, inputParts: Option[Int] = None): DataFrame = {
    val slots = df.sparkSession.sparkContext.defaultParallelism
    // `inputParts` is an optional caller hint (a partition count the
    // caller already knows, e.g. from a checkpointed frame): a
    // 2-partition corpus fanned out to numBuckets×m write tasks pays
    // ~30 near-empty tasks' worth of parquet-writer setup, commit
    // machinery, and files per write (and every later scan a footer
    // open per file). Never wider than the input, never wider than the
    // cluster's slots; a corpus-scale build (parts >= slots) keeps the
    // old width exactly, so cluster behavior is unchanged.
    // no hint: derive the target from the plan's own size estimate at
    // ~1 partition per MiB (Tables.spread's rule). Frames with no usable
    // stats (a checkpointed LogicalRDD reports the session default —
    // effectively infinite) and corpus-scale inputs both saturate at
    // `slots`, the old behavior; only the small-input regime narrows.
    lazy val statParts = (df.queryExecution.optimizedPlan.stats.sizeInBytes
      / (1L << 20) + 1).min(slots).toInt
    val target = math.max(1, math.min(slots, inputParts.getOrElse(statParts)))
    val width =
      if (target >= numBuckets)
        numBuckets * math.min(MaxFilesPerBucket, target / numBuckets)
      else
        // largest divisor of numBuckets <= target: p | B keeps every
        // bucket's rows in ONE partition (pmod(h, p) is constant when
        // pmod(h, B) is and p divides B), so the table still lands one
        // file per non-empty bucket
        (target to 1 by -1).find(numBuckets % _ == 0).get
    df.repartition(width, bucketCols.map(col): _*)
  }

  /** Write `df` as a bucketed+sorted parquet table. Joins and
    * aggregations between tables bucketed the same way on the same key
    * execute without a shuffle (verified by LayoutSpec). `inputParts`
    * is the [[oneFilePerBucket]] write-width hint — pass it when the
    * frame's partition count is already known (checkpointed input);
    * callers that don't know it keep the slot-derived build fan-out. */
  def writeBucketed(df: DataFrame, table: String, bucketCols: Seq[String],
      numBuckets: Int, inputParts: Option[Int] = None): Unit =
    oneFilePerBucket(df, bucketCols, numBuckets, inputParts).write
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .mode("overwrite")
      .format("parquet")
      .saveAsTable(table)

  /** Batch append into an existing bucketed table — the
    * incremental-ingest twin of [[writeBucketed]]. The bucket spec
    * (numBuckets, bucketCols) is read from the catalog, so an append can
    * never land rows under a drifted layout. Appends get the same
    * bounded-files-per-bucket shuffle as the build: without it every
    * append of a T-partition batch adds up to T×numBuckets files and the
    * store's scan cost creeps up with every batch ingested.
    *
    * `batchParts` is an optional caller hint: the incoming frame's
    * (known) partition count. A serving-cadence append is far smaller
    * than the cluster's slot count — fanning a 250-row batch over
    * numBuckets×m shuffle partitions schedules 32 near-empty write tasks
    * per append. Partitioning on the bucket columns colocates every
    * bucket's rows for ANY partition count (pmod(h, P) is constant per
    * bucket), and the bucketed writer emits one file per (task,
    * bucket-held) pair, so P < numBuckets still lands at most one file
    * per non-empty bucket — fewer tasks, same file growth. Callers that
    * don't know their batch size (or are corpus-scale builds) omit the
    * hint and keep the build-time fan-out for write parallelism. The
    * hint is NOT derived here from df.rdd because under AQE that forces
    * query-stage execution as a side effect. */
  def appendBucketed(df: DataFrame, table: String,
      batchParts: Option[Int] = None): Unit = {
    val (numBuckets, bucketCols, _) = org.apache.spark.sql.GraftBridge
      .bucketSpec(df.sparkSession, table)
      .getOrElse(throw new IllegalArgumentException(
        s"$table is not bucketed — appendBucketed grows a writeBucketed table"))
    val sized = batchParts match {
      case Some(p) if p > 0 && p < numBuckets =>
        df.repartition(p, bucketCols.map(col): _*)
      case _ => oneFilePerBucket(df, bucketCols, numBuckets)
    }
    sized.write
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .mode("append")
      .format("parquet")
      .saveAsTable(table)
  }

  /** The bucket id a bucketed-table data file belongs to, parsed from
    * Spark's file naming (`part-NNNNN-<uuid>_<bucketId>.c000...` — the
    * trailing `_<digits>` before the extensions, the same rule Spark's
    * own BucketingUtils applies when it reassembles buckets at read
    * time). None for a name that carries no bucket id. */
  private[graft] def bucketIdOfFile(path: String): Option[Int] = {
    val name = path.substring(path.lastIndexOf('/') + 1)
    """.*_(\d+)(?:\..*)?$""".r.findFirstMatchIn(name)
      .flatMap(m => scala.util.Try(m.group(1).toInt).toOption)
  }

  /** Read ONLY the data files of `table` whose bucket id is in
    * `buckets` — FILE-level pruning for predicates Spark's own bucket
    * pruning can't see (e.g. "ids whose murmur3-pmod lands in these
    * buckets", where the id list itself is too big to inline as an IN).
    * The caller derives `buckets` with the same `pmod(hash(key),
    * numBuckets)` the bucketed write used, so every row that could
    * match lives in a selected file by construction. Falls back to the
    * full table if any file name fails to parse a bucket id (never
    * silently drops data). The result is a plain parquet read — no
    * bucketing metadata — which is exactly right for callers that
    * broadcast-join the result rather than shuffle it. */
  private[graft] def readBucketSubset(
      spark: org.apache.spark.sql.SparkSession, table: String,
      buckets: Set[Int]): DataFrame = {
    val t = spark.table(table)
    if (buckets.isEmpty) return t.filter(lit(false))
    val all = t.inputFiles
    val parsed = all.map(f => bucketIdOfFile(f).map(b => (b, f)))
    if (parsed.exists(_.isEmpty)) return t // unparseable layout: read all
    val picked = parsed.flatten.collect { case (b, f) if buckets(b) => f }
    if (picked.isEmpty) t.filter(lit(false))
    else spark.read.schema(t.schema).parquet(picked.toIndexedSeq: _*)
  }

  /** Rewrite a bucketed store back to the bounded per-bucket file count
    * of a fresh build — the maintenance op every incremental store
    * eventually needs: each [[appendBucketed]] batch adds up to
    * [[MaxFilesPerBucket]] files per bucket, so a store absorbing
    * thousands of appends accretes files (and parquet footer
    * opens on every scan) without bound. One shuffle of the table into
    * a `<table>__compact` staging twin with the SAME bucket spec (read
    * from the catalog — a drifted rewrite would silently break every
    * bucket-pruned read), then a drop + rename swap.
    *
    * Crash-convergent by construction: the staging table carries the
    * original's `graft.*` property stamps WITH it, so every window is
    * safe — before the drop, the original is untouched (a re-run drops
    * the half-written staging and rewrites); between the drop and the
    * rename, the table is ABSENT (every serving face refuses loudly)
    * and a re-run detects table-missing + staging-present and just
    * completes the rename; after the rename, the store is whole,
    * stamps included. Callers must quiesce writers during the swap —
    * an append racing the drop/rename window fails loudly on the
    * missing table (never silently writes to the doomed copy). */
  def compactBucketedTable(spark: org.apache.spark.sql.SparkSession,
      table: String): Unit = {
    val staging = s"${table}__compact"
    val exists = spark.catalog.tableExists(table)
    if (!exists && spark.catalog.tableExists(staging)) {
      // resume a compact that crashed between the drop and the rename
      spark.sql(s"ALTER TABLE $staging RENAME TO $table")
      return
    }
    require(exists, s"no such table: $table")
    val spec = org.apache.spark.sql.GraftBridge.bucketSpec(spark, table)
      .getOrElse(throw new IllegalArgumentException(
        s"$table is not bucketed — compactBucketedTable preserves a " +
          "bucket layout; use compact(dir) for plain parquet"))
    val (numBuckets, bucketCols, _) = spec
    val props = org.apache.spark.sql.GraftBridge
      .tableProperties(spark, table)
      .filter { case (k, _) => k.startsWith("graft.") }
    spark.sql(s"DROP TABLE IF EXISTS $staging")
    writeBucketed(spark.table(table), staging, bucketCols, numBuckets)
    if (props.nonEmpty) {
      val kv = props.map { case (k, v) => s"'$k' = '$v'" }.mkString(", ")
      spark.sql(s"ALTER TABLE $staging SET TBLPROPERTIES ($kv)")
    }
    spark.sql(s"DROP TABLE $table")
    spark.sql(s"ALTER TABLE $staging RENAME TO $table")
  }

  /** Equal-count bucketing (SQL `NTILE(buckets) OVER (ORDER BY ...)`)
    * without the single-partition global Window Spark plans for an
    * empty-partitionBy frame — at scale that shape funnels the whole
    * table through one task's sort.
    *
    * Same distributed exclusive-prefix-sum device as
    * [[graft.operators.CorpusPipeline.packSequences]]: (1)
    * range-partition by the sort key so each partition holds a
    * contiguous slice of the global order, pin the layout
    * (localCheckpoint) so both passes see the same partition ids; (2)
    * ONE row per partition folds into exclusive row offsets on the
    * driver (numPartitions entries — tiny), which also yields the total
    * row count N; (3) global rank = broadcast offset + per-partition
    * row_number, and the tile falls out of the ntile remainder rule:
    * with q = N/buckets and rem = N%buckets, the first `rem` tiles get
    * q+1 rows and the rest get q.
    *
    * The combined sort key must be UNIQUE and non-null — ties would
    * make tile assignment ambiguous (guarded in-plan via the same
    * lag-equality probe as packSequences, over the window sort we
    * already pay for). */
  def distributedNtile(df: DataFrame, buckets: Int, orderCols: Seq[Column],
      out: String = "ntile"): DataFrame = {
    require(buckets > 0, s"ntile bucket count must be positive, got $buckets")
    require(orderCols.nonEmpty, "distributedNtile needs at least one sort column")
    val clash = Seq("__pid", "__prev").filter(df.columns.contains)
    require(clash.isEmpty, // withColumn would silently REPLACE them
      s"column(s) ${clash.mkString(",")} collide with distributedNtile's " +
        "working columns — rename them first")
    val pinned = df
      .repartitionByRange(orderCols: _*)
      .sortWithinPartitions(orderCols: _*)
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint(true)
    val counts = pinned.groupBy("__pid").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    var acc = 0L
    val offsets: Map[Int, Long] =
      (0 to counts.keys.foldLeft(-1)(math.max)).map { p =>
        val o = acc; acc += counts.getOrElse(p, 0L); p -> o
      }.toMap
    val n = acc
    val q = n / buckets
    val rem = n % buckets
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__pid").orderBy(orderCols: _*)
    val rank = row_number().over(w).cast("long") +
      coalesce(element_at(typedLit(offsets), col("__pid")), lit(0L))
    val key = struct(orderCols: _*)
    // first rem tiles hold q+1 rows each; guard the q=0 divisor — when
    // q == 0 every row lands in the rem branch, the otherwise never fires
    val tile = when(lit(rem) > 0L && rank <= lit((q + 1) * rem),
        (rank - 1L) / lit(q + 1))
      .otherwise(lit(rem) + (rank - 1L - lit(rem * (q + 1))) / lit(math.max(q, 1L))) + 1L
    pinned
      .withColumn("__prev", lag(key, 1).over(w))
      .filter(isnull(assert_true(
        orderCols.map(_.isNotNull).reduce(_ && _) &&
          (col("__prev").isNull || col("__prev") =!= key),
        lit("distributedNtile: the combined sort key must be unique and non-null"))))
      .withColumn(out, tile.cast("long"))
      .drop("__pid", "__prev")
  }

  /** Salted equi-join for skewed keys: the (small) `dim` side is
    * replicated `salts`× and the skewed side scatters uniformly across
    * the salt domain. Row-level salt assignment uses a hash of the whole
    * skewed row's key plus a per-row ordinal, so equal keys spread.
    * Result is exactly the plain `skewed ⋈ dim` join. */
  def saltedJoin(skewed: DataFrame, dim: DataFrame, key: String,
      salts: Int, joinType: String = "inner"): DataFrame = {
    require(salts > 0)
    // dim-side-preserving joins would duplicate unmatched dim rows once
    // per salt (the dim side is exploded `salts`×) — reject them; no
    // "cross" either (Dataset.join rejects Cross with USING columns, and
    // a cross join with equi-using keys is just inner)
    val supported = Set("inner", "left", "leftouter", "leftsemi", "leftanti")
    require(supported.contains(joinType.toLowerCase.replace("_", "")),
      s"saltedJoin supports fact-side-preserving join types only, got '$joinType' " +
        "(right/full outer would emit one row per salt for unmatched dim keys)")
    require(!skewed.columns.contains("__salt") && !dim.columns.contains("__salt"),
      "column __salt collides with saltedJoin's working column — rename it first")
    val saltedFact = skewed.withColumn("__salt",
      pmod(hash(col(key), monotonically_increasing_id()), lit(salts)))
    val saltedDim = dim.withColumn("__salt",
      explode(sequence(lit(0), lit(salts - 1))))
    saltedFact.join(saltedDim, Seq(key, "__salt"), joinType).drop("__salt")
  }

  /** Morton (Z-order) interleave of the low `bits` bits of two
    * non-negative integer columns: bit i of `a` lands at position 2i,
    * bit i of `b` at 2i+1. Points close in BOTH dimensions are close in
    * z, which is what makes min/max stats tight on both columns at once. */
  def zValue(a: Column, b: Column, bits: Int = 16): Column = {
    // bits=32 would shift b's top bit into the long SIGN bit: rows with
    // it set get negative z and range-partition BEFORE all small-z rows
    // — the clustering silently inverts instead of erroring
    require(bits >= 1 && bits <= 31,
      s"zValue interleaves 1..31 low bits per column, got $bits")
    val cap = 1L << bits
    // values outside [0, 2^bits) make the interleave SILENTLY useless:
    // only the low bits differ, so values 2^bits apart collide in z and
    // file stats go wide (negative values are worse — arithmetic shift
    // makes every extracted bit 1, collapsing all of them to max-z).
    // A wrong layout looks exactly like a working one until pruning is
    // measured, so refuse loudly instead: rank/normalize the column
    // into range, or raise `bits`.
    def checked(c: Column): Column = {
      val l = c.cast("long")
      // NULL falls through the when-condition to the refusal too —
      // name it, so a nullable clustering column fails with "null has
      // no z-order position" instead of a misleading range message
      when(l >= 0 && l < cap, l).otherwise(raise_error(format_string(
        s"zValue: value %s outside [0, $cap) — a NULL has no z-order " +
          s"position (filter or impute first) and a low-$bits-bit " +
          "interleave would collide distant values; normalize the " +
          "column or raise bits",
        coalesce(l.cast("string"), lit("null")))))
    }
    val (al, bl) = (checked(a), checked(b))
    (0 until bits).map { i =>
      shiftleft(shiftright(al, i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(bl, i).bitwiseAND(lit(1L)), 2 * i + 1)
    }.reduce(_ + _)
  }

  /** Z-order clustered write: range-partition + sort by the interleaved
    * key so every output file covers a compact z-range — its parquet
    * min/max stats are then tight on BOTH dimensions, and a predicate on
    * either column touches a fraction of the files (a 1-D sort gives
    * that for one column and nothing for the other). Spark itself only
    * prunes row groups from these stats; a table format with file-level
    * stats (Delta/Iceberg) would also skip whole files — the layout is
    * what creates the skippability either way (verified by LayoutSpec:
    * a y-range predicate touches every x-sorted file but a minority of
    * z-ordered ones). */
  def zorderWrite(df: DataFrame, dir: String, colA: String, colB: String,
      numFiles: Int, bits: Int = 16): Unit = {
    require(!df.columns.contains("__z"), // withColumn would REPLACE it
      "column __z collides with zorderWrite's working column — rename it first")
    df.withColumn("__z", zValue(col(colA), col(colB), bits))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(dir)
  }

  /** Per-file column statistics of whatever the frame scans — the
    * file-skipping audit for a layout: one row per input file with row
    * count and per-column min/max/null-count. This is the check that a
    * clustered write (zorderWrite, a sorted ingest, hive partitioning)
    * actually produced tight, skippable stats — run it after a layout
    * change, not on every query. One shuffle on the file name; stats are
    * partial-aggregated map-side, so cost is a single scan regardless of
    * file count. */
  def statsSummary(df: DataFrame, cols: Seq[String]): DataFrame = {
    val perCol = cols.flatMap { c =>
      Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"),
        (count(lit(1)) - count(col(c))).as(s"nulls_$c"))
    }
    // group on the raw path and take the basename AFTER the aggregate:
    // the regexp then runs once per file instead of once per row
    df.groupBy(input_file_name().as("__path"))
      .agg(count(lit(1)).as("n_rows"), perCol: _*)
      .withColumn("file", regexp_extract(col("__path"), "([^/]+)$", 1))
      .drop("__path")
      .select(col("file") +: (col("n_rows") +:
        cols.flatMap(c => Seq(col(s"min_$c"), col(s"max_$c"), col(s"nulls_$c")))): _*)
  }

  /** Files a `lo <= c <= hi` range predicate can SKIP, judged from a
    * statsSummary frame: everything whose [min_c, max_c] misses the
    * range entirely, plus all-null files (their min/max are NULL, the
    * three-valued range test says UNKNOWN — but no row of them can
    * match, and real engines skip them on the null-count stat). The
    * returned fraction of the file population is the layout's skipping
    * effectiveness for that predicate — the number a 100 TB table lives
    * or dies by. */
  def pruneableFiles(stats: DataFrame, c: String, lo: Column, hi: Column): DataFrame =
    stats.filter(col(s"max_$c") < lo || col(s"min_$c") > hi ||
      col(s"nulls_$c") === col("n_rows"))

  /** Runtime bloom-filter join pruning, made explicit: build a Bloom
    * filter over the dimension side's keys once, pre-filter the fact
    * side map-side (no shuffle), THEN run the exact join — false
    * positives are eliminated by the join itself, so the result is
    * byte-identical to `fact ⋈ dim` while only ~|matching| + fpp·|fact|
    * rows ever reach the join's exchange.
    *
    * Spark's AQE injects this automatically for one query when
    * `runtime.bloomFilter.enabled` fires; the explicit operator is for
    * the cases AQE can't see: reusing one filter across MANY batch
    * joins against the same dimension (the backfill loop), or
    * pre-filtering before an expensive non-join stage. The filter
    * object is driver-built from the dim side (dim-scan cost, constant
    * memory = the sketch) and broadcast. */
  def bloomPrunedJoin(fact: DataFrame, dim: DataFrame, key: String,
      expectedItems: Long = 1000000L, fpp: Double = 0.01,
      joinType: String = "inner"): DataFrame = {
    import org.apache.spark.sql.types.{LongType, IntegerType, StringType}
    // Pre-filtering the fact side is only result-preserving when unmatched
    // fact rows are NOT part of the result: inner and left_semi. For
    // left/left_anti/full the dropped rows would change the answer.
    val jt = joinType.toLowerCase.replace("_", "").replace("outer", "")
    require(jt == "inner" || jt == "leftsemi" || jt == "semi",
      s"bloomPrunedJoin preserves results only for inner/left_semi joins, got '$joinType'")
    fact.schema(key).dataType match {
      case LongType | IntegerType | StringType => ()
      case other => throw new IllegalArgumentException(
        s"bloomPrunedJoin supports long/int/string keys, got $other")
    }
    // BOTH sides must hash identically: a long-keyed filter probed with
    // string bytes (or vice versa) returns false for virtually every
    // real match — the plain join would still match via implicit casts,
    // so the mismatch SILENTLY empties the result instead of erroring
    require(fact.schema(key).dataType == dim.schema(key).dataType,
      s"bloomPrunedJoin key type mismatch: fact ${fact.schema(key).dataType} " +
        s"vs dim ${dim.schema(key).dataType} — the bloom probe would miss " +
        "every match the join's implicit cast would have made")
    val bf = dim.stat.bloomFilter(key, expectedItems, fpp)
    // codegen'd membership probe (graft.functions.BloomMightContain):
    // the filter rides the codegen references array, each row pays one
    // inlined mightContain call inside WholeStageCodegen — no scalar-UDF
    // boxing on the per-row hot path. NULL keys probe as null → filter
    // drops them, same as the join would.
    val might = graft.functions.sketch.bloomMightContain(bf, col(key))
    fact.filter(might).join(dim, Seq(key), joinType)
  }

  /** Small-file compaction plan: list a parquet directory's data files
    * and first-fit-decreasing bin-pack them into bins of ≤ `targetBytes`
    * (any single file over the target gets its own bin and will be left
    * as-is). Returns one row per file: (bin, file, bytes, n_files_in_bin)
    * — the maintenance query a table-health dashboard shows, and the
    * input to [[compact]]. Listing is a driver-side filesystem op: file
    * COUNT is what the small-files problem is about, and a listing that
    * overwhelms one JVM means the table needed compaction long ago. */
  def compactionPlan(spark: org.apache.spark.sql.SparkSession, dir: String,
      targetBytes: Long): DataFrame = {
    require(targetBytes > 0)
    import org.apache.hadoop.fs.Path
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val entries = fs.listStatus(p).toIndexedSeq
      .filter(s => !s.getPath.getName.startsWith("_")
        && !s.getPath.getName.startsWith("."))
    val files = entries.filter(_.isFile)
      .map(s => (s.getPath.getName, s.getLen))
      .sortBy { case (name, len) => (-len, name) } // FFD; name-tie for determinism
    // a hive-partitioned table holds its data one level DOWN — an empty
    // plan here would let compact() "succeed" into an empty outDir and a
    // caller that swaps dirs would lose the table. Refuse loudly: this
    // operator compacts ONE directory; run it per partition.
    val subdirs = entries.filter(_.isDirectory)
    require(files.nonEmpty || subdirs.isEmpty,
      s"compactionPlan: $dir has no top-level data files but " +
        s"${subdirs.size} subdirectories (hive partitions?) — compaction " +
        s"is per-directory; point it at a partition dir, e.g. " +
        s"${subdirs.head.getPath}")
    // parallel used-bytes array + indexWhere: the operator exists for
    // huge file counts, and a find-then-indexOf (element-wise buffer
    // equality!) made planning quadratic-with-big-constants on the
    // driver; this is one linear probe per file
    val used = scala.collection.mutable.ArrayBuffer.empty[Long]
    val bins = scala.collection.mutable.ArrayBuffer
      .empty[scala.collection.mutable.ArrayBuffer[(String, Long)]]
    files.foreach { case (name, len) =>
      val i = used.indexWhere(_ + len <= targetBytes)
      if (i >= 0) { used(i) += len; bins(i) += ((name, len)) }
      else {
        used += len
        bins += scala.collection.mutable.ArrayBuffer((name, len))
      }
    }
    import spark.implicits._
    bins.zipWithIndex.flatMap { case (fls, bin) =>
      fls.map { case (name, len) => (bin.toLong, name, len, fls.size.toLong) }
    }.toSeq.toDF("bin", "file", "bytes", "n_files_in_bin")
  }

  /** Execute a compaction plan surgically: bins holding one file are
    * copied through untouched (no decode/re-encode of already-healthy
    * files); each multi-file bin is read and rewritten as ONE file. Row
    * content is preserved exactly; file count drops to the bin count.
    * One small Spark job per rewritten bin — compaction is a maintenance
    * pass, and per-bin jobs keep peak memory at one bin, not the table.
    *
    * `outDir` is exclusively owned by ONE source dir per run: the
    * retry-idempotency clear below removes ALL prior bins (not just
    * this plan's bin ids), so two compactions fanning different source
    * dirs into a shared outDir would destroy each other's output —
    * give each source its own outDir. */
  def compact(spark: org.apache.spark.sql.SparkSession, dir: String,
      outDir: String, targetBytes: Long): DataFrame = {
    import org.apache.hadoop.fs.Path
    val plan = compactionPlan(spark, dir, targetBytes)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new Path(outDir))
    // retry-idempotency: UUID part names mean a re-run (orchestrator
    // retry, crash between rename and staging-dir delete) would APPEND
    // a second complete copy of a bin next to the first — and a source
    // dir that CHANGED between runs renumbers the bins, so a re-run can
    // leave stale high-numbered bins from the old plan. Clear ALL prior
    // compaction output (bins and staging), not just this plan's bin
    // ids, so re-runs converge like the versioned sinks do.
    (fs.globStatus(new Path(s"$outDir/bin-*")) ++
      fs.globStatus(new Path(s"$outDir/__bin-*")))
      .foreach(s => fs.delete(s.getPath, true))
    val groups = plan.collect()
      .groupBy(_.getLong(0))
      .toSeq.sortBy(_._1)
    groups.foreach { case (bin, rows) =>
      val names = rows.map(_.getString(1)).sorted
      if (names.length == 1) {
        org.apache.hadoop.fs.FileUtil.copy(
          fs, new Path(s"$dir/${names.head}"),
          fs, new Path(s"$outDir/bin-$bin-${names.head}"),
          false, spark.sparkContext.hadoopConfiguration)
      } else {
        spark.read.parquet(names.map(n => s"$dir/$n"): _*)
          .coalesce(1)
          .write.mode("overwrite").parquet(s"$outDir/__bin-$bin")
        // hoist the single part file up and drop the per-bin dir, so the
        // output directory is a flat healthy-file layout
        val part = fs.listStatus(new Path(s"$outDir/__bin-$bin"))
          .filter(s => s.getPath.getName.startsWith("part-")).head.getPath
        val dest = new Path(s"$outDir/bin-$bin-${part.getName}")
        // HDFS-style rename signals failure by RETURNING false; ignoring
        // it and deleting the staging dir would silently drop the bin
        if (!fs.rename(part, dest))
          throw new java.io.IOException(
            s"compact: rename $part -> $dest failed; staging dir kept")
        fs.delete(new Path(s"$outDir/__bin-$bin"), true)
      }
    }
    plan
  }
}
