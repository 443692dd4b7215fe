package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Incremental-maintenance (CDC) operators: keyed upsert, SCD2 interval
  * building, keep-latest compaction, and two-version reconciliation.
  * Each is a single relational plan — one key-equi join or one per-key
  * window — so they inherit Spark's scale machinery (AQE, broadcast of
  * small change sets, bucketed co-location via Layout.writeBucketed)
  * instead of inventing a log format. The oracled registry entries
  * q93-q96 pin their semantics against DuckDB.
  */
object Cdc {

  /** MERGE INTO without a transactional table format: rows of `base`
    * whose key appears in `changes` are superseded (anti-join), then
    * the change set lands (union). Updates and inserts are just rows of
    * `changes`; deletes are "absent from changes but tombstoned" —
    * filter them out of `changes` and pass their keys via `deletes`.
    * Schemas of `base` and `changes` must match (unionByName). */
  def upsert(base: DataFrame, changes: DataFrame, key: String,
      deletes: Option[DataFrame] = None): DataFrame = {
    val dropKeys = deletes match {
      case Some(del) => changes.select(key).unionByName(del.select(key))
      case None      => changes.select(key)
    }
    // null-safe anti-join (like refreshAgg/tableDiff): a plain equality
    // anti-join never matches a null key, so a null-key change row would
    // land NEXT TO the base's null-key row instead of superseding it,
    // and a null-key tombstone would never delete
    base.join(dropKeys.select(col(key).as("__dk")),
        col(key) <=> col("__dk"), "left_anti")
      .unionByName(changes)
  }

  /** SCD2 history from an event/change log: appends `valid_from`
    * (= the row's own `ts`), `valid_to` (the key's next `ts`, null while
    * open) and `is_current`. One lead() per key; rows keep all their
    * original columns. `tieBreak` totalizes the order for same-ts rows
    * so interval boundaries are deterministic. */
  def scd2(log: DataFrame, key: String, ts: String, tieBreak: String): DataFrame = {
    val outCols = Seq("valid_from", "valid_to", "is_current")
    val clash = outCols.filter(log.columns.contains)
    require(clash.isEmpty, // withColumn would silently REPLACE them
      s"column(s) ${clash.mkString(",")} collide with scd2's output " +
        "columns — rename them first (re-running scd2 on its own output " +
        "would silently clobber the intervals)")
    val w = Window.partitionBy(key).orderBy(ts, tieBreak)
    log
      // a NULL change timestamp has no place on a validity timeline —
      // nulls-first ordering would make lead(ts) of the first null row
      // the SECOND row's null, indistinguishable from the open interval,
      // so is_current would hold on a non-latest row. Refuse in-plan.
      .withColumn("valid_from",
        when(col(ts).isNotNull, col(ts)).otherwise(raise_error(
          lit(s"scd2: null $ts — a change row without a timestamp cannot " +
            "be placed on the validity timeline"))))
      .withColumn("valid_to", lead(col(ts), 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
  }

  /** Keep-latest compaction: one surviving row per key, chosen by the
    * `order` columns descending-first semantics supplied by the caller
    * (e.g. Seq(col("ts").desc, col("id").desc)). One window pass — no
    * max-subquery self-join, which would scan and shuffle twice. */
  def compactLatest(log: DataFrame, key: String, order: Seq[Column]): DataFrame = {
    require(!log.columns.contains("__rn"), // withColumn would REPLACE it
      "column __rn collides with compactLatest's working column — rename it first")
    log
      .withColumn("__rn", row_number().over(
        Window.partitionBy(key).orderBy(order: _*)))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Reconcile two versions of a keyed table: one row per key with
    * status added / removed / changed / unchanged, judged on
    * `compareCols` equality (null-safe). One full outer join on the
    * key; only key + compared columns travel. */
  def tableDiff(v1: DataFrame, v2: DataFrame, key: String,
      compareCols: Seq[String]): DataFrame = {
    // one-row-per-key is the documented CONTRACT: a duplicated key in
    // either version would make the full outer join a per-key cross
    // product of status rows (silently double-counting changes). The
    // per-key count window rides the same hash partitioning the join
    // needs, so the guard adds no extra shuffle.
    def guarded(v: DataFrame, side: String): DataFrame = v
      .withColumn("__kn", count(lit(1)).over(Window.partitionBy(col(key))))
      .filter(isnull(assert_true(col("__kn") === 1,
        concat(lit(s"tableDiff: duplicate $side-side key "), col(key).cast("string"),
          lit(" — the one-row-per-key contract requires pre-compaction " +
            "(compactLatest)")))))
      .drop("__kn")
    val a = guarded(v1.select((key +: compareCols).map(col): _*), "v1")
      .withColumn("__in_a", lit(true)).as("a")
    val b = guarded(v2.select((key +: compareCols).map(col): _*), "v2")
      .withColumn("__in_b", lit(true)).as("b")
    val changed = compareCols
      .map(c => !(col(s"a.$c") <=> col(s"b.$c")))
      .reduceOption(_ || _).getOrElse(lit(false))
    // null-safe key match + side-presence flags: with a plain === join a
    // null key present in both versions splits into an "added" AND a
    // "removed" row (violating one-row-per-key), and a null-key row in
    // v1 alone classifies as "added" because testing the a-side KEY for
    // null can't distinguish "no a-side match" from "a-side key is null"
    a.join(b, col(s"a.$key") <=> col(s"b.$key"), "full_outer")
      .select(
        coalesce(col(s"a.$key"), col(s"b.$key")).as(key),
        when(col("__in_a").isNull, "added")
          .when(col("__in_b").isNull, "removed")
          .when(changed, "changed")
          .otherwise("unchanged").as("status"))
  }

  /** Replay-safe versioned sink for batch CDC outputs, so
    * upsert/compaction results are idempotent under orchestration
    * retries WITHOUT a transactional table format: each run writes its whole result under
    * `path/v=<version>` with overwrite semantics, so a re-run of the
    * same version lands in place (run twice ≡ run once) and a
    * half-written crash victim is simply overwritten by the retry.
    * `version` is the caller's run/batch id — anything monotone
    * (orchestrator run id, source watermark, batch id).
    *
    * Readers take [[readLatest]] — the highest COMPLETE version (Spark's
    * `_SUCCESS` marker gates visibility, so a writer dying mid-copy
    * never serves a torn table). Old versions double as time travel and
    * are reaped by the caller's retention policy; concurrent WRITERS to
    * the SAME version are the one thing this does not arbitrate — that
    * is what a log-backed format (Delta/Iceberg) buys. */
  def writeVersioned(df: DataFrame, path: String, version: Long,
      force: Boolean = false): String = {
    val dir = s"$path/v=$version"
    // committed-version guard: a version that already carries its
    // _SUCCESS marker is NOT rewritten — deterministic replay means
    // run-twice ≡ run-once, and
    // skipping also keeps an orchestration retry from deleting the
    // CURRENT latest version out from under a concurrent reader
    // (overwrite drops the directory before rewriting it). A
    // half-written crash victim (no marker) is overwritten as before.
    // A deliberate republish of CORRECTED data to an existing version
    // is NOT a replay — pass `force = true` to overwrite a committed
    // version (accepting the reader-visible gap), or bump `version`.
    if (!force && completeVersions(df.sparkSession, path).contains(version)) {
      org.apache.logging.log4j.LogManager.getLogger("graft.Cdc")
        .warn(s"writeVersioned: $dir is already committed; skipping " +
          "write (replay semantics). Republishing corrected data needs " +
          "force=true or a new version.")
      dir
    } else { df.write.mode("overwrite").parquet(dir); dir }
  }

  /** Versions under `path` with a `_SUCCESS` marker, ascending.
    * Non-numeric `v=` entries (a human-made `v=latest` pointer, a
    * foreign hive partition) are skipped, not crashed on. */
  def completeVersions(spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[Long] = {
    import org.apache.hadoop.fs.Path
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toIndexedSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("v="))
      .filter(s => fs.exists(new Path(s.getPath, "_SUCCESS")))
      .flatMap(s =>
        scala.util.Try(s.getPath.getName.stripPrefix("v=").toLong).toOption)
      .sorted
  }

  /** Read the latest complete version of a [[writeVersioned]] table. */
  def readLatest(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    val vs = completeVersions(spark, path)
    require(vs.nonEmpty, s"no complete version under $path")
    spark.read.parquet(s"$path/v=${vs.last}")
  }

  /** Incremental aggregate maintenance (materialized-view refresh for
    * mergeable aggregates): merge a stored aggregate state with the
    * SAME-shaped aggregate of a delta batch — one full outer join on
    * the grouping keys. The refreshed state equals the direct aggregate
    * over base ∪ delta (the oracle contract q119 pins), at the cost of
    * |state| + |delta| rather than a full recompute.
    *
    * Merge rules per column class:
    *  - `aggCols` (counts, sums): SQL SUM semantics — `coalesce(a + b,
    *    a, b)`, so a side absent from the join contributes nothing and
    *    a group whose stored sum is NULL (SUM over an all-NULL group)
    *    STAYS NULL instead of being corrupted to 0.
    *  - `minCols` / `maxCols`: `least` / `greatest` (null-skipping) —
    *    correct for INSERT-ONLY maintenance; a delete/update can raise
    *    a min, which no merge of (old min, delta min) can see. That
    *    caveat is structural to incremental min/max, not a flag here.
    * For avg, carry (sum, count) in aggCols and divide at read time.
    * An empty `keys` is the global (one-row) aggregate — the join
    * degenerates to a 1×1 full outer on TRUE. */
  def refreshAgg(state: DataFrame, deltaAgg: DataFrame, keys: Seq[String],
      aggCols: Seq[String], minCols: Seq[String] = Nil,
      maxCols: Seq[String] = Nil): DataFrame = {
    // NULL-SAFE key match (like tableDiff): a using-columns join treats a
    // null state key and a null delta key as different rows, which would
    // split a null group into two and break the ≡-direct-aggregate
    // contract for nullable grouping keys
    val valCols = aggCols ++ minCols ++ maxCols
    val d = deltaAgg.select(
      (keys.map(k => col(k).as(s"__d_$k")) ++
        valCols.map(c => col(c).as(s"__d_$c"))): _*)
    state.join(d,
        keys.map(k => col(k) <=> col(s"__d_$k")).foldLeft(lit(true))(_ && _),
        "full_outer")
      .select((keys.map(k => coalesce(col(k), col(s"__d_$k")).as(k)) ++
        // cast each merged sum back to the STATE's column type: Add on
        // decimals widens precision by one (decimal(20,0) -> 21 -> 22
        // ...), so without the cast every refresh cycle would drift the
        // maintained state's schema until it caps at 38 — breaking
        // fixed-schema sinks fed by the state. Overflow must refuse
        // loudly, and under non-ANSI mode the two overflow shapes fail
        // DIFFERENTLY: a decimal merge that exceeds the state type
        // casts to NULL (which the next refresh's coalesce would read
        // as "no state", silently dropping the total), while an
        // INTEGRAL `+` and its narrowing cast both WRAP with no NULL at
        // all. So integral state columns merge in a wider type first
        // (byte/short/int → long, long → decimal(20,0) — two longs
        // can't overflow 20 digits), and the guard asserts the
        // round-trip: a merged value whose narrowed form is null OR
        // fails to widen back to itself overflowed the state type.
        // Float/double saturate to ±Infinity instead of wrapping —
        // visible downstream, no silent corruption — and stay unwidened.
        aggCols.map { c =>
          import org.apache.spark.sql.types._
          val st = state.schema(c).dataType
          val wide: DataType = st match {
            case ByteType | ShortType | IntegerType => LongType
            case LongType => DecimalType(20, 0)
            case other => other
          }
          val merged = coalesce(
            col(c).cast(wide) + col(s"__d_$c").cast(wide),
            col(c).cast(wide), col(s"__d_$c").cast(wide))
          val narrowed = merged.cast(st)
          val overflowed =
            if (wide == st) merged.isNotNull && narrowed.isNull
            else merged.isNotNull &&
              (narrowed.isNull || narrowed.cast(wide) =!= merged)
          when(overflowed,
            raise_error(concat(
              lit(s"refreshAgg: merged value of '$c' overflows the state " +
                s"type ${st.simpleString} (value "),
              merged.cast("string"),
              lit(") — widen the state column before refreshing"))))
            .otherwise(narrowed).as(c)
        } ++
        minCols.map(c => least(col(c), col(s"__d_$c")).as(c)) ++
        maxCols.map(c => greatest(col(c), col(s"__d_$c")).as(c))): _*)
  }
}
