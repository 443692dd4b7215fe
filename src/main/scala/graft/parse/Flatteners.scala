package graft.parse

import org.apache.spark.sql.{AnalysisException, Column, DataFrame, Encoders, SaveMode}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The reference's parse stage (bread parse.py) as pure
  * `DataFrame => DataFrame` flatteners over raw Tendermint JSON.
  *
  * Raw shapes (see FIXTURES.md §1): block objects from `/block_search`
  * (reference parse.py:134-139) and tx objects from `/tx_search`
  * (parse.py:145-179). Explicit StructType schemas — schema inference
  * over blockchain JSON is unstable and rescans data.
  *
  * Determinism note: the reference numbers repeated `(type, key)` event
  * attributes by pandas input order (cumcount, parse.py:178). Spark has
  * no input order, so `occurrence` is defined by the explicit
  * `(event position, attribute position)` from posexplode — stable under
  * any parallelism, and identical to the reference's order because the
  * reference iterates events then attributes.
  *
  * Scale notes: every flattener is narrow (project/explode) until the
  * time-enrichment join, whose blocks side is per-batch small and
  * broadcast (parse.py:219-221 analog); the events pivot's column set is
  * the batch's observed `combined_key`s, collected by one single-stage
  * job, like pandas' data-dependent pivot (parse.py:177-179), and its
  * occurrence window and pivot aggregate share one shuffle. Writes are
  * hive-partitioned by year/month/day so downstream scans prune
  * partitions for free.
  */
object Flatteners {

  val attributeSchema: StructType = StructType(Seq(
    StructField("key", StringType), StructField("value", StringType)))

  val eventSchema: StructType = StructType(Seq(
    StructField("type", StringType),
    StructField("attributes", ArrayType(attributeSchema))))

  /** Raw block object (reference parse.py:134; heights are strings). */
  val blockSchema: StructType = StructType(Seq(
    StructField("block", StructType(Seq(
      StructField("header", StructType(Seq(
        StructField("height", StringType),
        StructField("chain_id", StringType),
        StructField("time", StringType),
        StructField("proposer_address", StringType)))),
      StructField("data", StructType(Seq(
        StructField("txs", ArrayType(StringType))))))))))

  /** Raw tx object (reference parse.py:145; log is a JSON *string*). */
  val txSchema: StructType = StructType(Seq(
    StructField("hash", StringType),
    StructField("height", StringType),
    StructField("tx_result", StructType(Seq(
      StructField("code", LongType),
      StructField("log", StringType),
      StructField("info", StringType),
      StructField("gas_wanted", StringType),
      StructField("gas_used", StringType),
      StructField("codespace", StringType),
      StructField("events", ArrayType(eventSchema)))))))

  /** Schema of the `log` JSON string once parsed (parse.py:152-162). */
  val logSchema: ArrayType = ArrayType(StructType(Seq(
    StructField("msg_index", LongType),
    StructField("events", ArrayType(eventSchema)))))

  /** pandas `to_period('D'/'M'/'Y')` partition strings (parse.py:136-138). */
  private def periodCols(ts: Column): Seq[Column] = Seq(
    date_format(ts, "yyyy-MM-dd").as("day"),
    date_format(ts, "yyyy-MM").as("month"),
    date_format(ts, "yyyy").as("year"))

  /** blocks table: nested-header projection + int height + period cols
    * (parse.py:134-139). `time` stays the raw RFC3339 string for
    * nanosecond fidelity; `ts` is the parsed (µs-truncated) timestamp. */
  def parseBlocks(raw: DataFrame): DataFrame = {
    val ts = to_timestamp(col("block.header.time"))
    val cols = Seq(
      col("block.header.height").cast(LongType).as("height"),
      col("block.header.chain_id").as("chain_id"),
      col("block.header.time").as("time"),
      col("block.header.proposer_address").as("proposer_address")) ++
      periodCols(ts) :+ ts.as("ts")
    raw.select(cols: _*)
  }

  /** tx_result table: struct flatten + hash/height carryover
    * (parse.py:145-146). Gas fields stay strings — the reference casts at
    * query time (pages/index.md:9). */
  def parseTxResult(raw: DataFrame): DataFrame =
    raw.select(
      col("hash"),
      col("height").cast(LongType).as("height"),
      col("tx_result.code").as("code"),
      col("tx_result.info").as("info"),
      col("tx_result.gas_wanted").as("gas_wanted"),
      col("tx_result.gas_used").as("gas_used"),
      col("tx_result.codespace").as("codespace"))

  /** log_attributes EAV table: lenient JSON parse of the log string, then
    * the log[] -> events[] -> attributes[] explode chain
    * (parse.py:152-162). Malformed log JSON parses to null (the lenient
    * fallback) and contributes zero attribute rows; missing msg_index
    * fills to 0 (parse.py:154). */
  def parseLogAttributes(raw: DataFrame): DataFrame =
    raw
      .select(col("hash"), col("height").cast(LongType).as("height"),
        from_json(col("tx_result.log"), logSchema).as("log"))
      .select(col("hash"), col("height"), explode(col("log")).as("msg"))
      .select(col("hash"), col("height"),
        coalesce(col("msg.msg_index"), lit(0L)).as("msg_index"),
        explode(col("msg.events")).as("event"))
      .select(col("hash"), col("height"), col("msg_index"),
        col("event.type").as("type"),
        explode(col("event.attributes")).as("attr"))
      .select(col("hash"), col("height"), col("msg_index"), col("type"),
        col("attr.key").as("key"), col("attr.value").as("value"))

  /** Long form of the events table prior to pivoting: base64-decoded
    * attributes (parse.py:171-172), `combined_key = type + '_' + key`
    * (parse.py:177), `occurrence` = per-(hash, height, combined_key)
    * ordinal in (event, attribute) position order — the deterministic
    * analog of pandas cumcount (parse.py:178). `oneTask` numbers them in
    * one partition, with no shuffle, for a frame written by one task. */
  def parseEventsLong(raw: DataFrame, oneTask: Boolean = false): DataFrame = {
    val order = Window
      .partitionBy("hash", "height", "combined_key")
      .orderBy("event_pos", "attr_pos")
    // clustered on (hash, height): that one shuffle satisfies both the
    // window's and the wide pivot's (hash, height, occurrence) grouping
    eventAttributes(raw)
      .transform(a => if (oneTask) a.coalesce(1) else a.repartition(col("hash"), col("height")))
      .withColumn("occurrence", (row_number().over(order) - 1).cast(LongType))
      .select("hash", "height", "occurrence", "combined_key", "value")
  }

  /** The decoded event attributes with their positions, before any
    * shuffle: the rows [[parseEventsLong]] numbers. */
  private def eventAttributes(raw: DataFrame): DataFrame =
    raw
      .select(col("hash"), col("height").cast(LongType).as("height"),
        posexplode(col("tx_result.events")))
      .withColumnsRenamed(Map("pos" -> "event_pos", "col" -> "event"))
      .select(col("hash"), col("height"), col("event_pos"),
        col("event.type").as("type"),
        posexplode(col("event.attributes")))
      .withColumnsRenamed(Map("pos" -> "attr_pos", "col" -> "attr"))
      .select(col("hash"), col("height"), col("event_pos"), col("attr_pos"),
        col("type"),
        decode(unbase64(col("attr.key")), "UTF-8").as("key"),
        decode(unbase64(col("attr.value")), "UTF-8").as("value"))
      .withColumn("combined_key", concat_ws("_", col("type"), col("key")))

  /** events wide table: dynamic pivot on observed `combined_key`s
    * (parse.py:179). Column set is data-dependent, same as pandas;
    * batches pivot independently and the read-side `mergeSchema` union
    * reproduces the reference's concat of differently-shaped wide
    * frames. `oneTask` as in [[parseEventsLong]].
    *
    * The keys come from one single-stage job (each task's distinct
    * keys, merged on the driver), run when this is called, and are
    * sorted in Spark's string order (UTF-8 bytes), so the columns are
    * those, in the order, that `pivot("combined_key")` would resolve
    * with its own multi-job distinct scan. DIVERGENCE #8
    * (DIVERGENCES.md): pandas widens unboundedly, this fails loudly past
    * `spark.sql.pivotMaxValues` (default 10k) with Spark's own pivot
    * error — a type_key explosion becomes an analysis error, not an
    * unusably wide table. */
  def parseEventsWide(raw: DataFrame, oneTask: Boolean = false): DataFrame = {
    val maxValues = raw.sparkSession.conf.get(pivotMaxValues).toInt
    val keys = eventAttributes(raw).select("combined_key").as(Encoders.STRING)
      .mapPartitions((it: Iterator[String]) => it.toSet.iterator)(Encoders.STRING)
      .collect().distinct
    if (keys.length > maxValues)
      throw new AnalysisException("_LEGACY_ERROR_TEMP_1324", Map(
        "pivotColumn" -> "combined_key", "maxValues" -> maxValues.toString,
        "config" -> pivotMaxValues))
    val sorted = keys.map(UTF8String.fromString).sortWith(_.binaryCompare(_) < 0).map(_.toString)
    parseEventsLong(raw, oneTask)
      .groupBy("hash", "height", "occurrence")
      .pivot("combined_key", sorted.toSeq)
      .agg(first("value"))
  }

  private val pivotMaxValues = "spark.sql.pivotMaxValues"

  /** Time-enrichment join (parse.py:219-221): pull ts/day/month/year from
    * blocks by height. The blocks side must be BOUNDED by the caller
    * (Pipeline.landTxs prunes it to the batch's height span) — then it is
    * per-batch small → broadcast and the fact side never shuffles. Pass
    * `hintBroadcast = false` when no bound is known and AQE should pick
    * the strategy from the real size. `oneTask` joins both sides in one
    * partition instead, for a frame the caller writes with one task: a
    * hash join with no exchange, and no job to build a broadcast. */
  def enrichTime(table: DataFrame, blocks: DataFrame,
      hintBroadcast: Boolean = true, oneTask: Boolean = false): DataFrame = {
    val b = blocks.select("height", "ts", "day", "month", "year")
    if (oneTask) table.coalesce(1).join(b.coalesce(1).hint("shuffle_hash"), Seq("height"), "left")
    else table.join(if (hintBroadcast) broadcast(b) else b, Seq("height"), "left")
  }

  /** The hive partition columns of every parsed table, outermost first. */
  val partitionCols: Seq[String] = Seq("year", "month", "day")

  /** Hive-partitioned parquet sink (parse.py:182-200), year/month/day
    * layout, appended to `dir` — downstream scans get partition pruning.
    *
    * The REBALANCE hint routes each hive partition's rows to as few
    * tasks as its volume needs (AQE splits oversized groups, coalesces
    * tiny ones): without it every write task emits one file into EVERY
    * partition it holds rows for — tasks × days small files at scale.
    * With it, a quiet day is one file and a heavy day still fans out.
    * `oneTask` writes a frame the caller knows is small with one task
    * instead: the same one file per day, without the rebalance shuffle. */
  def writePartitioned(df: DataFrame, dir: String, oneTask: Boolean = false): Unit =
    (if (oneTask) df.coalesce(1) else df.hint("rebalance", partitionCols.map(col): _*))
      .write.mode(SaveMode.Append).partitionBy(partitionCols: _*).parquet(dir)
}
