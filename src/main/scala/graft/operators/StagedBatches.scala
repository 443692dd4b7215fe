package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The staging zone between a streaming arrival path and a durable
  * index: `EventStream.streamingLshStage` / `streamingIvfStage` write
  * it, `Dedup.lshIndexAbsorb` / `Similarity.ivfIndexAbsorb` fold it.
  *
  * Each micro-batch lands as `stageDir/batch=<id>`, overwritten per
  * batch id so a replayed batch rewrites its own dir. After the data
  * commits, a marker records the store stamps the rows were computed
  * under (e.g. `graft.lsh_n`/`graft.lsh_k`, or `graft.grid_id` plus
  * `graft.pq_id` for a codes store) as ONE newline-terminated line of
  * `key=value` pairs.
  *
  * An absorb reads only batch dirs whose data committed (`_SUCCESS`):
  *  - a missing marker, or one without its terminating newline or with a
  *    malformed pair, is a TORN stage (a crash between the data commit
  *    and the marker write, or mid-write on a filesystem without atomic
  *    rename): it is skipped, and the stream's replay rewrites it;
  *  - a complete marker whose stamps differ from the store's refuses:
  *    the store was rebuilt or retrained while the stage was
  *    outstanding, so its rows are wrong for the store now served.
  */
private[graft] object StagedBatches {

  val MarkerFile = "_stamps"

  /** The store's current values for `keys`; a store missing one is
    * half-built or foreign and refuses. */
  def stamps(spark: SparkSession, table: String,
      keys: Seq[String]): Seq[(String, String)] = {
    val props = org.apache.spark.sql.GraftBridge.tableProperties(spark, table)
    keys.map(k => k -> props.getOrElse(k, throw new IllegalArgumentException(
      s"index $table records no $k — a half-built or foreign store; rebuild")))
  }

  /** Land one micro-batch: the rows, then the marker. */
  def write(rows: DataFrame, stageDir: String, batchId: Long,
      stamps: Seq[(String, String)]): Unit = {
    val dir = new Path(stageDir, s"batch=$batchId")
    rows.write.mode("overwrite").parquet(dir.toString)
    writeAtomic(rows.sparkSession, new Path(dir, MarkerFile),
      stamps.map { case (k, v) => s"$k=$v" }.mkString(",") + "\n")
  }

  /** Rename is the atomic commit on HDFS and posix; the terminating
    * newline makes a marker truncated by a writer crash on a store
    * without atomic rename read as torn rather than as drift. */
  private def writeAtomic(spark: SparkSession, marker: Path,
      content: String): Unit = {
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(marker.getParent, s".${marker.getName}.tmp")
    val os = fs.create(tmp, true)
    try os.write(content.getBytes("UTF-8")) finally os.close()
    if (fs.exists(marker)) fs.delete(marker, false)
    if (!fs.rename(tmp, marker))
      throw new java.io.IOException(s"could not commit marker $marker")
  }

  /** The stamps a batch dir's marker records; None when it is torn. */
  private def readMarker(fs: FileSystem, dir: Path): Option[Seq[(String, String)]] = {
    val marker = new Path(dir, MarkerFile)
    if (!fs.exists(marker)) return None
    val in = fs.open(marker)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    if (!text.endsWith("\n")) return None
    val pairs = text.stripSuffix("\n").split(",", -1).toSeq.map(_.split("=", 2))
    if (pairs.forall(p => p.length == 2 && p(0).nonEmpty && p(1).nonEmpty))
      Some(pairs.map(p => p(0) -> p(1)))
    else None
  }

  /** Fold the ready batches under `stageDir` into `table`. `append`
    * receives the staged rows with ONE row per `id`: a vector or doc
    * staged in two batches (a client retry) keeps its first-staged
    * batch's row — min(batch id), deterministic. The absorbed dirs are
    * deleted after `append` returns; a failed delete re-absorbs them
    * next time, which the callers' anti-join against the stored ids
    * makes append nothing. Returns (batches absorbed, `append`'s
    * result), or None when no batch is ready. */
  def absorb[R](spark: SparkSession, stageDir: String, table: String,
      id: String, want: Seq[(String, String)])(append: DataFrame => R)
      : Option[(Long, R)] = {
    val root = new Path(stageDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return None
    def show(s: Seq[(String, String)]) =
      s.map { case (k, v) => s"$k=$v" }.mkString(", ")
    val ready = fs.listStatus(root).toIndexedSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch="))
      .map(_.getPath)
      .filter(p => fs.exists(new Path(p, "_SUCCESS")))
      .filter(p => readMarker(fs, p).exists { got =>
        require(got == want,
          s"staged batch ${p.getName} was cut under (${show(got)}) but " +
            s"$table is stamped (${show(want)}) — the store was " +
            "retrained/rebuilt while the stage was outstanding; drop the " +
            "stage dir and re-ingest those batches")
        true
      })
    if (ready.isEmpty) return None
    // the rank window partitions by id over staged rows only: per-id
    // groups are retry-sized, never index-sized
    val staged = spark.read.parquet(ready.map(_.toString): _*)
      .withColumn("__batch",
        regexp_extract(input_file_name(), "batch=(\\d+)", 1).cast("long"))
      .withColumn("__rk", row_number().over(
        Window.partitionBy(col(id)).orderBy(asc("__batch"))))
      .filter(col("__rk") === 1)
      .drop("__rk", "__batch")
    val out = append(staged)
    ready.foreach(fs.delete(_, true))
    Some((ready.size.toLong, out))
  }
}
