package graft

import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}

/** The library's recommended SparkSession configuration — one place that
  * encodes the settings every graft workload relies on, locally and on a
  * cluster:
  *
  *  - AQE on, with partition coalescing and skew-join splitting: runtime
  *    re-planning is what keeps the written plans safe at 100 TB (skewed
  *    keys split, tiny shuffles merge, sort-merge joins demote to
  *    broadcast when a side turns out small);
  *  - `spark.sql.shuffle.partitions` sized to the core count locally; on
  *    a real cluster set `shufflePartitions` to 2-3× total executor
  *    cores — the AQE coalescer shrinks oversized fan-outs, it never
  *    grows undersized ones;
  *  - partition-column type inference OFF: the raw zone's hive layout
  *    (`year=2023/month=2023-08/...`) is a string contract (see
  *    Pipeline); inference would silently re-type it per directory;
  *  - session timezone pinned to UTC so timestamp formatting is
  *    reproducible wherever the driver runs;
  *  - `file:` paths through [[NioLocalFileSystem]], which sets
  *    permissions without forking `chmod`;
  *  - the SQL surface of the custom Catalyst expressions (vec_dot,
  *    vec_norm, minhash, simhash_tokens) registered up front.
  *
  * Mains call [[build]] (or [[local]]); library users embedding graft in
  * an existing session can instead call
  * `graft.plans.GraftExtensions.register` and apply [[recommendedConf]]
  * to their own builder. No library path writes a caller's conf.
  */
object GraftSession {

  /** The conf contract, exposed as data so callers (and the spec) can
    * inspect it without mutating any live session. */
  val recommendedConf: Map[String, String] = Map(
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    // coalesce post-shuffle partitions to the ADVISORY SIZE, not to the
    // cluster's parallelism: parallelismFirst=true (the default) keeps
    // up-to-width partitions alive however small the shuffle, so every
    // downstream stage schedules per-task machinery for KBs of data.
    // false is the setting Spark's own AQE docs recommend; the advisory
    // size is the scale dial and stays at Spark's default.
    "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.sources.partitionColumnTypeInference.enabled" -> "false",
    // file listing goes DISTRIBUTED (a whole Spark job per listing)
    // past this many paths; the default of 32 turns every table scan
    // of a bucketed store that has seen a few appends into an extra
    // driver job + scheduling round-trip. Hundreds of files list
    // faster on the driver; a petabyte deployment with millions of
    // files still crosses the raised threshold and keeps the
    // distributed path.
    "spark.sql.sources.parallelPartitionDiscovery.threshold" -> "1024",
    // never take the bypass-merge shuffle path: it creates one file PER
    // REDUCE PARTITION per map task (M×R creates + an NIO merge + R
    // deletes per shuffle — stack-sampled as the top cost of the whole
    // query sweep: FileOutputStream.open0 under
    // BypassMergeSortShuffleWriter.write), where the serialized sort
    // writer writes ONE file per map task. A real cluster runs with
    // hundreds of reduce partitions, past the bypass threshold (200),
    // so bypass never fires there anyway — pinning it off also makes
    // local runs exercise the same writer the cluster uses.
    "spark.shuffle.sort.bypassMergeThreshold" -> "1",
    // local files get their permissions in process, not from a forked
    // `chmod` per created file and committed directory (no libhadoop)
    "spark.hadoop.fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "spark.sql.session.timeZone" -> "UTC")

  /** Run index-maintenance `body` on a private clone of `spark` whose
    * conf has AQE OFF and the shuffle width sized to `batch`'s partition
    * count. The serving-cadence maintenance ops use this: every frame on
    * their paths is batch-sized or broadcast-bounded, so AQE's
    * stage-per-job execution and a cluster-wide static shuffle width only
    * add driver round-trips (measured on the durable-LSH append: 30 → 19
    * jobs per call).
    *
    * `body` gets the clone and `batch` rebound onto it. A frame plans
    * under the session it is bound to, not the thread's active one, so
    * every frame the body executes must be built on the clone (or
    * rebound onto it), and a frame it hands back must be rebound to
    * `spark`. The caller's conf is never written: queries running on
    * `spark` meanwhile plan with its own AQE and width, and concurrent
    * appends each own their clone. The clone shares the catalog, but
    * each session caches table file listings, so the `writes` tables
    * are dropped from the caller's cache on exit and its next read sees
    * the appended files. */
  private[graft] def maintenanceScope[A](spark: SparkSession,
      batch: DataFrame, writes: Seq[String])(
      body: (SparkSession, DataFrame) => A): A = {
    val clone = GraftBridge.cloneSession(spark)
    clone.conf.set("spark.sql.adaptive.enabled", "false")
    val rebound = GraftBridge.rebind(clone, batch)
    // planned with AQE already off: under AQE `.rdd` would execute
    // query stages as a side effect
    clone.conf.set("spark.sql.shuffle.partitions",
      math.max(1, rebound.rdd.getNumPartitions).toString)
    try body(clone, rebound)
    finally writes.foreach(GraftBridge.invalidateCachedTable(spark, _))
  }

  /** The one session builder every main goes through: [[recommendedConf]]
    * plus `conf` on the builder, the custom expressions registered, logs
    * at WARN. `master` None leaves the master to spark-submit. */
  def build(appName: String, master: Option[String] = None,
      conf: Map[String, String] = Map.empty): SparkSession = {
    val b = SparkSession.builder().appName(appName)
    master.foreach(b.master)
    (recommendedConf ++ conf).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.plans.GraftExtensions.register(spark)
    spark
  }

  def local(appName: String, cores: Int,
      shufflePartitions: Option[Int] = None): SparkSession = {
    reapStaleFixtures()
    build(appName, Some(s"local[$cores]"), Map(
      "spark.sql.shuffle.partitions" -> shufflePartitions.getOrElse(cores).toString,
      "spark.ui.enabled" -> "false"))
  }

  /** Delete `graft-*` fixture dirs under java.io.tmpdir older than six
    * hours. Registry queries, specs, and the stress harness build their
    * store fixtures in `Files.createTempDirectory("graft-...")` dirs
    * that nothing deletes — measured: ~1100 of them (≈45 GB) after a
    * dozen bench/verify sweeps, driving the disk to ~90% and turning
    * every later run's I/O erratic (the "same-box drift" the bench
    * logs kept attributing to the host). Mains sweep the stale ones on
    * startup; 6 h is far beyond any single run's IDLE time, so a
    * concurrent run's live fixtures are never touched.
    *
    * Staleness is the max mtime across the WHOLE tree, not the root
    * dir's: writing parquet parts under `<fixture>/table/part-...`
    * advances only the leaf dir's mtime, so a root-mtime rule would
    * reap a fixture mid-use the moment a long stress sweep passes the
    * cutoff while still writing deep inside it. */
  private[graft] def reapStaleFixtures(): Unit =
    try {
      val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
      val cutoff = System.currentTimeMillis() - 6L * 3600 * 1000
      def newestMtime(f: java.io.File): Long =
        Option(f.listFiles()).getOrElse(Array.empty)
          .foldLeft(f.lastModified())((m, k) => math.max(m, newestMtime(k)))
      val stale = Option(tmp.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.startsWith("graft-")
          && f.lastModified() < cutoff && newestMtime(f) < cutoff)
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
        f.delete(): Unit
      }
      stale.foreach(rm)
    } catch { case scala.util.control.NonFatal(_) => () }
}
