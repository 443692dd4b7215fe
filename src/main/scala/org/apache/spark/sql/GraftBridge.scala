package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Minimal bridge into `private[sql]` surface: wrap a raw Catalyst
  * Expression as a user-facing Column (and back). Spark 4 removed the
  * public `new Column(expr)` constructor; `classic.ExpressionUtils` is the
  * supported internal path and this shim is the single place we touch it.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Resolved output schema of `sql` WITHOUT executing it — parse, then
    * analyze with command execution skipped (`CommandExecutionMode.SKIP`;
    * plain `spark.sql` runs DDL/DML eagerly inside the call). This is
    * what a wire-protocol Describe needs: the exact RowDescription that
    * Execute will later stream, including for commands like `SET k=v`
    * (whose (key, value) row pgJDBC expects at connection startup),
    * with zero side effects. */
  def analyzedSchemaNoExec(spark: SparkSession, sql: String): types.StructType = {
    val plan = spark.sessionState.sqlParser.parsePlan(sql)
    spark.sessionState
      .executePlan(plan, execution.CommandExecutionMode.SKIP)
      .analyzed.schema
  }

  /** `rows` (of `schema`) as JSON lines, written exactly as
    * `Dataset.toJSON` writes them, under `spark`'s conf — the driver-side
    * face for a result that is already collected. */
  def jsonLines(spark: SparkSession, schema: types.StructType,
      rows: Seq[Row]): IndexedSeq[String] = {
    val conf = spark.sessionState.conf
    internal.SQLConf.withExistingConf(conf) {
      val writer = new java.io.CharArrayWriter()
      val gen = new catalyst.json.JacksonGenerator(schema, writer,
        new catalyst.json.JSONOptions(Map.empty[String, String], conf.sessionLocalTimeZone))
      val toRow = catalyst.encoders.ExpressionEncoder(schema).createSerializer()
      try rows.iterator.map { r =>
        gen.write(toRow(r))
        gen.flush()
        val line = writer.toString
        writer.reset()
        line
      }.toIndexedSeq
      finally gen.close()
    }
  }

  /** A private copy of `spark`: its own SQLConf (a copy of the caller's),
    * temp views and function registry, over the SAME shared state —
    * catalog, cache manager, SparkContext. Conf set on the clone never
    * reaches the caller. */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()

  /** `df`'s plan as a frame of `spark`: it is planned and executed under
    * `spark`'s conf from here on. Making `spark` the active session is
    * not enough — a frame keeps planning under the session it was built
    * on. */
  def rebind(spark: SparkSession, df: DataFrame): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      df.asInstanceOf[classic.Dataset[_]].logicalPlan)

  /** Drop `table`'s cached relation (its file listing) from `spark`'s
    * catalog: the next read re-resolves it and sees files another
    * session appended. */
  def invalidateCachedTable(spark: SparkSession, table: String): Unit =
    spark.sessionState.catalog.invalidateCachedTable(
      spark.sessionState.sqlParser.parseTableIdentifier(table))

  /** Drain the listener bus — job-count assertions in the plan-audit
    * specs read listener-fed counters, which lag the action that
    * produced them. Test-support only. */
  def waitForListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Every parquet file-scan leaf of an executed plan (descending
    * through AQE wrappers and query stages), as (rootPaths,
    * requiredSchema field names) — test support for "table X is never
    * read with column Y on this path" pins, which plan-string matching
    * gets wrong as soon as a node renders across lines. */
  def parquetScans(plan: execution.SparkPlan): Seq[(Seq[String], Seq[String])] = {
    val self = plan match {
      case f: execution.FileSourceScanExec =>
        Seq((f.relation.location.rootPaths.map(_.toString).toSeq,
          f.requiredSchema.fieldNames.toSeq))
      case _ => Nil
    }
    val kids = plan match {
      case a: execution.adaptive.AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: execution.adaptive.QueryStageExec => Seq(s.plan)
      case r: execution.exchange.ReusedExchangeExec => Seq(r.child)
      case other => other.children
    }
    self ++ kids.flatMap(parquetScans)
  }

  /** Table properties via the session catalog — what SHOW TBLPROPERTIES
    * renders, without paying a SQL parse/analyze round-trip per lookup
    * (the artifact-pairing checks read one key on every serving call).
    * A missing table/database reads as empty — callers that must
    * distinguish "no property" from "no table" check existence first
    * (Similarity.storedAnchors does). */
  /** The bucketing layout a table was written with: (numBuckets,
    * bucketColumns, sortColumns), None for an unbucketed table — what a
    * store compaction must preserve exactly (a drifted rewrite would
    * silently break every bucket-pruned read and co-located join). */
  def bucketSpec(spark: SparkSession,
      table: String): Option[(Int, Seq[String], Seq[String])] = {
    val id = spark.sessionState.sqlParser.parseTableIdentifier(table)
    spark.sessionState.catalog.getTableMetadata(id).bucketSpec
      .map(b => (b.numBuckets, b.bucketColumnNames, b.sortColumnNames))
  }

  def tableProperties(spark: SparkSession, table: String): Map[String, String] =
    try {
      val id = spark.sessionState.sqlParser.parseTableIdentifier(table)
      spark.sessionState.catalog.getTableMetadata(id).properties
    } catch {
      case _: org.apache.spark.sql.catalyst.analysis.NoSuchTableException |
           _: org.apache.spark.sql.catalyst.analysis.NoSuchDatabaseException =>
        Map.empty
    }
}
