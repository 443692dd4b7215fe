package graft.query

import org.apache.spark.sql.{DataFrame, GraftBridge, Row}
import org.apache.spark.sql.catalyst.catalog.BucketSpec
import org.apache.spark.sql.catalyst.expressions.{Attribute, CurrentBatchTimestamp, CurrentDate, CurrentTime, CurrentTimestampLike, Expression, UserDefinedExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Command, LeafNode, LocalRelation, LogicalPlan, ObjectProducer, OneRowRelation, Range}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SizeEstimator

import QueryChainCompiler.JsonResult

/** The bounded collect behind every serving face — the JSON pages and
  * `POST /sql` ([[QueryServer]]), the rendered pages
  * ([[DashboardRenderer]]) and pg-wire ([[PgWireServer]]) — with a
  * bounded LRU of results in front of it.
  *
  * Every face collects `maxRows + 1` rows, so "exactly maxRows" and
  * "cut off" stay distinguishable; the `+1` row is the caller's
  * truncation probe.
  *
  * A result is reused only when it is a pure function of its key:
  *  - the canonicalized optimized plan (key and execution share one
  *    `QueryExecution`, so a miss optimizes once), with each file
  *    relation cut down to its format, schemas and options — the key
  *    holds no session, file index or catalog entry;
  *  - the output schema (canonicalization erases aliases, and the JSON
  *    face writes the field names);
  *  - the exact input files, `(path, length, mtime)` per file of every
  *    file-relation leaf, in plan order;
  *  - the session's SQL conf, the row cap and the face (JSON lines or
  *    rows).
  *
  * A plan qualifies only if every leaf is a file relation over a
  * `PartitioningAwareFileIndex`, a `LocalRelation`, `OneRowRelation` or
  * `Range`, and no expression is nondeterministic, reads the clock or
  * is a user function. Anything else — commands, RDD/V2/streaming
  * relations, cached (`InMemoryRelation`) data, typed lambdas — runs
  * through the same function and is never stored; neither is a failed
  * or cancelled run, nor one whose file listing changed while it ran.
  *
  * Staleness contract: a file rewritten in place with the same path,
  * length and mtime is not seen. Spark's writers never do that (every
  * write is a new part file); a new zone snapshot, an append under a
  * `parquet.\`dir\`` view or an `INSERT OVERWRITE` changes the listing
  * and misses.
  *
  * The cap is on [[SizeEstimator]] bytes of each whole entry — its rows
  * and every part of its key, a `LocalRelation`'s data included; an
  * entry larger than the cap is not stored. */
final class ResultCache private[query] (capBytes: Long) {
  import ResultCache._

  def this() = this(ResultCache.CapBytes)

  private val entries =
    new java.util.LinkedHashMap[Key, Entry](16, 0.75f, true) // access order
  private var hits, misses, evictions, bytes = 0L

  /** `df`'s first `maxRows` rows as JSON lines (`Dataset.toJSON`'s
    * format), and whether more existed. */
  def json(df: DataFrame, maxRows: Int): JsonResult =
    cached(df, maxRows, json = true) { (limited, rows) =>
      JsonResult(GraftBridge.jsonLines(limited.sparkSession, limited.schema,
        rows.take(maxRows)), rows.length > maxRows)
    }

  /** `df`'s first `maxRows + 1` rows. */
  def rows(df: DataFrame, maxRows: Int): IndexedSeq[Row] =
    cached(df, maxRows, json = false)((_, rows) => rows)

  private def cached[V <: AnyRef](df: DataFrame, maxRows: Int, json: Boolean)(
      finish: (DataFrame, IndexedSeq[Row]) => V): V = {
    val limited = df.limit(maxRows + 1)
    val key = keyOf(limited, maxRows, json)
    val hit = synchronized {
      val e = key.flatMap(k => Option(entries.get(k)))
      if (e.isDefined) hits += 1 else misses += 1
      e
    }
    hit.fold {
      val value = finish(limited, scala.collection.immutable.ArraySeq.unsafeWrapArray(
        limited.collect()))
      // the index a plan reads from can be refreshed while it runs;
      // keep only a result whose listing is the one keyed
      key.filter(k => inputFiles(limited.queryExecution.optimizedPlan)
        .contains(k.files)).foreach(put(_, value))
      value
    }(_.value.asInstanceOf[V])
  }

  private def put(k: Key, value: AnyRef): Unit = {
    val size = SizeEstimator.estimate(Array[AnyRef](value, k))
    if (size <= capBytes) synchronized {
      Option(entries.put(k, Entry(value, size))).foreach(old => bytes -= old.size)
      bytes += size
      val it = entries.values.iterator
      while (bytes > capBytes && it.hasNext) {
        bytes -= it.next().size
        it.remove()
        evictions += 1
      }
    }
  }

  def stats: Stats = synchronized(Stats(hits, misses, evictions, bytes, entries.size))

  /** Drop every entry (the server that owns this cache stopped). */
  def clear(): Unit = synchronized {
    entries.clear()
    bytes = 0
  }
}

object ResultCache {

  /** Per-server cap: a page query returns at most the row cap (10000 by
    * default), tens of bytes to a few KB per row. */
  val CapBytes: Long = 64L << 20

  final case class Stats(hits: Long, misses: Long, evictions: Long, bytes: Long,
      entries: Int) {
    def json: String =
      s"""{"hits":$hits,"misses":$misses,"evictions":$evictions,"bytes":$bytes,"entries":$entries}"""
  }

  private final case class Key(plan: LogicalPlan, schema: StructType,
      files: Seq[Seq[(String, Long, Long)]], conf: Map[String, String], maxRows: Int,
      json: Boolean)
  private final case class Entry(value: AnyRef, size: Long)

  /** A file relation in a key's plan: what fixes its rows besides the
    * files the key lists. */
  private final case class FileLeaf(output: Seq[Attribute], format: String,
      dataSchema: StructType, partitionSchema: StructType, bucketSpec: Option[BucketSpec],
      options: Map[String, String]) extends LeafNode

  private def keyOf(limited: DataFrame, maxRows: Int, json: Boolean): Option[Key] = {
    val qe = limited.queryExecution
    if (!pure(qe.analyzed)) None
    else inputFiles(qe.optimizedPlan).map { files =>
      val plan = qe.optimizedPlan.canonicalized.transformUpWithSubqueries {
        case LogicalRelation(r: HadoopFsRelation, output, _, _, _) =>
          FileLeaf(output, r.fileFormat.getClass.getName, r.dataSchema,
            r.partitionSchema, r.bucketSpec, r.options)
      }
      Key(plan, limited.schema, files, limited.sparkSession.sessionState.conf.getAllConfs,
        maxRows, json)
    }
  }

  /** No expression anywhere in the plan (subqueries and view bodies
    * included) is nondeterministic, reads the clock, or runs user code.
    * Checked before optimization, which folds the clock into literals. */
  private def pure(analyzed: LogicalPlan): Boolean = {
    def impure(e: Expression): Boolean = !e.deterministic || e.exists {
      case _: CurrentTimestampLike | _: CurrentDate | _: CurrentTime |
           _: CurrentBatchTimestamp | _: UserDefinedExpression => true
      case _ => false
    }
    var ok = true
    analyzed.foreachWithSubqueries { p =>
      if (ok) ok = !p.isInstanceOf[Command] && !p.isInstanceOf[ObjectProducer] &&
        !p.expressions.exists(impure)
    }
    ok
  }

  /** Per leaf in plan order, its sorted `(path, length, mtime)` files;
    * None if some leaf is not one whose rows are fixed by its files or
    * its own literal data. */
  private def inputFiles(optimized: LogicalPlan): Option[Seq[Seq[(String, Long, Long)]]] = {
    val leaves = optimized.collectWithSubqueries { case p if p.children.isEmpty => p }
    val files = leaves.map {
      case l: LogicalRelation if !l.isStreaming => l.relation match {
        case HadoopFsRelation(index: PartitioningAwareFileIndex, _, _, _, _, _) =>
          Some(index.allFiles().map(f =>
            (f.getPath.toString, f.getLen, f.getModificationTime)).sorted)
        case _ => None
      }
      case l: LocalRelation if !l.isStreaming => Some(Nil)
      case _: OneRowRelation => Some(Nil)
      case r: Range if !r.isStreaming => Some(Nil)
      case _ => None
    }
    if (files.forall(_.isDefined)) Some(files.flatten) else None
  }
}
