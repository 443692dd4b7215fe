package graft.query

import org.apache.spark.sql.{DataFrame, GraftBridge, Row}
import org.apache.spark.sql.catalyst.catalog.BucketSpec
import org.apache.spark.sql.catalyst.expressions.{Attribute, Cast, Expression, UserDefinedExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Command, CTERelationDef, CTERelationRef, LeafNode, LocalRelation, LogicalPlan, ObjectProducer, OneRowRelation, Range}
import org.apache.spark.sql.catalyst.trees.TreePattern.CURRENT_LIKE
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.datasources.{CatalogFileIndex, HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}
import org.apache.spark.sql.types.{DateType, StringType, StructType, TimestampNTZType, TimestampType}
import org.apache.spark.util.SizeEstimator

import scala.util.Try

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
  *  - the canonicalized analyzed plan of the frame passed in — the
  *    analysis `spark.sql` already did, so a hit runs no optimizer and
  *    builds no limited frame — with each file relation cut down to its
  *    format, schemas and options, and CTE ids (a global counter)
  *    renumbered by first occurrence; the key holds no session, file
  *    index or catalog entry;
  *  - the output schema (canonicalization erases aliases, and the JSON
  *    face writes the field names);
  *  - the exact input files, `(path, length, mtime)` per file of every
  *    file-relation leaf, in plan order;
  *  - the session's SQL conf, the row cap and the face (JSON lines or
  *    rows).
  *
  * A plan qualifies only if every leaf is a file relation over a
  * `PartitioningAwareFileIndex` or a partitioned catalog table's
  * `CatalogFileIndex` (keyed on all its partitions' files, as analysis
  * leaves it unpruned: every request lists the whole table, and a write
  * to any partition misses), a `LocalRelation`, `OneRowRelation`,
  * `Range` or a CTE reference (its definition's leaves are walked), and
  * no expression is nondeterministic, reads the clock, time zone or the
  * session's current database, catalog or user (Spark's `CURRENT_LIKE`
  * tree pattern), is a user function, or casts a special datetime
  * string (`'now'`, `'today'`, ...) — the optimizer folds those into
  * literals, which an analyzed key would not see.
  * Anything else — commands, RDD/V2/streaming relations, typed
  * lambdas — runs through the same function and is never stored;
  * neither is a run whose optimized plan read cached
  * (`InMemoryRelation`) data, a failed or cancelled run, nor one whose
  * file listing changed while it ran. A miss analyses and optimizes the
  * limited frame once.
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
    cached(df, maxRows, json = true) { rows =>
      JsonResult(GraftBridge.jsonLines(df.sparkSession, df.schema, rows.take(maxRows)),
        rows.length > maxRows)
    }

  /** `df`'s first `maxRows + 1` rows. */
  def rows(df: DataFrame, maxRows: Int): IndexedSeq[Row] =
    cached(df, maxRows, json = false)(identity)

  private def cached[V <: AnyRef](df: DataFrame, maxRows: Int, json: Boolean)(
      finish: IndexedSeq[Row] => V): V = {
    val key = keyOf(df, maxRows, json)
    val hit = synchronized {
      val e = key.flatMap(k => Option(entries.get(k)))
      if (e.isDefined) hits += 1 else misses += 1
      e
    }
    hit.fold {
      val limited = df.limit(maxRows + 1)
      val value = finish(scala.collection.immutable.ArraySeq.unsafeWrapArray(
        limited.collect()))
      // a run that read cached data is not a function of the files; and
      // the index a plan reads from can be refreshed while it runs, so
      // keep only a result whose listing is the one keyed
      key.filter(k => !readsCachedData(limited.queryExecution.optimizedPlan) &&
        inputFiles(df.queryExecution.analyzed).contains(k.files)).foreach(put(_, value))
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

  private def keyOf(df: DataFrame, maxRows: Int, json: Boolean): Option[Key] = {
    val analyzed = df.queryExecution.analyzed
    if (!pure(analyzed)) None
    else inputFiles(analyzed).map { files =>
      val cteIds = scala.collection.mutable.HashMap.empty[Long, Long]
      def cteId(id: Long): Long = cteIds.getOrElseUpdate(id, cteIds.size.toLong)
      val plan = analyzed.canonicalized.transformDownWithSubqueries {
        case LogicalRelation(r: HadoopFsRelation, output, _, _, _) =>
          FileLeaf(output, r.fileFormat.getClass.getName, r.dataSchema,
            r.partitionSchema, r.bucketSpec, r.options)
        case d: CTERelationDef => d.copy(id = cteId(d.id))
        case r: CTERelationRef => r.copy(cteId = cteId(r.cteId))
      }
      Key(plan, df.schema, files, df.sparkSession.sessionState.conf.getAllConfs,
        maxRows, json)
    }
  }

  /** No expression anywhere in the plan (subqueries and view bodies
    * included) is nondeterministic, reads the clock, time zone or the
    * session's current database, catalog or user, runs user code, or
    * casts a special datetime string — everything the optimizer would
    * fold into a literal that the analyzed key does not carry. */
  private def pure(analyzed: LogicalPlan): Boolean = {
    // CURRENT_LIKE marks every node that ComputeCurrentTime and
    // ReplaceCurrentLike replace with a literal
    def impure(e: Expression): Boolean = !e.deterministic ||
      e.containsPattern(CURRENT_LIKE) || e.exists {
        case _: UserDefinedExpression => true
        // Spark's SpecialDatetimeValues: a foldable string starting with a
        // letter cast to a date or timestamp may be 'now', 'today', ...; a
        // string that fails to evaluate (a branch the data never takes)
        // is not known, so it is not cached either
        case c: Cast => c.child.foldable && c.child.dataType.isInstanceOf[StringType] &&
          (c.dataType match {
            case DateType | TimestampType | TimestampNTZType =>
              Try(c.child.eval()).fold(_ => true,
                v => Option(v).exists(_.toString.trim.headOption.exists(_.isLetter)))
            case _ => false
          })
        case _ => false
      }
    var ok = true
    analyzed.foreachWithSubqueries { p =>
      if (ok) ok = !p.isInstanceOf[Command] && !p.isInstanceOf[ObjectProducer] &&
        !p.expressions.exists(impure)
    }
    ok
  }

  private def readsCachedData(optimized: LogicalPlan): Boolean =
    optimized.collectWithSubqueries { case r: InMemoryRelation => r }.nonEmpty

  /** Per leaf in plan order, its sorted `(path, length, mtime)` files;
    * None if some leaf is not one whose rows are fixed by its files, its
    * own literal data or its CTE definition (walked as a child of its
    * `WithCTE`). */
  private def inputFiles(analyzed: LogicalPlan): Option[Seq[Seq[(String, Long, Long)]]] = {
    val leaves = analyzed.collectWithSubqueries { case p if p.children.isEmpty => p }
    val files = leaves.map {
      case l: LogicalRelation if !l.isStreaming => l.relation match {
        case HadoopFsRelation(index: PartitioningAwareFileIndex, _, _, _, _, _) =>
          Some(listing(index))
        // a partitioned catalog table, unpruned at analysis: the files
        // of all its partitions
        case HadoopFsRelation(index: CatalogFileIndex, _, _, _, _, _) =>
          Some(listing(index.filterPartitions(Nil)))
        case _ => None
      }
      case l: LocalRelation if !l.isStreaming => Some(Nil)
      case _: OneRowRelation => Some(Nil)
      case r: Range if !r.isStreaming => Some(Nil)
      case r: CTERelationRef if !r.isStreaming => Some(Nil)
      case _ => None
    }
    if (files.forall(_.isDefined)) Some(files.flatten) else None
  }

  private def listing(index: PartitioningAwareFileIndex): Seq[(String, Long, Long)] =
    index.allFiles().map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).sorted
}
