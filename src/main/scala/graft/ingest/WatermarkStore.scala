package graft.ingest

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.json4s._
import org.json4s.jackson.JsonMethods

/** Height-watermark state over a raw-zone directory of
  * `{start}_{end}.json` files (reference extract.py:474-551).
  *
  * Protocol contract pinned by the reference's own tests
  * (tests/extract_test.py:30-67):
  *  - min/max heights derive from FILENAMES (`100_200.json` → 100, 200);
  *    empty directory → 0;
  *  - `metadata.json` `{min_height, max_height}`; missing file or key
  *    → 0 (the FileNotFoundError/KeyError fallback, extract.py:487-488);
  *  - `validate` compares metadata against filenames; `updateFromFiles`
  *    repairs metadata from filenames.
  */
final class WatermarkStore(directory: String) {
  private val metaPath: Path = Paths.get(directory, "metadata.json")

  private def heightFiles: Seq[String] = {
    val dir = Paths.get(directory)
    if (!Files.isDirectory(dir)) Nil
    else {
      val stream = Files.list(dir) // close: leaks a directory fd per call
      try stream.iterator().asScala
        .map(_.getFileName.toString)
        .filter(n => n.endsWith(".json") && n.count(_ == '_') == 1 && n != "metadata.json")
        .toSeq
      finally stream.close()
    }
  }

  def minHeightFromFiles: Long = {
    val mins = heightFiles.flatMap(n => Try(n.split("_")(0).toLong).toOption)
    if (mins.isEmpty) 0L else mins.min
  }

  def maxHeightFromFiles: Long = {
    val maxs = heightFiles.flatMap(n =>
      Try(n.split("_")(1).stripSuffix(".json").toLong).toOption)
    if (maxs.isEmpty) 0L else maxs.max
  }

  private def metaField(field: String): Long =
    (for {
      text <- Try(Files.readString(metaPath)).toOption
      json <- Try(JsonMethods.parse(text)).toOption
      v <- (json \ field) match {
        case JInt(i)  => Some(i.toLong)
        case JLong(l) => Some(l)
        case _        => None // missing key → 0 (extract.py:487-488)
      }
    } yield v).getOrElse(0L)

  def minIngested: Long = metaField("min_height")
  def maxIngested: Long = metaField("max_height")

  def write(minHeight: Long, maxHeight: Long): Unit = {
    Files.createDirectories(metaPath.getParent)
    // tmp + atomic rename (Manifest.save's discipline): an in-place
    // write torn by a crash leaves partial JSON, which the lenient
    // reader silently resets to watermark 0 — a healthy zone reads as
    // never-ingested until a repair runs
    val tmp = metaPath.resolveSibling(metaPath.getFileName.toString + ".tmp")
    Files.writeString(tmp,
      s"""{"min_height":$minHeight,"max_height":$maxHeight}""")
    Files.move(tmp, metaPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** metadata matches filename-derived truth (extract.py:516-528). */
  def validate(): Boolean =
    minHeightFromFiles == minIngested && maxHeightFromFiles == maxIngested

  /** repair metadata from filenames (extract.py:530-536). */
  def updateFromFiles(): Unit = write(minHeightFromFiles, maxHeightFromFiles)
}

/** Quarantine ledger: `errors/error_heights.txt`, one height per line
  * (extract.py:88-89; consumed by the gap-fill planner,
  * pipelines/pipeline.py:99-109). Missing file → empty.
  *
  * The ledger is a SET of heights, so both ends dedup: `append` skips
  * heights already present (a retried extract or a restored gap-fill
  * claim re-appends the same heights), and `read` returns distinct
  * values (repairs ledgers written before this invariant held). */
object ErrorHeights {
  // the kind-less file keeps the reference's exact layout (its extractor
  // only tracked tx heights); the pipeline uses PER-KIND ledgers
  // (`error_heights_{blocks,txs}.txt`) because blocks and txs quarantine
  // independently and gap-fill must re-extract only the kind that
  // actually failed — re-fetching the OTHER kind's already-landed
  // heights would duplicate rows in its parsed zone
  private def path(directory: String, kind: Option[String]): Path =
    Paths.get(directory, "errors",
      kind.fold("error_heights.txt")(k => s"error_heights_$k.txt"))

  def read(directory: String): Seq[Long] = readFile(path(directory, None))
  def read(directory: String, kind: String): Seq[Long] =
    readFile(path(directory, Some(kind)))

  // synchronized with the writers: append/remove rewrite the file in
  // place (truncate-then-write), so an unsynchronized read could see a
  // torn line (NumberFormatException fails the gap-fill task) or a
  // cleanly-truncated prefix (silently dropped ledgered heights)
  private def readFile(p: Path): Seq[Long] = synchronized {
    if (!Files.isRegularFile(p)) Nil
    else Files.readAllLines(p).asScala.toSeq
      .map(_.trim).filter(_.nonEmpty).map(_.toLong).distinct
  }

  // append is a read-modify-write: serialize it within the JVM, so
  // concurrent driver threads sharing one ledger never lose each
  // other's heights. Appends run on the driver only, so a JVM lock is
  // sufficient; multiple driver PROCESSES writing one ledger are out of
  // contract.
  def append(directory: String, heights: Seq[Long]): Unit =
    appendTo(path(directory, None), heights)
  def append(directory: String, kind: String, heights: Seq[Long]): Unit =
    appendTo(path(directory, Some(kind)), heights)

  private def appendTo(p: Path, heights: Seq[Long]): Unit = synchronized {
    if (heights.isEmpty) return
    Files.createDirectories(p.getParent)
    val existing = readFile(p).toSet
    val fresh = heights.distinct.filterNot(existing)
    if (fresh.isEmpty) return
    val raw = if (Files.isRegularFile(p)) Files.readString(p) else ""
    // a legacy ledger (reference extractor, hand edits) may lack the
    // trailing newline — blind concat would fuse its last height with
    // the first appended one ("101" + "200" → bogus 101200, real 101
    // lost from gap-fill). read() repairs such files; append must not
    // corrupt them.
    val prefix =
      if (raw.nonEmpty && !raw.endsWith("\n")) raw + "\n" else raw
    Files.writeString(p, prefix + fresh.mkString("", "\n", "\n"))
  }

  /** Drop heights from a per-kind ledger — the gap-fill CLAIM step:
    * claimed heights leave the ledger before the refetch, and a
    * still-failing page re-appends its heights through the normal
    * quarantine path, so healed heights clear while persistent
    * failures stay. */
  def remove(directory: String, kind: String, heights: Seq[Long]): Unit =
    synchronized {
      val p = path(directory, Some(kind))
      if (heights.isEmpty || !Files.isRegularFile(p)) return
      val drop = heights.toSet
      val keep = readFile(p).filterNot(drop)
      Files.writeString(p,
        if (keep.isEmpty) "" else keep.mkString("", "\n", "\n"))
    }
}
