package graft.ingest

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.util.Try

import org.json4s._
import org.json4s.jackson.JsonMethods

/** Processed-file manifest for incremental parsing
  * (`parsed_files.json`, reference parse.py:66-95): maps data type
  * ("blocks" / "txs") to the list of already-parsed raw file names.
  *
  * Lenient-load contract (parse.py:73-83): missing file, empty file, or
  * non-dict JSON all reset to an empty manifest.
  *
  * Note: the reference's `load_new_json` (parse.py:97-111) checks file
  * names against the manifest *dict's keys* rather than the per-type
  * list — a latent bug that makes its filter a no-op. We implement the
  * intended semantics (filter against the per-type list), which is what
  * gives the incremental pipeline exactly-once file processing.
  */
final class Manifest(directory: String) {
  private val path: Path = Paths.get(directory, "parsed_files.json")
  private val empty: Map[String, Seq[String]] =
    Map("blocks" -> Nil, "txs" -> Nil)

  def load(): Map[String, Seq[String]] = {
    val parsed = for {
      text <- Try(Files.readString(path)).toOption
      if text.nonEmpty
      json <- Try(JsonMethods.parse(text)).toOption
      obj <- json match {
        case JObject(fields) => Some(fields.toMap.map {
          case (k, JArray(vs)) => k -> vs.collect { case JString(s) => s }
          case (k, _)          => k -> Seq.empty[String]
        })
        case _ => None // non-dict content resets (parse.py:76-77)
      }
    } yield empty ++ obj
    parsed.getOrElse(empty)
  }

  /** Names in `candidates` not yet recorded under `dataType`. */
  def newFiles(candidates: Seq[String], dataType: String): Seq[String] = {
    val seen = load().getOrElse(dataType, Nil).toSet
    candidates.filterNot(seen)
  }

  /** Append names under `dataType` (parse.py:87-95). */
  def record(names: Seq[String], dataType: String): Unit = Manifest.lock.synchronized {
    val cur = load()
    save(cur + (dataType -> (cur.getOrElse(dataType, Nil) ++ names)))
  }

  /** Un-record names under `dataType` — the gap-fill refetch device:
    * when a refetched raw file's name collides with an already-parsed
    * one (only possible when the recorded parse landed nothing for the
    * refetched heights), forgetting the name makes the next parse()
    * consume the overwritten content. */
  def forget(names: Seq[String], dataType: String): Unit = Manifest.lock.synchronized {
    val drop = names.toSet
    val cur = load()
    // also clear any "<dataType>:<table>" sub-keys (the parse stage's
    // per-table retry records): a refetched file must be re-consumed by
    // EVERY table, not just re-enter the umbrella pending list
    save(cur.map { case (k, vs) =>
      if (k == dataType || k.startsWith(dataType + ":"))
        k -> vs.filterNot(drop)
      else k -> vs
    })
  }

  private def save(updated: Map[String, Seq[String]]): Unit = {
    Files.createDirectories(path.getParent)
    // real JSON serialization (names can carry quotes/backslashes —
    // hand-built strings would produce invalid JSON that the lenient
    // load resets to empty, re-parsing the whole raw zone), written
    // via temp file + atomic rename so a crash mid-write can never
    // leave a torn manifest with the same empty-reset blast radius
    val json = JsonMethods.compact(JObject(
      updated.toSeq.sortBy(_._1).map { case (k, vs) =>
        k -> JArray(vs.toList.map(JString(_)))
      }.toList))
    val tmp = path.resolveSibling(path.getFileName.toString + ".tmp")
    Files.writeString(tmp, json)
    try Files.move(tmp, path, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    catch { case _: java.nio.file.AtomicMoveNotSupportedException =>
      Files.move(tmp, path, StandardCopyOption.REPLACE_EXISTING) }
  }
}

object Manifest {
  /** Serializes every read-modify-write of a manifest file in this JVM:
    * the tx tables land concurrently and each records its own key right
    * after its write, so two unserialized updates could each rewrite
    * the file from the same read and lose the other's key. */
  private val lock = new Object
}
