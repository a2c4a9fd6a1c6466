package graft.log

import java.nio.file.{Files, Path}

import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.{JsonMethods, Serialization}

/** The one reader and writer of a namespace's commit metadata:
  * `commits/<id>.json` (a [[CommitRecord]] plus the `vacuumed` flag
  * reclamation sets, i.e. a [[ManifestEntry]]) and
  * `manifests/manifest-<asOf>.json` (a [[LogManifest]]). Every field is
  * required except a commit's `tag` and `replaces`, which are present
  * only on tagged and compaction commits. A file missing a required
  * field fails with an error that names the file. */
private[graft] object CommitCodec {
  /** Missing arrays and objects fail extraction like missing scalars do
    * (json4s defaults them to empty otherwise). */
  private implicit val formats: Formats = new DefaultFormats {
    override val strictArrayExtraction: Boolean = true
    override val strictMapExtraction: Boolean = true
  }

  private def commitPath(commitsDir: Path, id: Long): Path = commitsDir.resolve(f"$id%012d.json")

  private def encode(rec: CommitRecord, vacuumed: Boolean): String =
    Serialization.write(
      ManifestEntry(rec.id, rec.tsMillis, rec.topics, rec.tag, rec.replaces, vacuumed))

  /** Publish a new commit create-exclusively: the visibility point of
    * every commit (see [[WalrusLog.writeAtomicNew]]). */
  def publish(commitsDir: Path, rec: CommitRecord): Unit =
    WalrusLog.writeAtomicNew(commitPath(commitsDir, rec.id), encode(rec, vacuumed = false))

  /** Rewrite a published commit with its data reclaimed. */
  def markVacuumed(commitsDir: Path, rec: CommitRecord): Unit =
    WalrusLog.writeAtomic(commitPath(commitsDir, rec.id), encode(rec, vacuumed = true))

  /** A commit file as (record, vacuumed). */
  def readCommit(p: Path): (CommitRecord, Boolean) = {
    val e = decode[ManifestEntry](p, Files.readAllBytes(p))
    (e.record, e.vacuumed)
  }

  def writeManifest(p: Path, m: LogManifest): Unit =
    WalrusLog.writeAtomic(p, Serialization.write(m))

  def readManifest(p: Path, bytes: Array[Byte]): LogManifest = decode[LogManifest](p, bytes)

  private def decode[A: Manifest](p: Path, bytes: Array[Byte]): A =
    try JsonMethods.parse(new String(bytes, "UTF-8")).extract[A]
    catch {
      case e @ (_: org.json4s.MappingException |
          _: com.fasterxml.jackson.core.JsonProcessingException) =>
        throw new IllegalStateException(
          s"unreadable log metadata file $p: ${e.getMessage.replace('\n', ' ')}", e)
    }
}
