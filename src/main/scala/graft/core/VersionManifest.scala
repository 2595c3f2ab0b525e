package graft.core

import org.json4s._
import org.json4s.jackson.Serialization

/** Per-file statistics kept in the version manifest — the Spark-native
  * analog of the reference's TABLE_INDEX segment, which stores one row per
  * data segment with its index [start, end) for row-slice pruning
  * (reference: cpp/arcticdb/pipeline/index_segment_reader.cpp,
  * docs/mkdocs/docs/technical/on_disk_storage.md:41-56).
  *
  * minIdx/maxIdx are in the index column's canonical long unit (ns for
  * long indexes, µs for timestamp indexes); for STRING-keyed indexes
  * (the reference's four index kinds include a string TableIndex,
  * cpp/arcticdb/stream/index.hpp:84) the bounds live in minStr/maxStr
  * instead (lexicographic UTF-8 order — the order Spark's range
  * partitioner and parquet's binary stats both use). rowOffset is the
  * cumulative row count of all preceding files in index order — this is
  * what makes head/tail/row_range a FILE-PRUNING operation instead of a
  * global sort. Index order is one rule for both families: by lower
  * bound, then path, files without bounds last (Library's `IdxKeys`,
  * which also decodes the bounds from parquet footers).
  *
  * bytes/mtimeMs are the file's length and modification time as the
  * committing listing saw them (the reference's index rows likewise carry
  * everything a reader needs to fetch a segment). They let a read plan its
  * scan without listing storage (Library.readFiles). Entries written by
  * builds that predate them decode as None and are listed at read time.
  * mtimeMs is informational only: a store whose rename copies (object
  * stores) gives the moved file a newer one, which no reader checks.
  */
final case class FileEntry(
    path: String,
    rows: Long,
    rowOffset: Long,
    minIdx: Option[Long],
    maxIdx: Option[Long],
    minStr: Option[String] = None,
    maxStr: Option[String] = None,
    bytes: Option[Long] = None,
    mtimeMs: Option[Long] = None) {

  /** (bytes, mtimeMs) when the manifest recorded the file's status. */
  def status: Option[(Long, Long)] = for (b <- bytes; t <- mtimeMs) yield (b, t)
}

/** One immutable version of a symbol — the analog of the reference's
  * VERSION key pointing at a TABLE_INDEX (cpp/arcticdb/entity/key.hpp:62-123).
  * Versions only ever ADD manifest files; data files are shared across
  * versions (append reuses every prior file — the reference's fast append,
  * library.py:1361).
  */
final case class VersionManifest(
    version: Int,
    indexCol: Option[String],
    sorted: Boolean,
    files: Vector[FileEntry],
    rowCount: Long,
    createdAtMs: Long,
    schemaDdl: String,
    deleted: Boolean = false,
    metadata: Map[String, String] = Map.empty,
    /** Physical schema each data directory was written with — needed under
      * dynamic schema, where files written before an evolution keep their
      * original layout and are aligned at read time. Missing entry ⇒ the
      * dir was written with `schemaDdl` (pre-dynamic manifests).
      */
    dirSchemas: Map[String, String] = Map.empty,
    /** Delta STORAGE encoding (Library.commitManifest) — the scale fix
      * for manifest write amplification: a 100 TB symbol holds ~10⁵ file
      * entries, and storing the full list per version makes every daily
      * append an O(all files) manifest rewrite. When `baseVersion` is
      * set, the stored `files` is EMPTY and the logical list is
      * base.files minus `removedPaths` plus `addedFiles`, re-sorted by
      * rowOffset (each entry carries its own offset, so order is
      * recoverable). Library.manifest() resolves chains transparently —
      * no reader below it ever sees a delta — and full "checkpoint"
      * manifests bound chain length (same shape as Delta Lake's
      * log-plus-checkpoint). `chainDepth` is the stored chain length
      * (0 = full), used only to decide when to checkpoint.
      */
    baseVersion: Option[Int] = None,
    addedFiles: Vector[FileEntry] = Vector.empty,
    removedPaths: Vector[String] = Vector.empty,
    chainDepth: Int = 0,
    /** On-disk format major this manifest REQUIRES its reader to
      * understand (Delta Lake's minReaderVersion discipline; the
      * reference keeps a whole cross-version compat fixture tree —
      * python/tests/compat/, pinned back to requirements-1.6.2.txt —
      * because stored data outlives engine builds). Absent in
      * historical JSON ⇒ decodes as 1 (full manifests). 2 = delta
      * STORAGE encoding (`baseVersion`/`addedFiles`/`removedPaths`): a
      * decoder without the delta fields would json4s-default them away
      * and silently read an EMPTY symbol — the failure class
      * [[VersionManifest.fromJson]]'s loud unknown-major refusal kills.
      * Writers stamp the MINIMUM required major ([[VersionManifest.toJson]]),
      * so checkpoints and plain manifests stay readable by older majors.
      */
    formatVersion: Int = 1)

object VersionManifest {
  implicit val formats: Formats = Serialization.formats(NoTypeHints)

  /** Highest on-disk format major this build understands. */
  val CurrentFormat = 2

  /** Minimum format major a reader needs for `m`: 2 for delta-encoded
    * storage, 1 for anything fully expressed by the `files` list
    * (including checkpoints — self-contained by construction).
    */
  def requiredFormat(m: VersionManifest): Int =
    if (m.baseVersion.isDefined || m.addedFiles.nonEmpty ||
      m.removedPaths.nonEmpty) 2
    else 1

  /** The loud refusal shared by the production decoder and compat
    * specs: a manifest stamped with a GREATER major than the decoder
    * understands must fail here, never be field-defaulted into a
    * silently-wrong (typically empty) read.
    */
  def checkFormat(found: Int, current: Int, what: String): Unit =
    require(found <= current,
      s"$what has formatVersion $found but this build reads <= $current — " +
        "refusing to decode (newer fields would be silently dropped, e.g. " +
        "a delta manifest would read as an empty file list); upgrade the " +
        "engine to a build that understands this format")

  // compact, not pretty: at 10^5 file entries pretty-printing roughly
  // doubles every manifest and checkpoint on disk and over the wire.
  // The stamp is computed here, not trusted from the caller: every
  // writer path stamps the minimum required major by construction.
  def toJson(m: VersionManifest): String =
    Serialization.write(m.copy(formatVersion = requiredFormat(m)))

  def fromJson(s: String): VersionManifest = {
    // check the stamp BEFORE field extraction: a future major may not
    // even field-map onto this build's case class, and the refusal must
    // name the real cause, not a json4s mapping error. One parse only —
    // at 10^5 file entries a second decode doubles the cold
    // resolveVersion cost.
    val jv = org.json4s.jackson.JsonMethods.parse(s)
    val fv = jv \ "formatVersion" match {
      case JInt(n) => n.toInt
      case _ => 1
    }
    checkFormat(fv, CurrentFormat, "version manifest")
    org.json4s.Extraction.extract[VersionManifest](jv)
  }
}

/** Named cross-symbol consistent view (reference: library.py:2626
  * `snapshot`, cpp/arcticdb/version/snapshot.cpp). `versions` may pin
  * non-latest versions; `metadata` is caller-provided annotation.
  */
final case class SnapshotManifest(
    name: String,
    createdAtMs: Long,
    versions: Map[String, Int],
    metadata: Map[String, String] = Map.empty,
    /** Same compat discipline as [[VersionManifest.formatVersion]];
      * snapshots have one shape so far, so 1 is both the stamp and the
      * ceiling this build reads.
      */
    formatVersion: Int = 1)

object SnapshotManifest {
  implicit val formats: Formats = Serialization.formats(NoTypeHints)

  /** Highest snapshot format major this build understands. */
  val CurrentFormat = 1

  def toJson(m: SnapshotManifest): String =
    Serialization.writePretty(m.copy(formatVersion = CurrentFormat))

  def fromJson(s: String): SnapshotManifest = {
    val jv = org.json4s.jackson.JsonMethods.parse(s)
    val fv = jv \ "formatVersion" match {
      case JInt(n) => n.toInt
      case _ => 1
    }
    VersionManifest.checkFormat(fv, CurrentFormat, "snapshot manifest")
    org.json4s.Extraction.extract[SnapshotManifest](jv)
  }
}
