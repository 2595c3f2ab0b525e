package graft.core

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.ManifestScan
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import org.apache.parquet.hadoop.metadata.BlockMetaData
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.PrimitiveType

import java.nio.charset.StandardCharsets
import java.util.UUID

/** A Library is a namespace of versioned symbols over object storage —
  * the Spark-native re-expression of the reference's serverless store
  * (reference: python/arcticdb/arctic.py:238 create_library,
  * python/arcticdb/version_store/library.py:879).
  *
  * Layout (any Hadoop-visible FS: file://, hdfs://, s3a://):
  * {{{
  *   <root>/<symbol>/data/v00000/part-*.parquet   // files of version n's delta
  *   <root>/<symbol>/_versions/v00000.json        // manifest (file list + stats)
  *   <root>/<symbol>/_staged/<uuid>/part-*.parquet// out-of-band staged segments
  *   <root>/_snapshots/<name>.json                // cross-symbol snapshot
  * }}}
  *
  * Versioning replaces the reference's four-layer key tree
  * (VERSION_REF→VERSION→TABLE_INDEX→TABLE_DATA, entity/key.hpp:62-123):
  * the manifest IS the table index; "latest version" = highest manifest
  * number present (a directory listing — the VERSION_REF analog). Commits
  * are atomic via write-temp + no-overwrite rename; on S3 this must be a
  * conditional put (same single-writer last-wins model as the reference,
  * on_disk_storage.md:29-31).
  *
  * Scale notes (100 TB): data files are immutable and shared across
  * versions, so append is O(new data); update rewrites only the files
  * whose [minIdx, maxIdx] intersect the range (the reference's segment
  * splice, _store.py:1103); reads prune files by manifest stats before
  * Spark ever lists them.
  *
  * Index order: a manifest lists its files index-disjoint, by lower
  * bound, then path, files without bounds last, with cumulative
  * rowOffsets in that order. The rule lives in one place, the companion's
  * `IdxKeys` (one instance per key family: long-unit or string, chosen
  * from the stored index type); every commit site sorts, checks
  * disjointness and decodes footer bounds through it.
  */
final class Library(
    val root: String,
    spark: SparkSession,
    /** Per-library defaults (reference LibraryOptions, options.py:21) —
      * set by Graft.createLibrary from the stored `_options.json`;
      * per-call `targetRows`/`dynamicSchema` arguments still override.
      */
    val options: LibraryOptions = LibraryOptions()) {
  import Library._

  private val hconf = spark.sparkContext.hadoopConfiguration
  private def fs(p: Path): FileSystem = p.getFileSystem(hconf)

  // ------------------------------------------------------------ paths

  private def symDir(symbol: String) = new Path(root, symbol)
  private def versionsDir(symbol: String) = new Path(symDir(symbol), "_versions")

  /** Data dir for a new version's delta — version-prefixed for humans but
    * UNIQUE PER ATTEMPT (uuid suffix): two concurrent writers targeting the
    * same version number must land in different dirs, or the manifest
    * winner's footerStats would list the union of both jobs' part files
    * (Spark's errorifexists dir check is check-then-act). The loser's dir
    * becomes unreferenced garbage that prunePreviousVersions GCs; manifests
    * reference files by full relative path, so names are otherwise free.
    */
  private def dataDir(symbol: String, v: Int) =
    new Path(new Path(symDir(symbol), "data"),
      f"v$v%05d" + s"_${UUID.randomUUID().toString.take(8)}")
  private def stagedDir(symbol: String) = new Path(symDir(symbol), "_staged")
  private def snapshotsDir = new Path(root, "_snapshots")

  // ------------------------------------------------------- manifest io

  private def writeString(p: Path, s: String): Unit = {
    val f = fs(p)
    val out = f.create(p, false)
    try out.write(s.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  private def readString(p: Path): String = {
    val f = fs(p)
    val in = f.open(p)
    try new String(in.readAllBytes(), StandardCharsets.UTF_8)
    finally in.close()
  }

  /** Atomic manifest commit (compare-and-set on version existence).
    * Returns false if the version already exists (lost race); its one
    * caller, [[commitVersion]], applies the lost-race rule. The per-backend
    * atomic no-overwrite primitive lives in [[CommitCas]] (link on local
    * FS, rename on HDFS, conditional PUT on S3A) and is race-tested
    * directly by the six-writer specs.
    */
  private def commitManifest(symbol: String, m: VersionManifest): Boolean = {
    val dir = versionsDir(symbol)
    val f = fs(dir)
    f.mkdirs(dir)
    val target = new Path(dir, f"v${m.version}%05d.json")
    if (f.exists(target)) return false // cheap fast-path; CommitCas below is the CAS
    CommitCas.forFs(f).commit(f, target, VersionManifest.toJson(deltaEncode(symbol, m)))
  }

  /** Delta chains longer than this checkpoint to a full manifest — the
    * chain walk is one cached driver read per link, so 16 bounds cold
    * resolution without giving back the write-amplification win.
    */
  private val MaxManifestChain = 16

  /** Store a version as a delta against its predecessor when that is
    * materially smaller than the full file list — the O(new data)
    * manifest commit that lets a daily append on a 10⁵-file symbol write
    * kilobytes instead of re-serializing every entry. Falls back to a
    * full manifest when: there is no readable predecessor, the list is
    * small (< 64 files — full is already cheap), the change touches a
    * large fraction of entries (update/deleteRange shift downstream
    * rowOffsets; tombstones empty the list), or the chain is due a
    * checkpoint. Any failure reading the predecessor ⇒ full manifest —
    * delta encoding is an optimization, never a correctness dependency.
    */
  private def deltaEncode(symbol: String, m0: VersionManifest): VersionManifest = {
    // Normalize chainDepth at the ONE commit choke point (r20 review):
    // several commit sites (compact, update-splice, writeMetadata,
    // tombstone) derive the new manifest by copy() of a RESOLVED
    // manifest, which retains the SOURCE's stored chainDepth — stale
    // metadata on what is now a full manifest. Left unfixed, the depth
    // counter never resets at materialization boundaries, so later
    // appends hit MaxManifestChain early and pay full O(files) manifest
    // rewrites they shouldn't. A full manifest is depth 0 by
    // definition; only the delta branch below assigns a real depth.
    val m = if (m0.chainDepth == 0) m0 else m0.copy(chainDepth = 0)
    // mixed-fleet pin (LibraryOptions.maxManifestFormat): while old
    // engine builds still read this library, every write stays a full
    // format-1 manifest — delta storage stamps formatVersion 2, which
    // a pre-delta reader (correctly, loudly) refuses
    if (options.maxManifestFormat < 2) return m
    if (m.files.size < 64) return m
    val prev =
      try listVersions(symbol).filter(_ < m.version).lastOption.map(v => (v, manifest(symbol, v)))
      catch { case scala.util.control.NonFatal(_) => None }
    prev match {
      case Some((pv, p)) if p.chainDepth < MaxManifestChain =>
        val newByPath = m.files.iterator.map(f => f.path -> f).toMap
        val prevByPath = p.files.iterator.map(f => f.path -> f).toMap
        val added = m.files.filter(f => !prevByPath.get(f.path).contains(f))
        val removed = p.files.collect {
          case f if !newByPath.get(f.path).contains(f) => f.path
        }
        if ((added.size + removed.size) * 2 < m.files.size)
          m.copy(files = Vector.empty, baseVersion = Some(pv),
            addedFiles = added, removedPaths = removed,
            chainDepth = p.chainDepth + 1)
        else m
      case _ => m
    }
  }

  /** Rewrite every surviving stored manifest whose delta chain passes
    * through a version in `doomed` as a FULL manifest, so hard-deleting
    * those versions cannot orphan a dependent. Runs before the deletes;
    * the overwrite is an admin repair, not a racing commit (the CAS
    * protects version-number allocation, which this does not change).
    */
  private def materializeChainsThrough(symbol: String, doomed: Set[Int]): Unit = {
    if (doomed.isEmpty) return
    val vDir = versionsDir(symbol)
    val vfs = fs(vDir)
    listVersions(symbol).filterNot(doomed).foreach { v =>
      // stored (not cached-logical) form — the chain membership lives here
      def chainHitsDoomed(version: Int): Boolean = {
        val stored = VersionManifest.fromJson(
          readString(new Path(vDir, f"v$version%05d.json")))
        stored.baseVersion.exists(b => doomed(b) || chainHitsDoomed(b))
      }
      if (chainHitsDoomed(v)) {
        val full = manifest(symbol, v) // logical, chain intact pre-delete
        val target = new Path(vDir, f"v$v%05d.json")
        // deliberate in-place OVERWRITE (not writeString/CommitCas): this
        // repairs an existing version file, it does not allocate one
        val out = vfs.create(target, true)
        try out.write(VersionManifest.toJson(full.copy(chainDepth = 0))
          .getBytes(StandardCharsets.UTF_8))
        finally out.close()
        manifestCache.remove((symbol, v))
      }
    }
  }

  def listVersions(symbol: String): Seq[Int] = {
    val dir = versionsDir(symbol)
    val f = fs(dir)
    if (!f.exists(dir)) Seq.empty
    else
      f.listStatus(dir).toSeq
        .map(_.getPath.getName)
        .collect { case VersionFile(n) => n.toInt }
        .sorted
  }

  def latestVersion(symbol: String): Option[Int] = listVersions(symbol).lastOption

  /** Highest version number ever allocated for `symbol`, even if since
    * freed by delete(versions). The reference keeps version ids monotone
    * and never reuses them (its version chain holds tombstoned entries),
    * so an `AsOf.Version(n)` — or another handle's manifest cache keyed on
    * (symbol, n) — can trust a version id to mean ONE dataset forever.
    * Persisted as a plain marker (not CAS-guarded: it only ever grows, and
    * version-number CAS still arbitrates actual commits).
    */
  private def highWater(symbol: String): Int = {
    val p = new Path(versionsDir(symbol), Library.HighWaterFile)
    val f = fs(p)
    if (!f.exists(p)) -1
    else
      try readString(p).trim.toInt
      catch { case _: NumberFormatException => -1 }
  }

  private def recordHighWater(symbol: String, v: Int): Unit =
    if (v > highWater(symbol)) {
      val p = new Path(versionsDir(symbol), Library.HighWaterFile)
      val out = fs(p).create(p, true)
      try out.write(v.toString.getBytes(StandardCharsets.UTF_8))
      finally out.close()
    }

  /** First version number a new commit may claim on top of `base`: one
    * past the max of the base version and the persisted high-water mark,
    * so numbers freed by delete(versions) are never reborn.
    */
  private def nextVersion(symbol: String, base: Int): Int =
    math.max(base, highWater(symbol)) + 1

  /** The one version commit: every new version of a symbol lands here.
    * `build(first)` runs once, with the first version number tried — a
    * caller that writes data before committing does it there and names
    * its dir after `first` (manifests reference files by full relative
    * path, so the name need not match the number that wins). It returns
    * the per-attempt builder, which gets the latest version number the
    * attempt builds on. `version` and `createdAtMs` are stamped here on
    * every attempt, so builders leave them at any value.
    *
    * What a lost CAS does depends on whether the caller pins a base:
    *  - pinned (`base` = the version its files were computed against:
    *    append, update, deleteRange, merge, compact, an appending
    *    finalizeStaged): one attempt at the number after the base, and a
    *    loss throws. Re-committing on top of the winner would publish the
    *    stale base's file list and silently drop the winner's rows; the
    *    caller re-reads and re-runs the operation. The builder gets None.
    *  - no base (write, a writing finalizeStaged, writeMetadata,
    *    restoreVersion, delete): a loss re-reads the latest version and
    *    builds the next manifest on top of it, so no commit is lost. Pure
    *    writes ignore the latest version (last writer wins, the
    *    reference's model); the others rebuild from its manifest.
    */
  private def commitVersion(symbol: String, op: String, base: Option[Int])(
      build: Int => Option[Int] => VersionManifest): Int = {
    def latest() = if (base.isDefined) None else latestVersion(symbol)
    var top = latest()
    var v = nextVersion(symbol, base.orElse(top).getOrElse(-1))
    val next = build(v)
    while (!commitManifest(symbol,
        next(top).copy(version = v, createdAtMs = System.currentTimeMillis()))) {
      if (base.isDefined)
        throw new java.util.ConcurrentModificationException(
          s"$symbol: version $v was committed concurrently; re-run $op")
      top = latest()
      v = nextVersion(symbol, top.getOrElse(-1))
    }
    v
  }

  /** Concurrent: the batch APIs submit per-symbol jobs from a driver
    * thread pool, so the cache must tolerate concurrent readers/writers.
    */
  private val manifestCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Int), VersionManifest]()

  def manifest(symbol: String, version: Int): VersionManifest = {
    val key = (symbol, version)
    val cached = manifestCache.get(key)
    if (cached != null) return cached
    // resolveStored may recurse into manifest() for the delta base — that
    // recursion must happen OUTSIDE a computeIfAbsent mapping function
    // (a ConcurrentHashMap mapping function must not update the map it is
    // computing into; see the q69 front-door note for the failure mode).
    // putIfAbsent makes a racing duplicate computation harmless.
    val logical = resolveStored(symbol, version,
      VersionManifest.fromJson(
        readString(new Path(versionsDir(symbol), f"v$version%05d.json"))))
    manifestCache.putIfAbsent(key, logical)
    logical
  }

  /** Resolve a delta-encoded stored manifest to its LOGICAL form: walk to
    * the base (through the cache — bases are full or already resolved),
    * drop removed paths, splice added entries, restore index order via
    * each entry's own rowOffset. Readers below manifest() never see a
    * delta. A missing base is a loud error (it means an admin delete
    * removed a base without materializing its dependents — see
    * materializeChainsThrough).
    */
  private def resolveStored(
      symbol: String, version: Int, stored: VersionManifest): VersionManifest =
    stored.baseVersion match {
      case None => stored
      case Some(b) =>
        val base =
          try manifest(symbol, b)
          catch {
            case e: java.io.FileNotFoundException =>
              throw new IllegalStateException(
                s"$symbol v$version delta-chains to missing base v$b", e)
          }
        val removed = stored.removedPaths.toSet
        val files = (base.files.filterNot(f => removed(f.path)) ++ stored.addedFiles)
          .sortBy(f => (f.rowOffset, f.path))
        stored.copy(files = files, baseVersion = None,
          addedFiles = Vector.empty, removedPaths = Vector.empty)
    }

  /** Physical schema of a data file, from the manifest's dir→schema map
    * (files are immutable; dynamic-schema appends never rewrite them).
    */
  private def fileSchemaDdl(m: VersionManifest, f: FileEntry): String =
    m.dirSchemas.getOrElse(f.path.takeWhile(_ != '/'), m.schemaDdl)

  /** has_symbol(symbol, as_of=) (reference: library.py:2823): symbol
    * existence now, or as of a version/snapshot/timestamp.
    */
  def hasSymbol(symbol: String, asOf: AsOf = AsOf.Latest): Boolean = asOf match {
    case AsOf.Latest => latestVersion(symbol).exists(v => !manifest(symbol, v).deleted)
    case other =>
      // absence signals only — a storage fault must not read as "absent"
      try !resolveVersion(symbol, other).deleted
      catch {
        case _: NoSuchElementException => false
        case _: java.io.FileNotFoundException => false
      }
  }

  /** Candidate symbol directories (one root listing, no per-symbol IO) —
    * may include stray dirs with no versions; callers filter with
    * hasSymbol/listVersions as their semantics require, paying ONE
    * per-symbol listing instead of two.
    */
  private def listSymbolDirs(): Seq[String] = {
    val rootP = new Path(root)
    val f = fs(rootP)
    if (!f.exists(rootP)) Seq.empty
    else
      f.listStatus(rootP).toSeq
        .filter(_.isDirectory)
        .map(_.getPath.getName)
        .filterNot(_.startsWith("_"))
        .sorted
  }

  /** list_symbols(snapshot_name=, regex=) (reference: library.py:2802-2821):
    * the symbols live now, or — with `snapshotName` — the symbols that
    * snapshot pinned (the natural companion to as-of reads after deletes).
    * `regex` filters either listing, unanchored (the reference's re.search
    * semantics).
    */
  def listSymbols(
      snapshotName: Option[String] = None,
      regex: Option[String] = None): Seq[String] = {
    val base = snapshotName match {
      case Some(name) =>
        SnapshotManifest.fromJson(readString(new Path(snapshotsDir, s"$name.json")))
          .versions.keys.toSeq.sorted
      case None => listSymbolDirs().filter(hasSymbol(_)) // one listing per symbol
    }
    regex match {
      case Some(r) =>
        val p = java.util.regex.Pattern.compile(r)
        base.filter(s => p.matcher(s).find())
      case None => base
    }
  }

  /** list_versions (reference: library.py:2875-2930): one record per
    * (symbol, version) with creation time, tombstone flag and the
    * snapshots pinning it. `symbol` scopes to one symbol; `snapshot`
    * lists exactly that snapshot's pinned versions; `latestOnly` keeps
    * the highest version per symbol; `skipSnapshots` omits the
    * snapshot-membership scan (one manifest read per snapshot).
    */
  def listVersionsInfo(
      symbol: Option[String] = None,
      snapshot: Option[String] = None,
      latestOnly: Boolean = false,
      skipSnapshots: Boolean = false): Seq[VersionInfo] = {
    val pins: Map[(String, Int), Seq[String]] =
      if (skipSnapshots) Map.empty
      else
        snapshotManifests()
          .flatMap(sm => sm.versions.toSeq.map { case (s, v) => (s, v) -> sm.name })
          .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val pairs: Seq[(String, Int)] = snapshot match {
      case Some(name) =>
        SnapshotManifest.fromJson(readString(new Path(snapshotsDir, s"$name.json")))
          .versions.toSeq.filter(p => symbol.forall(_ == p._1))
      case None =>
        symbol.map(Seq(_)).getOrElse(listSymbolDirs())
          .flatMap(s => listVersions(s).map(s -> _))
    }
    val infos = pairs.sorted.map { case (s, v) =>
      val m = manifest(s, v)
      VersionInfo(s, v, m.createdAtMs, m.deleted, pins.getOrElse((s, v), Seq.empty))
    }
    if (latestOnly)
      infos.groupBy(_.symbol).values.map(_.maxBy(_.version)).toSeq.sortBy(_.symbol)
    else infos
  }

  // ------------------------------------------------------------ write

  /** The four first-class index kinds of the reference (stream/index.hpp:84):
    * timestamp, long/int, date — long-unit here — and string TableIndex.
    */
  private def isStringIdx(t: DataType): Boolean = t == StringType

  /** The [[IdxKeys]] family of an index type, chosen once per commit or
    * read from the STORED type. Unindexed data (None) carries no bounds,
    * so either family orders its files by path alone.
    */
  private def keysOf(t: Option[DataType]): IdxKeys =
    if (t.exists(isStringIdx)) StrKeys else LongKeys

  /** Index-unit family: range bounds and residual filters only line up
    * WITHIN a family — long/int index values are raw epoch-ns (Ts.scala),
    * timestamp/date indexes convert to epoch-µs (idxAsLong, the manifest
    * unit), strings compare bytewise. A cross-family patch frame (ns longs
    * against a timestamp-indexed symbol, or vice versa) would pass a bare
    * string-vs-non-string check and then silently compare ns against µs,
    * keeping/discarding the wrong patch rows — so it is rejected up front.
    */
  private def idxFamily(t: DataType): String = t match {
    case StringType => "string"
    case LongType | IntegerType => "integer(ns)"
    case TimestampType | TimestampNTZType | DateType => "time(µs)"
    case other => other.simpleString
  }

  private def requireSameIdxFamily(idx: String, frameT: DataType, storedT: DataType): Unit =
    require(idxFamily(frameT) == idxFamily(storedT),
      s"index column $idx: frame has ${frameT.simpleString} " +
        s"(${idxFamily(frameT)}) but the symbol's index is " +
        s"${storedT.simpleString} (${idxFamily(storedT)}) — mixed index " +
        "unit families compare raw ns against µs; cast the frame's index " +
        "to the stored type first")

  /** Inclusive index range of one key family ([[IdxKeys.Range]]). */
  private type KeyRange = IdxKeys#Range

  /** A caller's explicit range — `dateRange` (epoch-ns, long-unit
    * indexes) or `keyRange` (string indexes) — in the manifest unit of
    * index type `t`.
    */
  private def explicitRange(
      t: => DataType,
      dateRange: Option[(Long, Long)],
      keyRange: Option[(String, String)]): Option[KeyRange] =
    dateRange.map[KeyRange] { case (lo, hi) =>
      val (l, h) = Ts.nsRangeToIdxUnit(lo, hi, t); new LongKeys.Range(l, h)
    }.orElse(keyRange.map { case (lo, hi) => new StrKeys.Range(lo, hi) })

  /** The range kind must match the STORED index type `t` (None: the
    * symbol has no index): a keyRange against a long index would otherwise
    * prune nothing and null-cast the residual filter into a silent empty
    * result, a range on an unindexed symbol would silently return every
    * row, and a deleteRange of the other kind would commit a no-op version.
    */
  private def requireRangeKind(
      symbol: String,
      t: Option[DataType],
      dateRange: Option[(Long, Long)],
      keyRange: Option[(String, String)]): Unit = {
    require((dateRange.isEmpty && keyRange.isEmpty) || t.isDefined,
      s"$symbol has no index — dateRange/keyRange need an indexed symbol")
    require(dateRange.isEmpty || !t.exists(isStringIdx),
      s"$symbol has a string index — use keyRange, not dateRange")
    require(keyRange.isEmpty || t.forall(isStringIdx),
      s"$symbol has a ${t.fold("")(_.simpleString)} index — use dateRange, not keyRange")
  }

  /** The stored index column's type; None for an unindexed symbol. */
  private def idxTypeOf(m: VersionManifest): Option[DataType] =
    m.indexCol.map(i => schemaOf(m.schemaDdl)(i).dataType)

  /** The range family comes from the STORED index type, never the patch
    * frame's: a mistyped patch (long keys against a string index) would
    * otherwise build the wrong KeyRange kind, match zero files via the
    * strict-intersect rule, and splice-append overlapping rows — silently
    * breaking the files-are-index-disjoint invariant.
    */
  private def keyRangeFor(m: VersionManifest, df: DataFrame, idx: String): KeyRange = {
    val storedT = schemaOf(m.schemaDdl)(idx).dataType
    requireSameIdxFamily(idx, df.schema(idx).dataType, storedT)
    val r = keysOf(Some(storedT)).frameRange(df, idx)
    require(r.isDefined, "update with empty frame")
    r.get
  }

  /** `files` in index order with cumulative rowOffsets, continuing after
    * the last of `after` — the one row-offset numbering every commit uses.
    */
  private def renumber(files: Seq[FileEntry], after: Seq[FileEntry] = Nil): Vector[FileEntry] = {
    var offset = after.lastOption.fold(0L)(f => f.rowOffset + f.rows)
    files.iterator.map { f => val e = f.copy(rowOffset = offset); offset += f.rows; e }.toVector
  }

  /** Write df's rows into `dir` sorted+range-partitioned by the index and
    * return its files' entries in index order (rowOffsets are the
    * committing caller's to number). targetRows controls file
    * geometry — the analog of the reference's 100k-row segment slicing
    * (pipeline/slicing.hpp:23-34) scaled up for Parquet/Spark.
    *
    * Stats (rows, index min/max) come from the parquet FOOTERS of what was
    * just written — O(files) metadata reads, never a second pass over the
    * data (at 100 TB a stats re-read would double write IO).
    */
  private def writeData(
      df: DataFrame,
      dir: Path,
      indexCol: Option[String],
      targetRows: Long): Vector[FileEntry] = {
    // No pre-count: a count() here would evaluate the input pipeline twice
    // (once to size partitions, once to write) — at 100 TB of staged data
    // that doubles ingest compute. Instead range-partition WITHOUT a fixed
    // partition count (AQE coalesces the post-shuffle partitions to its
    // advisory size at runtime) and let maxRecordsPerFile enforce the file
    // geometry during the single write pass. Within a partition rows are
    // index-sorted, so the sequential file splits stay index-disjoint
    // (equal keys may tie exactly at a split boundary — pruning treats
    // bounds inclusively, so that stays correct).
    //
    // A size-gated single-task fast path (coalesce(1) + in-place sort,
    // skipping the sampling job) was tried in r21 and REVERTED: on the
    // q23 splice shape it read 2.0 → 2.9 s, because coalesce(1)
    // collapses the upstream scan to one task and serializes the
    // multi-file write — the sampling job it saves is cheaper than the
    // scan/write parallelism it loses, at every size where the write
    // has >1 output file.
    val prepared = indexCol match {
      case Some(idx) => df.repartitionByRange(col(idx)).sortWithinPartitions(idx)
      case None => df
    }
    // zstd: the reference's block codec family (codec/, LZ4/ZSTD); better
    // ratio than snappy at similar scan cost — fewer bytes per 100 TB.
    // No index-column bloom filter: without an expected NDV parquet-mr
    // sizes one at 1 MiB per file whatever the file holds (a 66-file,
    // 68k-row symbol took 74.6 MB with them, 1.2 MB without), and the
    // range-partitioned, index-sorted layout already confines an
    // equality read to the file and row group whose min/max hold the key.
    // 32 MiB row groups (parquet-mr default 128 MiB, measured
    // UNCOMPRESSED): text compresses ~50× under zstd, so a default-sized
    // group of documents is a multi-hundred-k-row indivisible scan unit —
    // compute-bound kernels (shingling, quality) then run on a handful of
    // tasks however many cores exist. 32 MiB keeps groups near the
    // reference's ~100k-row segment granularity (pipeline/slicing.hpp:25),
    // matches the session's split-size floor once compressed, and gives
    // date-range row-group pruning 4× finer resolution.
    val writer = prepared.write
      .option("compression", "zstd")
      .option("parquet.block.size", 32L * 1024 * 1024)
      .option("maxRecordsPerFile", targetRows)
    writer.mode("errorifexists").parquet(dir.toString)

    val index = indexCol.map(i => i -> df.schema(i).dataType)
    keysOf(index.map(_._2)).sorted(footerStats(dir, index).map { case (e, _) =>
      e.copy(path = s"${dir.getName}/${e.path}")
    })
  }

  /** One entry per data file of `dir` (path = the bare file name, length
    * and mtime from the listing that found it), read from parquet footer
    * metadata with its index bounds decoded by the index's [[IdxKeys]]
    * family, plus each row group's bounds as an entry in footer (= file)
    * order — the granularity finalizeStaged's sortedness check inspects.
    */
  private def footerStats(
      dir: Path,
      index: Option[(String, DataType)]): Vector[(FileEntry, Vector[FileEntry])] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val keys = keysOf(index.map(_._2))
    fs(dir).listStatus(dir).toVector
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith("."))
      .map { st =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromPath(st.getPath, hconf))
        try {
          val blocks = reader.getFooter.getBlocks.asScala.toSeq
          keys.withFooterBounds(
            FileEntry(st.getPath.getName, blocks.map(_.getRowCount).sum, 0L, None, None,
              bytes = Some(st.getLen), mtimeMs = Some(st.getModificationTime)),
            index, blocks)
        } finally reader.close()
      }
  }

  private def resolve(symbol: String, e: FileEntry): String =
    new Path(new Path(symDir(symbol), "data"), e.path).toString

  /** `write` — create a brand-new version holding exactly df
    * (reference: library.py:1013). Sorted by indexCol when given.
    */
  def write(
      symbol: String,
      df: DataFrame,
      indexCol: Option[String] = None,
      targetRows: Long = options.rowsPerSegment,
      metadata: Map[String, String] = Map.empty): Int =
    commitNew(symbol, df, indexCol, targetRows, priorFiles = Vector.empty, metadata)

  /** `append` — new version = prior files + new files; new index values
    * must start at/after the prior max (reference: library.py:1361).
    *
    * dynamicSchema=true accepts a frame whose columns differ from the
    * symbol's: shared columns promote to their common type
    * (reference: has_valid_common_type, type_utils.hpp:17-43), new columns
    * join the schema, and columns the frame lacks are written with typed
    * defaults (0 / NaN / false / null — library.py:1069-1072). Old data
    * files are NEVER rewritten: reads align them to the evolved schema on
    * the fly (see readFiles).
    */
  def append(
      symbol: String,
      df: DataFrame,
      targetRows: Long = options.rowsPerSegment,
      validateIndex: Boolean = true,
      dynamicSchema: Boolean = options.dynamicSchema,
      /** Entries MERGED over the carried-forward symbol metadata and
        * committed atomically with this append's manifest CAS — what
        * lets a streaming fold stamp its replay guard (the last-folded
        * batchId) in the SAME commit as the data it guards, leaving no
        * crash window between fold and stamp (StreamIngest sinks).
        */
      extraMetadata: Map[String, String] = Map.empty): Int = {
    val m = resolveVersion(symbol)
    val data =
      if (!dynamicSchema) df
      else align(df, mergeSchemas(schemaOf(m.schemaDdl), df.schema))
    for (idx <- m.indexCol) {
      // the family comes from the STORED index: a frame of the other
      // family would commit bounds no later read can compare
      val storedT = schemaOf(m.schemaDdl)(idx).dataType
      requireSameIdxFamily(idx, data.schema(idx).dataType, storedT)
      if (validateIndex) {
        val keys = keysOf(Some(storedT))
        keys.requireAfter(m.files, keys.frameRange(data, idx).map(_.lo),
          s"append index starts before prior data ($symbol)")
      }
    }
    commitNew(symbol, data, m.indexCol, targetRows, priorFiles = m.files,
      m.metadata ++ extraMetadata,
      priorDirSchemas = m.dirSchemas, baseVersion = Some(m.version))
  }

  /** Union of two schemas with common-type promotion on shared columns —
    * the reference's dynamic-schema lattice (type_utils.hpp:35-43). Column
    * order: existing columns first, new columns in frame order.
    */
  private def mergeSchemas(old: StructType, nw: StructType): StructType = {
    val out = scala.collection.mutable.LinkedHashMap.empty[String, DataType]
    old.fields.foreach(f => out(f.name) = f.dataType)
    nw.fields.foreach { f =>
      out(f.name) = out.get(f.name)
        .map(graft.query.Expr.commonType(_, f.dataType))
        .getOrElse(f.dataType)
    }
    StructType(out.map { case (n, t) => StructField(n, t) }.toSeq)
  }

  /** Typed default for a column absent from a file's physical schema
    * (reference backfill semantics, library.py:1069-1072: int→0, float→NaN,
    * bool→False, everything else→None).
    */
  private def defaultFor(t: DataType): Any = t match {
    case ByteType | ShortType | IntegerType | LongType => 0
    case FloatType | DoubleType => Double.NaN
    case BooleanType => false
    case _ => null
  }

  /** Project/cast/backfill a frame to exactly `target`. */
  private def align(df: DataFrame, target: StructType): DataFrame = {
    val have = df.columns.toSet
    df.select(target.fields.toSeq.map { f =>
      if (have(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(defaultFor(f.dataType)).cast(f.dataType).as(f.name)
    }: _*)
  }

  /** Write df as a new version after `priorFiles`. `baseVersion`: the
    * manifest version those files come from, pinned for [[commitVersion]]
    * (an append onto an empty base is still pinned); `op` names the
    * operation a lost race re-runs.
    */
  private[graft] def commitNew( // private[graft]: the stale-base CAS regression spec drives it directly
      symbol: String,
      df: DataFrame,
      indexCol: Option[String],
      targetRows: Long,
      priorFiles: Vector[FileEntry],
      metadata: Map[String, String],
      priorDirSchemas: Map[String, String] = Map.empty,
      baseVersion: Option[Int] = None,
      op: String = "append"): Int =
    commitVersion(symbol, op, baseVersion) { first =>
      val dir = dataDir(symbol, first)
      val all = priorFiles ++ renumber(writeData(df, dir, indexCol, targetRows), priorFiles)
      val m = VersionManifest(
        version = first,
        indexCol = indexCol,
        sorted = indexCol.isDefined,
        files = all,
        rowCount = all.map(_.rows).sum,
        createdAtMs = 0L,
        schemaDdl = df.schema.toDDL,
        metadata = metadata,
        dirSchemas = priorDirSchemas + (dir.getName -> df.schema.toDDL))
      _ => m
    }

  /** `update` — splice df into the index range it covers: files wholly
    * outside [lo, hi] are reused untouched; intersecting files are read,
    * their in-range rows dropped, the remainder + df rewritten
    * (reference: _store.py:1103 update, segment splice).
    */
  /** `update` with the reference's full option set (library.py:1520-1527):
    *
    *  - default: replace exactly the index range df covers (range derived
    *    from df's min/max index value);
    *  - `dateRange` (long-unit indexes) / `keyRange` (string indexes):
    *    replace exactly THAT range instead — in-range rows of the stored
    *    symbol absent from df are deleted, and df rows outside the range
    *    are ignored (the reference truncates the input frame to the range
    *    the same way);
    *  - `upsert=true`: a missing (or tombstoned) symbol is created instead
    *    of throwing; `indexCol` names the new symbol's index in that case.
    */
  def update(
      symbol: String,
      df: DataFrame,
      targetRows: Long = options.rowsPerSegment,
      dateRange: Option[(Long, Long)] = None,
      upsert: Boolean = false,
      indexCol: Option[String] = None,
      keyRange: Option[(String, String)] = None): Int = {
    require(dateRange.isEmpty || keyRange.isEmpty,
      "dateRange and keyRange are mutually exclusive")
    latestVersion(symbol).map(v => manifest(symbol, v)).filterNot(_.deleted) match {
      case Some(m) =>
        val idx = m.indexCol.getOrElse(
          throw new IllegalArgumentException("update requires an indexed symbol"))
        val storedT = schemaOf(m.schemaDdl)(idx).dataType
        requireRangeKind(symbol, Some(storedT), dateRange, keyRange)
        val t = df.schema(idx).dataType
        requireSameIdxFamily(idx, t, storedT)
        explicitRange(storedT, dateRange, keyRange) match {
          case Some(r) =>
            spliceRange(symbol, m, r, Some(df.filter(r.residual(idx, t))), targetRows, "update")
          case None =>
            spliceRange(symbol, m, keyRangeFor(m, df, idx), Some(df), targetRows, "update")
        }
      case None =>
        if (!upsert)
          throw new NoSuchElementException(s"symbol $symbol does not exist")
        // upsert-create honors the explicit range exactly like the
        // existing-symbol path: out-of-range patch rows are NOT stored
        // (the same call against an existing symbol would discard them),
        // and the range kind must match the new index (indexCol)
        val t = indexCol.map(df.schema(_).dataType)
        requireRangeKind(symbol, t, dateRange, keyRange)
        val data = explicitRange(t.getOrElse(LongType), dateRange, keyRange) match {
          case Some(r) => df.filter(r.residual(indexCol.get, t.get))
          case None => df
        }
        write(symbol, data, indexCol, targetRows)
    }
  }

  /** delete_data_in_range (reference: library.py's delete date_range). */
  def deleteRange(symbol: String, lo: Long, hi: Long, targetRows: Long = options.rowsPerSegment): Int = {
    val m = resolveVersion(symbol)
    val it = idxTypeOf(m)
    requireRangeKind(symbol, it, Some((lo, hi)), None)
    val (l, h) = Ts.nsRangeToIdxUnit(lo, hi, it.get)
    spliceRange(symbol, m, new LongKeys.Range(l, h), None, targetRows, "deleteRange")
  }

  /** delete_data_in_range over a string-keyed index (inclusive bounds,
    * UTF-8 byte order — the same order the data files are laid out in).
    */
  def deleteRange(symbol: String, lo: String, hi: String, targetRows: Long): Int = {
    val m = resolveVersion(symbol)
    requireRangeKind(symbol, idxTypeOf(m), None, Some((lo, hi)))
    spliceRange(symbol, m, new StrKeys.Range(lo, hi), None, targetRows, "deleteRange")
  }
  def deleteRange(symbol: String, lo: String, hi: String): Int =
    deleteRange(symbol, lo, hi, DefaultTargetRows)

  private def spliceRange(
      symbol: String,
      m: VersionManifest,
      range: KeyRange,
      replacement: Option[DataFrame],
      targetRows: Long,
      op: String): Int = {
    val idx = m.indexCol.get
    val (touched, untouched) = m.files.partition(range.intersectsStrict)
    val keptRows: Option[DataFrame] =
      if (touched.isEmpty) None
      else {
        // schema-aware read: touched files may predate a schema evolution
        val old = readFiles(symbol, m, touched, None, None, withRowId = false)
        Some(old.filter(range.inverseResidual(idx, old.schema(idx).dataType)))
      }
    val combined = (keptRows, replacement) match {
      case (Some(k), Some(r)) => Some(k.unionByName(align(r, k.schema)))
      case (Some(k), None) => Some(k)
      case (None, Some(r)) => Some(align(r, schemaOf(m.schemaDdl)))
      case (None, None) => None
    }
    commitRewrite(symbol, m, combined, untouched, range, targetRows, op)
  }

  /** Shared tail of every range rewrite (update/deleteRange/merge): write
    * the combined frame as the new version's delta, keep global index
    * order untouched-before ++ rewritten ++ untouched-after, commit
    * pinned to base m.
    */
  private def commitRewrite(
      symbol: String,
      m: VersionManifest,
      combined: Option[DataFrame],
      untouched: Vector[FileEntry],
      range: KeyRange,
      targetRows: Long,
      op: String): Int =
    commitVersion(symbol, op, Some(m.version)) { first =>
      val newDir = dataDir(symbol, first)
      val rewritten = combined match {
        case Some(d) => writeData(d, newDir, m.indexCol, targetRows)
        case None => Vector.empty
      }
      val (before, after) = untouched.partition(range.wholeFileBelow)
      val ordered = renumber(before ++ rewritten ++ after)
      val nm = m.copy(
        files = ordered,
        rowCount = ordered.map(_.rows).sum,
        dirSchemas = m.dirSchemas + (newDir.getName -> m.schemaDdl))
      _ => nm
    }

  /** merge_experimental (reference: library.py:3411, MergeStrategy
    * _store.py:117): SQL-MERGE df into the symbol by index key — matched
    * rows update (or do_nothing), unmatched source rows insert (or
    * do_nothing). Only files whose index range intersects df's keys are
    * rewritten, so a merge of one day's corrections never rewrites years
    * of data; unmatched in-range target rows always survive (unlike
    * update(dateRange), which deletes them).
    */
  def merge(
      symbol: String,
      df: DataFrame,
      matched: String = "update",
      notMatchedByTarget: String = "insert",
      targetRows: Long = options.rowsPerSegment): Int = {
    val m = resolveVersion(symbol)
    val idx = m.indexCol.getOrElse(
      throw new IllegalArgumentException("merge requires an indexed symbol"))
    val range = keyRangeFor(m, df, idx)
    val (touched, untouched) = m.files.partition(range.intersectsStrict)
    val target = schemaOf(m.schemaDdl)
    val old =
      if (touched.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], target)
      else readFiles(symbol, m, touched, None, None, withRowId = false)
    val merged = graft.operators.MergeUpdate.merge(
      old, align(df, target), Seq(idx), matched, notMatchedByTarget)
    commitRewrite(symbol, m, Some(merged), untouched, range, targetRows, "merge")
  }

  // ------------------------------------------------------------- read

  /** Resolve as_of: latest, specific version, or snapshot name
    * (reference: library.py:2045-2050).
    */
  def resolveVersion(symbol: String, asOf: AsOf = AsOf.Latest): VersionManifest = asOf match {
    case AsOf.Latest =>
      val v = latestVersion(symbol).getOrElse(
        throw new NoSuchElementException(s"symbol $symbol does not exist"))
      val m = manifest(symbol, v)
      require(!m.deleted, s"symbol $symbol is deleted")
      m
    case AsOf.Version(v) if v < 0 =>
      // Negative indexing from the end of the LIVE history (reference
      // library.py:2048: as_of=-1 is the latest version, -2 the one
      // before): tombstoned versions are skipped, and hard-deleted
      // version numbers simply aren't present.
      val live = listVersions(symbol).filter(!manifest(symbol, _).deleted)
      val i = live.length + v
      if (i < 0 || live.isEmpty)
        throw new NoSuchElementException(
          s"symbol $symbol has ${live.length} live versions; as_of=$v out of range")
      manifest(symbol, live(i))
    case AsOf.Version(v) => manifest(symbol, v)
    case AsOf.Snapshot(name) =>
      val snap = SnapshotManifest.fromJson(readString(new Path(snapshotsDir, s"$name.json")))
      manifest(
        symbol,
        snap.versions.getOrElse(
          symbol,
          throw new NoSuchElementException(s"$symbol not in snapshot $name")))
    case AsOf.Timestamp(ms) =>
      val vs = listVersions(symbol).reverse
      vs.map(manifest(symbol, _))
        .find(_.createdAtMs <= ms)
        .getOrElse(throw new NoSuchElementException(s"no version of $symbol at/before $ms"))
  }

  /** Read a symbol. dateRange (long-unit indexes) / keyRange (string
    * indexes) prunes FILES via manifest stats before the Spark scan (the
    * reference's row-slice pruning, pipeline/query.hpp:218-310), then
    * applies the residual row filter; withRowId reconstructs the global
    * row index from manifest offsets — a per-file window, never a global
    * sort.
    */
  /** Open-ended date_range read — the reference's
    * `lib.read(sym, date_range=(None, t1))` / `(t0, None)` shape
    * (library.py:2022). Missing bounds widen to the ns-domain extremes,
    * which convert saturation-safely to manifest µs units (ceil/floorDiv
    * shrink magnitudes), so manifest file pruning on the PRESENT side is
    * exactly the two-sided path's; `(None, None)` degenerates to a full
    * read, matching `date_range=None`.
    */
  def readOpen(
      symbol: String,
      from: Option[Long],
      to: Option[Long],
      asOf: AsOf = AsOf.Latest,
      columns: Option[Seq[String]] = None): DataFrame =
    read(symbol, asOf,
      Some((from.getOrElse(Long.MinValue), to.getOrElse(Long.MaxValue))),
      columns)

  /** Manifest-aware version diff: the rows removed (`op` = '-') and
    * added (`op` = '+') between two versions of `symbol`, bag semantics
    * (duplicate rows count). Data files SHARED by both manifests cancel
    * exactly — files are immutable and append/update/compact reuse them
    * verbatim — so only each side's non-shared files are read and
    * anti-bagged: cost scales with the CHANGED data, not the symbol (an
    * append's diff reads just the appended files; an update splice
    * reads the rewritten run on both sides; 100 TB with a 1 GB patch
    * diffs ~2 GB). Schemas may have evolved between the versions: both
    * sides align to the `to` schema with the same typed backfill reads
    * use (reference context: versions as immutable keys sharing data
    * segments, `docs/mkdocs/docs/technical/on_disk_storage.md`; the
    * reference itself exposes no diff — this is the ops tool those
    * immutable manifests make cheap).
    */
  def diff(symbol: String, from: AsOf, to: AsOf = AsOf.Latest): DataFrame = {
    val ma = resolveVersion(symbol, from)
    val mb = resolveVersion(symbol, to)
    val shared = ma.files.map(_.path).toSet & mb.files.map(_.path).toSet
    val target = schemaOf(mb.schemaDdl)
    def side(m: VersionManifest): DataFrame = align(
      readFiles(symbol, m, m.files.filterNot(f => shared(f.path)),
        range = None, columns = None, withRowId = false), target)
    val a = side(ma)
    val b = side(mb)
    b.exceptAll(a).withColumn("op", lit("+"))
      .unionByName(a.exceptAll(b).withColumn("op", lit("-")))
  }

  def read(
      symbol: String,
      asOf: AsOf = AsOf.Latest,
      dateRange: Option[(Long, Long)] = None,
      columns: Option[Seq[String]] = None,
      withRowId: Boolean = false,
      statFilters: Seq[ColRange] = Nil,
      keyRange: Option[(String, String)] = None,
      exprFilter: Option[graft.query.Expr] = None): DataFrame = {
    val m = resolveVersion(symbol, asOf)
    require(dateRange.isEmpty || keyRange.isEmpty,
      "dateRange and keyRange are mutually exclusive")
    val idxType = idxTypeOf(m)
    requireRangeKind(symbol, idxType, dateRange, keyRange)
    val range = explicitRange(idxType.getOrElse(LongType), dateRange, keyRange)
    val byIndex = range match {
      case Some(r) => m.files.filter(r.intersects)
      case None => m.files
    }
    val schema = schemaOf(m.schemaDdl)
    lazy val stats = loadColumnStats(symbol) // one sidecar read for both prune passes
    val byStats =
      if (statFilters.isEmpty) byIndex
      else byIndex.filter(f => statFilters.forall(p => statFilterKeep(stats, schema, f, p)))
    // Expression-AST pruning: the full filter tree evaluated per file in
    // Kleene logic over the stats sidecar + the manifest's own index
    // bounds (reference: column_stats_filter.cpp) — a read(q.filter(e))
    // prunes without the caller hand-building ColRanges. The exact row
    // filter still runs; this only skips provably-empty files.
    val selected = exprFilter match {
      case None => byStats
      case Some(e) =>
        byStats.filter { f =>
          StatsPruner.keepFile(e, stats.getOrElse(f.path, Map.empty) ++ idxEnv(m, f, schema),
            schema)
        }
    }
    // query-stats hook ([[withQueryStats]]): pruning is decided right
    // here at plan time, so the census is complete when read() returns
    val qs = Library.qsLocal.get
    if (qs != null)
      qs += Library.ReadStats(symbol, m.version, m.files.size,
        m.files.size - byIndex.size, byIndex.size - byStats.size,
        byStats.size - selected.size, selected.size,
        selected.map(_.rows).sum, m.rowCount, selected.count(_.status.isEmpty))
    readFiles(symbol, m, selected, range, columns, withRowId)
  }

  /** The manifest's per-file index bounds, rendered in the stats-sidecar
    * convention, for index types whose manifest unit EQUALS the raw column
    * value (long/int indexes are stored as-is; timestamp/date bounds are
    * unit-converted and string bounds live in min/maxStr). Lets exprFilter
    * prune on the index column with no createColumnStats call.
    */
  private def idxEnv(
      m: VersionManifest,
      f: FileEntry,
      schema: StructType): Map[String, (String, String)] =
    m.indexCol.toSeq.flatMap { idx =>
      schema.fields.find(_.name == idx).map(_.dataType) match {
        case Some(LongType | IntegerType) =>
          for (mn <- f.minIdx; mx <- f.maxIdx) yield idx -> (mn.toString, mx.toString)
        case Some(StringType) =>
          for (mn <- f.minStr; mx <- f.maxStr) yield idx -> (mn, mx)
        case _ => None
      }
    }.toMap

  /** Read through a clause pipeline with automatic expression-AST file
    * pruning: the pipeline's prefix filters are conjoined and evaluated
    * per file against column stats + index bounds before Spark lists a
    * single file (reference: read(q) with column-stats filtering).
    */
  def readQuery(
      symbol: String,
      q: graft.query.QueryBuilder,
      asOf: AsOf = AsOf.Latest): DataFrame = {
    val combined = q.prefixFilters.reduceOption(_ && _)
    q(read(symbol, asOf, None, None, withRowId = false, Nil, None, combined))
  }

  /** Scan a manifest-selected subset of a version's files. Row ids are
    * reconstructed from the SELECTED files' global offsets, so pruned
    * reads still carry correct absolute row numbers.
    *
    * The scan is planned from the manifest: each entry's recorded size and
    * mtime seed the file index ([[org.apache.spark.sql.graftbridge.ManifestScan]]),
    * so no storage listing runs while the frame is built — nor the Spark
    * listing job a read of more than 32 files (Spark's parallel-discovery
    * threshold) used to fire. Entries from builds that did not record a
    * status are listed as before, and a missing one fails here; a missing
    * seeded file fails when the scan runs. Seeded statuses carry no HDFS
    * block locations, so such scans lose locality hints; local
    * filesystems and object stores have none to lose.
    */
  private def readFiles(
      symbol: String,
      m: VersionManifest,
      selected: Vector[FileEntry],
      range: Option[KeyRange],
      columns: Option[Seq[String]],
      withRowId: Boolean): DataFrame = {
    val target = schemaOf(m.schemaDdl)
    if (selected.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], target)

    // Dynamic schema: files written before a schema evolution keep their
    // original physical schema. Group files by it; non-current groups are
    // cast/backfilled to the current schema on the fly (one scan per
    // distinct historical schema — appends that don't evolve the schema
    // add no groups).
    var df = selected.groupBy(f => fileSchemaDdl(m, f)).toSeq
      .map { case (ddl, files) =>
        align(ManifestScan.parquet(spark, StructType.fromDDL(ddl),
          files.map(f => (resolve(symbol, f), f.status))), target)
      }
      .reduce(_ unionByName _)

    for (r <- range; idx <- m.indexCol)
      df = df.filter(r.residual(idx, df.schema(idx).dataType))
    if (withRowId) {
      // Join on bare file names (globally unique: Spark part files carry a
      // task uuid) — avoids scheme/slash normalization issues between
      // input_file_name() URIs and manifest paths.
      val offsets = selected.map(f => (new Path(f.path).getName, f.rowOffset))
      val offsetsDf = spark.createDataFrame(offsets).toDF("__file", "__offset")
      val idx = m.indexCol.getOrElse(df.columns.head)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("__file"))
        .orderBy(col(idx))
      df = df
        .withColumn("__file", substring_index(input_file_name(), "/", -1))
        .join(broadcast(offsetsDf), "__file")
        .withColumn(RowIdCol, row_number().over(w) - 1 + col("__offset"))
        .drop("__file", "__offset")
    }
    for (cols <- columns) {
      val keep = if (withRowId) cols :+ RowIdCol else cols
      df = df.select(keep.map(col): _*)
    }
    df
  }

  /** head/tail/iloc by manifest row offsets: ONLY the files containing the
    * requested rows are handed to the Spark scan (reference: row-slice
    * selection before IO, clause.cpp:874-1018). Negative indices wrap
    * python-slice style: -n ⇒ rowCount - n (reference RowRangeClause).
    */
  def readRowRange(symbol: String, start: Long, end: Long, asOf: AsOf = AsOf.Latest): DataFrame = {
    val m = resolveVersion(symbol, asOf)
    def norm(i: Long): Long = if (i < 0) math.max(0L, m.rowCount + i) else i
    val (s, e) = (norm(start), norm(end))
    val hit = m.files.filter(f => f.rowOffset < e && f.rowOffset + f.rows > s)
    readFiles(symbol, m, hit, None, None, withRowId = true)
      .filter(col(RowIdCol) >= s && col(RowIdCol) < e)
  }

  def head(symbol: String, n: Int, asOf: AsOf = AsOf.Latest): DataFrame =
    readRowRange(symbol, 0, n.toLong, asOf)

  def tail(symbol: String, n: Int, asOf: AsOf = AsOf.Latest): DataFrame = {
    val m = resolveVersion(symbol, asOf)
    readRowRange(symbol, math.max(0L, m.rowCount - n), m.rowCount, asOf)
  }

  /** Arrow output format (reference: arctic.py OutputFormat.ARROW /
    * UTF_DYNAMIC32 to-Arrow read path, types.hpp:201,270): a symbol read
    * handed off as a complete Arrow IPC stream, readable by any Arrow
    * implementation's stream reader. A client hand-off like toPandas —
    * it collects; for distributed Arrow batches use
    * ArrowBridge.arrowBatchRdd on any `read` result.
    */
  def readAsArrow(
      symbol: String,
      asOf: AsOf = AsOf.Latest,
      columns: Seq[String] = Nil): Array[Byte] = {
    val df0 = read(symbol, asOf)
    val df = if (columns.isEmpty) df0 else df0.select(columns.map(col): _*)
    org.apache.spark.sql.graftbridge.ArrowBridge.collectAsArrowStream(df)
  }

  /** User metadata stored with a version (reference: read_metadata,
    * library.py write(..., metadata)).
    */
  def readMetadata(symbol: String, asOf: AsOf = AsOf.Latest): Map[String, String] =
    resolveVersion(symbol, asOf).metadata

  /** The replay guard read side: the last fold stamp
    * (`<scope>:<batchId>`, [[Library.ReplayGuard]]) committed into
    * `symbol` ([[Library.ReplayGuardKey]] in its latest metadata), None
    * when the symbol is absent or never stamped. Reads the latest
    * version DIRECTLY (tombstones included): the guard must answer from
    * whatever commit landed last, not from resolveVersion's live-only
    * view — and scope matching (not this read) is what keeps a
    * tombstoned symbol's stale stamp from starving a NEW stream.
    */
  def lastFoldStamp(symbol: String): Option[String] =
    latestVersion(symbol).flatMap(v =>
      manifest(symbol, v).metadata.get(Library.ReplayGuardKey))

  /** ReplayGuard stamps of the latest `lookback` versions, newest first
    * (tombstones included, same direct view as [[lastFoldStamp]]).
    * Streaming heal/skip decisions must see a stamp even when a
    * maintenance commit (compact, writeMetadata, a second writer) landed
    * AFTER the stamped append: the latest manifest no longer carries it,
    * and a latest-only probe would route the replayed batch down the
    * wrong branch — anti-joining the stranded docs away as already-seen
    * and losing their signatures forever (ADVICE r20). Versions missing
    * from the directory (deleted) are skipped, not errors.
    */
  def foldStamps(symbol: String, lookback: Int = 8): Seq[String] = {
    val vs = listVersions(symbol).takeRight(lookback).reverse
    vs.flatMap { v =>
      try manifest(symbol, v).metadata.get(Library.ReplayGuardKey)
      catch { case scala.util.control.NonFatal(_) => None }
    }
  }

  def readMetadataBatch(
      symbols: Seq[String],
      asOf: AsOf = AsOf.Latest): Seq[BatchResult[Map[String, String]]] =
    symbols.map(s => batchTry(s)(readMetadata(s, asOf)))

  /** write_metadata (reference: library.py:2534): a new version that
    * REPLACES the metadata and shares every data file — a metadata-only
    * commit, no data IO. A missing (or tombstoned) symbol gets a new
    * version with EMPTY data, matching the reference ("if `symbol` does
    * not exist … creates it with none", library.py:2534 docstring) —
    * reads of such a version return an empty zero-column frame.
    */
  def writeMetadata(symbol: String, metadata: Map[String, String]): Int =
    commitVersion(symbol, "writeMetadata", None) { first => latest =>
      latest.map(manifest(symbol, _)).filterNot(_.deleted) match {
        case Some(m) => m.copy(metadata = metadata)
        case None => // absent or tombstoned: metadata-only empty version
          VersionManifest(
            version = first,
            indexCol = None,
            sorted = false,
            files = Vector.empty,
            rowCount = 0L,
            createdAtMs = 0L,
            schemaDdl = "",
            metadata = metadata)
      }
    }

  def writeMetadataBatch(
      items: Seq[(String, Map[String, String])],
      parallelism: Int = BatchParallelism): Seq[BatchResult[Int]] =
    inParallel(items, parallelism)(_._1) { case (s, md) => writeMetadata(s, md) }

  /** restore_version (reference: `_store.py:2739` — "makes the latest
    * version of the symbol equal to the as_of specified version",
    * semantically `write(sym, read(sym, as_of))`): a NEW latest version
    * whose manifest references the as-of version's data files, schema
    * and metadata VERBATIM. Because versions are immutable and data
    * files shared, this is ZERO-COPY — undoing a bad write on a 100 TB
    * symbol is one manifest commit, no data IO — and GC keeps the
    * restored files alive because a live manifest references them.
    * Also the undelete: restoring a pre-tombstone version of a deleted
    * symbol resurrects it (the reference's restore-over-tombstone
    * behavior). A lost CAS recommits the same restored content on top
    * of the winner ([[commitVersion]]).
    *
    * Streaming caveat (matches the reference's restore semantics, which
    * copy metadata verbatim): on a streaming-fed symbol the restored
    * metadata carries the as-of version's replay-guard stamp
    * ([[Library.ReplayGuardKey]]), so restoring REWINDS the stream's
    * dedup ledger — batches folded between the restored version and the
    * rollback point will NOT re-fold when the stream resumes (their ids
    * are below the re-instated stamp only on checkpoint-backup restores;
    * under normal resume Spark re-delivers just the last uncommitted
    * batch, whose id now mismatches the stale stamp and folds — possibly
    * a second time). Operators restoring a sink symbol should restart
    * the stream from a checkpoint consistent with the restored version.
    */
  def restoreVersion(symbol: String, asOf: AsOf): Int = {
    val src = resolveVersion(symbol, asOf) // delta chains resolved
    require(!src.deleted, s"$symbol@${src.version} is a tombstone")
    commitVersion(symbol, "restoreVersion", None) { _ => latest =>
      if (latest.isEmpty) throw new NoSuchElementException(s"symbol $symbol does not exist")
      src
    }
  }

  /** The write_pickle analog (reference: library.py:1148): version an
    * OPAQUE payload that is not a dataframe. The bytes land as a 1-row
    * binary column — same versioning, snapshots, as-of and metadata as any
    * symbol; the payload is whatever the caller serialized (the reference
    * stores a python pickle; a JVM caller stores its own codec's output).
    */
  def writeBlob(
      symbol: String,
      payload: Array[Byte],
      metadata: Map[String, String] = Map.empty): Int = {
    val schema = StructType(Seq(StructField("payload", BinaryType, nullable = false)))
    val df = spark.createDataFrame(
      java.util.Arrays.asList(org.apache.spark.sql.Row(payload)), schema)
    write(symbol, df, None, targetRows = 1L, metadata = metadata + ("graft.blob" -> "true"))
  }

  def readBlob(symbol: String, asOf: AsOf = AsOf.Latest): Array[Byte] = {
    require(resolveVersion(symbol, asOf).metadata.get("graft.blob").contains("true"),
      s"$symbol is not a blob symbol")
    read(symbol, asOf).head().getAs[Array[Byte]](0)
  }

  /** write_pickle_batch (reference: library.py:1321): blob writes for many
    * symbols, submitted from the batch thread pool — same concurrency
    * contract as writeBatch (distinct symbols; result order = input order).
    */
  def writeBlobBatch(
      items: Seq[(String, Array[Byte])],
      metadata: Map[String, String] = Map.empty,
      parallelism: Int = BatchParallelism): Seq[BatchResult[Int]] =
    inParallel(items, parallelism)(_._1) { case (s, bytes) => writeBlob(s, bytes, metadata) }

  def readBlobBatch(
      symbols: Seq[String],
      asOf: AsOf = AsOf.Latest): Seq[BatchResult[Array[Byte]]] =
    symbols.map(s => batchTry(s)(readBlob(s, asOf)))

  /** Symbol descriptor (reference: get_description library.py:3083-3137,
    * SymbolDescription fields). indexType is "index" when an index column
    * exists, else "NA" (the reference's multi_index has no Spark analog —
    * extra index levels are ordinary columns). sortedStatus mirrors the
    * reference's ASCENDING/UNSORTED/UNKNOWN; dateRange is the index
    * bounds in the manifest's canonical long unit (ns for long indexes,
    * µs for timestamps), None for string/absent indexes — the reference
    * returns NaT there the same way.
    */
  def getInfo(symbol: String, asOf: AsOf = AsOf.Latest): SymbolInfo = {
    val m = resolveVersion(symbol, asOf)
    val range = for {
      _ <- m.indexCol
      lo <- m.files.flatMap(_.minIdx).minOption
      hi <- m.files.flatMap(_.maxIdx).maxOption
    } yield (lo, hi)
    SymbolInfo(symbol, m.version, m.rowCount, m.files.size, m.indexCol, m.sorted,
      m.schemaDdl, m.createdAtMs,
      indexType = if (m.indexCol.isDefined) "index" else "NA",
      sortedStatus =
        if (m.indexCol.isEmpty) "UNKNOWN"
        else if (m.sorted) "ASCENDING"
        else "UNSORTED",
      columnCount = if (m.schemaDdl.isEmpty) 0 else schemaOf(m.schemaDdl).size,
      dateRange = range)
  }

  /** get_description_batch (reference: library.py:3138). */
  def getInfoBatch(
      symbols: Seq[String],
      asOf: AsOf = AsOf.Latest): Seq[BatchResult[SymbolInfo]] =
    symbols.map(s => batchTry(s)(getInfo(s, asOf)))

  // ------------------------------------------- admin / introspection tool

  /** library_tool `find_keys`/key-census analog (reference:
    * python/arcticdb/toolbox/library_tool.py — find_keys, count_keys,
    * read_to_* per key type): every storage key of `symbol` as one row
    * (layer, path, bytes, modified_ms), layer ∈ version | data | stats |
    * staged. Because manifests are readable JSON and data keys are
    * parquet, this listing plus ordinary readers IS the whole debugging
    * surface the reference's tool exposes over its binary key formats.
    * Driver-side recursive listing — bounded by the symbol's key count
    * (≈ file count, the same order as one manifest resolve).
    */
  def keyTree(symbol: String): DataFrame = {
    val base = symDir(symbol)
    val baseUri = base.toUri.getPath.stripSuffix("/")
    def rel(p: Path): String = p.toUri.getPath.stripPrefix(baseUri).stripPrefix("/")
    val rows = Library.SymbolLayers.flatMap { layer =>
      walkLayer(symbol, layer).map(st =>
        (layer, rel(st.getPath), st.getLen, st.getModificationTime))
    }
    spark.createDataFrame(rows.sortBy(r => (r._1, r._2)))
      .toDF("layer", "path", "bytes", "modified_ms")
  }

  /** The one symbol-layer → directory mapping every census tool shares
    * (keyTree, sizes, sizesBySymbol) — a new storage layer added here
    * shows up in all of them at once instead of silently
    * under-reporting in whichever walk was forgotten.
    */
  private def layerDir(symbol: String, layer: String): Path = layer match {
    case "version" => versionsDir(symbol)
    case "data" => new Path(symDir(symbol), "data")
    case "stats" => new Path(symDir(symbol), "_stats")
    case "staged" => stagedDir(symbol)
    case other => throw new IllegalArgumentException(s"unknown layer $other")
  }

  private def walkLayer(
      symbol: String, layer: String): Seq[org.apache.hadoop.fs.FileStatus] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[org.apache.hadoop.fs.FileStatus]
    val f = fs(symDir(symbol))
    def walk(dir: Path): Unit =
      if (f.exists(dir)) f.listStatus(dir).foreach { st =>
        if (st.isDirectory) walk(st.getPath) else out += st
      }
    walk(layerDir(symbol, layer))
    out.toSeq
  }

  /** admin_tools `get_sizes` analog (reference:
    * `python/arcticdb/version_store/admin_tools.py:120` — compressed
    * bytes + object counts grouped by key type): one row per storage
    * layer across the WHOLE library — version manifests, data files,
    * stats sidecars, staged segments, snapshot manifests. Columns:
    * layer, n_objects, bytes. Every layer always appears (zero rows
    * included), matching the reference's always-all-key-types contract.
    */
  def sizes(): DataFrame = {
    val all = Library.SymbolLayers :+ "snapshot"
    val agg = sizesBySymbol().groupBy("layer")
      .agg(sum(col("n_objects")).as("n_objects"), sum(col("bytes")).as("bytes"))
    val zeros = spark.createDataFrame(all.map(l => (l, 0L, 0L)))
      .toDF("layer", "n_objects", "bytes")
    agg.unionByName(zeros.join(agg.select("layer"), Seq("layer"), "left_anti"))
      .orderBy("layer")
  }

  /** admin_tools `get_sizes_by_symbol` analog
    * (`admin_tools.py:129`): per-symbol per-layer object counts and
    * bytes. Snapshot manifests are library-scoped, not symbol-scoped —
    * they appear under symbol "" (the reference likewise reports
    * snapshot keys outside the per-stream breakdown). Columns: symbol,
    * layer, n_objects, bytes.
    */
  def sizesBySymbol(): DataFrame = {
    // symbols walk from the batch pool (the maintain/readBatch
    // machinery): at a 10k-symbol object-store root the per-symbol
    // listStatus round-trips dominate, and a serial driver loop would
    // turn the census into an hours-long admin job. A failed symbol
    // listing propagates — a census that silently omits a symbol is
    // wrong in the way that matters most for the tool.
    val perSym = inParallel(listSymbolDirs(), AdminWalkParallelism)(identity) { sym =>
      Library.SymbolLayers.map { layer =>
        // the version layer counts MANIFESTS (the vNNNNN.json census
        // unit listVersions agrees with) — bookkeeping markers like the
        // _highwater watermark would otherwise inflate it by one per
        // symbol that ever had versions deleted
        val files = walkLayer(sym, layer).filter(st => layer != "version" ||
          Library.VersionFile.pattern.matcher(st.getPath.getName).matches())
        (sym, layer, files.size.toLong, files.map(_.getLen).sum)
      }
    }
    val rows = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long, Long)]
    perSym.foreach {
      case Library.BatchOk(_, rs) => rows ++= rs
      case Library.DataError(sym, cause) =>
        throw new java.io.IOException(s"sizesBySymbol: census of $sym failed", cause)
    }
    val fsn = fs(snapshotsDir)
    val snaps =
      if (!fsn.exists(snapshotsDir)) (0L, 0L)
      else fsn.listStatus(snapshotsDir).filterNot(_.isDirectory)
        .foldLeft((0L, 0L)) { case ((n, b), st) => (n + 1, b + st.getLen) }
    rows += (("", "snapshot", snaps._1, snaps._2))
    spark.createDataFrame(rows.sortBy(r => (r._1, r._2)).toSeq)
      .toDF("symbol", "layer", "n_objects", "bytes")
  }

  /** library_tool `read_index` analog: the resolved manifest of one
    * version as a DataFrame — one row per data file with its row count,
    * cumulative offset and index bounds (delta chains resolved; exactly
    * what the scan planner sees). Columns: path, rows, row_offset,
    * min_idx, max_idx, min_str, max_str, bytes (null for entries whose
    * size was not recorded — those are listed at read time).
    */
  def manifestDump(symbol: String, asOf: AsOf = AsOf.Latest): DataFrame = {
    val m = resolveVersion(symbol, asOf)
    spark.createDataFrame(m.files.map(e =>
      (e.path, e.rows, e.rowOffset, e.minIdx, e.maxIdx, e.minStr, e.maxStr, e.bytes)))
      .toDF("path", "rows", "row_offset", "min_idx", "max_idx", "min_str", "max_str",
        "bytes")
  }

  // ------------------------------------------------------ query stats

  /** Scoped query-statistics collection (reference:
    * `python/arcticdb/toolbox/query_stats.py:20` — the `query_stats()`
    * context manager that answers "what storage work did my reads
    * do"). Every [[read]] issued by `f` ON THIS THREAD — through this
    * or ANY other Library handle (the collector is process-global per
    * thread, like the reference's) — records one
    * [[Library.ReadStats]] row: manifest file count, how many files
    * each pruning tier skipped (index range, ColRange stats filters,
    * expression-AST Kleene pruning), and the files/rows the scan will
    * actually touch. This is THE observability primitive at 100 TB —
    * "did my filter prune, or am I about to scan the world" answered
    * before the scan runs, since pruning is decided at plan time.
    *
    * Thread-scoped like the reference's enable/disable pair (nesting
    * refused). Reads dispatched to the batch pool ([[readBatch]] /
    * [[readBatchAndJoin]]'s `inParallel` workers) ARE captured: the
    * collector is handed to each worker explicitly and the per-task
    * rows merge back in request order after the batch barrier, so an
    * N-symbol batch read yields exactly the N rows the per-read loop
    * would. Returns (result, stats rows); render with
    * [[queryStatsFrame]].
    */
  def withQueryStats[T](f: => T): (T, Seq[Library.ReadStats]) = {
    require(Library.qsLocal.get == null,
      "query stats already enabled on this thread (nesting is not supported)")
    val buf = scala.collection.mutable.ArrayBuffer.empty[Library.ReadStats]
    Library.qsLocal.set(buf)
    try {
      val r = f
      (r, buf.toSeq)
    } finally Library.qsLocal.remove()
  }

  /** [[withQueryStats]] rows as a DataFrame (one row per read, in read
    * order): symbol, version, files_total, pruned_by_range,
    * pruned_by_stats, pruned_by_expr, files_read, rows_read,
    * rows_total, files_listed.
    */
  def queryStatsFrame(stats: Seq[Library.ReadStats]): DataFrame =
    spark.createDataFrame(stats)
      .toDF("symbol", "version", "files_total", "pruned_by_range",
        "pruned_by_stats", "pruned_by_expr", "files_read", "rows_read",
        "rows_total", "files_listed")

  /** Per-symbol storage census over the whole library: live versions,
    * latest-version file/row counts, total data bytes on disk (all
    * versions, shared files counted once), and whether the latest
    * version is fragmented at the library's segment target. The
    * operational dashboard query behind "which symbols need compaction /
    * pruning" — admin_tools' storage summary, re-expressed over the
    * readable layout.
    */
  def storageSummary(): DataFrame = {
    // listSymbolDirs, not listSymbols: a tombstoned symbol still OWNS
    // storage (its history + any not-yet-pruned data) and the census
    // must show it; its latest manifest is the tombstone (0 files), and
    // the fragmentation probe doesn't apply.
    //
    // Symbols walk from the batch pool, same as sizesBySymbol and
    // Graft.maintain: at a 10k-symbol object-store root the per-symbol
    // listStatus round-trips dominate and a serial driver loop turns the
    // fragmentation census into an hours-long admin job. Byte sums go
    // through walkLayer — the one shared walker behind keyTree/sizes —
    // so the two censuses cannot drift on what counts as a data byte.
    // Error posture matches sizesBySymbol: a failed symbol propagates
    // loudly; a census that silently omits a symbol is wrong in the way
    // that matters most for the tool.
    def layerBytes(sym: String, layer: String): Long =
      walkLayer(sym, layer).map(_.getLen).sum
    val perSym = inParallel(listSymbolDirs(), AdminWalkParallelism)(identity) { sym =>
      val versions = listVersions(sym)
      // A dir with no versions still OWNS storage (a staged-but-never-
      // finalized symbol, or debris from a crashed first write) — the
      // census reports it as a zero-version row (latest_version -1)
      // instead of throwing on empty.last, the same tolerance keyTree
      // and Graft.maintain give version-less dirs. staged_bytes is its
      // own column for EVERY row (data_bytes means committed data
      // uniformly): a versioned symbol with _staged debris from a
      // crashed parallel ingest owns that storage too, and a census a
      // cleanup job sums must not hide it behind a column whose meaning
      // shifts per row.
      if (versions.isEmpty)
        (sym, 0, -1, 0, 0L, layerBytes(sym, "data"), layerBytes(sym, "staged"), false)
      else {
        val m = manifest(sym, versions.last)
        (sym, versions.size, m.version, m.files.size, m.rowCount,
          layerBytes(sym, "data"), layerBytes(sym, "staged"),
          !m.deleted && isSymbolFragmented(sym))
      }
    }
    val rows = perSym.map {
      case Library.BatchOk(_, r) => r
      case Library.DataError(sym, cause) =>
        throw new java.io.IOException(s"storageSummary: census of $sym failed", cause)
    }
    spark.createDataFrame(rows)
      .toDF("symbol", "n_versions", "latest_version", "n_files", "rows",
        "data_bytes", "staged_bytes", "fragmented")
  }

  // ------------------------------------------------------- delete & snap

  /** Soft-delete: a tombstone version (reference keeps version history the
    * same way; prune_previous_versions is the hard delete).
    */
  def delete(symbol: String): Int =
    commitVersion(symbol, "delete", None) { _ => latest =>
      manifest(symbol, latest.getOrElse(
        throw new NoSuchElementException(s"symbol $symbol does not exist")))
        .copy(files = Vector.empty, rowCount = 0, deleted = true)
    }

  /** delete(symbol, versions=...) (reference: library.py:2673-2702 →
    * delete_versions): hard-remove SPECIFIC version manifests — the
    * routine "prune a bad version" operation — then GC data files no
    * surviving manifest references. Deleting the latest version makes the
    * previous one latest again, but a later write never reuses the freed
    * number: the high-water marker recorded here keeps version ids
    * monotone, matching the reference's never-reused version counter.
    *
    * A snapshot-pinned version refuses deletion: manifests are immutable
    * in this design, so the reference's "deleted but still
    * snapshot-readable" marker state has no analog — delete the snapshot
    * first (conservative: nothing ever becomes silently unreadable).
    */
  def delete(symbol: String, versions: Seq[Int]): Unit = {
    require(versions.nonEmpty, s"delete($symbol, versions): empty version list")
    val existing = listVersions(symbol)
    require(existing.nonEmpty, s"symbol $symbol does not exist")
    val missing = versions.filterNot(existing.contains)
    require(missing.isEmpty,
      s"$symbol has no version(s) ${missing.mkString(", ")}")
    val pins = snapshotPins(symbol)
    val pinned = versions.filter(pins.contains)
    require(pinned.isEmpty,
      s"version(s) ${pinned.mkString(", ")} of $symbol are pinned by snapshot(s) " +
        s"${pinned.flatMap(pins(_)).distinct.mkString(", ")} — delete the snapshot first")
    // BEFORE any manifest vanishes: once recorded, no later commit can
    // claim a number at or below today's latest, so a deleted version id
    // can never be reborn meaning different data
    recordHighWater(symbol, existing.max)
    // survivors whose delta chain passes through a doomed version become
    // full manifests first — a hard delete must never orphan a dependent
    materializeChainsThrough(symbol, versions.toSet)
    val vDir = versionsDir(symbol)
    val vfs = fs(vDir)
    versions.foreach { v =>
      vfs.delete(new Path(vDir, f"v$v%05d.json"), false)
      manifestCache.remove((symbol, v))
    }
    gcUnreferencedFiles(symbol)
  }

  /** Parsed manifest of every snapshot — one read per snapshot; the single
    * source for all snapshot-membership scans.
    */
  private def snapshotManifests(): Seq[SnapshotManifest] =
    listSnapshots().map(n =>
      SnapshotManifest.fromJson(readString(new Path(snapshotsDir, s"$n.json"))))

  /** Snapshot names pinning each version of `symbol`. */
  private def snapshotPins(symbol: String): Map[Int, Seq[String]] =
    snapshotManifests()
      .flatMap(sm => sm.versions.get(symbol).map(v => v -> sm.name))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap

  /** Collect condemned-past-grace and unreferenced data files NOW — the
    * steady-state sweep. prune/delete(versions) CONDEMN unreferenced
    * files under the `gcGraceMs` read grace, but nothing re-triggers
    * collection on an idle symbol afterwards — without a periodic sweep
    * the condemned files would persist indefinitely. Scheduled
    * maintenance ([[Graft.maintain]]) calls this per symbol to
    * hard-delete markers that have outlived the window. Returns the
    * number of data files hard-deleted; idempotent, and safe alongside
    * readers still inside the grace (their files carry fresh markers).
    */
  def gc(symbol: String): Int = gcUnreferencedFiles(symbol)

  /** Reference-counting GC: remove data files referenced by NO surviving
    * version manifest of `symbol` — never a blind directory wipe (data
    * files are shared across versions). Shared by prunePreviousVersions,
    * delete(versions) and the public [[gc]] sweep; also collects
    * loser-writer dirs. Returns the hard-deleted data-file count.
    */
  private def gcUnreferencedFiles(symbol: String): Int = {
    val dataRoot = new Path(symDir(symbol), "data")
    val dfs = fs(dataRoot)
    var deleted = 0
    if (dfs.exists(dataRoot)) {
      // ONE listing snapshot for both markers and delta dirs, taken
      // BEFORE the manifest read below. finalizeStaged plants its marker
      // strictly before renaming the delta in and commits its manifest
      // strictly after, so for any dir this listing sees: either its
      // marker is in the same listing (finalize still in flight), or the
      // finalize has advanced past the rename — and if it reached commit,
      // the keepFiles read below (which happens AFTER the listing)
      // observes that manifest. Listing markers in one pass and dirs in a
      // second, or reading manifests before listing, reopens a
      // lose-the-only-copy window against a concurrent finalize.
      val listing = dfs.listStatus(dataRoot)
      // Dirs with a FRESH in-flight marker belong to a concurrent
      // finalizeStaged that renamed its deltas in but hasn't committed a
      // manifest yet — unreferenced, but about to be published. A stale
      // marker (crashed finalize beyond the grace window) stops
      // protecting, and the orphaned files collect normally.
      val now = System.currentTimeMillis()
      val inFlight: Set[String] = listing.iterator
        .filter(st => st.isFile && st.getPath.getName.startsWith(InFlightPrefix))
        .filter { st =>
          if (now - st.getModificationTime <= Library.InFlightGraceMs) true
          else { dfs.delete(st.getPath, false); false }
        }
        .map(_.getPath.getName.stripPrefix(InFlightPrefix)).toSet
      val keepFiles: Set[String] =
        listVersions(symbol).flatMap(v => manifest(symbol, v).files.map(_.path)).toSet
      val graceMs = options.gcGraceMs
      listing.filter(_.isDirectory).foreach { dir =>
        val dirName = dir.getPath.getName
        if (!inFlight.contains(dirName)) {
          // ONE listing decides both what to drop and whether the dir
          // ends up empty: re-listing after the drops would FNF on an
          // object store, where a directory IS its keys and vanishes
          // with the last one (HttpLibraryLifecycleSpec caught exactly
          // that — the local-FS run never could).
          val entries = dfs.listStatus(dir.getPath)
          // Two-phase delete under a read grace (reference: ArcticDB
          // tombstones versions before removing keys —
          // version_map.hpp tombstone entries / version_core.cpp delete
          // paths): an unreferenced data file is first CONDEMNED with a
          // sibling marker; only once the marker outlives `gcGraceMs`
          // does the file actually delete. A reader in another process
          // that resolved a manifest just before this prune keeps its
          // in-flight scan alive for the whole grace window — no FNF
          // mid-job on an object store (local-FS open handles mask the
          // race; object stores don't). gcGraceMs=0 restores immediate
          // hard-delete (tests; single-writer-single-reader setups).
          val markers: Map[String, org.apache.hadoop.fs.FileStatus] =
            entries.iterator
              .filter(e => e.isFile && e.getPath.getName.startsWith(CondemnedPrefix))
              .map(e => e.getPath.getName.stripPrefix(CondemnedPrefix) -> e).toMap
          val dataFiles = entries
            .filter(e => e.isFile && !e.getPath.getName.startsWith(CondemnedPrefix))
          val dataNames = dataFiles.map(_.getPath.getName).toSet
          // markers whose data file is already gone are stale: drop them
          markers.foreach { case (name, m) =>
            if (!dataNames.contains(name)) dfs.delete(m.getPath, false)
          }
          var kept = entries.exists(_.isDirectory)
          dataFiles.foreach { st =>
            val name = st.getPath.getName
            if (keepFiles.contains(s"$dirName/$name")) {
              kept = true
              // re-referenced after a condemn would be a bug elsewhere,
              // but healing the marker is free and keeps GC idempotent
              markers.get(name).foreach(m => dfs.delete(m.getPath, false))
            } else if (graceMs <= 0) {
              dfs.delete(st.getPath, false)
              deleted += 1
            } else markers.get(name) match {
              case Some(m) if now - m.getModificationTime > graceMs =>
                dfs.delete(st.getPath, false)
                dfs.delete(m.getPath, false)
                deleted += 1
              case Some(_) => kept = true // condemned; grace still running
              case None =>
                dfs.create(new Path(dir.getPath, s"$CondemnedPrefix$name"), true)
                  .close()
                kept = true
            }
          }
          if (!kept) dfs.delete(dir.getPath, false)
        }
      }
    }
    deleted
  }

  private val InFlightPrefix = "_INFLIGHT_"
  private val CondemnedPrefix = "_CONDEMNED_"

  /** prune_previous_versions (reference: library.py:1018): hard-delete all
    * version manifests except the latest (and any pinned by a snapshot),
    * then GC unreferenced data files.
    */
  def prunePreviousVersions(symbol: String): Unit = {
    val versions = listVersions(symbol)
    if (versions.isEmpty) return
    val latest = versions.last
    val pinned: Set[Int] = snapshotPins(symbol).keySet
    val keep = pinned + latest

    materializeChainsThrough(symbol, versions.filterNot(keep).toSet)
    val vDir = versionsDir(symbol)
    val vfs = fs(vDir)
    versions.filterNot(keep).foreach { v =>
      vfs.delete(new Path(vDir, f"v$v%05d.json"), false)
      manifestCache.remove((symbol, v))
    }
    gcUnreferencedFiles(symbol)
  }

  /** `snapshot` (reference: library.py:2626): pin a cross-symbol
    * consistent view. By default every listed symbol pins its latest
    * version; `versions` overrides pin EXPLICIT (possibly non-latest)
    * versions — each must exist and not be a tombstone; `metadata` rides
    * along in the snapshot manifest (read back via snapshotMetadata).
    */
  def snapshot(
      name: String,
      symbols: Seq[String] = Seq.empty,
      versions: Map[String, Int] = Map.empty,
      metadata: Map[String, String] = Map.empty): Unit = {
    versions.foreach { case (s, v) =>
      require(listVersions(s).contains(v), s"snapshot $name: $s has no version $v")
      require(!manifest(s, v).deleted, s"snapshot $name: $s@$v is a tombstone")
    }
    val syms = if (symbols.nonEmpty) symbols else listSymbols()
    val pinned =
      (syms.flatMap(s => latestVersion(s).map(s -> _)).toMap ++ versions)
    val dir = snapshotsDir
    fs(dir).mkdirs(dir)
    val p = new Path(dir, s"$name.json")
    require(!fs(p).exists(p), s"snapshot $name already exists")
    writeString(p, SnapshotManifest.toJson(
      SnapshotManifest(name, System.currentTimeMillis(), pinned, metadata)))
  }

  def snapshotMetadata(name: String): Map[String, String] =
    SnapshotManifest.fromJson(readString(new Path(snapshotsDir, s"$name.json"))).metadata

  def deleteSnapshot(name: String): Unit = {
    val p = new Path(snapshotsDir, s"$name.json")
    require(fs(p).exists(p), s"snapshot $name does not exist")
    fs(p).delete(p, false)
  }

  def listSnapshots(): Seq[String] = {
    val dir = snapshotsDir
    val f = fs(dir)
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).toSeq.map(_.getPath.getName.stripSuffix(".json")).sorted
  }

  /** list_snapshots(load_metadata=True) (reference: library.py:2857):
    * snapshot names with their metadata, one manifest read each.
    */
  def listSnapshotsWithMetadata(): Map[String, Map[String, String]] =
    snapshotManifests().map(sm => sm.name -> sm.metadata).toMap

  // ---------------------------------------------------- staged ingestion

  /** `stage` — out-of-band parallel ingestion: write a parquet delta that
    * is INVISIBLE to reads until finalized (reference: library.py:952,
    * stream/incompletes.cpp). Safe for N concurrent writers (uuid dirs);
    * also the natural Structured Streaming sink (foreachBatch → stage).
    */
  def stage(symbol: String, df: DataFrame): String = {
    val id = UUID.randomUUID().toString
    df.write.mode("errorifexists").parquet(new Path(stagedDir(symbol), id).toString)
    id
  }

  /** get_staged_symbols (reference: library.py:2006): symbols with pending
    * staged deltas — including ones that have no finalized version yet.
    */
  def getStagedSymbols(): Seq[String] = {
    val rootP = new Path(root)
    val f = fs(rootP)
    if (!f.exists(rootP)) Seq.empty
    else
      f.listStatus(rootP).toSeq
        .filter(_.isDirectory)
        .map(_.getPath.getName)
        .filterNot(_.startsWith("_"))
        .filter { s =>
          val d = stagedDir(s)
          val fd = fs(d)
          fd.exists(d) && fd.listStatus(d).nonEmpty
        }
        .sorted
  }

  /** delete_staged_data / remove_incompletes (reference: library.py:1723,
    * :855): drop pending staged deltas without finalizing them.
    */
  def deleteStagedData(symbol: String): Unit = {
    val d = stagedDir(symbol)
    fs(d).delete(d, true)
    ()
  }

  /** remove_incompletes (reference: library.py:855): batch staged-data
    * cleanup across symbols — each entry reported per item (the staging
    * dirs are independent, so one failure spares siblings). No-op entries
    * (nothing staged) succeed, matching the reference.
    */
  def removeIncompletes(symbols: Seq[String]): Seq[BatchResult[Unit]] =
    symbols.map(s => batchTry(s)(deleteStagedData(s)))

  /** sort_and_finalize_staged_data (reference: library.py:1873): read
    * every staged delta, global-sort by the index, commit as one new
    * version (append or replace), clear staging. The heavyweight path —
    * use [[finalizeStaged]] when the staged deltas are already sorted.
    *
    * dynamicSchema=true unifies EVOLVED delta schemas first — each staged
    * dir is read with its own physical schema, the common-type-promoted
    * union schema is computed (same lattice as append), and every delta is
    * aligned to it before the commit (reference sort_and_finalize handles
    * staged schema unification the same way, library.py:1873); in append
    * mode the append itself then runs with dynamicSchema so the combined
    * frame may also evolve the symbol's stored schema.
    */
  def sortAndFinalizeStaged(
      symbol: String,
      indexCol: Option[String],
      mode: String = "write", // write | append
      targetRows: Long = options.rowsPerSegment,
      dynamicSchema: Boolean = options.dynamicSchema): Int = {
    val dir = stagedDir(symbol)
    val f = fs(dir)
    require(f.exists(dir), s"no staged data for $symbol")
    val dirs = f.listStatus(dir).toSeq.filter(_.isDirectory).map(_.getPath.toString)
    val staged =
      if (!dynamicSchema) {
        // Same refusal finalizeStaged applies (r20 review): without it a
        // bare multi-dir parquet read adopts ONE delta's schema and
        // silently nulls/drops the columns other deltas disagree on —
        // where the reference raises SchemaException on unaligned staged
        // segments. Footer-only reads, one per staged dir.
        val schemas = dirs.map(d => spark.read.parquet(d).schema)
        def shape(s: StructType) = s.fields.toSeq.map(fl => (fl.name, fl.dataType))
        require(schemas.forall(s => shape(s) == shape(schemas.head)),
          s"staged deltas of $symbol have differing schemas — pass " +
            "dynamicSchema=true to unify them under type promotion")
        spark.read.parquet(dirs: _*)
      } else {
        val frames = dirs.map(d => spark.read.parquet(d))
        val target = frames.map(_.schema).reduce(mergeSchemas)
        frames.map(align(_, target)).reduce(_ unionByName _)
      }
    val v = mode match {
      case "append" if hasSymbol(symbol) =>
        append(symbol, staged, targetRows, dynamicSchema = dynamicSchema)
      case _ => write(symbol, staged, indexCol, targetRows)
    }
    f.delete(dir, true)
    v
  }

  /** finalize_staged_data (reference: library.py:1739-1871): PUBLISH the
    * staged deltas as they stand — no sort, no rewrite. Each staged dir
    * is renamed into the data directory and its parquet files join the
    * manifest directly, so finalize costs metadata + one rename per delta
    * regardless of data volume — the cheap daily-ingest path (the
    * reference tacks staged segments onto the index the same way).
    * mode="append" splices the files AFTER the symbol's existing data;
    * mode="write" makes them the entire new version.
    *
    * validateIndex=true verifies from parquet footers alone (zero data
    * IO) that, at ROW-GROUP granularity, each staged file is internally
    * sorted, the staged files don't overlap each other, and — in append
    * mode — they start at/after the stored max (reference validate_index,
    * library.py:1782-1788; equal boundary values are allowed, matching
    * append's >= rule). Rows inside one row group are not inspected: the
    * reference validates at segment granularity and its ~100k-row
    * segments ARE our row groups. Validation failures throw before
    * anything moves, and any later failure (a refused rename, a commit
    * error, a lost append race) moves already-moved deltas back — either
    * way staging holds the full delta set for a re-run; the unsorted
    * fallback is [[sortAndFinalizeStaged]].
    *
    * Under dynamicSchema the deltas may carry EVOLVED schemas: files are
    * still not rewritten — each dir's physical schema is recorded in the
    * manifest and reads align on the fly (the dynamic-append mechanism);
    * the index column itself must keep one type across deltas. Without
    * dynamicSchema all staged schemas (and the symbol's, when appending)
    * must match exactly.
    */
  def finalizeStaged(
      symbol: String,
      indexCol: Option[String] = None,
      mode: String = "write", // write | append
      validateIndex: Boolean = true,
      dynamicSchema: Boolean = options.dynamicSchema): Int = {
    val sDir = stagedDir(symbol)
    val sfs = fs(sDir)
    require(sfs.exists(sDir), s"no staged data for $symbol")
    val deltas = sfs.listStatus(sDir).toSeq.filter(_.isDirectory).map(_.getPath)
    require(deltas.nonEmpty, s"no staged data for $symbol")

    val appending = mode == "append" && hasSymbol(symbol)
    val prior = if (appending) Some(resolveVersion(symbol)) else None
    val idxCol = prior.flatMap(_.indexCol).orElse(indexCol)

    // schema per delta — footer-only reads, one per staged dir
    val deltaSchemas: Seq[(Path, StructType)] =
      deltas.map(d => d -> spark.read.parquet(d.toString).schema)
    val priorSchema = prior.map(m => schemaOf(m.schemaDdl))
    val allSchemas = priorSchema.toSeq ++ deltaSchemas.map(_._2)
    val unified = allSchemas.reduce(mergeSchemas)
    // name+type comparison: nullability differs between a DDL-parsed prior
    // schema and a parquet-read delta schema and carries no information here
    def shape(s: StructType) = s.fields.toSeq.map(f => (f.name, f.dataType))
    if (!dynamicSchema)
      require(allSchemas.forall(s => shape(s) == shape(unified)),
        s"staged deltas of $symbol have differing schemas — pass " +
          "dynamicSchema=true or use sortAndFinalizeStaged")
    val idxType = idxCol.map { i =>
      require(unified.fieldNames.contains(i),
        s"index column $i missing from staged data for $symbol")
      val ts = deltaSchemas.map(_._2).filter(_.fieldNames.contains(i))
        .map(_(i).dataType).distinct
      require(ts.size <= 1,
        s"index column $i changes type across staged deltas of $symbol " +
          s"(${ts.mkString(", ")}) — use sortAndFinalizeStaged")
      unified(i).dataType
    }
    val keys = keysOf(idxType)

    val stats: Seq[(Path, Vector[(FileEntry, Vector[FileEntry])])] =
      deltas.map(d => d -> footerStats(d, idxCol.zip(idxType)))

    if (validateIndex) for (i <- idxCol) {
      // staged files named by delta dir, in the order the manifest will list them
      val staged = keys.sorted(stats.flatMap { case (d, fsx) =>
        fsx.map { case (e, _) => e.copy(path = s"${d.getName}/${e.path}") }
      })
      // Every non-empty staged file must CARRY index footer stats — a
      // dynamicSchema delta missing the index column, or an all-null
      // index, would otherwise slip past the bounded-files checks below
      // while the manifest still claimed sorted=true
      for (e <- staged if e.rows > 0)
        require(keys.lo(e).isDefined,
          s"staged file ${e.path} of $symbol has rows but no " +
            s"footer stats for $i (missing or all-null index column) — " +
            "use sortAndFinalizeStaged or finalize with validateIndex=false")
      for ((d, fsx) <- stats; (e, blocks) <- fsx)
        require(keys.firstOverlap(blocks).isEmpty,
          s"staged file ${d.getName}/${e.path} of $symbol is not sorted by $i " +
            "at row-group granularity — use sortAndFinalizeStaged")
      for ((a, b) <- keys.firstOverlap(staged))
        throw new IllegalArgumentException(
          s"staged files of $symbol overlap on $i: ${a.path} vs ${b.path} — " +
            "use sortAndFinalizeStaged or restage disjoint deltas")
      for (m <- prior)
        keys.requireAfter(m.files, staged.headOption.flatMap(keys.lo),
          s"staged data starts before stored data ($symbol)")
    }

    // Move each delta dir under data/ — an O(1) rename on rename-capable
    // stores. Until the manifest commits, EVERY failure path (a rename
    // refusal mid-loop, a commit IO error, a lost append race) moves the
    // already-moved dirs back into staging: a re-run must see the full
    // staged set, or it would silently publish only the leftover subset.
    val dataRoot = new Path(symDir(symbol), "data")
    val dfs = fs(dataRoot)
    dfs.mkdirs(dataRoot)
    val moved = scala.collection.mutable.ArrayBuffer.empty[(String, Vector[FileEntry], StructType)]
    val markers = scala.collection.mutable.ArrayBuffer.empty[Path]
    val keepMarkers = scala.collection.mutable.Set.empty[Path]
    val v = try {
      commitVersion(symbol, "finalizeStaged", prior.map(_.version)) { first =>
        stats.zip(deltaSchemas).foreach { case ((d, fsx), (_, schema)) =>
          val destName = f"v$first%05d" + s"_${d.getName}"
          // In-flight marker BEFORE the rename: between here and the
          // manifest commit the moved files are referenced by nothing, and
          // a concurrent delete/prune's GC would otherwise destroy the only
          // copy of the staged data. The marker's own mtime is fresh (file
          // mtimes survive rename, so they can't serve as the age signal);
          // GC skips marked dirs until the marker goes stale (crashed
          // finalize), then collects normally.
          val mk = new Path(dataRoot, s"$InFlightPrefix$destName")
          writeString(mk, "")
          markers += mk
          require(dfs.rename(d, new Path(dataRoot, destName)),
            s"failed to move staged delta $d into $dataRoot")
          moved += ((destName, fsx.map(_._1), schema))
        }

        val priorFiles = prior.map(_.files).getOrElse(Vector.empty)
        val shifted = renumber(keys.sorted(moved.toSeq.flatMap { case (dir, entries, _) =>
          entries.map(e => e.copy(path = s"$dir/${e.path}"))
        }), priorFiles)
        val m = VersionManifest(
          version = first,
          indexCol = idxCol,
          // validated at row-group granularity; an unvalidated splice makes no
          // sortedness claim (the reference marks such versions UNSORTED too)
          sorted = idxCol.isDefined && validateIndex && prior.forall(_.sorted),
          files = priorFiles ++ shifted,
          rowCount = priorFiles.map(_.rows).sum + shifted.map(_.rows).sum,
          createdAtMs = 0L,
          schemaDdl = unified.toDDL,
          metadata = prior.map(_.metadata).getOrElse(Map.empty),
          dirSchemas = prior.map(_.dirSchemas).getOrElse(Map.empty) ++
            moved.map { case (dir, _, schema) => dir -> schema.toDDL })
        _ => m
      }
    } catch {
      case t: Throwable =>
        // move everything back so a re-run sees the full staged set; a
        // FAILED rollback must not vanish silently — the data would sit
        // unreferenced in data/ looking published
        moved.foreach { case (dir, _, _) =>
          val src = new Path(dataRoot, dir)
          val dst = new Path(sDir, dir)
          def rollbackFailed(): Unit = {
            // keep the dir's marker: deleting it would strip GC
            // protection from the stranded unreferenced data the very
            // next prune would collect. The marker lapses after the
            // grace window — an operator has that long to recover.
            keepMarkers += new Path(dataRoot, s"$InFlightPrefix$dir")
          }
          try {
            if (!dfs.rename(src, dst)) {
              rollbackFailed()
              t.addSuppressed(new java.io.IOException(
                s"rollback failed for $symbol: could not move $src back to staging"))
            }
          } catch {
            case e: Throwable => rollbackFailed(); t.addSuppressed(e)
          }
        }
        throw t
    } finally {
      markers.filterNot(keepMarkers.contains)
        .foreach(mk => try dfs.delete(mk, false) catch { case _: Exception => () })
    }
    // outside the try: once the version is committed, a failure here must
    // not move the published dirs back to staging
    sfs.delete(sDir, true)
    v
  }

  // ------------------------------------------------------- column stats

  private def statsPath(symbol: String) = new Path(symDir(symbol), "_stats/columns.json")

  /** ColumnStatsGenerationClause (reference: create_column_stats
    * _store.py:1297-1324, clause.cpp:788-872): record per-FILE min/max for
    * chosen columns so non-index predicates can prune whole files before
    * Spark ever lists them. Harvested from parquet footers — zero data IO;
    * data files are immutable so stats stay valid for every version that
    * shares the file. Re-running merges stats for new files/columns.
    */
  def createColumnStats(symbol: String, columns: Seq[String], asOf: AsOf = AsOf.Latest): Unit = {
    val m = resolveVersion(symbol, asOf)
    val schema = schemaOf(m.schemaDdl)
    val fresh: Map[String, Map[String, (String, String)]] = m.files.map { fe =>
      fe.path -> readColumnFooterStats(new Path(resolve(symbol, fe)), columns, schema)
    }.toMap
    val merged = loadColumnStats(symbol) match {
      case prior => fresh.foldLeft(prior) { case (acc, (file, cols)) =>
        acc.updated(file, acc.getOrElse(file, Map.empty) ++ cols)
      }
    }
    val p = statsPath(symbol)
    val f = fs(p)
    f.mkdirs(p.getParent)
    val tmp = new Path(p.getParent, s".tmp-${UUID.randomUUID()}")
    writeString(tmp, ColumnStats.toJson(merged))
    f.delete(p, false)
    require(f.rename(tmp, p), s"column-stats commit failed for $symbol")
  }

  def loadColumnStats(symbol: String): Map[String, Map[String, (String, String)]] = {
    val p = statsPath(symbol)
    if (!fs(p).exists(p)) Map.empty else ColumnStats.fromJson(readString(p))
  }

  /** Footer min/max per requested column of one file, as strings (numbers
    * in decimal form, strings as UTF-8). Parquet may truncate binary stats
    * but only outward (min ≤ true min, max ≥ true max) — pruning stays
    * conservative. Columns without usable stats are simply absent.
    *
    * Whether per-block bounds combine numerically or lexicographically is
    * decided by the SCHEMA column type, never by value parseability:
    * statFilterKeep compares string columns lexicographically, so a
    * string column holding numeric-looking values (min of {"2","10"} is
    * "10", not "2") must be harvested with the same ordering or files
    * containing matches would be wrongly pruned. Columns absent from the
    * schema are skipped (they cannot be filtered on either).
    */
  private def readColumnFooterStats(
      p: Path,
      columns: Seq[String],
      schema: StructType): Map[String, (String, String)] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    def render(v: AnyRef): String = v match {
      case b: Binary => b.toStringUsingUTF8
      case other => other.toString
    }
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(p, hconf))
    try {
      val blocks = reader.getFooter.getBlocks.asScala
      columns.flatMap { c =>
        // Decimal columns are excluded entirely: parquet may back them with
        // FIXED_LEN_BYTE_ARRAY (stats render as opaque bytes, not decimal
        // text) or with INT32/INT64 UNSCALED values (123 for 1.23) — either
        // way the rendered bounds would not be comparable with query-side
        // decimal literals, so no stats ⇒ statFilterKeep keeps the file
        // (conservative, never wrong).
        val field = schema.fields.find(_.name == c)
          .filterNot(_.dataType.isInstanceOf[DecimalType])
        val perBlock = blocks.flatMap(_.getColumns.asScala
          .find(_.getPath.toDotString == c)
          .map(_.getStatistics)
          .filter(s => s != null && s.hasNonNullValue)
          .map(s => (render(s.genericGetMin.asInstanceOf[AnyRef]),
            render(s.genericGetMax.asInstanceOf[AnyRef]))))
        if (field.isEmpty || perBlock.isEmpty || perBlock.size != blocks.size) None
        else {
          val numeric = numericStats(field.get.dataType)
          // string bounds combine in UTF-8 BYTE order: parquet's per-block
          // binary stats are byte-order envelopes, and Spark compares
          // strings the same way — Java's UTF-16 ordering would pick a
          // non-envelope bound above the BMP
          val mn = if (numeric) perBlock.map(b => BigDecimal(b._1)).min.toString
            else perBlock.map(_._1).min(Library.strOrdering)
          val mx = if (numeric) perBlock.map(b => BigDecimal(b._2)).max.toString
            else perBlock.map(_._2).max(Library.strOrdering)
          Some(c -> (mn, mx))
        }
      }.toMap
    } finally reader.close()
  }

  /** Column types whose footer stats render as decimal numbers (and are
    * therefore combined/compared numerically); everything else —
    * string-like — orders lexicographically. Harvest
    * (readColumnFooterStats) and filter (statFilterKeep) MUST agree on
    * this, or stored bounds stop being an envelope under the filter's
    * ordering and pruning drops matching files. DecimalType never reaches
    * either side (harvest skips it — its parquet stats are unscaled ints
    * or raw bytes, not decimal text).
    */
  private def numericStats(t: DataType): Boolean = t match {
    case _: DecimalType => false
    case _: NumericType | TimestampType | TimestampNTZType | DateType => true
    case _ => false
  }

  /** File survives the predicate iff its [min,max] intersects [lo,hi];
    * missing stats keep the file (three-valued logic collapses to
    * "cannot exclude" — reference column_stats_filter.cpp Kleene rules).
    */
  private def statFilterKeep(
      stats: Map[String, Map[String, (String, String)]],
      schema: StructType,
      f: FileEntry,
      pred: ColRange): Boolean =
    stats.get(f.path).flatMap(_.get(pred.column)) match {
      case None => true
      case Some((mn, mx)) =>
        if (numericStats(schema(pred.column).dataType))
          BigDecimal(mn) <= BigDecimal(pred.hi.toString) &&
            BigDecimal(mx) >= BigDecimal(pred.lo.toString)
        else // UTF-8 byte order — matches the harvest and Spark's own compare
          Library.strCmp(mn, pred.hi.toString) <= 0 &&
            Library.strCmp(mx, pred.lo.toString) >= 0
    }

  // ------------------------------------------------------------- batch

  /** Batch entry points (reference: read_batch library.py:2161,
    * write_batch :1241, append_batch :1469, update_batch :1643).
    *
    * Side-effecting batches (write/append/update) are SUBMITTED FROM A
    * DRIVER THREAD POOL: Spark's scheduler accepts jobs from concurrent
    * threads, so N symbols' writes overlap instead of serializing their
    * commit latency (the reference runs batch requests concurrently the
    * same way). Batch items should target DISTINCT symbols: concurrent
    * derived commits (append/update) to the same symbol are detected by
    * the manifest CAS and fail with ConcurrentModificationException rather
    * than silently racing. Result order matches input order; every task is
    * awaited before the call returns (no write still in flight), and each
    * item's outcome is reported separately as BatchOk/DataError — the
    * reference's per-item error model (library.py:626): one bad symbol
    * doesn't poison its siblings. Callers who want fail-fast semantics
    * map `.get` over the results.
    */
  private[core] def inParallel[A, B](items: Seq[A], parallelism: Int)(
      label: A => String)(f: A => B): Seq[BatchResult[B]] = {
    if (items.isEmpty) return Seq.empty
    // Query-stats propagation ([[withQueryStats]]): the collector is
    // thread-local, so pool workers would silently fall outside an
    // active scope — readBatch/readBatchAndJoin would return an EMPTY
    // census, the worst failure mode for an observability tool. Capture
    // the caller's scope here and give each TASK its own buffer (never
    // the caller's — siblings run concurrently), merged back in input
    // order after the barrier so the census is deterministic. Explicit
    // capture, not an InheritableThreadLocal: pool threads outlive the
    // scope and would leak the buffer into later calls.
    val callerQs = Library.qsLocal.get
    val taskQs =
      if (callerQs == null) null
      else items.map(_ => scala.collection.mutable.ArrayBuffer.empty[Library.ReadStats])
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(parallelism, items.size)))
    try {
      val futures = items.zipWithIndex.map { case (a, i) =>
        pool.submit(new java.util.concurrent.Callable[B] {
          def call(): B =
            if (callerQs == null) f(a)
            else {
              Library.qsLocal.set(taskQs(i))
              try f(a) finally Library.qsLocal.remove()
            }
        })
      }
      // fut.get() in input order awaits ALL tasks — failures are captured
      // per item, never thrown while siblings still run
      val results = items.zip(futures).map { case (a, fut) =>
        scala.util.Try(fut.get()) match {
          case scala.util.Success(b) => BatchOk(label(a), b)
          case scala.util.Failure(e: java.util.concurrent.ExecutionException)
              if scala.util.control.NonFatal(e.getCause) =>
            DataError(label(a), e.getCause)
          case scala.util.Failure(e: java.util.concurrent.ExecutionException) =>
            // fatal (OOM etc.): the JVM is in unknown state — propagate,
            // matching batchTry's NonFatal-only capture
            throw e.getCause
          case scala.util.Failure(e) if scala.util.control.NonFatal(e) =>
            DataError(label(a), e)
          case scala.util.Failure(e) => throw e
        }
      }
      // Merge AFTER the barrier (every fut.get() above returned, so each
      // task buffer is final and happens-before-visible). A DataError
      // item's rows stay in: the pruning census records at plan time, so
      // a read that failed later DID that storage work — identical to a
      // throwing read on the caller's own thread.
      if (callerQs != null) taskQs.foreach(callerQs ++= _)
      results
    } finally pool.shutdown()
  }

  /** Default batch fan-out: enough to overlap commit+IO latency without
    * flooding the scheduler; override per call for wide cluster batches.
    */
  val BatchParallelism = 8

  /** Pool width for ADMIN metadata walks (sizesBySymbol /
    * storageSummary): these are pure listing round-trips, not data
    * jobs, and an object-store census is latency-bound — the 8-wide
    * walk measured ~4x effective parallelism under a 10 ms/op simulated
    * RTT on a 200-symbol root (SURVEY.md round 20, "Review findings
    * (V6)" #3); 32-wide cuts a 10k-symbol census from minutes toward
    * tens of seconds without contending with data-plane work (the
    * walks hold no Spark resources).
    */
  val AdminWalkParallelism = 32

  def readBatch(symbols: Seq[String], asOf: AsOf = AsOf.Latest): Seq[BatchResult[DataFrame]] =
    symbols.map(s => batchTry(s)(read(s, asOf)))

  /** read_batch with a shared clause pipeline applied to every symbol. */
  def readBatch(
      symbols: Seq[String],
      query: graft.query.QueryBuilder,
      asOf: AsOf): Seq[BatchResult[DataFrame]] =
    symbols.map(s => batchTry(s)(query(read(s, asOf))))

  /** Sequential per-item capture for metadata-cheap batch loops. */
  private def batchTry[A](symbol: String)(f: => A): BatchResult[A] =
    try BatchOk(symbol, f)
    catch { case scala.util.control.NonFatal(e) => DataError(symbol, e) }

  /** read_batch with PER-SYMBOL options — the reference's ReadRequest
    * carries as_of / date_range / row_range / columns / query_builder per
    * symbol (library.py:278, consumed by read_batch :2161). Plan building
    * is metadata-only (manifest reads), parallelized across requests.
    */
  def readBatch(requests: Seq[ReadRequest]): Seq[BatchResult[DataFrame]] =
    inParallel(requests, BatchParallelism)(_.symbol) { r =>
      require(r.rowRange.isEmpty || (r.dateRange.isEmpty && r.keyRange.isEmpty),
        s"${r.symbol}: rowRange is exclusive with dateRange/keyRange")
      val base = r.rowRange match {
        case Some((s, e)) =>
          val df = readRowRange(r.symbol, s, e, r.asOf).drop(RowIdCol)
          r.columns.map(cs => df.select(cs.map(col): _*)).getOrElse(df)
        case None =>
          read(r.symbol, r.asOf, r.dateRange, r.columns, withRowId = false,
            Nil, r.keyRange)
      }
      r.query.map(_(base)).getOrElse(base)
    }

  def writeBatch(
      items: Seq[(String, DataFrame)],
      indexCol: Option[String] = None,
      targetRows: Long = options.rowsPerSegment,
      parallelism: Int = BatchParallelism): Seq[BatchResult[Int]] =
    inParallel(items, parallelism)(_._1) { case (s, df) => write(s, df, indexCol, targetRows) }

  def appendBatch(
      items: Seq[(String, DataFrame)],
      targetRows: Long = options.rowsPerSegment,
      parallelism: Int = BatchParallelism): Seq[BatchResult[Int]] =
    inParallel(items, parallelism)(_._1) { case (s, df) => append(s, df, targetRows) }

  def updateBatch(
      items: Seq[(String, DataFrame)],
      targetRows: Long = options.rowsPerSegment,
      parallelism: Int = BatchParallelism): Seq[BatchResult[Int]] =
    inParallel(items, parallelism)(_._1) { case (s, df) => update(s, df, targetRows) }

  /** delete_batch (reference: library.py:2703) — tombstones, in parallel. */
  def deleteBatch(
      symbols: Seq[String],
      parallelism: Int = BatchParallelism): Seq[BatchResult[Int]] =
    inParallel(symbols, parallelism)(identity)(delete(_))

  /** delete_batch with DeleteRequest entries (reference: library.py:365
    * DeleteRequest, :2703 delete_batch) — per-symbol version-targeted
    * deletes from the batch pool; same semantics as delete(symbol,
    * versions) including the snapshot-pin refusal.
    */
  def deleteVersionsBatch(
      requests: Seq[(String, Seq[Int])],
      parallelism: Int = BatchParallelism): Seq[BatchResult[Unit]] =
    inParallel(requests, parallelism)(_._1) { case (s, vs) => delete(s, vs) }

  /** read_batch_and_join (reference: library.py:2348): read N symbols and
    * concatenate row-wise with inner/outer schema join + common-type
    * promotion — the ConcatClause over the version layer.
    */
  def readBatchAndJoin(
      symbols: Seq[String],
      join: String = "outer",
      asOf: AsOf = AsOf.Latest): DataFrame = {
    require(symbols.nonEmpty, "readBatchAndJoin needs at least one symbol")
    // the concat needs every frame: fail fast on the first DataError
    val frames = readBatch(symbols, asOf).map(_.get)
    graft.query.QueryBuilder().concat(frames.tail, join)(frames.head)
  }

  // ----------------------------------------------------------- compact

  /** defragment_symbol_data / compact (reference: library.py:3258,3342,
    * clause_compact_data.cpp — re-slice to rows_per_segment ±33%): rewrite
    * ONLY runs of ≥2 consecutive undersized files; full-size files are
    * reused untouched. At 100 TB this is the difference between a
    * maintenance job proportional to the fragmentation and one that
    * rewrites the whole symbol after every run of small appends.
    * Returns the current version unchanged if nothing is fragmented.
    */
  /** Contiguous runs of ≥2 undersized files — the rewrite units of
    * compact. Each run is rewritten INDEPENDENTLY: one combined rewrite of
    * non-adjacent runs could emit a file spanning the index gap between
    * them, overlapping the untouched full-size files in between and
    * corrupting the files-are-index-disjoint invariant that _row_id /
    * head / tail / readRowRange reconstruction relies on.
    */
  private def fragmentedRuns(m: VersionManifest, targetRows: Long): Vector[Vector[FileEntry]] = {
    val thresh = targetRows * 2 / 3
    val small = m.files.map(_.rows < thresh)
    val runs = scala.collection.mutable.ArrayBuffer.empty[Vector[FileEntry]]
    var i = 0
    while (i < m.files.size) {
      if (small(i)) {
        var j = i
        while (j < m.files.size && small(j)) j += 1
        if (j - i >= 2) runs += m.files.slice(i, j)
        i = j
      } else i += 1
    }
    runs.toVector
  }

  /** is_symbol_fragmented (reference: library.py:3315). */
  def isSymbolFragmented(symbol: String, targetRows: Long = options.rowsPerSegment): Boolean = {
    val m = resolveVersion(symbol)
    m.indexCol.nonEmpty && fragmentedRuns(m, targetRows).nonEmpty
  }

  /** compact_data_explain_plan (reference: library.py:3202): the file runs
    * a compact at this geometry WOULD rewrite, without executing it.
    */
  def compactExplainPlan(symbol: String, targetRows: Long = options.rowsPerSegment): Seq[Seq[String]] = {
    val m = resolveVersion(symbol)
    if (m.indexCol.isEmpty) Seq(m.files.map(_.path))
    else fragmentedRuns(m, targetRows).map(_.map(_.path))
  }

  def compact(symbol: String, targetRows: Long = options.rowsPerSegment): Int = {
    val m = resolveVersion(symbol)
    if (m.indexCol.isEmpty) // unsorted: full rewrite of m's files, pinned to m
      return commitNew(symbol, readFiles(symbol, m, m.files, None, None, withRowId = false),
        None, targetRows, priorFiles = Vector.empty, m.metadata,
        baseVersion = Some(m.version), op = "compact")

    val runs = fragmentedRuns(m, targetRows)
    if (runs.isEmpty) return m.version

    val inRuns = runs.flatten.map(_.path).toSet
    val untouched = m.files.filterNot(f => inRuns(f.path))
    commitVersion(symbol, "compact", Some(m.version)) { first =>
      val runOut = runs.zipWithIndex.map { case (run, ri) =>
        val dir = dataDir(symbol, first).suffix(s"_c$ri")
        dir -> writeData(readFiles(symbol, m, run, None, None, withRowId = false),
          dir, m.indexCol, targetRows)
      }
      // files are index-disjoint, so the one file order IS global row order
      val keys = keysOf(idxTypeOf(m))
      val ordered = renumber(keys.sorted(untouched ++ runOut.flatMap(_._2)))
      // Guard the invariant before committing: consecutive files must not
      // properly overlap.
      val clash = keys.firstOverlap(ordered)
      require(clash.isEmpty, clash.fold("") { case (a, b) =>
        s"compact would overlap file index ranges: ${a.path} [..${keys.hi(a).get}] vs " +
          s"${b.path} [${keys.lo(b).get}..]"
      })
      val nm = m.copy(
        files = ordered,
        rowCount = ordered.map(_.rows).sum,
        dirSchemas = m.dirSchemas ++ runOut.map(_._1.getName -> m.schemaDdl))
      _ => nm
    }
  }
}

object Library {
  /** Reconstructed global row index column name. */
  val RowIdCol = "_row_id"

  /** Per-symbol storage layers the census tools walk (snapshots are
    * library-scoped and handled separately). */
  private[core] val SymbolLayers = Seq("version", "data", "stats", "staged")

  /** PROCESS-GLOBAL per-thread query-stats collector (the reference's
    * query_stats enable/disable is process-global too,
    * toolbox/query_stats.py): reads through ANY Library handle on the
    * thread record into the active scope — `Graft.getLibrary` returns a
    * fresh instance per call, and an instance-scoped collector would
    * silently return an EMPTY census there, the worst failure mode for
    * an observability tool.
    */
  private[core] val qsLocal =
    new ThreadLocal[scala.collection.mutable.ArrayBuffer[Library.ReadStats]]

  /** One read's pruning census under [[Library.withQueryStats]]:
    * `filesTotal` files in the resolved manifest, of which the three
    * pruning tiers skipped `prunedByRange` (date/key range vs manifest
    * index bounds), `prunedByStats` (caller ColRanges vs the stats
    * sidecar) and `prunedByExpr` (expression-AST Kleene pruning);
    * `filesRead`/`rowsRead` is what the scan touches, `rowsTotal` the
    * version's full row count. `filesListed` counts the read files whose
    * status the manifest did not record, so planning the scan lists them
    * in storage; 0 means the read touches no storage metadata.
    */
  final case class ReadStats(
      symbol: String,
      version: Int,
      filesTotal: Int,
      prunedByRange: Int,
      prunedByStats: Int,
      prunedByExpr: Int,
      filesRead: Int,
      rowsRead: Long,
      rowsTotal: Long,
      filesListed: Int)

  /** Symbol-metadata key carrying the last streaming fold stamp
    * (`<scope>:<batchId>`, [[ReplayGuard]]) of an index/ledger symbol —
    * the built-in replay guard of the StreamIngest fold sinks. Stamped
    * atomically with each fold's commit (write `metadata` / append
    * `extraMetadata`), so a crash-replayed micro-batch skips exactly
    * the symbols whose fold already landed.
    */
  val ReplayGuardKey = "graft.lastFoldedBatch"

  /** One streaming pipeline's identity for the fold replay guard.
    * Spark's micro-batch ids are monotonic only WITHIN one checkpoint,
    * so a bare batchId stamp is a trap: a fresh checkpoint pointed at
    * an existing (or tombstoned-and-recreated) index restarts ids at 0
    * and a bare-id guard would silently skip its first N batches —
    * silent data loss where the guard was meant to prevent double
    * counting. The stamp therefore carries the checkpoint-derived
    * `scope`, and a fold skips ONLY when both the scope matches and the
    * batchId is not newer. Legacy bare-long stamps (no scope) never
    * match — at-least-once at the upgrade boundary beats silently
    * dropping a fresh stream's folds.
    */
  final case class ReplayGuard(scope: String, batchId: Long) {
    require(!scope.contains(':') && scope.nonEmpty, s"bad guard scope $scope")
    def stampValue: String = s"$scope:$batchId"
  }

  object ReplayGuard {
    /** Guard for a micro-batch of the stream checkpointed at
      * `checkpoint` — the scope is a digest of the CANONICALIZED
      * checkpoint location, the identity Spark itself scopes batchIds
      * to. Canonicalization matters: an operator restarting the same
      * job with a respelled path ("/tmp/cp/" vs "/tmp/cp", or
      * "file:///tmp/cp") resumes the SAME Spark checkpoint, and a
      * raw-string digest would treat the crash-replayed batch as a new
      * scope and double-fold it. The path is normalized structurally
      * (Hadoop Path: trailing slashes, doubled separators) and
      * FS-qualified when a Hadoop configuration is supplied (scheme +
      * authority made explicit, "file:/tmp/cp" == "/tmp/cp"). Restarts
      * of the same checkpoint keep the scope (crash replay skips, as
      * intended); a genuinely NEW checkpoint location is a new stream
      * identity and its batch 0 folds instead of being mistaken for a
      * replay.
      */
    def forCheckpoint(
        checkpoint: String,
        batchId: Long,
        hconf: Option[org.apache.hadoop.conf.Configuration] = None): ReplayGuard = {
      val p = new Path(checkpoint)
      // Fallback when FileSystem init throws (transient FS error,
      // misconfigured scheme): qualify STRUCTURALLY from fs.defaultFS —
      // the same scheme/authority defaulting Path.makeQualified applies
      // (missing scheme takes the default scheme+authority; a present
      // scheme with a missing authority takes the default authority
      // when the schemes MATCH, else stays authority-less) — WITHOUT
      // instantiating the FileSystem. A raw-string fallback would flip
      // the scope between a run where qualification succeeded and a
      // crash-replay restart where it failed, and the replayed batch
      // would double-fold. The fallback itself must never throw (a
      // malformed fs.defaultFS is the same misconfiguration that lands
      // us here): any failure degrades to the raw string. RELATIVE
      // paths also degrade to the raw string — makeQualified resolves
      // them against the FS working directory, which does not exist
      // without the FS; gluing scheme+authority onto a relative path
      // would produce a malformed URI ("hdfs://nn:8020ckpt") rather
      // than a stable scope. (Residual limitation: a relative
      // checkpoint's scope can still differ between a qualified run
      // and a failed-qualification run — pass absolute checkpoint
      // locations, as Spark itself resolves them before use.)
      def structural(c: org.apache.hadoop.conf.Configuration): String =
        try {
          val u = p.toUri
          if (!p.isAbsolute && u.getScheme == null) p.toString
          else {
            val d = java.net.URI.create(c.get("fs.defaultFS", "file:///"))
            val scheme = Option(u.getScheme)
              .orElse(Option(d.getScheme)).getOrElse("file")
            val auth = Option(u.getAuthority).filter(_.nonEmpty)
              .orElse(Option(d.getAuthority).filter(_.nonEmpty)
                .filter(_ => u.getScheme == null || u.getScheme == d.getScheme))
            s"$scheme:${auth.map("//" + _).getOrElse("")}${u.getPath}"
          }
        } catch { case scala.util.control.NonFatal(_) => p.toString }
      val canon = hconf match {
        case Some(c) =>
          try p.getFileSystem(c).makeQualified(p).toString
          catch { case scala.util.control.NonFatal(_) => structural(c) }
        case None => p.toString
      }
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(canon.getBytes("UTF-8"))
        .take(8).map("%02x".format(_)).mkString
      ReplayGuard(hex, batchId)
    }

    /** True when `stamp` (a stored [[Library.ReplayGuardKey]] value)
      * proves this guard's batch already folded: same scope AND the
      * stored batchId EQUALS this one — under one checkpoint Spark
      * only ever re-delivers the last uncommitted batch, so equality
      * is exactly the crash-replay case. A LOWER stored id is normal
      * progression (fold); a HIGHER one means the checkpoint regressed
      * under the same path — reset (ids restarted from 0) or RESTORED
      * FROM BACKUP (ids resume below the stored stamp) — and both fold
      * rather than silently starve the reprocessing stream. The
      * corollary operators must know: rolling a checkpoint back to a
      * backup makes the guard at-least-once for every batch between the
      * backup and the rollback point — those re-delivered batches
      * DOUBLE-fold, and dedup is then admission control's contract, as
      * always. Scope-less legacy stamps never skip.
      */
    def alreadyFolded(stamp: String, g: ReplayGuard): Boolean = {
      val i = stamp.lastIndexOf(':')
      i > 0 && stamp.substring(0, i) == g.scope &&
        (try stamp.substring(i + 1).toLong == g.batchId
        catch { case _: NumberFormatException => false })
    }
  }

  /** Manifest DDL → schema. Metadata-only versions (writeMetadata on a
    * missing symbol) store an EMPTY ddl — zero columns — which
    * StructType.fromDDL rejects, so the blank case is handled here.
    */
  def schemaOf(ddl: String): StructType =
    if (ddl.trim.isEmpty) new StructType() else StructType.fromDDL(ddl)

  /** Unsigned UTF-8 byte order for string-index bounds — the ONE ordering
    * shared by parquet binary stats, Spark's UTF8String comparison and its
    * string range partitioning. Java's String.compareTo (UTF-16 code
    * units) disagrees above the BMP (supplementary code points sort below
    * U+E000..U+FFFF there), so manifest comparisons must never use it.
    */
  def strCmp(a: String, b: String): Int = {
    val x = a.getBytes(StandardCharsets.UTF_8)
    val y = b.getBytes(StandardCharsets.UTF_8)
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val d = (x(i) & 0xff) - (y(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    x.length - y.length
  }

  val strOrdering: Ordering[String] = (a: String, b: String) => strCmp(a, b)

  /** Index stats unit: ns for long indexes, µs for timestamp indexes.
    * String indexes never pass through here — their bounds live in
    * FileEntry.minStr/maxStr and compare with [[Library.strCmp]].
    */
  private def idxAsLong(c: Column, t: DataType): Column =
    t match {
      case LongType | IntegerType => c.cast(LongType)
      case TimestampType => unix_micros(c)
      case TimestampNTZType => unix_micros(c.cast(TimestampType))
      case DateType => c.cast(TimestampType).cast(LongType) * 1000000L
      case other => throw new IllegalArgumentException(s"unsupported index type $other")
    }

  /** One index-key family — the ONE rule for a data file's index bounds
    * (the reference's TABLE_INDEX rows, stream/index.hpp:84): the key
    * order, which [[FileEntry]] fields hold the bounds, how footer stats
    * and a frame's min/max decode into keys, and the residual row filters.
    * [[LongKeys]] holds the long-unit indexes in minIdx/maxIdx (ns for
    * long/int, µs for timestamp/date — the unit `idxAsLong` produces);
    * [[StrKeys]] the string TableIndex in minStr/maxStr under [[strCmp]].
    * Every commit site picks the family once from the stored index type,
    * then shares one file order ([[sorted]]), one disjointness check
    * ([[firstOverlap]]) and one start-after-prior check ([[requireAfter]]).
    */
  private sealed abstract class IdxKeys {
    type K
    implicit val ord: Ordering[K]
    def lo(f: FileEntry): Option[K]
    def hi(f: FileEntry): Option[K]
    def withBounds(f: FileEntry, b: Option[(K, K)]): FileEntry
    /** One row group's footer min (`roundUp` false) or max stat as a key. */
    protected def decode(v: AnyRef, t: DataType, pt: PrimitiveType, roundUp: Boolean): K
    /** Index column `c` of type `t` as a key-typed column. */
    protected def asKey(c: Column, t: DataType): Column
    def residual(idx: String, t: DataType, lo: K, hi: K): Column
    def inverseResidual(idx: String, t: DataType, lo: K, hi: K): Column
    /** A key as error messages quote it. */
    def show(k: K): String

    /** Inclusive key range for file pruning / splice partitioning. Missing
      * stats always mean "cannot exclude".
      */
    final class Range(val lo: K, val hi: K) {
      /** May the file contain in-range rows? Missing stats ⇒ true (read-side
        * pruning must never exclude what it cannot bound).
        */
      def intersects(f: FileEntry): Boolean =
        IdxKeys.this.lo(f).forall(ord.lteq(_, hi)) && IdxKeys.this.hi(f).forall(ord.gteq(_, lo))
      /** Does the file PROVABLY contain in-range rows? Missing stats ⇒ false
        * (splice only rewrites files it can bound — all-null-key files stay
        * untouched).
        */
      def intersectsStrict(f: FileEntry): Boolean =
        IdxKeys.this.lo(f).exists(ord.lteq(_, hi)) && IdxKeys.this.hi(f).exists(ord.gteq(_, lo))
      def wholeFileBelow(f: FileEntry): Boolean = IdxKeys.this.hi(f).exists(ord.lt(_, lo))
      def residual(idx: String, t: DataType): Column = IdxKeys.this.residual(idx, t, lo, hi)
      def inverseResidual(idx: String, t: DataType): Column =
        IdxKeys.this.inverseResidual(idx, t, lo, hi)
    }

    /** The [min, max] key range of a frame's index column; None when it
      * holds no non-null key.
      */
    def frameRange(df: DataFrame, idx: String): Option[Range] = {
      val t = df.schema(idx).dataType
      val b = df.agg(min(asKey(col(idx), t)), max(asKey(col(idx), t))).collect()(0)
      if (b.isNullAt(0)) None else Some(new Range(b.getAs[K](0), b.getAs[K](1)))
    }

    /** `f` bounded by the envelope of its row groups' footer stats for
      * `index`, plus each row group's bounds as an entry, in footer order.
      * Row groups without stats (all-null keys) bound nothing. Parquet may
      * truncate binary stats, but only OUTWARD, so bounds stay an envelope.
      */
    def withFooterBounds(
        f: FileEntry,
        index: Option[(String, DataType)],
        blocks: Seq[BlockMetaData]): (FileEntry, Vector[FileEntry]) = {
      import scala.jdk.CollectionConverters._
      val bounds = for {
        (idx, t) <- index.toVector
        b <- blocks
        c <- b.getColumns.asScala.find(_.getPath.toDotString == idx)
        s = c.getStatistics
        if s != null && s.hasNonNullValue
      } yield (decode(s.genericGetMin.asInstanceOf[AnyRef], t, c.getPrimitiveType, roundUp = false),
        decode(s.genericGetMax.asInstanceOf[AnyRef], t, c.getPrimitiveType, roundUp = true))
      val envelope =
        if (bounds.isEmpty) None else Some((bounds.map(_._1).min, bounds.map(_._2).max))
      (withBounds(f, envelope), bounds.map(b => withBounds(f, Some(b))))
    }

    /** The ONE file order: by lower bound, then path; files without bounds
      * (all-null keys, unindexed data) last, by path. writeData,
      * finalizeStaged and compact all number rowOffsets in this order.
      */
    def sorted(files: Seq[FileEntry]): Vector[FileEntry] = {
      val (bounded, unbounded) = files.partition(lo(_).isDefined)
      (bounded.sortBy(f => (lo(f).get, f.path)) ++ unbounded.sortBy(_.path)).toVector
    }

    /** The first consecutive pair whose ranges properly overlap — a pair
      * tying on one boundary key is fine, every range test is inclusive.
      * Pairs with an unbounded side are skipped.
      */
    def firstOverlap(files: Seq[FileEntry]): Option[(FileEntry, FileEntry)] =
      files.iterator.sliding(2).withPartial(false).map(w => (w(0), w(1))).find {
        case (a, b) => (for (amx <- hi(a); bmn <- lo(b)) yield ord.gt(amx, bmn)).contains(true)
      }

    /** New data must start at/after the highest key of `prior` (equal keys
      * allowed); `first` (its lowest key) is computed only when `prior`
      * has bounds.
      */
    def requireAfter(prior: Seq[FileEntry], first: => Option[K], what: String): Unit =
      for (priorMax <- prior.flatMap(hi(_)).maxOption; newMin <- first)
        require(ord.gteq(newMin, priorMax), s"$what: ${show(newMin)} < ${show(priorMax)}")
  }

  private object LongKeys extends IdxKeys {
    type K = Long
    implicit val ord: Ordering[Long] = Ordering.Long
    def lo(f: FileEntry): Option[Long] = f.minIdx
    def hi(f: FileEntry): Option[Long] = f.maxIdx
    def withBounds(f: FileEntry, b: Option[(Long, Long)]): FileEntry =
      f.copy(minIdx = b.map(_._1), maxIdx = b.map(_._2))
    /** Footer stats in the manifest unit: dates as µs of midnight,
      * timestamps as µs from whatever unit the footer's logical type names
      * (ns round outward, min down and max up), long/int as stored.
      */
    protected def decode(v: AnyRef, t: DataType, pt: PrimitiveType, roundUp: Boolean): Long =
      (t, v) match {
        case (DateType, days: Integer) => days.toLong * 86400000000L
        case (TimestampType | TimestampNTZType, n: java.lang.Long) =>
          val nsPer = ParquetFooterStats.nsPerUnit(pt)
          if (nsPer >= 1000L) n * (nsPer / 1000L)
          else if (roundUp) Ts.ceilDivUs(n * nsPer)
          else Ts.floorDivUs(n * nsPer)
        case (_, n: Number) => n.longValue()
        case (_, other) =>
          throw new IllegalStateException(s"unexpected footer stat $other for index type $t")
      }
    protected def asKey(c: Column, t: DataType): Column = idxAsLong(c, t)
    // Timestamp indexes compare against FOLDABLE timestamp literals (lo/hi
    // are already in the manifest's µs unit) so the residual reaches the
    // parquet scan for row-group pruning; wrapping the column in
    // unix_micros would defeat pushdown.
    def residual(idx: String, t: DataType, lo: Long, hi: Long): Column =
      if (Ts.isTs(t)) col(idx).between(Ts.usLit(lo, t), Ts.usLit(hi, t))
      else idxAsLong(col(idx), t).between(lo, hi)
    def inverseResidual(idx: String, t: DataType, lo: Long, hi: Long): Column =
      if (Ts.isTs(t)) col(idx) < Ts.usLit(lo, t) || col(idx) > Ts.usLit(hi, t)
      else idxAsLong(col(idx), t) < lo || idxAsLong(col(idx), t) > hi
    def show(k: Long): String = k.toString
  }

  private object StrKeys extends IdxKeys {
    type K = String
    implicit val ord: Ordering[String] = strOrdering
    def lo(f: FileEntry): Option[String] = f.minStr
    def hi(f: FileEntry): Option[String] = f.maxStr
    def withBounds(f: FileEntry, b: Option[(String, String)]): FileEntry =
      f.copy(minStr = b.map(_._1), maxStr = b.map(_._2))
    protected def decode(v: AnyRef, t: DataType, pt: PrimitiveType, roundUp: Boolean): String =
      v match {
        case b: Binary => b.toStringUsingUTF8
        case other =>
          throw new IllegalStateException(s"unexpected footer stat $other for string index")
      }
    protected def asKey(c: Column, t: DataType): Column = c
    // Spark string comparison IS utf-8 byte order
    def residual(idx: String, t: DataType, lo: String, hi: String): Column =
      col(idx).between(lo, hi)
    def inverseResidual(idx: String, t: DataType, lo: String, hi: String): Column =
      col(idx) < lo || col(idx) > hi
    def show(k: String): String = s"'$k'"
  }

  /** Inclusive range predicate for column-stats file pruning (the caller
    * still applies the exact row filter; this only skips whole files).
    */
  final case class ColRange(column: String, lo: Any, hi: Any)

  /** Per-symbol read options for readBatch — the reference's ReadRequest
    * (library.py:278): each symbol in a batch can carry its own as-of,
    * date/key/row range, column projection and clause pipeline.
    */
  final case class ReadRequest(
      symbol: String,
      asOf: AsOf = AsOf.Latest,
      dateRange: Option[(Long, Long)] = None,
      keyRange: Option[(String, String)] = None,
      rowRange: Option[(Long, Long)] = None,
      columns: Option[Seq[String]] = None,
      query: Option[graft.query.QueryBuilder] = None)

  /** get_info-style symbol descriptor (reference SymbolDescription,
    * library.py:135-173). The trailing fields default for source compat;
    * getInfo always populates them.
    */
  final case class SymbolInfo(
      symbol: String,
      version: Int,
      rowCount: Long,
      fileCount: Int,
      indexCol: Option[String],
      sorted: Boolean,
      schemaDdl: String,
      createdAtMs: Long,
      indexType: String = "NA",
      sortedStatus: String = "UNKNOWN",
      columnCount: Int = 0,
      dateRange: Option[(Long, Long)] = None)

  /** list_versions record (reference VersionInfo: date, deleted,
    * snapshots — library.py:2921-2930).
    */
  final case class VersionInfo(
      symbol: String,
      version: Int,
      createdAtMs: Long,
      deleted: Boolean,
      snapshots: Seq[String])

  /** Sidecar codec for the per-file column stats. */
  private[core] object ColumnStats {
    import org.json4s._
    import org.json4s.jackson.Serialization
    implicit val formats: Formats = Serialization.formats(NoTypeHints)
    def toJson(m: Map[String, Map[String, (String, String)]]): String =
      // compact: the sidecar scales with files × stats-columns
      Serialization.write(m.view.mapValues(_.view.mapValues(v => List(v._1, v._2)).toMap).toMap)
    def fromJson(s: String): Map[String, Map[String, (String, String)]] =
      Serialization.read[Map[String, Map[String, List[String]]]](s)
        .view.mapValues(_.view.mapValues(l => (l.head, l(1))).toMap).toMap
  }

  private[core] val VersionFile = "v(\\d{5})\\.json".r

  /** Marker in versions/ holding the highest version number ever
    * allocated; ignored by the VersionFile listing pattern.
    */
  private[core] val HighWaterFile = "_highwater"

  /** How long an in-flight finalizeStaged marker protects its moved-but-
    * uncommitted delta dir from GC. Far beyond any commit latency; a
    * crashed finalize's orphans become collectable after this window.
    */
  private[core] val InFlightGraceMs: Long = 60L * 60 * 1000

  /** Default GC read grace (LibraryOptions.gcGraceMs): long enough for
    * any in-flight scan that resolved its manifest pre-prune to drain,
    * short enough that pruned space frees within the quarter hour.
    */
  val DefaultGcGraceMs: Long = 15L * 60 * 1000

  /** Default file geometry. The reference slices at 100k rows × 127 cols
    * (pipeline/slicing.hpp:25) because its unit of IO is a segment; Spark's
    * unit is a parquet row group, so we target ~1M rows per file (≈64-256MB)
    * to keep 100 TB at a sane file count with intra-file row-group pruning.
    */
  val DefaultTargetRows: Long = 1000000L

  sealed trait AsOf
  object AsOf {
    case object Latest extends AsOf
    final case class Version(v: Int) extends AsOf
    final case class Snapshot(name: String) extends AsOf
    final case class Timestamp(ms: Long) extends AsOf
  }

  /** Per-item outcome of a batch call (reference: DataError,
    * library.py:626,2161 — one bad symbol must not poison its siblings,
    * so batch APIs return a success-or-error per input instead of
    * rethrowing the first failure and discarding sibling results).
    * `get` rethrows the stored failure for fail-fast callers.
    */
  sealed trait BatchResult[+A] {
    def symbol: String
    def get: A
    def toEither: Either[Throwable, A]
    final def isOk: Boolean = toEither.isRight
  }
  final case class BatchOk[+A](symbol: String, value: A) extends BatchResult[A] {
    def get: A = value
    def toEither: Either[Throwable, A] = Right(value)
  }
  final case class DataError(symbol: String, cause: Throwable) extends BatchResult[Nothing] {
    def get: Nothing = throw cause
    def toEither: Either[Throwable, Nothing] = Left(cause)
  }
}
