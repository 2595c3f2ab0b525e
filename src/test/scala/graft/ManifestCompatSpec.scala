package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.json4s._
import org.json4s.jackson.{JsonMethods, Serialization}

import graft.core.{FileEntry, Library, LibraryOptions, SnapshotManifest, VersionManifest}

/** Stored-format compatibility: stored data outlives engine builds, so
  * every historical manifest shape must keep decoding and a NEWER-major
  * manifest must refuse loudly instead of field-defaulting into a
  * silently-wrong read (the reference's python/tests/compat/ discipline,
  * pinned requirements back to requirements-1.6.2.txt).
  *
  * The fixtures under src/test/resources/compat/ are checked-in JSON of
  * every shape this engine has ever written:
  *  - v1 minimal        (pre-dynamic-schema: no dirSchemas/metadata)
  *  - v1 dynamic        (dirSchemas + metadata, pre-delta)
  *  - v1 checkpoint     (full file list written by a delta-aware build)
  *  - v2 delta          (baseVersion set, files EMPTY by design)
  *  - v1 sized          (file entries carrying bytes/mtimeMs)
  *  - v99 future        (a major this build does not know)
  * Editing an existing fixture to make this spec pass is a compat break
  * by definition — add a new fixture for a new shape instead.
  */
class ManifestCompatSpec extends SparkSuite {

  private def fixture(name: String): String = {
    val in = getClass.getResourceAsStream(s"/compat/$name")
    require(in != null, s"missing fixture /compat/$name")
    try new String(in.readAllBytes(), StandardCharsets.UTF_8)
    finally in.close()
  }

  test("every historical version-manifest shape still decodes") {
    val v1min = VersionManifest.fromJson(fixture("version_v1_minimal.json"))
    assert(v1min.version == 0 && v1min.files.map(_.path) ==
      Vector("data/d0/part-0.parquet") && v1min.rowCount == 10)
    assert(v1min.indexCol.isEmpty && v1min.dirSchemas.isEmpty &&
      v1min.baseVersion.isEmpty && v1min.formatVersion == 1)

    val v1dyn = VersionManifest.fromJson(fixture("version_v1_dynamic.json"))
    assert(v1dyn.files.size == 2 && v1dyn.rowCount == 150)
    assert(v1dyn.dirSchemas == Map("data/d0" -> "ts BIGINT, v DOUBLE"))
    assert(v1dyn.metadata == Map("source" -> "compat-fixture"))

    val ckpt = VersionManifest.fromJson(fixture("version_v1_checkpoint.json"))
    assert(ckpt.files.size == 2 && ckpt.chainDepth == 0 && ckpt.formatVersion == 1)

    val delta = VersionManifest.fromJson(fixture("version_v2_delta.json"))
    assert(delta.formatVersion == 2 && delta.baseVersion.contains(0))
    assert(delta.files.isEmpty, "a delta manifest stores an empty file list")
    assert(delta.addedFiles.size == 1 &&
      delta.removedPaths == Vector("data/d0/part-1.parquet"))

    // entries without a recorded status decode as unsized (listed at read)
    assert((v1min.files ++ v1dyn.files ++ ckpt.files ++ delta.addedFiles)
      .forall(f => f.bytes.isEmpty && f.mtimeMs.isEmpty && f.status.isEmpty))
    val sized = VersionManifest.fromJson(fixture("version_v1_sized.json"))
    assert(sized.formatVersion == 1 && sized.files.map(_.status) ==
      Vector(Some((2150L, 1760000000000L)), Some((1327L, 1760000001000L))))
    // the sizes need no format bump and survive a re-encode
    assert(VersionManifest.fromJson(VersionManifest.toJson(sized)) == sized)
  }

  /** Rewrite a stored manifest as a build that predates recorded file
    * statuses would have written it: the same JSON minus bytes/mtimeMs.
    */
  private def stripStatuses(root: String, v: Int): Unit = {
    val p = Paths.get(root, "s", "_versions", f"v$v%05d.json")
    val stripped = JsonMethods.parse(Files.readString(p)).removeField {
      case ("bytes", _) | ("mtimeMs", _) => true
      case _ => false
    }
    Files.writeString(p, JsonMethods.compact(JsonMethods.render(stripped)))
  }

  test("a legacy unsized manifest reads by listing its files") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-unsized-").toString
    val df = spark.range(40).select($"id".as("k"), ($"id" * 3).as("v"))
    new Library(root, spark).write("s", df, Some("k"), targetRows = 10) // 4 files
    stripStatuses(root, 0)
    val lib = new Library(root, spark)
    assert(lib.resolveVersion("s").files.forall(_.status.isEmpty), "premise: legacy shape")
    val (back, st) = lib.withQueryStats(lib.read("s"))
    assert(st.map(_.filesListed) == Seq(4), s"every legacy file is listed: $st")
    assert(back.count() == 40 && back.exceptAll(df).isEmpty && df.exceptAll(back).isEmpty)
    assert(lib.head("s", 5).count() == 5 && lib.tail("s", 15).count() == 15)
  }

  test("a mixed chain (unsized base + sized append) lists legacy files, seeds new ones") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-mixed-").toString
    def rows(lo: Long, hi: Long) = spark.range(lo, hi).select($"id".as("k"), ($"id" * 3).as("v"))
    new Library(root, spark).write("s", rows(0, 140), Some("k"), targetRows = 2) // 70 files
    stripStatuses(root, 0)
    val lib = new Library(root, spark)
    lib.append("s", rows(140, 144), targetRows = 2) // v1: +2 sized files
    val stored1 = VersionManifest.fromJson(
      Files.readString(Paths.get(root, "s", "_versions", "v00001.json")))
    assert(stored1.baseVersion.contains(0) && stored1.addedFiles.size == 2 &&
      stored1.addedFiles.forall(_.status.isDefined), s"premise: sized delta on an unsized base")

    val m = lib.resolveVersion("s")
    val (legacy, fresh) = m.files.partition(_.status.isEmpty)
    assert(legacy.size == 70 && fresh.size == 2)
    val (back, st) = lib.withQueryStats(lib.read("s"))
    assert(st.map(_.filesListed) == Seq(70), s"exactly the legacy files are listed: $st")
    val all = rows(0, 144)
    assert(back.count() == 144 && back.exceptAll(all).isEmpty && all.exceptAll(back).isEmpty)
    val (v0, st0) = lib.withQueryStats(lib.read("s", Library.AsOf.Version(0)))
    assert(st0.map(_.filesListed) == Seq(70) && v0.count() == 140)

    // a seeded file is not looked up while planning: its loss surfaces
    // at the action. A listed one is: its loss surfaces at read(). Both
    // throw; neither returns short.
    val hconf = spark.sparkContext.hadoopConfiguration
    def dataPath(f: FileEntry) = new org.apache.hadoop.fs.Path(root, s"s/data/${f.path}")
    val gone = dataPath(fresh.head)
    assert(gone.getFileSystem(hconf).delete(gone, false))
    val planned = lib.read("s")
    intercept[Exception](planned.collect())
    val goneLegacy = dataPath(legacy.head)
    assert(goneLegacy.getFileSystem(hconf).delete(goneLegacy, false))
    val e = intercept[java.io.FileNotFoundException](lib.read("s", Library.AsOf.Version(0)))
    assert(e.getMessage.contains(goneLegacy.getName), e.getMessage)
  }

  test("delta fixture RESOLVES through Library.manifest against the checkpoint base") {
    val root = Files.createTempDirectory("graft-compat-").toString
    val vdir = Paths.get(root, "sym", "_versions")
    Files.createDirectories(vdir)
    Files.writeString(vdir.resolve("v00000.json"), fixture("version_v1_checkpoint.json"))
    Files.writeString(vdir.resolve("v00001.json"), fixture("version_v2_delta.json"))
    val lib = new Library(root, spark, LibraryOptions())
    val m = lib.manifest("sym", 1)
    assert(m.baseVersion.isEmpty && m.addedFiles.isEmpty && m.removedPaths.isEmpty,
      "readers below manifest() must never see a delta")
    assert(m.files.map(_.path) ==
      Vector("data/d0/part-0.parquet", "data/d1/part-0.parquet"),
      s"base minus removed plus added, in rowOffset order: ${m.files}")
    assert(m.files.map(_.rowOffset) == Vector(0L, 100L) && m.rowCount == 250)
  }

  test("a FUTURE-major manifest refuses loudly, never decodes field-defaulted") {
    val e = intercept[IllegalArgumentException] {
      VersionManifest.fromJson(fixture("version_v99_future.json"))
    }
    assert(e.getMessage.contains("formatVersion 99"), e.getMessage)
    assert(e.getMessage.contains("refusing"), e.getMessage)

    val es = intercept[IllegalArgumentException] {
      SnapshotManifest.fromJson(fixture("snapshot_v99_future.json"))
    }
    assert(es.getMessage.contains("formatVersion 99"), es.getMessage)

    val snap = SnapshotManifest.fromJson(fixture("snapshot_v1.json"))
    assert(snap.versions == Map("sym" -> 0, "other" -> 4) && snap.formatVersion == 1)
  }

  /** The exact shape the engine wrote BEFORE the delta encoding landed:
    * no baseVersion/addedFiles/removedPaths fields, plus the same
    * format gate every decoder from the stamp onward carries
    * (CurrentFormat 1 for that era).
    */
  private case class PreDeltaManifest(
      version: Int,
      indexCol: Option[String],
      sorted: Boolean,
      files: Vector[FileEntry],
      rowCount: Long,
      createdAtMs: Long,
      schemaDdl: String,
      deleted: Boolean = false,
      metadata: Map[String, String] = Map.empty,
      dirSchemas: Map[String, String] = Map.empty)

  test("maxManifestFormat=1 pins writers to full manifests a pre-delta reader decodes") {
    // The write-side half of the compat story: a mixed fleet pins the
    // library to format 1 while old builds still read it — the SAME
    // churn that delta-encodes under the default (>=64 files, 1-file
    // append) must stay full manifests under the pin, and every stored
    // manifest must decode under the pre-delta decoder above.
    import spark.implicits._
    implicit val formats: Formats = Serialization.formats(NoTypeHints)
    def churn(lib: Library): Unit = {
      val df = spark.range(130).select($"id".as("k"), ($"id" * 2).as("v"))
      lib.write("s", df, Some("k"), targetRows = 2)
      lib.append("s",
        spark.range(130, 132).select($"id".as("k"), ($"id" * 2).as("v")),
        targetRows = 2)
    }
    def rawManifests(root: String): Seq[String] = {
      val vdir = Paths.get(root, "s", "_versions")
      import scala.jdk.CollectionConverters._
      Files.list(vdir).iterator().asScala.toSeq
        .filter(_.getFileName.toString.matches("v\\d{5}\\.json"))
        .sortBy(_.getFileName.toString)
        .map(p => Files.readString(p))
    }

    // control: the default options DO delta-encode this churn
    val freeRoot = Files.createTempDirectory("graft-fleetfree-").toString
    churn(new Library(freeRoot, spark))
    assert(rawManifests(freeRoot).last.contains("\"formatVersion\":2"),
      "premise: this churn delta-encodes without the pin")

    // pinned: every stored manifest is a FULL format-1 list
    val pinRoot = Files.createTempDirectory("graft-fleetpin-").toString
    val pinned = new Library(pinRoot, spark,
      LibraryOptions(maxManifestFormat = 1))
    churn(pinned)
    assert(pinned.resolveVersion("s").files.size >= 65, "premise: many files")
    val raws = rawManifests(pinRoot)
    assert(raws.size == 2)
    raws.foreach { j =>
      val fv = JsonMethods.parse(j) \ "formatVersion" match {
        case JInt(n) => n.toInt
        case _ => 1
      }
      assert(fv == 1, "the pin must keep every write at format 1")
      val old = Serialization.read[PreDeltaManifest](j)
      assert(old.files.nonEmpty, "a pre-delta reader sees the full list")
    }
    assert(pinned.read("s").count() == 132)
  }

  test("the silent-empty failure class is dead: a pre-delta decoder fed a delta manifest fails loudly") {
    implicit val formats: Formats = Serialization.formats(NoTypeHints)
    val deltaJson = fixture("version_v2_delta.json")

    // THE HAZARD (what an unstamped pre-delta build would do): json4s
    // defaults away the fields it doesn't know and the delta manifest
    // decodes as a perfectly-healthy-looking EMPTY symbol
    val ungated = Serialization.read[PreDeltaManifest](deltaJson)
    assert(ungated.files.isEmpty && ungated.rowCount == 250,
      "the hazard this spec exists for: silent empty file list")

    // THE FIX: every decoder from the stamp onward gates on the major
    // BEFORE decoding — the same shared checkFormat the production
    // fromJson uses, with that era's CurrentFormat = 1
    def legacyDecode(s: String): PreDeltaManifest = {
      val fv = JsonMethods.parse(s) \ "formatVersion" match {
        case JInt(n) => n.toInt
        case _ => 1
      }
      VersionManifest.checkFormat(fv, 1, "version manifest")
      Serialization.read[PreDeltaManifest](s)
    }
    val e = intercept[IllegalArgumentException] { legacyDecode(deltaJson) }
    assert(e.getMessage.contains("formatVersion 2") &&
      e.getMessage.contains("reads <= 1"), e.getMessage)
    // and the same legacy decoder still reads its own era's shapes
    assert(legacyDecode(fixture("version_v1_dynamic.json")).files.size == 2)
  }

  test("writers stamp the MINIMUM required major; round-trips are stable") {
    val full = VersionManifest(0, Some("ts"), sorted = true,
      Vector(FileEntry("data/d0/p.parquet", 10, 0, Some(0L), Some(9L))),
      10L, 1L, "ts BIGINT")
    val fullJson = VersionManifest.toJson(full)
    assert(fullJson.contains("\"formatVersion\":1"),
      "a full manifest must stay readable by format-1 builds")
    assert(VersionManifest.fromJson(fullJson) ==
      full.copy(formatVersion = 1))

    val delta = full.copy(version = 1, files = Vector.empty,
      baseVersion = Some(0),
      addedFiles = Vector(FileEntry("data/d1/p.parquet", 5, 10, Some(10L), Some(14L))),
      chainDepth = 1)
    val deltaJson = VersionManifest.toJson(delta)
    assert(deltaJson.contains("\"formatVersion\":2"))
    assert(VersionManifest.fromJson(deltaJson) == delta.copy(formatVersion = 2))

    // the stamp is computed, not trusted: a caller-carried wrong stamp
    // cannot understate the required major on disk
    assert(VersionManifest.toJson(delta.copy(formatVersion = 1))
      .contains("\"formatVersion\":2"))
  }

  test("full manifests re-commit with chainDepth 0 at materialization " +
      "boundaries (compact / splice / writeMetadata)") {
    // r20 review seam: commit sites that copy() a RESOLVED manifest used
    // to retain the source's stored chainDepth on what is now a FULL
    // manifest — the depth counter never reset, so later appends hit
    // MaxManifestChain early and paid O(files) manifest rewrites.
    import java.nio.file.{Files, Paths}
    import spark.implicits._
    val root = Files.createTempDirectory("graft-chaindepth-").toString
    val lib = new Library(root, spark)
    val df = spark.range(130).select($"id".as("k"), ($"id" * 2).as("v"))
    lib.write("s", df, Some("k"), targetRows = 2) // 65 files: delta-eligible
    (0 until 3).foreach { i =>
      lib.append("s",
        spark.range(200 + i * 2, 202 + i * 2).select($"id".as("k"), ($"id" * 2).as("v")),
        targetRows = 2)
    }
    def stored(v: Int): VersionManifest = VersionManifest.fromJson(
      Files.readString(Paths.get(root, "s", "_versions", f"v$v%05d.json")))
    assert(stored(3).chainDepth == 3 && stored(3).baseVersion.isDefined,
      "premise: the appends delta-chained")
    // compact commits a FULL manifest: stored chainDepth must be 0, not
    // the resolved source's 3
    val cv = lib.compact("s", targetRows = 1000)
    val cm = stored(cv)
    assert(cm.baseVersion.isEmpty, "compact writes a full manifest")
    assert(cm.chainDepth == 0, s"stale chainDepth ${cm.chainDepth} on a full manifest")
    // and the splice (update) + metadata-only commit sites
    lib.update("s",
      spark.range(10, 12).select($"id".as("k"), ($"id" * 100).as("v")),
      targetRows = 2)
    val uv = lib.resolveVersion("s").version
    val um = stored(uv)
    assert(um.baseVersion.isEmpty || um.chainDepth > 0,
      "update may delta-encode; if full, depth must be 0")
    if (um.baseVersion.isEmpty) assert(um.chainDepth == 0)
    lib.writeMetadata("s", Map("note" -> "x"))
    val wm = stored(lib.resolveVersion("s").version)
    if (wm.baseVersion.isEmpty) assert(wm.chainDepth == 0)
  }

  test("restoreVersion across a delta chain: zero-copy, chain-sound, GC-safe") {
    // VERDICT r20 #6 named seam: restore interacting with chainDepth-
    // normalized delta manifests. A restore of the chain's BASE version
    // after several delta-encoded appends must (a) reference v0's files
    // verbatim (zero-copy), (b) commit a manifest whose stored form is
    // self-consistent (full ⇒ depth 0; delta ⇒ resolvable through the
    // chain), and (c) keep resolving exactly v0's rows even after the
    // intermediate chain versions are hard-deleted (materialization must
    // rewrite any dependent before the deletes orphan it).
    import java.nio.file.{Files, Paths}
    import spark.implicits._
    val root = Files.createTempDirectory("graft-restorechain-").toString
    val lib = new Library(root, spark)
    val df = spark.range(130).select($"id".as("k"), ($"id" * 2).as("v"))
    lib.write("s", df, Some("k"), targetRows = 2) // 65 files: delta-eligible
    val v0Files = lib.resolveVersion("s").files.map(_.path)
    (0 until 3).foreach { i =>
      lib.append("s",
        spark.range(200 + i * 2, 202 + i * 2).select($"id".as("k"), ($"id" * 2).as("v")),
        targetRows = 2)
    }
    def stored(v: Int): VersionManifest = VersionManifest.fromJson(
      Files.readString(Paths.get(root, "s", "_versions", f"v$v%05d.json")))
    assert(stored(3).chainDepth == 3, "premise: the appends delta-chained")
    val rv = lib.restoreVersion("s", Library.AsOf.Version(0))
    assert(lib.resolveVersion("s").files.map(_.path) == v0Files,
      "restore must reference v0's files verbatim")
    val rm = stored(rv)
    assert(rm.baseVersion.isEmpty || rm.chainDepth > 0,
      "restore may delta-encode; if full, depth must be 0")
    if (rm.baseVersion.isEmpty) assert(rm.chainDepth == 0)
    // hard-delete the chain interior the restore may depend on; the
    // restored version must keep answering with v0's exact rows
    lib.delete("s", Seq(1, 2, 3))
    assert(lib.resolveVersion("s").version == rv)
    assert(lib.read("s").count() == 130,
      "restored version must survive deletion of the delta chain it crossed")
    val rm2 = stored(rv)
    assert(rm2.baseVersion.forall(b => !Seq(1, 2, 3).contains(b)),
      s"stored restore manifest must not depend on a deleted version: $rm2")
  }
}
