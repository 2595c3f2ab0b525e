package graft

import org.apache.spark.sql.functions._

import graft.core.{Library, LibraryOptions, Ts}
import graft.core.Library.AsOf

/** Versioned-store behavior: roundtrips, as-of reads, range splice, and —
  * the 100 TB-relevant part — proof that row-range/date-range reads hand
  * Spark only the manifest-pruned files, not the whole symbol.
  *
  * events.ts is parquet TIMESTAMP_MICROS (Spark timestamp_ntz): manifest
  * minIdx/maxIdx are epoch-µs, Library's caller-facing dateRange/
  * deleteRange bounds are epoch-ns, and literal comparisons go through
  * Ts.usLit so they stay pushdown-friendly timestamp literals.
  */
class LibrarySpec extends SparkSuite {
  import spark.implicits._

  // gcGraceMs=0: these specs assert IMMEDIATE collection after prune /
  // delete; the two-phase condemn-then-delete grace has its own spec below.
  private def newLib(): Library =
    new Library(java.nio.file.Files.createTempDirectory("graft-libspec-").toString,
      spark, LibraryOptions(gcGraceMs = 0))

  private def events = spark.read.parquet(s"$sf/events.parquet")

  private lazy val tsT = events.schema("ts").dataType
  /** Foldable ts-typed literal for an epoch-µs bound (manifest unit). */
  private def usL(us: Long) = Ts.usLit(us, tsT)
  /** events.ts as an epoch-µs long column. */
  private def tsUs = unix_micros(col("ts").cast("timestamp"))

  private def scannedFiles(df: org.apache.spark.sql.DataFrame): Long =
    df.select(input_file_name()).distinct().count()

  test("write/read roundtrip preserves rows and schema") {
    val lib = newLib()
    lib.write("ev", events, Some("ts"), targetRows = 200)
    val back = lib.read("ev")
    assert(back.schema == events.schema)
    assert(back.count() == events.count())
    assert(math.abs(back.agg(sum("value")).head.getDouble(0) -
      events.agg(sum("value")).head.getDouble(0)) < 1e-6)
  }

  test("head/tail scan only the manifest-pruned files") {
    val lib = newLib()
    lib.write("ev", events, Some("ts"), targetRows = 100) // ~10 files at sf0.001
    val m = lib.resolveVersion("ev")
    assert(m.files.size >= 5, s"want many files, got ${m.files.size}")

    val h = lib.head("ev", 20)
    assert(h.count() == 20)
    assert(scannedFiles(lib.head("ev", 20)) <= 2,
      "head must not scan the whole symbol")

    val t = lib.tail("ev", 20)
    assert(t.count() == 20)
    assert(scannedFiles(lib.tail("ev", 20)) <= 2)

    // head rows are the globally-first rows by index
    val expected = events.orderBy("ts").limit(20).select("event_id")
      .as[Long].collect().toSet
    assert(h.select("event_id").as[Long].collect().toSet == expected)
  }

  test("negative row-range indices wrap python-style") {
    val lib = newLib()
    lib.write("ev", events, Some("ts"), targetRows = 100)
    val n = events.count()
    val lastTen = lib.readRowRange("ev", -10, n)
    assert(lastTen.count() == 10)
    assert(lib.readRowRange("ev", -10, -5).count() == 5)
    assert(lib.readRowRange("ev", -(n + 100), 5).count() == 5) // clamps to 0
  }

  test("date-range read prunes files and filters residual rows") {
    val lib = newLib()
    lib.write("ev", events, Some("ts"), targetRows = 100)
    val m = lib.resolveVersion("ev")
    val mid = m.files(m.files.size / 2)
    val (lo, hi) = (mid.minIdx.get, mid.maxIdx.get) // manifest unit: µs
    val df = lib.read("ev", dateRange = Some((lo * 1000, hi * 1000))) // caller unit: ns
    assert(scannedFiles(lib.read("ev", dateRange = Some((lo * 1000, hi * 1000)))) <= 3)
    val expected = events.filter(col("ts").between(usL(lo), usL(hi))).count()
    assert(df.count() == expected)
  }

  test("footer-derived manifest stats equal true per-file min/max") {
    val lib = newLib()
    lib.write("ev", events, Some("ts"), targetRows = 100)
    val m = lib.resolveVersion("ev")
    assert(m.rowCount == events.count())
    assert(m.files.map(_.rows).sum == m.rowCount)
    // file ranges ordered and non-overlapping; global min/max match data
    val ranges = m.files.map(f => (f.minIdx.get, f.maxIdx.get))
    assert(ranges == ranges.sortBy(_._1))
    ranges.sliding(2).foreach {
      case Vector((_, aMax), (bMin, _)) => assert(aMax <= bMin)
      case _ =>
    }
    val Array(trueMin, trueMax) =
      events.agg(min(tsUs), max(tsUs)).head.toSeq.map(_.asInstanceOf[Long]).toArray
    assert(ranges.head._1 == trueMin && ranges.last._2 == trueMax)
  }

  test("append + snapshot + as-of read") {
    val lib = newLib()
    val cut = usL(events.agg(
      expr("percentile_approx(unix_micros(cast(ts as timestamp)), 0.5)")).head.getLong(0))
    lib.write("ev", events.filter(col("ts") < cut), Some("ts"), targetRows = 200)
    lib.snapshot("pre")
    lib.append("ev", events.filter(col("ts") >= cut), targetRows = 200)
    assert(lib.read("ev").count() == events.count())
    assert(lib.read("ev", AsOf.Snapshot("pre")).count() ==
      events.filter(col("ts") < cut).count())
    // appending out-of-order data must be rejected when validating
    intercept[IllegalArgumentException](
      lib.append("ev", events.filter(col("ts") < cut).limit(10)))
  }

  test("update splices only the covered range; deleteRange removes it") {
    val lib = newLib()
    lib.write("ev", events, Some("ts"), targetRows = 200)
    val m0 = lib.resolveVersion("ev")
    val mid = m0.files(m0.files.size / 2)
    val (lo, hi) = (mid.minIdx.get, mid.maxIdx.get) // µs
    val patch = events.filter(col("ts").between(usL(lo), usL(hi)))
      .withColumn("value", col("value") + 1000)
    lib.update("ev", patch, targetRows = 200)
    val after = lib.read("ev")
    assert(after.count() == events.count())
    assert(after.filter(col("ts").between(usL(lo), usL(hi)) && col("value") < 900).count() == 0)
    // untouched files are physically shared with the previous version
    val m1 = lib.resolveVersion("ev")
    assert(m0.files.map(_.path).toSet.intersect(m1.files.map(_.path).toSet).nonEmpty,
      "update must reuse untouched files")

    lib.deleteRange("ev", lo * 1000, hi * 1000) // ns bounds
    assert(lib.read("ev").count() ==
      events.filter(!col("ts").between(usL(lo), usL(hi))).count())
  }

  test("readBatch applies a per-symbol query pipeline") {
    val lib = newLib()
    lib.write("a", events.limit(100), Some("ts"), targetRows = 1000)
    lib.write("b", events.limit(200), Some("ts"), targetRows = 1000)
    val q = graft.query.QueryBuilder()
      .filter(graft.query.Expr.col("value") > graft.query.Expr.lit(0.0))
    val Seq(a, b) = lib.readBatch(Seq("a", "b"), q, AsOf.Latest).map(_.get)
    assert(a.count() == events.limit(100).filter(col("value") > 0.0).count())
    assert(b.count() == events.limit(200).filter(col("value") > 0.0).count())
  }

  test("metadata roundtrip and getInfo") {
    val lib = newLib()
    lib.write("ev", events.limit(50), Some("ts"), targetRows = 1000,
      metadata = Map("owner" -> "graft", "note" -> "spec"))
    assert(lib.readMetadata("ev") == Map("owner" -> "graft", "note" -> "spec"))
    val info = lib.getInfo("ev")
    assert(info.rowCount == 50 && info.indexCol.contains("ts") && info.sorted)
    // append carries metadata forward
    val cut = usL(events.limit(50).agg(max(tsUs)).head.getLong(0))
    lib.append("ev", events.filter(col("ts") > cut).limit(10), targetRows = 1000)
    assert(lib.readMetadata("ev")("owner") == "graft")
  }

  test("as-of timestamp resolution and snapshot delete") {
    val lib = newLib()
    lib.write("ev", events.limit(100), Some("ts"), targetRows = 1000)
    val t0 = System.currentTimeMillis()
    Thread.sleep(5)
    lib.write("ev", events.limit(200), Some("ts"), targetRows = 1000)
    assert(lib.read("ev", AsOf.Timestamp(System.currentTimeMillis())).count() == 200)
    assert(lib.read("ev", AsOf.Timestamp(t0)).count() == 100)
    intercept[NoSuchElementException](lib.read("ev", AsOf.Timestamp(0L)))

    lib.snapshot("s1")
    assert(lib.listSnapshots() == Seq("s1"))
    lib.deleteSnapshot("s1")
    assert(lib.listSnapshots().isEmpty)
    intercept[IllegalArgumentException](lib.deleteSnapshot("s1"))
  }

  test("dynamic-schema append widens, adds, and backfills typed defaults") {
    val lib = newLib()
    val a = Seq((1L, 10L, 1.5f, 7), (2L, 20L, 2.5f, 8)).toDF("id", "ts", "v", "old")
    val b = Seq((3L, 30L, 3.5, "x"), (4L, 40L, 4.5, "y")).toDF("id", "ts", "v", "tag")
    lib.write("s", a, Some("ts"), targetRows = 10)
    lib.append("s", b, targetRows = 10, dynamicSchema = true)
    val back = lib.read("s").orderBy("id")
    import org.apache.spark.sql.types._
    assert(back.schema("v").dataType == DoubleType) // float+double widened
    assert(back.schema("tag").dataType == StringType) // new column
    val rows = back.collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 4L))
    assert(rows(0).getDouble(2) == 1.5 && rows(2).getDouble(2) == 3.5)
    assert(rows(0).isNullAt(4) && rows(2).getString(4) == "x") // tag backfill null
    assert(rows(2).getInt(3) == 0) // old int column backfills 0, not null
    // update on the evolved symbol splices through the mixed-schema read
    val patch = Seq((2L, 20L, 9.9, "p", 5)).toDF("id", "ts", "v", "tag", "old")
    lib.update("s", patch, targetRows = 10)
    val after = lib.read("s").orderBy("id").collect()
    assert(after.length == 4 && after(1).getDouble(2) == 9.9)
  }

  test("column stats prune files for correlated non-index predicates") {
    val lib = newLib()
    val df = spark.range(1000)
      .select(col("id").as("k"), (col("id") * 10).as("ts2"), pmod(col("id"), lit(7)).as("noise"))
    lib.write("s", df, Some("ts2"), targetRows = 100)
    val m = lib.resolveVersion("s")
    assert(m.files.size >= 8)
    lib.createColumnStats("s", Seq("k", "noise"))
    // k is perfectly correlated with the index: a narrow k-range hits few files
    val pruned = lib.read("s", statFilters = Seq(Library.ColRange("k", 100, 150)))
    assert(scannedFiles(lib.read("s", statFilters = Seq(Library.ColRange("k", 100, 150)))) <= 2)
    assert(pruned.filter(col("k").between(100, 150)).count() == 51)
    // noise overlaps every file: stats keep everything (conservative, correct)
    val kept = lib.read("s", statFilters = Seq(Library.ColRange("noise", 3, 3)))
    assert(kept.count() == 1000)
    // predicate on a column without stats: nothing pruned
    assert(lib.read("s", statFilters = Seq(Library.ColRange("ts2", 0, 1))).count() == 1000)
  }

  test("compact rewrites only fragmented runs, reusing full-size files") {
    val lib = newLib()
    val df = spark.range(900).select(col("id").as("ts2"), (col("id") * 2).as("x"))
    lib.write("s", df.filter(col("ts2") < 600), Some("ts2"), targetRows = 300) // 2 big files
    lib.append("s", df.filter(col("ts2").between(600, 699)), targetRows = 300) // 3 small
    lib.append("s", df.filter(col("ts2").between(700, 799)), targetRows = 300)
    lib.append("s", df.filter(col("ts2").between(800, 899)), targetRows = 300)
    val m0 = lib.resolveVersion("s")
    assert(m0.files.size == 5)
    val bigPaths = m0.files.take(2).map(_.path).toSet

    lib.compact("s", targetRows = 300) // threshold 200: the 3×100-row tail is a run
    val m1 = lib.resolveVersion("s")
    assert(m1.files.size == 3, s"got ${m1.files.map(_.rows)}")
    assert(bigPaths.subsetOf(m1.files.map(_.path).toSet), "big files must be reused")
    assert(lib.read("s").count() == 900)
    assert(m1.files.map(_.rows).sum == 900)
    // idempotent: nothing fragmented → no new version
    assert(lib.compact("s", targetRows = 300) == m1.version)
    // row offsets stay consistent for head/tail
    assert(lib.head("s", 5).orderBy("ts2").collect().map(_.getLong(0)).toSeq ==
      Seq(0L, 1L, 2L, 3L, 4L))
    assert(lib.tail("s", 3).orderBy("ts2").collect().map(_.getLong(0)).toSeq ==
      Seq(897L, 898L, 899L))
  }

  test("prunePreviousVersions keeps latest + snapshot-pinned, GCs the rest") {
    val lib = newLib()
    val cut = usL(events.agg(
      expr("percentile_approx(unix_micros(cast(ts as timestamp)), 0.5)")).head.getLong(0))
    lib.write("ev", events.filter(col("ts") < cut), Some("ts"), targetRows = 200) // v0
    lib.append("ev", events.filter(col("ts") >= cut), targetRows = 200) // v1
    lib.snapshot("pin") // pins v1
    val mid = lib.resolveVersion("ev").files(2)
    val patch = events.filter(col("ts").between(usL(mid.minIdx.get), usL(mid.maxIdx.get)))
      .withColumn("value", col("value") + 1)
    lib.update("ev", patch, targetRows = 200) // v2 rewrites one slice
    assert(lib.listVersions("ev") == Seq(0, 1, 2))

    lib.prunePreviousVersions("ev")
    assert(lib.listVersions("ev") == Seq(1, 2))
    // latest and the pinned snapshot stay fully readable
    assert(lib.read("ev").count() == events.count())
    assert(lib.read("ev", AsOf.Snapshot("pin")).count() == events.count())
    intercept[Exception](lib.read("ev", AsOf.Version(0)).count())
  }

  test("finalizeStaged append mode extends an existing symbol") {
    val lib = newLib()
    val cut = usL(events.agg(
      expr("percentile_approx(unix_micros(cast(ts as timestamp)), 0.5)")).head.getLong(0))
    lib.write("ev", events.filter(col("ts") < cut), Some("ts"), targetRows = 500)
    lib.stage("ev", events.filter(col("ts") >= cut))
    lib.sortAndFinalizeStaged("ev", Some("ts"), mode = "append", targetRows = 500)
    assert(lib.read("ev").count() == events.count())
    assert(lib.listVersions("ev").size == 2) // write + one append version
  }

  test("string-keyed index: write/read/append/update/delete with file pruning") {
    val lib = newLib()
    // 26 keys "ka".."kz" × 40 rows each, written as ~10 files of 100 rows
    val df = spark.range(1040).select(
      concat(lit("k"), chr(lit(97) + pmod(col("id"), lit(26)))).as("key"),
      col("id").as("payload"))
    lib.write("s", df, Some("key"), targetRows = 100)
    val m = lib.resolveVersion("s")
    assert(m.files.size >= 8)
    // string bounds live in minStr/maxStr, ordered and non-overlapping
    assert(m.files.forall(f => f.minStr.isDefined && f.maxStr.isDefined))
    assert(m.files.forall(f => f.minIdx.isEmpty && f.maxIdx.isEmpty))
    val bounds = m.files.map(f => (f.minStr.get, f.maxStr.get))
    bounds.sliding(2).foreach {
      case Seq((_, aMax), (bMin, _)) => assert(Library.strCmp(aMax, bMin) <= 0)
      case _ =>
    }
    // keyRange read prunes files before the scan and filters residual rows
    val pruned = lib.read("s", keyRange = Some(("kc", "kd")))
    assert(scannedFiles(lib.read("s", keyRange = Some(("kc", "kd")))) <= 3,
      "keyRange read must not scan the whole symbol")
    assert(pruned.count() == df.filter(col("key").between("kc", "kd")).count())

    // append: keys at/after the prior max pass validation; earlier keys fail
    lib.append("s", Seq(("zz1", 9001L), ("zz2", 9002L)).toDF("key", "payload"),
      targetRows = 100)
    assert(lib.read("s").count() == 1042)
    intercept[IllegalArgumentException](
      lib.append("s", Seq(("aa", 0L)).toDF("key", "payload"), targetRows = 100))

    // update splices only files covering the patch's key range
    val m1 = lib.resolveVersion("s")
    val patch = df.filter(col("key").between("kc", "kd"))
      .withColumn("payload", col("payload") + 100000)
    lib.update("s", patch, targetRows = 100)
    val m2 = lib.resolveVersion("s")
    assert(m1.files.map(_.path).toSet.intersect(m2.files.map(_.path).toSet).nonEmpty,
      "update must reuse untouched files")
    val after = lib.read("s")
    assert(after.count() == 1042)
    assert(after.filter(col("key").between("kc", "kd") && col("payload") < 100000)
      .count() == 0)

    // explicit keyRange update: in-range absentees deleted, like dateRange
    // on a long index (dateRange on a string index is rejected)
    intercept[IllegalArgumentException](
      lib.update("s", df, targetRows = 100, dateRange = Some((0L, 1L))))
    val kePatch = df.filter(col("key") === "ke")
      .withColumn("payload", col("payload") + 500000)
    lib.update("s", kePatch, targetRows = 100, keyRange = Some(("ke", "kf")))
    val afterKr = lib.read("s")
    assert(afterKr.filter(col("key") === "kf").count() == 0) // in range, absent → deleted
    assert(afterKr.filter(col("key") === "ke" && col("payload") < 500000).count() == 0)

    // deleteRange on string bounds
    lib.deleteRange("s", "kc", "kd")
    assert(lib.read("s").count() ==
      afterKr.count() - df.filter(col("key").between("kc", "kd")).count())
  }

  test("append refuses a frame whose index is of the other family, before writing data") {
    // the key family comes from the stored index, never the frame: long keys
    // committed onto a string index (or the reverse) leave a manifest no
    // later read can compare against
    val lib = newLib()
    lib.write("k", keyed(0, 100), Some("key"), targetRows = 50)
    lib.write("n", mk(0, 100), Some("ts2"), targetRows = 50)
    def dataDirs(sym: String) = new java.io.File(s"${lib.root}/$sym/data").list().toSet
    val before = Seq("k", "n").map(dataDirs)
    for (validate <- Seq(true, false)) {
      intercept[IllegalArgumentException](lib.append("k",
        Seq((500L, 1L)).toDF("key", "payload"), validateIndex = validate))
      intercept[IllegalArgumentException](lib.append("n",
        Seq(("k000500", 1L)).toDF("ts2", "v"), validateIndex = validate))
    }
    assert(Seq("k", "n").map(dataDirs) == before)
    for (sym <- Seq("k", "n")) {
      assert(lib.latestVersion(sym).contains(0))
      assert(lib.read(sym).count() == 100)
    }
  }

  test("deleteRange refuses bounds of the other index family without committing") {
    // long bounds on a string index (or the reverse) match no file, so
    // going ahead would commit a no-op version
    val lib = newLib()
    lib.write("k", keyed(0, 100), Some("key"), targetRows = 50)
    lib.write("n", mk(0, 100), Some("ts2"), targetRows = 50)
    intercept[IllegalArgumentException](lib.deleteRange("k", 0L, 50L))
    intercept[IllegalArgumentException](lib.deleteRange("n", "k000000", "k000050"))
    for (sym <- Seq("k", "n")) {
      assert(lib.latestVersion(sym).contains(0))
      assert(lib.read(sym).count() == 100)
    }
  }

  test("deleteRange on a soft-deleted symbol refuses without committing") {
    val lib = newLib()
    lib.write("n", mk(0, 100), Some("ts2"), targetRows = 50)
    lib.write("k", keyed(0, 100), Some("key"), targetRows = 50)
    for (sym <- Seq("n", "k")) lib.delete(sym)
    val before = Seq("n", "k").map(lib.listVersions)
    intercept[IllegalArgumentException](lib.deleteRange("n", 0L, 50L))
    intercept[IllegalArgumentException](lib.deleteRange("k", "k000000", "k000050"))
    assert(Seq("n", "k").map(lib.listVersions) == before)
  }

  test("an index equality read returns a present key's row and nothing for an absent one") {
    // even keys only: an odd key inside a file's [min, max] is absent, so
    // only the row-level filter can drop it (the index has no bloom filter)
    val lib = newLib()
    lib.write("p", mk(0, 1000).filter(col("ts2") % 2 === 0), Some("ts2"), targetRows = 100)
    val f = lib.resolveVersion("p").files(2)
    val present = f.minIdx.get + 2
    assert(present + 1 < f.maxIdx.get)
    assert(lib.read("p").filter(col("ts2") === present + 1).count() == 0)
    assert(lib.read("p").filter(col("ts2") === present).collect().toSeq ==
      Seq(org.apache.spark.sql.Row(present, present * 2)))
  }

  test("a range read of an unindexed symbol refuses instead of returning every row") {
    val lib = newLib()
    lib.write("u", mk(0, 100), None, targetRows = 50)
    intercept[IllegalArgumentException](lib.read("u", dateRange = Some((0L, 9L))))
    intercept[IllegalArgumentException](lib.read("u", keyRange = Some(("a", "b"))))
    intercept[IllegalArgumentException](lib.deleteRange("u", 0L, 9L))
    assert(lib.read("u").count() == 100)
    assert(lib.latestVersion("u").contains(0))
  }

  test("upsert-create checks the range kind against the new index, before writing") {
    // the same refusal the existing-symbol branch raises, not a late
    // CAST_INVALID_INPUT from the write's job (itself an
    // IllegalArgumentException subclass, hence the message checks)
    val lib = newLib()
    def refusal(f: => Any) = intercept[IllegalArgumentException](f).getMessage
    assert(refusal(lib.update("n", mk(0, 100), upsert = true,
      indexCol = Some("ts2"), keyRange = Some(("a", "z"))))
      .contains("n has a bigint index — use dateRange, not keyRange"))
    assert(refusal(lib.update("k", keyed(0, 100), upsert = true,
      indexCol = Some("key"), dateRange = Some((0L, 9L))))
      .contains("k has a string index — use keyRange, not dateRange"))
    // a range with no index to apply it to
    assert(refusal(lib.update("m", mk(0, 100), upsert = true,
      dateRange = Some((0L, 9L)))).contains("m has no index"))
    assert(lib.listSymbols().isEmpty)
    // the matching kind still creates, keeping only in-range rows
    lib.update("n", mk(0, 100), upsert = true, indexCol = Some("ts2"),
      dateRange = Some((10L, 19L)))
    assert(lib.read("n").count() == 10)
  }

  test("a millisecond timestamp index gets µs manifest bounds and prunes dateRange reads") {
    // footer stats carry the unit the writer chose: a session writing
    // TIMESTAMP_MILLIS (GraftSession pins MICROS; a bare Library takes any
    // session) must still produce manifest bounds in µs
    val lib = newLib()
    val t0 = 1704067200L // 2024-01-01T00:00:00Z, epoch seconds
    val df = spark.range(1000).select(
      timestamp_seconds(lit(t0) + col("id") * 60).as("ts"), col("id").as("v"))
    val key = "spark.sql.parquet.outputTimestampType"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "TIMESTAMP_MILLIS")
    try lib.write("s", df, Some("ts"), targetRows = 250)
    finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
    val m = lib.resolveVersion("s")
    assert(m.files.flatMap(_.minIdx).min == t0 * 1000000L)
    assert(m.files.flatMap(_.maxIdx).max == (t0 + 999 * 60) * 1000000L)
    val ns = t0 * 1000000000L
    val first100 = lib.read("s", dateRange = Some((ns, ns + 99L * 60 * 1000000000L)))
    assert(first100.count() == 100)
    assert(scannedFiles(first100) == 1)
  }

  test("update with explicit dateRange deletes absent in-range rows; upsert creates") {
    val lib = newLib()
    val df = spark.range(100).select(col("id").as("ts2"), col("id").as("v"))
    // upsert on a missing symbol creates it
    intercept[NoSuchElementException](lib.update("s", df, targetRows = 50))
    lib.update("s", df, targetRows = 50, upsert = true, indexCol = Some("ts2"))
    assert(lib.read("s").count() == 100)
    // explicit range [20,39]: patch only covers [20,29] — rows 30..39 must
    // be DELETED (they are in range but absent from the patch); patch rows
    // outside the range (45..49) are ignored
    val patch = spark.range(20, 50).filter(col("id") < 30 || col("id") >= 45)
      .select(col("id").as("ts2"), (col("id") + 1000).as("v"))
    lib.update("s", patch, targetRows = 50, dateRange = Some((20L, 39L)))
    val back = lib.read("s").orderBy("ts2").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(back.length == 90) // 100 - 10 deleted (30..39)
    assert(back.filter(_._1 >= 20).take(10).forall(p => p._2 == p._1 + 1000)) // 20..29 patched
    assert(!back.exists(p => p._1 >= 30 && p._1 < 40)) // deleted
    assert(back.filter(p => p._1 >= 45 && p._1 < 50).forall(p => p._2 == p._1)) // untouched
  }

  test("readBatch honors per-symbol ReadRequest options") {
    val lib = newLib()
    val df = spark.range(100).select(col("id").as("ts2"), col("id").as("v"))
    lib.write("a", df, Some("ts2"), targetRows = 20)
    lib.write("b", df, Some("ts2"), targetRows = 20)
    val q = graft.query.QueryBuilder()
      .filter(graft.query.Expr.col("v") >= graft.query.Expr.lit(95L))
    val Seq(ra, rb, rc) = lib.readBatch(Seq(
      Library.ReadRequest("a", dateRange = Some((10L, 19L))),
      Library.ReadRequest("b", rowRange = Some((0L, 5L)), columns = Some(Seq("v"))),
      Library.ReadRequest("b", query = Some(q)))).map(_.get)
    assert(ra.count() == 10)
    assert(rb.columns.toSeq == Seq("v") && rb.count() == 5)
    assert(rc.count() == 5)
  }

  test("writeBatch overlaps jobs across a driver thread pool") {
    val lib = newLib()
    val df = spark.range(500).select(col("id").as("ts2"), col("id").as("v"))
    val items = (0 until 4).map(i => s"sym$i" -> df)
    val versions = lib.writeBatch(items, Some("ts2"), targetRows = 100).map(_.get)
    assert(versions == Seq(0, 0, 0, 0))
    items.foreach { case (s, _) => assert(lib.read(s).count() == 500) }
    // appendBatch + updateBatch run through the same pool
    val more = spark.range(500, 600).select(col("id").as("ts2"), col("id").as("v"))
    lib.appendBatch(items.map { case (s, _) => s -> more }, targetRows = 100)
    items.foreach { case (s, _) => assert(lib.read(s).count() == 600) }
  }

  test("same-symbol concurrent writes never cross-contaminate data files") {
    val lib = newLib()
    // six pure writes race on version numbers; unique per-attempt data
    // dirs + hard-link manifest CAS mean every writer lands on its own
    // version with exactly its own files
    val frames = (1 to 6).map(i =>
      i -> spark.range(i * 100L).select(col("id").as("ts2"), col("id").as("v")))
    val versions = lib.writeBatch(frames.map { case (_, df) => "s" -> df },
      Some("ts2"), 1000).map(_.get)
    assert(versions.toSet == (0 to 5).toSet)
    val counts = lib.listVersions("s").map(v => lib.manifest("s", v).rowCount).toSet
    assert(counts == frames.map(_._1 * 100L).toSet,
      s"got $counts — a manifest saw foreign files")
    assert(lib.read("s").count() == lib.resolveVersion("s").rowCount)
  }

  test("derived commit pins its base version: a commit landing after the base was read aborts") {
    val lib = newLib()
    lib.write("s", spark.range(10).select(col("id").as("ts2"), col("id").as("v")),
      Some("ts2"), 100) // v0
    val m0 = lib.resolveVersion("s")
    // a concurrent writer wins v1 between a derived operation's manifest
    // read and its commit (the window spans the validate/schema-merge jobs)
    lib.write("s", spark.range(10, 30).select(col("id").as("ts2"), col("id").as("v")),
      Some("ts2"), 100) // v1
    // replaying the derived commit against base v0 must abort — the old
    // latestVersion re-resolve would land it at v2 referencing v0's file
    // list, silently dropping the winner's rows
    intercept[java.util.ConcurrentModificationException] {
      lib.commitNew("s",
        spark.range(30, 40).select(col("id").as("ts2"), col("id").as("v")),
        Some("ts2"), 100, priorFiles = m0.files, m0.metadata,
        baseVersion = Some(m0.version))
    }
    // the winner's data is intact and still latest
    assert(lib.resolveVersion("s").version == 1 && lib.read("s").count() == 20)
  }

  /** Runs `body` with [[RaceHookFs]] as the `file:` filesystem and `race`
    * armed to run once, on the first `exists` probe of a path named
    * `name` — a commit's manifest CAS probes its target version file, so
    * `race` lands a concurrent commit inside that window. Restores the
    * filesystem conf whatever `body` does.
    */
  private def withRaceOn[T](name: String)(race: => Unit)(body: => T): T = {
    val conf = spark.sparkContext.hadoopConfiguration
    val prior = Seq("fs.file.impl", "fs.file.impl.disable.cache").map(k => k -> Option(conf.get(k)))
    conf.set("fs.file.impl", classOf[RaceHookFs].getName)
    conf.set("fs.file.impl.disable.cache", "true")
    RaceHookFs.armed.set((name, () => race))
    try body
    finally {
      RaceHookFs.armed.set(null)
      prior.foreach { case (k, v) => v.fold(conf.unset(k))(conf.set(k, _)) }
    }
  }

  test("unindexed compact commits pinned to its base: a concurrent append survives") {
    val root = java.nio.file.Files.createTempDirectory("graft-libspec-").toString
    val lib = new Library(root, spark, LibraryOptions(gcGraceMs = 0))
    val other = new Library(root, spark, LibraryOptions(gcGraceMs = 0))
    lib.write("s", spark.range(100).toDF("v")) // v0
    lib.append("s", spark.range(100, 110).toDF("v")) // v1
    // the full rewrite is computed from v1; an append landing v2 first
    // must make compact fail, not land v3 without the appended rows
    intercept[java.util.ConcurrentModificationException] {
      withRaceOn("v00002.json")(other.append("s", spark.range(110, 115).toDF("v"))) {
        lib.compact("s")
      }
    }
    assert(lib.resolveVersion("s").version == 2)
    assert(lib.read("s").count() == 115)
  }

  test("concurrent writeMetadata calls through separate handles each land over the base's files") {
    val root = java.nio.file.Files.createTempDirectory("graft-libspec-").toString
    val a = new Library(root, spark, LibraryOptions(gcGraceMs = 0))
    val b = new Library(root, spark, LibraryOptions(gcGraceMs = 0))
    a.write("s", spark.range(50).select(col("id").as("ts2"), col("id").as("v")),
      Some("ts2"), 10) // v0
    val base = a.resolveVersion("s")
    var vb = -1
    // b commits v1 while a is between choosing v1 and its CAS: a must
    // rebuild on top of b's version, not fail and not drop b's commit
    val va = withRaceOn("v00001.json") { vb = b.writeMetadata("s", Map("by" -> "b")) } {
      a.writeMetadata("s", Map("by" -> "a"))
    }
    assert((va, vb) == ((2, 1)))
    for ((v, by) <- Seq(va -> "a", vb -> "b")) {
      val m = a.manifest("s", v)
      assert(m.files.map(_.path) == base.files.map(_.path) && m.rowCount == 50)
      assert(m.metadata == Map("by" -> by))
    }
    assert(a.read("s").count() == 50)
  }

  test("writeMetadata creates a metadata-only empty version for missing/tombstoned symbols") {
    val lib = newLib()
    // missing symbol: reference write_metadata creates it with no data
    assert(lib.writeMetadata("fresh", Map("k" -> "v")) == 0)
    assert(lib.readMetadata("fresh") == Map("k" -> "v"))
    assert(lib.read("fresh").count() == 0)
    // tombstoned symbol: new metadata-only version on top of the tombstone
    lib.write("gone", spark.range(5).toDF("v"))
    lib.delete("gone")
    val v = lib.writeMetadata("gone", Map("note" -> "resurrected"))
    assert(v == 2 && lib.readMetadata("gone") == Map("note" -> "resurrected"))
    assert(lib.read("gone").count() == 0)
  }

  test("writeBlobBatch / readBlobBatch roundtrip (write_pickle_batch analog)") {
    val lib = newLib()
    val items = (1 to 5).map(i => s"blob$i" -> Array.tabulate(64 * i)(j => (j % 113).toByte))
    val versions = lib.writeBlobBatch(items, Map("codec" -> "raw")).map(_.get)
    assert(versions == Seq.fill(5)(0))
    val back = lib.readBlobBatch(items.map(_._1)).map(_.get)
    items.zip(back).foreach { case ((_, sent), got) => assert(got.toSeq == sent.toSeq) }
    assert(lib.readMetadata("blob3")("codec") == "raw")
  }

  test("batch ops report per-item outcomes; one bad symbol spares siblings") {
    val lib = newLib()
    val df = spark.range(10).select(col("id").as("ts2"), col("id").as("v"))
    val more = spark.range(10, 20).select(col("id").as("ts2"), col("id").as("v"))
    lib.write("ok1", df, Some("ts2"), 100)
    lib.write("ok2", df, Some("ts2"), 100)
    // append batch: every task settles before the call returns, and the
    // bad symbol comes back as a typed DataError instead of poisoning the
    // batch (reference library.py:626)
    val out = lib.appendBatch(Seq("ok1" -> more, "missing" -> more, "ok2" -> more))
    assert(out.count(_.isOk) == 2)
    out match {
      case Seq(Library.BatchOk("ok1", 1), Library.DataError("missing", e),
          Library.BatchOk("ok2", 1)) =>
        assert(e.isInstanceOf[NoSuchElementException])
      case other => fail(s"unexpected outcomes: $other")
    }
    assert(lib.read("ok1").count() == 20)
    assert(lib.read("ok2").count() == 20)
    // reads: same model, and .get rethrows the stored failure
    val reads = lib.readBatch(Seq("ok1", "nope", "ok2"))
    assert(reads.map(_.isOk) == Seq(true, false, true))
    assert(reads(1).symbol == "nope")
    intercept[NoSuchElementException](reads(1).get)
    assert(reads(0).get.count() == 20)
  }

  test("writeMetadataBatch and getInfoBatch report per-item outcomes") {
    val lib = newLib()
    val df = spark.range(10).select(col("id").as("ts2"), col("id").as("v"))
    lib.write("ok1", df, Some("ts2"), 100)
    lib.write("ok2", df, Some("ts2"), 100)
    // a missing symbol is created metadata-only (writeMetadata's rule);
    // a name that cannot be a path fails alone and its siblings commit
    val md = Map("owner" -> "batch")
    val out = lib.writeMetadataBatch(Seq("ok1" -> md, "missing" -> md, "" -> md, "ok2" -> md))
    out match {
      case Seq(Library.BatchOk("ok1", 1), Library.BatchOk("missing", 0),
          Library.DataError("", e), Library.BatchOk("ok2", 1)) =>
        assert(e.isInstanceOf[IllegalArgumentException])
      case other => fail(s"unexpected outcomes: $other")
    }
    assert(lib.readMetadataBatch(Seq("ok1", "missing", "ok2")).map(_.get) == Seq.fill(3)(md))
    assert(lib.read("ok1").count() == 10 && lib.read("missing").count() == 0)

    val infos = lib.getInfoBatch(Seq("ok1", "nope", "ok2"))
    assert(infos.map(_.isOk) == Seq(true, false, true))
    assert(infos.map(_.symbol) == Seq("ok1", "nope", "ok2"))
    intercept[NoSuchElementException](infos(1).get)
    for (i <- Seq(infos(0).get, infos(2).get)) {
      assert(i.version == 1 && i.rowCount == 10 && i.indexCol.contains("ts2"))
      assert(i == lib.getInfo(i.symbol))
    }
    // as-of reaches every item: version 0 predates the metadata commit
    assert(lib.getInfoBatch(Seq("ok1", "ok2"), AsOf.Version(0)).map(_.get.version) == Seq(0, 0))
  }

  test("finalizeStaged unifies evolved staged-delta schemas under dynamicSchema") {
    val lib = newLib()
    val a = Seq((10L, 1), (20L, 2)).toDF("ts2", "x") // int x
    val b = Seq((30L, 3.5, "n3"), (40L, 4.5, "n4")).toDF("ts2", "x", "tag") // double x + tag
    lib.stage("s", a)
    lib.stage("s", b)
    // without dynamicSchema the mixed read is rejected or mis-typed; with
    // it the deltas unify: x promotes to double, tag backfills null
    lib.sortAndFinalizeStaged("s", Some("ts2"), dynamicSchema = true)
    val back = lib.read("s").orderBy("ts2")
    import org.apache.spark.sql.types._
    assert(back.schema("x").dataType == DoubleType)
    val rows = back.collect()
    assert(rows.map(_.getDouble(1)).toSeq == Seq(1.0, 2.0, 3.5, 4.5))
    assert(rows(0).isNullAt(2) && rows(2).getString(2) == "n3")
    // append-mode finalize with a further evolved delta
    lib.stage("s", Seq((50L, 5.5, "n5", true)).toDF("ts2", "x", "tag", "flag"))
    lib.sortAndFinalizeStaged("s", Some("ts2"), mode = "append", dynamicSchema = true)
    val evolved = lib.read("s").orderBy("ts2").collect()
    assert(evolved.length == 5 && evolved(4).getBoolean(3))
  }

  test("sortAndFinalizeStaged REFUSES mismatched staged schemas without dynamicSchema") {
    // r20 review: the non-dynamic branch read all staged dirs with one
    // bare parquet read, which adopts a single delta's schema and
    // silently nulls/drops disagreeing columns — the reference raises
    // SchemaException there. Must refuse loudly, like finalizeStaged.
    val lib = newLib()
    lib.stage("s", Seq((10L, 1)).toDF("ts2", "x"))
    lib.stage("s", Seq((30L, 3.5, "n3")).toDF("ts2", "x", "tag"))
    val e = intercept[IllegalArgumentException] {
      lib.sortAndFinalizeStaged("s", Some("ts2"))
    }
    assert(e.getMessage.contains("differing schemas") &&
      e.getMessage.contains("dynamicSchema"), e.getMessage)
    // staging intact after the refusal: the dynamic path still finalizes
    lib.sortAndFinalizeStaged("s", Some("ts2"), dynamicSchema = true)
    assert(lib.read("s").count() == 2)
  }

  test("snapshot pins explicit non-latest versions and carries metadata") {
    val lib = newLib()
    val df = spark.range(100).select(col("id").as("ts2"), col("id").as("v"))
    lib.write("s", df, Some("ts2"), targetRows = 50) // v0: 100 rows
    lib.append("s", spark.range(100, 150).select(col("id").as("ts2"), col("id").as("v")),
      targetRows = 50) // v1: 150 rows
    lib.write("t", df, Some("ts2"), targetRows = 50) // v0
    lib.snapshot("pin0", versions = Map("s" -> 0), metadata = Map("why" -> "audit"))
    // s reads back at its pinned v0, t at its latest
    assert(lib.read("s", AsOf.Snapshot("pin0")).count() == 100)
    assert(lib.read("t", AsOf.Snapshot("pin0")).count() == 100)
    assert(lib.read("s").count() == 150)
    assert(lib.snapshotMetadata("pin0") == Map("why" -> "audit"))
    intercept[IllegalArgumentException](lib.snapshot("bad", versions = Map("s" -> 9)))
    // pinned v0 survives pruning
    lib.prunePreviousVersions("s")
    assert(lib.read("s", AsOf.Snapshot("pin0")).count() == 100)
  }

  test("expression-AST stats pruning: NOT/isin/range prune files, Kleene-safe") {
    import graft.query.Expr.{col => e, lit => l}
    val lib = newLib()
    val df = spark.range(1000)
      .select(col("id").as("k"), (col("id") * 10).as("ts2"), pmod(col("id"), lit(7)).as("noise"))
    lib.write("s", df, Some("ts2"), targetRows = 100)
    lib.createColumnStats("s", Seq("k", "noise"))
    val q = graft.query.QueryBuilder().filter((e("k") >= l(100L)) && (e("k") <= l(150L)))
    val pruned = lib.readQuery("s", q)
    assert(pruned.count() == 51)
    assert(scannedFiles(lib.readQuery("s", q)) <= 2,
      "conjunctive range filter must prune through the expression AST")
    // NOT over a between-style conjunction: files wholly inside [200,800) are skipped
    val qNot = graft.query.QueryBuilder().filter(!((e("k") >= l(200L)) && (e("k") < l(800L))))
    assert(lib.readQuery("s", qNot).count() == 400)
    assert(scannedFiles(lib.readQuery("s", qNot)) <= 5,
      "NOT(range) must skip interior files")
    // isin prunes to the covering files
    val qIn = graft.query.QueryBuilder().filter(e("k").isin(5L, 7L, 950L))
    assert(lib.readQuery("s", qIn).count() == 3)
    assert(scannedFiles(lib.readQuery("s", qIn)) <= 2)
    // filters the stats cannot bound keep everything (correct, conservative)
    val qNull = graft.query.QueryBuilder().filter(e("noise").isNull || (e("k") < l(0L)))
    assert(lib.readQuery("s", qNull).count() == 0)
    // index column prunes from manifest bounds alone (no createColumnStats on ts2)
    val qIdx = graft.query.QueryBuilder().filter(e("ts2") < l(500L))
    assert(lib.readQuery("s", qIdx).count() == 50)
    assert(scannedFiles(lib.readQuery("s", qIdx)) <= 1)
  }

  test("merge upserts by index key, preserving unmatched in-range rows") {
    val lib = newLib()
    val df = spark.range(100).select(col("id").as("ts2"), col("id").as("v"))
    lib.write("s", df, Some("ts2"), targetRows = 20)
    val m0 = lib.resolveVersion("s")
    // patch: update keys 40,42 and insert new keys 41.5-like (use 200, 201)
    val patch = Seq((40L, 9040L), (42L, 9042L), (200L, 9200L), (201L, 9201L))
      .toDF("ts2", "v")
    lib.merge("s", patch, targetRows = 20)
    val back = lib.read("s").orderBy("ts2").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(back.length == 102) // 100 + 2 inserts
    val byKey = back.toMap
    assert(byKey(40L) == 9040L && byKey(42L) == 9042L) // matched → updated
    assert(byKey(41L) == 41L) // in-range unmatched target row SURVIVES (vs update)
    assert(byKey(200L) == 9200L && byKey(201L) == 9201L) // inserts
    // untouched files shared with prior version
    val m1 = lib.resolveVersion("s")
    assert(m0.files.map(_.path).toSet.intersect(m1.files.map(_.path).toSet).nonEmpty)
    // do_nothing strategies
    lib.merge("s", Seq((40L, 1L), (300L, 300L)).toDF("ts2", "v"),
      matched = "do_nothing", targetRows = 20)
    val after = lib.read("s").orderBy("ts2").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(after(40L) == 9040L && after(300L) == 300L)
  }

  test("metadata-only commits, blob symbols, staged bookkeeping, delete batch") {
    val lib = newLib()
    val df = spark.range(10).select(col("id").as("ts2"), col("id").as("v"))
    lib.write("s", df, Some("ts2"), targetRows = 100, metadata = Map("a" -> "1"))
    // write_metadata: new version, same files, no data IO
    val m0 = lib.resolveVersion("s")
    lib.writeMetadata("s", Map("a" -> "2", "b" -> "3"))
    val m1 = lib.resolveVersion("s")
    assert(m1.version == m0.version + 1 && m1.files == m0.files)
    assert(lib.readMetadata("s") == Map("a" -> "2", "b" -> "3"))
    assert(lib.readMetadata("s", AsOf.Version(m0.version)) == Map("a" -> "1"))
    assert(lib.readMetadataBatch(Seq("s", "s")).forall(_.get("b") == "3"))

    // blob (write_pickle analog): versioned opaque payload
    val payload = Array.tabulate(1000)(i => (i % 251).toByte)
    lib.writeBlob("model", payload, Map("fmt" -> "test"))
    assert(lib.readBlob("model").toSeq == payload.toSeq)
    assert(lib.readMetadata("model")("fmt") == "test")
    intercept[IllegalArgumentException](lib.readBlob("s"))

    // staged bookkeeping
    lib.stage("pending", df)
    assert(lib.getStagedSymbols() == Seq("pending"))
    lib.deleteStagedData("pending")
    assert(lib.getStagedSymbols().isEmpty)

    // remove_incompletes: batch cleanup, per-item outcomes, no-op ok
    lib.stage("p1", df)
    lib.stage("p2", df)
    val cleaned = lib.removeIncompletes(Seq("p1", "p2", "never_staged"))
    assert(cleaned.forall(_.isOk) && cleaned.map(_.symbol) == Seq("p1", "p2", "never_staged"))
    assert(lib.getStagedSymbols().isEmpty)

    // fragmentation probe + explain plan agree with compact
    val frag = newLib()
    val d2 = spark.range(900).select(col("id").as("ts2"), (col("id") * 2).as("x"))
    frag.write("t", d2.filter(col("ts2") < 600), Some("ts2"), targetRows = 300)
    (0 until 3).foreach(i => frag.append("t",
      d2.filter(col("ts2").between(600 + i * 100, 699 + i * 100)), targetRows = 300))
    assert(frag.isSymbolFragmented("t", targetRows = 300))
    val plan = frag.compactExplainPlan("t", targetRows = 300)
    assert(plan.size == 1 && plan.head.size == 3) // the 3×100-row tail run
    frag.compact("t", targetRows = 300)
    assert(!frag.isSymbolFragmented("t", targetRows = 300))

    // delete_batch tombstones in parallel
    lib.writeBatch(Seq("d1" -> df, "d2" -> df), Some("ts2"), 100)
    lib.deleteBatch(Seq("d1", "d2"))
    assert(!lib.hasSymbol("d1") && !lib.hasSymbol("d2"))
  }

  test("stage + finalize with sort produces a readable sorted version") {
    val lib = newLib()
    (0 until 3).foreach(i => lib.stage("ev", events.filter(pmod(col("user_id"), lit(3)) === i)))
    lib.sortAndFinalizeStaged("ev", Some("ts"), targetRows = 300)
    val back = lib.read("ev", withRowId = true)
    assert(back.count() == events.count())
    // _row_id follows ts order globally
    val rows = back.select(col(Library.RowIdCol), tsUs).as[(Long, Long)]
      .collect().sortBy(_._1)
    assert(rows.map(_._2).sameElements(rows.map(_._2).sorted))
  }

  private def mk(lo: Long, hi: Long) =
    spark.range(lo, hi).select(col("id").as("ts2"), (col("id") * 2).as("v"))

  /** mk's rows under a zero-padded string key, so key order is id order. */
  private def keyed(lo: Long, hi: Long) =
    spark.range(lo, hi).select(format_string("k%06d", col("id")).as("key"),
      col("id").as("payload"))

  test("delete(versions) removes middle and latest; survivors stay readable") {
    val lib = newLib()
    lib.write("s", mk(0, 100), Some("ts2"), targetRows = 50) // v0
    lib.append("s", mk(100, 160)) // v1
    lib.append("s", mk(160, 200)) // v2
    lib.append("s", mk(200, 230)) // v3
    val m2 = lib.resolveVersion("s", AsOf.Version(2)).files.map(_.path).toSet
    val delta3 = lib.resolveVersion("s", AsOf.Version(3)).files.map(_.path).toSet -- m2

    lib.delete("s", Seq(1, 3)) // a middle version and the latest
    assert(lib.listVersions("s") == Seq(0, 2))
    assert(lib.read("s").count() == 200) // v2 is latest again
    assert(lib.read("s", AsOf.Version(0)).count() == 100)
    assert(lib.read("s", AsOf.Version(2)).count() == 200)
    intercept[Exception](lib.read("s", AsOf.Version(1)).count())

    // GC: v3's delta files are gone; files shared with survivors remain
    delta3.foreach(p =>
      assert(!new java.io.File(s"${lib.root}/s/data/$p").exists, s"$p not GC'd"))
    m2.foreach(p =>
      assert(new java.io.File(s"${lib.root}/s/data/$p").exists, s"$p wrongly GC'd"))

    intercept[IllegalArgumentException](lib.delete("s", Seq(7))) // no such version
  }

  test("delete(versions) refuses snapshot-pinned versions") {
    val lib = newLib()
    lib.write("s", mk(0, 100), Some("ts2")) // v0
    lib.append("s", mk(100, 150)) // v1
    lib.snapshot("keep", versions = Map("s" -> 0))
    val ex = intercept[IllegalArgumentException](lib.delete("s", Seq(0)))
    assert(ex.getMessage.contains("keep"))
    lib.delete("s", Seq(1)) // unpinned deletes fine
    assert(lib.listVersions("s") == Seq(0))
    lib.deleteSnapshot("keep")
    lib.delete("s", Seq(0))
    assert(lib.listVersions("s").isEmpty && !lib.hasSymbol("s"))
  }

  test("version ids are never reused after delete(versions)") {
    // Reference keeps version ids monotone (a deleted id is never reborn):
    // an AsOf.Version(n) reader — or another handle's manifest cache —
    // must never see DIFFERENT data under the same id.
    val lib = newLib()
    lib.write("s", mk(0, 10), Some("ts2")) // v0
    lib.append("s", mk(10, 20)) // v1
    lib.append("s", mk(20, 30)) // v2
    val other = new Library(lib.root, spark) // second open handle
    assert(other.read("s", AsOf.Version(2)).count() == 30)
    lib.delete("s", Seq(2))
    assert(lib.append("s", mk(20, 25)) == 3, "freed id 2 must not be reborn")
    assert(lib.listVersions("s") == Seq(0, 1, 3))
    // the other handle's cached manifest for (s, 2) can only describe the
    // dead version, never a successor's data
    intercept[Exception](lib.read("s", AsOf.Version(2)).count())
    // survives even when ALL versions are deleted
    lib.delete("s", Seq(0, 1, 3))
    assert(!lib.hasSymbol("s"))
    lib.write("s", mk(0, 5), Some("ts2"))
    assert(lib.latestVersion("s").contains(4), "fresh write allocates past high water")
    // tombstone + metadata-only commits allocate monotonically too
    lib.delete("s", Seq(4))
    assert(lib.writeMetadata("s", Map("k" -> "v")) == 5)
  }

  test("hasSymbol honors asOf; snapshot listing carries metadata") {
    val lib = newLib()
    lib.write("s", mk(0, 10), Some("ts2"))
    lib.snapshot("pin", symbols = Seq("s"), metadata = Map("note" -> "x"))
    lib.delete("s") // tombstone
    assert(!lib.hasSymbol("s"))
    assert(lib.hasSymbol("s", AsOf.Version(0)))
    assert(lib.hasSymbol("s", AsOf.Snapshot("pin")))
    assert(!lib.hasSymbol("s", AsOf.Snapshot("nope")))
    assert(!lib.hasSymbol("missing", AsOf.Version(0)))
    assert(lib.listSnapshotsWithMetadata() == Map("pin" -> Map("note" -> "x")))
  }

  test("deleteVersionsBatch prunes versions across symbols in parallel") {
    val lib = newLib()
    Seq("a", "b").foreach { s =>
      lib.write(s, mk(0, 50), Some("ts2"))
      lib.append(s, mk(50, 80))
    }
    lib.deleteVersionsBatch(Seq("a" -> Seq(0), "b" -> Seq(1)))
    assert(lib.listVersions("a") == Seq(1) && lib.read("a").count() == 80)
    assert(lib.listVersions("b") == Seq(0) && lib.read("b").count() == 50)
  }

  test("finalizeStaged splices sorted staged deltas without rewriting") {
    val lib = newLib()
    lib.write("s", mk(0, 1000), Some("ts2"), targetRows = 300) // v0
    // two disjoint pre-sorted deltas (file-range-disjoint within each)
    lib.stage("s", mk(1000, 1500).repartitionByRange(2, col("ts2")).sortWithinPartitions("ts2"))
    lib.stage("s", mk(1500, 1800).coalesce(1).sortWithinPartitions("ts2"))
    val stagedParts = new java.io.File(s"${lib.root}/s/_staged").listFiles()
      .filter(_.isDirectory)
      .flatMap(_.listFiles()).count(f => f.getName.endsWith(".parquet"))
    assert(lib.finalizeStaged("s", mode = "append") == 1)
    val m = lib.resolveVersion("s")
    assert(m.sorted && m.rowCount == 1800)
    // zero rewrite: every staged part file joined the manifest as-is
    val v0Files = lib.resolveVersion("s", AsOf.Version(0)).files.size
    assert(m.files.size == v0Files + stagedParts)
    assert(lib.read("s").orderBy("ts2").select("v").as[Long].collect().toSeq ==
      (0L until 1800L).map(_ * 2))
    // manifest pruning works across spliced files
    assert(scannedFiles(lib.read("s", dateRange = Some((1600L, 1700L)))) <= 2)
    // mode=write splice replaces the symbol with just the staged delta
    lib.stage("s", mk(0, 50).coalesce(1).sortWithinPartitions("ts2"))
    lib.finalizeStaged("s", mode = "write")
    assert(lib.read("s").count() == 50)
  }

  test("finalizeStaged append validation rejects overlap; staging stays intact") {
    val lib = newLib()
    lib.write("s", mk(0, 1000), Some("ts2"), targetRows = 300)
    // starts before the stored max
    lib.stage("s", mk(900, 1200).coalesce(1).sortWithinPartitions("ts2"))
    intercept[IllegalArgumentException](lib.finalizeStaged("s", mode = "append"))
    assert(lib.read("s").count() == 1000) // nothing published
    lib.deleteStagedData("s")
    // deltas overlapping EACH OTHER
    lib.stage("s", mk(1000, 1300).coalesce(1).sortWithinPartitions("ts2"))
    lib.stage("s", mk(1200, 1500).coalesce(1).sortWithinPartitions("ts2"))
    val ex = intercept[IllegalArgumentException](lib.finalizeStaged("s", mode = "append"))
    assert(ex.getMessage.contains("overlap"))
    // staging intact after rejection → the sort path can still publish it
    lib.sortAndFinalizeStaged("s", Some("ts2"), mode = "append")
    assert(lib.read("s").count() == 1000 + 300 + 300)
    assert(lib.read("s").select("ts2").distinct().count() == 1500)

    // the same two refusals over a string index
    lib.write("k", keyed(0, 1000), Some("key"), targetRows = 300)
    lib.stage("k", keyed(900, 1200).coalesce(1).sortWithinPartitions("key"))
    val exStart = intercept[IllegalArgumentException](lib.finalizeStaged("k", mode = "append"))
    assert(exStart.getMessage.contains("starts before stored data"))
    assert(lib.read("k").count() == 1000)
    lib.deleteStagedData("k")
    lib.stage("k", keyed(1000, 1300).coalesce(1).sortWithinPartitions("key"))
    lib.stage("k", keyed(1200, 1500).coalesce(1).sortWithinPartitions("key"))
    val exK = intercept[IllegalArgumentException](lib.finalizeStaged("k", mode = "append"))
    assert(exK.getMessage.contains("overlap"))
    lib.sortAndFinalizeStaged("k", Some("key"), mode = "append")
    assert(lib.read("k").count() == 1000 + 300 + 300)
    assert(lib.read("k").select("key").distinct().count() == 1500)
  }

  test("finalizeStaged rejects a file unsorted at row-group granularity") {
    val lib = newLib()
    lib.write("s", mk(0, 1000), Some("ts2"), targetRows = 300)
    // force multiple small row groups so a descending file has out-of-order
    // block bounds (one-block files are vacuously ordered at this granularity)
    lib.write("k", keyed(0, 1000), Some("key"), targetRows = 300)
    val hc = spark.sparkContext.hadoopConfiguration
    val prior = hc.get("parquet.block.size")
    hc.setInt("parquet.block.size", 64 * 1024)
    try {
      lib.stage("s", spark.range(1000, 200000).orderBy(desc("id"))
        .select(col("id").as("ts2"), (col("id") * 2).as("v")).coalesce(1))
      lib.stage("k", keyed(1000, 200000).orderBy(desc("key")).coalesce(1))
    } finally
      if (prior == null) hc.unset("parquet.block.size") else hc.set("parquet.block.size", prior)
    val ex = intercept[IllegalArgumentException](lib.finalizeStaged("s", mode = "append"))
    assert(ex.getMessage.contains("not sorted"))
    val exK = intercept[IllegalArgumentException](lib.finalizeStaged("k", mode = "append"))
    assert(exK.getMessage.contains("not sorted"))
  }

  test("finalizeStaged tolerates empty staged deltas (streaming empty batches)") {
    val lib = newLib()
    lib.write("s", mk(0, 100), Some("ts2"))
    lib.stage("s", mk(100, 200).coalesce(1).sortWithinPartitions("ts2"))
    lib.stage("s", mk(0, 0)) // empty micro-batch: 0-row delta dir
    lib.finalizeStaged("s", mode = "append")
    assert(lib.read("s").count() == 200)
    assert(lib.resolveVersion("s").sorted)
  }

  test("finalizeStaged write-mode bumps past a concurrently committed version") {
    // Two libraries over the SAME root race write-mode finalizes of
    // different staged deltas: both resolve the same latest version and
    // attempt the same number; the CAS loser must bump and re-commit
    // (last-writer-wins), never fail or clobber. Concurrency exercises
    // the retry loop for real — a pre-planted manifest would already be
    // visible to the loser's initial version resolution.
    val root = java.nio.file.Files.createTempDirectory("graft-libspec-").toString
    val libA = new Library(root, spark)
    val libB = new Library(root, spark)
    libA.write("s", mk(0, 100), Some("ts2")) // v0
    libA.stage("s", mk(0, 30).coalesce(1).sortWithinPartitions("ts2"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val fA = pool.submit(new java.util.concurrent.Callable[Int] {
        def call(): Int = libA.finalizeStaged("s", mode = "write")
      })
      val fB = pool.submit(new java.util.concurrent.Callable[Int] {
        def call(): Int = libB.write("s", mk(500, 540), Some("ts2"))
      })
      val (va, vb) = (fA.get(), fB.get())
      assert(Set(va, vb) == Set(1, 2), s"got $va, $vb") // both landed, distinct
      assert(libA.read("s", AsOf.Version(va)).count() == 30)
      assert(libA.read("s", AsOf.Version(vb)).count() == 40)
    } finally pool.shutdown()
  }

  test("finalizeStaged splices a string-keyed delta with key-range pruning") {
    val lib = newLib()
    def keyed(lo: Int, hi: Int) = spark.range(lo, hi).select(
      concat(lit("k"), format_string("%04d", col("id"))).as("key"),
      col("id").as("payload"))
    lib.write("s", keyed(0, 500), Some("key"), targetRows = 100)
    lib.stage("s", keyed(500, 700)
      .repartitionByRange(2, col("key")).sortWithinPartitions("key"))
    lib.finalizeStaged("s", mode = "append")
    val m = lib.resolveVersion("s")
    assert(m.sorted && m.rowCount == 700)
    assert(m.files.forall(f => f.minStr.isDefined && f.minIdx.isEmpty))
    assert(lib.read("s", keyRange = Some(("k0600", "k0650"))).count() == 51)
    assert(scannedFiles(lib.read("s", keyRange = Some(("k0600", "k0650")))) <= 2)
    // a delta starting before the stored string max is rejected
    lib.stage("s", keyed(650, 720).coalesce(1).sortWithinPartitions("key"))
    intercept[Exception](lib.finalizeStaged("s", mode = "append"))
  }

  test("finalizeStaged splices evolved schemas without rewriting files") {
    val lib = newLib()
    lib.write("s", Seq((10L, 1), (20L, 2)).toDF("ts2", "x"), Some("ts2"))
    lib.stage("s", Seq((30L, 3.5, "n3"), (40L, 4.5, "n4")).toDF("ts2", "x", "tag")
      .coalesce(1).sortWithinPartitions("ts2"))
    // schema mismatch without dynamicSchema is rejected up front
    intercept[IllegalArgumentException](
      lib.finalizeStaged("s", mode = "append", dynamicSchema = false))
    lib.finalizeStaged("s", mode = "append", dynamicSchema = true)
    val back = lib.read("s").orderBy("ts2")
    assert(back.schema("x").dataType == org.apache.spark.sql.types.DoubleType)
    val rows = back.collect()
    assert(rows.map(_.getDouble(1)).toSeq == Seq(1.0, 2.0, 3.5, 4.5))
    assert(rows(0).isNullAt(2) && rows(2).getString(2) == "n3")
  }

  test("finalizeStaged(validateIndex) rejects non-empty files without index stats") {
    // A dynamicSchema delta MISSING the index column (or carrying an
    // all-null one) has no footer bounds: the overlap/boundary checks
    // can't see it, so validate must refuse rather than publish a
    // manifest claiming sorted=true over unvalidatable rows.
    val lib = newLib()
    lib.write("s", Seq((10L, 1), (20L, 2)).toDF("ts2", "x"), Some("ts2"))
    lib.stage("s", Seq((3, "t3"), (4, "t4")).toDF("x", "tag").coalesce(1))
    intercept[IllegalArgumentException](
      lib.finalizeStaged("s", mode = "append", dynamicSchema = true))
    // staging intact after the refusal; non-validating finalize still works
    // and makes no sortedness claim
    assert(lib.getStagedSymbols() == Seq("s"))
    lib.finalizeStaged("s", mode = "append", dynamicSchema = true,
      validateIndex = false)
    assert(!lib.resolveVersion("s").sorted)
    assert(lib.read("s").count() == 4)
  }

  test("toolbox: keyTree / manifestDump / storageSummary census the layout") {
    val lib = newLib()
    lib.write("s", mk(0, 300), Some("ts2"), targetRows = 100) // v0: 3 files
    lib.append("s", mk(300, 400), targetRows = 100) // v1: +1 file
    lib.stage("s", mk(400, 450)) // out-of-band staged keys

    val kt = lib.keyTree("s").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val byLayer = kt.groupBy(_._1).view.mapValues(_.length).toMap
    assert(byLayer.getOrElse("version", 0) >= 2, s"version keys: $byLayer") // 2 manifests
    assert(byLayer.getOrElse("staged", 0) >= 1, s"staged keys: $byLayer")
    val dataKeys = kt.filter(_._1 == "data").map(_._2)
    assert(dataKeys.count(_.endsWith(".parquet")) == 4, dataKeys.mkString(","))
    assert(kt.forall(r => r._3 >= 0 && r._4 > 0)) // sizes and mtimes populated
    // paths are symbol-relative: readable keys, no absolute leakage
    assert(kt.forall(!_._2.startsWith("/")))

    val md = lib.manifestDump("s").collect()
    assert(md.length == 4)
    assert(md.map(_.getLong(1)).sum == 400) // rows
    val offs = md.sortBy(_.getLong(2)).map(r => (r.getLong(2), r.getLong(1)))
    assert(offs.map(_._1).toSeq ==
      offs.scanLeft(0L)(_ + _._2).dropRight(1).toSeq, "row_offset not cumulative")
    assert(md.map(_.getString(0)).toSet ==
      lib.resolveVersion("s").files.map(_.path).toSet)
    // trailing bytes column: each file's recorded size, matching keyTree's
    val keyBytes = kt.filter(_._1 == "data").map(r => r._2 -> r._3).toMap
    assert(md.forall(r => keyBytes.get(s"data/${r.getString(0)}").contains(r.getLong(7))),
      s"manifest bytes vs keyTree: ${md.map(r => (r.getString(0), r.get(7))).mkString(",")}")

    // a staged-but-never-finalized symbol has a dir with ZERO versions —
    // the census must report it (it owns storage), not throw (ADVICE r17)
    lib.stage("staged_only", mk(0, 50))
    // ...and a VERSIONED symbol with staged debris reports both, in
    // uniform columns (data_bytes = committed data for every row,
    // staged_bytes its own column) — a cleanup census must not hide
    // debris behind a column whose meaning shifts per row
    lib.stage("s", mk(400, 10))
    val ss = lib.storageSummary().collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getInt(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getBoolean(7))).toSeq
    val row = ss.find(_._1 == "s").get
    assert(row._2 == 2 && row._3 == 1 && row._4 == 4 && row._5 == 400)
    assert(row._6 > 0, "data_bytes")
    assert(row._7 > 0, "staged debris on a versioned symbol must show")
    assert(row._8, "4×100-row files at a 1M-row target must read as fragmented")
    val so = ss.find(_._1 == "staged_only").get
    assert(so._2 == 0 && so._3 == -1 && so._4 == 0 && so._5 == 0L)
    assert(so._6 == 0L, "zero-version rows have no committed data")
    assert(so._7 > 0, "staged bytes must be counted — the dir owns storage")
    assert(!so._8)
  }

  test("storageSummary: pooled walk fails LOUDLY per symbol, never omits") {
    // the census runs from the batch pool (the sizesBySymbol shape,
    // VERDICT-r18 #1); a planted unreadable symbol must surface as an
    // error NAMING the symbol — a census that silently omits a symbol
    // is wrong in the way that matters most for the tool
    val lib = newLib()
    (0 until 6).foreach(i => lib.write(s"ok$i", mk(0, 50), Some("ts2")))
    lib.write("bad", mk(0, 50), Some("ts2"))
    // corrupt bad's only manifest on disk; a FRESH handle (cold
    // manifest cache) must hit the parse failure
    val vdir = new org.apache.hadoop.fs.Path(lib.root, "bad/_versions")
    val fs = vdir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new org.apache.hadoop.fs.Path(vdir, "v00000.json"), true)
    out.write("{not json".getBytes("UTF-8")); out.close()
    val cold = new Library(lib.root, spark)
    val e = intercept[java.io.IOException](cold.storageSummary().collect())
    assert(e.getMessage.contains("bad"), e.getMessage)
    // healthy symbols still census on a root without the corruption
    val lib2 = newLib()
    (0 until 6).foreach(i => lib2.write(s"ok$i", mk(0, 50), Some("ts2")))
    assert(lib2.storageSummary().collect().length == 6)
  }

  test("restoreVersion: zero-copy rollback, undelete, GC-safe") {
    val lib = newLib()
    lib.write("s", mk(0, 100), Some("ts2"), targetRows = 50) // v0
    lib.append("s", mk(100, 160)) // v1: 160 rows
    lib.write("s", mk(0, 10), Some("ts2"),
      metadata = Map("k" -> "bad")) // v2: the bad overwrite
    def dataFiles(): Long =
      lib.keyTree("s").filter(col("layer") === "data").count()
    val filesBefore = dataFiles()

    val v = lib.restoreVersion("s", Library.AsOf.Version(1))
    assert(v == 3, "restore commits a NEW latest version")
    assert(lib.read("s").count() == 160, "latest now equals v1")
    assert(dataFiles() == filesBefore, "zero-copy: restore wrote NO data")
    assert(lib.resolveVersion("s").files.map(_.path) ==
      lib.resolveVersion("s", Library.AsOf.Version(1)).files.map(_.path),
      "restored manifest references v1's files verbatim")
    assert(!lib.readMetadata("s").contains("k"),
      "metadata restored from v1, not carried from the bad v2")

    // GC safety: prune history — the restored version's (shared, old)
    // files must survive because a live manifest references them
    lib.prunePreviousVersions("s")
    lib.gc("s")
    assert(lib.read("s").count() == 160, "GC deleted files v3 references")

    // undelete: tombstone, then restore the pre-delete content
    lib.delete("s")
    intercept[Exception](lib.read("s"))
    val v2 = lib.restoreVersion("s", Library.AsOf.Version(3))
    assert(v2 > 3 && lib.read("s").count() == 160, "restore resurrects")

    // restoring a tombstone version itself refuses
    lib.write("t", mk(0, 5), Some("ts2"))
    lib.delete("t")
    intercept[IllegalArgumentException](
      lib.restoreVersion("t", Library.AsOf.Version(1)))
  }

  test("sizes/sizesBySymbol census layers like admin_tools.get_sizes") {
    val lib = newLib()
    lib.write("a", mk(0, 100), Some("ts2"), targetRows = 50) // 2 data files
    lib.append("a", mk(100, 150)) // +1 version, +1 data file
    lib.createColumnStats("a", Seq("v")) // stats sidecar
    lib.stage("b", mk(0, 30)) // staged-only symbol
    lib.snapshot("snap1")
    val by = lib.sizesBySymbol().collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    assert(by(("a", "version"))._1 == 2, "two version manifests")
    // file count is layout-dependent (range partitioning); the census
    // must agree with what the union of manifests actually references
    val refd = lib.listVersions("a")
      .flatMap(v => lib.manifest("a", v).files.map(_.path)).toSet
    assert(by(("a", "data"))._1 == refd.size && by(("a", "data"))._2 > 0)
    assert(by(("a", "stats"))._1 == 1)
    assert(by(("a", "staged"))._1 == 0)
    assert(by(("b", "staged"))._1 >= 1 && by(("b", "staged"))._2 > 0)
    assert(by(("", "snapshot"))._1 == 1)
    // the rollup always carries every layer, zeros included
    val tot = lib.sizes().collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(tot.keySet ==
      Set("version", "data", "stats", "staged", "snapshot"))
    assert(tot("data")._1 == refd.size && tot("snapshot")._1 == 1)
    assert(tot("data")._2 ==
      by(("a", "data"))._2 + by(("b", "data"))._2, "bytes roll up exactly")

    // delete(versions) leaves a _highwater watermark in _versions/ —
    // the version layer counts MANIFESTS (the unit listVersions agrees
    // with), never bookkeeping markers
    lib.delete("a", Seq(0))
    val after = lib.sizesBySymbol().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(after(("a", "version")) == lib.listVersions("a").size.toLong,
      "census version count must equal listVersions, markers excluded")
  }

  test("withQueryStats censuses every pruning tier truthfully") {
    val lib = newLib()
    // 400 rows in 4 index-contiguous 100-row files: ts2 in [0,100),
    // [100,200), [200,300), [300,400)
    lib.write("s", mk(0, 400), Some("ts2"), targetRows = 100)
    assert(lib.resolveVersion("s").files.size == 4, "layout premise")

    // range pruning: dateRange [150, 250] overlaps files 1 and 2 only
    val (df1, st1) = lib.withQueryStats {
      lib.read("s", dateRange = Some((150L, 250L)))
    }
    assert(st1.size == 1)
    val r1 = st1.head
    assert(r1.filesTotal == 4 && r1.prunedByRange == 2 &&
      r1.prunedByStats == 0 && r1.prunedByExpr == 0 && r1.filesRead == 2 &&
      r1.rowsRead == 200 && r1.rowsTotal == 400 && r1.filesListed == 0,
      s"range census: $r1")
    assert(df1.count() == 101) // the exact row filter still ran

    // expression pruning: ts2 < 100 keeps only file 0; an unfiltered
    // read in the same scope records a second, prune-free row
    val (_, st2) = lib.withQueryStats {
      lib.read("s", exprFilter =
        Some(graft.query.Expr.col("ts2") < graft.query.Expr.lit(100L)))
      lib.read("s")
    }
    assert(st2.size == 2)
    assert(st2.head.prunedByExpr == 3 && st2.head.filesRead == 1 &&
      st2.head.rowsRead == 100, s"expr census: ${st2.head}")
    assert(st2(1).filesRead == 4 && st2(1).prunedByRange == 0 &&
      st2(1).prunedByExpr == 0)
    // a manifest that records file sizes plans every read without listing
    assert(st2.forall(_.filesListed == 0), s"files listed: $st2")

    // the frame renders in read order with the documented columns
    val f = lib.queryStatsFrame(st2)
    assert(f.columns.toSeq == Seq("symbol", "version", "files_total",
      "pruned_by_range", "pruned_by_stats", "pruned_by_expr", "files_read",
      "rows_read", "rows_total", "files_listed"))
    assert(f.count() == 2)

    // nesting refused, reference-style; the scope still unwinds
    intercept[IllegalArgumentException] {
      lib.withQueryStats(lib.withQueryStats(lib.read("s")))
    }
    val (_, st3) = lib.withQueryStats(lib.read("s"))
    assert(st3.size == 1, "scope must unwind after the nesting refusal")

    // the collector is process-global per thread: reads through ANOTHER
    // Library handle (Graft.getLibrary returns a fresh instance per
    // call) land in the active scope instead of silently vanishing
    val other = new Library(lib.root, spark)
    val (_, st4) = lib.withQueryStats(other.read("s"))
    assert(st4.size == 1 && st4.head.filesRead == 4,
      "a read through a second handle must be censused, not dropped")
  }

  test("withQueryStats captures batch-pool reads: N symbols -> N rows == per-read sum") {
    val lib = newLib()
    val syms = (0 until 5).map(i => s"b$i")
    syms.foreach(s => lib.write(s, mk(0, 200), Some("ts2"), targetRows = 100))
    // pooled batch read (the ReadRequest variant dispatches through
    // inParallel) under an active scope: the collector is handed to the
    // pool workers explicitly, so the N-symbol batch must census exactly
    // the N rows the per-read loop would — an empty census here was the
    // documented r18 asymmetry (VERDICT #4)
    val (res, st) = lib.withQueryStats {
      lib.readBatch(syms.map(s => Library.ReadRequest(s)))
    }
    assert(res.forall(_.isInstanceOf[Library.BatchOk[_]]))
    assert(st.size == syms.size, s"expected ${syms.size} census rows, got ${st.size}")
    // rows arrive in REQUEST order (merged per task after the barrier)
    assert(st.map(_.symbol) == syms, st.map(_.symbol).mkString(","))
    val loop = syms.map { s =>
      val (_, one) = lib.withQueryStats(lib.read(s))
      one.head
    }
    assert(st == loop, "batch census must equal the per-read sum")
    // a pruned batch read censuses its pruning like a direct read
    val (_, st2) = lib.withQueryStats {
      lib.readBatch(syms.take(2).map(s =>
        Library.ReadRequest(s, dateRange = Some((0L, 99L)))))
    }
    assert(st2.size == 2 && st2.forall(r =>
      r.filesTotal == 2 && r.prunedByRange == 1 && r.filesRead == 1), st2)
    // readBatchAndJoin (pooled under the hood) is censused too
    val (_, st3) = lib.withQueryStats(lib.readBatchAndJoin(syms))
    assert(st3.size == syms.size, s"readBatchAndJoin census: ${st3.size}")
    // scope must unwind cleanly after a batch with a failed item, and
    // the failed item doesn't poison its siblings' census
    val mixed = lib.withQueryStats {
      lib.readBatch(Seq("b0", "nope", "b1").map(s => Library.ReadRequest(s)))
    }
    assert(mixed._1.count(_.isInstanceOf[Library.DataError]) == 1)
    assert(mixed._2.map(_.symbol) == Seq("b0", "b1"),
      "missing symbol fails before plan time: no census row, siblings intact")
  }

  test("GC read grace: condemn first, hard-delete only after the window") {
    val lib = new Library(
      java.nio.file.Files.createTempDirectory("graft-gcgrace-").toString,
      spark, LibraryOptions(gcGraceMs = 60L * 1000))
    lib.write("s", mk(0, 10), Some("ts2")) // v0
    val v0paths = lib.resolveVersion("s").files.map(_.path)
    lib.write("s", mk(0, 20), Some("ts2")) // v1 full overwrite: v0 files doomed
    val v1paths = lib.resolveVersion("s").files.map(_.path).toSet
    val doomed = v0paths.filterNot(v1paths)
    assert(doomed.nonEmpty)
    val dataRoot = new java.io.File(lib.root, "s/data")
    def f(rel: String) = new java.io.File(dataRoot, rel)
    def marker(rel: String) =
      new java.io.File(f(rel).getParentFile, "_CONDEMNED_" + f(rel).getName)

    // phase 1: prune condemns but must NOT delete — a concurrent reader
    // that resolved v0 pre-prune is still scanning these files
    lib.prunePreviousVersions("s")
    doomed.foreach { p =>
      assert(f(p).exists, s"$p hard-deleted inside the read-grace window")
      assert(marker(p).exists, s"no condemned marker for $p")
    }
    // a repeat GC inside the window is idempotent: still condemned
    lib.prunePreviousVersions("s")
    doomed.foreach(p => assert(f(p).exists && marker(p).exists))

    // phase 2: age the markers past the window → next GC hard-deletes
    val old = System.currentTimeMillis() - 2L * 60 * 1000
    doomed.foreach(p => marker(p).setLastModified(old))
    lib.prunePreviousVersions("s")
    doomed.foreach { p =>
      assert(!f(p).exists, s"$p survived past its grace window")
      assert(!marker(p).exists, s"marker for $p survived its file")
    }
    // referenced files untouched throughout; content intact
    v1paths.foreach(p => assert(f(p).exists))
    assert(lib.read("s").count() == 20)
  }

  test("GC spares delta dirs protected by a fresh in-flight marker") {
    val lib = newLib()
    lib.write("s", mk(0, 10), Some("ts2"))
    lib.write("s", mk(0, 20), Some("ts2")) // v1; v0 now prunable
    // plant an unreferenced delta dir as a concurrent finalizeStaged
    // would mid-flight: marker first, then the dir
    val root = new java.io.File(lib.root, "s/data")
    val marker = new java.io.File(root, "_INFLIGHT_v00099_d1")
    val dir = new java.io.File(root, "v00099_d1")
    java.nio.file.Files.writeString(marker.toPath, "")
    dir.mkdirs()
    java.nio.file.Files.writeString(new java.io.File(dir, "part-0.parquet").toPath, "x")
    lib.prunePreviousVersions("s")
    assert(dir.listFiles().nonEmpty, "fresh in-flight dir must survive GC")
    // stale marker (crashed finalize): protection lapses, orphans collect
    marker.setLastModified(System.currentTimeMillis() - 2L * 60 * 60 * 1000)
    lib.write("s", mk(0, 30), Some("ts2"))
    lib.prunePreviousVersions("s")
    assert(!dir.exists(), "stale in-flight dir must be collected")
    assert(!marker.exists(), "stale marker must be removed")
  }

  test("listSymbols snapshot/regex scoping and listVersionsInfo membership") {
    val lib = newLib()
    lib.write("alpha", mk(0, 10), Some("ts2"))
    lib.write("beta", mk(0, 10), Some("ts2"))
    lib.write("alpha2", mk(0, 10), Some("ts2"))
    lib.snapshot("snap", symbols = Seq("alpha", "beta")) // pins v0 of each
    lib.append("alpha", mk(10, 15)) // alpha v1
    lib.delete("beta") // tombstone v1

    assert(lib.listSymbols() == Seq("alpha", "alpha2"))
    assert(lib.listSymbols(snapshotName = Some("snap")) == Seq("alpha", "beta"))
    assert(lib.listSymbols(regex = Some("^alpha$")) == Seq("alpha"))
    assert(lib.listSymbols(regex = Some("alpha")) == Seq("alpha", "alpha2"))

    val vi = lib.listVersionsInfo(symbol = Some("alpha"))
    assert(vi.map(_.version) == Seq(0, 1))
    assert(vi.head.snapshots == Seq("snap") && vi(1).snapshots.isEmpty)
    val bv = lib.listVersionsInfo(symbol = Some("beta"))
    assert(bv.map(_.deleted) == Seq(false, true))
    assert(bv.head.snapshots == Seq("snap"))
    assert(lib.listVersionsInfo(snapshot = Some("snap"))
      .map(i => (i.symbol, i.version)).toSet == Set(("alpha", 0), ("beta", 0)))
    assert(lib.listVersionsInfo(latestOnly = true)
      .map(i => (i.symbol, i.version)).toSet ==
      Set(("alpha", 1), ("alpha2", 0), ("beta", 1)))
  }

  test("getInfo carries index kind, sortedness and date range per version") {
    val lib = newLib()
    lib.write("s", mk(0, 100), Some("ts2"), targetRows = 50)
    val i0 = lib.getInfo("s")
    assert(i0.indexType == "index" && i0.sortedStatus == "ASCENDING")
    assert(i0.columnCount == 2 && i0.rowCount == 100)
    assert(i0.dateRange.contains((0L, 99L)))
    lib.append("s", mk(100, 150))
    val i1 = lib.getInfo("s")
    assert(i1.version == 1 && i1.rowCount == 150 && i1.dateRange.contains((0L, 149L)))
    assert(lib.getInfo("s", AsOf.Version(0)).rowCount == 100)
    lib.write("t", mk(0, 10).select("v")) // no index
    val it = lib.getInfo("t")
    assert(it.indexType == "NA" && it.sortedStatus == "UNKNOWN" && it.dateRange.isEmpty)
  }

  test("negative as_of indexes the live history from the end") {
    val lib = newLib()
    def one(v: Int) = Seq((v.toLong, v)).toDF("ts2", "v")
    lib.write("s", one(0), Some("ts2"))    // v0
    lib.append("s", one(1))                // v1
    lib.append("s", one(2))                // v2
    assert(lib.resolveVersion("s", AsOf.Version(-1)).version == 2)
    assert(lib.resolveVersion("s", AsOf.Version(-3)).version == 0)
    // hard-delete v1: -2 now skips the missing number and lands on v0
    lib.delete("s", Seq(1))
    assert(lib.resolveVersion("s", AsOf.Version(-1)).version == 2)
    assert(lib.resolveVersion("s", AsOf.Version(-2)).version == 0)
    // tombstones are skipped too: soft delete adds v3 (deleted=true)
    lib.delete("s")
    assert(lib.resolveVersion("s", AsOf.Version(-1)).version == 2)
    assert(lib.resolveVersion("s", AsOf.Version(-2)).version == 0)
    intercept[NoSuchElementException](lib.resolveVersion("s", AsOf.Version(-3)))
  }

  test("delta manifests: appends commit O(new files), chains checkpoint, deletes materialize") {
    val lib = newLib()
    val root = new java.io.File(lib.root)
    def storedJson(v: Int): String = {
      val p = new java.io.File(root, f"s/_versions/v$v%05d.json")
      new String(java.nio.file.Files.readAllBytes(p.toPath), "UTF-8")
    }
    def stored(v: Int) = graft.core.VersionManifest.fromJson(storedJson(v))
    def df(lo: Int, hi: Int) =
      spark.range(lo, hi).select(col("id").as("k"), (col("id") * 2).as("v"))
    // base: enough files that delta encoding engages (>= 64 entries)
    lib.write("s", df(0, 6500), Some("k"), targetRows = 100)
    assert(stored(0).baseVersion.isEmpty && stored(0).files.size >= 64)
    // 20 appends: each stored manifest is a small delta, never the full list
    (1 to 20).foreach(i => lib.append("s", df(6500 + (i - 1) * 100, 6500 + i * 100)))
    val deltas = (1 to 20).map(stored)
    // every append stores a delta, except the periodic full checkpoint
    // that bounds chain length (v17 here: depth hits MaxManifestChain)
    assert(deltas.filter(_.baseVersion.isDefined).forall(_.files.isEmpty))
    assert(deltas.count(_.baseVersion.isEmpty) == 1, "exactly one checkpoint in 20 appends")
    assert(deltas(16).baseVersion.isEmpty && deltas(16).files.nonEmpty,
      "the checkpoint stores the full list")
    assert(deltas.filter(_.baseVersion.isDefined).forall(d =>
      d.addedFiles.nonEmpty && d.addedFiles.size <= 3 && d.removedPaths.isEmpty))
    // a delta-stored version's stored size stays KBs while logical grows
    assert(storedJson(10).length < storedJson(0).length / 4,
      s"delta ${storedJson(10).length}B vs full ${storedJson(0).length}B")
    // logical reads resolve chains: every historical version is intact
    assert(lib.read("s", AsOf.Version(0)).count() == 6500)
    assert(lib.read("s", AsOf.Version(7)).count() == 7200)
    assert(lib.read("s").count() == 8500)
    // hard-deleting versions inside the chain materializes dependents
    lib.delete("s", Seq(3, 4, 5))
    assert(lib.read("s", AsOf.Version(7)).count() == 7200)
    assert(lib.read("s").count() == 8500)
    // fresh handle (cold cache) must agree — the stored form is complete
    val lib2 = new Library(lib.root, spark)
    assert(lib2.read("s", AsOf.Version(7)).count() == 7200)
    assert(lib2.read("s", AsOf.Version(20)).count() == 8500)
    // prune keeps only latest; reads still fine afterwards
    lib.prunePreviousVersions("s")
    assert(lib.read("s").count() == 8500)
    val lib3 = new Library(lib.root, spark)
    assert(lib3.read("s").count() == 8500)
  }

  test("multi-index flatten/restore round-trips through write/read with pruning intact") {
    import graft.core.MultiIndex
    val df = spark.range(0, 1000)
      .select(col("id").as("k"), (col("id") % 7).as("sym"), (col("id") * 1.5).as("v"))
    val flat = MultiIndex.flatten(df, Seq("k", "sym"))
    assert(flat.columns.toSeq == Seq("k", "__idx__sym", "v"))
    assert(MultiIndex.secondaryLevels(flat.schema) == Seq("sym"))
    val lib = newLib()
    lib.write("m", flat, Some("k"), targetRows = 100)
    // level 0 is still THE index: a range read prunes files as usual
    val got = lib.read("m", dateRange = Some((200L, 399L)))
    assert(scannedFiles(got) < 10, "date-range must prune to a file subset")
    val back = MultiIndex.restore(got)
    assert(back.columns.toSeq == Seq("k", "sym", "v"))
    assert(back.count() == 200)
    assert(back.filter(col("sym") === (205 % 7) && col("k") === 205).count() == 1)
    // restore refuses a collision with a plain column
    val clash = flat.withColumn("sym", lit(1))
    intercept[IllegalArgumentException](MultiIndex.restore(clash))
    // flatten requires every named level to exist
    intercept[IllegalArgumentException](MultiIndex.flatten(df, Seq("k", "nope")))
  }

  test("array (Dim1) columns round-trip: ragged, empty, null rows, NaN elements") {
    // reference: test_array_column_type.py (TestNonEmptyArrays /
    // TestEmptyArrays): per-cell arrays of int/float widths, ragged
    // shapes, None rows and NaN elements all survive write -> read
    val lib = newLib()
    val rows = Seq(
      (1L, Seq(1.0f, 2.0f, 3.0f)),
      (2L, Seq(1.0f)),
      (3L, Seq.empty[Float]),
      (5L, Seq(Float.NaN, 0.5f))
    ).toDF("k", "vec")
      .union(Seq((4L, null.asInstanceOf[Seq[Float]])).toDF("k", "vec"))
    lib.write("arr", rows, Some("k"))
    val back = lib.read("arr").orderBy("k")
      .collect().map(r => (r.getLong(0), Option(r.getSeq[Float](1))))
    assert(back.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L, 5L))
    assert(back(0)._2.get == Seq(1.0f, 2.0f, 3.0f))
    assert(back(1)._2.get == Seq(1.0f))
    assert(back(2)._2.get.isEmpty, "empty array stays empty, not null")
    assert(back(3)._2.isEmpty, "null row stays null, not empty")
    assert(back(4)._2.get(0).isNaN && back(4)._2.get(1) == 0.5f)
  }

  test("array columns: append, update splice, and as-of all preserve cells") {
    val lib = newLib()
    val v0 = lib.write("av", Seq((1L, Seq(1, 2)), (2L, Seq(3))).toDF("k", "vec"), Some("k"))
    lib.append("av", Seq((3L, Seq(4, 5, 6))).toDF("k", "vec"))
    // splice-update row 2's array in place
    lib.update("av", Seq((2L, Seq(30, 31))).toDF("k", "vec"))
    val latest = lib.read("av").orderBy("k")
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1).toSeq))
    assert(latest.toSeq == Seq(1L -> Seq(1, 2), 2L -> Seq(30, 31), 3L -> Seq(4, 5, 6)))
    // as-of the initial version still serves the original cells
    val v1 = lib.read("av", AsOf.Version(v0)).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1).toSeq))
    assert(v1.toSeq == Seq(1L -> Seq(1, 2), 2L -> Seq(3)))
  }

  test("dynamic schema with arrays: null backfill both directions, element promotion") {
    val lib = newLib()
    lib.write("dyn", Seq((1L, Seq(1, 2))).toDF("k", "vec"), Some("k"))
    // appended frame LACKS the array column -> backfills NULL (the
    // reference's 'everything else -> None' default, library.py:1069),
    // and brings a new long column that backfills 0 on the OLD rows
    lib.append("dyn", Seq((2L, 7L)).toDF("k", "n"), dynamicSchema = true)
    val got = lib.read("dyn").orderBy("k")
      .collect().map(r => (r.getLong(0), Option(r.getSeq[Int](1)), r.getLong(2)))
    assert(got.toSeq == Seq((1L, Some(Seq(1, 2)), 0L), (2L, None, 7L)))
    // element types promote like scalars: int array + long array -> long
    lib.append("dyn", Seq((3L, Seq(9L), 1L)).toDF("k", "vec", "n"),
      dynamicSchema = true)
    val sch = lib.read("dyn").schema("vec").dataType
    assert(sch == org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.LongType), sch.toString)
    val prom = lib.read("dyn").orderBy("k")
      .collect().map(r => (r.getLong(0), Option(r.getSeq[Long](1))))
    assert(prom.toSeq == Seq((1L, Some(Seq(1L, 2L))), (2L, None), (3L, Some(Seq(9L)))))
  }

  test("array vs scalar is a loud error, matching the reference's refusal") {
    // reference: TestFailure.test_cannot_append_scalar_to_array / inverse
    val lib = newLib()
    lib.write("strict", Seq((1L, Seq(1, 2))).toDF("k", "vec"), Some("k"))
    intercept[IllegalArgumentException] {
      lib.append("strict", Seq((2L, 5)).toDF("k", "vec"), dynamicSchema = true)
    }
    lib.write("strict2", Seq((1L, 5)).toDF("k", "vec"), Some("k"))
    intercept[IllegalArgumentException] {
      lib.append("strict2", Seq((2L, Seq(1, 2))).toDF("k", "vec"),
        dynamicSchema = true)
    }
  }

  test("readOpen: open-ended bounds still prune manifest files on the present side") {
    // reference library.py:2022: date_range=(None, t1) / (t0, None)
    val lib = newLib()
    lib.write("ev", events, Some("ts"), targetRows = 250)
    val all = lib.read("ev").inputFiles.length
    assert(all >= 4, s"expected multi-file symbol, got $all")
    // a cut strictly inside the second file (3/8 of the rows): each open
    // side must touch a strict subset of files
    val cutUs = events.select(tsUs.as("tus")).orderBy(col("tus"))
      .limit((events.count() * 3 / 8).toInt).agg(max(col("tus"))).head.getLong(0)
    val cutNs = cutUs * 1000L
    val head = lib.readOpen("ev", None, Some(cutNs))
    val tail = lib.readOpen("ev", Some(cutNs), None)
    assert(head.inputFiles.length <= all / 2,
      s"(None, t1) touched ${head.inputFiles.length} of $all files")
    assert(tail.inputFiles.length < all,
      s"(t0, None) touched ${tail.inputFiles.length} of $all files")
    // row semantics: inclusive bounds, complementary cover with overlap
    // exactly at the cut
    val n = events.count()
    val hn = head.count(); val tn = tail.count()
    val atCut = events.filter(tsUs === cutUs).count()
    assert(hn + tn == n + atCut, s"$hn + $tn vs $n + $atCut")
    // (None, None) degenerates to the full read
    assert(lib.readOpen("ev", None, None).count() == n)
  }

  test("diff reads only non-shared files; append/update/no-op diffs are exact") {
    val lib = newLib()
    val ev = events.limit(600)
    lib.write("ev", ev, Some("ts"), targetRows = 100) // v0: several files
    val extra = events.orderBy(org.apache.spark.sql.functions.desc("ts")).limit(50)
      .withColumn("value", col("value") + 0.5)
    lib.append("ev", extra, validateIndex = false, targetRows = 100) // v1

    // manifest-aware scan: an append's diff must read ONLY the appended
    // files — none of v0's files appear in the scan
    val d01 = lib.diff("ev", Library.AsOf.Version(0), Library.AsOf.Version(1))
    val v0Files = lib.resolveVersion("ev", Library.AsOf.Version(0))
      .files.map(_.path.split('/').last).toSet
    val scanned = d01.inputFiles.map(_.split('/').last).toSet
    assert(scanned.intersect(v0Files).isEmpty,
      s"diff scanned shared v0 files: ${scanned.intersect(v0Files)}")
    // content: '+' the appended bag, no '-'
    assert(d01.filter(col("op") === "-").isEmpty)
    val added = d01.filter(col("op") === "+").drop("op")
    assert(added.count() == 50 &&
      added.exceptAll(extra).isEmpty && extra.exceptAll(added).isEmpty)

    // self-diff is empty; reversed diff flips ops
    assert(lib.diff("ev", Library.AsOf.Version(1), Library.AsOf.Version(1)).isEmpty)
    val d10 = lib.diff("ev", Library.AsOf.Version(1), Library.AsOf.Version(0))
    assert(d10.filter(col("op") === "+").isEmpty &&
      d10.filter(col("op") === "-").count() == 50)

    // update splice: '-' the originals in range, '+' the patch; rows the
    // rewrite preserved cancel under bag semantics
    val mid = lib.resolveVersion("ev").files(2)
    val (lo, hi) = (mid.minIdx.get, mid.maxIdx.get)
    val patch = ev.filter(col("ts").between(usL(lo), usL(hi)))
      .withColumn("value", col("value") + 9999)
    lib.update("ev", patch, targetRows = 100) // v2
    val d12 = lib.diff("ev", Library.AsOf.Version(1))
    val minus = d12.filter(col("op") === "-").drop("op")
    val plus = d12.filter(col("op") === "+").drop("op")
    val orig = ev.filter(col("ts").between(usL(lo), usL(hi)))
    assert(minus.exceptAll(orig).isEmpty && orig.exceptAll(minus).isEmpty)
    assert(plus.exceptAll(patch).isEmpty && patch.exceptAll(plus).isEmpty)
  }

  /** Manifest-relative paths (`dir/part-…`) of a frame's scanned files. */
  private def scannedEntries(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.inputFiles.toSeq.map(p => p.substring(p.lastIndexOf("/data/") + "/data/".length)).sorted

  test("reads plan from the manifest: no listing job above the discovery threshold") {
    import graft.query.Expr.{col => e, lit => l}
    val lib = newLib()
    val df = mk(0, 600)
    lib.write("s", df, Some("ts2"), targetRows = 10)
    val m = lib.resolveVersion("s")
    assert(m.files.size > 32, s"premise: more files than Spark lists serially, got ${m.files.size}")
    // every entry records the file's real size and mtime
    val dataDir = new org.apache.hadoop.fs.Path(lib.root, "s/data")
    val fsys = dataDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    m.files.foreach { f =>
      val st = fsys.getFileStatus(new org.apache.hadoop.fs.Path(dataDir, f.path))
      assert(f.bytes.contains(st.getLen) && f.mtimeMs.contains(st.getModificationTime),
        s"recorded status of ${f.path}: ${f.bytes}/${f.mtimeMs} vs ${st.getLen}/${st.getModificationTime}")
    }
    // premise: handing the same paths to spark.read lists them in a job
    val paths = m.files.map(f => new org.apache.hadoop.fs.Path(dataDir, f.path).toString)
    assert(jobsDuring(spark.read.schema(df.schema).parquet(paths: _*))._2 >= 1,
      "premise: a plain parquet read of these paths fires a listing job")

    val ((full, st), jobs) = jobsDuring(lib.withQueryStats(lib.read("s")))
    assert(jobs == 0, s"building a full read fired $jobs Spark jobs")
    assert(st.map(_.filesListed) == Seq(0), s"sized manifest listed files: $st")
    assert(scannedEntries(full) == m.files.map(_.path).sorted)
    assert(full.count() == 600 && full.exceptAll(df).isEmpty && df.exceptAll(full).isEmpty)

    // dateRange: the range-selected files, still > 32, still no job
    val ((ranged, rst), rJobs) =
      jobsDuring(lib.withQueryStats(lib.read("s", dateRange = Some((100L, 499L)))))
    assert(rJobs == 0, s"building a ranged read fired $rJobs Spark jobs")
    val hit = m.files.filter(f => f.maxIdx.get >= 100L && f.minIdx.get <= 499L)
    assert(hit.size > 32 && rst.head.filesRead == hit.size && rst.head.filesListed == 0)
    assert(scannedEntries(ranged) == hit.map(_.path).sorted)
    val want = df.filter(col("ts2").between(100L, 499L))
    assert(ranged.count() == 400 && ranged.exceptAll(want).isEmpty)

    // readQuery: expression pruning, then the clause pipeline
    val q = graft.query.QueryBuilder().filter(e("ts2") >= l(200L))
    val ((qd, qst), qJobs) = jobsDuring(lib.withQueryStats(lib.readQuery("s", q)))
    assert(qJobs == 0, s"building a readQuery fired $qJobs Spark jobs")
    assert(qst.head.filesListed == 0 && qst.head.filesRead > 32)
    assert(qd.count() == 400 && qd.exceptAll(df.filter(col("ts2") >= 200L)).isEmpty)
  }

  test("a manifest naming a deleted data file throws, never reads short") {
    val lib = newLib()
    lib.write("s", mk(0, 400), Some("ts2"), targetRows = 100) // 4 files
    val m = lib.resolveVersion("s")
    val victim = new org.apache.hadoop.fs.Path(lib.root, s"s/data/${m.files(1).path}")
    assert(victim.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(victim, false))
    // the seeded scan plans without touching storage, so the loss
    // surfaces at the action — as an error, for every action shape
    val df = lib.read("s")
    val e1 = intercept[Exception](df.collect())
    assert(String.valueOf(e1.getMessage).contains(victim.getName) ||
      String.valueOf(e1.getCause).contains(victim.getName), e1.toString)
    intercept[Exception](df.count())
    intercept[Exception](lib.read("s", columns = Some(Seq("v"))).collect())
    intercept[Exception](lib.tail("s", 250).collect())
  }
}

/** A local filesystem whose `exists` runs a one-shot hook (see
  * LibrarySpec's `withRaceOn`) before answering.
  */
class RaceHookFs extends org.apache.hadoop.fs.LocalFileSystem {
  override def exists(p: org.apache.hadoop.fs.Path): Boolean = {
    val armed = RaceHookFs.armed.get
    if (armed != null && p.getName == armed._1 && RaceHookFs.armed.compareAndSet(armed, null))
      armed._2()
    super.exists(p)
  }
}

object RaceHookFs {
  val armed = new java.util.concurrent.atomic.AtomicReference[(String, () => Unit)]()
}
