package graft

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.Dedup

/** Brute-force ground truth for the dedup operators on the sf0.001
  * documents table: shingle sets, exact Jaccard and the minhash/simhash
  * signatures are independently recomputed with plain driver-side Scala
  * (same normalization, Spark's XXH64 via its static API), then compared
  * against the distributed plans' output.
  */
class DedupGroundTruthSpec extends SparkSuite {
  import spark.implicits._

  private val Seed = 42L // Spark xxhash64 default seed

  private def normalize(s: String): String =
    s.toLowerCase.replaceAll("[^a-z0-9 ]", "").replaceAll(" +", " ").trim

  private def shingleSet(text: String, n: Int): Set[String] = {
    val toks = normalize(text).split(" ", -1)
    if (toks.length < n) Set.empty
    else toks.sliding(n).map(_.mkString(" ")).toSet
  }

  /** Driver-side replica of Spark's xxhash64(lit(seed), s). */
  private def xx(seedLit: Int, s: String): Long =
    XXH64.hashUTF8String(UTF8String.fromString(s), XXH64.hashInt(seedLit, Seed))

  private def xx(s: String): Long =
    XXH64.hashUTF8String(UTF8String.fromString(s), Seed)

  private lazy val docs: Map[Long, String] =
    spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").as[(Long, String)].collect().toMap

  private lazy val truthSets: Map[Long, Set[String]] =
    docs.map { case (id, t) => id -> shingleSet(t, 3) }

  private def jaccard(a: Set[String], b: Set[String]): Double =
    if ((a ++ b).isEmpty) 0.0 else (a & b).size.toDouble / (a ++ b).size

  private lazy val truePairs: Map[(Long, Long), Double] = {
    val ids = truthSets.keys.toSeq.sorted
    (for {
      i <- ids.indices; j <- (i + 1) until ids.size
      ja = jaccard(truthSets(ids(i)), truthSets(ids(j)))
      if ja > 0
    } yield (ids(i), ids(j)) -> ja).toMap
  }

  test("shinglePostings matches driver-side shingle sets exactly") {
    val df = spark.read.parquet(s"$sf/documents.parquet")
    val got = Dedup.shinglePostings(df, "doc_id", "text", 3)
      .as[(Long, String, Long)].collect()
    val gotSets = got.groupBy(_._1).map { case (id, rows) => id -> rows.map(_._2).toSet }
    val expected = truthSets.filter(_._2.nonEmpty)
    assert(gotSets == expected)
    // and every row's sz equals the doc's distinct-shingle count
    got.foreach { case (id, _, sz) => assert(sz == truthSets(id).size) }
  }

  test("shinglePostings edge cases: short and empty docs yield no shingles") {
    val tiny = Seq((1L, "one two"), (2L, ""), (3L, "a b c"), (4L, "!!! ...")).toDF("id", "text")
    val got = Dedup.shinglePostings(tiny, "id", "text", 3).as[(Long, String, Long)].collect()
    assert(got.toSeq == Seq((3L, "a b c", 1L)))
  }

  test("ngramJaccardPairs equals brute-force pairs at threshold 0.2") {
    val df = spark.read.parquet(s"$sf/documents.parquet")
    val got = Dedup.ngramJaccardPairs(df, "doc_id", "text", 3, 0.2)
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    val expected = truePairs.collect {
      case (k, j) if BigDecimal(j).setScale(6, BigDecimal.RoundingMode.HALF_UP) >= 0.2 =>
        k -> BigDecimal(j).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    assert(got.keySet == expected.keySet)
    got.foreach { case (k, j) => assert(math.abs(j - expected(k)) < 1e-6) }
  }

  test("ngramJaccardPairs: dense-tile and aggregate strategies agree exactly") {
    val df = spark.read.parquet(s"$sf/documents.parquet")
    def run(dense: Boolean) =
      Dedup.ngramJaccardPairsImpl(df, "doc_id", "text", 3, 0.2,
        maxDocFreq = 0, forceDense = Some(dense))
        .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    val denseOut = run(dense = true)
    val aggOut = run(dense = false)
    assert(denseOut == aggOut)
    assert(denseOut.nonEmpty, "vacuous: no pairs at threshold 0.2")
    // and with a doc-frequency cap both paths drop the same buckets
    def runCapped(dense: Boolean) =
      Dedup.ngramJaccardPairsImpl(df, "doc_id", "text", 3, 0.1,
        maxDocFreq = 3, forceDense = Some(dense))
        .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(runCapped(dense = true) == runCapped(dense = false))
  }

  test("prefix-filtered path agrees with dense and incidence at every threshold") {
    // the prefix path is a PHYSICAL optimization (100% recall by the
    // smallest-shared-shingle argument), so it must match the other two
    // strategies bit-for-bit at ANY threshold — including below its own
    // dispatch cutoff — and under a doc-frequency cap
    val df = spark.read.parquet(s"$sf/documents.parquet")
    def run(threshold: Double, cap: Long, dense: Option[Boolean],
        prefix: Option[Boolean]) =
      Dedup.ngramJaccardPairsImpl(df, "doc_id", "text", 3, threshold,
        maxDocFreq = cap, forceDense = dense, forcePrefix = prefix)
        .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    for (t <- Seq(0.2, 0.5, 0.8)) {
      val viaPrefix = run(t, 0, Some(false), Some(true))
      val viaAgg = run(t, 0, Some(false), Some(false))
      val viaDense = run(t, 0, Some(true), None)
      assert(viaPrefix == viaAgg, s"prefix vs agg at t=$t")
      assert(viaPrefix == viaDense, s"prefix vs dense at t=$t")
    }
    assert(run(0.2, 0, Some(false), Some(true)).nonEmpty, "vacuous at 0.2")
    // capped: over-frequent shingles leave the universe in both paths
    assert(run(0.1, 3, Some(false), Some(true)) ==
      run(0.1, 3, Some(false), Some(false)))
    // tiny-set edge: single-shingle docs (n=1 -> prefix length 1)
    val tiny = Seq((1L, "a b c"), (2L, "a b c"), (3L, "x y z"), (4L, "a b d"))
      .toDF("doc_id", "text")
    val gotTiny = Dedup.ngramJaccardPairsImpl(tiny, "doc_id", "text", 3, 0.9,
      maxDocFreq = 0, forceDense = Some(false), forcePrefix = Some(true))
      .as[(Long, Long, Double)].collect().toSeq
    assert(gotTiny == Seq((1L, 2L, 1.0)))
  }

  test("blocked path handles docs spread across many blocks (tiny corpus)") {
    // 40 docs force the 8-block parallelism floor: every tile shape
    // (diagonal, cross, absent) occurs, and several near-dup pairs span
    // blocks. Ground truth recomputed driver-side.
    val docs = (0L until 40L).map { i =>
      val base = s"alpha bravo charlie delta echo foxtrot golf hotel item$i"
      val text = if (i % 4 == 0) base + " juliet kilo lima" else base
      (i, text)
    }
    val df = docs.toDF("doc_id", "text")
    val got = Dedup.ngramJaccardPairsImpl(df, "doc_id", "text", 3, 0.3,
      maxDocFreq = 0, forceDense = Some(true))
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    val sets = docs.map { case (id, t) => id -> shingleSet(t, 3) }.toMap
    val expected = (for {
      i <- 0L until 40L; j <- (i + 1) until 40L
      ja = jaccard(sets(i), sets(j))
      jr = BigDecimal(ja).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      if jr >= 0.3
    } yield (i, j) -> jr).toMap
    assert(got.keySet == expected.keySet)
    got.foreach { case (k, j) => assert(math.abs(j - expected(k)) < 1e-6) }
  }

  test("blocked path: near-dup pairs with DISTANT ids cross range blocks") {
    // Range-block assignment (r20) chops sorted ids into contiguous
    // slices: id-neighbor dups land in diagonal tiles, so this corpus
    // plants duplicates between FAR-apart id bands (0..19 vs 10M..10M+19
    // vs 20M..20M+19) — under 8-block range slicing the bands sit in
    // different blocks and every planted pair must cross a tile
    // boundary. Pins cross-tile emission and the id_a < id_b
    // normalization across blocks; ground truth recomputed driver-side.
    val bands = Seq(0L, 10000000L, 20000000L)
    val docs = for { b <- bands; i <- 0L until 20L } yield {
      val id = b + i
      // same text per i across bands -> exact cross-band duplicates;
      // i % 3 == 0 adds band salt so some pairs fall below threshold
      val text =
        if (i % 3 == 0) s"uno dos tres cuatro cinco seis siete band$b item$i"
        else s"uno dos tres cuatro cinco seis siete ocho item$i"
      (id, text)
    }
    val df = docs.toDF("doc_id", "text")
    def run(dense: Boolean) = Dedup.ngramJaccardPairsImpl(
      df, "doc_id", "text", 3, 0.5, maxDocFreq = 0,
      forceDense = Some(dense))
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    val got = run(dense = true)
    val sets = docs.map { case (id, t) => id -> shingleSet(t, 3) }.toMap
    val ids = docs.map(_._1).sorted
    val expected = (for {
      ai <- ids.indices; bi <- (ai + 1) until ids.length
      i = ids(ai); j = ids(bi)
      ja = jaccard(sets(i), sets(j))
      jr = BigDecimal(ja).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      if jr >= 0.5
    } yield (i, j) -> jr).toMap
    assert(expected.exists { case ((a, b), _) => (b - a) >= 10000000L },
      "corpus must plant at least one cross-band pair")
    assert(got.keySet == expected.keySet)
    got.foreach { case (k, j) => assert(math.abs(j - expected(k)) < 1e-6) }
    assert(run(dense = false) == got, "dense and aggregate paths must agree")
  }

  test("repetitionRatio: 0 for unique text, high for template spam") {
    val df = Seq(
      (1L, "a b c a b c a b c"), // 7 positions, 3 distinct → 1 - 3/7
      (2L, "one two three four"), // all distinct → 0
      (3L, "x y"), // too short → 0
      (4L, "")) // empty → 0
      .toDF("doc_id", "text")
    val got = Dedup.repetitionRatio(df, "doc_id", "text", 3)
      .as[(Long, Int, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got(1L) == ((7, BigDecimal(1.0 - 3.0 / 7)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)))
    assert(got(2L) == ((2, 0.0)))
    assert(got(3L) == ((0, 0.0)))
    assert(got(4L) == ((0, 0.0)))
  }

  test("dropExactDuplicates keeps the min-id row per fingerprint") {
    val df = Seq(
      (1L, "Hello, World!"), (2L, "hello world"), // same fingerprint
      (3L, "different"), (4L, "HELLO   world??")) // also the same as 1/2
      .toDF("doc_id", "text")
    val kept = Dedup.dropExactDuplicates(df, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L))
  }

  test("duplicateClusters equals driver-side union-find; dropNearDuplicates keeps canonicals") {
    val df = spark.read.parquet(s"$sf/documents.parquet")
    val pairs = Dedup.ngramJaccardPairs(df, "doc_id", "text", 3, 0.2)
    val pairList = pairs.select("id_a", "id_b").as[(Long, Long)].collect()
    assert(pairList.nonEmpty, "vacuous: no pairs at threshold 0.2")
    // driver union-find
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairList.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = pairList.flatMap(p => Seq(p._1, p._2)).distinct
    val expected = nodes.map(n => n -> find(n)).toMap
    val got = Dedup.duplicateClusters(pairs).as[(Long, Long)].collect().toMap
    assert(got == expected)
    // pipeline: survivors = all docs minus non-canonical near-dups (after
    // exact dedup); every cluster keeps exactly its min id
    val survivors = Dedup.dropNearDuplicates(df, "doc_id", "text", 3, 0.2)
      .select("doc_id").as[Long].collect().toSet
    val exactKept = Dedup.dropExactDuplicates(df, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    val exactPairs = Dedup.ngramJaccardPairs(
      Dedup.dropExactDuplicates(df, "doc_id", "text"), "doc_id", "text", 3, 0.2)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    val p2 = scala.collection.mutable.Map.empty[Long, Long]
    def find2(x: Long): Long = {
      val p = p2.getOrElse(x, x)
      if (p == x) x else { val r = find2(p); p2(x) = r; r }
    }
    exactPairs.foreach { case (a, b) =>
      val (ra, rb) = (find2(a), find2(b))
      if (ra != rb) p2(math.max(ra, rb)) = math.min(ra, rb)
    }
    val losers = exactPairs.flatMap(p => Seq(p._1, p._2)).distinct
      .filter(n => find2(n) != n).toSet
    assert(survivors == exactKept -- losers)
  }

  test("minhash signatures match driver-side recomputation") {
    val df = spark.read.parquet(s"$sf/documents.parquet")
    val k = 12
    val sig = Dedup.minhashSignatures(Dedup.shinglePostings(df, "doc_id", "text", 3), k)
    val got = sig.collect().map(r => r.getLong(0) -> (1 to k).map(r.getLong)).toMap
    truthSets.filter(_._2.nonEmpty).foreach { case (id, set) =>
      val expected = (0 until k).map(seed => set.map(s => xx(seed, s)).min)
      assert(got(id) == expected, s"doc $id")
    }
  }

  test("minhashCandidates recalls every high-similarity pair") {
    val df = spark.read.parquet(s"$sf/documents.parquet")
    val cand = Dedup.minhashCandidates(df, "doc_id", "text")
      .as[(Long, Long)].collect().toSet
    val mustFind = truePairs.collect { case (k, j) if j >= 0.9 => k }.toSet
    assert(mustFind.nonEmpty, "test data has no near-duplicate pairs — test is vacuous")
    // 12 hashes / 4 bands of 3: P(candidate | j=0.9) = 1-(1-0.9^3)^4 ≈ 0.994;
    // the hashes are deterministic so this either holds or the code is wrong.
    assert(mustFind.subsetOf(cand),
      s"missed high-sim pairs: ${mustFind -- cand}")
    // candidate set must stay far from all-pairs (LSH, not O(n²))
    val n = docs.size.toLong
    assert(cand.size < n * (n - 1) / 4)
  }

  test("simhash signatures match driver-side recomputation") {
    val df = spark.read.parquet(s"$sf/documents.parquet")
    val sigs = Dedup.simhashSignatures(Dedup.shinglePostings(df, "doc_id", "text", 3))
      .as[(Long, Long)].collect().toMap
    truthSets.filter(_._2.nonEmpty).foreach { case (id, set) =>
      var expected = 0L
      for (j <- 0 until 64) {
        val c = set.toSeq.map(s => if (((xx(s) >> j) & 1L) == 1L) 1 else -1).sum
        if (c > 0) expected |= (1L << j)
      }
      assert(sigs(id) == expected, s"doc $id")
    }
  }

  test("simhashPairs returns exactly the hamming<=3 pairs of its signatures") {
    val df = spark.read.parquet(s"$sf/documents.parquet")
    val sigs = Dedup.simhashSignatures(Dedup.shinglePostings(df, "doc_id", "text", 3))
      .as[(Long, Long)].collect().toMap
    val got = Dedup.simhashPairs(df, "doc_id", "text")
      .as[(Long, Long, Int)].collect().map { case (a, b, h) => ((a, b), h) }.toMap
    // ground truth from the driver-side signatures (themselves verified
    // against scratch recomputation above): all pairs with hamming <= 3
    // that share at least one 16-bit chunk (the banding guarantee covers
    // hamming <= 3 fully by pigeonhole)
    val ids = sigs.keys.toSeq.sorted
    val expected = (for {
      i <- ids.indices; j <- (i + 1) until ids.size
      h = java.lang.Long.bitCount(sigs(ids(i)) ^ sigs(ids(j)))
      if h <= 3
    } yield ((ids(i), ids(j)), h)).toMap
    assert(got == expected)
  }

  test("simhashPairs maxBucket star-links saturated buckets (bounded, still connected)") {
    // 40 exact clones (identical signature → all four 16-bit chunks land
    // in the same buckets) would emit C(40,2)=780 pairwise edges; with
    // maxBucket=10 the saturated buckets STAR-LINK instead: every clone
    // pairs with the min-id representative only (39 edges — linear in
    // the cluster, so downstream components still merge the whole group)
    // while a small distinct near-dup pair (bucket size 2) is pairwise
    val clones = (0 until 40).map(i =>
      (i.toLong, "spark catalyst optimizes declarative dataframe plans into efficient code"))
    val near = Seq( // identical pair of a DIFFERENT text: its own bucket of 2
      (100L, "entirely different corpus text about gardening tulips in early spring rain"),
      (101L, "entirely different corpus text about gardening tulips in early spring rain"))
    val df = (clones ++ near).toDF("doc_id", "text")
    val capped = Dedup.simhashPairs(df, "doc_id", "text", maxBucket = 10)
      .as[(Long, Long, Int)].collect()
    val clonePairs = capped.filter { case (a, b, _) => a < 100 && b < 100 }
    assert(clonePairs.length == 39 && clonePairs.forall(_._1 == 0L),
      s"saturated buckets must star-link to the min id: got ${clonePairs.length} edges")
    assert(clonePairs.forall(_._3 == 0), "clone star edges are hamming 0")
    assert(capped.exists { case (a, b, _) => a == 100L && b == 101L },
      "small-bucket near-dup pair must survive the cap")
    // uncapped control: the clones pair all-ways without the guard
    val uncapped = Dedup.simhashPairs(df, "doc_id", "text")
      .as[(Long, Long, Int)].collect()
    assert(uncapped.count { case (a, b, _) => a < 100 && b < 100 } == 780)
  }

  test("near-identical mega-cluster past maxBucket: star-linked LSH keeper equals exact") {
    // The planted >maxBucket group (VERDICT r16 #5): 60 near-identical
    // variants of one page (pairwise Jaccard ≈ 0.93, far past the 0.5
    // threshold) plus organic distinct docs. With maxBucket=16 every
    // band bucket of the group saturates — the old DROP semantics
    // emitted zero candidates and silently un-deduped the cluster; the
    // star-link keeps it one component. Keeper decisions must match the
    // exact all-pairs tier exactly: same survivor (best score), same
    // losers.
    val base = (0 until 30).map(w => s"token$w").mkString(" ")
    val mega = (0 until 60).map(i =>
      (i.toLong, s"$base extra$i", 100.0 + (i % 7))) // near-dup, score-varied
    val organic = (100 until 140).map(i =>
      (i.toLong, (0 until 20).map(w => s"w${i}_$w").mkString(" "), 50.0))
    val df = (mega ++ organic).toDF("doc_id", "text", "score")
    val lshPairs = Dedup.lshJaccardPairs(df, "doc_id", "text",
      shingleLen = 3, threshold = 0.5, maxBucket = 16)
    val exactPairs = Dedup.ngramJaccardPairs(df, "doc_id", "text", 3, 0.5)
    val viaLsh = Dedup.dropNearDuplicatesByQuality(df, lshPairs, "doc_id", "score")
      .select("doc_id").as[Long].collect().sorted
    val viaExact = Dedup.dropNearDuplicatesByQuality(df, exactPairs, "doc_id", "score")
      .select("doc_id").as[Long].collect().sorted
    assert(viaLsh.sameElements(viaExact),
      s"LSH keeper diverged from exact on the mega-cluster fixture:\n" +
        s"lsh=${viaLsh.mkString(",")}\nexact=${viaExact.mkString(",")}")
    // the mega group really collapsed to its single best-score doc
    assert(viaLsh.count(_ < 100) == 1,
      s"mega-cluster survivors: ${viaLsh.filter(_ < 100).mkString(",")}")
  }

  test("decontaminate drops exactly the docs overlapping the contamination set") {
    val df = spark.read.parquet(s"$sf/documents.parquet")
    val contamIds = truthSets.keys.toSeq.sorted.take(20).toSet
    val contam = df.filter(col("doc_id") < contamIds.max + 1)
    // driver-side truth: doc survives iff no contamination doc reaches
    // 0.2 Jaccard against it (contamination docs self-match at 1.0
    // unless shingle-less)
    val expected = truthSets.keys.toSeq.filter { id =>
      !contamIds.exists { kid =>
        val j = jaccard(truthSets(id), truthSets(kid))
        BigDecimal(j).setScale(6, BigDecimal.RoundingMode.HALF_UP) >= 0.2
      }
    }.sorted
    val got = Dedup.decontaminate(df, contam, "doc_id", "text", 3, 0.2)
      .select("doc_id").as[Long].collect().sorted
    assert(got.toSeq == expected)
    // shingle-less docs never match anything, including themselves
    val tiny = Seq((1L, "alpha beta gamma delta"), (2L, "xy"), (3L, "")).toDF("id", "text")
    val kept = Dedup.decontaminate(tiny, tiny, "id", "text", 3, 0.2)
      .select("id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(2L, 3L))
  }

  test("decontaminateSubstring burns on ONE shared n-gram, threshold-free") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over dogs"), // shares "quick brown fox" with eval
      (2L, "quick brown wolf runs away now"),      // bigrams overlap, no shared 3-gram
      (3L, "entirely different words here today"), // clean
      (4L, "ends with the quick brown fox")        // shared 3-gram at the tail
    ).toDF("doc_id", "text")
    val eval_ = Seq((100L, "we ask about the quick brown fox story")).toDF("doc_id", "text")
    val got = Dedup.decontaminateSubstring(corpus, eval_, "doc_id", "text", 3)
      .select("doc_id").as[Long].collect().sorted
    assert(got.toSeq == Seq(2L, 3L))
    // n longer than every shared run → nothing burns
    val all = Dedup.decontaminateSubstring(corpus, eval_, "doc_id", "text", 6)
      .select("doc_id").as[Long].collect().sorted
    assert(all.toSeq == Seq(1L, 2L, 3L, 4L))
  }

  test("boilerplateNgrams ranks by doc frequency with deterministic ties, once per doc") {
    val corpus = Seq(
      (1L, "click here to subscribe click here to subscribe"), // repeated IN doc: counts once
      (2L, "click here to subscribe now"),
      (3L, "click here to unsubscribe now"),
      (4L, "totally unrelated text body")
    ).toDF("doc_id", "text")
    val got = Dedup.boilerplateNgrams(corpus, "doc_id", "text", 3, 3)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    // "click here to" is in docs 1,2,3 — once each despite doc 1's
    // internal repeat; "here to subscribe" in 1,2; the third slot is the
    // lexicographically first of the seven freq-1 shingles
    assert(got == Seq(
      ("click here to", 3L),
      ("here to subscribe", 2L),
      ("here to unsubscribe", 1L)))
  }

  test("dropRepeatedSpans: any-alignment excision, canon keeps its copy") {
    // Docs 1 and 2 share a 4-token passage at DIFFERENT offsets (block
    // dedup on 4-token boundaries would miss doc 2's alignment); doc 3
    // is entirely the shared passage; doc 4 is short (< spanWords) and
    // must pass through even though it is a prefix of the passage.
    val corpus = Seq(
      (1L, "alpha shared one two three four tail"),
      (2L, "x shared one two three four y z"),
      (3L, "shared one two three four"),
      (4L, "shared one two"),
      (5L, "completely unrelated text body here now")
    ).toDF("doc_id", "text")
    val got = Dedup.dropRepeatedSpans(corpus, "doc_id", "text", spanWords = 4,
        minDocFreq = 2)
      .as[(Long, String)].collect().toMap
    // doc 1 is canon (min id) for every duplicated 4-gram → untouched
    assert(got(1L) == "alpha shared one two three four tail")
    // docs 2/3: every position covered by some duplicated 4-gram drops;
    // doc 2 keeps only its unique flanks, doc 3 empties entirely
    assert(got(2L) == "x y z")
    assert(got(3L) == "")
    assert(got(4L) == "shared one two")
    assert(got(5L) == "completely unrelated text body here now")
  }

  test("dropRepeatedSpans: portable (md5) and production (xxhash64) keys agree") {
    val corpus = Seq(
      (1L, "alpha shared one two three four tail"),
      (2L, "x shared one two three four y z"),
      (3L, "shared one two three four"),
      (5L, "completely unrelated text body here now")
    ).toDF("doc_id", "text")
    val prod = Dedup.dropRepeatedSpans(corpus, "doc_id", "text", spanWords = 4,
      minDocFreq = 2).as[(Long, String)].collect().toMap
    val port = Dedup.dropRepeatedSpans(corpus, "doc_id", "text", spanWords = 4,
      minDocFreq = 2, portable = true).as[(Long, String)].collect().toMap
    assert(prod == port)
  }

  test("dropRepeatedSpans: overlapping spans merge; empty tokens are positions") {
    // docs 1/2 share two OVERLAPPING 3-gram spans ("a b c", "b c d") —
    // the kernel's coveredUntil sweep must fold them into one interval;
    // doc 2's double space makes an empty token that counts as a
    // position (split(" ", -1) semantics) and survives excision intact
    val corpus = Seq(
      (1L, "a b c d one"),
      (2L, "pre a b c d  post"),
      (3L, "unrelated filler words here")
    ).toDF("doc_id", "text")
    val got = Dedup.dropRepeatedSpans(corpus, "doc_id", "text", spanWords = 3,
      minDocFreq = 2).as[(Long, String)].collect().toMap
    assert(got(1L) == "a b c d one") // canon untouched
    // doc 2: positions 2..5 ("a b c d") covered; the empty token between
    // "d" and "post" is position 6 — kept, so the double space persists
    assert(got(2L) == "pre  post")
    assert(got(3L) == "unrelated filler words here")
  }

  test("duplicateClusters converges on a deep path graph (diameter ≈ maxRounds)") {
    // a 26-node path needs ~25 min-label propagation rounds — the deep
    // case that used to blow the driver up when each round's plan chained
    // the previous round's lineage (now truncated per round); also pins
    // that the result is still the true component minimum
    val chain = (0L until 25L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Dedup.duplicateClusters(chain, maxRounds = 30)
      .as[(Long, Long)].collect().toMap
    assert(got == (0L to 25L).map(_ -> 0L).toMap)
    // and the round cap still trips loudly when genuinely exceeded
    val err = intercept[IllegalStateException] {
      Dedup.duplicateClusters(chain, maxRounds = 3).collect()
    }
    assert(err.getMessage.contains("did not converge"))
  }

  test("dropRepeatedSpans: within-doc repetition alone never cuts") {
    val corpus = Seq(
      (1L, "spam spam spam spam spam spam spam spam"),
      (2L, "different words entirely in this second doc")
    ).toDF("doc_id", "text")
    val got = Dedup.dropRepeatedSpans(corpus, "doc_id", "text", spanWords = 3,
        minDocFreq = 2)
      .as[(Long, String)].collect().toMap
    // doc frequency is per DISTINCT doc: doc 1's internal repeats count
    // once, so nothing reaches minDocFreq = 2
    assert(got(1L) == "spam spam spam spam spam spam spam spam")
    assert(got(2L) == "different words entirely in this second doc")
  }

  test("dropNearDuplicatesByQuality keeps the best-scoring member per tier") {
    // 1,2 identical text (exact tier) with the higher score on 2;
    // 3,4 near-dups (jaccard 5/7 at shingleLen 2) favoring 4; 5 alone.
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon", 0.1),
      (2L, "alpha beta gamma delta epsilon", 0.9),
      (3L, "one two three four five six seven", 0.8),
      (4L, "one two three four five six eight", 0.9),
      (5L, "totally unrelated content here", 0.5)
    ).toDF("id", "text", "score")
    val got = Dedup.dropNearDuplicatesByQuality(docs, "id", "text", "score",
      shingleLen = 2, threshold = 0.5)
      .select("id").as[Long].collect().toSet
    assert(got == Set(2L, 4L, 5L), got)
    // score ties fall to the smaller id (the canonical rule)
    val tied = Seq(
      (7L, "same exact text here", 0.5),
      (6L, "same exact text here", 0.5)).toDF("id", "text", "score")
    val got2 = Dedup.dropNearDuplicatesByQuality(tied, "id", "text", "score")
      .select("id").as[Long].collect().toSeq
    assert(got2 == Seq(6L), got2)
  }

  test("prefix dispatch needs BOTH rare shingles AND candidate-pair mass") {
    // boilerplate-heavy natural corpus: every doc carries 12 shared
    // trailing words, so ~10 fully-boilerplate shingles have df = 200
    // => Σ df(df−1)/2 ≈ 199k ≫ 2 × ~6k postings, avg df ~1.5 → PREFIX
    // (the SURVEY.md §15 PrefixProbe regime where incidence serialized
    // 32× worse)
    val heavy = (1L to 200L).map { i =>
      (i, ((1 to 20).map(j => s"u${i}x$j") ++
        (1 to 12).map(j => s"bp$j")).mkString(" "))
    }.toDF("id", "text")
    val pHeavy = Dedup.ngramJaccardPairsImpl(heavy, "id", "text", 3, 0.8,
        maxDocFreq = 0, forceDense = Some(false))
      .queryExecution.executedPlan.toString
    assert(pHeavy.contains("__ss"),
      "boilerplate corpus must take the prefix path")
    // boilerplate-FREE natural corpus: every shingle doc-unique →
    // candidate mass ~0; incidence is strictly cheaper (the sf10-zipf
    // measurement: 12.3 s vs prefix's 27.6 s / 3.4 GB) → INCIDENCE
    val light = (1L to 200L).map { i =>
      (i, (1 to 32).map(j => s"u${i}x$j").mkString(" "))
    }.toDF("id", "text")
    val pLight = Dedup.ngramJaccardPairsImpl(light, "id", "text", 3, 0.8,
        maxDocFreq = 0, forceDense = Some(false))
      .queryExecution.executedPlan.toString
    assert(!pLight.contains("__ss"),
      "rare-only corpus must take the incidence path")
    // and the dense-vocab regime (avg df ≫ 8) still delegates: every
    // doc IS the same text, df = population — prefix would bucket the
    // whole corpus on every shingle
    val dense = (1L to 200L).map(i =>
      (i, (1 to 32).map(j => s"w$j").mkString(" "))).toDF("id", "text")
    val pDense = Dedup.ngramJaccardPairsImpl(dense, "id", "text", 3, 0.8,
        maxDocFreq = 0, forceDense = Some(false))
      .queryExecution.executedPlan.toString
    assert(!pDense.contains("__ss"),
      "dense-vocab corpus must take the incidence path")
  }

  test("dropNearDuplicatesByQuality(pairs): injected-pair keeper composition") {
    // The LSH-fed spelling: the caller's pair generator owns candidate
    // discovery; the keeper resolves each connected component to its
    // (score desc, id asc) argmax and rows in no pair survive untouched.
    val docs = Seq(
      (1L, "x", 0.1), (2L, "x", 0.9), // pair (1,2) → keep 2
      (3L, "y", 0.8), (4L, "y", 0.7), (5L, "y", 0.7), // chain 3-4,4-5 → keep 3
      (6L, "z", 0.0) // no pair → survives
    ).toDF("id", "text", "score")
    val pairs = Seq((1L, 2L), (3L, 4L), (4L, 5L)).toDF("id_a", "id_b")
    val got = Dedup.dropNearDuplicatesByQuality(docs, pairs, "id", "score")
      .select("id").as[Long].collect().toSet
    assert(got == Set(2L, 3L, 6L), got)
    // score ties fall to the smaller id
    val tied = Seq((7L, "t", 0.5), (6L, "t", 0.5)).toDF("id", "text", "score")
    val tp = Seq((6L, 7L)).toDF("id_a", "id_b")
    assert(Dedup.dropNearDuplicatesByQuality(tied, tp, "id", "score")
      .select("id").as[Long].collect().toSeq == Seq(6L))
    // string ids work: the keeper negates the SCORE, never the id (a
    // negated string id casts to double-null and would keep everything)
    val sdocs = Seq(("a", 0.2), ("b", 0.9)).toDF("id", "score")
    val sp = Seq(("a", "b")).toDF("id_a", "id_b")
    assert(Dedup.dropNearDuplicatesByQuality(sdocs, sp, "id", "score")
      .select("id").as[String].collect().toSeq == Seq("b"))
  }

  test("dropNearDuplicatesByQuality(pairs) with minhash candidates matches the exact tier") {
    // feed portable MinHash-LSH candidates through the overload — on a
    // corpus where LSH recall is total (identical/near-identical docs
    // collide in every band), the composition equals the exact-pair path
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta", 0.2),
      (2L, "alpha beta gamma delta epsilon zeta eta theta", 0.9),
      (3L, "completely different text with other words entirely", 0.5)
    ).toDF("id", "text", "score")
    val pairs = Dedup.minhashCandidates(docs, "id", "text", portable = true)
    val got = Dedup.dropNearDuplicatesByQuality(docs, pairs, "id", "score")
      .select("id").as[Long].collect().toSet
    assert(got == Set(2L, 3L), got)
  }

  test("lshJaccardPairs: every emitted pair is exact-verified; identical docs always pair") {
    val docs = Seq(
      (1L, "one two three four five six seven eight nine ten"),
      (2L, "one two three four five six seven eight nine eleven"), // jac 7/9 with 1
      (3L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (4L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"), // = 3
      (5L, "totally unrelated words occupying this fifth document slot")
    ).toDF("id", "text")
    val exact = Dedup.ngramJaccardPairs(docs, "id", "text", 3, 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.lshJaccardPairs(docs, "id", "text", 3, 0.5)
      .as[(Long, Long)].collect().toSet
    // precision is exact by construction: the rescore admits only pairs
    // the exact tier would emit
    assert(lsh.subsetOf(exact), s"$lsh not ⊆ $exact")
    // identical texts share every band — the LSH tier can never miss them
    assert(lsh.contains((3L, 4L)), lsh)
    // a candidate that fails the threshold is CUT by the rescore: at
    // t=0.9 the (1,2) pair (exact jaccard 7/9 ≈ 0.78) must not survive,
    // whatever buckets it landed in
    val strict = Dedup.lshJaccardPairs(docs, "id", "text", 3, 0.9)
      .as[(Long, Long)].collect().toSet
    assert(!strict.contains((1L, 2L)), strict)
    assert(strict.contains((3L, 4L)), strict)
  }

  test("lshJaccardPairs equals minhashCandidates cut by exact Jaccard, pairwise and star") {
    // The rescore reads every doc of a bucket of two or more, a superset
    // of the docs the candidates name: the output must be exactly the
    // candidates whose driver-side Jaccard clears t, whether an edge
    // comes from a pairwise bucket or from an over-cap star
    val df = spark.read.parquet(s"$sf/documents.parquet")
    val t = 0.97 // this corpus's candidates score 0.89–0.99: t cuts about half
    def clears(p: (Long, Long)) =
      BigDecimal(jaccard(truthSets(p._1), truthSets(p._2)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP) >= t
    val buckets = Dedup.bandedRows(df, "doc_id", "text", 3, 12, 4, portable = false)
      .groupBy("band", "bandhash").count()
    assert(buckets.filter(col("count") > 1000).isEmpty,
      "the default cap must leave every bucket pairwise")
    assert(!buckets.filter(col("count") > 2).isEmpty,
      "no band bucket exceeds maxBucket=2 — the star branch would go untested")
    for (cap <- Seq(1000, 2)) {
      val cand = Dedup.minhashCandidates(df, "doc_id", "text", maxBucket = cap)
        .as[(Long, Long)].collect().toSet
      val lsh = Dedup.lshJaccardPairs(df, "doc_id", "text", threshold = t, maxBucket = cap)
        .as[(Long, Long)].collect().toSet
      assert(lsh == cand.filter(clears), s"maxBucket=$cap")
      assert(lsh.nonEmpty && lsh.size < cand.size,
        s"maxBucket=$cap: ${lsh.size} of ${cand.size} candidates kept — vacuous cut")
    }
  }

  test("minhashCandidates' sorted bucket runs equal the count-and-join cap formulation") {
    // Reference: every a < b pair of a bucket of at most cap ids, the
    // (min id, id) star edges of a larger bucket, distinct over bands —
    // recomputed on the driver from the same band rows. Planted groups
    // of identical text fill one bucket per band with exactly cap and
    // cap + 1 members.
    val corpus = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
    def reference[A: Ordering](rows: Seq[(Int, String, A)], cap: Int): Set[(A, A)] =
      rows.groupBy(r => (r._1, r._2)).valuesIterator.flatMap { run =>
        val ids = run.map(_._3).sorted
        if (ids.length <= cap)
          ids.indices.iterator.flatMap(i => (i + 1 until ids.length).iterator.map(j => (ids(i), ids(j))))
        else ids.iterator.drop(1).map(ids.head -> _)
      }.toSet
    for (cap <- Seq(1000, 2); portable <- Seq(false, true)) {
      val planted = Seq(cap, cap + 1).zipWithIndex.flatMap { case (n, g) =>
        val text = (0 until 6).map(w => s"planted${g}w$w").mkString(" ")
        (0 until n).map(i => (1000000L * (g + 1) + i, text))
      }.toDF("doc_id", "text")
      val df = corpus.unionByName(planted)
      def bandRows(d: org.apache.spark.sql.DataFrame) =
        Dedup.bandedRows(d, "doc_id", "text", 3, 12, 4, portable)
          .select(col("band"), col("bandhash").cast("string"), col("id"))
      val got = Dedup.minhashCandidates(df, "doc_id", "text", maxBucket = cap,
        portable = portable).as[(Long, Long)].collect()
      assert(got.length == got.toSet.size, s"cap=$cap portable=$portable: duplicate pairs")
      assert(got.toSet == reference(bandRows(df).as[(Int, String, Long)].collect().toSeq, cap),
        s"cap=$cap portable=$portable")
      val group = (id: Long) => id / 1000000L
      assert(got.count(p => group(p._1) == 1 && group(p._2) == 1) == cap * (cap - 1) / 2,
        s"cap=$cap: the exactly-cap group must pair all its members")
      assert(got.filter(p => group(p._1) == 2 && group(p._2) == 2).toSet ==
        (1 to cap).map(i => (2000000L, 2000000L + i)).toSet,
        s"cap=$cap: the cap + 1 group must star-link to its min id")
      if (cap == 2) { // string ids: the runs sort and pair any id type
        val named = df.select(format_string("d%07d", col("doc_id")).as("doc_id"), col("text"))
        val gotNamed = Dedup.minhashCandidates(named, "doc_id", "text", maxBucket = cap,
          portable = portable).as[(String, String)].collect().toSet
        assert(gotNamed == reference(bandRows(named).as[(Int, String, String)].collect().toSeq, cap),
          s"string ids, cap=$cap portable=$portable")
        assert(gotNamed.map { case (a, b) => (a.tail.toLong, b.tail.toLong) } == got.toSet)
      }
    }
  }

  test("keeper auto-dispatch: forced-LSH equals forced-exact on a total-recall corpus") {
    // identical + near-identical groups (LSH recall 1 on this fixture),
    // so both routes must produce the same survivor set — the dispatch
    // changes the physical pair tier, not the keeper semantics
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa", 0.2),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa", 0.9),
      (3L, "one two three four five six seven eight nine ten", 0.4),
      (4L, "one two three four five six seven eight nine ten", 0.8),
      (5L, "totally unrelated words occupying this fifth document slot", 0.1)
    ).toDF("id", "text", "score")
    val viaLsh = Dedup.dropNearDuplicatesByQualityImpl(docs, "id", "text",
        "score", 3, 0.5, 0L, portable = false, forceLsh = Some(true))
      .select("id").as[Long].collect().toSet
    val viaExact = Dedup.dropNearDuplicatesByQualityImpl(docs, "id", "text",
        "score", 3, 0.5, 0L, portable = false, forceLsh = Some(false))
      .select("id").as[Long].collect().toSet
    assert(viaLsh == viaExact, s"$viaLsh vs $viaExact")
    assert(viaLsh == Set(2L, 4L, 5L), viaLsh)
    // the canonical (min-id) keeper dispatches identically
    val plain = docs.drop("score")
    val canLsh = Dedup.dropNearDuplicatesImpl(plain, "id", "text", 3, 0.5,
        0L, portable = false, forceLsh = Some(true))
      .select("id").as[Long].collect().toSet
    assert(canLsh == Set(1L, 3L, 5L), canLsh)
  }
}
