package graft

import org.apache.spark.sql.functions._

import graft.functions.Vectors

/** Brute-force ground truth for similarity search on the sf0.001
  * embeddings table: exact cosine computed driver-side, compared against
  * the distributed exact plan (must match bit-for-bit after rounding) and
  * the LSH plans (must meet recall bounds; their scores must be exact).
  */
class VectorsGroundTruthSpec extends SparkSuite {
  import spark.implicits._

  private lazy val vecs: Map[Long, Array[Float]] =
    spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect().toMap

  private def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      i += 1
    }
    val d = math.sqrt(na) * math.sqrt(nb)
    if (d == 0) 0.0 else dot / d
  }

  private def r6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Exact top-k per query id (sim desc, corpus_id asc; rounded sims so
    * ties break the same way as the distributed plan).
    */
  private def exactTopK(queryIds: Seq[Long], k: Int): Map[Long, Seq[(Long, Double)]] =
    queryIds.map { q =>
      q -> vecs.toSeq.filter(_._1 != q)
        .map { case (c, v) => (c, r6(cosine(vecs(q), v))) }
        .sortBy { case (c, s) => (-s, c) }
        .take(k)
    }.toMap

  test("bruteForceTopK matches driver-side exact top-k") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val got = Vectors.bruteForceTopK(emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding", 5)
      .as[(Long, Long, Double, Int)].collect()
      .groupBy(_._1).map { case (q, rows) =>
        q -> rows.sortBy(_._4).map(r => (r._2, r._3)).toSeq
      }
    val expected = exactTopK(vecs.keys.filter(_ < 5).toSeq, 5)
    assert(got == expected)
  }

  test("cosineNearDupPairs: exact scores, precision 1, recall >= 0.9") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    // data-adaptive threshold: the 10th-highest off-diagonal cosine, so
    // the ground-truth set is non-empty at any SF
    val ids = vecs.keys.toSeq.sorted
    val allPairs = for {
      i <- ids.indices; j <- (i + 1) until ids.size
    } yield ((ids(i), ids(j)), r6(cosine(vecs(ids(i)), vecs(ids(j)))))
    val threshold = allPairs.map(_._2).sorted(Ordering[Double].reverse)(9)
    val truth = allPairs.filter(_._2 >= threshold).toMap
    assert(truth.nonEmpty)

    val got = Vectors.cosineNearDupPairs(emb, "vec_id", "embedding", threshold,
      bits = 16, bands = 8)
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, s) => ((a, b), s) }.toMap
    // precision 1: every returned pair is a true pair with the exact score
    got.foreach { case (k, s) =>
      assert(truth.contains(k), s"false positive $k")
      assert(math.abs(s - truth(k)) < 1e-6)
    }
    // recall: 8 bands of 2 bits miss a >=0.4-cosine pair with prob <1e-2
    val recall = got.keySet.count(truth.contains).toDouble / truth.size
    assert(recall >= 0.9, s"recall $recall, missed ${truth.keySet -- got.keySet}")
  }

  test("dropEmbeddingNearDuplicates keeps one canonical per cosine cluster") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    // low-threshold (0.45) regime needs narrow chunks for recall — 2-bit
    // chunks as q33; kept/losers consistency holds for ANY bits/bands as
    // long as both calls use the same ones
    val pairs = Vectors.cosineNearDupPairs(emb, "vec_id", "embedding", 0.45,
      bits = 16, bands = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    assert(pairs.nonEmpty, "vacuous: no near-dup pairs at 0.45")
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val losers = pairs.flatMap(p => Seq(p._1, p._2)).distinct
      .filter(n => find(n) != n).toSet
    val kept = Vectors.dropEmbeddingNearDuplicates(emb, "vec_id", "embedding", 0.45,
      bits = 16, bands = 8)
      .select("vec_id").as[Long].collect().toSet
    val all = emb.select("vec_id").as[Long].collect().toSet
    assert(kept == all -- losers)
  }

  test("cosineNearDupPairs maxBucket bounds pair generation under mass duplication") {
    // 40 identical vectors share every LSH bucket (C(40,2)=780 pairs
    // uncapped); with maxBucket=10 those saturated buckets STAR-LINK
    // instead: every clone pairs with the min-id representative only
    // (39 edges, so the whole mass stays one component) while a distinct
    // small-bucket near-dup pair still comes through pairwise
    val clone = Array.tabulate(8)(i => math.sin(i + 1.0).toFloat)
    val nearA = Array.tabulate(8)(i => math.cos(i + 1.0).toFloat)
    val nearB = nearA.updated(0, nearA(0) + 0.01f)
    val rows = (0 until 40).map(i => (i.toLong, clone)) ++ Seq((100L, nearA), (101L, nearB))
    val df = rows.toDF("vec_id", "embedding")
    val capped = Vectors.cosineNearDupPairs(df, "vec_id", "embedding", 0.99, maxBucket = 10)
      .as[(Long, Long, Double)].collect()
    val clonePairs = capped.filter { case (a, b, _) => a < 100 && b < 100 }
    assert(clonePairs.length == 39 && clonePairs.forall(_._1 == 0L),
      s"saturated buckets must star-link to the min id: got ${clonePairs.length} edges")
    assert(clonePairs.forall(_._3 == 1.0), "clone star edges are cosine 1")
    assert(capped.exists { case (a, b, _) => a == 100L && b == 101L },
      "small-bucket near-dup pair must survive the cap")
    val uncapped = Vectors.cosineNearDupPairs(df, "vec_id", "embedding", 0.99)
      .as[(Long, Long, Double)].collect()
    assert(uncapped.count { case (a, b, _) => a < 100 && b < 100 } == 780)
  }

  test("dropEmbeddingNearDuplicates keeps one copy of a mass past maxBucket") {
    // the clones share every bucket, all of them past the cap: the star
    // edges must still join them into one component with one keeper
    val clone = Array.tabulate(8)(i => math.sin(i + 1.0).toFloat)
    val other = Array.tabulate(8)(i => math.cos(i + 1.0).toFloat)
    val df = ((0 until 40).map(i => (i.toLong, clone)) :+ ((100L, other)))
      .toDF("vec_id", "embedding")
    val kept = Vectors.dropEmbeddingNearDuplicates(df, "vec_id", "embedding", 0.99,
      maxBucket = 10).select("vec_id").as[Long].collect().toSet
    assert(kept == Set(0L, 100L))
  }

  test("cosineNearDupPairs: a repeated vec_id never pairs with itself") {
    val v = Array.tabulate(8)(i => math.sin(i + 1.0).toFloat)
    val df = Seq((1L, v), (1L, v), (2L, v)).toDF("vec_id", "embedding")
    for (cap <- Seq(1, 10000)) {
      val got = Vectors.cosineNearDupPairs(df, "vec_id", "embedding", 0.99, maxBucket = cap)
        .as[(Long, Long, Double)].collect().toSeq
      assert(got == Seq((1L, 2L, 1.0)), s"maxBucket $cap")
    }
  }

  test("one 64-bit band keys on the whole signature; uneven splits refuse") {
    // 64 hyperplanes in 8 dims: distinct vectors get distinct signatures,
    // so only the identical pair shares the one full-width bucket (a
    // zero mask would put all 21 vectors in one over-cap bucket)
    val vs = (0 until 20).map { i =>
      val rng = new scala.util.Random(i)
      (i.toLong, Array.fill(8)(rng.nextGaussian().toFloat))
    }
    val df = (vs :+ ((99L, vs.head._2))).toDF("vec_id", "embedding")
    val got = Vectors.cosineNearDupPairs(df, "vec_id", "embedding", -1.0,
      bits = 64, bands = 1, maxBucket = 2)
      .as[(Long, Long, Double)].collect().toSeq
    assert(got == Seq((0L, 99L, 1.0)))
    for ((bits, bands) <- Seq(16 -> 3, 4 -> 8))
      intercept[IllegalArgumentException](
        Vectors.cosineNearDupPairs(df, "vec_id", "embedding", 0.9, bits = bits, bands = bands))
  }

  test("ivfCentroids: no dimension explosion — one vector_mean partial agg") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val cents = Vectors.ivfCentroids(emb, "vec_id", "embedding", 8, iters = 1)
    val plan = cents.queryExecution.executedPlan.toString
    assert(!plan.contains("Generate"),
      "Lloyd centroid update must not posexplode corpus×dim rows")
    assert(plan.contains("vector_mean"))
    val rows = cents.collect()
    assert(rows.nonEmpty && rows.length <= 8)
    assert(rows.forall(_.getSeq[Float](1).nonEmpty))
  }

  test("ivfTopK: structural invariants + exact rescoring + sane recall") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val got = Vectors.ivfTopK(emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding",
      k = 5, nlist = 8, nProbe = 6, iters = 2)
      .as[(Long, Long, Double, Int)].collect()
    val byQ = got.groupBy(_._1)
    assert(byQ.keySet == Set(0L, 1L, 2L, 3L, 4L))
    byQ.foreach { case (q, rows) =>
      assert(rows.length <= 5)
      val sorted = rows.sortBy(_._4)
      assert(sorted.map(_._4).toSeq == (1 to sorted.length))
      rows.foreach { case (_, c, s, _) =>
        assert(c != q)
        assert(math.abs(s - r6(cosine(vecs(q), vecs(c)))) < 1e-6)
      }
    }
    // probing 6 of 8 cells: recall@5 must comfortably beat random
    val expected = exactTopK(vecs.keys.filter(_ < 5).toSeq, 5)
    val hits = byQ.map { case (q, rows) =>
      rows.map(_._2).toSet.intersect(expected(q).map(_._1).toSet).size
    }.sum
    assert(hits.toDouble / expected.values.map(_.size).sum >= 0.4)
  }

  test("lshTopK: structural invariants + sims are exact cosines") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val got = Vectors.lshTopK(emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding", 5)
      .as[(Long, Long, Double, Int)].collect()
    val byQ = got.groupBy(_._1)
    byQ.foreach { case (q, rows) =>
      assert(rows.length <= 5)
      val sorted = rows.sortBy(_._4)
      assert(sorted.map(_._4).toSeq == (1 to sorted.length)) // ranks consecutive
      assert(sorted.map(_._3).toSeq == sorted.map(_._3).sortBy(-_).toSeq) // sims desc
      rows.foreach { case (_, c, s, _) =>
        assert(c != q)
        assert(math.abs(s - r6(cosine(vecs(q), vecs(c)))) < 1e-6) // exact rescoring
      }
    }
    // recall@5 against exact top-k (deterministic planes: a fixed number)
    val expected = exactTopK(vecs.keys.filter(_ < 5).toSeq, 5)
    val hits = byQ.map { case (q, rows) =>
      rows.map(_._2).toSet.intersect(expected(q).map(_._1).toSet).size
    }.sum
    val recallAt5 = hits.toDouble / expected.values.map(_.size).sum
    assert(recallAt5 >= 0.2, s"recall@5 $recallAt5") // bucketed ANN on near-orthogonal
    // synthetic vectors — loose bound; the exactness checks above are the gate
  }

  test("quantizeInt8: exact codes on a hand case; round-trip error within scale/2") {
    import org.apache.spark.sql.functions.col
    val vecs = Seq(
      (0L, Array(0.0f, -1.0f, 5.0f)),
      (1L, Array(1.0f, 1.0f, 5.0f)), // dim 2 constant → code 0
      (2L, Array(0.5f, 0.0f, 5.0f)))
    val df = vecs.toDF("vec_id", "embedding")
    val got = graft.functions.Vectors.quantizeInt8(df, "vec_id", "embedding")
      .orderBy("vec_id").as[(Long, Seq[Int])].collect().toMap
    // dim0: [0,1] scale 1/255 → codes 0, 255, round(0.5*255)=128 (HALF_UP)
    // dim1: [-1,1] scale 2/255 → codes 0, 255, round(1/ (2/255))=128
    assert(got(0L) == Seq(0, 0, 0))
    assert(got(1L) == Seq(255, 255, 0))
    assert(got(2L) == Seq(128, 128, 0))
    // round trip: every dim reconstructs within half a quantization step
    val mins = Array(0.0, -1.0, 5.0)
    val maxs = Array(1.0, 1.0, 5.0)
    vecs.foreach { case (id, v) =>
      val back = graft.functions.Vectors.dequantizeInt8(got(id).toArray, mins, maxs)
      v.indices.foreach { d =>
        val halfStep = (maxs(d) - mins(d)) / 255.0 / 2 + 1e-12
        assert(math.abs(back(d) - v(d)) <= halfStep, s"vec $id dim $d")
      }
    }
  }

  test("quantizedTopK recalls the exact top-k on the real fixture") {
    import org.apache.spark.sql.functions.col
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 5)
    def hits(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val exact = hits(graft.functions.Vectors
      .bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
      .select("query_id", "corpus_id"))
    val quant = hits(graft.functions.Vectors
      .quantizedTopK(emb, queries, "vec_id", "embedding", 5)
      .select("query_id", "corpus_id"))
    val recall = exact.map { case (q, ids) => quant(q).intersect(ids).size }.sum /
      exact.values.map(_.size).sum.toDouble
    // int8 at 64 dims is a mild perturbation — the top sets barely move
    assert(recall >= 0.8, s"recall@5 $recall")
  }
  test("persisted IVF index: exact at nProbe=nlist, cell filter prunes files") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val lib = new graft.core.Library(
      java.nio.file.Files.createTempDirectory("graft-ivf-").toString, spark)
    // ~125 rows/cell at sf0.001 (1000 vecs, nlist=8): targetRows=60 gives
    // every cell >=2 files, so cell pruning has something to skip
    Vectors.buildIvfIndex(lib, emb, "vec_id", "embedding", "ann", nlist = 8,
      iters = 2, targetRows = 60L)
    // probing every cell == exact top-k (same construction as the q52
    // gate), now through the persisted read path
    val got = Vectors.ivfSearchIndexed(lib, "ann",
      emb.filter(col("vec_id") < 5), "vec_id", "embedding", k = 5, nProbe = 8)
      .as[(Long, Long, Double, Int)].collect()
    val expected = exactTopK(vecs.keys.filter(_ < 5).toSeq, 5)
    got.groupBy(_._1).foreach { case (q, rows) =>
      val ids = rows.sortBy(_._4).map(_._2).toSeq
      assert(ids == expected(q).map(_._1).toSeq, s"query $q")
      rows.foreach { case (_, c, sim, _) =>
        assert(math.abs(sim - r6(cosine(vecs(q), vecs(c)))) < 1e-6)
      }
    }
    // the index read really prunes: a one-cell filter must touch fewer
    // files than the full index (index bounds come from the manifest —
    // no createColumnStats call needed)
    val all = lib.read("ann__index").inputFiles.length
    val one = lib.read("ann__index",
      exprFilter = Some(graft.query.Expr.col("cell") === graft.query.Expr.lit(3L)))
      .inputFiles.length
    assert(all >= 8, s"expected multi-file index, got $all")
    assert(one < all / 2, s"pruned read touched $one of $all files")
    // nProbe < nlist through the same persisted path: sane recall
    val part = Vectors.ivfSearchIndexed(lib, "ann",
      emb.filter(col("vec_id") < 5), "vec_id", "embedding", k = 5, nProbe = 6)
      .as[(Long, Long, Double, Int)].collect()
    val hits = part.groupBy(_._1).map { case (q, rows) =>
      rows.map(_._2).toSet.intersect(expected(q).map(_._1).toSet).size
    }.sum
    assert(hits.toDouble / expected.values.map(_.size).sum >= 0.4)
  }

  /** Three tight separated blobs, with blob membership arranged so the 3
    * hash-ranked seeds of the given mode land in DISTINCT blobs (plain
    * hash seeding is not k-means++ — duplicate-blob seeds converge to a
    * legitimate local optimum that merges blobs, which is expected Lloyd
    * behavior, not what this recovery test probes).
    */
  private def blobCorpus(seedOrder: Long => (String, Long)): (Seq[(Long, Array[Float])], Map[Long, Int]) = {
    val rnd = new scala.util.Random(3)
    val centers = Seq(
      Array(10f, 0f, 0f, 0f), Array(0f, 10f, 0f, 0f), Array(0f, 0f, 10f, 0f))
    val ids = (0L until 90L).toSeq
    val seeds = ids.sortBy(seedOrder).take(3)
    val blobOf = ids.map { id =>
      id -> (seeds.indexOf(id) match {
        case -1 => (id % 3).toInt
        case s  => s
      })
    }.toMap
    (ids.map { id =>
      (id, centers(blobOf(id)).map(_ + (rnd.nextFloat() - 0.5f) * 0.2f))
    }, blobOf)
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  test("kmeansAssign (both modes) recovers well-separated blobs") {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    for (portable <- Seq(false, true)) {
      val order: Long => (String, Long) =
        if (portable) id => (md5hex(id.toString), id)
        else id => ("%020d".format(BigInt(XXH64.hashLong(id, 42L)) + BigInt(2).pow(63)), id)
      val (corpus, blobOf) = blobCorpus(order)
      val df = corpus.toDF("vec_id", "embedding").repartition(5)
      val got = Vectors.kmeansAssign(df, "vec_id", "embedding", k = 3,
          iters = 3, portable = portable)
        .as[(Long, Int, Double)].collect()
      assert(got.length == 90)
      // every blob lands in exactly one cluster, blobs in distinct clusters
      val byBlob = got.groupBy(r => blobOf(r._1)).map { case (b, rows) =>
        b -> rows.map(_._2).toSet
      }
      byBlob.foreach { case (b, cs) => assert(cs.size == 1, s"blob $b split: $cs") }
      assert(byBlob.values.flatten.toSet.size == 3, s"blobs merged: $byBlob")
      // converged: every point sits within the blob radius of its centroid
      got.foreach { case (id, _, d) => assert(d < 1.0, s"vec $id dist $d") }
    }
  }

  test("clusterBalancedSample keeps the k most-central members per cluster") {
    val (corpus, blobOf) = blobCorpus(id => (md5hex(id.toString), id))
    val df = corpus.toDF("vec_id", "embedding").repartition(5)
    val asg = Vectors.kmeansAssign(df, "vec_id", "embedding", k = 3,
      iters = 3, portable = true).as[(Long, Int, Double)].collect()
    val got = Vectors.clusterBalancedSample(df, "vec_id", "embedding",
      k = 3, perCluster = 5, iters = 3, portable = true)
      .as[(Int, Long, Double, Int)].collect()
    // 3 clusters × 5 keepers, ranks 1..5 each, dist non-decreasing
    assert(got.length == 15)
    got.groupBy(_._1).foreach { case (c, rows) =>
      val sorted = rows.sortBy(_._4)
      assert(sorted.map(_._4).toSeq == (1 to 5), s"cluster $c ranks")
      assert(sorted.map(_._3).toSeq == sorted.map(_._3).sortBy(identity).toSeq,
        s"cluster $c dist not ascending")
      // the keepers ARE the 5 smallest (dist, id) of that cluster's members
      val expect = asg.filter(_._2 == c).sortBy(r => (r._3, r._1)).take(5)
        .map(_._1).toSet
      assert(sorted.map(_._2).toSet == expect, s"cluster $c keepers")
      // sanity: keepers never cross blobs
      assert(sorted.map(r => blobOf(r._2)).toSet.size == 1)
    }
  }

  test("kmeansAssign portable mode: exact driver-side replay of the full loop") {
    val rnd = new scala.util.Random(17)
    val corpus = (0 until 120).map(i =>
      (i.toLong, Array.fill(6)((rnd.nextFloat() - 0.5f) * 1.2f)))
    val (k, iters) = (5, 2)
    val got = Vectors.kmeansAssign(corpus.toDF("vec_id", "embedding"),
        "vec_id", "embedding", k = k, iters = iters, portable = true)
      .as[(Long, Int, Double)].collect().sortBy(_._1).toSeq

    // driver replay with exact integer arithmetic (BigInt = the decimal /
    // HUGEINT carrier) and the same md5 seed ranking
    val q: Map[Long, Array[Long]] = corpus.map { case (id, v) =>
      id -> v.map(x => BigDecimal(x.toDouble * 1e6)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)
    }.toMap
    var cent: Seq[(Array[BigInt], Long)] = corpus.map(_._1)
      .sortBy(id => (md5hex(id.toString), id)).take(k)
      .map(id => (q(id).map(BigInt(_)), 1L))
    def assign(): Map[Long, (Int, Double)] = q.map { case (id, p) =>
      val ds = cent.zipWithIndex.map { case ((s, n), c) =>
        val num = p.indices.map { d =>
          val diff = BigInt(p(d)) * n - s(d); diff * diff
        }.sum
        (num.toDouble / (n.toDouble * n * 1e12), c)
      }
      id -> { val m = ds.min; (m._2, m._1) }
    }
    (1 until iters).foreach { _ =>
      val a = assign()
      val members = a.toSeq.groupBy(_._2._1)
      cent = cent.zipWithIndex.map { case (old, c) =>
        members.get(c) match {
          case Some(ms) =>
            val ids = ms.map(_._1)
            (Array.tabulate(6)(d => ids.map(id => BigInt(q(id)(d))).sum),
              ids.size.toLong)
          case None => old
        }
      }
    }
    val expected = assign()
    got.foreach { case (id, cl, dist) =>
      val (ecl, edist) = expected(id)
      assert(cl == ecl, s"vec $id cluster $cl != $ecl")
      assert(math.abs(dist - r6(edist)) < 1e-9, s"vec $id dist")
    }
  }

  test("kmeansAssign: empty clusters keep their centroid; k > n survives") {
    // two tight duplicated points, k=4: at least two clusters go empty
    val df = (0 until 40).map(i =>
      (i.toLong, if (i % 2 == 0) Array(5f, 5f) else Array(-5f, -5f)))
      .toDF("vec_id", "embedding")
    for (portable <- Seq(false, true)) {
      val got = Vectors.kmeansAssign(df, "vec_id", "embedding", k = 4,
          iters = 3, portable = portable)
        .as[(Long, Int, Double)].collect()
      assert(got.length == 40)
      assert(got.map(_._2).toSet.size >= 2)
    }
    val tiny = Seq((1L, Array(1f, 0f)), (2L, Array(0f, 1f)))
      .toDF("vec_id", "embedding")
    val g2 = Vectors.kmeansAssign(tiny, "vec_id", "embedding", k = 5,
      iters = 2, portable = true).collect()
    assert(g2.length == 2)
  }

  test("semDedupReport matches a full driver-side SemDeDup mirror") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    for (portable <- Seq(true, false)) {
      // trust the separately-spec'd kmeansAssign for the clustering;
      // mirror everything downstream of it: within-cluster pairs,
      // union-find groups, the (dist desc, id asc) keeper
      val assign = Vectors.kmeansAssign(emb, "vec_id", "embedding",
          k = 3, iters = 2, portable = portable)
        .as[(Long, Int, Double)].collect()
      val cluster = assign.map(a => a._1 -> a._2).toMap
      val dist = assign.map(a => a._1 -> a._3).toMap
      val eps = 0.2
      val ids = vecs.keys.toSeq.sorted
      val pairs = for {
        i <- ids.indices; j <- (i + 1) until ids.size
        a = ids(i); b = ids(j)
        if cluster(a) == cluster(b) && r6(cosine(vecs(a), vecs(b))) >= eps
      } yield (a, b)
      assert(pairs.nonEmpty, "no within-cluster near-dups — test is vacuous")
      val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
      def find(x: Long): Long = {
        var r = x; while (parent(r) != r) r = parent(r)
        parent(x) = r; r
      }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val groups = ids.groupBy(find).filter(_._2.size > 1)
      assert(groups.nonEmpty)
      val expected = ids.map { id =>
        groups.find(_._2.contains(id)) match {
          case Some((root, members)) =>
            val keeper = members.minBy(m => (-dist(m), m))
            id -> (Some(root), members.size.toLong, id == keeper)
          case None => id -> (None, 1L, true)
        }
      }.toMap
      val got = Vectors.semDedupReport(emb, "vec_id", "embedding",
          k = 3, eps = eps, iters = 2, portable = portable)
        .collect().map { r =>
          r.getLong(0) -> (
            (if (r.isNullAt(3)) None else Some(r.getLong(3))),
            r.getLong(4), r.getBoolean(5))
        }.toMap
      assert(got == expected, s"portable=$portable")
      // survivors API agrees with the report
      val kept = Vectors.semDedup(emb, "vec_id", "embedding",
          k = 3, eps = eps, iters = 2, portable = portable)
        .select("vec_id").as[Long].collect().toSet
      assert(kept == expected.collect { case (id, (_, _, true)) => id }.toSet)
    }
  }

  test("semDedup envelope: under-scaled explicit k throws; k <= 0 derives auto-k") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    // 500 vectors with k=1 → mean cluster 500 > the 100 bound: the
    // quadratic within-cluster join must be refused BEFORE it runs
    val e = intercept[IllegalArgumentException] {
      Vectors.semDedupReport(emb, "vec_id", "embedding", k = 1, eps = 0.2,
        maxMeanCluster = 100)
    }
    assert(e.getMessage.contains("envelope"), e.getMessage)
    // auto-k: ⌈500/100⌉ = 5 clusters; still one report row per vector
    val rep = Vectors.semDedupReport(emb, "vec_id", "embedding", k = -1,
      eps = 0.2, targetMeanCluster = 100)
    assert(rep.count() == 500)
    assert(rep.select(max(col("cluster"))).head().getInt(0) <= 4)
  }

  test("mmrTopKIndexed equals mmrTopK at nProbe = nlist; pool read prunes") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val lib = new graft.core.Library(
      java.nio.file.Files.createTempDirectory("graft-mmri-").toString, spark)
    Vectors.buildIvfIndex(lib, emb, "vec_id", "embedding", "mmr",
      nlist = 4, iters = 2, targetRows = 100L)
    val q = emb.filter(col("vec_id") < 2)
    val a = Vectors.mmrTopK(emb, q, "vec_id", "embedding",
        candidates = 5, k = 3)
      .orderBy("query_id", "step").collect().toSeq
    val b = Vectors.mmrTopKIndexed(lib, "mmr", q, "vec_id", "embedding",
        candidates = 5, k = 3, nProbe = 4)
      .orderBy("query_id", "step").collect().toSeq
    assert(a == b, s"\nrescan: $a\nindexed: $b")
    // the composed pool read is the SAME manifest-pruned cell read the
    // q110 spec pins: at nProbe=1 it must touch fewer index files than
    // the full symbol holds
    val (_, pool) = Vectors.ivfSearchIndexedWithPool(
      lib, "mmr", q, "vec_id", "embedding", 5, 1)
    val allFiles = lib.read("mmr__index").inputFiles.length
    assert(allFiles >= 3 && pool.inputFiles.length < allFiles,
      s"pool ${pool.inputFiles.length} of $allFiles")
  }

  test("semDedup maxCluster cap: capped clusters keep all members") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    // cap below every cluster's population (500 points / 3 clusters):
    // no pair stage anywhere, everything survives
    val rep = Vectors.semDedupReport(emb, "vec_id", "embedding",
      k = 3, eps = 0.2, iters = 2, maxCluster = 10)
    assert(rep.filter(!col("kept")).count() == 0)
    assert(rep.count() == 500)
  }

  test("appendToIvfIndex: exact fold, routing parity, pruning intact") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val lib = new graft.core.Library(
      java.nio.file.Files.createTempDirectory("graft-ivfapp-").toString, spark)
    Vectors.buildIvfIndex(lib, emb.filter(col("vec_id") < 300),
      "vec_id", "embedding", "ann", nlist = 8, iters = 2, targetRows = 60L)
    Vectors.appendToIvfIndex(lib, "ann", emb.filter(col("vec_id") >= 300),
      "vec_id", "embedding", targetRows = 60L)
    // every corpus vector present exactly once after the fold
    val idx = lib.read("ann__index")
    assert(idx.count() == emb.count())
    assert(idx.select("corpus_id").distinct().count() == emb.count())
    // appended rows route to a max-cosine cell of the PERSISTED
    // centroids (value comparison, so centroid-sim ties can't flake)
    val cents = lib.read("ann__centroids")
      .select(col("cell"), col("centroid"))
      .as[(Long, Array[Float])].collect().toMap
    idx.filter(col("corpus_id") >= 300)
      .select(col("cell"), col("corpus_id"), col("vec"))
      .as[(Long, Long, Array[Float])].collect().foreach { case (cell, id, v) =>
        val best = cents.values.map(c => cosine(v, c)).max
        assert(math.abs(cosine(v, cents(cell)) - best) < 1e-12,
          s"vec $id routed to cell $cell, not a max-cosine cell")
      }
    // post-append probe at nProbe=nlist == exact top-k over the union
    val got = Vectors.ivfSearchIndexed(lib, "ann",
      emb.filter(col("vec_id") < 3), "vec_id", "embedding", k = 5, nProbe = 8)
      .as[(Long, Long, Double, Int)].collect()
    val expected = exactTopK(Seq(0L, 1L, 2L), 5)
    got.groupBy(_._1).foreach { case (q, rows) =>
      assert(rows.sortBy(_._4).map(_._2).toSeq == expected(q).map(_._1), s"query $q")
    }
    // manifest pruning still bites across build + increment files
    val all = lib.read("ann__index").inputFiles.length
    val one = lib.read("ann__index",
      exprFilter = Some(graft.query.Expr.col("cell") === graft.query.Expr.lit(3L)))
      .inputFiles.length
    assert(all >= 8, s"expected multi-file index, got $all")
    assert(one < all / 2.0, s"pruned read touched $one of $all files")
  }

  test("mmrTopK matches the hand-worked diversification trace") {
    // corpus: 1 and 2 are identical (near-dup pair), 3 is orthogonal
    // to them with lower relevance — pure top-k would return 1,2,3;
    // MMR must demote the duplicate behind the diverse item.
    val corpus = Seq(
      (1L, Array(0.8f, 0.6f, 0f)),
      (2L, Array(0.8f, 0.6f, 0f)),
      (3L, Array(0.6f, -0.8f, 0f))).toDF("vec_id", "embedding")
    val queries = Seq((100L, Array(1f, 0f, 0f))).toDF("vec_id", "embedding")
    val got = Vectors.mmrTopK(corpus, queries, "vec_id", "embedding",
      candidates = 3, k = 3)
      .orderBy("step").as[(Long, Int, Long, Double, Double)].collect().toSeq
    // step1: pure relevance, tie 1 vs 2 at 0.8 → smaller id 1, mmr λ·0.8
    // step2: marg(2) = 0.8−1.0 vs marg(3) = 0.6−0.0 → 3, mmr 0.3
    // step3: only 2 remains, mmr (0.8−1.0)/2 = −0.1
    assert(got == Seq(
      (100L, 1, 1L, 0.8, 0.4),
      (100L, 2, 3L, 0.6, 0.3),
      (100L, 3, 2L, 0.8, -0.1)), got)
  }

  test("mmrTopK matches a driver-side greedy replay on real embeddings") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val queryIds = Seq(0L, 1L, 2L)
    val C = 6
    val K = 3
    val got = Vectors.mmrTopK(emb, emb.filter(col("vec_id") < 3),
        "vec_id", "embedding", candidates = C, k = K)
      .as[(Long, Int, Long, Double, Double)].collect()
      .groupBy(_._1).view
      .mapValues(_.sortBy(_._2).map(r => (r._3, r._5)).toSeq).toMap
    val want = queryIds.map { q =>
      val pool = vecs.toSeq.filter(_._1 != q)
        .map { case (c, v) => (c, math.round(r6(cosine(vecs(q), v)) * 1e6)) }
        .sortBy { case (c, s) => (-s, c) }.take(C)
      val pairMu = (for ((a, _) <- pool; (b, _) <- pool if a != b)
        yield (a, b) -> math.round(r6(cosine(vecs(a), vecs(b))) * 1e6)).toMap
      var sel = Vector.empty[(Long, Long)]
      var remaining = pool
      for (_ <- 1 to K) {
        val stepScores = remaining.map { case (c, rel) =>
          val ms = if (sel.isEmpty) 0L else sel.map(s => pairMu((c, s._1))).max
          (c, rel - ms)
        }
        val picked = stepScores.minBy { case (c, m) => (-m, c) }
        sel :+= picked
        remaining = remaining.filterNot(_._1 == picked._1)
      }
      q -> sel.map { case (id, m) => (id, m / 2e6) }
    }.toMap
    assert(got == want, s"got=$got want=$want")
  }

  test("mmrTopK refuses degenerate parameters") {
    val emb = Seq((1L, Array(1f, 0f))).toDF("vec_id", "embedding")
    val q = Seq((9L, Array(1f, 0f))).toDF("vec_id", "embedding")
    intercept[IllegalArgumentException] {
      Vectors.mmrTopK(emb, q, "vec_id", "embedding", candidates = 2, k = 3)
    }
    intercept[IllegalArgumentException] {
      Vectors.mmrTopK(emb, q, "vec_id", "embedding", candidates = 3, k = 2,
        lambdaNum = 3, lambdaDen = 2)
    }
  }
}
