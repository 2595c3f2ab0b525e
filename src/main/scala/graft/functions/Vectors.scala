package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`Array[Float]`).
  *
  * Brute-force cosine top-k is the exact baseline: a broadcast of the
  * query set against a full scan of the corpus — at 100 TB this is one
  * narrow pass, no corpus shuffle, O(corpus × queries × dim) flops inside
  * whole-stage codegen via higher-order functions (zip_with/aggregate),
  * then a per-query top-k (window over a small candidate stream).
  *
  * The scale path is LSH bucketing (random hyperplane signatures — the
  * same math as Dedup.simhash but over float vectors): corpus and queries
  * hash to signature buckets; only same-bucket pairs are scored. An IVF
  * variant would k-means the corpus and probe nearest centroids; the
  * hyperplane LSH needs no training pass, so it is the default.
  */
object Vectors {

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column =
    sqrt(aggregate(transform(a, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, v) => acc + v))

  /** Codegen'd native expression (graft.plans.CosineSimilarity): the HOF
    * formulation `aggregate(zip_with(...))` evaluates interpreted and this
    * sits in the innermost loop of every ANN scoring join.
    */
  def cosine(a: Column, b: Column): Column = graft.plans.CosineSimilarity(a, b)

  /** Exact top-k by cosine for each query vector.
    * queries must be broadcast-sized; corpus is never shuffled — the join
    * is a BroadcastNestedLoopJoin producing (queries × corpus) scored rows,
    * reduced by a PARTIAL top-k aggregate (graft.plans.TopKByScore): each
    * map task ships at most k candidates per query to the exchange, so the
    * shuffle is O(queries × k × tasks) instead of O(corpus × queries) — a
    * per-query window over all scored rows would shuffle everything.
    * Similarity is pre-rounded so ranking is reproducible across engines.
    */
  def bruteForceTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
    val c = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("cvec"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("corpus_id"))
      .select(
        col("query_id"), col("corpus_id"),
        round(cosine(col("qvec"), col("cvec")), 6).as("sim"))
    rankTopK(scored, k)
  }

  /** (query_id, corpus_id, sim) → best k per query with dense 1-based
    * rank, via the partial top-k aggregate. The aggregate carries ids as
    * longs: integral id columns are widened here and narrowed back on
    * output; non-integral ids (e.g. string keys) are rejected up front —
    * hash them to a long first if needed.
    */
  private[graft] def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    val idType = scored.schema("corpus_id").dataType
    graft.plans.TopKByScore.requireIntegralId(idType, "top-k")
    scored.groupBy("query_id")
      .agg(graft.plans.TopKByScore.topK(
        col("sim").cast("double"), col("corpus_id").cast("long"), k).as("hits"))
      .select(col("query_id"), posexplode(col("hits")))
      .toDF("query_id", "pos", "hit")
      .select(col("query_id"), col("hit.id").cast(idType).as("corpus_id"),
        col("hit.score").as("sim"), (col("pos") + 1).cast("int").as("rank"))
  }

  /** Maximal Marginal Relevance diversified top-k (Carbonell &
    * Goldstein 1998): from each query's exact top-`candidates` cosine
    * pool, greedily select `k` items maximizing
    * λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s) — the standard
    * redundancy-suppressing re-rank for RAG retrieval and for picking
    * diverse exemplars out of a near-duplicate-heavy corpus.
    *
    * Selection arithmetic is EXACT: the 6-dp-rounded cosines become
    * µ-int longs, and the marginal is kept λ-denominator-scaled as
    * `lambdaNum·rel_µ − (lambdaDen−lambdaNum)·maxsim_µ`, so every
    * comparison the greedy argmax makes is long-vs-long (ties break on
    * the smaller id) — an independent engine unrolling the k steps
    * replays the selection bit-for-bit. maxsim over the empty set is
    * 0: step 1 is the pure-relevance pick. Doubles appear only in the
    * display columns, derived from the exact integers.
    *
    * Scale shape: candidate generation is [[bruteForceTopK]]'s partial
    * top-k (the corpus never ships more than `candidates` rows per
    * task per query); everything after runs on (queries × C) rows —
    * C² pair sims per query and k tiny keyed joins, each selection
    * round `localCheckpoint`ed so iterative lineage stays flat. The
    * sequential k-step loop is inherent to MMR; making each step a
    * keyed argmax over all queries at once is what distributes it.
    *
    * Output: (query_id, step 1..k, corpus_id, rel, mmr) where rel is
    * the query cosine and mmr the λ-weighted marginal at selection.
    */
  def mmrTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      candidates: Int,
      k: Int,
      lambdaNum: Long = 1L,
      lambdaDen: Long = 2L): DataFrame = {
    require(k >= 1 && candidates >= k,
      s"need candidates >= k >= 1, got candidates=$candidates k=$k")
    require(lambdaDen > 0 && lambdaNum >= 0 && lambdaNum <= lambdaDen,
      s"lambda $lambdaNum/$lambdaDen outside [0, 1]")
    val cands = bruteForceTopK(corpus, queries, idCol, vecCol, candidates)
      .select(col("query_id"), col("corpus_id"),
        round(col("sim") * 1e6).cast("long").as("__rel"))
      .localCheckpoint()
    mmrGreedy(cands,
      corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("__v")),
      k, lambdaNum, lambdaDen)
  }

  /** MMR re-rank over a PERSISTED IVF index ([[buildIvfIndex]] /
    * [[appendToIvfIndex]]): candidate pools come from
    * [[ivfSearchIndexed]]'s manifest-pruned cell read instead of
    * [[bruteForceTopK]]'s full corpus rescan — the composition a 100 TB
    * deployment runs (plain mmrTopK re-reads the whole embedding store
    * per query set; here the pool read touches ~nProbe/nlist of the
    * index bytes, and the candidate VECTORS for the pair-similarity
    * step come from that same pruned read, not a second corpus scan).
    * At nProbe = nlist the candidate pool is exact, so the result
    * equals [[mmrTopK]] over the indexed corpus by construction — the
    * q153 gate hashes that equivalence against q142's oracle. Greedy
    * selection arithmetic is [[mmrTopK]]'s, shared via [[mmrGreedy]].
    */
  def mmrTopKIndexed(
      lib: graft.core.Library,
      name: String,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      candidates: Int,
      k: Int,
      nProbe: Int,
      lambdaNum: Long = 1L,
      lambdaDen: Long = 2L): DataFrame = {
    require(k >= 1 && candidates >= k,
      s"need candidates >= k >= 1, got candidates=$candidates k=$k")
    require(lambdaDen > 0 && lambdaNum >= 0 && lambdaNum <= lambdaDen,
      s"lambda $lambdaNum/$lambdaDen outside [0, 1]")
    val (ranked, pool) =
      ivfSearchIndexedWithPool(lib, name, queries, idCol, vecCol,
        candidates, nProbe)
    val cands = ranked
      .select(col("query_id"), col("corpus_id"),
        round(col("sim") * 1e6).cast("long").as("__rel"))
      .localCheckpoint()
    mmrGreedy(cands,
      pool.select(col("corpus_id"), col("vec").as("__v")), k,
      lambdaNum, lambdaDen)
  }

  /** The shared greedy-selection tail of [[mmrTopK]] and
    * [[mmrTopKIndexed]]: `cands` is the per-query candidate pool
    * (query_id, corpus_id, __rel µ-int), `vecs` any (corpus_id, __v)
    * superset of the candidate vectors (semi-joined down here — the
    * corpus for the rescan path, the pruned index read for the
    * persisted path).
    */
  private def mmrGreedy(
      cands: DataFrame,
      vecs: DataFrame,
      k: Int,
      lambdaNum: Long,
      lambdaDen: Long): DataFrame = {
    val lamRel = lambdaNum
    val lamDiv = lambdaDen - lambdaNum
    // Candidate vectors: semi-join against the (small) candidate id set,
    // then pair-score candidates of the same query — (queries × C) rows,
    // C² pairs per query, all broadcast-sized.
    val cvecs = vecs
      .join(broadcast(cands.select("corpus_id").distinct()), Seq("corpus_id"))
    val cv = cands.select(col("query_id"), col("corpus_id"))
      .join(cvecs, Seq("corpus_id"))
      .localCheckpoint()
    val pairs = cv.as("a").join(cv.as("b"),
        col("a.query_id") === col("b.query_id") &&
          col("a.corpus_id") =!= col("b.corpus_id"))
      .select(col("a.query_id").as("query_id"),
        col("a.corpus_id").as("__c"), col("b.corpus_id").as("__s"),
        round(round(cosine(col("a.__v"), col("b.__v")), 6) * 1e6)
          .cast("long").as("__ps"))
      .localCheckpoint()

    // One greedy round: argmax of the den-scaled marginal per query,
    // ties to the smaller corpus_id (struct min is lexicographic).
    def pick(scored: DataFrame, step: Int): DataFrame =
      scored
        .select(col("query_id"), col("corpus_id"), col("__rel"),
          (col("__rel") * lamRel - col("__maxsim") * lamDiv).as("__marg"))
        .groupBy("query_id")
        .agg(min(struct((-col("__marg")).as("n"), col("corpus_id").as("id"),
          col("__rel").as("rel"), col("__marg").as("m"))).as("w"))
        .select(col("query_id"), col("w.id").as("corpus_id"),
          col("w.rel").as("__rel"), col("w.m").as("__marg"),
          lit(step).as("step"))

    var selected = pick(cands.withColumn("__maxsim", lit(0L)), 1)
    var t = 2
    while (t <= k) {
      val maxSim = pairs
        .join(selected.select(col("query_id"), col("corpus_id").as("__s")),
          Seq("query_id", "__s"))
        .groupBy(col("query_id"), col("__c").as("corpus_id"))
        .agg(max(col("__ps")).as("__maxsim"))
      val rem = cands
        .join(selected.select("query_id", "corpus_id"),
          Seq("query_id", "corpus_id"), "left_anti")
        .join(maxSim, Seq("query_id", "corpus_id"), "left")
        .select(col("query_id"), col("corpus_id"), col("__rel"),
          coalesce(col("__maxsim"), lit(0L)).as("__maxsim"))
      selected = selected.union(pick(rem, t)).localCheckpoint()
      t += 1
    }

    selected.select(col("query_id"), col("step"), col("corpus_id"),
      (col("__rel").cast("double") / 1e6).as("rel"),
      (col("__marg").cast("double") / (1e6 * lambdaDen)).as("mmr"))
  }

  /** Embedding dimensionality from the first row — one cheap driver-side
    * action so LSH plane vectors match the data (dim is a plan-time
    * constant, not a per-row value).
    */
  private def inferDim(df: DataFrame, vecCol: String): Int =
    df.select(size(col(vecCol))).head().getInt(0)

  /** Random-hyperplane LSH signature: bit i = sign(v · h_i) where h_i is a
    * deterministic pseudo-random Gaussian hyperplane (fixed seed) — no
    * stored model, reproducible on any cluster. All bits are computed by
    * ONE codegen'd expression (graft.plans.HyperplaneSignature); the
    * Column-composition alternative ran `bits` interpreted HOF folds/row.
    */
  def hyperplaneSignature(vec: Column, bits: Int, dim: Int): Column =
    graft.plans.HyperplaneSignature(vec, planesFor(bits, dim))

  /** The deterministic hyperplane constants behind [[hyperplaneSignature]]
    * — public so a verification oracle can inline them and replay the LSH
    * signatures bit-for-bit in an independent engine.
    */
  def planesFor(bits: Int, dim: Int): Array[Array[Double]] =
    (0 until bits).map { i =>
      val rng = new scala.util.Random(0x9E3779B97F4A7C15L + i)
      Array.fill(dim)(rng.nextGaussian())
    }.toArray

  /** Approximate top-k: score only same-LSH-bucket (query, corpus) pairs.
    * Multi-probe via `bands` signature chunks ([[Kernels.bandKeys]], the
    * split Dedup.simhashPairs and [[cosineNearDupPairs]] use; `bands`
    * must divide `bits`) keeps recall up without widening the shuffle.
    * No bucket cap: the query side broadcasts into a bucket join, so a
    * corpus row meets only the queries of its own buckets.
    */
  def lshTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      bits: Int = 16,
      bands: Int = 4,
      dim: Int = -1): DataFrame = {
    val d = if (dim > 0) dim else inferDim(corpus, vecCol)
    def banded(df: DataFrame, side: String) =
      df.select(col(idCol).as(s"${side}_id"), col(vecCol).as(s"${side}_vec"),
        hyperplaneSignature(col(vecCol), bits, d).as("sig"))
        .select(col(s"${side}_id"), col(s"${side}_vec"),
          Kernels.bandKeys(col("sig"), bits, bands))
        .toDF(s"${side}_id", s"${side}_vec", "chunk", "chunkval")
    val qb = banded(queries, "query")
    val cb = banded(corpus, "corpus")
    val scored = cb.join(broadcast(qb), Seq("chunk", "chunkval"))
      .filter(col("query_id") =!= col("corpus_id"))
      .select(col("query_id"), col("corpus_id"),
        round(cosine(col("query_vec"), col("corpus_vec")), 6).as("sim"))
      .groupBy("query_id", "corpus_id").agg(max("sim").as("sim"))
    rankTopK(scored, k)
  }

  /** ---- IVF (inverted-file) ANN ----
    * Coarse-quantize the corpus into `nlist` cells (deterministic seeded
    * init + `iters` Lloyd passes, every step a DataFrame job), then answer
    * queries by exact-scoring only the `nProbe` nearest cells. The classic
    * trained-partition alternative to hyperplane LSH: at 100 TB the
    * corpus is touched once per Lloyd pass (narrow map over broadcast
    * centroids) and queries scan corpus/nlist×nProbe of the data.
    */
  def ivfCentroids(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      nlist: Int,
      iters: Int = 2): DataFrame = {
    val c = corpus.select(col(idCol).as("cid"), col(vecCol).as("cvec"))
    // deterministic k-seed init: the nlist vectors with smallest id-hash
    var centroids = c
      .orderBy(xxhash64(col("cid")), col("cid"))
      .limit(nlist)
      .select((row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(xxhash64(col("cid")), col("cid"))) - 1).as("cell"),
        col("cvec").as("centroid"))
    (0 until iters).foreach { _ =>
      val assigned = assignCells(c, centroids) // (cid, cvec, cell)
      // Centroid update as ONE partial-aggregating vector-sum: each map
      // task ships a (count, Σ) buffer of dim doubles per cell. The former
      // posexplode formulation shuffled corpus×dim (cell, dim, x) rows per
      // Lloyd pass — the exchange that would dominate a full-corpus train.
      centroids = assigned
        .groupBy("cell")
        .agg(graft.plans.VectorMean.mean(col("cvec")).as("centroid"))
    }
    centroids
  }

  /** Topic clustering: classic squared-L2 Lloyd k-means ASSIGNMENTS
    * (id, cluster, dist) — the corpus-partitioning operator behind
    * cluster-balanced sampling and diversity-aware dedup (ivfCentroids
    * is the cosine/spherical sibling that only serves IVF routing and
    * never exposes assignments). `iters` counts assignment passes: seed
    * → assign → (update → assign) × (iters−1); empty clusters keep
    * their previous centroid.
    *
    * Scale shape (both modes): per iteration ONE narrow corpus pass
    * with the k×dim centroid table broadcast — the table is
    * MATERIALIZED to the driver between iterations (see
    * [[materialized]]; k ≤ 2^16 gated) so the per-iteration plan stays
    * constant-size instead of doubling as lineage; no corpus shuffle
    * ever —
    * production mode updates centroids via the partial vector-sum
    * aggregate (VectorMean: one (count, Σ) buffer of dim doubles per
    * cluster per map task), portable mode via a posexplode keyed on
    * (cluster, dim) whose shuffle is k×dim partials per task.
    *
    * `portable=false` (production): xxhash64-ranked seeds, double
    * centroids, unrounded distances — the fast path for a real corpus.
    * `portable=true` (the q114 gate): every arithmetic step is
    * bit-reproducible on ANY engine — md5-ranked seeds; components
    * quantized to 1e-6 micro-units (round-half-away, exact longs);
    * centroids kept as EXACT integer (Σ micro-units, count) pairs;
    * squared distance compares points against centroids with the
    * denominator multiplied out, Σ_d (q_d·n − S_d)² computed in
    * 38-digit decimals (DuckDB: HUGEINT) and converted to a double
    * only once at the end — so distances are identical doubles on
    * every engine and argmin (tie-break: cluster index) cannot
    * diverge. Integer bounds: |q| ≤ 1e6·max|x|, so the squared terms
    * stay under 10³⁸ for corpora up to ~10⁹ rows per cluster at
    * |x| ≤ 10 — beyond that, use production mode.
    */
  def kmeansAssign(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int = 2,
      portable: Boolean = false): DataFrame = {
    require(k >= 1 && iters >= 1, s"bad kmeans params k=$k iters=$iters")
    require(k <= (1 << 16),
      s"k=$k exceeds 2^16: the centroid table rides the driver between " +
        "iterations and must stay model-sized")
    graft.plans.TopKByScore.requireIntegralId(
      corpus.schema(idCol).dataType, "kmeansAssign")
    val xs = transform(col(vecCol), v => v.cast("double"))
    if (portable) kmeansPortable(corpus, idCol, xs, k, iters)
    else kmeansFast(corpus, idCol, xs, k, iters)
  }

  /** Materialize a centroid table as a driver-local relation: without
    * this, each Lloyd iteration's `cent` is unmaterialized LINEAGE that
    * references the prior `cent` twice (assign + the update join), so
    * the plan doubles per iteration and every prior assignment pass is
    * recomputed — ~2^iters corpus passes instead of one per iteration.
    * The table is k×dim (require-gated ≤ 2^16 rows), so the collect is
    * model-sized; the rebuilt LocalRelation also broadcasts trivially.
    */
  private def materialized(df: DataFrame): DataFrame = {
    val rows = df.collect()
    df.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), df.schema)
  }

  private def kmeansFast(
      corpus: DataFrame, idCol: String, xs: Column, k: Int, iters: Int): DataFrame =
    kmeansFastFull(corpus, idCol, xs, k, iters)._1

  /** [[kmeansFast]] plus the final driver-resident centroid arrays —
    * the fast-mode twin of [[kmeansPortableFull]].
    */
  private[graft] def kmeansFastFull(
      corpus: DataFrame, idCol: String, xs: Column, k: Int, iters: Int)
      : (DataFrame, Array[Array[Double]]) = {
    val pts = corpus.select(col(idCol).as("__kid"), xs.as("__x"))
    // Seeds: the k vectors with smallest id-hash, index = sort position —
    // identical to the former row_number formulation (sorted limit
    // preserves order on collect). The centroid table lives DRIVER-side
    // between iterations (it always did — `materialized` collected it);
    // holding it as raw arrays feeds the codegen'd kernel directly.
    var cent: Array[Array[Double]] =
      pts.orderBy(xxhash64(col("__kid")), col("__kid")).limit(k)
        .select(col("__x")).collect()
        .map(_.getSeq[Double](0).toArray)
    // Assignment is ONE codegen'd narrow map (plans.NearestCentroid):
    // the former crossJoin(broadcast) + interpreted HOF distance +
    // min(struct) re-aggregate materialized n×k rows and ran the inner
    // loop interpreted — sf10 measured 42 s single tasks in that shape
    // (154 s wall for bare kmeansAssign at 200k×391×64; SURVEY.md §17
    // "The NearestCentroid kernel");
    // the kernel replays the identical IEEE arithmetic with zero joins.
    def assign(ct: Array[Array[Double]]): DataFrame =
      pts.select(col("__kid"), col("__x"),
          graft.plans.NearestCentroid(col("__x"),
            new graft.plans.CentroidModel(ct)).as("__m"))
        .select(col("__kid"), col("__x"),
          col("__m").getField("cluster").as("__c"),
          col("__m").getField("dist").as("__d"))
    (1 until iters).foreach { _ =>
      // centroid update: partial vector-sum aggregate, k×dim result rows
      // collect driver-side (k ≤ 2^16 gated); empty clusters keep their
      // previous centroid, as before
      val upd = assign(cent).groupBy("__c")
        .agg(graft.plans.VectorMean.mean(col("__x")).as("__cv1"))
        .collect()
        // VectorMean emits array<float>; widen to double exactly as the
        // former coalesce(array<float>, array<double>) column did, so
        // updated centroids (and thus assignments) stay bit-identical
        .map(r => r.getLong(0).toInt ->
          r.getSeq[Float](1).iterator.map(_.toDouble).toArray)
        .toMap
      cent = cent.indices.map(c => upd.getOrElse(c, cent(c))).toArray
    }
    (assign(cent).select(col("__kid").as(idCol),
      col("__c").cast("int").as("cluster"), round(col("__d"), 6).as("dist")),
      cent)
  }

  private def kmeansPortable(
      corpus: DataFrame, idCol: String, xs: Column, k: Int, iters: Int): DataFrame =
    kmeansPortableFull(corpus, idCol, xs, k, iters)._1

  /** [[kmeansPortable]] plus the FINAL exact-integer centroid table
    * (__c long, __s array<long> Σ micro-units, __n long count) — the
    * model consumers like product quantization's asymmetric distance
    * tables need (assignments alone don't carry the centroids).
    */
  private[graft] def kmeansPortableFull(
      corpus: DataFrame, idCol: String, xs: Column, k: Int, iters: Int)
      : (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val pts = corpus.select(col(idCol).as("__kid"),
      transform(xs, v => round(v * 1e6).cast("long")).as("__q"))
    def seedH = md5(col("__kid").cast("string"))
    val seedW = Window.orderBy(seedH, col("__kid"))
    var cent = materialized(pts.orderBy(seedH, col("__kid")).limit(k)
      .select((row_number().over(seedW) - 1).cast("long").as("__c"),
        col("__q").as("__s"), lit(1L).as("__n")))
    def assign(ct: DataFrame): DataFrame = {
      val num = aggregate(
        zip_with(col("__q"), col("__s"), (p, s) => {
          val d = p * col("__n") - s
          d.cast(dec) * d.cast(dec)
        }),
        lit(java.math.BigDecimal.ZERO).cast(dec), _ + _)
      val d = num.cast("double") /
        ((col("__n") * col("__n")).cast("double") * 1e12)
      pts.crossJoin(broadcast(ct))
        .select(col("__kid"), col("__q"), col("__c"), d.as("__d"))
        .groupBy("__kid")
        .agg(first(col("__q")).as("__q"),
          min(struct(col("__d"), col("__c"))).as("__m"))
        .select(col("__kid"), col("__q"),
          col("__m").getField("__c").as("__c"),
          col("__m").getField("__d").as("__d"))
    }
    (1 until iters).foreach { _ =>
      val a = assign(cent)
      val sums = a.select(col("__c"), posexplode(col("__q")))
        .groupBy(col("__c"), col("pos")).agg(sum(col("col")).as("__sd"))
        .groupBy("__c")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("__sd")))),
          e => e.getField("__sd")).as("__s1"))
      val cnts = a.groupBy("__c").agg(count(lit(1)).as("__n1"))
      cent = materialized(cent.join(sums.join(cnts, "__c"), Seq("__c"), "left")
        .select(col("__c"), coalesce(col("__s1"), col("__s")).as("__s"),
          coalesce(col("__n1"), col("__n")).as("__n")))
    }
    (assign(cent).select(col("__kid").as(idCol),
      col("__c").cast("int").as("cluster"), round(col("__d"), 6).as("dist")),
      cent)
  }

  /** Cluster-balanced subsample: [[kmeansAssign]] topic assignments +
    * keep the `perCluster` MOST CENTRAL members of each cluster
    * (dist asc, ties id asc) — the diversity-preserving corpus
    * reduction (DataComp/SemDeDup-family curation): every discovered
    * topic keeps an equal-size prototype set instead of letting one
    * over-crawled mode dominate the training mix.
    *
    * Plan shape: the per-cluster keeper is a PARTIAL top-k aggregate
    * ([[graft.plans.TopKByScore]] on score = −dist), NOT a window — a
    * billion-member cluster contributes ≤ perCluster pairs per map
    * task, so the exchange is O(k × perCluster × tasks) regardless of
    * cluster skew (the capPerDomain discipline). Output:
    * (cluster, idCol, dist, rank), rank 1..perCluster per cluster.
    */
  def clusterBalancedSample(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      perCluster: Int,
      iters: Int = 2,
      portable: Boolean = false): DataFrame = {
    require(perCluster >= 1, s"bad perCluster $perCluster")
    val idType = corpus.schema(idCol).dataType
    graft.plans.TopKByScore.requireIntegralId(idType, "clusterBalancedSample")
    val asg = kmeansAssign(corpus, idCol, vecCol, k, iters, portable)
    asg.groupBy("cluster")
      .agg(graft.plans.TopKByScore.topK(
        -col("dist"), col(idCol).cast("long"), perCluster).as("__top"))
      .select(col("cluster"), posexplode(col("__top")))
      .select(col("cluster"), col("col.id").cast(idType).as(idCol),
        (-col("col.score")).as("dist"), (col("pos") + 1).cast("int").as("rank"))
  }

  /** Nearest-centroid assignment: one narrow pass over the corpus with the
    * (small) centroid table broadcast; `max_by` picks the arg-max cell.
    */
  private[functions] def assignCells(c: DataFrame, centroids: DataFrame): DataFrame =
    c.crossJoin(broadcast(centroids))
      .select(col("cid"), col("cvec"), col("cell"),
        cosine(col("cvec"), col("centroid")).as("__sim"))
      .groupBy(col("cid"))
      .agg(first(col("cvec")).as("cvec"), max_by(col("cell"), col("__sim")).as("cell"))

  /** Approximate top-k via IVF probing: rank only corpus vectors living in
    * each query's `nProbe` nearest cells; candidate scores are exact
    * cosine, ranking via the partial top-k aggregate.
    */
  def ivfTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nlist: Int = 64,
      nProbe: Int = 8,
      iters: Int = 2): DataFrame = {
    val centroids = ivfCentroids(corpus, idCol, vecCol, nlist, iters)
    val assigned = assignCells(
      corpus.select(col(idCol).as("cid"), col(vecCol).as("cvec")), centroids)
      .select(col("cid").as("corpus_id"), col("cvec"), col("cell"))
    val probes = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
      .crossJoin(broadcast(centroids))
      .select(col("query_id"), col("qvec"), col("cell"),
        cosine(col("qvec"), col("centroid")).as("__sim"))
      .groupBy("query_id")
      .agg(first(col("qvec")).as("qvec"),
        graft.plans.TopKByScore.topK(col("__sim"), col("cell").cast("long"), nProbe)
          .as("cells"))
      .select(col("query_id"), col("qvec"),
        explode(transform(col("cells"), e => e.getField("id"))).as("cell"))
    val scored = assigned.join(broadcast(probes), Seq("cell"))
      .filter(col("query_id") =!= col("corpus_id"))
      .select(col("query_id"), col("corpus_id"),
        round(cosine(col("qvec"), col("cvec")), 6).as("sim"))
    rankTopK(scored, k)
  }

  /** Persist a trained IVF index through the Library layer — build once,
    * probe many (re-training per query, [[ivfTopK]]'s shape, is a dev
    * convenience; a 100 TB embedding store trains ONCE and every search
    * after that must touch only its probed cells). Two symbols:
    *  - `<name>__centroids`: (cell, centroid) — the routing table, tiny;
    *  - `<name>__index`: (cell, corpus_id, vec) written SORTED on the
    *    `cell` index column in bounded files with footer + column stats,
    *    so a probe's cell filter PRUNES FILES: at nlist=1024 / nProbe=8
    *    a search reads ~8/1024 of the index bytes (spec-pinned via the
    *    pruning plan). Versioning, snapshots and as-of reads come free
    *    from the Library layer — an index rebuild is just a new version.
    */
  def buildIvfIndex(
      lib: graft.core.Library,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      name: String,
      nlist: Int,
      iters: Int = 2,
      targetRows: Long = 100000L): Unit = {
    val centroids = ivfCentroids(corpus, idCol, vecCol, nlist, iters)
      .select(col("cell").cast("long").as("cell"), col("centroid"))
    lib.write(s"${name}__centroids", centroids, Some("cell"))
    val assigned = assignCells(
      corpus.select(col(idCol).as("cid"), col(vecCol).as("cvec")),
      centroids.select(col("cell").cast("int").as("cell"), col("centroid")))
      .select(col("cell").cast("long").as("cell"),
        col("cid").as("corpus_id"), col("cvec").as("vec"))
    lib.write(s"${name}__index", assigned, Some("cell"), targetRows = targetRows)
  }

  /** Fold a NEW embedding batch into a persisted IVF index — the
    * classic add-without-retrain path: vectors assign to the nearest
    * EXISTING trained centroid (the routing table is immutable after
    * build; train-once is the contract that makes increments cheap —
    * [[buildIvfIndex]] is the rebuild path when drift accumulates) and
    * the assigned rows APPEND to the index symbol as a new version.
    * `validateIndex = false` deliberately: an increment spans the whole
    * cell range, the out-of-order append the sorted-append contract
    * exempts for index symbols whose reads always filter (the same
    * stance as the MinHash and BM25 index folds); the commit path still
    * sorts the increment itself on `cell`, so each appended file stays
    * cell-contiguous and probe-time manifest pruning keeps biting
    * inside every increment. A probe after N appends is identical to a
    * probe after one build over the union with the same centroids —
    * the q144 gate hashes that equivalence end to end.
    */
  def appendToIvfIndex(
      lib: graft.core.Library,
      name: String,
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      targetRows: Long = 100000L): Unit = {
    val centroids = lib.read(s"${name}__centroids")
    val assigned = assignCells(
      batch.select(col(idCol).as("cid"), col(vecCol).as("cvec")),
      centroids.select(col("cell").cast("int").as("cell"), col("centroid")))
      .select(col("cell").cast("long").as("cell"),
        col("cid").as("corpus_id"), col("cvec").as("vec"))
    lib.append(s"${name}__index", assigned, targetRows,
      validateIndex = false)
  }

  /** Probe a [[buildIvfIndex]] index: route queries to their nProbe best
    * cells against the (broadcast) centroid symbol, read ONLY those
    * cells from the index symbol (the probed cell set is bounded by
    * queries × nProbe — the query side of a search is small by
    * construction — and drives index-range file pruning), rescore with
    * exact cosine, rank with the partial top-k aggregate. At
    * nProbe = nlist the result is exact by construction (the q52 gate
    * argument), which is how q110 hard-gates this whole persisted path.
    */
  def ivfSearchIndexed(
      lib: graft.core.Library,
      name: String,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nProbe: Int): DataFrame =
    ivfSearchIndexedWithPool(lib, name, queries, idCol, vecCol, k, nProbe)._1

  /** [[ivfSearchIndexed]] plus the manifest-pruned candidate pool it
    * read — (ranked top-k, pool (cell, corpus_id, vec)) — so composed
    * operators ([[mmrTopKIndexed]]) can reuse the SAME pruned cell read
    * for their pair-similarity vectors instead of re-scanning the
    * corpus or re-reading the index.
    */
  private[graft] def ivfSearchIndexedWithPool(
      lib: graft.core.Library,
      name: String,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nProbe: Int): (DataFrame, DataFrame) = {
    val centroids = lib.read(s"${name}__centroids")
    val probes = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
      .crossJoin(broadcast(centroids))
      .select(col("query_id"), col("qvec"), col("cell"),
        cosine(col("qvec"), col("centroid")).as("__sim"))
      .groupBy("query_id")
      .agg(first(col("qvec")).as("qvec"),
        graft.plans.TopKByScore.topK(col("__sim"), col("cell"), nProbe)
          .as("cells"))
      .select(col("query_id"), col("qvec"),
        explode(transform(col("cells"), e => e.getField("id"))).as("cell"))
    val cells = probes.select("cell").distinct()
      .collect().map(_.getLong(0)).sorted
    // contiguous cell ranges collapse to dateRange-style bounds; isin
    // over the expression AST prunes per-file via the index stats
    val idx = lib.read(s"${name}__index",
      exprFilter = Some(graft.query.Expr.col("cell").isin(cells: _*)))
    val scored = idx.join(broadcast(probes), Seq("cell"))
      .filter(col("query_id") =!= col("corpus_id"))
      .select(col("query_id"), col("corpus_id"),
        round(cosine(col("qvec"), col("vec")), 6).as("sim"))
    (rankTopK(scored, k), idx)
  }

  /** Embedding near-duplicate REMOVAL: cosine pairs → connected
    * components → keep the canonical (min-id) row per cluster — the
    * embedding-space twin of Dedup.dropNearDuplicates, sharing its
    * clustering. Recall is the LSH pair recall (bits/bands dial); kept
    * rows are exact canonical representatives of the discovered clusters.
    */
  def dropEmbeddingNearDuplicates(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      bits: Int = 64,
      bands: Int = 8,
      dim: Int = -1,
      maxBucket: Int = 10000): DataFrame = {
    val pairs = cosineNearDupPairs(df, idCol, vecCol, threshold, bits, bands, dim, maxBucket)
      .select(col("id_a"), col("id_b"))
    val losers = graft.functions.Dedup.duplicateClusters(pairs)
      .filter(col("id") =!= col("cluster_id"))
      .select(col("id"))
    df.join(losers, df(idCol) === losers("id"), "left_anti")
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): k-means cluster the
    * embeddings, find within-cluster cosine pairs ≥ `eps`, connect them
    * into duplicate groups, and from each group KEEP the member farthest
    * from its cluster centroid (max kmeans dist, ties to the lower id) —
    * the paper's low-centroid-similarity keeper, which preserves the
    * cluster's diversity rather than its mode. The clustering replaces
    * LSH as the candidate generator ([[cosineNearDupPairs]] is the LSH
    * sibling): candidates are exactly the within-cluster pairs, so
    * recall is governed by k, not by band geometry.
    *
    * Scale shape: one kmeans pass (broadcast centroids, no corpus
    * shuffle), then ONE shuffle of (id, vec, cluster) keyed by cluster
    * for the pair join — within-cluster scoring is O(Σᵢ cᵢ²), the
    * SemDeDup design point (the paper runs k = 50k on 100M+ points).
    * The k ∝ n envelope is ENFORCED: `k <= 0` (the default) derives
    * k = ⌈n / targetMeanCluster⌉ from one corpus count, and an explicit
    * k failing n/k ≤ maxMeanCluster throws before the pair join runs —
    * a fixed k on a growing corpus is a quadratic, not a parameter
    * choice. `maxCluster` skips
    * pathological clusters via the groupBy-count → anti-join cap
    * (counter rows shuffle, a mega-cluster is never buffered on one
    * task) — capped clusters keep all their members.
    * Groups come from [[graft.functions.Dedup.duplicateClusters]]
    * (iterative min-label propagation, no driver graph).
    *
    * Output (the report): (idCol, cluster, dist, group_id, group_n,
    * kept) — group_id is null for rows with no within-cluster
    * near-duplicate (group_n 1, kept true). [[semDedup]] returns the
    * surviving rows of `df` directly.
    */
  def semDedupReport(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int = -1,
      eps: Double = 0.95,
      iters: Int = 2,
      portable: Boolean = false,
      maxCluster: Int = 100000,
      targetMeanCluster: Int = 512,
      maxMeanCluster: Int = 10000): DataFrame = {
    require(eps >= -1 && eps <= 1, s"eps $eps outside [-1,1]")
    val (assign, inCap) =
      clusteredVectors(df, idCol, vecCol, k, iters, portable, maxCluster,
        targetMeanCluster, maxMeanCluster)
    val pairs = inCap.as("x")
      .join(inCap.as("y"),
        col("x.cluster") === col("y.cluster") &&
          col("x.__sid") < col("y.__sid"))
      .select(col("x.__sid").as("id_a"), col("y.__sid").as("id_b"),
        round(cosine(col("x.__v"), col("y.__v")), 6).as("sim"))
      .filter(col("sim") >= eps)
    val comp = graft.functions.Dedup
      .duplicateClusters(pairs.select("id_a", "id_b"))
      .select(col("id"), col("cluster_id").as("group_id"))
    val withDist = comp.join(
      assign.select(col(idCol).as("id"), col("dist")), Seq("id"))
    // keeper per group: max dist, ties to the LOWER id — negate the
    // always-numeric DIST, never the id: `-id` on a string id column
    // casts to double and yields null, which would silently mark every
    // group member kept (the dropNearDuplicatesByQuality.best pattern).
    // All zeros negate to -0.0 uniformly, so no mixed ±0.0 ordering.
    val keepers = withDist.groupBy("group_id")
      .agg(min(struct((-col("dist")).as("nd"), col("id").as("i"))).as("__k"),
        count(lit(1)).as("group_n"))
      .select(col("group_id"), col("__k.i").as("__keep"), col("group_n"))
    val marks = withDist.join(keepers, Seq("group_id"))
      .select(col("id"), col("group_id"), col("group_n"),
        (col("id") === col("__keep")).as("kept"))
    assign
      .join(marks.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .select(col(idCol), col("cluster"), col("dist"), col("group_id"),
        coalesce(col("group_n"), lit(1L)).as("group_n"),
        coalesce(col("kept"), lit(true)).as("kept"))
  }

  /** Shared front half of the cluster-candidate operators
    * ([[semDedupReport]], [[mineContrastivePairs]]): the kmeans
    * assignment — MATERIALIZED once, since it feeds several consumers
    * and iterative loops whose analysis would otherwise re-walk the
    * kmeans lineage exponentially — plus the capped (cluster, __sid,
    * dist, __v) row set (groupBy-count → anti-join population cap:
    * counter rows shuffle, no cluster is buffered on one task). Not
    * [[Kernels.bucketPairs]]' star rule: an over-cap cluster is dropped
    * whole, since its consumers pick keepers and contrastive pairs per
    * cluster rather than connecting components.
    */
  private def clusteredVectors(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int,
      portable: Boolean,
      maxCluster: Int,
      targetMeanCluster: Int,
      maxMeanCluster: Int): (DataFrame, DataFrame) = {
    // ---- the k ∝ n envelope, ENFORCED, not just documented ----
    // Within-cluster pair cost is Σᵢ|cᵢ|² ≈ n·(n/k) when balanced: hold
    // k fixed while the corpus grows 100× and the pair join grows 100×
    // per cluster — the one super-linear shuffle measured at sf5
    // (11.3 s/22.8 MB → 32.5 s/597.6 MB with fixed k; SURVEY.md §16
    // "ScaleProbe: round-13 operators"). SemDeDup's
    // own prescription is k ∝ n (the paper runs k = 50k on 100M+
    // points). So: k ≤ 0 derives k = ⌈n / targetMeanCluster⌉ from one
    // corpus count, and an EXPLICIT k must keep the expected mean
    // cluster n/k within maxMeanCluster or fail loudly here, before
    // the quadratic join ever runs.
    val n = df.count()
    val kEff =
      if (k > 0) k
      else math.max(1L, (n + targetMeanCluster - 1) / targetMeanCluster)
        .min(1L << 16).toInt
    require(n <= kEff.toLong * maxMeanCluster,
      s"semantic-dedup envelope: n=$n with k=$kEff gives expected mean " +
        s"cluster ${n / kEff} > maxMeanCluster=$maxMeanCluster — the " +
        "within-cluster pair join grows as Σ|c|²; scale k with the corpus " +
        "(SemDeDup prescribes k ∝ n), pass k <= 0 to derive it, or raise " +
        "maxMeanCluster deliberately")
    val assign = kmeansAssign(df, idCol, vecCol, kEff, iters, portable)
      .localCheckpoint(true)
    val a = assign
      .join(df.select(col(idCol), col(vecCol).as("__v")), Seq(idCol))
      .select(col(idCol).as("__sid"), col("cluster"), col("dist"), col("__v"))
    val big = a.groupBy("cluster").agg(count(lit(1)).as("__n"))
      .filter(col("__n") > maxCluster).select("cluster")
    (assign, a.join(big, Seq("cluster"), "left_anti"))
  }

  /** Contrastive training-pair mining over the kmeans candidate space —
    * the (anchor, positive, hard-negative) generator embedding-model
    * fine-tuning pipelines run over a corpus:
    *   - POSITIVES: same-cluster pairs with cosine ≥ `posLo` (near
    *     paraphrases; exact duplicates should be SemDeDup'd away first),
    *   - HARD NEGATIVES: same-cluster pairs with cosine < `negHi` —
    *     close in coarse (cluster) space yet dissimilar, the negatives
    *     that actually teach a contrastive loss (random negatives are
    *     trivially easy; in-cluster ones are not).
    * Each anchor keeps its `perAnchor` best per label — positives by
    * similarity desc, negatives HARDEST FIRST (highest cosine below the
    * bar) — via the partial top-k aggregate (TopKByScore: no per-anchor
    * window, O(anchors × k) exchange). Pairs mine in both orientations
    * (each side anchors). Output: (anchor, other, sim, label, rank).
    */
  def mineContrastivePairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      posLo: Double,
      negHi: Double,
      perAnchor: Int = 3,
      iters: Int = 2,
      portable: Boolean = false,
      maxCluster: Int = 100000,
      targetMeanCluster: Int = 512,
      maxMeanCluster: Int = 10000): DataFrame = {
    require(posLo > negHi,
      s"posLo $posLo must exceed negHi $negHi — overlapping bands would " +
        "emit one pair as both positive and negative")
    require(perAnchor >= 1, s"perAnchor $perAnchor must be >= 1")
    val idType = df.schema(idCol).dataType
    val (_, inCap) =
      clusteredVectors(df, idCol, vecCol, k, iters, portable, maxCluster,
        targetMeanCluster, maxMeanCluster)
    val scored = inCap.as("x")
      .join(inCap.as("y"),
        col("x.cluster") === col("y.cluster") &&
          col("x.__sid") =!= col("y.__sid"))
      .select(col("x.__sid").as("anchor"), col("y.__sid").as("other"),
        round(cosine(col("x.__v"), col("y.__v")), 6).as("sim"))
    val labeled = scored
      .select(col("anchor"), col("other"), col("sim"),
        when(col("sim") >= posLo, lit("pos"))
          .when(col("sim") < negHi, lit("neg")).as("label"))
      .filter(col("label").isNotNull)
    labeled
      .groupBy("anchor", "label")
      .agg(graft.plans.TopKByScore.topK(
        col("sim"), col("other").cast("long"), perAnchor).as("__top"))
      .select(col("anchor"), col("label"), posexplode(col("__top")))
      .select(col("anchor"), col("col.id").cast(idType).as("other"),
        col("col.score").as("sim"), col("label"),
        (col("pos") + 1).cast("int").as("rank"))
  }

  /** The surviving rows of SemDeDup — `df` minus every non-keeper member
    * of a semantic duplicate group (see [[semDedupReport]]).
    */
  def semDedup(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int = -1,
      eps: Double = 0.95,
      iters: Int = 2,
      portable: Boolean = false,
      maxCluster: Int = 100000,
      targetMeanCluster: Int = 512,
      maxMeanCluster: Int = 10000): DataFrame =
    df.join(
      semDedupReport(df, idCol, vecCol, k, eps, iters, portable, maxCluster,
        targetMeanCluster, maxMeanCluster)
        .filter(col("kept")).select(col(idCol)),
      Seq(idCol), "left_semi")

  /** Embedding-space decontamination: drop every corpus row whose cosine
    * against ANY eval vector reaches `threshold`. EXACT by construction —
    * the eval set is benchmark-sized, so it broadcasts and the corpus is
    * scored in one narrow codegen'd pass (no LSH, no corpus shuffle, no
    * recall argument); the only shuffle is none at all — the anti-join
    * side is the corpus's own contaminated-id set, computed inline.
    * The text-space twin is Dedup.decontaminate (n-gram Jaccard).
    */
  def decontaminateByEmbedding(
      corpus: DataFrame,
      eval: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double): DataFrame = {
    val ev = eval.select(col(vecCol).as("__evec"))
    val hits = corpus.select(col(idCol).as("__cid"), col(vecCol).as("__cvec"))
      .crossJoin(broadcast(ev))
      .filter(round(cosine(col("__cvec"), col("__evec")), 6) >= threshold)
      .select(col("__cid")).distinct()
    corpus.join(hits, corpus(idCol) === hits("__cid"), "left_anti")
  }

  /** Embedding-cosine near-duplicate pairs: all (a, b) with cosine ≥
    * threshold, via LSH buckets (exact within-bucket scoring — precision
    * is always 1; bits/bands set recall). Output: (id_a, id_b, sim),
    * id_a < id_b, sim rounded to 6 places.
    *
    * Defaults (64 bits / 8 bands ⇒ 8-bit chunks, 8×256 buckets) target
    * the TRUE near-dup regime: a cosine-0.9 pair shares some chunk with
    * p ≈ 0.93, cosine-0.95 with p ≈ 0.99. The old 16/4 default (4-bit
    * chunks — 64 buckets total) made every bucket's population grow
    * linearly in the corpus, trending the bucket pairing to O(n²/64). For
    * LOW thresholds (broad clustering, e.g. ≤0.5) pass narrower chunks —
    * more bands per bit, e.g. bits=16, bands=8 — and accept deeper
    * buckets; sub-0.9 recall math: p = (1 − arccos(t)/π)^(bits/bands)
    * per band. `bands` must divide `bits`.
    *
    * Candidates come from [[Kernels.scoredBucketPairs]], the sorted
    * bucket runs Dedup's MinHash and SimHash pairs use, and each vector
    * joins onto its pairs by id, so it crosses a shuffle once per id,
    * not once per band. `maxBucket` means pairwise at or below,
    * star-linked above: a (chunk, chunkval) bucket of more than
    * `maxBucket` vectors links each member to its min id instead of
    * pairing all-ways — the skew/saturation guard. A saturated bucket
    * usually means a mass of EXACT duplicates or a degenerate embedding
    * (all-zero vectors hash identically); the star bounds pair
    * generation while the mass stays one connected component for
    * [[dropEmbeddingNearDuplicates]], trading recall only on near pairs
    * inside over-populated buckets. A repeated id never pairs with
    * itself.
    */
  def cosineNearDupPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      bits: Int = 64,
      bands: Int = 8,
      dim: Int = -1,
      maxBucket: Int = 10000): DataFrame = {
    val d = if (dim > 0) dim else inferDim(df, vecCol)
    val vecs = df.filter(col(idCol).isNotNull).select(col(idCol).as("id"), col(vecCol).as("vec"))
    val chunks = vecs.select(col("id"),
        Kernels.bandKeys(hyperplaneSignature(col("vec"), bits, d), bits, bands))
      .toDF("id", "chunk", "chunkval")
    Kernels.scoredBucketPairs(vecs, chunks, maxBucket)(
        (a, b) => round(cosine(a, b), 6).as("sim"))
      .filter(col("sim") >= threshold)
      // a repeated id joins once per copy; identical copies score alike
      .distinct()
  }

  /** Scalar int8 quantization of an embedding column — the 4×
    * compression step run before indexing a 100 TB embedding store.
    * Per-dimension affine codes: code_d = round((x_d − min_d)/scale_d),
    * scale_d = (max_d − min_d)/255, constant dims → 0.
    *
    * Shape at scale: the per-dimension bounds aggregate to exactly `dim`
    * rows (posexplode → min/max with partial aggregation — the shuffle
    * is dimension-bounded, never corpus-bounded), collect legitimately
    * (require dim ≤ 8192), and quantization itself is ONE shuffle-free
    * narrow map (graft.plans.QuantizeVec — no explode, no join).
    * Output: (idCol, codes array<int>); pair with [[dequantizeInt8]]
    * for reconstruction.
    */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val model = fitQuantModel(df, vecCol)
    df.select(col(idCol),
      graft.plans.QuantizeVec(col(vecCol), model).as("codes"))
  }

  /** Per-dimension corpus bounds as a broadcastable model — the stats
    * aggregate is dimension-bounded (partial aggregation), the collect
    * gated at dim ≤ 8192.
    */
  private[graft] def fitQuantModel(
      df: DataFrame, vecCol: String): graft.plans.QuantModel = {
    val dim = inferDim(df, vecCol)
    require(dim <= 8192,
      s"embedding dim $dim exceeds the 8192 bound for the driver-side model")
    val stats = df
      .select(posexplode(col(vecCol)))
      .groupBy("pos")
      .agg(min(col("col").cast("double")).as("mn"),
        max(col("col").cast("double")).as("mx"))
      .collect()
    // ragged embedding columns would index past the first-row dim (an
    // unexplained AIOOBE) or under-specify the model — gate loudly
    require(stats.length == dim && stats.forall(r => r.getInt(0) < dim),
      s"ragged embedding column: first row has $dim dims but the corpus " +
        s"has positions ${stats.map(_.getInt(0)).sorted.mkString(",")}")
    val mins = new Array[Double](dim)
    val maxs = new Array[Double](dim)
    stats.foreach { r =>
      mins(r.getInt(0)) = r.getDouble(1)
      maxs(r.getInt(0)) = r.getDouble(2)
    }
    new graft.plans.QuantModel(mins, maxs)
  }

  /** Asymmetric quantized search: exact FLOAT queries scored against the
    * int8-DEQUANTIZED corpus (the standard quantized-index read path —
    * queries stay full precision, only the stored side pays the
    * compression error). Same scale shape as [[bruteForceTopK]]:
    * broadcast queries × narrow corpus scan, partial top-k aggregate;
    * quantize → dequantize both ride shuffle-free kernels.
    */
  def quantizedTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    val model = fitQuantModel(corpus, vecCol)
    val c = corpus.select(col(idCol).as("corpus_id"),
      graft.plans.DequantizeVec(
        graft.plans.QuantizeVec(col(vecCol), model), model).as("cvec"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("corpus_id"))
      .select(
        col("query_id"), col("corpus_id"),
        round(cosine(col("qvec"), col("cvec")), 6).as("sim"))
    rankTopK(scored, k)
  }

  /** Reconstruction of [[quantizeInt8]] codes given the same corpus
    * bounds: x̂_d = min_d + code_d · scale_d (exposed for specs and
    * downstream rescoring; max per-dim error is scale_d / 2).
    */
  private[graft] def dequantizeInt8(
      codes: Array[Int], mins: Array[Double], maxs: Array[Double]): Array[Double] =
    codes.indices.map { d =>
      val scale = (maxs(d) - mins(d)) / 255.0
      mins(d) + codes(d) * scale
    }.toArray
}
