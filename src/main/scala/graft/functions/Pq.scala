package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Product quantization (Jégou, Douze, Schmid 2011, "Product
  * Quantization for Nearest Neighbor Search") — the compression layer a
  * 100 TB embedding store actually deploys: split each vector into `m`
  * subvectors, k-means each subspace independently (`ksub` centroids),
  * and store one small code per subspace — m bytes per vector at
  * ksub ≤ 256 vs 4·dim for floats (64× at dim 64 / m 2 … 256× at
  * dim 1024 / m 16). Search runs ASYMMETRICALLY (ADC): the full-precision
  * query builds one (m × ksub) distance table, and each corpus vector's
  * approximate distance is the sum of m table lookups — no decompression,
  * no per-pair float math.
  *
  * Scale shape: training is m independent [[Vectors.kmeansAssign]]
  * passes over SLICED vectors (fast mode rides the codegen'd
  * NearestCentroid kernel — one narrow map per pass, no joins); encoding
  * IS the final assignment (no second scan); search joins the per-sub
  * code column against the BROADCAST per-query distance tables and
  * partial-aggregates the m-term sum per (query, corpus) — the only
  * exchange carries (query, corpus, partial-sum) longs, never vectors.
  *
  * Determinism contract (portable mode, the q155 gate): subspace k-means
  * is [[Vectors.kmeansPortableFull]] (md5 seeds, exact integer
  * centroids, multiplied-out decimal distances — the q114 machinery per
  * subspace), per-(query, sub, centroid) distances FLOOR-quantize to
  * µ-int longs (floor is pure binary — no decimal-string rounding
  * hazard), and the ADC score is an order-free long sum, so ranking
  * compares exact integers and an independent engine replays the whole
  * pipeline bit-for-bit.
  */
object Pq {

  /** PQ codes: (idCol, codes array<int> of length m). Encoding is the
    * subspace assignment itself — m sliced kmeans passes joined back
    * id-keyed (fast mode: each pass is one codegen'd narrow map).
    */
  def pqCodes(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      m: Int,
      ksub: Int,
      iters: Int = 2,
      portable: Boolean = false): DataFrame = {
    val subs = subAssignments(df, idCol, vecCol, m, ksub, iters, portable)
    codesFrame(df, idCol, vecCol, subs, m)
  }

  /** Asymmetric-distance top-k: for each query, the `k` corpus vectors
    * with the smallest summed subspace distance (squared L2, µ-int
    * longs), ties to the smaller id; query rows never match themselves.
    * Output: (query_id, corpus_id, adc, rank) with adc = score / 1e6.
    *
    * Exact arithmetic end to end in portable mode; fast mode uses the
    * same plan with double centroid tables (production path). Queries
    * must be broadcast-sized (they build per-query distance tables).
    */
  def pqTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      m: Int,
      ksub: Int,
      iters: Int = 2,
      portable: Boolean = false): DataFrame = {
    require(k >= 1, s"bad k $k")
    val subs = subAssignments(corpus, idCol, vecCol, m, ksub, iters, portable)
    val dim = corpus.select(size(col(vecCol))).head().getInt(0)
    val sublen = dim / m
    val qt = flatTables(
      queryTables(queries, idCol, vecCol, m, sublen,
        s => subs(s)._2), m, ksub)
    val codes = codesFrame(corpus, idCol, vecCol, subs, m)
      .withColumnRenamed(idCol, "corpus_id")
    adcRank(codes, qt, ksub, k)
  }

  /** ADC scoring + ranking tail shared by every PQ search path: corpus
    * codes crossJoin the BROADCAST per-query flat tables, the codegen'd
    * [[graft.plans.AdcScore]] kernel sums m lookups per row (no
    * explode, no code join, no re-aggregate), and the partial top-k
    * ranks the NEGATED exact long — smallest distance first, ties to
    * the smaller corpus_id; never a corpus-wide window.
    */
  private def adcRank(
      codes: DataFrame, qt: DataFrame, ksub: Int, k: Int): DataFrame = {
    val scored = codes.crossJoin(broadcast(qt))
      .filter(col("query_id") =!= col("corpus_id"))
      .select(col("query_id"), col("corpus_id"),
        (-graft.plans.AdcScore(col("codes"), col("__table"), ksub))
          .cast("double").as("sim"))
    val ranked = Vectors.rankTopK(scored, k)
    ranked.select(col("query_id"), col("corpus_id"),
      ((-col("sim")).cast("long").cast("double") / 1e6).as("adc"), col("rank"))
  }

  /** The per-sub (sub, query_id, __c, __qd) distance-table rows. */
  private def queryTables(
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      m: Int,
      sublen: Int,
      centOf: Int => DataFrame): DataFrame =
    (0 until m).map { s =>
      val qslice = queries.select(col(idCol).as("query_id"),
        slice(col(vecCol), s * sublen + 1, sublen).as("__qv"))
      distTable(qslice, centOf(s))
        .select(lit(s).as("__sub"), col("query_id"), col("__c"), col("__qd"))
    }.reduce(_.unionByName(_))

  /** Per-query FLAT ADC tables (query_id, __table array<long> of
    * m × ksub) — collected driver-side (queries are broadcast-sized by
    * contract; the entry bound fails loudly, not by OOM) and rebuilt as
    * a local relation so [[graft.plans.AdcScore]] reads each row's
    * table with flat array indexing.
    */
  private val MaxTableEntries = 1 << 22
  private def flatTables(
      tables: DataFrame, m: Int, ksub: Int): DataFrame = {
    val spark = tables.sparkSession
    val qidType = tables.schema("query_id").dataType
    val rows = tables.limit(MaxTableEntries + 1).collect()
    require(rows.length <= MaxTableEntries,
      s"query ADC tables exceed $MaxTableEntries entries — split the " +
        "query batch")
    import scala.jdk.CollectionConverters._
    val out = rows.groupBy(_.get(1)).map { case (qid, rs) =>
      val arr = new Array[Long](m * ksub)
      java.util.Arrays.fill(arr, Long.MaxValue / (2L * m)) // missing = far
      rs.foreach { r =>
        arr(r.getInt(0) * ksub + r.getLong(2).toInt) = r.getLong(3)
      }
      org.apache.spark.sql.Row(qid, arr.toSeq)
    }.toSeq
    spark.createDataFrame(out.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("query_id", qidType),
        org.apache.spark.sql.types.StructField("__table",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.LongType)))))
  }

  /** The (idCol, codes array<int>) frame from per-sub assignments. Fast
    * mode encodes all m subspaces in ONE codegen'd narrow map over the
    * raw centroid arrays (zero joins — and bit-identical to the
    * per-sub assignment frames, which ran the same NearestCentroid over
    * the same final centroids); portable assembles the m exact decimal
    * assignment frames with id-keyed joins (the oracle path).
    */
  private def codesFrame(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      subs: Seq[(DataFrame, DataFrame, Option[Array[Array[Double]]])],
      m: Int): DataFrame =
    if (subs.forall(_._3.isDefined)) {
      val sublen = subs.head._3.get.head.length
      df.select(col(idCol),
        array(subs.zipWithIndex.map { case ((_, _, raw), s) =>
          graft.plans.NearestCentroid(
            transform(slice(col(vecCol), s * sublen + 1, sublen),
              v => v.cast("double")),
            new graft.plans.CentroidModel(raw.get)).getField("cluster")
            .cast("int")
        }: _*).as("codes"))
    } else {
      subs.zipWithIndex
        .map { case ((assign, _, _), s) =>
          assign.select(col(idCol), col("cluster").cast("int").as(s"__pq$s"))
        }
        .reduce(_.join(_, Seq(idCol)))
        .select(col(idCol),
          array((0 until m).map(s => col(s"__pq$s")): _*).as("codes"))
    }

  /** ---- Persisted PQ index: the compressed embedding store ----
    *
    * The PQ sibling of Vectors.buildIvfIndex / Dedup.buildMinhashIndex:
    * train the subspace codebooks ONCE, persist codebook + codes
    * through the Library layer, and fold new embedding batches in by
    * encoding against the FIXED codebook (add-without-retrain — the
    * same immutable-routing contract as the IVF increment). Three
    * symbols:
    *  - `<name>__meta`: one row (m, ksub, dim, portable) — encode
    *    parameters are part of the index identity (minhash precedent);
    *  - `<name>__codebook`: (sub, c, centroid array<double>,
    *    s array<long>, n long) — fast mode assigns/scores from the
    *    lossless double centroids, portable mode from the exact
    *    integer (Σµ, n) pairs, so EITHER mode's append reproduces its
    *    build-time assignment bit-for-bit;
    *  - `<name>__codes`: (idCol, codes array<int>) — m small ints per
    *    vector, 4·dim/m× smaller than the floats; written id-sorted,
    *    increments append unordered (validateIndex = false, the index
    *    fold exemption).
    * A search scans ONLY the codes symbol (PQ's design point: the code
    * table is ~1-2% of vector bytes) plus the tiny codebook.
    */
  def buildPqIndex(
      lib: graft.core.Library,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      name: String,
      m: Int,
      ksub: Int,
      iters: Int = 2,
      portable: Boolean = false,
      targetRows: Long = 100000L): Unit = {
    import corpus.sparkSession.implicits._
    val dim = corpus.select(size(col(vecCol))).head().getInt(0)
    lib.write(s"${name}__meta",
      Seq((m, ksub, dim, portable)).toDF("m", "ksub", "dim", "portable"))
    val subs = subAssignments(corpus, idCol, vecCol, m, ksub, iters, portable)
    // fast mode persists the RAW training centroids (doubles roundtrip
    // parquet losslessly), so append-time assignment is bit-identical
    // to build-time; portable derives the display centroid from the
    // exact integers it assigns with anyway
    writeCodebook(lib, name, subs, corpus.sparkSession)
    lib.write(s"${name}__codes", codesFrame(corpus, idCol, vecCol, subs, m),
      Some(idCol), targetRows = targetRows)
  }

  /** Encode a NEW embedding batch against the persisted codebook and
    * append its codes — add-without-retrain (the codebook is immutable
    * after build; rebuild when drift accumulates). Assignment uses the
    * index's own stored mode: portable replays the exact decimal argmin
    * the build ran, fast the codegen'd NearestCentroid over the
    * lossless double centroids — so an appended vector gets the SAME
    * code the one-shot build would have given it, which is what the
    * q156 equivalence gate hashes. Same unseen-ids contract as every
    * other index fold.
    */
  def appendToPqIndex(
      lib: graft.core.Library,
      batch: DataFrame,
      name: String,
      idCol: String,
      vecCol: String,
      targetRows: Long = 100000L): Unit = {
    val (m, ksub, dim, portable) = pqMeta(lib, name)
    require(ksub >= 1 && dim % m == 0, s"corrupt pq meta m=$m dim=$dim")
    val sublen = dim / m
    val book = lib.read(s"${name}__codebook")
    val codes = (0 until m).map { s =>
      val sliced = batch.select(col(idCol),
        slice(col(vecCol), s * sublen + 1, sublen).as("__sv"))
      val cent = book.filter(col("sub") === s)
      assignToCodebook(sliced, idCol, cent, portable)
        .select(col(idCol), col("__c").cast("int").as(s"__pq$s"))
    }.reduce(_.join(_, Seq(idCol)))
      .select(col(idCol),
        array((0 until m).map(s => col(s"__pq$s")): _*).as("codes"))
    lib.append(s"${name}__codes", codes, targetRows, validateIndex = false)
  }

  /** ADC search against a persisted PQ index: the tiny codebook builds
    * the per-query distance tables (index mode decides the arithmetic),
    * and the scan touches ONLY the codes symbol — never a float vector.
    * After N appends the result is identical to a one-shot build over
    * the union with the same codebook (the q156 gate).
    */
  def pqSearchIndexed(
      lib: graft.core.Library,
      name: String,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"bad k $k")
    val (m, ksub, dim, _) = pqMeta(lib, name)
    val sublen = dim / m
    val book = lib.read(s"${name}__codebook").localCheckpoint(true)
    val qt = flatTables(
      queryTables(queries, idCol, vecCol, m, sublen, s =>
        book.filter(col("sub") === s).select(col("c").as("__c"),
          col("s").as("__s"), col("n").as("__n"))), m, ksub)
    val codes = lib.read(s"${name}__codes")
      .select(col(idCol).as("corpus_id"), col("codes"))
    adcRank(codes, qt, ksub, k)
  }

  /** ---- IVF+PQ: the production 100 TB ANN stack (IVFADC; Jégou et
    * al. 2011 §V) ----
    *
    * IVF coarse routing composed with PQ compression: the index stores
    * (cell, corpus_id, codes) written SORTED on cell, so a probe reads
    * nProbe/nlist of a table that is itself ~1-2% of vector bytes —
    * multiplicatively less I/O than either layer alone (at nlist 1024 /
    * nProbe 8 / m 16 over 1024-dim floats: ~1/128 of ~1/256 of the
    * store). Candidates rescore by the SAME µ-long ADC arithmetic as
    * [[pqTopK]], so at nProbe = nlist the composition equals the plain
    * full-corpus ADC ranking by construction — which is how the q157
    * gate hash-pins it to q155's oracle with zero recall argument.
    * Routing uses [[Vectors.ivfCentroids]] (cosine cells); any cell
    * partition yields the identical result at full probe, and recall at
    * partial probe is the standard IVF dial.
    */
  def buildIvfPqIndex(
      lib: graft.core.Library,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      name: String,
      nlist: Int,
      m: Int,
      ksub: Int,
      iters: Int = 2,
      portable: Boolean = false,
      targetRows: Long = 100000L): Unit = {
    import corpus.sparkSession.implicits._
    val dim = corpus.select(size(col(vecCol))).head().getInt(0)
    lib.write(s"${name}__meta",
      Seq((m, ksub, dim, portable)).toDF("m", "ksub", "dim", "portable"))
    val centroids = Vectors.ivfCentroids(corpus, idCol, vecCol, nlist, iters)
      .select(col("cell").cast("long").as("cell"), col("centroid"))
      .localCheckpoint(true)
    lib.write(s"${name}__centroids", centroids, Some("cell"))
    // PQ codebooks + codes (the buildPqIndex internals, shared)
    val subs = subAssignments(corpus, idCol, vecCol, m, ksub, iters, portable)
    writeCodebook(lib, name, subs, corpus.sparkSession)
    val codes = codesFrame(corpus, idCol, vecCol, subs, m)
    val cells = Vectors.assignCells(
      corpus.select(col(idCol).as("cid"), col(vecCol).as("cvec")),
      centroids.select(col("cell").cast("int").as("cell"), col("centroid")))
      .select(col("cell").cast("long").as("cell"), col("cid").as(idCol))
    lib.write(s"${name}__cellcodes",
      cells.join(codes, Seq(idCol))
        .select(col("cell"), col(idCol), col("codes")),
      Some("cell"), targetRows = targetRows)
  }

  /** Fold a NEW embedding batch into a persisted IVF+PQ index — both
    * routing layers are immutable after build (the IVF add-without-
    * retrain contract AND the PQ fixed-codebook contract composed):
    * vectors assign to the nearest STORED cell centroid and encode
    * against the STORED codebook, and the (cell, id, codes) rows append
    * as a new version — each appended file still cell-contiguous (the
    * commit path sorts the increment), so probe-time manifest pruning
    * keeps biting inside every increment. A probe after N appends
    * equals a probe after one build with the same centroids + codebook
    * over the union — the q159 gate hashes that equivalence at
    * nProbe = nlist against q156's oracle.
    */
  def appendToIvfPqIndex(
      lib: graft.core.Library,
      batch: DataFrame,
      name: String,
      idCol: String,
      vecCol: String,
      targetRows: Long = 100000L): Unit = {
    val (m, _, dim, portable) = pqMeta(lib, name)
    val sublen = dim / m
    val centroids = lib.read(s"${name}__centroids")
    val cells = Vectors.assignCells(
      batch.select(col(idCol).as("cid"), col(vecCol).as("cvec")),
      centroids.select(col("cell").cast("int").as("cell"), col("centroid")))
      .select(col("cell").cast("long").as("cell"), col("cid").as(idCol))
    val book = lib.read(s"${name}__codebook")
    val codes = (0 until m).map { s =>
      val sliced = batch.select(col(idCol),
        slice(col(vecCol), s * sublen + 1, sublen).as("__sv"))
      assignToCodebook(sliced, idCol, book.filter(col("sub") === s), portable)
        .select(col(idCol), col("__c").cast("int").as(s"__pq$s"))
    }.reduce(_.join(_, Seq(idCol)))
      .select(col(idCol),
        array((0 until m).map(s => col(s"__pq$s")): _*).as("codes"))
    lib.append(s"${name}__cellcodes",
      cells.join(codes, Seq(idCol))
        .select(col("cell"), col(idCol), col("codes")),
      targetRows, validateIndex = false)
  }

  /** Probe an IVF+PQ index: route queries to their nProbe best cells
    * against the broadcast centroid symbol, read ONLY those cells'
    * codes (manifest-pruned, the q110 machinery over a table already
    * ~1-2% of vector bytes), ADC-rescore with the codebook tables, rank
    * with the partial top-k aggregate.
    */
  def ivfPqSearch(
      lib: graft.core.Library,
      name: String,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nProbe: Int): DataFrame = {
    require(k >= 1 && nProbe >= 1, s"bad params k=$k nProbe=$nProbe")
    val (m, ksub, dim, _) = pqMeta(lib, name)
    val sublen = dim / m
    val centroids = lib.read(s"${name}__centroids")
    val probes = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
      .crossJoin(broadcast(centroids))
      .select(col("query_id"), col("qvec"), col("cell"),
        Vectors.cosine(col("qvec"), col("centroid")).as("__sim"))
      .groupBy("query_id")
      .agg(first(col("qvec")).as("qvec"),
        graft.plans.TopKByScore.topK(col("__sim"), col("cell"), nProbe)
          .as("cells"))
      .select(col("query_id"), col("qvec"),
        explode(transform(col("cells"), e => e.getField("id"))).as("cell"))
      .localCheckpoint(true)
    val probedCells = probes.select("cell").distinct()
      .collect().map(_.getLong(0)).sorted
    val book = lib.read(s"${name}__codebook").localCheckpoint(true)
    val qt = flatTables(
      queryTables(probes.dropDuplicates("query_id"), "query_id", "qvec",
        m, sublen, s =>
          book.filter(col("sub") === s).select(col("c").as("__c"),
            col("s").as("__s"), col("n").as("__n"))), m, ksub)
    val idx = lib.read(s"${name}__cellcodes",
      exprFilter = Some(graft.query.Expr.col("cell").isin(
        probedCells.toIndexedSeq: _*)))
    // each query scores only rows of ITS probed cells: the (query, cell)
    // routing pairs join the flat tables first (both broadcast-sized),
    // then the pruned code read joins on cell and the codegen'd ADC
    // kernel scores each candidate row — no explode, no re-aggregate
    val routing = probes.select(col("query_id"), col("cell"))
      .join(qt, Seq("query_id"))
    val codes = idx.join(broadcast(routing), Seq("cell"))
      .select(col("query_id"), col(idCol).as("corpus_id"),
        col("codes"), col("__table"))
    val scored = codes
      .filter(col("query_id") =!= col("corpus_id"))
      .select(col("query_id"), col("corpus_id"),
        (-graft.plans.AdcScore(col("codes"), col("__table"), ksub))
          .cast("double").as("sim"))
    val ranked = Vectors.rankTopK(scored, k)
    ranked.select(col("query_id"), col("corpus_id"),
      ((-col("sim")).cast("long").cast("double") / 1e6).as("adc"), col("rank"))
  }

  /** Shared codebook writer (build paths of [[buildPqIndex]] and
    * [[buildIvfPqIndex]]).
    */
  private def writeCodebook(
      lib: graft.core.Library,
      name: String,
      subs: Seq[(DataFrame, DataFrame, Option[Array[Array[Double]]])],
      spark: org.apache.spark.sql.SparkSession): Unit = {
    import scala.jdk.CollectionConverters._
    val bookRows = subs.zipWithIndex.flatMap { case ((_, cent, raw), s) =>
      cent.collect().map { r =>
        val c = r.getLong(0)
        val sums = r.getSeq[Long](1)
        val n = r.getLong(2)
        val centroid = raw match {
          case Some(arrs) => arrs(c.toInt).toSeq
          case None => sums.map(v => v.toDouble / n / 1e6)
        }
        org.apache.spark.sql.Row(s.toLong, c, centroid, sums, n)
      }
    }
    val bookSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("sub",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("c",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("centroid",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType)),
      org.apache.spark.sql.types.StructField("s",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType)),
      org.apache.spark.sql.types.StructField("n",
        org.apache.spark.sql.types.LongType)))
    lib.write(s"${name}__codebook",
      spark.createDataFrame(bookRows.asJava, bookSchema), Some("sub"))
  }

  private def pqMeta(
      lib: graft.core.Library, name: String): (Int, Int, Int, Boolean) = {
    val r = lib.read(s"${name}__meta").head()
    (r.getAs[Int]("m"), r.getAs[Int]("ksub"), r.getAs[Int]("dim"),
      r.getAs[Boolean]("portable"))
  }

  /** Nearest stored centroid for a sliced batch — the append-time
    * assignment. Portable replays the build's exact decimal formula
    * (argmin by (dist, c)); fast runs the codegen'd kernel over the
    * lossless double centroids.
    */
  private def assignToCodebook(
      sliced: DataFrame,
      idCol: String,
      cent: DataFrame,
      portable: Boolean): DataFrame = {
    if (portable) {
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      val q = sliced.select(col(idCol),
        transform(col("__sv"), v => round(v.cast("double") * 1e6).cast("long"))
          .as("__q"))
      val num = aggregate(
        zip_with(col("__q"), col("__s"), (p, sd) => {
          val d = p * col("__n") - sd
          d.cast(dec) * d.cast(dec)
        }),
        lit(java.math.BigDecimal.ZERO).cast(dec), _ + _)
      val dist = num.cast("double") /
        ((col("__n") * col("__n")).cast("double") * 1e12)
      q.crossJoin(broadcast(
          cent.select(col("c").as("__cc"), col("s").as("__s"),
            col("n").as("__n"))))
        .select(col(idCol), col("__cc"), dist.as("__d"))
        .groupBy(idCol)
        .agg(min(struct(col("__d"), col("__cc"))).as("__m"))
        .select(col(idCol), col("__m").getField("__cc").as("__c"))
    } else {
      val arrs = cent.select(col("c"), col("centroid")).collect()
        .sortBy(_.getLong(0))
        .map(_.getSeq[Double](1).toArray)
      sliced.select(col(idCol),
          graft.plans.NearestCentroid(
            transform(col("__sv"), v => v.cast("double")),
            new graft.plans.CentroidModel(arrs)).as("__m"))
        .select(col(idCol), col("__m").getField("cluster").as("__c"))
    }
  }

  /** The m (assignment, centroid-model) pairs over sliced subvectors.
    * Portable: (assign df, cent df (__c, __s Σ-µ array, __n)); fast:
    * cent re-expressed as the same schema from the driver arrays so one
    * distance-table builder serves both modes.
    */
  /** Per-sub results: (assignment, exact-cent DF (__c, __s, __n), raw
    * double centroids — fast mode only, for lossless persistence).
    */
  private def subAssignments(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      m: Int,
      ksub: Int,
      iters: Int,
      portable: Boolean)
      : Seq[(DataFrame, DataFrame, Option[Array[Array[Double]]])] = {
    require(m >= 1 && ksub >= 1, s"bad pq params m=$m ksub=$ksub")
    val dim = df.select(size(col(vecCol))).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sublen = dim / m
    graft.plans.TopKByScore.requireIntegralId(df.schema(idCol).dataType, "pq")
    (0 until m).map { s =>
      val sliced = df.select(col(idCol),
        slice(col(vecCol), s * sublen + 1, sublen).as("__sv"))
      val xs = transform(col("__sv"), v => v.cast("double"))
      if (portable) {
        val (assign, cent) =
          Vectors.kmeansPortableFull(sliced, idCol, xs, ksub, iters)
        (assign, cent, None)
      } else {
        val (assign, cents) =
          Vectors.kmeansFastFull(sliced, idCol, xs, ksub, iters)
        // re-express driver arrays in the portable cent schema with
        // n = 1 (µ-rounded sums): one distance-table builder serves
        // both modes; the RAW doubles ride alongside so the persisted
        // index can reproduce build-time assignment losslessly
        val spark = df.sparkSession
        import scala.jdk.CollectionConverters._
        val rows = cents.zipWithIndex.map { case (cv, c) =>
          org.apache.spark.sql.Row(c.toLong, cv.map(x => math.round(x * 1e6)).toSeq, 1L)
        }.toSeq
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("__c",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("__s",
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.LongType)),
          org.apache.spark.sql.types.StructField("__n",
            org.apache.spark.sql.types.LongType)))
        (assign, spark.createDataFrame(rows.asJava, schema), Some(cents))
      }
    }
  }

  /** Per-(query, centroid) µ-int distance table for one subspace:
    * Σ_d (q_d·n − S_d)² over the exact integer centroid (S Σ-µ, n) in
    * DECIMAL(38,0), divided out to a double exactly as the kmeans
    * assignment does, then FLOOR-quantized to µ-longs (floor is pure
    * binary). ksub × queries rows — broadcast-sized by construction.
    */
  private def distTable(
      qslice: DataFrame, cent: DataFrame): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val q = qslice.select(col("query_id"),
      transform(col("__qv"), v => round(v.cast("double") * 1e6).cast("long"))
        .as("__q"))
    val num = aggregate(
      zip_with(col("__q"), col("__s"), (p, sd) => {
        val d = p * col("__n") - sd
        d.cast(dec) * d.cast(dec)
      }),
      lit(java.math.BigDecimal.ZERO).cast(dec), _ + _)
    val dist = num.cast("double") /
      ((col("__n") * col("__n")).cast("double") * 1e12)
    q.crossJoin(cent)
      .select(col("query_id"), col("__c"),
        floor(dist * 1e6).cast("long").as("__qd"))
  }
}
