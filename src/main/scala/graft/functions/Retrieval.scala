package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Retrieval scoring over a document corpus — BM25 query relevance and
  * per-document TF-IDF keyword extraction. Both are classic lexical
  * ranking (Robertson & Spärck Jones BM25; the Lucene-style smoothed
  * idf) re-expressed as Spark plans that hold at 100 TB:
  *
  *  - bm25: the exploded token stream is filtered to the QUERY
  *    vocabulary before anything shuffles, so the aggregation exchange
  *    carries (doc, term, tf) for query terms only — never the corpus
  *    postings. Corpus stats (N, Σdl) are one scalar aggregate; per-term
  *    document frequencies are |Q| rows. Everything joins back
  *    broadcast-sized.
  *  - topKeywords: full postings shuffle ONCE on (doc, term); document
  *    frequencies are a vocabulary-bounded aggregate joined back onto
  *    the per-doc term rows; the per-doc top-k is the bounded
  *    [[graft.plans.TopKTerms]] aggregate (a k-entry heap per doc —
  *    r21; the previous row_number window full-sorted every weighted
  *    posting per task on both sides of its k-bounded exchange).
  *
  * Determinism contract (both): per-term contributions quantize to
  * 1e-9 units (longs) BEFORE the per-doc sum / ranking, so aggregation
  * ORDER can never flip a rank across engines — ranking compares exact
  * integers; doubles appear only in the final displayed score. (The
  * residual cross-engine risk is libm `ln` last-ulp disagreement at a
  * quantization boundary, ~1e-10 per term — the same class the q109
  * pow gate documents.)
  */
object Retrieval {

  /** BM25 scores for every document matching >= 1 query term, ranked
    * (score desc, id asc), top `k`. Output: (idCol, score, rank).
    *
    * idf = ln(1 + (N − df + ½)/(df + ½)), tf saturation k1, length
    * normalization b against the corpus mean doc length.
    */
  def bm25(
      df: DataFrame,
      idCol: String,
      textCol: String,
      queryTerms: Seq[String],
      k: Int = 20,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty && k >= 1, "empty query or bad k")
    val terms = queryTerms.distinct
    val docs = df.select(col(idCol).as("__rid"),
      split(col(textCol), " ", -1).as("__w"))
      .select(col("__rid"), col("__w"), size(col("__w")).cast("long").as("__dl"))
    // one-row corpus stats: exact integer sums, one division
    val stats = docs.agg(count(lit(1)).as("__n"), sum(col("__dl")).as("__tok"))
    // query-term tf: filter BEFORE the shuffle — only query-term tokens
    // survive the explode
    val tf = docs.select(col("__rid"), col("__dl"), explode(col("__w")).as("__t"))
      .filter(col("__t").isin(terms: _*))
      .groupBy("__rid", "__dl", "__t").agg(count(lit(1)).as("__tf"))
    // tf is unique per (__rid, __t) after its groupBy (__dl is
    // functionally dependent on __rid), so a plain count IS the distinct
    // doc count — count_distinct would plan a second exchange for rows
    // that are already distinct.
    val dfT = tf.groupBy("__t").agg(count(lit(1)).as("__df"))
    scoreAndRank(tf, dfT, stats, idCol, k, k1, b)
  }

  /** Shared BM25 scoring + ranking tail over (__rid, __dl, __t, __tf) /
    * (__t, __df) / one-row (__n, __tok): the SAME arithmetic feeds both
    * the corpus-rescanning [[bm25]] and the persisted [[bm25Indexed]],
    * so the two paths are bit-identical by construction (all inputs are
    * exact longs; the only doubles are the per-term contribution, which
    * quantizes to 1e-9 longs before the per-doc sum).
    */
  /** The ONE quantized BM25 per-(doc, term) contribution — over the
    * __tf/__df/__dl/__n/__tok column convention — shared by the
    * single-query tail ([[scoreAndRank]]) and the batch leg
    * ([[bm25IndexedBatch]]) so their bit-equality contract cannot
    * drift: a k1/b/quantization tweak applied to one path is applied
    * to both by construction.
    */
  private def bm25ContribQ(k1: Double, b: Double): Column =
    round(
      log(lit(1.0) + (col("__n") - col("__df") + 0.5) / (col("__df") + 0.5)) *
        (col("__tf") * lit(k1 + 1)) /
        (col("__tf") + lit(k1) * (lit(1 - b) + lit(b) * col("__dl") /
          (col("__tok").cast("double") / col("__n")))) * 1e9)
      .cast("long")

  private def scoreAndRank(
      tf: DataFrame,
      dfT: DataFrame,
      stats: DataFrame,
      idCol: String,
      k: Int,
      k1: Double,
      b: Double): DataFrame = {
    val contrib = tf
      .join(broadcast(dfT), "__t")
      .crossJoin(broadcast(stats))
      .select(col("__rid"), bm25ContribQ(k1, b).as("__cq"))
    val scored = contrib.groupBy("__rid").agg(sum(col("__cq")).as("__sq"))
    // integer-keyed top-k: ranking compares exact longs
    scored.orderBy(col("__sq").desc, col("__rid")).limit(k)
      .select(col("__rid"), col("__sq"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("__sq").desc, col("__rid"))))
      .select(col("__rid").as(idCol),
        round(col("__sq") / 1e9, 6).as("score"), col("rank"))
  }

  /** Persist a BM25 lexical index through the Library layer — the
    * retrieval twin of Vectors.buildIvfIndex: build once, query many.
    * [[bm25]] rescans the whole corpus per query; a 100 TB retrieval
    * deployment tokenizes ONCE and each query after that must touch only
    * its own terms' postings. Two symbols:
    *  - `<name>__stats`: one row (n_docs, n_tokens) — the corpus-level
    *    constants of the scoring formula;
    *  - `<name>__postings`: (term, doc_id, dl, tf) written SORTED on the
    *    string `term` index in bounded files with manifest key ranges,
    *    so a query's term filter PRUNES FILES (the q57 string-keyed
    *    index machinery): a 2-term query reads a bounded subset of the
    *    index bytes, spec-pinned like the IVF sibling. Doc length rides
    *    each posting row (denormalized) so scoring needs no second
    *    symbol join. Versioning/snapshots/as-of come free from Library;
    *    an index rebuild is just a new version.
    * Per-term document frequency is intentionally NOT a third symbol:
    * df(t) = row count of t's postings, recomputed from the pruned read
    * itself — always consistent with the postings, no drift possible.
    */
  def buildBm25Index(
      lib: graft.core.Library,
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      name: String,
      targetRows: Long = 100000L): Unit = {
    val docs = corpus.select(col(idCol).as("__rid"),
      split(col(textCol), " ", -1).as("__w"))
      .select(col("__rid"), col("__w"), size(col("__w")).cast("long").as("__dl"))
    val stats = docs.agg(count(lit(1)).as("n_docs"), sum(col("__dl")).as("n_tokens"))
    lib.write(s"${name}__stats", stats)
    val postings = docs
      .select(col("__rid"), col("__dl"), explode(col("__w")).as("term"))
      .groupBy(col("term"), col("__rid"), col("__dl"))
      .agg(count(lit(1)).as("tf"))
      .select(col("term"), col("__rid").as("doc_id"), col("__dl").as("dl"),
        col("tf"))
    lib.write(s"${name}__postings", postings, Some("term"), targetRows = targetRows)
  }

  /** Fold an ingest increment into a persisted BM25 index — the
    * lexical twin of Dedup.appendToMinhashIndex: the increment's
    * postings append as a new version (hash-free STRING keys, so
    * per-increment sorted files keep usable footer ranges; a
    * Library.compact restores global order when fragmentation
    * accumulates), and the one-row corpus stats merge by exact sums.
    * Per-term df never persists — [[bm25Indexed]] derives it from the
    * pruned postings at probe time, which is precisely what makes the
    * index incrementally correct with NO rescan. Increments must carry
    * ids the index has not seen (the admission loop's contract): a doc
    * split across increments would double-post its terms.
    */
  def appendToBm25Index(
      lib: graft.core.Library,
      docs: DataFrame,
      name: String,
      idCol: String,
      textCol: String,
      targetRows: Long = 100000L,
      /** Streaming replay guard: when set (a checkpoint-scoped
        * micro-batch id, [[graft.core.Library.ReplayGuard]], built by
        * [[graft.streaming.StreamIngest.retrievalIndexSink]]), each
        * symbol's commit carries the stamp in its metadata and a
        * symbol already stamped in the SAME SCOPE with EXACTLY this
        * batchId (the crash-replay case — Spark only re-delivers the
        * last uncommitted batch) SKIPS its half of the fold
        * — so a crash-replayed batch cannot double-append postings
        * (tf AND df inflation) or double-merge stats, whichever half the
        * crash interrupted. Missing symbols are write-created under a
        * guard (the build-vs-append branch itself replays).
        */
      replayGuard: Option[graft.core.Library.ReplayGuard] = None): Unit = {
    val postingsSym = s"${name}__postings"
    val statsSym = s"${name}__stats"
    val stamp = replayStamp(replayGuard)
    val postFolded = alreadyFolded(lib, postingsSym, replayGuard)
    val statFolded = alreadyFolded(lib, statsSym, replayGuard)
    if (postFolded && statFolded) return
    val d = docs.select(col(idCol).as("__rid"),
      split(col(textCol), " ", -1).as("__w"))
      .select(col("__rid"), col("__w"), size(col("__w")).cast("long").as("__dl"))
    val inc = d.agg(count(lit(1)).as("n_docs"), sum(col("__dl")).as("n_tokens"))
    val merged =
      if (!lib.hasSymbol(statsSym)) inc
      else lib.read(statsSym).unionByName(inc)
        .agg(sum(col("n_docs")).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
    val postings = d
      .select(col("__rid"), col("__dl"), explode(col("__w")).as("term"))
      .groupBy(col("term"), col("__rid"), col("__dl"))
      .agg(count(lit(1)).as("tf"))
      .select(col("term"), col("__rid").as("doc_id"), col("__dl").as("dl"),
        col("tf"))
    // Commit ORDER is the crash-safety contract: postings append FIRST,
    // stats overwrite LAST. Under a replayGuard a crash between the two
    // heals on replay (postings skip via their stamp, stats re-merge
    // from the pre-crash version — each stamp commits ATOMICALLY with
    // its own symbol's manifest CAS, so there is no fold-then-stamp
    // window). Without a guard the crash leaves stats UNDER-counting
    // (recoverable by re-deriving from the postings: n_docs = distinct
    // doc_id, n_tokens = Σ dl over one row per doc); the reverse order
    // would permanently OVER-count — stats claiming documents whose
    // postings never landed skew idf and length normalization with
    // nothing left to rebuild from.
    // localCheckpoint: the merged stats plan READS the version it is
    // about to supersede (and must materialize BEFORE the postings
    // append below changes what a replayed read would see).
    val mergedStats = if (statFolded) null else merged.localCheckpoint(true)
    if (!postFolded) {
      if (lib.hasSymbol(postingsSym))
        lib.append(postingsSym, postings, targetRows,
          validateIndex = false, extraMetadata = stamp)
      else
        lib.write(postingsSym, postings, Some("term"), targetRows,
          metadata = stamp)
    }
    if (!statFolded) lib.write(statsSym, mergedStats, metadata = stamp)
  }

  /** replayGuard plumbing shared by the index/ledger folds: the stamp
    * committed with a guarded fold, and the skip test against a
    * symbol's last stamped batch.
    */
  private[functions] def replayStamp(
      g: Option[graft.core.Library.ReplayGuard]): Map[String, String] =
    g.map(x => Map(graft.core.Library.ReplayGuardKey -> x.stampValue))
      .getOrElse(Map.empty)

  private[functions] def alreadyFolded(
      lib: graft.core.Library, symbol: String,
      g: Option[graft.core.Library.ReplayGuard]): Boolean =
    // probe RECENT versions, not just the latest: a maintenance commit
    // (compact, writeMetadata) landing after the stamped fold erases the
    // stamp from the latest manifest, and a crash-replayed batch would
    // then DOUBLE-fold — merging the stats sums twice (ADVICE r20 class)
    g.exists(x => lib.foldStamps(symbol)
      .exists(graft.core.Library.ReplayGuard.alreadyFolded(_, x)))

  /** Query a [[buildBm25Index]] index: read ONLY the query terms'
    * postings (string-index file pruning via the manifest key ranges),
    * derive per-term df from the pruned rows, and run the exact
    * [[scoreAndRank]] tail — identical ranking and scores to [[bm25]]
    * on the same corpus by construction, which is how the q117 gate
    * hard-gates build → write → pruned read → score end to end.
    */
  def bm25Indexed(
      lib: graft.core.Library,
      name: String,
      queryTerms: Seq[String],
      k: Int = 20,
      k1: Double = 1.2,
      b: Double = 0.75,
      idCol: String = "doc_id"): DataFrame = {
    require(queryTerms.nonEmpty && k >= 1, "empty query or bad k")
    val terms = queryTerms.distinct
    // exprFilter PRUNES files via manifest string-key ranges; the exact
    // row filter still runs below (pruning only skips provably-empty
    // files — same contract as every Library.read caller)
    val posts = lib.read(s"${name}__postings",
      exprFilter = Some(graft.query.Expr.col("term").isin(terms: _*)))
      .filter(col("term").isin(terms: _*))
    val tf = posts.select(col("doc_id").as("__rid"), col("dl").as("__dl"),
      col("term").as("__t"), col("tf").as("__tf"))
    // postings are unique per (term, doc): plain count == distinct docs
    val dfT = tf.groupBy("__t").agg(count(lit(1)).as("__df"))
    val stats = lib.read(s"${name}__stats")
      .select(col("n_docs").as("__n"), col("n_tokens").as("__tok"))
    scoreAndRank(tf, dfT, stats, idCol, k, k1, b)
  }

  /** Top `k` TF-IDF keywords per document: weight = tf · ln((N+1)/(df+1)),
    * quantized to 1e-9 units before ranking (ties: term asc). Output:
    * (idCol, term, weight, rank) — the per-doc keyword profile behind
    * topical corpus maps and cluster labeling.
    */
  def topKeywords(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3): DataFrame = {
    require(k >= 1, s"bad k $k")
    // Spread a split-starved scan before the tokenize kernel (same
    // round-robin guard as the shingle pipelines): a compressed
    // single-file corpus otherwise tokenizes on ONE task — measured
    // ~150 ms of the sf0.1 wall per pass — while the exchange only
    // fires under ~8 scan splits (bounded input by construction, a
    // no-op at corpus scale where the file layout supplies splits).
    val src = graft.functions.Kernels.spread(
      df.select(col(idCol).as("__rid"), col(textCol).as("__txt")),
      Seq("__rid", "__txt"))
    val docs = src.select(col("__rid"),
      split(col("__txt"), " ", -1).as("__w"))
    // Corpus count: a bare parquet scan answers it EXACTLY from footer
    // block metadata — zero jobs, and at corpus scale one whole count
    // pass deleted (r22). Non-scan inputs fall back to the aggregate —
    // over the RAW input, not the spread frame, which would inherit the
    // round-robin exchange over a zero-column scan.
    val nFooter: Option[Long] = graft.core.ParquetFooterStats.rowCount(df)
    val n = df.agg(count(lit(1)).as("__n"))
    val tf = docs.select(col("__rid"), explode(col("__w")).as("__t"))
      .groupBy("__rid", "__t").agg(count(lit(1)).as("__tf"))
    // tf is already unique per (__rid, __t): plain count == distinct
    // docs, and count_distinct would plan Spark's TWO-exchange distinct
    // aggregation over the corpus-sized posting set (expand + re-shuffle)
    // where one exchange of count partials is identical.
    //
    // count over a FENCED __tf projection, not count(lit(1)) —
    // deliberately referencing __tf (never null: it is itself a count)
    // keeps this branch's tf subtree COLUMN-IDENTICAL to the join
    // branch's, so ReuseExchange dedupes the tf exchange and the corpus
    // tokenize+explode+partial-tf pass runs ONCE instead of twice. A
    // bare column reference is not enough: column pruning drops __tf
    // from this branch's aggregate (count(1)), and
    // RemoveRedundantAggregates strips a plain count(__tf)'s inner
    // count to a keys-only distinct — either way the canonicalized
    // subtrees diverge and the whole corpus-side pipeline duplicates
    // (measured as two serial tokenize stages per pass). The
    // OptimizerFence (non-deterministic no-op) in a Project between the
    // aggregates blocks both rewrites (it may not sit inside the count
    // itself — AGGREGATE_FUNCTION_WITH_NONDETERMINISTIC_EXPRESSION);
    // the count is exactly the row count since __tf is never null.
    // PlanSpec pins the ReusedExchange shape.
    // OptimizerFence.nullable, not the plain fence: a non-nullable
    // count argument is itself rewritten to count(1) by NullPropagation,
    // which would re-open the pruning hole the fence closes.
    val dfT = tf
      .select(col("__t"),
        graft.plans.OptimizerFence.nullable(col("__tf")).as("__tfp"))
      .groupBy("__t").agg(count(col("__tfp")).as("__df"))
    // Per-doc rank via the bounded TopKTerms aggregate, not
    // row_number().over(partitionBy(__rid)): Spark 4's WindowGroupLimit
    // already k-bounds the rank EXCHANGE for a rank<=k filter, but its
    // partial/final limits each sit on a FULL SORT of the task's
    // postings by (rid, wq desc, term) — two O(n log n) sorts of the
    // corpus incidence plus the window machinery. The aggregate's
    // heap keeps k entries per doc with no sort on either side of the
    // exchange (r21, matched-order warm probes: sf0.1 1.1 -> 0.7 s,
    // sf1 ~4 -> ~1.7 s; flat at sf5 where scan+joins dominate).
    // Ordering is identical by construction: the long __wq quantization
    // IS the rank key both ways, and TopKTerms breaks ties on binary
    // term order exactly like `orderBy(__wq desc, __t)`.
    val joined = nFooter match {
      // footer count folds to a literal: the whole n branch (scan +
      // partial + single-partition exchange + final + broadcast
      // cross-join) disappears from the plan; identical double
      // arithmetic either way (long __n enters as (n + 1.0))
      case Some(cnt) => tf.join(dfT, "__t").withColumn("__n", lit(cnt))
      case None => tf.join(dfT, "__t").crossJoin(broadcast(n))
    }
    joined
      .select(col("__rid"),
        round(col("__tf") * log((col("__n") + 1.0) / (col("__df") + 1.0)) * 1e9)
          .cast("long").as("__wq"), col("__t"))
      .groupBy("__rid")
      .agg(graft.plans.TopKTerms.topK(col("__wq"), col("__t"), k).as("__top"))
      .select(col("__rid"), posexplode(col("__top")))
      .select(col("__rid").as(idCol), col("col.term").as("term"),
        round(col("col.score") / 1e9, 6).as("weight"),
        (col("pos") + 1).cast("int").as("rank"))
  }

  /** Persist a POSITIONAL postings index — (term, doc_id, pos) written
    * term-sorted through the Library — the structure phrase queries
    * need that bag-of-words BM25 postings can't answer. Build once;
    * [[phraseSearch]] reads only the phrase terms' postings via
    * manifest string-key file pruning (the q117 contract).
    */
  def buildPositionalIndex(
      lib: graft.core.Library,
      docs: DataFrame,
      name: String,
      idCol: String,
      textCol: String,
      targetRows: Long = 100000L): Unit = {
    val posts = docs
      .select(col(idCol).as("doc_id"),
        posexplode(split(col(textCol), " ", -1)).as(Seq("pos", "term")))
      .select(col("term"), col("doc_id"), col("pos").cast("long").as("pos"))
    lib.write(s"${name}__positions", posts, Some("term"),
      targetRows = targetRows)
  }

  /** Fold an ingest increment into a persisted positional index — the
    * phrase-search twin of [[appendToBm25Index]] (this was the one
    * persisted index family without an increment fold): the increment's
    * (term, doc_id, pos) rows append as a new version. No stats symbol
    * exists to keep consistent — positions are self-contained — so the
    * fold is a single append; `validateIndex = false` because an
    * increment spans the whole term range (the index-symbol exemption
    * every other fold uses), while the commit path still sorts the
    * increment itself on `term`, keeping each appended file
    * term-contiguous for manifest pruning. Same contract as the BM25
    * fold: increments must carry doc ids the index has not seen — a doc
    * split across increments would duplicate its positions.
    */
  def appendToPositionalIndex(
      lib: graft.core.Library,
      docs: DataFrame,
      name: String,
      idCol: String,
      textCol: String,
      targetRows: Long = 100000L,
      /** Same replay-guard contract as [[appendToBm25Index]]; positions
        * are one symbol, so the guarded fold is one stamped commit. */
      replayGuard: Option[graft.core.Library.ReplayGuard] = None): Unit = {
    val posSym = s"${name}__positions"
    if (alreadyFolded(lib, posSym, replayGuard)) return
    val posts = docs
      .select(col(idCol).as("doc_id"),
        posexplode(split(col(textCol), " ", -1)).as(Seq("pos", "term")))
      .select(col("term"), col("doc_id"), col("pos").cast("long").as("pos"))
    if (lib.hasSymbol(posSym))
      lib.append(posSym, posts, targetRows,
        validateIndex = false, extraMetadata = replayStamp(replayGuard))
    else
      lib.write(posSym, posts, Some("term"), targetRows,
        metadata = replayStamp(replayGuard))
  }

  /** Exact phrase search against a [[buildPositionalIndex]] index:
    * documents containing the words of `phrase` CONSECUTIVELY (split-
    * on-single-space positions), with the occurrence count —
    * overlapping occurrences count individually ("a a a" matches
    * "a a" twice). Plan: read ONLY the phrase terms' postings (pruned),
    * anchor on the first term and left-semi join each later term at
    * position anchor+i keyed on (doc, position) — k−1 keyed joins over
    * term-bounded row sets, never a corpus scan. Output:
    * (idCol, n_matches ≥ 1).
    */
  def phraseSearch(
      lib: graft.core.Library,
      name: String,
      phrase: Seq[String],
      idCol: String = "doc_id"): DataFrame = {
    require(phrase.nonEmpty, "phraseSearch needs at least one word")
    val terms = phrase.distinct
    val posts = lib.read(s"${name}__positions",
      exprFilter = Some(graft.query.Expr.col("term").isin(terms: _*)))
      .filter(col("term").isin(terms: _*))
    var cur = posts.filter(col("term") === phrase.head)
      .select(col("doc_id"), col("pos").as("__p0"))
    for (i <- 1 until phrase.size) {
      val pi = posts.filter(col("term") === phrase(i))
        .select(col("doc_id"), (col("pos") - i).as("__p0"))
      cur = cur.join(pi, Seq("doc_id", "__p0"), "left_semi")
    }
    cur.groupBy("doc_id").agg(count(lit(1)).as("n_matches"))
      .select(col("doc_id").as(idCol), col("n_matches"))
  }

  /** Best query-term window per document — snippet/passage selection,
    * the "show WHY this document matched" tail of a BM25 pipeline and
    * the one-window-per-doc passage picker for RAG. The query term set
    * rides the closure (queries are tiny), so the whole corpus scans
    * map-side in ONE rolling-count kernel pass — no token explode, no
    * shuffle. Window semantics: split-on-single-space positions,
    * effective width min(window, n_tokens), hit count = query terms in
    * the window (exact token equality), ties to the smallest start.
    * Output: (idCol, snip_start 1-based, n_hits, snippet); null text
    * yields null columns.
    */
  def bestSnippet(
      df: DataFrame,
      idCol: String,
      textCol: String,
      queryTerms: Seq[String],
      window: Int = 5): DataFrame = {
    require(queryTerms.nonEmpty, "bestSnippet needs at least one query term")
    require(queryTerms.size <= 65536,
      s"query term set has ${queryTerms.size} entries, above the " +
        "65,536 model-in-closure gate")
    Kernels.spread(df, Seq(idCol, textCol))
      .select(col(idCol),
        graft.plans.OptimizerFence(
          graft.plans.BestSnippet(col(textCol), queryTerms, window))
          .as("__s"))
      .select(col(idCol), col("__s.snip_start").as("snip_start"),
        col("__s.n_hits").as("n_hits"), col("__s.snippet").as("snippet"))
  }

  /** Hybrid lexical + vector retrieval via Reciprocal-Rank Fusion
    * (Cormack, Clarke & Büttcher 2009) — the standard RAG-stack fusion
    * of a BM25 leg and an embedding leg when their score scales are
    * incomparable: each leg contributes 1/(rrfK + rank) for the
    * documents in its top `legK`, summed per document.
    *
    * The query is (queryTerms, query-by-example `queryId`): the lexical
    * leg is [[bm25]] over `docs`, the vector leg is
    * [[Vectors.bruteForceTopK]] cosine against `emb`'s row `queryId`
    * (which excludes itself, the query-by-example convention). Ids fuse
    * across the two tables by value.
    *
    * Determinism: each leg's rank is already an exact integer contest;
    * the RRF contribution quantizes to 1e-9-unit longs
    * (round(1e9/(rrfK+rank))) before the per-doc sum, so the fused
    * ordering compares exact longs — ties break on the smaller id. The
    * displayed `rrf_score` is the nano-sum scaled back.
    *
    * Scale shape: both legs end in ≤ legK rows (bm25's query-vocabulary
    * prefilter + integer top-k; the partial top-k aggregate on the
    * cosine side), so the fusion full-outer join, final ordering and
    * rank window all run on ≤ 2·legK rows — corpus cost is exactly the
    * two legs', nothing is added at fusion.
    *
    * Output: (idCol, rrf_score, rank, lex_rank, vec_rank) — leg ranks
    * are NULL for documents the other leg alone surfaced.
    */
  def hybridTopK(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      emb: DataFrame,
      embIdCol: String,
      vecCol: String,
      queryTerms: Seq[String],
      queryId: Long,
      k: Int = 10,
      legK: Int = 50,
      rrfK: Int = 60): DataFrame = {
    require(k >= 1 && legK >= k && rrfK >= 1, "bad k/legK/rrfK")
    // ids fuse across the two tables by LONG value; a silent string->
    // long cast would null unparsable ids and quietly unfuse the legs
    // (same guard discipline as TopKByScore.requireIntegralId)
    graft.plans.TopKByScore.requireIntegralId(
      docs.schema(idCol).dataType, "hybridTopK doc id")
    graft.plans.TopKByScore.requireIntegralId(
      emb.schema(embIdCol).dataType, "hybridTopK embedding id")
    val lex = bm25(docs, idCol, textCol, queryTerms, k = legK)
      .select(col(idCol).cast("long").as("__id"),
        col("rank").as("lex_rank"))
    val vec = Vectors.bruteForceTopK(
        emb, emb.filter(col(embIdCol) === queryId), embIdCol, vecCol, legK)
      .select(col("corpus_id").cast("long").as("__id"),
        col("rank").as("vec_rank"))
    rrfFuse(lex, vec, idCol, k, rrfK)
  }

  /** The shared RRF tail of [[hybridTopK]] and [[hybridTopKIndexed]]:
    * both legs arrive as (__id long, <leg>_rank) with ≤ legK rows, so
    * everything here — full-outer fuse, nano-quantized sum, final
    * ordering — runs on ≤ 2·legK rows.
    */
  /** Quantized RRF contribution of one leg rank (1e-9-unit longs; a
    * null rank — the doc missed that leg — contributes 0). Shared by
    * the single-query and batch fusions so the tie arithmetic cannot
    * drift between them.
    */
  private def rrfContribQ(r: Column, rrfK: Int): Column =
    coalesce(round(lit(1e9) / (lit(rrfK) + r)).cast("long"), lit(0L))

  private def rrfFuse(
      lex: DataFrame, vec: DataFrame, idCol: String, k: Int,
      rrfK: Int): DataFrame = {
    val contrib = (r: Column) => rrfContribQ(r, rrfK)
    val fused = lex.join(vec, Seq("__id"), "full_outer")
      .select(col("__id"),
        (contrib(col("lex_rank")) + contrib(col("vec_rank"))).as("__rrf"),
        col("lex_rank"), col("vec_rank"))
    fused.orderBy(col("__rrf").desc, col("__id")).limit(k)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("__rrf").desc, col("__id"))))
      .select(col("__id").as(idCol), round(col("__rrf") / 1e9, 9).as("rrf_score"),
        col("rank"), col("lex_rank"), col("vec_rank"))
  }

  /** [[hybridTopK]] over the PERSISTED stores — the composition a
    * 100 TB RAG deployment actually runs (the rescan variant re-reads
    * the whole corpus AND the whole embedding table per query): the
    * lexical leg is [[bm25Indexed]]'s term-pruned postings read, the
    * vector leg is [[Vectors.ivfSearchIndexed]]'s manifest-pruned cell
    * read against a [[Vectors.buildIvfIndex]] index — per query the
    * engine touches the query terms' postings plus ~nProbe/nlist of
    * the index bytes, never a corpus scan. The fusion tail is shared
    * ([[rrfFuse]]) and adds nothing to corpus cost.
    *
    * `queries` carries the ONE query-by-example embedding row (the
    * [[Vectors.mmrTopKIndexed]] convention — query vectors are inputs,
    * not an index lookup; reading one row out of a cell-keyed index
    * symbol would cost an unpruned scan). The probe excludes the
    * query's own id, hybridTopK's query-by-example convention.
    *
    * At nProbe = nlist both legs are exact by construction (q117's
    * bm25Indexed ≡ bm25 and q110's ivf ≡ brute-force arguments), so
    * the result equals [[hybridTopK]] on the indexed corpus — the q177
    * gate replays q171's oracle verbatim over the persisted path.
    */
  def hybridTopKIndexed(
      lib: graft.core.Library,
      lexName: String,
      vecName: String,
      queryTerms: Seq[String],
      queries: DataFrame,
      embIdCol: String,
      vecCol: String,
      nProbe: Int,
      k: Int = 10,
      legK: Int = 50,
      rrfK: Int = 60,
      idCol: String = "doc_id"): DataFrame = {
    require(k >= 1 && legK >= k && rrfK >= 1, "bad k/legK/rrfK")
    graft.plans.TopKByScore.requireIntegralId(
      queries.schema(embIdCol).dataType, "hybridTopKIndexed query id")
    // single-query contract: the fused output carries no query_id, so a
    // multi-row queries frame would silently interleave two queries'
    // legs — refuse loudly (bounded: 2-row collect); batches go through
    // [[hybridTopKIndexedBatch]], which carries query_id end to end
    require(queries.limit(2).collect().length == 1,
      "hybridTopKIndexed fuses ONE query: pass exactly one embedding row " +
        "(use hybridTopKIndexedBatch for multi-query batches)")
    val lex = bm25Indexed(lib, lexName, queryTerms, k = legK, idCol = idCol)
      .select(col(idCol).cast("long").as("__id"),
        col("rank").as("lex_rank"))
    val vec = Vectors.ivfSearchIndexed(
        lib, vecName, queries, embIdCol, vecCol, legK, nProbe)
      .select(col("corpus_id").cast("long").as("__id"),
        col("rank").as("vec_rank"))
    rrfFuse(lex, vec, idCol, k, rrfK)
  }

  /** BATCHED [[bm25Indexed]]: score M queries against a persisted BM25
    * index in ONE plan. `queries` carries (`query_id` long, `termsCol`
    * array<string>); the union of the batch's terms drives ONE
    * term-pruned postings read (the driver-side term collect is bounded
    * by the query side of a search — terms × queries — never the
    * corpus). Per-term df is query-independent (df(t) = t's posting
    * count however many queries ask for t), so scoring each query
    * against the shared pruned read replays the per-query loop's
    * integers exactly; ranking is the partial top-k aggregate per
    * query_id ((score desc, id asc) — [[scoreAndRank]]'s exact tie
    * order) instead of M global sorts. Output: (query_id, idCol, score,
    * rank).
    */
  /** Hard batch caps for the serving path's driver collect (the
    * maxBucket/maxProbeKeys discipline): a batch is the QUERY side of a
    * search — bounded by contract, never corpus-sized — and these make
    * the contract loud instead of silent. 65 536 queries × the per-query
    * pair bound keeps the collected list, the broadcast fan-out frame
    * and the vocabulary pushdown all ≤ tens of MB; a 1M-query eval run
    * splits into cap-sized waves at the caller (results are
    * per-query-independent, so waves concatenate exactly).
    */
  val MaxBatchQueries: Int = 65536

  /** Cap on total collected (query_id, term) pairs per batch — bounds
    * the broadcast fan-out frame itself when queries carry many terms.
    */
  val MaxBatchTerms: Int = 1 << 20

  /** Vocabulary sizes past this stop inlining an `isin` literal into the
    * postings row filter (a plan-sized literal) and switch to a
    * broadcast left-semi join; manifest file pruning degrades to
    * [[PruneSubRanges]] contiguous term sub-ranges (a bounded superset —
    * the exact filter still runs).
    */
  private[graft] val VocabIsinMax: Int = 1024

  /** Sub-range count for past-[[VocabIsinMax]] manifest pruning: the
    * sorted vocabulary splits into this many contiguous [lo, hi] slices
    * OR'd in the exprFilter, so one lexicographic outlier term can only
    * defeat pruning for its own slice, not the whole postings store
    * (VERDICT r20 #2: a single [head, last] range is an unbounded
    * superset). 16 keeps the Kleene filter tree tiny (~32 comparisons)
    * while bounding inter-slice waste to ~1/16 of the vocabulary span.
    */
  private[graft] val PruneSubRanges: Int = 16

  /** Driver-side (query_id, term) pairs of a queries frame — ONE job
    * over the (small-by-contract) query side serves the duplicate-id
    * check, the union vocabulary AND the broadcast fan-out frame. Null
    * terms drop — exactly the per-query loop's behavior (a null in an
    * isin list never matches), and a null String would NPE the
    * vocabulary sort; terms dedup per query (the loop's
    * queryTerms.distinct). A null query_id refuses loudly, as does a
    * batch past [[MaxBatchQueries]]/[[MaxBatchTerms]] — the collect is
    * bounded BEFORE it happens (limit cap+1), never trusted to be small.
    */
  private def collectQueryTerms(
      queries: DataFrame, queryIdCol: String, termsCol: String)
      : Seq[(Long, Seq[String])] = {
    val rows = queries.select(col(queryIdCol).cast("long"), col(termsCol))
      .limit(MaxBatchQueries + 1).collect()
    require(rows.length <= MaxBatchQueries,
      s"batch exceeds MaxBatchQueries=$MaxBatchQueries: the driver-side " +
        "query collect is capped — split the batch into cap-sized waves " +
        "(per-query results are independent, waves concatenate exactly)")
    val parsed = rows.toSeq.map { r =>
      require(!r.isNullAt(0), s"null $queryIdCol in queries")
      r.getLong(0) -> (if (r.isNullAt(1)) Seq.empty[String]
      else r.getSeq[String](1).filter(_ != null).distinct)
    }
    val nPairs = parsed.iterator.map(_._2.size.toLong).sum
    require(nPairs <= MaxBatchTerms,
      s"batch carries $nPairs (query, term) pairs, over MaxBatchTerms=" +
        s"$MaxBatchTerms — the pair list drives a broadcast fan-out " +
        "frame; split the batch into smaller waves")
    parsed
  }

  private[graft] def bm25IndexedBatch(
      lib: graft.core.Library,
      name: String,
      queries: DataFrame,
      termsCol: String,
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75,
      idCol: String = "doc_id"): DataFrame =
    bm25IndexedBatchPairs(lib, name,
      collectQueryTerms(queries, "query_id", termsCol), k, k1, b, idCol)

  private def bm25IndexedBatchPairs(
      lib: graft.core.Library,
      name: String,
      queryTerms: Seq[(Long, Seq[String])],
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75,
      idCol: String): DataFrame = {
    require(k >= 1, s"bad k $k")
    // every query must carry >= 1 term — the per-query loop's bm25Indexed
    // throws on an empty query; a silent vector-only fallback here would
    // break the documented bit-for-bit loop equality (ADVICE r19)
    val empty = queryTerms.collect { case (id, ts) if ts.isEmpty => id }
    require(empty.isEmpty,
      s"bm25IndexedBatch: query id(s) ${empty.mkString(", ")} carry no " +
        "terms — every query needs a non-empty term array (the per-query " +
        "path refuses an empty query the same way)")
    val pairs = queryTerms.flatMap { case (id, ts) => ts.map(id -> _) }
    // Sorted under the MANIFEST ordering (Library.strCmp, UTF-8 byte
    // order), NOT Scala's UTF-16 compareTo: range bounds derived from a
    // compareTo sort can be strCmp-smaller than a supplementary-plane
    // member term, and a file pruned here is unrecoverable — the exact
    // row filter runs after pruning (ADVICE r20).
    val allTerms =
      pairs.map(_._2).distinct.sorted(graft.core.Library.strOrdering)
    require(allTerms.nonEmpty, "bm25IndexedBatch: batch has no query terms")
    // exprFilter PRUNES files via manifest string-key ranges; the exact
    // row filter still runs (same contract as bm25Indexed). Past
    // VocabIsinMax the isin literal would be plan-sized: pruning uses
    // PruneSubRanges contiguous [lo, hi] vocabulary slices OR'd together
    // (a single [head, last] superset lets ONE outlier term — "zzz…" —
    // defeat manifest pruning entirely at 100 TB; k sub-ranges bound the
    // waste while keeping the filter plan-sized — VERDICT r20 #2), and
    // the exact row filter becomes a broadcast left-semi join against
    // the vocabulary instead of a literal (same surviving rows by
    // construction: both keep exactly term ∈ allTerms).
    val inlineVocab = allTerms.size <= VocabIsinMax
    val pruneExpr =
      if (inlineVocab) graft.query.Expr.col("term").isin(allTerms: _*)
      else {
        val n = allTerms.size
        val k = math.min(PruneSubRanges, n)
        (0 until k).map { i =>
          val lo = allTerms(i * n / k)
          val hi = allTerms((i + 1) * n / k - 1)
          graft.query.Expr.col("term") >= graft.query.Expr.lit(lo) &&
            graft.query.Expr.col("term") <= graft.query.Expr.lit(hi)
        }.reduce(_ || _)
      }
    val read = lib.read(s"${name}__postings", exprFilter = Some(pruneExpr))
    val posts =
      if (inlineVocab) read.filter(col("term").isin(allTerms: _*))
      else read.join(
        broadcast(read.sparkSession.createDataset(allTerms)(
          org.apache.spark.sql.Encoders.STRING).toDF("term")),
        Seq("term"), "left_semi")
    val tf = posts.select(col("term").as("__t"), col("doc_id").as("__rid"),
      col("dl").as("__dl"), col("tf").as("__tf"))
    val qt = posts.sparkSession.createDataFrame(pairs)
      .toDF("query_id", "__t")
    // postings are unique per (term, doc): plain count == distinct docs
    val dfT = tf.groupBy("__t").agg(count(lit(1)).as("__df"))
    val stats = lib.read(s"${name}__stats")
      .select(col("n_docs").as("__n"), col("n_tokens").as("__tok"))
    // The qt fan-out multiplies each posting by the queries containing
    // its term — Σ_t |postings(t)|·|queries∋t| rows, the true compute
    // of an exact M-query batch (the per-query loop pays the same total
    // spread over M jobs). At scan parallelism (a pruned read is a few
    // file splits) that expansion serializes into those few tasks
    // (sf1, 1000 queries: 27.6 s peak task; SURVEY.md §21 "ScaleProbe:
    // the 1000-query batch"); one cheap shuffle of the PRUNED postings
    // (bounded by the batch's term postings, never the corpus) spreads
    // the expansion and the map-side partial aggregation across the
    // cluster. Hashing on
    // __rid also lands every (query, doc) pair of a doc in one task,
    // so partial sums are final-sized before the exchange. The width is
    // EXPLICIT: an N-less repartition is AQE-rebalanced by the pruned
    // read's BYTES (~MBs), which under-provisions a stage whose compute
    // is the ×queries expansion, not the input size (same SURVEY.md
    // section, sf1: 54 s peak task coalesced vs 4 s pinned).
    // explicit width: "spark.sql.shuffle.partitions" can be non-numeric
    // on some platforms ("auto" under vendor AQE) — fall back to
    // defaultParallelism rather than NumberFormatException (ADVICE r19)
    val width = scala.util.Try(
      tf.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt)
      .getOrElse(tf.sparkSession.sparkContext.defaultParallelism)
    val contrib = tf
      .repartition(width, col("__rid"))
      .join(broadcast(dfT), "__t")
      .crossJoin(broadcast(stats))
      .join(broadcast(qt), "__t") // fan each posting out to its queries
      .select(col("query_id"), col("__rid"), bm25ContribQ(k1, b).as("__cq"))
    // per-query partial top-k: map tasks emit ≤ k rows per query before
    // the exchange. The aggregate compares DOUBLE scores while the
    // single-query path compares exact longs; they agree only while
    // |__sq| < 2^53 (a doc would need ~150k matching terms to overflow —
    // impossible under MaxBatchTerms — but the bound is ENFORCED, not
    // assumed: a pathological sum raises instead of silently reordering).
    val sqGuarded = {
      val sq = sum(col("__cq"))
      when(abs(sq) < lit(1L << 53), sq)
        .otherwise(raise_error(concat(
          lit("bm25IndexedBatch: |score sum| >= 2^53 — the double-keyed "),
          lit("top-k would no longer equal the per-query long ordering")))
          .cast("long"))
    }
    val scored = contrib.groupBy("query_id", "__rid")
      .agg(sqGuarded.as("__sq"))
    scored.groupBy("query_id")
      .agg(graft.plans.TopKByScore.topK(
        col("__sq").cast("double"), col("__rid"), k).as("hits"))
      .select(col("query_id"), posexplode(col("hits")))
      .toDF("query_id", "pos", "hit")
      .select(col("query_id"), col("hit.id").as(idCol),
        round(col("hit.score") / 1e9, 6).as("score"),
        (col("pos") + 1).cast("int").as("rank"))
  }

  /** [[rrfFuse]] per query_id: full-outer on (query_id, id), quantized
    * contributions, rank per query. The window runs on ≤ 2·legK rows
    * PER QUERY (leg outputs, never corpus rows), so partitionBy
    * query_id is bounded by construction.
    */
  private def rrfFuseBatch(
      lex: DataFrame, vec: DataFrame, idCol: String, k: Int,
      rrfK: Int): DataFrame = {
    val fused = lex.join(vec, Seq("query_id", "__id"), "full_outer")
      .select(col("query_id"), col("__id"),
        (rrfContribQ(col("lex_rank"), rrfK) +
          rrfContribQ(col("vec_rank"), rrfK)).as("__rrf"),
        col("lex_rank"), col("vec_rank"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("__rrf").desc, col("__id"))
    fused.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("__id").as(idCol),
        round(col("__rrf") / 1e9, 9).as("rrf_score"),
        col("rank"), col("lex_rank"), col("vec_rank"))
  }

  /** [[hybridTopKIndexed]] for a BATCH of queries in ONE plan — the RAG
    * eval/serving shape: an M-query batch is one job, not M sequential
    * Spark jobs (the single-query API refuses multi-row input precisely
    * because its fused output carries no query_id). `queries` carries
    * one row per query: integral `queryIdCol` (the query-by-example
    * embedding id, excluded from its own vector leg), `termsCol`
    * (array<string> lexical terms) and `vecCol`. Both legs carry
    * query_id end to end — the lexical leg is [[bm25IndexedBatch]]'s
    * shared term-pruned read, the vector leg is
    * [[Vectors.ivfSearchIndexed]]'s existing multi-query probe — and
    * the RRF tail fuses per (query_id, id). Output equals the
    * per-query [[hybridTopKIndexed]] loop with a query_id column, bit
    * for bit (HybridBatchSpec + the q184 gate pin the equivalence).
    * A query row with an EMPTY terms array refuses loudly — the
    * per-query loop throws on an empty query, so a silent vector-only
    * fusion here would break the loop equality (ADVICE r19). Batch
    * size is hard-capped ([[MaxBatchQueries]]/[[MaxBatchTerms]]): the
    * driver-side query collect and the broadcast fan-out frame are
    * bounded by contract, with a loud refusal naming the cap.
    */
  def hybridTopKIndexedBatch(
      lib: graft.core.Library,
      lexName: String,
      vecName: String,
      queries: DataFrame,
      queryIdCol: String,
      termsCol: String,
      vecCol: String,
      nProbe: Int,
      k: Int = 10,
      legK: Int = 50,
      rrfK: Int = 60,
      idCol: String = "doc_id"): DataFrame = {
    require(k >= 1 && legK >= k && rrfK >= 1, "bad k/legK/rrfK")
    graft.plans.TopKByScore.requireIntegralId(
      queries.schema(queryIdCol).dataType, "hybridTopKIndexedBatch query id")
    // ONE driver job over the (small-by-contract) query side serves the
    // duplicate-id check AND the lexical leg's vocabulary + fan-out
    // pairs — the serving hot path pays no extra scheduling round
    // trips. Duplicate query_id rows would silently merge two queries'
    // term sets in the lexical leg and pick one row's vector
    // arbitrarily in the other — the same silent-interleave class the
    // single-query API refuses loudly.
    val queryTerms = collectQueryTerms(queries, queryIdCol, termsCol)
    val dups = queryTerms.map(_._1).groupBy(identity)
      .collect { case (id, g) if g.length > 1 => id }
    require(dups.isEmpty,
      s"hybridTopKIndexedBatch: duplicate $queryIdCol ${dups.mkString(", ")} " +
        "in queries — one row per query")
    val lex = bm25IndexedBatchPairs(lib, lexName, queryTerms, k = legK,
        idCol = idCol)
      .select(col("query_id"), col(idCol).cast("long").as("__id"),
        col("rank").as("lex_rank"))
    val vec = Vectors.ivfSearchIndexed(
        lib, vecName, queries, queryIdCol, vecCol, legK, nProbe)
      .select(col("query_id").cast("long").as("query_id"),
        col("corpus_id").cast("long").as("__id"),
        col("rank").as("vec_rank"))
    rrfFuseBatch(lex, vec, idCol, k, rrfK)
  }
}
