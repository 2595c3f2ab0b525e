package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, each designed as a
  * Spark plan that scales to 100 TB:
  *
  *  - exact: hash-groupBy on a normalized fingerprint — one shuffle on a
  *    16-byte key, no text movement when only ids are needed.
  *  - minhash LSH: shingle → k minhashes → b bands; candidate pairs come
  *    from sorted runs of one shuffle on (band, bandhash), each bucket
  *    pairing its members below a size cap and star-linking above it, so
  *    no O(n²) compare ever happens across buckets.
  *  - simhash: 64-bit near-dup signature; 4 chunk buckets (pigeonhole:
  *    hamming ≤ 3 shares a chunk), pairs verified by exact hamming.
  *  - n-gram Jaccard: per-pair verification on LSH candidates (or
  *    exhaustive on small slices); exact up to a negligible 64-bit
  *    bucket-hash collision (see ngramJaccardPairs).
  *
  * All hashing uses xxhash64 (codegen'd Catalyst expression) — stable
  * across Spark versions and cluster nodes.
  *
  * The shingle step is a per-document kernel (graft.plans), not a nested
  * higher-order-function expression: nested array lambdas over
  * `split(regexp_replace(...))` fall out of whole-stage codegen and
  * re-evaluate the normalization per array element, which measured ~40ms
  * per document. MinHash signatures come straight from the text
  * (plans.MinhashSignature, one row per document); SimHash and the exact
  * Jaccard tiers explode shingle postings (plans.ShinglePostings).
  */
object Dedup {

  @transient private lazy val log =
    org.slf4j.LoggerFactory.getLogger(getClass)

  /** Distinct word-n-gram shingle postings: one row per (id, shingle) plus
    * the doc's distinct-shingle count `sz`. Columns: id, s, sz.
    *
    * Plan: ONE codegen'd kernel (graft.plans.DistinctShingles) normalizes,
    * tokenizes, shingles and dedups per document in a single narrow pass —
    * zero exchanges until the first downstream keyed aggregate. This
    * replaces the round-2 posexplode→lead-window→dropDuplicates→count-window
    * chain, which paid one exchange plus two per-token sorts before any
    * consumer saw a row (measured 3.37s → the dominant q30 cost at sf0.1);
    * the round-1 nested-HOF formulation was ~20× worse again (array
    * lambdas never codegen). `sz` is size(arr) — free, no count window.
    */
  def shinglePostings(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    df.select(col(idCol).as("id"), graft.plans.ShinglePostings(col(textCol), n))
      .select("id", "s", "sz")

  /** Within-document repetition ratio — the classic corpus-quality signal
    * (fraction of n-gram POSITIONS occupied by a repeated n-gram):
    * 1 - distinct/total. 0 = no internal repetition; → 1 for template spam.
    * Both counts come from codegen'd per-document kernels, so this is one
    * narrow scan — no shuffle, no join; docs too short for one n-gram
    * score 0.
    */
  def repetitionRatio(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    Kernels.spread(df, Seq(idCol, textCol))
      .select(col(idCol).as("id"),
        Text.ngramCount(col(textCol), n).as("total_n"),
        size(graft.plans.DistinctShingles(col(textCol), n)).as("__d"))
      .select(col("id"), col("total_n"),
        round(when(col("total_n") <= 0, 0.0)
          .otherwise(lit(1.0) - col("__d").cast("double") / col("total_n")), 6)
          .as("rep_ratio"))

  /** ---- exact dedup ----
    * Keep the first (min id) row per normalized-content fingerprint.
    * Plan: narrow map (fingerprint) → hash-shuffle on the 128-bit key →
    * partial+final min. Text column itself never shuffles.
    */
  def exactDuplicateGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), Text.fingerprint(col(textCol)).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Same groupBy shape as [[exactDuplicateGroups]] then a semi-join on
    * the surviving ids — NOT `row_number().over(Window.partitionBy(fp))`:
    * a partitionBy window buffers every row of a duplicate group (full
    * text included) on ONE task before the rank can filter, so a
    * boilerplate page duplicated 500M times at corpus scale is a single
    * task's buffer. Here the only per-key state is the running min of a
    * (fp, id) pair, and the semi-join streams with AQE free to broadcast
    * the keep-id set when it measures small.
    */
  def dropExactDuplicates(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keep = exactDuplicateGroups(df, idCol, textCol)
      .select(col("keep_id").as(idCol))
    df.join(keep, Seq(idCol), "left_semi")
  }

  /** ---- Decontamination ----
    * Drop corpus documents whose n-gram Jaccard overlap with ANY document
    * of a contamination set (benchmark / eval suites) reaches `threshold`
    * — the standard pre-training hygiene step that keeps test data out of
    * training corpora.
    *
    * Shape: cross-corpus inverted-index bucket join, never all-pairs. The
    * contamination side is tiny relative to the corpus (eval suites are
    * thousands of docs against billions), so its postings BROADCAST —
    * the corpus side streams map-side through one join + one keyed
    * aggregate, shuffling only (corpus_id, contam_id) intersection
    * counters, never text. `maxDocFreq > 0` drops corpus shingles shared
    * by more than that many corpus docs first (boilerplate skew guard;
    * contamination matches are driven by rare shingles, so the usual
    * recall caveat applies). Jaccard arithmetic and the 64-bit
    * shingle-hash caveat match [[ngramJaccardPairs]].
    */
  def decontaminate(
      corpus: DataFrame,
      contam: DataFrame,
      idCol: String,
      textCol: String,
      shingleLen: Int,
      threshold: Double,
      maxDocFreq: Long = 0): DataFrame = {
    // No Kernels.spread here: "corpus text never shuffles" is this
    // operator's pinned scale property (PlanSpec q68) — the kernel keeps
    // scan-split parallelism, which the file layout supplies at corpus
    // scale.
    val cp0 = shinglePostings(corpus, idCol, textCol, shingleLen)
      .select(xxhash64(col("s")).as("s"), col("id"), col("sz"))
    val cp =
      if (maxDocFreq <= 0) cp0
      else {
        // groupBy-count → ANTI-join on the over-cap keys, NOT a count
        // window: a partitionBy window lands every posting of a boilerplate
        // shingle on ONE task and buffers it there before the cap can
        // filter — the single-key buffer the cap exists to avoid. The
        // pre-aggregate shuffles only (s, count) partials, and the anti
        // side holds just the few skew keys (≤ rows/cap), which AQE
        // broadcasts when it measures small — the semi form (join the
        // survivor-key set) pays a sort of a key set nearly as large as the
        // data (8M docs: semi 14.3s vs anti 7.0s; SURVEY.md §11 "Bucket-cap
        // shape").
        val bad = cp0.groupBy("s").agg(count(lit(1)).as("__df"))
          .filter(col("__df") > maxDocFreq).select("s")
        cp0.join(bad, Seq("s"), "left_anti")
      }
    val kp = shinglePostings(contam, idCol, textCol, shingleLen)
      .select(xxhash64(col("s")).as("s"), col("id").as("kid"), col("sz").as("ksz"))
    val bad = matchesFrom(cp, kp, threshold)
      .select(col("id").as(idCol)).distinct()
    antiJoinMatched(corpus, bad, idCol)
  }

  /** Matched-id removal tail shared by the decontamination operators:
    * below the stats gate the id set BROADCASTS (corpus side never
    * shuffles — without it the final anti join plans sort-merge, paying
    * an exchange + sort of every corpus id, because the id set's
    * post-aggregate size estimate is garbage without CBO and the
    * small-input session runs AQE-off so no runtime promotion happens
    * either; guide §3.1). The gate is the CORPUS estimate, which is the
    * sound bound here: matched ids ⊆ corpus ids, so a ≤1 GiB-estimate
    * corpus caps the set at a few million longs — tens of MB hashed,
    * always broadcastable. Past the gate (a real corpus) the set is
    * corpus-scaled with no size bound at all — an unconditional
    * broadcast is the classic driver-OOM trap (Spark's 8 GB relation
    * cap would kill the job loudly) — so the spill-safe sort-merge
    * stands and AQE's runtime promotion/SHJ rewrite takes over where
    * sizes allow.
    */
  private val AntiBroadcastMaxStatsBytes = 1L << 30
  private def antiJoinMatched(
      corpus: DataFrame, ids: DataFrame, idCol: String): DataFrame =
    if (corpus.queryExecution.optimizedPlan.stats.sizeInBytes <=
        AntiBroadcastMaxStatsBytes)
      corpus.join(broadcast(ids), Seq(idCol), "left_anti")
    else corpus.join(ids, Seq(idCol), "left_anti")

  /** The (corpus id, contam id, jaccard) match stream decontaminate
    * filters on — shared with [[decontaminationReport]].
    */
  private def matchesFrom(cp: DataFrame, kp: DataFrame, threshold: Double): DataFrame =
    cp.join(broadcast(kp), "s")
      .groupBy("id", "kid", "sz", "ksz").agg(count(lit(1)).as("inter"))
      .select(col("id"), col("kid"),
        round(col("inter").cast("double") /
          (col("sz") + col("ksz") - col("inter")).cast("double"), 6).as("jac"))
      .filter(col("jac") >= threshold)

  /** Per-EVAL-doc contamination report: for each contamination-set doc,
    * how many corpus docs overlap it at/above the threshold and the
    * worst (max) Jaccard seen — the view that tells you WHICH benchmark
    * items are burned into the corpus before you decide what to drop.
    * Same broadcast/counter-shuffle shape as [[decontaminate]]: the
    * shuffle carries (corpus_id, contam_id) counters, never text; the
    * report itself is one more tiny keyed aggregate over the matches.
    * Eval docs with no match at all simply don't appear (join the
    * contamination set back for a zero-filled roster if needed).
    */
  def decontaminationReport(
      corpus: DataFrame,
      contam: DataFrame,
      idCol: String,
      textCol: String,
      shingleLen: Int,
      threshold: Double): DataFrame = {
    val cp = shinglePostings(corpus, idCol, textCol, shingleLen)
      .select(xxhash64(col("s")).as("s"), col("id"), col("sz"))
    val kp = shinglePostings(contam, idCol, textCol, shingleLen)
      .select(xxhash64(col("s")).as("s"), col("id").as("kid"), col("sz").as("ksz"))
    matchesFrom(cp, kp, threshold)
      .groupBy(col("kid").as(idCol))
      .agg(count(lit(1)).as("n_matches"), max(col("jac")).as("max_jac"))
  }

  /** Exact-substring decontamination — the CONSERVATIVE semantics the
    * GPT-3/Pile-lineage pipelines default to: a corpus document is burned
    * if it shares even ONE word-n-gram with the contamination set (no
    * similarity threshold; n is typically ~13 whitespace tokens at real
    * corpus vocabulary — pick it so random collisions are negligible).
    * Complements [[decontaminate]]'s Jaccard-threshold semantics.
    *
    * Scale shape (same pinned properties as decontaminate): corpus text
    * never shuffles — the shingle kernel runs fused with the scan and
    * only 8-byte shingle hashes leave it; the eval set's distinct
    * shingles broadcast (a benchmark is small by construction); the only
    * shuffle is the distinct over matched corpus IDS.
    */
  def decontaminateSubstring(
      corpus: DataFrame,
      contam: DataFrame,
      idCol: String,
      textCol: String,
      shingleLen: Int): DataFrame = {
    val cp = shinglePostings(corpus, idCol, textCol, shingleLen)
      .select(xxhash64(col("s")).as("s"), col("id"))
    val kp = shinglePostings(contam, idCol, textCol, shingleLen)
      .select(xxhash64(col("s")).as("s")).distinct()
    val bad = cp.join(broadcast(kp), Seq("s"), "left_semi")
      .select(col("id").as(idCol)).distinct()
    antiJoinMatched(corpus, bad, idCol)
  }

  /** Corpus boilerplate mining: the k most DOCUMENT-frequent word-n-grams
    * (each doc counts a shingle once — ShinglePostings is distinct per
    * doc), with a total (doc_freq desc, shingle asc) order so the cut is
    * deterministic. This is the view that tells you what [[decontaminate]]
    * maxDocFreq / C4-style boilerplate filters should be capping.
    * Scale shape: counter-only partial aggregation keyed by shingle, then
    * a bounded per-partition top-k (TakeOrderedAndProject — no global
    * sort ever materializes the full frequency table).
    */
  def boilerplateNgrams(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      k: Int): DataFrame = {
    require(k > 0, s"k $k must be positive")
    shinglePostings(Kernels.spread(df, Seq(idCol, textCol)), idCol, textCol, n)
      .groupBy(col("s").as("shingle"))
      .agg(count(lit(1)).as("doc_freq"))
      .orderBy(col("doc_freq").desc, col("shingle"))
      .limit(k)
  }

  /** Engine-portable 60-bit hash: the first 15 hex digits of md5, parsed
    * as a non-negative long. Any SQL engine with md5 can recompute it
    * digit-for-digit, so LSH pipelines built on it are replayable
    * end-to-end by an independent verification oracle (signatures, band
    * keys, bucket caps and all) — the hard gate probabilistic-recall
    * arguments can't give. xxhash64 stays the production default (faster,
    * full 64 bits); portable mode trades that headroom for verifiability.
    */
  private[graft] def h60(c: Column): Column =
    conv(substring(md5(c.cast("binary")), 1, 15), 16, 10).cast("long")

  /** ---- MinHash ----
    * k independent minhashes over shingle postings:
    * sig[i] = min over shingles of hash(seed=i, shingle), computed as k
    * `min` aggregates in ONE groupBy pass. `portable` swaps xxhash64 for
    * the md5-derived [[h60]] (seed mixed in as a "seed:" prefix) so an
    * external engine can replay the signatures.
    *
    * The relational definition, for a caller that already holds
    * postings. The MinHash operators below never build postings: they
    * signature each document with the [[graft.plans.MinhashSignature]]
    * kernel, which is bit-equal to this per distinct id.
    */
  def minhashSignatures(
      posts: DataFrame,
      numHashes: Int,
      portable: Boolean = false): DataFrame = {
    val mins = (0 until numHashes).map { seed =>
      val h =
        if (portable) h60(concat_ws(":", lit(seed), col("s")))
        else xxhash64(lit(seed), col("s"))
      min(h).as(s"h$seed")
    }
    posts.groupBy("id").agg(mins.head, mins.tail: _*)
  }

  /** Candidate near-duplicate pairs via MinHash LSH.
    * Output: (id_a, id_b) distinct pairs with id_a < id_b.
    *
    * Scale shape: the band rows of [[bandedRows]] — a per-row map over
    * the scan, no shuffle — go through [[Kernels.bucketPairs]]: one
    * shuffle on (band, bandhash) into sorted bucket runs. `maxBucket`
    * means pairwise at or below, star-linked above: a run of at most
    * `maxBucket` ids emits all its id_a < id_b pairs; a larger run
    * STAR-LINKS to its first (min) id instead of dropping: |bucket|
    * edges, never |bucket|², so a crawl's 500k-copy near-identical
    * boilerplate cluster (the mega-group a dropping cap would silently
    * un-dedup) still reaches downstream as ONE connected component. At
    * most `maxBucket + 1` ids of a run are buffered at once, however
    * large the bucket. Consumers that rescore (lshJaccardPairs) decide
    * per-edge survival exactly as for pairwise candidates. No count
    * aggregate, tag join, self-join, window or aggregate keyed on id:
    * one scan, one shuffle of the band rows, and one of the pairs on
    * id_a for the distinct over pairs that several bands share. A
    * repeated id follows [[bandedRows]]' per-row rule.
    */
  def minhashCandidates(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleLen: Int = 3,
      numHashes: Int = 12,
      bands: Int = 4,
      maxBucket: Int = 1000,
      portable: Boolean = false): DataFrame =
    Kernels.bucketPairs(
      bandedRows(df, idCol, textCol, shingleLen, numHashes, bands, portable),
      maxBucket)

  /** Near-dup pairs at corpus scale: MinHash-LSH candidates verified by
    * EXACT n-gram Jaccard rescoring — the candidates→verify pipeline as a
    * drop-in pair generator. Output: (id_a, id_b) with id_a < id_b, a
    * subset of [[ngramJaccardPairs]]' answer (every emitted pair truly
    * clears `threshold`; recall is the LSH band recall, ~1 for the
    * high-similarity pairs dedup exists to catch, and identical texts
    * share every band by construction). This is what
    * [[dropNearDuplicates]] / [[dropNearDuplicatesByQuality]] auto-route
    * to past the dense-corpus gate, where exact all-pairs is
    * incidence-quadratic (reference posture: `grouper.hpp:16-60` buckets
    * everything, never materializing all-pairs).
    *
    * Scale shape: two narrow maps over the scan, no aggregate keyed on
    * id. The band side is [[bandedRows]] (k minhashes per document, no
    * set) into the sorted bucket runs of [[minhashCandidates]] (one
    * shuffle on (band, bandhash); `maxBucket` means pairwise at or
    * below, star-linked above; at most `maxBucket + 1` ids buffered per
    * bucket). The set side signatures each document's distinct
    * shingle-hash set alone (no minhashes) and joins it onto the pair
    * stream by id_a — reading the pairs' id_a partitioning — and by
    * id_b. Per-pair cost is O(|a| + |b|) set intersection; total cost is
    * candidate-pair mass, never corpus². Jaccard rounds to 6 before the
    * threshold compare (the [[matchesAgainstIndex]] convention) and
    * inherits the 64-bit shingle-hash almost-surely-exact caveat of
    * [[ngramJaccardPairs]].
    *
    * A repeated id is signatured per row ([[bandedRows]]): (x, y) is
    * emitted when some row of x and some row of y clear `threshold`, and
    * x never pairs with itself. The closing distinct reads the
    * partitioning the set joins leave (id_b when they shuffle, the pair
    * stream's id_a when they broadcast), so it adds no exchange.
    */
  def lshJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleLen: Int = 3,
      threshold: Double = 0.8,
      numHashes: Int = 12,
      bands: Int = 4,
      maxBucket: Int = 1000,
      portable: Boolean = false): DataFrame =
    Kernels.scoredBucketPairs(
        signatures(df, idCol, textCol, shingleLen, 0, portable = false, withSet = true),
        bandedRows(df, idCol, textCol, shingleLen, numHashes, bands, portable), maxBucket)(
        (a, b) => round(jaccard(a, b), 6).as("__j"))
      .filter(col("__j") >= threshold)
      .select("id_a", "id_b")
      .distinct()

  /** The (id, band, bandhash) LSH band rows of a corpus — the shared
    * front half of [[minhashCandidates]], [[lshJaccardPairs]] and the
    * persisted-index pair ([[buildMinhashIndex]] /
    * [[minhashCandidatesAgainstIndex]]), so the bucket-run and index
    * paths bucket IDENTICALLY by construction. One row per (input row,
    * band), from a per-row signature map: no postings, no aggregate or
    * exchange keyed on id. Each input row is signatured alone, so an id
    * repeated over several rows yields one band row per row and band,
    * and a bucket may hold it more than once; the bucket runs skip an
    * equal (band, bandhash, id) row, so an id never pairs with itself.
    */
  private[graft] def bandedRows(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleLen: Int,
      numHashes: Int,
      bands: Int,
      portable: Boolean): DataFrame =
    signatureBands(
      signatures(df, idCol, textCol, shingleLen, numHashes, portable, withSet = false),
      numHashes, bands, portable)

  /** (id, set?, h0..h(k-1)) per row with a non-null id and at least one
    * shingle ([[graft.plans.MinhashSignature]]): a null id names no
    * document, and its band rows would bucket with real ones.
    */
  private def signatures(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleLen: Int,
      numHashes: Int,
      portable: Boolean,
      withSet: Boolean): DataFrame =
    df.filter(col(idCol).isNotNull).select(col(idCol).as("id"),
      graft.plans.MinhashSignature(col(textCol), shingleLen, numHashes, portable, withSet))

  /** Shingle postings of the docs with a non-null id, for the SimHash
    * aggregate.
    */
  private def signaturePostings(
      df: DataFrame, idCol: String, textCol: String, shingleLen: Int): DataFrame =
    shinglePostings(df.filter(col(idCol).isNotNull), idCol, textCol, shingleLen)

  /** (id, band, bandhash) rows of a frame holding id and h0..h(k-1).
    * One key per band of r consecutive signature slots; docs sharing ANY
    * band key are candidates. Production: a 64-bit xxhash64 of the slots.
    * Portable: the slots themselves, ':'-joined — no re-hash, so the
    * verification engine reproduces the exact bucket partition.
    */
  private def signatureBands(
      sig: DataFrame, numHashes: Int, bands: Int, portable: Boolean): DataFrame = {
    require(bands > 0 && numHashes % bands == 0,
      s"numHashes $numHashes must divide into bands $bands")
    val rows = numHashes / bands
    val bandHashes = (0 until bands).map { b =>
      val slots = (0 until rows).map(r => col(s"h${b * rows + r}"))
      if (portable) concat_ws(":", lit(b) +: slots: _*)
      else xxhash64(lit(b) +: slots: _*)
    }
    sig.select(col("id"), posexplode(array(bandHashes: _*)))
      .toDF("id", "band", "bandhash")
  }

  /** ---- Persisted MinHash-LSH index: incremental dedup at corpus scale ----
    *
    * The dedup twin of Vectors.buildIvfIndex / Retrieval.buildBm25Index:
    * signature the corpus ONCE, persist the band rows through the Library
    * layer, and dedup each NEW INGEST INCREMENT against the accumulated
    * corpus without ever rescanning it. This is the shape production
    * pretraining pipelines actually run — a daily crawl drop is deduped
    * against the full history, and re-shingling 100 TB per drop (what
    * [[minhashCandidates]] over the union would do) is the cost this
    * index removes. Two symbols:
    *  - `<name>__meta`: one row (shingle_len, num_hashes, bands,
    *    portable) — the signature parameters are part of the index
    *    identity; probing with different parameters would silently
    *    produce garbage buckets, so probes read them from here.
    *  - `<name>__bands`: (bandkey, band, id) written SORTED on bandkey
    *    (long xxhash64 keys in production, the ':'-joined slot string in
    *    portable mode) in bounded files with footer key ranges, so a
    *    batch's probe-key filter PRUNES FILES: a bounded increment reads
    *    ~|batch|·bands / rows-per-file of the index, independent of
    *    corpus size. ~bands rows of ~24 bytes per document — the index
    *    is O(1%) of corpus text bytes even when it IS fully scanned.
    * Versioning, snapshots and as-of reads come free from Library: an
    * index rebuild is just a new version, and a botched increment rolls
    * back by reading the prior version.
    */
  def buildMinhashIndex(
      lib: graft.core.Library,
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      name: String,
      shingleLen: Int = 3,
      numHashes: Int = 12,
      bands: Int = 4,
      portable: Boolean = false,
      targetRows: Long = 100000L): Unit = {
    import corpus.sparkSession.implicits._
    val meta = Seq((shingleLen, numHashes, bands, portable))
      .toDF("shingle_len", "num_hashes", "bands", "portable")
    lib.write(s"${name}__meta", meta)
    val rows = bandedRows(corpus, idCol, textCol, shingleLen, numHashes, bands, portable)
      .select(col("bandhash").as("bandkey"), col("band"), col("id"))
    lib.write(s"${name}__bands", rows, Some("bandkey"), targetRows = targetRows)
  }

  /** Incremental index maintenance: band the new documents under the
    * index's OWN parameters and append their rows as a new version.
    * Hash keys are unordered across increments, so the append skips the
    * monotone-index validation; each appended file still records its own
    * footer key range (writeData sorts within the increment), so probe
    * pruning stays CORRECT — ranges merely overlap more as increments
    * accumulate, degrading pruning gracefully until a Library.compact
    * rewrites the symbol globally sorted again (the same
    * fragmentation-then-compact lifecycle the reference documents for
    * its append path, library.py:1361 + compact).
    */
  def appendToMinhashIndex(
      lib: graft.core.Library,
      docs: DataFrame,
      name: String,
      idCol: String,
      textCol: String,
      targetRows: Long = 100000L,
      /** Streaming folds stamp the band append with their
        * checkpoint-scoped batchId, atomically with the manifest CAS —
        * a replayed batch whose fold already landed skips instead of
        * double-appending signature rows (the retrievalIndexSink
        * contract, extended to the dedup index by the r20 review).
        */
      replayGuard: Option[graft.core.Library.ReplayGuard] = None): Unit = {
    val bandsSym = s"${name}__bands"
    if (Retrieval.alreadyFolded(lib, bandsSym, replayGuard)) return
    val (sl, nh, nb, portable) = minhashMeta(lib, name)
    val rows = bandedRows(docs, idCol, textCol, sl, nh, nb, portable)
      .select(col("bandhash").as("bandkey"), col("band"), col("id"))
    lib.append(bandsSym, rows, targetRows = targetRows,
      validateIndex = false, extraMetadata = Retrieval.replayStamp(replayGuard))
  }

  private[graft] def minhashMeta(
      lib: graft.core.Library, name: String): (Int, Int, Int, Boolean) = {
    val r = lib.read(s"${name}__meta").head()
    (r.getAs[Int]("shingle_len"), r.getAs[Int]("num_hashes"),
      r.getAs[Int]("bands"), r.getAs[Boolean]("portable"))
  }

  /** Candidate near-duplicate pairs of a NEW batch against a
    * [[buildMinhashIndex]] index: (id_new, id_indexed) for every batch
    * doc sharing an under-cap band bucket with an indexed doc. Buckets
    * identically to [[minhashCandidates]] over (indexed ∪ batch) — the
    * parity the spec pins — because both sides use [[bandedRows]] and
    * the cap counts the COMBINED (index + batch) bucket population.
    *
    * Scale shape, measured (SURVEY.md §16 "IndexProbe", sf1→sf5: scratch
    * re-signaturing grows 1.02→1.99 s with a 5× corpus, this path stays
    * flat 1.37→1.16 s at fixed batch): what the index removes is the
    * CORPUS-side work — re-shingling and re-minhashing every document per
    * drop. The index side is a band-row table ≈1% of corpus text bytes;
    * bounded probes (≤ `maxProbeKeys` distinct keys) drive manifest FILE
    * PRUNING of it, which pays off when the probe-key set is narrow
    * relative to the file count (uniform hash keys spread a LARGE batch's
    * keys across every file, so pruning asymptotes to a full scan of the
    * 1%-scale band table — still never touching corpus text; past the cap
    * the fallback join has the same bound). Same-id pairs are dropped: an
    * id present on both sides is the same record re-observed, not a
    * duplicate of itself. The bucket cap stays a groupBy-count →
    * anti-join that drops an over-cap bucket, not [[Kernels.bucketPairs]]'
    * sorted runs and star rule: it counts the index and batch sides
    * together and pairs across them only, never within one side.
    */
  def minhashCandidatesAgainstIndex(
      lib: graft.core.Library,
      batch: DataFrame,
      name: String,
      idCol: String,
      textCol: String,
      maxBucket: Int = 1000,
      maxProbeKeys: Int = 100000): DataFrame = {
    val (sl, nh, nb, portable) = minhashMeta(lib, name)
    val bb = bandedRows(batch, idCol, textCol, sl, nh, nb, portable)
      .withColumnRenamed("bandhash", "bandkey")
    // Bounded-batch fast path: collect the probe keys (limit cap+1 so an
    // over-cap batch never materializes an unbounded driver array) and
    // prune index files through the manifest key ranges. The equi-join
    // below re-applies the exact predicate, so pruning only has to be
    // conservative, never exact.
    val probeKeys = bb.select("bandkey").distinct().limit(maxProbeKeys + 1).collect()
    val idx0 =
      if (probeKeys.length > maxProbeKeys) lib.read(s"${name}__bands")
      else {
        val vals = probeKeys.map(_.get(0))
        lib.read(s"${name}__bands",
          exprFilter = Some(graft.query.Expr.col("bandkey").isin(
            vals.toIndexedSeq: _*)))
      }
    val idx = idx0.select(col("bandkey"), col("band"), col("id").as("id_indexed"))
    // Combined bucket population (index members + batch members): a key
    // yields pairs only when BOTH sides hold it, so the cap decision
    // joins the two counter aggregates inner — counter rows only, the
    // mega-bucket is never buffered to be discarded.
    val iCnt = idx.groupBy("band", "bandkey").agg(count(lit(1)).as("__ni"))
    val bCnt = bb.groupBy("band", "bandkey").agg(count(lit(1)).as("__nb"))
    val bad = iCnt.join(bCnt, Seq("band", "bandkey"))
      .filter(col("__ni") + col("__nb") > maxBucket)
      .select("band", "bandkey")
    idx.join(bad, Seq("band", "bandkey"), "left_anti")
      .join(bb.join(bad, Seq("band", "bandkey"), "left_anti"),
        Seq("band", "bandkey"))
      .filter(col("id") =!= col("id_indexed"))
      .select(col("id").as("id_new"), col("id_indexed"))
      .distinct()
  }

  /** Verified near-duplicate matches of a batch against a persisted
    * index: LSH candidates from [[minhashCandidatesAgainstIndex]], then
    * EXACT n-gram Jaccard ≥ threshold against the candidate corpus
    * documents' text — read from the `corpusSymbol` Library symbol
    * PRUNED to the candidate ids (an id-sorted corpus symbol + a bounded
    * candidate set ⇒ the verification re-reads a candidate-sized slice
    * of corpus text, never the corpus). Output: (id_new, id_indexed,
    * jac) with jac rounded to 6.
    *
    * Precision is exact (every emitted match verified by intersection
    * count over distinct shingle sets, the q30 semantics); recall is the
    * LSH band recall, replayable end-to-end in portable mode.
    */
  def matchesAgainstIndex(
      lib: graft.core.Library,
      batch: DataFrame,
      name: String,
      corpusSymbol: String,
      idCol: String,
      textCol: String,
      threshold: Double,
      maxBucket: Int = 1000,
      maxProbeKeys: Int = 100000,
      maxCandidateIds: Int = 1000000): DataFrame = {
    val (sl, _, _, _) = minhashMeta(lib, name)
    val cand = minhashCandidatesAgainstIndex(
      lib, batch, name, idCol, textCol, maxBucket, maxProbeKeys)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val candIds = cand.select("id_indexed").distinct()
        .limit(maxCandidateIds + 1).collect()
      val corpusTexts =
        if (candIds.length > maxCandidateIds)
          lib.read(corpusSymbol)
            .join(cand.select(col("id_indexed").as(idCol)).distinct(),
              Seq(idCol), "left_semi")
        else if (candIds.isEmpty)
          lib.read(corpusSymbol).limit(0)
        else
          lib.read(corpusSymbol,
            exprFilter = Some(graft.query.Expr.col(idCol).isin(
              candIds.map(_.get(0)).toIndexedSeq: _*)))
            .join(cand.select(col("id_indexed").as(idCol)).distinct(),
              Seq(idCol), "left_semi")
      // Exact verification on candidate docs only: shingle postings of
      // the candidate corpus slice × postings of batch docs that have a
      // candidate, joined on the raw shingle (exact, the q30 semantics),
      // restricted to candidate PAIRS before scoring.
      val cp = shinglePostings(corpusTexts, idCol, textCol, sl)
        .select(col("s"), col("id").as("id_indexed"), col("sz").as("__szi"))
      val bp = shinglePostings(
        batch.join(cand.select(col("id_new").as(idCol)).distinct(),
          Seq(idCol), "left_semi"),
        idCol, textCol, sl)
        .select(col("s"), col("id").as("id_new"), col("sz").as("__szn"))
      val inter = cp.join(bp, "s")
        .groupBy("id_new", "id_indexed")
        .agg(count(lit(1)).as("__i"),
          first(col("__szi")).as("__szi"), first(col("__szn")).as("__szn"))
        .join(cand, Seq("id_new", "id_indexed"), "left_semi")
      val out = inter
        .select(col("id_new"), col("id_indexed"),
          round(col("__i").cast("double") /
            (col("__szn") + col("__szi") - col("__i")).cast("double"), 6)
            .as("jac"))
        .filter(col("jac") >= threshold)
      // cand is consumed twice above (semi-joins) plus inside out's plan;
      // sever the lineage before unpersisting so the returned frame does
      // not silently recompute the candidate pipeline per action.
      out.localCheckpoint(true)
    } finally { cand.unpersist(false); () }
  }

  /** Incremental dedup admission: the batch rows that survive
    * [[matchesAgainstIndex]] — drop every new doc with a verified
    * near-duplicate already in the corpus. Combine with
    * [[appendToMinhashIndex]] on the survivors to advance the index one
    * increment (the dedup-then-admit loop).
    */
  def dedupAgainstIndex(
      lib: graft.core.Library,
      batch: DataFrame,
      name: String,
      corpusSymbol: String,
      idCol: String,
      textCol: String,
      threshold: Double,
      maxBucket: Int = 1000,
      maxProbeKeys: Int = 100000): DataFrame = {
    val dupes = matchesAgainstIndex(lib, batch, name, corpusSymbol, idCol,
      textCol, threshold, maxBucket, maxProbeKeys)
      .select(col("id_new").as(idCol)).distinct()
    batch.join(dupes, Seq(idCol), "left_anti")
  }

  /** Exact Jaccard similarity between two docs' shingle SETS — used to
    * verify LSH candidates (the standard candidates→verify pipeline).
    */
  def jaccard(aSet: Column, bSet: Column): Column =
    when(size(array_union(aSet, bSet)) === 0, lit(0.0)).otherwise(
      size(array_intersect(aSet, bSet)).cast("double") /
        size(array_union(aSet, bSet)).cast("double"))

  /** Near-dup pairs with exact n-gram Jaccard ≥ threshold, computed by
    * inverted-index self-join (shingle postings → join on shingle →
    * count shared / union) — no O(n²), shuffles on shingle strings.
    *
    * Set sizes ride along on each posting row (`sz`), so no extra joins;
    * both self-join sides share one identical exchange subtree → Spark
    * reuses it (ReusedExchange), computing the postings exactly once.
    */
  def ngramJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleLen: Int,
      threshold: Double): DataFrame =
    ngramJaccardPairs(df, idCol, textCol, shingleLen, threshold, maxDocFreq = 0)

  /** maxDocFreq > 0 drops shingles shared by more than that many docs
    * before pairing — the skew guard for real corpora, where one
    * boilerplate shingle shared by m docs would emit m(m-1)/2 pairs.
    * Dropping only SHRINKS intersections, so reported Jaccard is a lower
    * bound and the pair set is a subset of the maxDocFreq=0 answer (the
    * usual recall/cost dial; 0 applies no cap and is what the oracle-gated
    * query uses — exact up to the negligible 64-bit bucket-hash collision
    * caveat described below).
    *
    * Two physical strategies, same exact answer (dispatched on corpus
    * size, which costs one small count job at call time):
    *
    *  - ≤ ~520k docs: BLOCKED DENSE TILES. Sorted ids chop into
    *    contiguous range blocks (~4k docs each) with per-block local
    *    indices; each
    *    shingle bucket's postings are split per block pair and shuffled to
    *    one tile task, which accumulates intersection counts in a dense
    *    aN×bN int array and emits only threshold-passing pairs. This
    *    replaces the pair-key hash aggregate — on a dense-vocabulary
    *    corpus the number of (pair, shingle) incidences is quadratic-ish
    *    and that aggregate (hundreds of millions of distinct keys) was
    *    measured at 37s of the 42s total at 50k docs; dense increments
    *    cost ~1ns each and nothing per-pair ever shuffles. The tile scan
    *    at flush is bounded by OCCUPIED tiles (range blocks keep
    *    id-local buckets in few tiles; worst case O(n²/2) cells), which
    *    is why the path is gated: far beyond ~520k docs the all-cell
    *    scan dominates.
    *  - beyond: the postings hash-aggregate shape (BucketPairs generate →
    *    groupBy pair), which scales with actual incidences, not n² — the
    *    right shape for genuinely sparse billion-doc corpora, where
    *    exact all-pairs is only sane with a maxDocFreq cap anyway.
    */
  def ngramJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleLen: Int,
      threshold: Double,
      maxDocFreq: Long): DataFrame =
    ngramJaccardPairsImpl(df, idCol, textCol, shingleLen, threshold,
      maxDocFreq, forceDense = None)

  /** Test hook: forceDense pins the physical strategy so specs can assert
    * both produce identical answers on the same corpus.
    */
  private[graft] def ngramJaccardPairsImpl(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleLen: Int,
      threshold: Double,
      maxDocFreq: Long,
      forceDense: Option[Boolean],
      forcePrefix: Option[Boolean] = None): DataFrame = {
    // The pair machinery (BucketPairs/tile kernel) carries doc ids as
    // longs. A non-integral id would silently cast to null and read back
    // as garbage — reject it up front (same guard as Vectors.rankTopK);
    // hash or index string keys to a long before deduplicating.
    val idType = df.schema(idCol).dataType
    idType match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
          org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => ()
      case other => throw new IllegalArgumentException(
        s"ngramJaccardPairs id column must be integral (got $other); hash or " +
          "index non-integral ids to a long first")
    }
    // The bucket key is xxhash64(shingle), not the shingle string —
    // equality is all the intersection count needs, and an 8-byte key more
    // than halves the exchange bytes of the widest shuffle in the
    // pipeline. Caveat: a 64-bit hash collision would merge two shingle
    // buckets and inflate an intersection count, so results are
    // almost-surely exact rather than exact (odds become material only
    // near ~2^32 distinct shingles, per the birthday bound; the
    // ground-truth spec pins the fixed corpora).
    val spreadIn = Kernels.spread(df, Seq(idCol, textCol))
    val posts = shinglePostings(spreadIn, idCol, textCol, shingleLen)
      .select(xxhash64(col("s")).as("s"),
        col("id").cast("long").as("id"), col("sz"))
    // Two-phase dispatch. Phase 1 decides fallback without ever running
    // a compute kernel: first a ZERO-JOB stats gate — any corpus whose
    // optimizer size estimate exceeds 1 GiB is far past the dense cap
    // (or is a ≤520k-doc corpus of unusually huge documents, for which
    // the incidence-bound path is correct, merely not dense-optimal) —
    // so a 100 TB input never pays a dispatch job at all; below the
    // gate, one COLUMN-PRUNED count aggregate (partial counts from
    // parquet page metadata, 3 shuffled longs). The earlier
    // `limit(cap+1).count()` form looked cheaper but planned as
    // LocalLimit→Exchange→GlobalLimit, pushing up to cap EMPTY rows
    // through a single-partition exchange — 0.16s of the q30 wall at
    // sf0.1 for a 50k-row answer. Over-counting is the safe direction:
    // a raw-row count above the cap whose SHINGLED doc count is below
    // it takes the fallback — correct, not dense-optimal. Phase 2
    // (dense only): the per-doc distinct-shingle counts, now provably
    // ≤ cap rows — the same kernel the postings ride on, so sz agrees
    // with posts.sz exactly (the ground-truth spec pins both). No
    // shuffle, no persist, no postings pass in either phase.
    // A second zero-job shortcut bounds the OTHER side: below
    // DenseMaxDocs × 8 bytes the input cannot hold meaningfully more
    // than the doc cap (8 B/row is under any real parquet row with an id
    // plus non-empty text), so tiny corpora skip the count job entirely —
    // it was a fixed ~40 ms on every small-corpus call. A pathological
    // all-empty-text corpus that slips under it merely runs dense with
    // more blocks than the tile gate intends: correct, not dense-optimal.
    val fallback = forceDense match {
      case Some(dense) => !dense
      case None => pastDocGate(df, DenseMaxStatsBytes, DenseMaxDocs)
    }
    if (fallback) {
      val prefix = forcePrefix.getOrElse(threshold >= PrefixPathMinThreshold)
      if (prefix)
        prefixJaccardPairs(posts, idType, threshold, maxDocFreq,
          force = forcePrefix.contains(true))
      else bucketAggJaccardPairs(posts, idType, threshold, maxDocFreq)
    } else {
      // The block index needs only WHICH docs can shingle (set sizes
      // ride each posting row as posts.sz; docidx's old sz column was
      // dead beyond this filter) — so the collect gates on the cheap
      // token-count kernel instead of building every doc's distinct
      // shingle SET a second time (r22; ngramCount > 0 ⟸ DistinctShingles
      // nonempty, same normalize+tokenize). The converse fails only for
      // shingleLen == 1 on empty normalized text: split yields [""], so
      // ngramCount is 1 while the shingle set is empty. Such a doc takes
      // a dead docidx slot with no postings — a wasted slot, never a
      // wrong pair. The collect still rides the spread input, parallel
      // with the postings kernel.
      val collected: Array[Long] = spreadIn
        .filter(graft.functions.Text.ngramCount(col(textCol), shingleLen) > 0)
        .select(col(idCol).cast("long").as("id"))
        .collect().map(_.getLong(0))
      // Duplicate ids (a caller-contract violation — pairs are id-to-id)
      // would mint duplicate docidx slots and corrupt dense intersection
      // counts: keep one slot per id. The phase-1 row bound already caps
      // the collect size even with duplicates.
      val docs = collected.distinct
      // ~4k docs per block; floor of 8 blocks keeps small corpora on ≥36
      // tiles for parallelism. Gate at 128 blocks (~520k docs): past that
      // the dense tiles' O(n²) flush scan outgrows the incidence-bound
      // aggregate path.
      val n = docs.length.toLong
      val numBlocks = math.max((n + DenseBlockRows - 1) / DenseBlockRows,
        math.min(8L, (n + 255) / 256)).max(1L).toInt
      blockedJaccardPairs(posts, docs, idType, shingleLen, threshold,
        maxDocFreq, numBlocks)
    }
  }

  /** Docs per dense block (tile side length target). */
  private val DenseBlockRows = 4096L

  /** Dense-path gate: numBlocks above this (≈520k docs) falls back to
    * the incidence-bound aggregate shape. 128 (was 64 through r19):
    * range-block assignment confines bucket fan-out to the blocks that
    * actually hold a bucket's docs, so tiles without rows never
    * materialize and the all-cell flush scan is bounded by OCCUPIED
    * tiles, not numBlocks²/2 — the worst case (every bucket spanning
    * all blocks) is ~1.4e11 cell checks at 128 blocks, ~4 s across 32
    * cores, still under the fallback's aggregate cost on a corpus
    * dense enough to occupy every tile.
    */
  private val DenseMaxBlocks = 128

  /** Doc-count form of the dense gate (= DenseMaxBlocks × DenseBlockRows),
    * used by the dispatch probe's count.
    */
  private val DenseMaxDocs: Int = (DenseMaxBlocks * DenseBlockRows).toInt

  /** Zero-job dispatch gate: an input whose optimizer size estimate
    * exceeds this is always dispatched to the incidence-bound fallback
    * without running the count job (see ngramJaccardPairsImpl).
    */
  private val DenseMaxStatsBytes = 1L << 30

  /** The corpus-size gate of [[ngramJaccardPairsImpl]]'s dense path and
    * of the keeper auto-dispatch ([[dropNearDuplicates]] /
    * [[dropNearDuplicatesByQuality]]): true when `df` holds more than
    * `maxDocs` rows. Zero-job first — an optimizer size estimate above
    * `maxStatsBytes` answers without any job (a 100 TB input never pays a
    * dispatch count); an estimate under `maxDocs` × 8 bytes cannot hold
    * more rows than that (8 B/row is below any real row with an id plus
    * non-empty text), so tiny corpora skip the count too. Only the middle
    * band runs one column-pruned count aggregate (partial counts from
    * parquet page metadata). Over-counting is the safe direction
    * everywhere: a past-gate answer routes to the scale path (incidence
    * fallback / LSH), which is correct on any corpus, merely not
    * dense-optimal on a small one.
    */
  private[graft] def pastDocGate(df: DataFrame, maxStatsBytes: Long, maxDocs: Long): Boolean = {
    val statsBytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    statsBytes > maxStatsBytes ||
      (statsBytes > maxDocs * 8L && df.select(count(lit(1))).head.getLong(0) > maxDocs)
  }

  /** The blocked dense-tile strategy (see ngramJaccardPairs doc). */
  private def blockedJaccardPairs(
      posts: DataFrame,
      docs: Array[Long],
      idType: org.apache.spark.sql.types.DataType,
      shingleLen: Int,
      threshold: Double,
      maxDocFreq: Long,
      numBlocks: Int): DataFrame = {
    val spark = posts.sparkSession
    import spark.implicits._
    // Block = CONTIGUOUS id-range slice (sorted ids chopped into
    // numBlocks equal runs); local = rank within the slice. This path
    // only admits ≤ DenseMaxDocs (the caller's gate), so the whole
    // index is built DRIVER-SIDE from the caller's probe array — a
    // ≲10 MB structure — instead of a window shuffle + localCheckpoint
    // + per-block count job (3 jobs and an exchange that dominated the
    // small-corpus wall; block assignment does not affect emitted
    // pairs, only tile balance). RANGE, not hash(id): documents that
    // co-occur in shingle buckets are very often id-NEIGHBORS (same
    // crawl segment / source shard / scale-up replica — sf5's replicas
    // are shingle-disjoint, so every bucket lives inside one 5k-id
    // run), and a bucket confined to few blocks splits into few tile
    // rows instead of numBlocks²/2. Measured at sf5/250k docs: hash
    // scattered every ~141-doc bucket over all 62 blocks, duplicating
    // each posting into ~62 tile rows — a 12 GB exchange and a 46 s
    // wall; range assignment confines it to the replica's 1-2 blocks
    // (1-3 tile rows). Uniformly-random co-occurrence is the same cost
    // under either assignment — range is never worse. The fallback
    // aggregate path never collects.
    val sliceRows: Int = ((docs.length.toLong + numBlocks - 1) / numBlocks).toInt
    val docidxRows: Array[(Long, Int, Int)] =
      docs.sorted.iterator.zipWithIndex.map { case (id, i) =>
        (id, i / sliceRows, i % sliceRows)
      }.toArray
    val counts: Array[Int] = {
      val c = new Array[Int](numBlocks)
      docidxRows.foreach { case (_, b, _) => c(b) += 1 }
      c
    }
    // RDD-backed with ONE partition, not a LocalRelation: broadcasting a
    // LocalTableScan goes through executeCollectIterator, which runs a
    // min(rows, defaultParallelism)-task job per broadcast — two 32-task
    // near-empty stages on every q30 execution. A 1-partition RDD scan
    // makes each broadcast build a single-task job over a few-MB index.
    // Set sizes ride each posting row (posts.sz), so the index carries
    // only (id, block, local).
    val docidx = spark.createDataset(
      spark.sparkContext.parallelize(docidxRows.toSeq, 1))
      .toDF("id", "block", "local")
    // ≤520k docs ⇒ docidx is ≲15 MB — always broadcastable here.
    val entries0 = posts
      .join(broadcast(docidx.select(col("id"), col("block"), col("local"))), "id")
      .select(col("s"), struct(col("block"), col("local"), col("sz")).as("e"))
    // Same pre-collect frequency cap as the aggregate path (there the
    // buffer bound is the point; here buckets are already ≤520k entries,
    // so this is consistency plus a smaller shuffle when a cap is set).
    val entries =
      if (maxDocFreq <= 0) entries0
      else {
        val bad = entries0.groupBy("s").agg(count(lit(1)).as("__df"))
          .filter(col("__df") > maxDocFreq).select("s")
        entries0.join(bad, Seq("s"), "left_anti")
      }
    val buckets = entries.groupBy("s").agg(collect_list(col("e")).as("docs"))
      .filter(size(col("docs")) > 1)
    val numTiles = numBlocks * (numBlocks + 1) / 2
    val tiles = buckets
      .select(graft.plans.BlockPairSplit(col("docs"), numBlocks))
      .repartition(numTiles, col("bp"))
      .sortWithinPartitions("bp")
      .as[(Int, Array[Long], Array[Long])]
    val t = threshold
    val nb = numBlocks
    val cts = counts
    val emitted = tiles.mapPartitions { it =>
      accumulateTiles(it, nb, cts, t)
    }.toDF("bi", "la", "bj", "lb", "inter", "szsum")
    val da = docidx.select(col("block").as("__ba"), col("local").as("__la"),
      col("id").as("__ida"))
    val db = docidx.select(col("block").as("__bb"), col("local").as("__lb"),
      col("id").as("__idb"))
    emitted
      .join(broadcast(da), col("bi") === col("__ba") && col("la") === col("__la"))
      .join(broadcast(db), col("bj") === col("__bb") && col("lb") === col("__lb"))
      // block/local order is not id order across blocks — restore id_a < id_b
      .select(least(col("__ida"), col("__idb")).as("id_a"),
        greatest(col("__ida"), col("__idb")).as("id_b"),
        col("inter"), col("szsum"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("jac",
        round(col("inter").cast("double") /
          (col("szsum") - col("inter")).cast("double"), 6))
      .filter(col("jac") >= threshold)
      .select(col("id_a").cast(idType).as("id_a"),
        col("id_b").cast(idType).as("id_b"), col("jac"))
  }

  /** Streaming per-partition tile accumulator: rows arrive sorted by bp,
    * so exactly one dense tile is live at a time. Emission applies the
    * exact Jaccard test (with a 1e-6 safety margin; the final
    * round()+filter happens in the plan so results are bit-identical to
    * the aggregate path).
    */
  private def accumulateTiles(
      it: Iterator[(Int, Array[Long], Array[Long])],
      numBlocks: Int,
      counts: Array[Int],
      threshold: Double): Iterator[(Int, Int, Int, Int, Long, Long)] = {
    val SzMask = (1L << 40) - 1
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Int, Int, Int, Int, Long, Long)]
    var cur = -1
    var bi = 0; var bj = 0; var aN = 0; var bN = 0
    var dense: Array[Int] = null
    var szA: Array[Long] = null
    var szB: Array[Long] = null
    def flush(): Unit = if (cur >= 0 && dense != null) {
      val diag = bi == bj
      var la = 0
      while (la < aN) {
        val sa = szA(la)
        if (sa > 0) {
          val base = la * bN
          var lb = if (diag) la + 1 else 0
          while (lb < bN) {
            val c = dense(base + lb)
            if (c > 0) {
              val szsum = sa + szB(lb)
              if (c.toDouble / (szsum - c).toDouble >= threshold - 1e-6)
                out += ((bi, la, bj, lb, c.toLong, szsum))
            }
            lb += 1
          }
        }
        la += 1
      }
    }
    while (it.hasNext) {
      val (bp, a, b) = it.next()
      if (bp != cur) {
        flush()
        cur = bp
        bi = bp / numBlocks; bj = bp % numBlocks
        aN = counts(bi); bN = counts(bj)
        dense = new Array[Int](aN * bN)
        szA = new Array[Long](aN)
        szB = if (bi == bj) szA else new Array[Long](bN)
      }
      if (b.length == 0) {
        // diagonal: upper triangle of a × a, normalized to (min,max) local
        var p = 0
        while (p < a.length) {
          val la = (a(p) >>> 40).toInt
          szA(la) = a(p) & SzMask
          var q = p + 1
          while (q < a.length) {
            val lb = (a(q) >>> 40).toInt
            if (la < lb) dense(la * bN + lb) += 1
            else dense(lb * bN + la) += 1
            q += 1
          }
          p += 1
        }
      } else {
        var q = 0
        while (q < b.length) {
          szB((b(q) >>> 40).toInt) = b(q) & SzMask
          q += 1
        }
        var p = 0
        while (p < a.length) {
          val la = (a(p) >>> 40).toInt
          szA(la) = a(p) & SzMask
          val base = la * bN
          var q2 = 0
          while (q2 < b.length) {
            dense(base + (b(q2) >>> 40).toInt) += 1
            q2 += 1
          }
          p += 1
        }
      }
    }
    flush()
    out.iterator
  }

  /** The incidence-bound aggregate strategy: bucket-explode instead of a
    * self-join (a self-join would evaluate the expensive postings subtree
    * once per side; groupBy + pairwise explode touches the postings ONCE).
    * graft.plans.BucketPairs emits the ordered (id_a < id_b) pairs of each
    * bucket directly, with the exact length-ratio prune
    * (jac ≤ min(sz)/max(sz), so min < t·max can never pass) applied
    * inline — one Generate instead of explode×explode+filters pushing m²
    * rows through the plan's widest point. szsum (= |A|+|B|, constant per
    * pair) rides as one long; first() picks it up for free alongside the
    * intersection count.
    */
  private def bucketAggJaccardPairs(
      posts: DataFrame,
      idType: org.apache.spark.sql.types.DataType,
      threshold: Double,
      maxDocFreq: Long): DataFrame = {
    // With a doc-frequency cap set, over-frequent shingles are dropped
    // BEFORE the bucket lists materialize: collect_list's aggregation
    // buffer for a boilerplate shingle shared by m docs is O(m) on one key,
    // so a post-collect filter would cap the pair blow-up but not the
    // buffer — at reference scale ("billions of rows") that single buffer
    // is the OOM. The freq pre-aggregate shuffles only (s, count) partials;
    // the ANTI-join side holds only the few over-cap keys (≤ incidences/cap
    // — AQE broadcasts it when small), where a semi join against the
    // survivor set would sort a key set nearly as large as the postings
    // (SURVEY.md §11 "Bucket-cap shape"). Results are identical either way:
    // an over-cap bucket contributed nothing downstream.
    val capped =
      if (maxDocFreq <= 0) posts
      else {
        val bad = posts.groupBy("s").agg(count(lit(1)).as("__df"))
          .filter(col("__df") > maxDocFreq).select("s")
        posts.join(bad, Seq("s"), "left_anti")
      }
    val buckets = capped.groupBy("s")
      .agg(collect_list(struct(col("id"), col("sz"))).as("docs"))
      .filter(size(col("docs")) > 1)
    buckets
      .select(graft.plans.BucketPairs(col("docs"), threshold))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("inter"), first(col("szsum")).as("szsum"))
      .withColumn("jac",
        round(col("inter").cast("double") /
          (col("szsum") - col("inter")).cast("double"), 6))
      .filter(col("jac") >= threshold)
      // ids were widened to long for the pair kernel; narrow back so the
      // output schema matches the input id column's type
      .select(col("id_a").cast(idType).as("id_a"),
        col("id_b").cast(idType).as("id_b"), col("jac"))
  }

  /** Threshold at/above which the big-corpus fallback uses prefix
    * filtering instead of the all-incidence aggregate. Below it the
    * prefix barely shrinks (p = n − ⌈t·n⌉ + 1 keeps ~(1−t) of each
    * doc's shingles) and its extra passes cost more than they save —
    * the round-12 scale rehearsal measured the t=0.2 regime as
    * incidence-bound either way (SURVEY.md §15).
    */
  private val PrefixPathMinThreshold = 0.5

  /** Exact Jaccard pairs via PREFIX FILTERING (AllPairs/PPJoin family;
    * distributed shape after Vernica, Carey & Li, SIGMOD 2010
    * "Efficient Parallel Set-Similarity Joins Using MapReduce") — the
    * high-threshold answer to the quadratic wall measured at sf10
    * (SURVEY.md §15): the all-incidence aggregate pays Σ|bucket|²
    * co-occurrences, but for Jaccard ≥ t any qualifying pair must (a)
    * satisfy t·max(|A|,|B|) ≤ min(|A|,|B|) and (b) collide on at least
    * one shingle inside BOTH docs' (global-rarity-ordered) prefixes of
    * length n − ⌈t·n⌉ + 1 — proof: the globally-smallest shared shingle
    * cannot sit past either prefix, else that doc's ≥ ⌈t·n⌉ overlap
    * could not fit in its ⌈t·n⌉ − 1 suffix slots. So candidates come
    * from RARE-shingle buckets only, then verify with an exact
    * intersection count — 100% recall at ANY threshold (this is a
    * physical optimization, not a recall dial; the parity spec pins it
    * against both other paths), and the shuffles are 8-byte-keyed
    * posting-linear: freq join, one bounded per-doc prefix aggregate,
    * candidate distinct, and two verification joins proportional to
    * Σ_candidates |A| — never Σ|bucket|².
    *
    * The ceil slack (−1e-9) errs toward a LONGER prefix when t·n lands
    * on a double-representation boundary: more candidates, never lost
    * recall.
    */
  /** Above this average shingle doc-frequency the prefix path DELEGATES
    * to the incidence aggregate (auto dispatch only — a forced call runs
    * prefix regardless): with every shingle shared by many docs there
    * are no "rare" shingles, prefix buckets stay population-sized, and
    * the verification join amplifies the un-pruned candidates by doc
    * length — measured as a 75 GB spill on the sf10 rehearsal corpus
    * (300k distinct shingles across 500k docs, median df 141; see
    * SURVEY.md §15, PrefixProbe). Natural corpora sit at avg df ≈ 1–3
    * (most shingles contain doc-unique content), which is the regime
    * prefix filtering is FOR. The gate costs one aggregate over the
    * freq table the path builds anyway.
    */
  private val PrefixMaxAvgDf = 8.0

  /** The SECOND prefix-dispatch condition (round 14, measured on
    * Zipf-vocabulary sf dirs; SURVEY.md §17 "Two vocabulary regimes" keeps
    * the numbers and the generator rule): rare shingles alone don't justify
    * the prefix path — on a boilerplate-FREE natural corpus (sf10-zipf, avg
    * df 1.04) incidence measured 12.3 s where prefix paid 27.6 s / 3.4 GB
    * for its two corpus-postings exchanges (collect_list + the prefix
    * self-join), because the candidate-pair mass Σ df·(df−1)/2 was already
    * tiny. Prefix engages only when that mass exceeds this factor × total
    * postings — i.e. when the incidence bucket join would materially
    * out-cost the prefix machinery (the boilerplate fixture of SURVEY.md
    * §15 and §17 "Two vocabulary regimes": Σdf² ≈ 5 × postings ⇒ prefix,
    * where it wins 32×). Both conditions cost the ONE aggregate over the
    * freq table the path builds anyway.
    */
  private val IncidencePairsFactor = 2.0

  private[graft] def prefixJaccardPairs(
      posts: DataFrame,
      idType: org.apache.spark.sql.types.DataType,
      threshold: Double,
      maxDocFreq: Long,
      force: Boolean = false): DataFrame = {
    // maxDocFreq semantics identical to the incidence path: over-cap
    // shingles leave the universe entirely (prefix selection AND
    // verification), so the capped answer matches bucketAgg's bit-for-bit
    val base =
      if (maxDocFreq <= 0) posts
      else {
        val bad = posts.groupBy("s").agg(count(lit(1)).as("__df"))
          .filter(col("__df") > maxDocFreq).select("s")
        posts.join(bad, Seq("s"), "left_anti")
      }
    val freq = base.groupBy("s").agg(count(lit(1)).as("__df"))
    if (!force) {
      val d = freq.agg(count(lit(1)).as("__n"), sum(col("__df")).as("__tot"),
        sum(col("__df") * (col("__df") - 1)).as("__pairs2")).head
      val (nShingles, totPosts) = (d.getLong(0), d.getLong(1))
      val estPairs = d.getLong(2) / 2.0
      // delegate to incidence when (a) nothing is rare — prefix buckets
      // stay population-sized and verification amplifies (the 75 GB
      // dense-corpus spill), or (b) the candidate-pair mass is small
      // enough that the incidence bucket join is simply cheaper than
      // prefix's two postings exchanges (the zipf measurement)
      if (nShingles == 0L || totPosts.toDouble / nShingles > PrefixMaxAvgDf ||
          estPairs <= IncidencePairsFactor * totPosts)
        return bucketAggJaccardPairs(posts, idType, threshold, maxDocFreq)
    }
    val prefixes = base.join(freq, "s")
      .groupBy("id")
      .agg(first(col("sz")).as("sz"),
        array_sort(collect_list(struct(col("__df"), col("s")))).as("__ss"))
      .select(col("id"), col("sz"),
        explode(slice(col("__ss"), lit(1),
          greatest(lit(1),
            (col("sz") - ceil(lit(threshold) * col("sz") - lit(1e-9)) + 1)
              .cast("int"))))
          .as("__e"))
      .select(col("id"), col("sz"), col("__e").getField("s").as("s"))
    val cand = prefixes.as("a")
      .join(prefixes.as("b"),
        col("a.s") === col("b.s") && col("a.id") < col("b.id") &&
          // size-ratio bound: i ≥ t·max(a,b) and i ≤ min(a,b)
          col("a.sz") >= lit(threshold) * col("b.sz") - lit(1e-9) &&
          col("b.sz") >= lit(threshold) * col("a.sz") - lit(1e-9))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        (col("a.sz") + col("b.sz")).as("szsum"))
      .distinct()
    val withA = cand.join(base.select(col("id").as("id_a"), col("s")), Seq("id_a"))
    withA.join(base.select(col("id").as("id_b"), col("s")), Seq("id_b", "s"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("inter"), first(col("szsum")).as("szsum"))
      .withColumn("jac",
        round(col("inter").cast("double") /
          (col("szsum") - col("inter")).cast("double"), 6))
      .filter(col("jac") >= threshold)
      .select(col("id_a").cast(idType).as("id_a"),
        col("id_b").cast(idType).as("id_b"), col("jac"))
  }

  /** ---- duplicate clustering ----
    * Connected components over a near-dup pair list: every doc in a pair
    * gets the MINIMUM doc id of its component as `cluster_id` — the
    * canonical-representative step real dedup pipelines run after
    * candidate verification (pairs → groups → keep one per group).
    *
    * Plan: iterative min-label propagation — labels start as each node's
    * own id; each round every node takes the min of its neighbors' labels
    * (one join + one groupBy per round, both keyed shuffles); converges in
    * O(diameter) rounds and near-dup components are shallow (a dup
    * cluster's diameter is tiny — everything is similar to everything).
    * For adversarial long-chain graphs the round cap bounds cost; the
    * published alternating small-star/large-star construction drops in
    * here if ever needed. Each round materializes via localCheckpoint —
    * persist alone keeps compute O(1) but the LOGICAL plan still chains
    * (labels appears twice per round, so analysis walks a 2^rounds tree
    * — a driver GC storm once the pair pipeline feeding `edges` is
    * heavy); the checkpoint truncates lineage so plans stay O(1) too.
    */
  def duplicateClusters(pairs: DataFrame, maxRounds: Int = 30): DataFrame = {
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .persist()
    var labels = edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("cluster_id")).persist()
    var round = 0
    var changed = 1L
    // One propagation step, carrying a `moved` flag per node so the
    // convergence probe is a filter-count over the freshly persisted frame
    // (one cached scan) instead of a separate labels⋈next join job.
    def propagate(): DataFrame = {
      // candidate label per node: min over neighbors' current labels
      val prop = edges.join(labels, edges("src") === labels("id"))
        .groupBy(col("dst").as("id2")).agg(min(col("cluster_id")).as("nbr"))
      labels.join(prop, labels("id") === prop("id2"), "left")
        .select(col("id"),
          least(col("cluster_id"), coalesce(col("nbr"), col("cluster_id")))
            .as("cluster_id"),
          (col("nbr").isNotNull && col("nbr") < col("cluster_id")).as("moved"))
    }
    def delta(next: DataFrame): Long = next.filter(col("moved")).count()
    try {
      while (round < maxRounds && changed > 0) {
        // moved rides along in the persisted frame; propagate()'s explicit
        // select never reads it, so it costs one cached boolean column.
        val next = propagate().localCheckpoint(true)
        changed = delta(next)
        labels.unpersist()
        labels = next
        round += 1
      }
      // The loop exits with changed > 0 when the CAP round itself still
      // moved labels — which can also be the final converging step. One
      // extra check-only propagation disambiguates before declaring
      // failure: a silent non-converged return would hand back labels that
      // are NOT component minima and dropNearDuplicates would keep several
      // "canonicals" per cluster.
      if (changed > 0 && delta(propagate()) > 0)
        throw new IllegalStateException(
          s"duplicateClusters did not converge within $maxRounds rounds — " +
            "component diameter exceeds the cap; raise maxRounds")
      // Hand back a lineage-truncated, cache-free result: returning the
      // persisted frame would leak cache across calls, and unpersisting it
      // directly would cascade a full re-derivation through every round.
      val out = labels.drop("moved").localCheckpoint(true)
      out
    } finally {
      labels.unpersist()
      edges.unpersist()
    }
  }

  /** Importance weights — the soft alternative to dropping near-dups:
    * every doc in a duplicate cluster of size m weighs 1/m, isolated docs
    * weigh 1.0. Weighted training preserves every document (provenance,
    * long-tail phrasing) while removing the duplication bias that hard
    * dedup buys with data loss. Output: (idCol, weight), weight rounded
    * to 6 places, one row per input doc.
    *
    * Scale shape: clusters exist only for docs IN the pairs graph — a
    * sparse subset of the corpus — so the sizes aggregate and the
    * weights join touch the near-dup graph, not the corpus; the final
    * left join keys on ids only (text never shuffles).
    */
  def duplicateWeights(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val clusters = duplicateClusters(pairs)
    val sizes = clusters.groupBy("cluster_id").agg(count(lit(1)).as("__m"))
    val weights = clusters.join(sizes, "cluster_id")
      .select(col("id").as(idCol), col("__m"))
    df.select(col(idCol))
      .join(weights, Seq(idCol), "left")
      .select(col(idCol),
        round(lit(1.0) / coalesce(col("__m"), lit(1L)).cast("double"), 6)
          .as("weight"))
  }

  /** Per-document n-gram novelty: the fraction of a doc's DISTINCT
    * shingles that appear in no other document (document frequency 1).
    * High novelty marks genuinely original text; low novelty marks docs
    * assembled from corpus-common phrasing — a ranking signal for
    * dedup-adjacent curation that needs no pair enumeration at all.
    * Docs with no shingles (shorter than n tokens) are vacuously novel
    * (1.0). Output: (idCol, novelty) rounded to 6, one row per doc.
    *
    * Scale shape: postings aggregate to per-shingle doc frequencies
    * (counter shuffle, bounded by the shingle vocabulary) and join back
    * to the postings on the shingle key — both sides derive from the
    * SAME postings subtree, so Spark reuses the exchange (one shingle
    * kernel pass, like ngramJaccardPairs' self-join). The per-doc mean
    * then aggregates partially: explode preserves partition locality, so
    * the doc-keyed shuffle carries ~1 row per doc. Text never shuffles.
    */
  def noveltyScore(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int): DataFrame = {
    val posts = shinglePostings(
      Kernels.spread(df, Seq(idCol, textCol)), idCol, textCol, n)
    val freq = posts.groupBy("s").agg(count(lit(1)).as("__df"))
    val perDoc = posts.join(freq, "s")
      .groupBy(col("id").as(idCol))
      .agg(round(avg(when(col("__df") === 1, 1.0).otherwise(0.0)), 6)
        .as("__nov"))
    df.select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__nov"), lit(1.0)).as("novelty"))
  }

  /** The full near-dup removal pipeline: exact dedup → near-dup pairs →
    * connected components → keep the canonical (min-id) doc per cluster.
    * Returns the surviving rows of df.
    *
    * Pair tier AUTO-DISPATCH (the [[KeeperLshMaxDocs]] bar, ~64k docs
    * / 256 MiB): below it, exact inverted-index Jaccard pairs; past it,
    * [[lshJaccardPairs]] — MinHash-LSH candidates exact-rescored —
    * because the exact tier's incidence cost is Σ|bucket|², quadratic
    * on a dense-vocabulary corpus at low thresholds (measured 85.9 s /
    * 9.2 GB shuffle at 250k docs, t=0.2), while the LSH tier is
    * corpus-linear plus bounded bucket joins. Every LSH-emitted pair truly clears `threshold` (exact
    * rescore); recall is the band recall — the standard large-corpus
    * dedup contract. `maxDocFreq` caps boilerplate shingles on the exact
    * tier; the LSH tier's `maxBucket` cap plays that role past the gate.
    * Identical texts are always caught: the exact-fingerprint tier runs
    * first on BOTH routes.
    */
  def dropNearDuplicates(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleLen: Int = 3,
      threshold: Double = 0.8,
      maxDocFreq: Long = 0,
      lsh: Option[Boolean] = None): DataFrame =
    dropNearDuplicatesImpl(df, idCol, textCol, shingleLen, threshold,
      maxDocFreq, portable = false, forceLsh = lsh)

  /** Test/gate hook: forceLsh pins the pair tier (Some(true) = LSH,
    * Some(false) = exact) so specs and replay oracles can exercise both
    * routes on the same corpus; portable swaps xxhash64 for the
    * md5-derived h60 inside the LSH chain so an external engine replays
    * the buckets exactly.
    */
  private[graft] def dropNearDuplicatesImpl(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleLen: Int,
      threshold: Double,
      maxDocFreq: Long,
      portable: Boolean,
      forceLsh: Option[Boolean]): DataFrame = {
    val exact = dropExactDuplicates(df, idCol, textCol)
    val pairs = nearDupPairs(df, exact, idCol, textCol, shingleLen,
      threshold, maxDocFreq, portable, forceLsh)
    // no broadcast hint: the loser set is data-dependent (could be most of
    // a crawl) — AQE picks broadcast when it measures small
    val losers = duplicateClusters(pairs)
      .filter(col("id") =!= col("cluster_id"))
      .select(col("id"))
    exact.join(losers, exact(idCol) === losers("id"), "left_anti")
  }

  /** Shared pair-tier dispatch of both keepers. Gates on the RAW corpus
    * (`raw`), not the fingerprint-deduped survivors: the raw scan's stats
    * answer without a job, counting the survivors would force the
    * fingerprint aggregate early, and raw ≥ deduped so over-counting
    * routes to the scale path — correct on any corpus. `deduped` sits
    * below that aggregate's exchange, so the exact tier's kernel spread
    * does not run it at build time ([[Kernels.spread]]); the LSH tier
    * spreads nothing.
    */
  private[graft] def nearDupPairs(
      raw: DataFrame,
      deduped: DataFrame,
      idCol: String,
      textCol: String,
      shingleLen: Int,
      threshold: Double,
      maxDocFreq: Long,
      portable: Boolean,
      forceLsh: Option[Boolean]): DataFrame =
    if (forceLsh.getOrElse(pastDocGate(raw, KeeperLshMaxStatsBytes, KeeperLshMaxDocs))) {
      if (maxDocFreq > 0)
        log.warn(s"near-dup pair tier routed to LSH: maxDocFreq=$maxDocFreq " +
          "does not apply on this route (the LSH maxBucket cap bounds " +
          "boilerplate shingles instead); pass lsh=Some(false) to pin the " +
          "exact tier if maxDocFreq semantics are required")
      lshJaccardPairs(deduped, idCol, textCol, shingleLen, threshold,
        portable = portable)
    } else
      ngramJaccardPairs(deduped, idCol, textCol, shingleLen, threshold,
        maxDocFreq)

  /** The keeper auto-dispatch bar of [[pastDocGate]]: past it, the pair
    * tier is LSH. A LOWER bar than the dense gate's: both exact pair
    * strategies are quadratic-ish at the keepers' typical low thresholds
    * (dense tiles scan O(n²/2) cells; the incidence aggregate scales
    * with Σ|bucket|²), and the measured exact-vs-LSH crossover is ~50k
    * docs (sf1: exact keeper 5.8 s vs LSH keeper 5.2 s; by 250k docs
    * exact is 85.9 s / 9.2 GB vs LSH ~11 s — SURVEY §16/§17 rows). The
    * bar sits at the next power of two above the crossover. The stats
    * shortcut (256 MiB ≈ tens-of-GB of text at parquet's ~50× text
    * compression) keeps a big corpus from ever paying the count.
    */
  private[graft] val KeeperLshMaxDocs = 65536L
  private[graft] val KeeperLshMaxStatsBytes = 1L << 28

  /** Quality-aware near-duplicate removal: the cluster discovery of
    * [[dropNearDuplicates]], but every duplicate group keeps its BEST
    * document under (`scoreCol` desc, id asc) instead of the min-id
    * canonical — the keeper rule real crawl pipelines want: when the
    * same page was captured five times, keep the highest-quality
    * capture (longest extraction, best quality score, newest snapshot —
    * whatever the caller scores), not the smallest id. Applies at BOTH
    * tiers: identical-fingerprint groups and Jaccard-connected
    * components each resolve to their (score desc, id asc) argmax.
    *
    * Scale shape unchanged from the canonical variant: keeper selection
    * is a keyed `min(struct(-score, id))` aggregate — running state is
    * one (score, id) pair per group, never a window buffering a
    * 500M-copy boilerplate cluster on one task. Ties on score fall to
    * the smaller id, so selection is deterministic for any score the
    * caller derives deterministically.
    */
  def dropNearDuplicatesByQuality(
      df: DataFrame,
      idCol: String,
      textCol: String,
      scoreCol: String,
      shingleLen: Int = 3,
      threshold: Double = 0.8,
      maxDocFreq: Long = 0,
      lsh: Option[Boolean] = None): DataFrame =
    dropNearDuplicatesByQualityImpl(df, idCol, textCol, scoreCol,
      shingleLen, threshold, maxDocFreq, portable = false, forceLsh = lsh)

  /** Test/gate hook — see [[dropNearDuplicatesImpl]]. The pair tier
    * auto-dispatches at the [[KeeperLshMaxDocs]] bar exactly like
    * [[dropNearDuplicates]]; the exact-fingerprint keeper tier runs
    * first on both routes (so a >maxBucket identical-text group, whose
    * LSH buckets the cap would drop, still collapses to its best copy).
    */
  private[graft] def dropNearDuplicatesByQualityImpl(
      df: DataFrame,
      idCol: String,
      textCol: String,
      scoreCol: String,
      shingleLen: Int,
      threshold: Double,
      maxDocFreq: Long,
      portable: Boolean,
      forceLsh: Option[Boolean]): DataFrame = {
    val fp = df.select(col(idCol).as("__bid"), col(scoreCol).as("__q"),
      Text.fingerprint(col(textCol)).as("__fp"))
    val exactKeep = bestByScore(fp, "__fp").withColumnRenamed("__bid", idCol)
    val exact = df.join(exactKeep, Seq(idCol), "left_semi")
    val pairs = nearDupPairs(df, exact, idCol, textCol, shingleLen,
      threshold, maxDocFreq, portable, forceLsh)
    dropByQualityFromPairs(exact, pairs, idCol, scoreCol)
  }

  /** (score desc, id asc) argmax per `key` group over a (__bid, __q, key)
    * frame — ONE keyed min(struct) aggregate (running state is a single
    * (−score, id) pair per group; never a window buffering a mega-group
    * on one task). The score is negated, never the id: `-id` on a string
    * id silently casts to double-null.
    */
  private def bestByScore(grouped: DataFrame, key: String): DataFrame =
    grouped.groupBy(key)
      .agg(min(struct((-col("__q")).as("n"), col("__bid").as("id"))).as("w"))
      .select(col("w.id").as("__bid"))

  /** Quality-aware near-duplicate removal over CALLER-SUPPLIED duplicate
    * pairs — the composition API that gives the LSH-fed 100 TB posture a
    * spelling: the sibling overload hardcodes [[ngramJaccardPairs]] as
    * its pair tier (exact, corpus-quadratic in candidate incidences at
    * low thresholds), whereas a web-scale pipeline generates candidates
    * with MinHash-LSH ([[minhashCandidates]] for a self-join corpus,
    * [[minhashCandidatesAgainstIndex]]/[[matchesAgainstIndex]] for the
    * persisted-index increment loop) and feeds them here:
    *
    * {{{
    * val pairs = Dedup.minhashCandidates(docs, "id", "text")   // or any
    * Dedup.dropNearDuplicatesByQuality(docs, pairs, "id", "score")
    * }}}
    *
    * `pairs` must expose `id_a`/`id_b` (the contract every pair
    * generator in this module emits). Each connected component keeps its
    * (`scoreCol` desc, id asc) argmax; rows in no pair survive untouched.
    * No exact-fingerprint pre-tier runs — identical texts hash to
    * identical signatures, so an LSH generator already pairs them; a
    * generator with different semantics keeps authority over what
    * "duplicate" means, which is the point of injecting pairs.
    *
    * Scale shape: clustering is [[duplicateClusters]]' iterative keyed
    * min-label propagation; keeper selection one keyed aggregate; the
    * final anti-join is id-keyed. Nothing rescans text, so the cost is
    * the pair generator's — with LSH candidates, the whole pipeline is
    * corpus-linear plus bounded bucket joins.
    */
  def dropNearDuplicatesByQuality(
      df: DataFrame,
      pairs: DataFrame,
      idCol: String,
      scoreCol: String): DataFrame =
    dropByQualityFromPairs(df, pairs, idCol, scoreCol)

  /** Shared keeper tail of both [[dropNearDuplicatesByQuality]]
    * overloads: cluster the pairs, keep each cluster's (score desc, id
    * asc) argmax, anti-join the losers away.
    */
  private def dropByQualityFromPairs(
      df: DataFrame,
      pairs: DataFrame,
      idCol: String,
      scoreCol: String): DataFrame = {
    val clusters = duplicateClusters(pairs.select("id_a", "id_b")) // (id, cluster_id)
    val scored = clusters.join(
      df.select(col(idCol).as("id"), col(scoreCol).as("__q")), Seq("id"))
      .withColumnRenamed("id", "__bid")
    val keepers = bestByScore(scored, "cluster_id").withColumnRenamed("__bid", "id")
    val losers = clusters.select("id").join(keepers, Seq("id"), "left_anti")
    df.join(losers, df(idCol) === losers("id"), "left_anti")
  }

  /** ---- Block-level (paragraph) dedup ----
    * The CCNet/RefinedWeb paragraph-dedup step adapted to block
    * granularity: split each doc into consecutive `blockWords`-word
    * blocks; a block occurring in ≥ `minDocFreq` DISTINCT docs is
    * boilerplate and survives only in its canonical (min-id) doc — every
    * other occurrence is stripped, and the doc's remaining blocks are
    * reassembled in order. ("Canonical occurrence survives" is the
    * deterministic, order-free spelling of CCNet's "first occurrence
    * survives", which depends on stream order.)
    *
    * Scale shape: blocks shuffle ONCE (groupBy block string for
    * (distinct-doc count, min doc)); the join back is block-keyed; doc
    * reassembly is a per-doc collect_list + array_sort, bounded by doc
    * length — no window over the corpus, no text re-shuffle beyond the
    * block rows themselves. Empty docs (every block stripped) remain as
    * empty text rather than disappearing — dropping is a policy decision
    * left to the caller.
    */
  def dropRepeatedBlocks(
      df: DataFrame,
      idCol: String,
      textCol: String,
      blockWords: Int = 10,
      minDocFreq: Int = 2): DataFrame = {
    require(blockWords >= 1 && minDocFreq >= 2, s"bad params $blockWords/$minDocFreq")
    val blocks = explodeBlocks(df, idCol, textCol, blockWords)
    val stats = blocks.groupBy("__block")
      .agg(count_distinct(col("__bid")).as("__df"), min(col("__bid")).as("__canon"))
    val kept = blocks.join(stats, Seq("__block"))
      .filter(col("__df") < minDocFreq || col("__bid") === col("__canon"))
    reassembleBlocks(df, kept, idCol, textCol)
  }

  /** Fixed `blockWords`-token blocks of every document — the shared
    * block substrate of dropRepeatedBlocks (q89) and Clean.dropBadBlocks
    * (q106); one definition so the two operators (and their oracles)
    * cannot drift. Output: (__bid, __pos, __btoks array, __block string)
    * — double-underscored internals so caller column names (even "id"/
    * "pos"/"block") cannot collide.
    */
  private[graft] def explodeBlocks(
      df: DataFrame, idCol: String, textCol: String, blockWords: Int): DataFrame = {
    val nBlocks = ceil(size(col("__w")) / lit(blockWords.toDouble)).cast("int")
    df.select(col(idCol).as("__bid"), split(col(textCol), " ", -1).as("__w"))
      .select(col("__bid"), posexplode(transform(sequence(lit(0), nBlocks - 1),
        i => slice(col("__w"), i * blockWords + 1, lit(blockWords)))))
      .toDF("__bid", "__pos", "__btoks")
      .withColumn("__block", concat_ws(" ", col("__btoks")))
  }

  /** Reassemble surviving blocks in position order (bounded per-doc
    * aggregate, no corpus window); docs whose every block was dropped
    * come back as EMPTY text via the left join.
    */
  private[graft] def reassembleBlocks(
      df: DataFrame, kept: DataFrame, idCol: String, textCol: String): DataFrame = {
    val rebuilt = kept.groupBy("__bid")
      .agg(concat_ws(" ",
        transform(array_sort(collect_list(struct(col("__pos"), col("__block")))),
          e => e.getField("__block"))).as("__text"))
    df.select(col(idCol)).join(rebuilt, df(idCol) === rebuilt("__bid"), "left")
      .select(col(idCol), coalesce(col("__text"), lit("")).as(textCol))
  }

  /** Cross-document exact-substring dedup over SLIDING token spans — the
    * distributed analog of ExactSubstr dedup (Lee et al. 2021,
    * "Deduplicating Training Data Makes Language Models Better"): any
    * `spanWords`-token span whose exact text occurs in >= `minDocFreq`
    * DISTINCT documents is removed from every non-canonical document
    * (the smallest doc id keeps its copy — the same canon rule as
    * dropRepeatedBlocks). Spans slide one token at a time, so a shared
    * passage is caught at ANY alignment, where the block variant (q89)
    * only sees duplication that lands on fixed block boundaries; a token
    * is dropped when at least one duplicated span covers it, and the
    * survivors reassemble in position order (fully-duplicated docs come
    * back as empty text). Within-doc repetition is out of scope here
    * (count is per distinct doc): that is repetitionRatio (q56) /
    * dropRepeatedBlocks territory.
    *
    * Scale shape (the r12 shuffle-diet re-plan — nothing token-level
    * ever reaches an exchange):
    *  1. spans hash map-side to an 8-byte key (xxhash64; `portable`
    *     swaps the md5-derived [[h60]] so the oracle replays every key
    *     bit-for-bit) — the stats aggregate and the dup-join shuffle
    *     8-byte longs, never ~spanWords-token strings;
    *  2. duplicated non-canonical starts aggregate per doc into ONE
    *     sorted array row (collect_set bounded by doc length), so the
    *     join back to the corpus is per-AFFECTED-doc, not per token;
    *  3. excision runs map-side in a codegen kernel
    *     ([[graft.plans.ExciseSpans]]): one merge-sweep over the raw
    *     string — no token posexplode, no (doc,pos) anti-join, no
    *     collect_list reassembly. Unaffected docs pass through verbatim
    *     (split+rejoin on " " is the identity, so this is bit-equal to
    *     the old reassembly; null text still comes back as "").
    * A hash collision (2^-64 / 2^-60 per gram pair) can only merge two
    * distinct grams' doc sets — and portable mode keeps even that
    * replayable by the verification oracle.
    */
  def dropRepeatedSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      spanWords: Int = 8,
      minDocFreq: Int = 2,
      portable: Boolean = false): DataFrame = {
    require(spanWords >= 2 && minDocFreq >= 2, s"bad params $spanWords/$minDocFreq")
    // ONE byte-level kernel pass per doc builds the sliding gram-hash
    // array (plans.GramHashes): no per-gram string construction, no
    // split/slice/concat_ws chain — bit-equal to hashing
    // concat_ws(" ", slice(split(text," ",-1), j, spanWords)) because
    // split-on-single-space round-trips byte slices of the raw text.
    // Short docs yield an empty array (no size-filter split pass).
    val hashes = df.select(col(idCol).as("__sid"),
      graft.plans.GramHashes(col(textCol), spanWords, portable).as("__ghs"))
    val grams = hashes
      .select(col("__sid"), posexplode(col("__ghs")).as(Seq("__p", "__gh")))
      .select(col("__sid"), (col("__p") + 1).cast("long").as("__s"), col("__gh"))
    // doc frequency via map-side per-doc dedup + plain count: bit-equal
    // to groupBy(__gh).agg(count_distinct(__sid)) but ONE single-stage
    // partial aggregate over per-doc-distinct pairs, instead of the
    // two-exchange expand plan Spark gives a distinct aggregate (which
    // would shuffle every gram INSTANCE twice)
    val dupGrams = hashes
      .select(col("__sid"), explode(array_distinct(col("__ghs"))).as("__gh"))
      .groupBy("__gh")
      .agg(count(lit(1)).as("__df"), min(col("__sid")).as("__canon"))
      .filter(col("__df") >= minDocFreq)
      .select(col("__gh"), col("__canon"))
    val starts = grams.join(dupGrams, "__gh")
      .filter(col("__sid") =!= col("__canon"))
      .groupBy("__sid")
      .agg(array_sort(collect_set(col("__s"))).as("__starts"))
    df.select(col(idCol), col(textCol))
      .join(starts, col(idCol) === col("__sid"), "left")
      .select(col(idCol),
        when(col("__starts").isNotNull,
          graft.plans.ExciseSpans(col(textCol), col("__starts"), spanWords))
          .otherwise(coalesce(col(textCol), lit(""))).as(textCol))
  }

  /** ---- SimHash ----
    * 64-bit signature per doc: bit j = sign of Σ over shingles of
    * (bit j of xxhash64(shingle) ? +1 : -1). The shingle hash is
    * materialized ONCE per posting row; the 64 bit-sums are conditional
    * `sum` aggregates in a single groupBy pass (map-side partials), so the
    * shuffle carries 64 ints per doc — not the shingles, and nothing is
    * recomputed 64×.
    */
  def simhashSignatures(posts: DataFrame, portable: Boolean = false): DataFrame = {
    val bits = simhashBits(portable)
    val h = if (portable) h60(col("s")) else xxhash64(col("s"))
    val hashed = posts.select(col("id"), h.as("h"))
    val bitSums = (0 until bits).map { j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"c$j")
    }
    val sums = hashed.groupBy("id").agg(bitSums.head, bitSums.tail: _*)
    val sig = (0 until bits)
      .map(j => when(col(s"c$j") > 0, lit(1L << j)).otherwise(lit(0L)))
      .reduce((a, b) => a.bitwiseOR(b))
    sums.select(col("id"), sig.as("sig"))
  }

  /** Signature width: 64 for xxhash64, 60 for the portable md5-derived
    * hash (15 hex digits) — both split into 4 bands for the hamming ≤ 3
    * pigeonhole. */
  private def simhashBits(portable: Boolean): Int = if (portable) 60 else 64

  def hammingDistance(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup candidate pairs: band the 64 bits into 4×16-bit
    * chunks (pigeonhole: hamming ≤ 3 ⇒ at least one identical chunk),
    * pair within (chunk index, chunk value) buckets, verify with exact
    * hamming. Output: (id_a, id_b, hamming), id_a < id_b.
    *
    * Candidates come from [[Kernels.scoredBucketPairs]], the sorted
    * bucket runs [[minhashCandidates]] uses, with the signature as the
    * payload joined onto both ids. `maxBucket` means pairwise at or
    * below, star-linked above: a bucket of more than `maxBucket` docs
    * links each member to its min id (|bucket| edges, the hamming
    * filter applying per edge) instead of pairing all-ways. The 4×2¹⁶
    * chunk key space saturates at ≫65k docs (every bucket then grows
    * linearly with the corpus and all-ways pairing quadratically), so
    * an uncapped run is a scale-killer on reference-size corpora. A
    * saturated bucket usually means a huge cluster of EXACT duplicates
    * (identical signatures), which the star keeps one connected
    * component; run dropExactDuplicates first, as the production
    * pipeline does. The cap only trades recall on near pairs whose
    * every shared chunk is over-populated and that are not the star's
    * centre.
    *
    * The signatures still come from a postings aggregate: every doc is
    * exploded into one row per shingle and rebuilt by a groupBy on id.
    * A SimHash signature depends only on its own doc's text, so this is
    * the next candidate for a per-document kernel like MinHash's
    * [[graft.plans.MinhashSignature]].
    */
  def simhashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleLen: Int = 3,
      maxHamming: Int = 3,
      maxBucket: Int = 1000,
      portable: Boolean = false): DataFrame = {
    val sigs = simhashSignatures(signaturePostings(df, idCol, textCol, shingleLen), portable)
    val chunks = sigs.select(col("id"), Kernels.bandKeys(col("sig"), simhashBits(portable), 4))
      .toDF("id", "chunk", "chunkval")
    Kernels.scoredBucketPairs(sigs, chunks, maxBucket)(hammingDistance(_, _).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }
}
