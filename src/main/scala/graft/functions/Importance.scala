package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Data-selection importance weights for pretraining corpora (DSIR,
  * "Data Selection for Language Models via Importance Resampling",
  * Xie et al. 2023): score every raw document by how much its hashed
  * unigram distribution looks like a small TARGET corpus versus the raw
  * corpus itself, so a 100 TB crawl can be resampled toward a domain
  * (the reference engine has no analog; this is pipeline surface the
  * training-data use case needs).
  *
  * Shape at scale:
  *  - the feature space is a FIXED bucket count (default 256): both
  *    n-gram count aggregations reduce to ≤`buckets` rows no matter the
  *    corpus size, and the per-bucket log-ratio table is collected/
  *    broadcast legitimately (bounded by construction, like the IVF
  *    centroid table);
  *  - the document side explodes to (doc_id, bucket) pairs, joins the
  *    broadcast ratio table, and re-aggregates keyed on doc_id — text
  *    never shuffles, only longs do.
  *
  * Determinism: per-bucket log-ratios are quantized to fixed-point
  * MICRO-NATS (round(lr·1e6) as long) BEFORE the per-document sum, so
  * the sum is integer arithmetic — order-free and replayable exactly by
  * the DuckDB oracle regardless of partial-aggregation order (the q79
  * mean_quality lesson). Hashing is the engine-portable md5-derived
  * [[Dedup.h60]] so an independent SQL engine recomputes the buckets
  * digit-for-digit.
  */
object Importance {

  /** Per-document DSIR weight: mean is deliberately NOT taken — the raw
    * summed log-likelihood-ratio is what importance resampling
    * exponentiates; callers can divide by `n_toks` for a length-normalized
    * variant. Output: (idCol, n_toks, weight) with
    * weight = Σ_tokens log(p_target(bucket)/p_raw(bucket)) in nats,
    * add-one smoothed per bucket.
    */
  def dsirWeights(
      raw: DataFrame,
      target: DataFrame,
      idCol: String,
      textCol: String,
      buckets: Int = 256): DataFrame = {
    require(buckets > 0 && buckets <= (1 << 16),
      s"bucket count must be in (0, 65536], got $buckets — the ratio table " +
        "is collected to the driver and must stay bounded")
    // The WHOLE model is one job: both sides' texts flow through the
    // dsir_bucket_counts partial aggregate in a single tagged union (each
    // map task ships ONE buckets-long counter array per side — a 2-row,
    // 2·buckets-long collect, bounded by construction), totals and the
    // smoothed log-ratios then compute driver-side in plain arithmetic. The
    // former explode(split) → groupBy(side, bk) shape materialized a
    // corpus-sized token-row stream through the hash aggregate for the same
    // counts (~365 ms of q93's sf0.1 wall was this model job; SURVEY.md §21
    // "Bench gate defended" #3); the kernel splits each doc in place with
    // the identical tokenization (DsirModel.score's convention — null text
    // skipped, empty text one empty token). One model job + one scoring job
    // total; a per-piece formulation (count() totals, separate aggregates,
    // a join-then-collect) paid five driver round-trips of pure scheduling
    // floor for the same numbers.
    val sides = raw.select(lit(0).as("side"), col(textCol).as("__t"))
      .unionAll(target.select(lit(1).as("side"), col(textCol).as("__t")))
      .filter(col("__t").isNotNull)
      .groupBy("side")
      .agg(graft.plans.DsirBucketCounts(col("__t"), buckets).as("c"))
      .collect()
      .map(r => r.getInt(0) -> r.getSeq[Long](1).toArray).toMap
    val rArr = sides.getOrElse(0, new Array[Long](buckets))
    val tArr = sides.getOrElse(1, new Array[Long](buckets))
    val rTot = rArr.sum
    val tTot = tArr.sum
    // log(p_t/p_r) with add-one smoothing, as exact micro-nat longs —
    // the SAME double-arithmetic shape the DuckDB oracle replays,
    // packed as a bucket-indexed array (buckets with no raw token keep
    // ratio 0; they are unreachable when scoring the raw corpus itself).
    val lrfArr = new Array[Long](buckets)
    var bk = 0
    while (bk < buckets) {
      if (rArr(bk) > 0) {
        val lr = math.log(
          ((tArr(bk) + 1.0) * (rTot + buckets)) /
            ((rArr(bk) + 1.0) * (tTot + buckets))) * 1e6
        lrfArr(bk) = if (lr >= 0) Math.round(lr) else -Math.round(-lr)
      }
      bk += 1
    }

    // Scoring is ONE shuffle-free narrow map (graft.plans.DsirScore):
    // the model rides the closure, each doc hashes its own tokens and
    // sums micro-nats in place. The explode → broadcast-join → groupBy
    // formulation this replaces shuffled a corpus-sized (doc_id, bucket)
    // stream and paid two extra job waves (measured: q93 sf0.1 scoring
    // 1.15 s → ~0.4 s).
    val k = graft.plans.DsirScore(col(textCol), new graft.plans.DsirModel(lrfArr))
    // null-text docs are DROPPED, as the former explode formulation (and
    // the replay oracle's unnest) did — not emitted with null scores
    Kernels.spread(raw.filter(col(textCol).isNotNull), Seq(idCol, textCol))
      .select(col(idCol), k.as("__sc"))
      .select(col(idCol), col("__sc.n_toks").as("n_toks"),
        (col("__sc.ws").cast("double") / lit(1e6)).as("weight"))
  }
}
