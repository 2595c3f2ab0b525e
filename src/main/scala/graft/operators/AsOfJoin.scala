package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Ts

/** As-of (backward-looking) join — the canonical timeseries operator the
  * reference lacks (SURVEY §2.2 "not present"), added because a
  * timeseries engine without it is incomplete.
  *
  * For each left row, attach the most recent right row with
  * right.ts <= left.ts within the same `by` key.
  *
  * Implementation: union-tag + per-key ordered window with
  * last(ignoreNulls) — ONE shuffle on the `by` key, no range join, no
  * nested loop; at 100 TB this is the only formulation that scales (a
  * range-condition join would either nested-loop or explode). Per-key
  * data streams through the window in ts order.
  *
  * Skew: a window partition is ONE task — AQE's skew handling splits
  * join partitions, never window partitions, so a mega key (one symbol
  * carrying a large fraction of all events) serializes on one task here.
  * [[asofJoinChunked]] is the skew-safe formulation for that corpus
  * shape: it splits every key's TIMELINE into bounded chunks (a pure
  * function of ts, so equal timestamps can never straddle a boundary),
  * runs the same window per (key, chunk) in parallel, and threads a
  * per-(key, chunk) carry-in table — the last right-row values of every
  * earlier chunk — through a second, summary-sized window: the
  * distributed prefix scan (same two-level scheme as the position
  * engine in functions.Sampling). SURVEY.md §14 ("Key-skew closure")
  * records the two shapes measured on a planted mega key.
  */
object AsOfJoin {

  /** Tagged union of the two sides: left rows carry their own columns +
    * null right-value slots; right rows carry the `by` keys, ts, and
    * their values under `__r_*`. `__side` sorts right (0) before left
    * (1) at equal ts, which is exactly right.ts <= left.ts.
    */
  private def taggedUnion(
      left: DataFrame,
      right: DataFrame,
      tsCol: String,
      by: Seq[String],
      rightValueCols: Seq[String]): (DataFrame, Seq[String]) = {
    val leftCols = left.columns.toSeq
    val l = left
      .withColumn("__side", lit(1))
      .select((leftCols.map(col) :+ col("__side") :+
        lit(null).cast(left.schema(tsCol).dataType).as("__r_ts")) ++
        rightValueCols.map(c => lit(null).cast(right.schema(c).dataType).as(s"__r_$c")): _*)
    val r = right
      .withColumn("__side", lit(0))
      .select((by.map(col) :+ col(tsCol) :+ col("__side") :+
        col(tsCol).as("__r_ts")) ++
        rightValueCols.map(c => col(c).as(s"__r_$c")): _*)
    (l.unionByName(r, allowMissingColumns = true), leftCols)
  }

  /** Final projection: left columns + the filled right values, with the
    * tolerance window applied against the filled right-row ts.
    */
  private def finish(
      filled: DataFrame,
      leftCols: Seq[String],
      tsCol: String,
      tsType: org.apache.spark.sql.types.DataType,
      rightValueCols: Seq[String],
      toleranceNs: Long,
      fill: String => Column): DataFrame = {
    val inWindow =
      if (toleranceNs < 0) lit(true)
      else fill("ts").isNotNull &&
        (Ts.toNs(col(tsCol), tsType) -
          Ts.toNs(fill("ts"), tsType) <= toleranceNs)
    filled
      .filter(col("__side") === 1)
      .select(leftCols.map(col) ++
        rightValueCols.map(c =>
          when(inWindow, fill(c)).otherwise(lit(null)).as(s"right_$c")): _*)
  }

  /** toleranceNs >= 0 bounds the lookback: a match older than
    * `left.ts - toleranceNs` yields null values (pandas merge_asof
    * `tolerance`). tsCol is the engine's canonical ns-epoch long.
    */
  def asofJoin(
      left: DataFrame,
      right: DataFrame,
      tsCol: String,
      by: Seq[String],
      rightValueCols: Seq[String],
      toleranceNs: Long = -1L): DataFrame = {
    val (unioned, leftCols) = taggedUnion(left, right, tsCol, by, rightValueCols)
    val w = Window
      .partitionBy(by.map(col): _*)
      .orderBy(col(tsCol).asc, col("__side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = ("ts" +: rightValueCols).foldLeft(unioned) { (df, c) =>
      df.withColumn(s"__f_$c", last(col(s"__r_$c"), ignoreNulls = true).over(w))
    }
    finish(filled, leftCols, tsCol, left.schema(tsCol).dataType,
      rightValueCols, toleranceNs, c => col(s"__f_$c"))
  }

  /** Skew-safe [[asofJoin]]: identical semantics (spec-pinned), but no
    * single task ever carries more than ~1/chunks of a key's timeline.
    *
    * Mechanics:
    *  1. ONE 1-row bounds job takes the global ts min/max; chunk id =
    *     `min(chunks-1, floor((ts-lo)/width))` — a PURE function of the
    *     row once lo/width are literals, so re-evaluation (exchange
    *     reuse off, retries, speculation) cannot disagree, and it is
    *     monotone in ts with equal timestamps always co-chunked.
    *  2. The [[asofJoin]] window runs per (key, chunk) — parallel
    *     across chunks even for a mega key.
    *  3. Right rows aggregate to a per-(key, chunk) summary (max_by on
    *     ts per value column — the chunk's closing values); a
    *     key-partitioned window over the DENSIFIED (key × chunks ≤ a
    *     few M rows) summary computes each chunk's carry-in from all
    *     earlier chunks; the carry joins back on (key, chunk) — the
    *     window's own partitioning, so no extra data-sized exchange.
    *  4. Per column: coalesce(within-chunk fill, carry-in).
    *
    * Ties: multiple right rows at the SAME (key, ts) are resolved
    * arbitrarily in both formulations (window sort-order vs max_by) —
    * as-of semantics don't define a winner; keep right (key, ts) unique
    * if you need one.
    */
  def asofJoinChunked(
      left: DataFrame,
      right: DataFrame,
      tsCol: String,
      by: Seq[String],
      rightValueCols: Seq[String],
      toleranceNs: Long = -1L,
      chunks: Int = 64): DataFrame = {
    require(chunks >= 1 && chunks <= 4096, s"chunks must be in [1, 4096], got $chunks")
    val tsType = left.schema(tsCol).dataType
    // Chunk bounds: any COVERING [lo, hi] is correct (the chunk id is a
    // monotone pure function of ts; a wider range only changes tile
    // balance, never results), and a null ts must be a LOUD error on
    // every path — the window formulation sorts nulls first (a null-ts
    // right row back-fills every left row), while a null chunk would
    // fall outside the carry grid and silently diverge. Fast path (r22,
    // guide §6): when BOTH sides are (filtered) parquet scans whose
    // footers carry explicit zero null counts for ts, the footer
    // min/max answer both needs from metadata alone — no job, and at
    // corpus scale no full dual-side column scan per call. One null
    // anywhere or a non-scan input falls back to the exact 1-row
    // aggregate job, whose census raises on surviving null ts rows.
    val footerBounds: Option[(Long, Long)] =
      for {
        (llo, lhi) <- graft.core.ParquetFooterStats.minMaxNsNoNulls(left, tsCol)
        (rlo, rhi) <- graft.core.ParquetFooterStats.minMaxNsNoNulls(right, tsCol)
      } yield (math.min(llo, rlo), math.max(lhi, rhi))
    val (loHi: Option[(Long, Long)]) = footerBounds.orElse {
      val bounds = left.select(Ts.toNs(col(tsCol), tsType).as("n"))
        .unionByName(right.select(
          Ts.toNs(col(tsCol), right.schema(tsCol).dataType).as("n")))
        .agg(min("n").as("lo"), max("n").as("hi"),
          count(lit(1)).as("rows"), count("n").as("nonnull")).first()
      require(bounds.getLong(2) == bounds.getLong(3),
        s"asofJoinChunked: ${bounds.getLong(2) - bounds.getLong(3)} null ts " +
          "rows — as-of needs a total time order")
      if (bounds.isNullAt(0)) None else Some((bounds.getLong(0), bounds.getLong(1)))
    }
    if (chunks == 1 || loHi.isEmpty || loHi.get._1 == loHi.get._2)
      return asofJoin(left, right, tsCol, by, rightValueCols, toleranceNs)
    val lo = loHi.get._1
    val width = math.max(1L, (loHi.get._2 - lo) / chunks + 1)
    // double division is monotone for fixed width and the quotient is
    // tiny (< chunks), so a boundary nudged one ulp still yields a
    // monotone, deterministic chunking — which is all correctness needs
    def chunkOf(tsNs: Column): Column = least(
      floor((tsNs - lit(lo)).cast("double") / lit(width.toDouble)).cast("long"),
      lit(chunks - 1L))

    val (unioned0, leftCols) = taggedUnion(left, right, tsCol, by, rightValueCols)
    val unioned = unioned0.withColumn("__chunk", chunkOf(Ts.toNs(col(tsCol), tsType)))
    val fillCols = "ts" +: rightValueCols

    val w = Window
      .partitionBy((by :+ "__chunk").map(col): _*)
      .orderBy(col(tsCol).asc, col("__side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = fillCols.foldLeft(unioned) { (df, c) =>
      df.withColumn(s"__f_$c", last(col(s"__r_$c"), ignoreNulls = true).over(w))
    }

    // per-(key, chunk) closing right values; last-non-null per COLUMN,
    // mirroring the window's per-column ignoreNulls fill
    val summary = unioned.filter(col("__side") === 0)
      .groupBy((by :+ "__chunk").map(col): _*)
      .agg(
        max_by(col(s"__r_${fillCols.head}"),
          when(col(s"__r_${fillCols.head}").isNotNull, col(tsCol)))
          .as(s"__s_${fillCols.head}"),
        fillCols.tail.map(c =>
          max_by(col(s"__r_$c"), when(col(s"__r_$c").isNotNull, col(tsCol)))
            .as(s"__s_$c")): _*)

    // Carry propagation WITHOUT the key×[0,chunks) densify (r22): the
    // old shape distinct-ed the summary's keys, exploded a full chunk
    // grid, LEFT-joined the summary back and prefix-scanned — a
    // distinct exchange plus a grid join, all summary-sized but each a
    // serial stage in the carry's build chain. Instead, one window per
    // key (order by chunk) computes each summary row's running
    // last-non-null per column (the per-column ignoreNulls fill the
    // densified prefix scan produced) AND the next summary chunk; each
    // row then explodes exactly the chunk range it carries into,
    // (__chunk+1 .. next summary chunk, or chunks-1 when last]. Chunks
    // before a key's first summary row get no carry row — the left
    // join below yields null, exactly the densified grid's null carry.
    // Same output, one less summary exchange, no grid join; still
    // O(keys × chunks) window work, so the 100 TB contract is
    // unchanged.
    val ws = Window.partitionBy(by.map(col): _*).orderBy(col("__chunk").asc)
    val wRun = ws.rowsBetween(Window.unboundedPreceding, 0)
    val ran = fillCols.foldLeft(summary) { (d, c) =>
      d.withColumn(s"__l_$c", last(col(s"__s_$c"), ignoreNulls = true).over(wRun))
    }.withColumn("__nextc", lead(col("__chunk"), 1).over(ws))
    val hi = coalesce(col("__nextc"), lit(chunks - 1L))
    val carry = ran
      // guard the final row at __chunk = chunks-1: sequence(a, b) with
      // a > b would generate a DESCENDING range, not an empty one
      .withColumn("__carrying",
        when(hi >= col("__chunk") + 1, sequence(col("__chunk") + 1, hi))
          .otherwise(array().cast("array<long>")))
      .select((by.map(col) :+ explode(col("__carrying")).as("__chunk")) ++
        fillCols.map(c => col(s"__l_$c").as(s"__c_$c")): _*)

    val joined = filled.join(carry, by :+ "__chunk", "left")
    finish(joined, leftCols, tsCol, tsType, rightValueCols, toleranceNs,
      c => coalesce(col(s"__f_$c"), col(s"__c_$c")))
  }
}
