package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions.{array, col, posexplode, shiftright}
import org.apache.spark.sql.types.StructType

/** Shared plumbing for the codegen'd text kernels and the LSH pair
  * families (MinHash, SimHash, hyperplane cosine).
  */
private[graft] object Kernels {

  /** Buy parallelism for a compute-bound kernel whose scan planned fewer
    * splits than cores are worth: narrow to exactly the needed columns and
    * round-robin them across min(16, 2×cores) tasks. A small
    * heavily-compressed text table lands in ONE split (zstd packs text
    * ~50×), putting a fused kernel on one core; a <8-split scan is
    * ≤ ~1 GB of input by construction (maxPartitionBytes), so the
    * exchange is bounded and never appears at corpus scale, where the
    * file layout supplies the splits. The bar is core-relative because
    * parquet bin-packing already targets ~defaultParallelism splits. A
    * kernel applied to the result stays above the repartition: the
    * optimizer does not push Generate nodes through an exchange (a plain
    * Project would be pushed back down).
    *
    * The decision never executes its input. Only a shuffle-free planned
    * plan (no `Exchange`, no `AdaptiveSparkPlanExec` root) is probed for
    * its split count: there `.rdd.getNumPartitions` is static and fires
    * no job. An input below an exchange — a join, an aggregate, a
    * distinct — is returned narrowed but unspread: its parallelism is
    * whatever the shuffle and AQE give it. Under AQE the probe itself
    * would run every upstream shuffle stage at build time, and the action
    * would then run the same stages again. Deciding still pays a full
    * physical planning of the input, so a caller whose input always sits
    * below an exchange (a semi-join's output) gains nothing from the call
    * and does not make it.
    *
    * r22 NEGATIVE RESULT, do not re-try: widening the gate to
    * `parts < cores` (so a 16-file sf1 corpus spreads on 32 cores) with
    * a 2×cores target made q30 at sf1 WORSE, 1.7-1.9 → 2.05-2.22 s warm
    * — a keyless repartition first pays a local sort of its input
    * (spark.sql.execution.sortBeforeRepartition, needed for retry
    * determinism) plus serialize/compress of ~50 MB of text both sides,
    * which costs more than halving the shingle-kernel stage's task
    * walls buys back. The 8-split gate and 16-task cap stand as
    * measured.
    */
  def spread(df: DataFrame, cols: Seq[String]): DataFrame = {
    val narrow = df.select(cols.map(col): _*)
    val planned = narrow.queryExecution.executedPlan
    val shuffled = planned.isInstanceOf[AdaptiveSparkPlanExec] ||
      planned.exists(_.isInstanceOf[Exchange])
    val cores = df.sparkSession.sparkContext.defaultParallelism
    if (shuffled || narrow.rdd.getNumPartitions >= math.min(8, cores)) narrow
    else narrow.repartition(math.min(16, 2 * cores))
  }

  /** The LSH band split of a `bits`-wide signature: `bands` chunks of
    * `bits / bands` consecutive bits, as a posexplode (band index, chunk
    * value). Docs sharing any (band, chunk) bucket are candidates. A
    * split that leaves tail bits unused (or, with more bands than bits,
    * keys everything on 0) is refused, and a single 64-bit band keys on
    * the whole signature: `1L << 64` is `1L` on the JVM, so the mask is
    * built by an unsigned right shift instead.
    */
  def bandKeys(sig: Column, bits: Int, bands: Int): Column = {
    require(bits >= 1 && bits <= 64 && bands >= 1 && bits % bands == 0,
      s"bits $bits must split into bands $bands of equal width (1..64 bits)")
    val chunkBits = bits / bands
    val mask = -1L >>> (64 - chunkBits)
    posexplode(array((0 until bands).map(i =>
      shiftright(sig, i * chunkBits).bitwiseAND(mask)): _*))
  }

  /** Candidate pairs (id_a < id_b) of LSH band rows — `banded` holds
    * (id, band, key) columns in that order, under any names. One shuffle
    * on (band, key), a sort within each partition by (band, key, id), and
    * [[bucketRunPairs]] over the sorted runs: a bucket of at most
    * `maxBucket` ids pairs all-ways, a larger one STAR-LINKS to its min
    * id (|bucket| edges, never |bucket|², so a mass of copies stays one
    * connected component instead of being dropped), and at most
    * `maxBucket + 1` ids of a run are buffered. No count aggregate,
    * anti-join, self-join or window. The pairs that several bands share
    * merge in one exchange on id_a and a distinct that reuses it, so the
    * stream leaves hash-partitioned on id_a and a join keyed on id_a
    * reads it with no further exchange.
    */
  def bucketPairs(banded: DataFrame, maxBucket: Int): DataFrame = {
    val Array(id, band, key) = banded.columns
    val idField = banded.schema(id)
    val pairs = StructType(Seq(idField.copy(name = "id_a"), idField.copy(name = "id_b")))
    banded.select(band, key, id)
      .repartition(col(band), col(key))
      .sortWithinPartitions(band, key, id)
      .mapPartitions(rows => bucketRunPairs(rows, maxBucket))(Encoders.row(pairs))
      .repartition(col("id_a"))
      .distinct()
  }

  /** Pairs of (band, key, id) rows sorted on all three: per run of one
    * (band, key), every id_a < id_b pair when the run holds at most
    * `maxBucket` distinct ids, else (first id, id) star edges, streamed
    * past the `maxBucket + 1` ids buffered to tell the two apart. An id
    * equal to the one before it is skipped, so an id repeated in the
    * input never pairs with itself.
    */
  private def bucketRunPairs(sorted: Iterator[Row], maxBucket: Int): Iterator[Row] = {
    var prev: Row = null
    val rows = sorted.filter { r => val fresh = r != prev; prev = r; fresh }.buffered
    new Iterator[Iterator[Row]] {
      def hasNext: Boolean = rows.hasNext
      def next(): Iterator[Row] = {
        val first = rows.next()
        val (band, key) = (first.get(0), first.get(1))
        def inRun = rows.hasNext && rows.head.get(0) == band && rows.head.get(1) == key
        val ids = scala.collection.mutable.ArrayBuffer(first.get(2))
        while (ids.length <= maxBucket && inRun) ids += rows.next().get(2)
        if (ids.length <= maxBucket)
          ids.indices.iterator.flatMap(i =>
            (i + 1 until ids.length).iterator.map(j => Row(ids(i), ids(j))))
        else {
          val rep = ids.head
          // flatten drains this iterator, and with it the run, before
          // it asks for the next run
          ids.iterator.drop(1).map(Row(rep, _)) ++ new Iterator[Row] {
            def hasNext: Boolean = inRun
            def next(): Row = Row(rep, rows.next().get(2))
          }
        }
      }
    }.flatten
  }

  /** Scored LSH self-pairs: [[bucketPairs]] of `banded`'s (id, band, key)
    * rows, each pair joined by id to both sides' payload in `payload`'s
    * (id, payload) rows, and `score(payload_a, payload_b)` as the third
    * column: (id_a, id_b, score). The first join reads the pair stream's
    * id_a partitioning, so the payload crosses a shuffle once per id and
    * side, never once per band.
    */
  def scoredBucketPairs(payload: DataFrame, banded: DataFrame, maxBucket: Int)(
      score: (Column, Column) => Column): DataFrame = {
    val Array(id, value) = payload.columns
    bucketPairs(banded, maxBucket)
      .join(payload.select(col(id).as("id_a"), col(value).as("__pa")), Seq("id_a"))
      .join(payload.select(col(id).as("id_b"), col(value).as("__pb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), score(col("__pa"), col("__pb")))
  }
}
