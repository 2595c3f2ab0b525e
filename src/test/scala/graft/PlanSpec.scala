package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Physical-plan regression guards: these properties are what make the
  * operators survive a 100× scale-up, so they are asserted, not assumed.
  * (Plans come from the same SparkEntry definitions the driver runs.)
  */
class PlanSpec extends SparkSuite {

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.queryExecution.executedPlan.toString
  }

  private def scan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.queryExecution.executedPlan.collectLeaves().mkString("\n")
  }

  test("filters and projection reach the parquet scan (q01)") {
    val s = scan("q01_filter_numeric")
    // order-independent: the pandas-missing rewrite reorders the conjuncts
    // (raw predicate first, isnotnull after; NOT isnan stays post-scan)
    assert(s.contains("LessThan(l_quantity,5.0)") && s.contains("IsNotNull(l_quantity)") &&
      s.contains("GreaterThan(l_discount,0.05)"), s)
    // column pruning: the 16-column lineitem scan reads only the 4 needed
    assert(s.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int," +
      "l_quantity:double,l_discount:double>"), s)
  }

  test("small-dimension joins broadcast (q39, q40)") {
    assert(plan("q39_join_broadcast_agg").contains("BroadcastHashJoin"))
    val p40 = plan("q40_join_multi")
    assert(p40.contains("BroadcastHashJoin"))
  }

  test("date-range predicate is pushed for row-group pruning (q12)") {
    // ts is TIMESTAMP_MICROS (timestamp_ntz): the ns-domain bounds rewrite
    // to FOLDABLE timestamp literals (Ts.cmpNs) so they still reach the
    // parquet scan as pushed filters for row-group pruning
    val s = scan("q12_date_range")
    assert(s.contains("GreaterThanOrEqual(ts,2024-01-02T00:00)") &&
      s.contains("LessThanOrEqual(ts,2024-01-03T00:00)"), s)
  }

  test("head is TakeOrderedAndProject, not a global sort (q13)") {
    val p = plan("q13_head")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("ANN ranking aggregates partially — no window over all scored rows (q31)") {
    val p = plan("q31_ann_bruteforce")
    assert(p.contains("top_k_by_score"), p)
    assert(!p.contains("RunningWindowFunction"), p)
    // partial aggregation before the exchange
    assert(p.contains("HashAggregate") || p.contains("ObjectHashAggregate"), p)
  }

  test("exact dedup shuffles fingerprints, not text (q27)") {
    // AQE wraps exchanges in query stages pre-execution; plan without it
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = SparkEntry.queries("q27_dedup_exact")(spark, sf)
      val exchanges = df.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(exchanges.nonEmpty)
      // nothing wider than (fp, id/count) crosses the wire
      exchanges.foreach(e =>
        assert(!e.child.output.map(_.name).contains("text"),
          s"text column must not shuffle: ${e.child.output}"))
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("topKeywords df(t) is a plain count — no two-exchange distinct agg (q116)") {
    // postings are unique per (doc, term) after the tf groupBy, so the
    // document frequency is a plain count(1): count_distinct would plan
    // Spark's expand + second exchange over the corpus-sized posting set
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = SparkEntry.queries("q116_topk_keywords")(spark, sf)
      val p = df.queryExecution.executedPlan
      assert(!p.toString.contains("count(distinct"), p.toString.take(2000))
      val n = p.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }.size
      // kernel spread, ONE tf groupBy (r22: the df(t) branch reuses the
      // join branch's tf exchange via the fenced count — the corpus
      // tokenize+explode+partial-tf pass runs once, not once per
      // branch), df(t) on __t, the per-doc TopKTerms rank aggregate
      // (r21 — was a row_number window whose WindowGroupLimit k-bounded
      // the exchange but full-sorted every posting on both sides of it;
      // zero rank sorts now), the deterministic tail. The corpus-count
      // branch is GONE on a parquet input (r22: footer row counts fold
      // it to a literal). A count_distinct, reuse or footer regression
      // adds a 6th/7th.
      assert(n == 5, s"expected 5 shuffle exchanges, got $n")
      assert(!p.toString.contains("BroadcastNestedLoopJoin"),
        "corpus count must fold to a footer literal on a parquet scan")
      val reused = p.collect {
        case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => r
      }
      assert(reused.exists(_.child.isInstanceOf[
        org.apache.spark.sql.execution.exchange.ShuffleExchangeExec]),
        s"tf exchange must be shared between the join and df(t) branches: $p")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("ngram postings pipeline has no cartesian or nested-loop join (q30)") {
    val p = plan("q30_ngram_jaccard")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("decontamination broadcasts the contamination set; text never shuffles (q68)") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = SparkEntry.queries("q68_decontaminate")(spark, sf)
      val plan = df.queryExecution.executedPlan
      assert(plan.toString.contains("BroadcastHashJoin"), plan.toString.take(2000))
      // r22: below the stats gate the matched-id anti join broadcasts too
      // — the corpus side of the FINAL join must not pay an exchange +
      // sort for an id set bounded by a provably-small corpus
      val antiBhj = plan.collect {
        case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
            if j.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti => j
      }
      assert(antiBhj.nonEmpty, plan.toString.take(2000))
      assert(!plan.toString.contains("SortMergeJoin"), plan.toString.take(2000))
      plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }.foreach(e =>
        assert(!e.child.output.map(_.name).contains("text"),
          s"text column must not shuffle: ${e.child.output}"))
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("decontamination anti join stays sort-merge past the corpus stats gate") {
    // The matched-id set is corpus-scaled: past the 1 GiB corpus estimate
    // an unconditional broadcast is the driver-OOM trap, so the tail must
    // keep the spill-safe SMJ (plan-only — nothing executes).
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      import org.apache.spark.sql.functions.{col, concat_ws, lit}
      val corpus = spark.range(1L << 28)
        .select(col("id").as("doc_id"),
          concat_ws(" ", lit("alpha"), col("id").cast("string"), lit("omega"))
            .as("text"))
      assert(corpus.queryExecution.optimizedPlan.stats.sizeInBytes > (1L << 30))
      val contam = spark.range(50).select(col("id").as("doc_id"),
        concat_ws(" ", lit("alpha"), col("id").cast("string"), lit("omega"))
          .as("text"))
      val p = graft.functions.Dedup.decontaminate(
        corpus, contam, "doc_id", "text", 3, 0.2)
        .queryExecution.executedPlan
      val antiSmj = p.collect {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec
            if j.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti => j
      }
      assert(antiSmj.nonEmpty, p.toString.take(2000))
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("substring decontamination broadcasts eval shingles; text never shuffles (q82)") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = SparkEntry.queries("q82_decontaminate_substring")(spark, sf)
      val plan = df.queryExecution.executedPlan
      assert(plan.toString.contains("BroadcastHashJoin"), plan.toString.take(2000))
      plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }.foreach(e =>
        assert(!e.child.output.map(_.name).contains("text"),
          s"text column must not shuffle: ${e.child.output}"))
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("boilerplate mining is a partial-agg top-k, no global sort (q83)") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = SparkEntry.queries("q83_boilerplate_ngrams")(spark, sf)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("TakeOrderedAndProject"), plan.take(2000))
      // the k-cut must not materialize a ranged global sort of the full
      // frequency table
      assert(!plan.contains("rangepartitioning"), plan.take(2000))
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("jaccard kernel buys parallelism only on split-starved scans") {
    // Kernels.spread: a <8-split input round-robins (id, text) to 16
    // partitions so the shingle kernel is not single-core; an input whose
    // layout already supplies splits must NOT pay that exchange — at
    // corpus scale the file layout always supplies them, so the exchange
    // must be absent there.
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val docs = (0 until 64).map(i => (i.toLong, s"document number $i body text"))
      def rr(df: DataFrame) = df.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec
            if e.outputPartitioning.toString.contains("RoundRobinPartitioning") => e
      }
      import spark.implicits._
      val starved = docs.toDF("id", "text").coalesce(1)
      assert(rr(functions.Dedup.ngramJaccardPairs(starved, "id", "text", 3, 0.2)).nonEmpty,
        "split-starved scan must round-robin before the kernel")
      val dir = java.nio.file.Files.createTempDirectory("graft-spread-").toString
      docs.toDF("id", "text").repartition(10).write.mode("overwrite").parquet(dir)
      val supplied = spark.read.parquet(dir)
      assert(supplied.rdd.getNumPartitions >=
        math.min(8, spark.sparkContext.defaultParallelism),
        "fixture must supply splits")
      assert(rr(functions.Dedup.ngramJaccardPairs(supplied, "id", "text", 3, 0.2)).isEmpty,
        "a scan that supplies splits must not pay the spread exchange")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("kernel spread decides from the planned plan: a shuffled input runs no job") {
    // Under AQE, asking a plan below an exchange for its partition count
    // runs every upstream shuffle stage; the spread must pass such an
    // input through instead of executing it at build time
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    def roundRobin(df: DataFrame) =
      df.queryExecution.executedPlan.toString.contains("RoundRobinPartitioning")
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val joined = docs.join(
      docs.groupBy("doc_id").count().filter(col("count") === 1), Seq("doc_id"))
    val (spread, jobs) =
      jobsDuring(functions.Kernels.spread(joined, Seq("doc_id", "text")))
    assert(jobs == 0, s"spread over a joined frame fired $jobs job(s)")
    assert(!roundRobin(spread), "a shuffled input keeps its shuffle's parallelism")
    assert(spread.count() == docs.count())
    // control: a split-starved shuffle-free input still round-robins
    val (starved, starvedJobs) =
      jobsDuring(functions.Kernels.spread(docs.coalesce(1), Seq("doc_id", "text")))
    assert(starvedJobs == 0 && roundRobin(starved))
  }

  test("lshJaccardPairs builds over a parquet corpus without running a job") {
    // the rescoring sets come from the signature aggregate; building the
    // frame must not run that pipeline ahead of the action
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val (pairs, jobs) = jobsDuring(
      functions.Dedup.lshJaccardPairs(docs, "doc_id", "text", threshold = 0.5))
    assert(jobs == 0, s"building lshJaccardPairs fired $jobs job(s)")
    assert(pairs.filter(col("id_a") >= col("id_b")).isEmpty)
  }

  test("minhashCandidates builds over a parquet corpus without running a job") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val (_, jobs) = jobsDuring(functions.Dedup.minhashCandidates(docs, "doc_id", "text"))
    assert(jobs == 0, s"building minhashCandidates fired $jobs job(s)")
  }

  test("lshJaccardPairs plans one candidate pipeline, not one per use") {
    // One signature aggregate (k minhashes plus the shingle-hash set per
    // doc) feeds the band rows and both sides' set lookups: pre-AQE the
    // corpus is scanned once under each of those three reads, and no
    // semi-join restricts the rescored docs.
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = functions.Dedup.lshJaccardPairs(docs, "doc_id", "text", threshold = 0.5)
      .queryExecution.sparkPlan
    val scans = plan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.size == 3, s"${scans.size} corpus scans planned")
    val semi = plan.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec
          if j.joinType == org.apache.spark.sql.catalyst.plans.LeftSemi => j
    }
    assert(semi.isEmpty, plan.toString.take(2000))
  }

  test("minhash signatures are a per-row map: no postings, no id aggregate or exchange") {
    // Unbroadcast (corpus scale): each document is signatured where it is
    // scanned (minhash_signature, one row per document), so no
    // shingle_postings Generate, no aggregate keyed on id and no exchange
    // on id sits below the one exchange on (band, bandhash) into sorted
    // bucket runs. lshJaccardPairs' set side signatures the set alone,
    // without the k minhashes only the band side reads.
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.GenerateExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    def keys(e: ShuffleExchangeExec): Seq[String] = e.outputPartitioning match {
      case h: HashPartitioning => h.expressions.collect { case a: Attribute => a.name }
      case _ => Nil
    }
    val bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val docs = spark.read.parquet(s"$sf/documents.parquet")
      for ((df, sets) <- Seq(
          functions.Dedup.minhashCandidates(docs, "doc_id", "text", maxBucket = 3) -> false,
          functions.Dedup.lshJaccardPairs(docs, "doc_id", "text", maxBucket = 3) -> true)) {
        val plan = df.queryExecution.executedPlan
        val generators = plan.collect { case g: GenerateExec => g.generator }
        assert(!generators.exists(_.isInstanceOf[plans.ShinglePostings]), plan.toString.take(4000))
        val sigs = generators.collect { case m: plans.MinhashSignature => (m.withSet, m.numHashes) }
        assert(sigs.contains((false, 12)), plan.toString.take(4000))
        assert(sigs.filter(_._1).toSet == (if (sets) Set((true, 0)) else Set.empty),
          plan.toString.take(4000))
        assert(!plan.exists {
          case a: BaseAggregateExec =>
            a.groupingExpressions.collect { case g: Attribute => g.name } == Seq("id")
          case _ => false
        }, plan.toString.take(4000))
        val bands = plan.collect { case e: ShuffleExchangeExec if keys(e) == Seq("band", "bandhash") => e }
        assert(bands.size == 1, plan.toString.take(4000))
        assert(!bands.head.child.exists {
          case e: ShuffleExchangeExec => keys(e) == Seq("id")
          case _ => false
        }, plan.toString.take(4000))
      }
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcast)
    }
  }

  test("LSH pair streams shuffle once: on id_a above the run walk, never on (id_a, id_b)") {
    // Kernels.bucketPairs merges the pairs that several bands share in
    // one exchange on id_a, and the first payload join reads that
    // partitioning: no exchange on (id_a, id_b) for the distinct and no
    // second one on id_a for the join. Unbroadcast, AQE off: the plan as
    // it would run at corpus scale.
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.MapPartitionsExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import graft.functions.{Dedup, Vectors}
    def keys(e: ShuffleExchangeExec): Seq[String] = e.outputPartitioning match {
      case h: HashPartitioning => h.expressions.collect { case a: Attribute => a.name }
      case _ => Nil
    }
    val bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val docs = spark.read.parquet(s"$sf/documents.parquet")
      val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      for (df <- Seq(
          Dedup.minhashCandidates(docs, "doc_id", "text"),
          Dedup.lshJaccardPairs(docs, "doc_id", "text", threshold = 0.5),
          Dedup.simhashPairs(docs, "doc_id", "text"),
          Vectors.cosineNearDupPairs(emb, "vec_id", "embedding", 0.45,
            bits = 16, bands = 8, dim = 64))) {
        val plan = df.queryExecution.executedPlan
        val shuffles = plan.collect { case e: ShuffleExchangeExec => e }
        assert(!shuffles.exists(e => keys(e) == Seq("id_a", "id_b")), plan.toString.take(4000))
        val overRuns = shuffles.filter(e =>
          keys(e) == Seq("id_a") && e.exists(_.isInstanceOf[MapPartitionsExec]))
        assert(overRuns.size == 1, plan.toString.take(4000))
      }
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcast)
    }
  }

  test("simhash and cosine pairs build without a job and join on no bucket key") {
    // the bucket runs replace the (chunk, chunkval) self-join, count cap
    // and star join; with dim given, building runs nothing
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import graft.functions.{Dedup, Vectors}
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    for ((name, build) <- Seq[(String, () => DataFrame)](
        "simhashPairs" -> (() => Dedup.simhashPairs(docs, "doc_id", "text")),
        "cosineNearDupPairs" -> (() => Vectors.cosineNearDupPairs(emb, "vec_id", "embedding",
          0.45, bits = 16, bands = 8, dim = 64)))) {
      val (df, jobs) = jobsDuring(build())
      assert(jobs == 0, s"building $name fired $jobs job(s)")
      val joinKeys = df.queryExecution.sparkPlan.collect {
        case j: BaseJoinExec => (j.leftKeys ++ j.rightKeys).collect { case a: Attribute => a.name }
      }
      assert(joinKeys.nonEmpty && !joinKeys.exists(_.exists(Set("chunk", "chunkval"))),
        s"$name joins on $joinKeys")
    }
  }

  test("bucket-population caps plan as groupBy-count→join, never a window") {
    // A count().over(Window.partitionBy(key)) cap routes EVERY row of a
    // skewed bucket to one task before filtering — exactly the single-task
    // buffer the cap exists to prevent. All four capped paths must plan
    // with zero Window nodes.
    def windowNodes(df: DataFrame) =
      df.queryExecution.executedPlan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    import graft.functions.{Dedup, Vectors}
    assert(windowNodes(Dedup.minhashCandidates(docs, "doc_id", "text",
      maxBucket = 100)).isEmpty)
    assert(windowNodes(Dedup.simhashPairs(docs, "doc_id", "text",
      maxBucket = 100)).isEmpty)
    assert(windowNodes(Vectors.cosineNearDupPairs(emb, "vec_id", "embedding",
      0.45, bits = 16, bands = 8, maxBucket = 100)).isEmpty)
    assert(windowNodes(Dedup.decontaminate(docs,
      docs.filter(col("doc_id") < 50), "doc_id", "text", 3, 0.2,
      maxDocFreq = 100)).isEmpty)
    // dropExactDuplicates: a duplicate GROUP (full text) must never buffer
    // on one task — groupBy-min + semi-join, zero Window nodes
    assert(windowNodes(Dedup.dropExactDuplicates(docs, "doc_id", "text")).isEmpty)
  }

  test("sortGuarded tails stay scale-honest: orderBy past the stats threshold") {
    // below the guard: cheap single-partition tail (no range sampling pass)
    val small =
      SparkEntry.ordered(SparkEntry.Selective, "event_id")(spark.range(1000).toDF("event_id"))
    assert(small.rdd.getNumPartitions == 1)
    // above it (range stats = 8 bytes/row, no job needed): a true
    // range-partitioned orderBy — an unaggregated 100×-scale scan must
    // never funnel through one task just for output determinism
    val big = SparkEntry.ordered(SparkEntry.Selective, "event_id")(
      spark.range(2L * SparkEntry.SmallScanBytes / 8).toDF("event_id"))
    assert(big.queryExecution.optimizedPlan.collect {
      case s: org.apache.spark.sql.catalyst.plans.logical.Sort if s.global => s
    }.nonEmpty, big.queryExecution.optimizedPlan.toString)
  }

  test("sortWide tails: zero-exchange in-partition sort small, ranged orderBy big") {
    // below the threshold: coalesce(1) + in-partition sort — NO exchange
    // anywhere (the exchange + RangePartitioner sampling job is most of a
    // sub-second full-width query's wall)
    val q06 = SparkEntry.queries("q06_project_arith")(spark, sf)
    assert(q06.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }.isEmpty, q06.queryExecution.executedPlan.toString.take(1000))
    // beyond it: a full-width output must range-partition, never funnel
    // the whole scan through one task (measured 6.1s vs 0.96s on 6M rows)
    val big = SparkEntry.ordered(SparkEntry.Wide, "event_id")(
      spark.range(4L * SparkEntry.WideSortBytes / 8).toDF("event_id"))
    assert(big.queryExecution.optimizedPlan.collect {
      case s: org.apache.spark.sql.catalyst.plans.logical.Sort if s.global => s
    }.nonEmpty, big.queryExecution.optimizedPlan.toString)
  }

  test("grouped-result tails coalesce, adding no exchange (q09, q39)") {
    // Grouped: the deterministic-order tail on a post-shuffle result
    // must merge the final-agg partitions via Coalesce, not pay a second
    // shuffle (repartition(1)) — one exchange for q09's groupBy, and for
    // q39 one shuffle exchange (agg) + one broadcast exchange (dim).
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      def shuffles(name: String) =
        SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.collect {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
        }
      assert(shuffles("q09_groupby_single").size === 1)
      assert(shuffles("q39_join_broadcast_agg").size === 1)
      assert(plan("q09_groupby_single").contains("Coalesce 1"))
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("sortSmallAgg past the stats gate keeps the final aggregate parallel") {
    // VERDICT r21 #3: coalesce(1) serializes the final hash-merge of
    // partials — fine at bench scale, a 100 TB funnel for corpus-scaled
    // group keys (q43 distinct). Past the 4 GiB optimizer estimate the
    // tail must become a range-partitioned orderBy (parallel final agg +
    // sampled sort); below it the measured Coalesce shape stands.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      import org.apache.spark.sql.functions.{col, count}
      // range(2^30) estimates 8 GiB > SmallScanBytes — plan-only, nothing
      // executes; the grouped estimate inherits the child's scaled size
      val big = spark.range(1L << 30)
        .select((col("id") % 1000000).as("k"))
        .groupBy("k").agg(count("*").as("n"))
      assert(big.queryExecution.optimizedPlan.stats.sizeInBytes >
        SparkEntry.SmallScanBytes)
      val bigPlan = SparkEntry.ordered(SparkEntry.Grouped, "k")(big).queryExecution
        .executedPlan.toString
      assert(!bigPlan.contains("Coalesce 1"), bigPlan.take(2000))
      assert(bigPlan.contains("rangepartitioning"), bigPlan.take(2000))
      val small = spark.range(1000)
        .select((col("id") % 10).as("k"))
        .groupBy("k").agg(count("*").as("n"))
      val smallPlan = SparkEntry.ordered(SparkEntry.Grouped, "k")(small).queryExecution
        .executedPlan.toString
      assert(smallPlan.contains("Coalesce 1"), smallPlan.take(2000))
      assert(!smallPlan.contains("rangepartitioning"), smallPlan.take(2000))
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("Windowed tails: the window stays parallel under a one-partition funnel, ranged orderBy big") {
    // below the bound: repartition(1) funnels only the window's OUTPUT —
    // a Coalesce 1 would pull the window stage itself into one task
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      import org.apache.spark.sql.execution.{CoalesceExec, window}
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, SinglePartition}
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("id") % 10).orderBy("id")
      def windowed(n: Long) =
        spark.range(n).select(col("id"), row_number().over(w).as("rn"))
      val small = SparkEntry.ordered(SparkEntry.Windowed, "id")(windowed(1000))
        .queryExecution.executedPlan
      val funnels = small.collect {
        case e: ShuffleExchangeExec if e.outputPartitioning == SinglePartition => e
      }
      assert(funnels.size == 1, small.toString)
      assert(funnels.head.collect { case x: window.WindowExec => x }.size == 1, small.toString)
      assert(funnels.head.collect {
        case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[HashPartitioning] => e
      }.size == 1, small.toString)
      assert(small.collect { case c: CoalesceExec => c }.isEmpty, small.toString)
      // past the bound (range stats = 8 bytes/row, no job): a global sort
      val big = SparkEntry.ordered(SparkEntry.Windowed, "id")(
        windowed(4L * SparkEntry.WideSortBytes / 8))
      assert(big.queryExecution.optimizedPlan.collect {
        case s: org.apache.spark.sql.catalyst.plans.logical.Sort if s.global => s
      }.nonEmpty, big.queryExecution.optimizedPlan.toString)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("block dedup: no corpus window, no nested-loop; reassembly is a bounded agg (q89)") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = SparkEntry.queries("q89_repeated_block_dedup")(spark, sf)
        .queryExecution.executedPlan
      val s = p.toString
      // blocks shuffle for stats/join — but never a corpus-wide window
      // (one task buffering every block) and never an all-pairs join
      assert(p.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }.isEmpty, "no Window over the block stream")
      assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoop"),
        s.take(2000))
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("span dedup: one gram explode, hashed-key shuffles, map-side excision (q112)") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = SparkEntry.queries("q112_drop_repeated_spans")(spark, sf)
        .queryExecution.executedPlan
      val s = p.toString
      assert(p.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }.isEmpty, "no Window over the span stream")
      assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoop"),
        s.take(2000))
      // the r12 shuffle diet: every Generate explodes the per-doc gram
      // HASH array (__ghs) — the old token-level posexplode(__w) →
      // (doc,pos) anti-join → collect_list reassembly, and the covered-
      // position explode(sequence(__s…)), must never come back. Two
      // Generates are expected: the positioned gram stream for the dup
      // join and the per-doc-distinct stream for the doc-frequency
      // aggregate (map-side recompute — CPU, not an exchange).
      val gens = p.collect {
        case g: org.apache.spark.sql.execution.GenerateExec => g
      }
      assert(gens.nonEmpty && gens.size <= 2, s"got ${gens.size} Generates")
      gens.foreach { g =>
        // bound generators print input TYPES: the gram-hash array is
        // array<bigint>; a token-level explode would be array<string>
        // (posexplode(__w)) and the covered-position rebuild a
        // sequence(...) generator
        val gen = g.boundGenerator.toString
        assert(gen.contains("array<bigint>") || gen.contains("xxhash64(") ||
          gen.contains("md5("),
          s"non-gram-hash explode crept back: ${gen.take(300)}")
        assert(!gen.contains("array<string>") && !gen.contains("sequence(input["),
          s"token-level explode crept back: ${gen.take(300)}")
      }
      // excision is the codegen kernel, not a relational rebuild
      assert(s.contains("excise_spans"), "map-side excise_spans kernel in plan")
      // gram-side exchanges carry 8-byte hash keys, never document text:
      // the only shuffle allowed to carry a text column is the final
      // doc-keyed join back to the corpus (no __gh/__s on board there)
      p.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }.foreach { e =>
        val names = e.child.output.map(_.name)
        if (names.exists(n => n == "__gh" || n == "__s" || n == "__starts"))
          assert(!names.contains("text"),
            s"gram/starts exchange must not carry text: $names")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("embedding decontamination broadcasts eval; embeddings never shuffle (q90)") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = SparkEntry.queries("q90_embedding_decontaminate")(spark, sf)
        .queryExecution.executedPlan
      // the scoring join is the broadcast of the eval set over the scan
      assert(p.toString.contains("BroadcastNestedLoopJoin") ||
        p.toString.contains("BroadcastHashJoin"), p.toString.take(2000))
      // the only exchanges carry contaminated ids (and the broadcast) —
      // a 64-float embedding column must never ride a shuffle
      p.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }.foreach(e =>
        assert(!e.child.output.map(_.name)
          .exists(n => n.contains("embedding") || n.contains("cvec") || n.contains("evec")),
          s"embedding must not shuffle: ${e.child.output}"))
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("corpus cleanup is one scan-side pass: only the determinism tail shuffles (q92)") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = SparkEntry.queries("q92_clean_corpus")(spark, sf)
        .queryExecution.executedPlan
      // the WHOLE rule set (token bounds, quality, repetition, langid,
      // PII) must fuse into the scan stage — the only exchange allowed
      // is the small-output deterministic-order tail
      val exchanges = p.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      // r22: a round-robin kernel SPREAD below the rule pass is allowed
      // on a split-starved small input (it only redistributes text for
      // parallelism, fires under <8 scan splits, never at corpus scale);
      // any KEYED shuffle of the corpus is still a regression
      assert(exchanges.size <= 2, s"rule evaluation must not shuffle:\n$p")
      exchanges.foreach { e =>
        val part = e.outputPartitioning.toString
        assert(part.contains("RoundRobinPartitioning") ||
          part.contains("SinglePartition"),
          s"unexpected keyed corpus shuffle: $part\n$p")
      }
      assert(p.collect {
        case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a
      }.isEmpty, "rules are a filter, not an aggregation")
      // OptimizerFence regression: the rule predicates must NOT be pushed
      // through the signal projection — a pushed filter re-evaluates the
      // fused kernels per textual reference (no CSE in filter codegen;
      // measured 198 marker_counts occurrences and ~2.6× the wall)
      p.collect {
        case f: org.apache.spark.sql.execution.FilterExec => f.condition.toString
      }.foreach(c =>
        assert(!c.contains("marker_counts") && !c.contains("seq_redact") &&
          !c.contains("text_stats") && !c.contains("distinct_shingles"),
          s"kernel leaked into a filter predicate: $c"))
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("DSIR scoring is a shuffle-free narrow map over the corpus (q93)") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = SparkEntry.queries("q93_dsir_weights")(spark, sf)
        .queryExecution.executedPlan
      // model rides the closure; the scan maps straight to per-doc
      // scores — the only exchange allowed is the determinism tail
      assert(p.toString.contains("dsir_score"), p.toString.take(2000))
      assert(!p.toString.contains("Join"), p.toString.take(2000))
      // allowed: Kernels.spread's round-robin compute-spread and the
      // single-partition determinism tail — never a key shuffle of docs
      val keyed = p.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
            if !e.outputPartitioning.toString.contains("RoundRobinPartitioning") &&
              !e.outputPartitioning.toString.contains("SinglePartition") => e
      }
      assert(keyed.isEmpty, s"scoring must not key-shuffle the corpus:\n$p")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("domain cap is a partial top-k aggregate, not a per-domain window (q95)") {
    val p = plan("q95_domain_cap")
    assert(p.contains("top_k_by_score"), p.take(2000))
    assert(!p.contains("Window"), p.take(2000))
  }

  test("shuffle order: sub-bucket windows + summary offsets, no global sort window (q104)") {
    val p = SparkEntry.queries("q104_shuffle_order")(spark, sf)
      .queryExecution.executedPlan
    // every Window over the corpus must be partitioned (parallel); the
    // only unpartitioned window runs over the sub-bucket COUNT summary
    // (identified by its output columns, not leaf paths — robust under
    // exchange-reuse/canonicalization changes; same pin style as
    // coverageVocab's)
    val windows = p.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty, p.toString.take(1500))
    windows.filter(_.partitionSpec.isEmpty).foreach { w =>
      val childCols = w.child.output.map(_.name).toSet
      assert(!childCols.contains("doc_id") && !childCols.contains("__k"),
        s"unpartitioned window must only see the sub-bucket summary, " +
          s"saw $childCols")
    }
  }

  test("perplexity buckets: every per-doc window is partitioned (q124)") {
    val p = SparkEntry.queries("q124_perplexity_buckets")(spark, sf)
      .queryExecution.executedPlan
    // rankByScore's two-level discipline: doc-row windows partition by
    // (lang, sub-bucket); an unpartitioned window may only see the
    // per-(lang, sub-bucket) counter summary
    val windows = p.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty, p.toString.take(1500))
    windows.filter(_.partitionSpec.isEmpty).foreach { w =>
      val childCols = w.child.output.map(_.name).toSet
      assert(!childCols.contains("doc_id") && !childCols.contains("lp_mean"),
        s"unpartitioned window over doc rows: $childCols")
    }
  }

  test("bloom probe: gram text never shuffles — exchanges carry hashes only (q128)") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = SparkEntry.queries("q128_bloom_novelty")(spark, sf)
        .queryExecution.executedPlan
      // the per-gram membership re-aggregate keys on the 8-byte gram
      // hash (__gh) and the packed word id; the shingle string column
      // ("s") and document text must never ride an exchange
      p.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }.foreach { e =>
        val cols = e.child.output.map(_.name).toSet
        assert(!cols.contains("s") && !cols.contains("text"),
          s"gram/doc text in a shuffle: $cols")
      }
      assert(p.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }.isEmpty, "no Window anywhere in the bloom pipeline")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("NB quality: model broadcasts; corpus shuffles only id-keyed counters (q126)") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = SparkEntry.queries("q126_nb_quality_admit")(spark, sf)
        .queryExecution.executedPlan
      val s = p.toString
      assert(s.contains("BroadcastHashJoin"), s.take(2000))
      // KEYED exchanges carry (tok, count) partials or (doc_id, sums) —
      // doc text never key-shuffles (the RoundRobin scan-spreader of
      // Kernels.spread is scan parallelism, not data movement by key;
      // same exclusion as the q94 pin)
      p.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
            if !e.outputPartitioning.toString.contains("RoundRobinPartitioning") &&
              !e.outputPartitioning.toString.contains("SinglePartition") => e
      }.foreach { e =>
        val cols = e.child.output.map(_.name).toSet
        assert(!cols.contains("text"), s"doc text in a keyed shuffle: $cols")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("token entropy is one narrow kernel pass — corpus never key-shuffles (q94)") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = SparkEntry.queries("q94_token_entropy")(spark, sf)
        .queryExecution.executedPlan
      assert(p.toString.contains("token_entropy"), p.toString.take(2000))
      val keyed = p.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
            if !e.outputPartitioning.toString.contains("RoundRobinPartitioning") &&
              !e.outputPartitioning.toString.contains("SinglePartition") => e
      }
      assert(keyed.isEmpty, s"entropy must not key-shuffle the corpus:\n$p")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("trained-langid cleanup stays one scan-side pass (q168)") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = SparkEntry.queries("q168_clean_trained_lang")(spark, sf)
        .queryExecution.executedPlan
      // the NB model rides the closure: swapping the language rule for
      // the trained classifier must not add a corpus exchange — same
      // one-scan shape as q92 (only the deterministic-order tail)
      val exchanges = p.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(exchanges.size <= 1, s"trained-langid rule must not shuffle:\n$p")
      // the predict kernel must not be pushed into a CSE-free filter
      p.collect {
        case f: org.apache.spark.sql.execution.FilterExec => f.condition.toString
      }.foreach(c =>
        assert(!c.contains("lang_nb_predict") && !c.contains("text_stats"),
          s"kernel leaked into a filter predicate: $c"))
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("cluster-balanced sample ranks via partial top-k, no per-cluster window (q169)") {
    val p = plan("q169_cluster_balanced_sample")
    assert(p.contains("top_k_by_score"), p)
    // the only windows allowed are the bounded k-row seed rankings
    // inside portable kmeans — never one over corpus assignments
    val windows = SparkEntry.queries("q169_cluster_balanced_sample")(spark, sf)
      .queryExecution.executedPlan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
    assert(windows.isEmpty,
      s"per-cluster keeper must be the partial aggregate, got windows:\n$p")
  }

  test("near-dup keeper auto-dispatch: past-gate corpora route to LSH, small stay exact (q160)") {
    // range(70000) puts the stats estimate past KeeperLshMaxDocs × 8
    // bytes and the count past the ~64k keeper bar, so the gate fires on
    // size alone — no fake data volume needed. The pair tier (what the
    // gate swaps) is pinned directly: past the gate it must be the
    // banded-LSH chain (bandhash exchanges), never the incidence
    // aggregate or the dense tiles; below it, the exact tier with no
    // band in sight.
    val mk = (n: Long) => spark.range(n).select(col("id"),
      concat_ws(" ", lit("alpha"), col("id").cast("string"),
        lit("beta gamma delta epsilon")).as("text"))
    val big = mk(70000L)
    def pastKeeperBar(df: org.apache.spark.sql.DataFrame) = graft.functions.Dedup.pastDocGate(
      df, graft.functions.Dedup.KeeperLshMaxStatsBytes, graft.functions.Dedup.KeeperLshMaxDocs)
    assert(pastKeeperBar(big),
      "70k-doc corpus must be past the keeper LSH bar")
    val lshPlan = graft.functions.Dedup.nearDupPairs(big, big, "id", "text",
      3, 0.8, 0L, portable = false, forceLsh = None)
      .queryExecution.optimizedPlan.toString
    assert(lshPlan.contains("bandhash"),
      s"past-gate pair tier must be banded LSH:\n${lshPlan.take(2000)}")
    assert(!lshPlan.contains("BucketPairs") && !lshPlan.contains("__ss"),
      "LSH route must contain no incidence aggregate / prefix machinery")
    val small = mk(50L)
    assert(!pastKeeperBar(small))
    val exactPlan = graft.functions.Dedup.nearDupPairs(small, small, "id",
      "text", 3, 0.8, 0L, portable = false, forceLsh = None)
      .queryExecution.optimizedPlan.toString
    assert(!exactPlan.contains("bandhash"),
      "small corpus must keep the exact pair tier")
  }
}
