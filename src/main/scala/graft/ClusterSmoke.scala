package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.GraftSession

/** Separate-JVM-executor smoke lane (VERDICT r10 #5).
  *
  * Everything else in the repo validates on `local[n]`, where driver and
  * executors share one JVM — so closure serialization, broadcast
  * transport, shuffle-block transfer and partial-aggregate buffer
  * encoding are never exercised across a process boundary, while the
  * 100 TB story leans on exactly those (kernel closures carrying model
  * tables, TypedImperativeAggregate top-k buffers, broadcast dimension
  * sides). This main runs a representative slice of the bench headline
  * twice — once on `local[8]` (the reference), once on
  * `local-cluster[2,8,4096]` (TWO forked executor JVMs talking to the
  * driver over TCP) — and demands identical (row count, order-free
  * content hash) fingerprints from both.
  *
  * Run via `scripts/cluster_smoke.sh [sfDir]`, or directly:
  * {{{
  * SPARK_HOME=/opt/spark SPARK_SCALA_VERSION=2.13 \
  *   sbt -batch "runMain graft.ClusterSmoke [sfDir]"
  * }}}
  * SPARK_HOME lets the in-process Worker fork executor JVMs (their
  * classpath = the dist jars + this driver's own classpath);
  * SPARK_SCALA_VERSION is required because release dists only set it in
  * their shell scripts and the launcher's programmatic path otherwise
  * probes a dev layout ("Cannot find any build directories").
  * Exit code 0 = every query matched AND ≥2 executor JVMs registered;
  * 1 = any mismatch/error.
  */
object ClusterSmoke {

  /** Headline slice chosen to cover each distributed mechanism once:
    * codegen scan filters (q01), wide projection (q06), hash agg
    * shuffle (q08), resample agg (q10), the full-outer MERGE join
    * (q20), groupBy-min + semi-join dedup (q27), broadcast + partial
    * top-k TypedImperativeAggregate (q31), broadcast-hash join + agg
    * (q39), range as-of join (q41), keyed window (q42), broadcast
    * shingle postings + anti-join (q68), fused text kernels with the
    * OptimizerFence (q92), model-in-closure DSIR scoring (q93), the
    * iterative driver-loop BPE trainer (q99), the two-level position
    * engine (q104), the chunked as-of carry scan (q107), and the
    * chunked token-packing prefix sum (q108).
    */
  private[graft] val smoke = Seq(
    "q01_filter_numeric", "q06_project_arith", "q08_groupby_agg",
    "q10_resample_1h", "q20_merge_update", "q27_dedup_exact",
    "q31_ann_bruteforce", "q39_join_broadcast_agg", "q41_asof_join",
    "q42_window_running", "q68_decontaminate", "q92_clean_corpus",
    "q93_dsir_weights", "q99_bpe_merges", "q104_shuffle_order",
    "q107_asof_join_chunked", "q108_pack_offsets",
    // round-16 closure models: UnigramModel / LangNbModel ship in task
    // closures with @transient lazy lookup maps — local[32] shares one
    // JVM and would hide a serialization/rebuild defect; the forked
    // executors here prove the models cross a real JVM boundary. q160
    // rides along for the LSH-route keeper (kernel + band chain).
    "q160_autolsh_quality_dedup", "q165_unigram_train", "q167_nb_langid",
    // round-18 closure kernels: MergeBatch's two-level UTF8String map
    // (@transient lazy, rebuilt per executor) under the batched
    // trainer, the WordPieceModel greedy-encode closure, and the
    // persisted hybrid-RRF stack (index build + pruned reads + fusion
    // across real executor JVMs)
    "q178_bpe_train_batched", "q175_wordpiece_encode",
    "q177_hybrid_rrf_indexed",
    // round-19 admin plane (VERDICT r18 #7): zero-copy restore over
    // forked executors (q183) and the maintenance sweep — compaction
    // rewrites are REAL Spark jobs on the executor JVMs, and every
    // retention/GC commit drives manifest CAS from the batch pool
    "q183_restore_version", "admin_maintain")

  /** Smoke-only kernels that aren't SparkEntry gates: admin_maintain
    * fabricates a fragmented multi-version root from sfDir rows and returns
    * the maintenance ledger — deterministic detail strings, so the
    * fingerprint must match across masters.
    */
  private val extra: Map[String, (SparkSession, String) => DataFrame] = Map(
    "admin_maintain" -> { (s, dir) =>
      val root = java.nio.file.Files
        .createTempDirectory("graft-smokeadm-").toString
      val g = new graft.core.Graft(root, s)
      val ev = s.read.parquet(s"$dir/events.parquet").limit(3000)
        .select(col("event_id"), col("value"))
      val lib = g.createLibrary("a")
      (0 until 6).foreach { i =>
        val sym = s"s$i"
        lib.write(sym, ev, Some("event_id"), targetRows = 300) // 10 small files
        // +1 version to retire — keys shifted past the prior max so the
        // sorted-append contract holds
        lib.append(sym,
          ev.limit(600).withColumn("event_id", col("event_id") + 1000000L),
          targetRows = 300)
      }
      g.maintain(keepVersions = 1)
    })

  /** Order-free content fingerprint: (rows, sum of per-row 64-bit
    * hashes over the name-sorted JSON row image). Addition commutes, so
    * partitioning/ordering differences between the two masters cannot
    * matter; both sessions run identical code so JSON float formatting
    * is identical.
    */
  private def fingerprint(df: DataFrame): (Long, Long) = {
    val cols = df.columns.sorted.map(col)
    val r = df.select(xxhash64(to_json(struct(cols: _*)))
        .cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)).as("n"), sum("h").as("s")).first()
    (r.getLong(0),
      if (r.isNullAt(1)) 0L else r.getDecimal(1).longValue())
  }

  private def runAll(spark: SparkSession, sfDir: String)
      : Map[String, Either[String, (Long, Long)]] =
    smoke.map { name =>
      val fn = extra.getOrElse(name, SparkEntry.queries(name))
      name -> (try Right(fingerprint(fn(spark, sfDir)))
      catch { case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") })
    }.toMap

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")

    val local = GraftSession.builder("local[8]", 8).getOrCreate()
    local.sparkContext.setLogLevel("ERROR")
    val expected = runAll(local, sfDir)
    local.stop()

    // The worker forks executors with the launcher's classpath logic;
    // handing it the driver's own classpath covers the sbt-managed graft
    // classes plus the unmanaged /opt/spark jars.
    val cluster = GraftSession
      .builder("local-cluster[2,8,4096]", 16)
      .config("spark.executor.extraClassPath", System.getProperty("java.class.path"))
      .getOrCreate()
    cluster.sparkContext.setLogLevel("ERROR")
    val got = runAll(cluster, sfDir)
    // measured AFTER the workload (registration is async at startup):
    // the driver's block manager plus the two forked executor JVMs. If
    // this reads 1, nothing ran out-of-process and the lane proved
    // nothing — fail loudly.
    val execs = cluster.sparkContext.getExecutorMemoryStatus.size
    cluster.stop()
    if (execs < 3) {
      println(s"[cluster-smoke] FAIL: only $execs block managers — " +
        "executors never registered (check SPARK_HOME/SPARK_SCALA_VERSION)")
      sys.exit(1)
    }

    var bad = 0
    smoke.foreach { name =>
      (expected(name), got(name)) match {
        case (Right(e), Right(g)) if e == g =>
          println(s"[cluster-smoke] $name: PASS rows=${e._1}")
        case (e, g) =>
          println(s"[cluster-smoke] $name: FAIL local=$e cluster=$g")
          bad += 1
      }
    }
    // 2 executor JVMs + the driver registers as none in this mode
    println(s"[cluster-smoke] executors=$execs " +
      s"result=${if (bad == 0) "ALL PASS" else s"$bad FAILED"}")
    if (bad > 0) sys.exit(1)
  }
}
