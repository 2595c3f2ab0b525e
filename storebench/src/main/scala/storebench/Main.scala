package storebench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

import graft.core.GraftSession

/** The store benchmark's JVM side: sets a workload up several times,
  * warms it, runs its closed loop for the requested seconds with one
  * client thread, checks every op, and prints one JSON result line last.
  *
  *   storebench.Main --workload history|corpus --seed N --seconds S
  *     --trace 0|1 --root DIR [--out DIR]
  *
  * `--root` is a fresh directory for the libraries and Spark's local dir;
  * `--out` receives the traced run's spans.
  */
object Main {
  /** Per-layer metrics of a traced run, with units; each is the median
    * over the timed ops that recorded it, 0 where none did.
    */
  val PerLayer: Seq[(String, String)] = Seq(
    "core.build_ms" -> "ms", "core.build_jobs" -> "count", "core.resolve_ms" -> "ms",
    "core.files_total" -> "count", "core.files_read" -> "count", "core.rows_read" -> "count",
    "core.prune_ratio" -> "ratio",
    "query.plan_ms" -> "ms",
    "operators.build_ms" -> "ms",
    "spark.exec_ms" -> "ms", "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_run_ms" -> "ms", "spark.task_cpu_ms" -> "ms", "spark.gc_ms" -> "ms",
    "spark.core_utilization" -> "ratio", "spark.input_bytes" -> "bytes",
    "spark.shuffle_write_bytes" -> "bytes", "spark.shuffle_read_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes",
    "core.commit_jobs" -> "count", "core.commit_bytes_written" -> "bytes",
    "core.bytes_written_per_input_byte" -> "ratio", "core.files_added" -> "count",
    "core.rows_rewritten_per_patch_row" -> "ratio", "core.manifest_bytes" -> "bytes",
    "fs.bytes_written" -> "bytes",
    "core.files_per_symbol" -> "count",
    "core.gc_files_deleted" -> "count", "core.bytes_stored_per_live_byte" -> "ratio",
    "functions.cleanCorpus.build_ms" -> "ms", "functions.cleanCorpus.build_jobs" -> "count",
    "functions.dropExactDuplicates.build_ms" -> "ms", "functions.dropExactDuplicates.build_jobs" -> "count",
    "functions.lshJaccardPairs.build_ms" -> "ms", "functions.lshJaccardPairs.build_jobs" -> "count",
    "functions.docs_out_ratio" -> "ratio",
    "trace.span_coverage" -> "ratio", "trace.op_ms" -> "ms")

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean, root: String,
      out: Option[String], cores: Int)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      need("root"), m.get("out"), m.get("cores").map(_.toInt).getOrElse(4))
  }

  /** Workload sizes and set-up repeats: small enough that a run fits a
    * minute on 4 cores, large enough that history reads cross the
    * delta-manifest and parallel-listing thresholds (>=64 files).
    */
  def workload(name: String): (Workload, Int) = name match {
    case "history" => (new History(days = 34, appends = 8, rowsPerDay = 2000, quotesPerDay = 1000), 1)
    case "corpus" => (new Corpus(docs = 3000), 5)
    case w => throw new IllegalArgumentException(s"unknown workload $w")
  }

  /** Untimed warm-up after set-up, before the timed loop. */
  val WarmUpSeconds = 15

  /** Set-up commits measure the commit layer; the rest is timed ops only. */
  val CommitMetrics: Set[String] = Set("core.commit_jobs", "core.commit_bytes_written",
    "core.bytes_written_per_input_byte", "core.files_added", "core.rows_rewritten_per_patch_row",
    "core.manifest_bytes")

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val (w, setups) = workload(a.workload)
    val spark = GraftSession.builder(s"local[${a.cores}]", a.cores)
      .config("spark.local.dir", new java.io.File(a.root, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new java.io.File(a.root, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(a, spark, w, setups)
    finally spark.stop()
  }

  private val start = System.nanoTime()
  private def log(msg: String): Unit =
    System.err.println(f"[storebench] ${(System.nanoTime() - start) / 1e9}%7.2fs $msg")

  private def uri(a: Args, name: String) = new Path(new java.io.File(a.root, name).toURI).toString

  private def delete(spark: SparkSession, dir: String): Unit = {
    val p = new Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  private def run(a: Args, spark: SparkSession, w: Workload, setups: Int): Unit = {
    log("session up")
    val runner = new Runner(spark, a.trace)
    // set-up: repeated in fresh roots, median reported; the last one is used
    var ctx: Ctx = null
    val setupS = (1 to setups).map { k =>
      if (ctx != null) delete(spark, ctx.root)
      ctx = new Ctx(spark, a.seed, runner, uri(a, s"lib$k"))
      val t0 = System.nanoTime()
      w.setup(ctx)
      val s = (System.nanoTime() - t0) / 1e9
      log(f"set-up $k: $s%.2fs")
      s
    }
    runner.stage = "warmup"
    w.warmUp(System.nanoTime() + WarmUpSeconds * 1000000000L)
    log("warmed up")
    runner.stage = "timed"
    System.gc() // every loop starts from the same heap state, not warm-up garbage
    val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
    val loop0 = System.nanoTime()
    // and at least one op of each kind, so every median exists
    def missing = w.kinds.exists(k => !runner.ops.exists(o => o.stage == "timed" && o.kind == k))
    while (System.nanoTime() < deadline || missing) w.step()
    val loopS = (System.nanoTime() - loop0) / 1e9
    val timed = runner.ops.filter(_.stage == "timed").toSeq
    log(s"timed loop: ${timed.size} ops")
    val spans = runner.finish(spark.sparkContext.defaultParallelism)
    if (a.trace) ctx.measureInputs()

    val byKind = w.kinds.map(k => k -> timed.filter(_.kind == k).map(_.wallMs)).toMap
    val complete = byKind.values.forall(_.nonEmpty)
    val opMs = if (complete) Stats.geomean(w.kinds.map(k => Stats.median(byKind(k)))) else Double.NaN
    val walls = timed.map(_.wallMs)
    // fewer than 11 samples: no percentile has ten beyond it; report the max
    val (tailMs, tailPct) = Stats.tail(walls).getOrElse((walls.maxOption.getOrElse(Double.NaN), 100.0))
    val failed = runner.ops.count(!_.ok)

    val metrics: Seq[(String, Double, String)] =
      if (!a.trace)
        Seq(("op_ms", opMs, "ms"), ("tail_ms", tailMs, "ms"), ("setup_s", Stats.median(setupS), "s"))
      else
        PerLayer.map { case (name, unit) =>
          val pool = if (CommitMetrics(name)) runner.ops.filter(_.stage != "warmup").toSeq else timed
          val v = name match {
            case "trace.op_ms" => opMs
            case "core.prune_ratio" =>
              val rs = timed.flatMap(o => for (t <- o.metrics.get("core.files_total") if t > 0;
                r <- o.metrics.get("core.files_read")) yield 1 - r / t)
              if (rs.isEmpty) 0.0 else Stats.median(rs)
            case _ =>
              val xs = pool.flatMap(_.metrics.get(name))
              if (xs.isEmpty) 0.0 else Stats.median(xs)
          }
          (name, v, unit)
        }

    val conf = spark.conf.getAll.filter { case (k, _) => k.startsWith("spark.sql.") || k == "spark.master" }
    val record = Map(
      "workload" -> a.workload, "seed" -> a.seed, "traced" -> a.trace,
      "host" -> Map(
        "nproc" -> Runtime.getRuntime.availableProcessors, "cores_used" -> a.cores,
        "heap_bytes" -> Runtime.getRuntime.maxMemory, "jvm" -> System.getProperty("java.version"),
        "spark" -> spark.version, "os" -> System.getProperty("os.name")),
      "spark_conf" -> conf.toSeq.sortBy(_._1).toMap,
      "sizes" -> w.sizes(),
      "setup_s" -> setupS, "loop_s" -> loopS,
      "per_kind_ms" -> w.kinds.map { k =>
        k -> Map("median" -> byKind(k).headOption.map(_ => Stats.median(byKind(k))), "n" -> byKind(k).size,
          "samples" -> byKind(k).map(x => math.rint(x * 10) / 10))
      }.toMap,
      "tail_percentile" -> tailPct, "tail_samples" -> walls.size,
      "ops_failed" -> (if (runner.ops.isEmpty) 0.0 else failed.toDouble / runner.ops.size))
    println(Json(Map("storebench" -> record)))

    for (dir <- a.out if a.trace) {
      val file = Paths.get(dir, s"trace-${a.workload}-${a.seed}.json")
      Files.createDirectories(file.getParent)
      Files.write(file, Json(traceDoc(spans, timed)).getBytes(StandardCharsets.UTF_8))
    }

    log("reported")
    val ok = failed == 0 && complete && metrics.forall(m => !m._2.isNaN)
    println(Json(Map(
      "correct" -> ok,
      "attempted" -> runner.ops.size,
      "failed" -> failed,
      "metrics" -> metrics.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap)))
  }

  /** Spans plus each span kind's total and self time (duration minus the
    * part its children cover), summed over the run.
    */
  private def traceDoc(spans: Seq[Span], timed: Seq[OpRecord]): Map[String, Any] = {
    val children = spans.groupBy(_.parent)
    def self(s: Span): Long = {
      val cs = children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter(i => i._2 > i._1).sortBy(_._1)
      var covered = 0L
      var end = Long.MinValue
      for ((lo, hi) <- cs) {
        val from = math.max(lo, end)
        if (hi > from) covered += hi - from
        end = math.max(end, hi)
      }
      (s.endNs - s.startNs) - covered
    }
    def kind(n: String) = n.replaceAll("\\.\\d+$", "")
    val timedIds = timed.map(_.id).toSet
    val summary = spans.filter(s => timedIds(s.op)).groupBy(s => kind(s.name)).map { case (k, ss) =>
      k -> Map("count" -> ss.size, "total_ms" -> ss.map(s => (s.endNs - s.startNs) / 1e6).sum,
        "self_ms" -> ss.map(self(_) / 1e6).sum)
    }
    Map(
      "layers" -> summary,
      "ops" -> timed.map(o => Map("id" -> o.id, "kind" -> o.kind, "wall_ms" -> o.wallMs, "ok" -> o.ok,
        "metrics" -> o.metrics)),
      "spans" -> spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
  }
}
