package storebench

import scala.collection.mutable
import scala.util.{Failure, Success, Try}

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.Library

/** One timed operation of the closed loop. */
final class OpRecord(val id: Int, val kind: String, val stage: String) {
  var wallMs: Double = 0
  var ok: Boolean = true
  /** Per-layer values known when the op ends (traced runs only). */
  val metrics = mutable.LinkedHashMap.empty[String, Double]
}

/** What an op body calls its layers through. Untraced, every method only
  * evaluates its argument; traced, each call becomes a span whose Spark
  * jobs run under the span's own job group.
  */
final class Probe private[storebench] (runner: Runner, val op: OpRecord, parent: Int) {
  def layer[T](name: String)(f: => T): T = runner.span(op, parent, name)(_ => f)

  /** A Library read (or readQuery) call, with its pruning census. */
  def read(lib: Library)(f: => DataFrame): DataFrame =
    if (!runner.traced) f
    else {
      val (df, stats) = lib.withQueryStats(layer("core.build")(f))
      for (s <- stats) {
        add("core.files_total", s.filesTotal)
        add("core.files_read", s.filesRead)
        add("core.rows_read", s.rowsRead.toDouble)
      }
      df
    }

  def add(metric: String, v: Double): Unit =
    if (runner.traced) op.metrics(metric) = op.metrics.getOrElse(metric, 0.0) + v
}

/** The closed-loop client: times each op, checks it, and in a traced run
  * keeps spans in memory and turns them into per-layer metrics at the end.
  */
final class Runner(spark: SparkSession, val traced: Boolean) {
  private val sc = spark.sparkContext
  val ops = mutable.ArrayBuffer.empty[OpRecord]
  /** "setup", "warmup" or "timed": the stage new ops are recorded in. */
  var stage = "setup"
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val listener = new LayerListener
  if (traced) sc.addSparkListener(listener)
  private val nano0 = System.nanoTime()
  private val epochMs0 = System.currentTimeMillis()

  private def fsBytesWritten: Long = {
    import scala.jdk.CollectionConverters._
    FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file").map(_.getBytesWritten).sum
  }

  private[storebench] def span[T](op: OpRecord, parent: Int, name: String)(f: Probe => T): T =
    if (!traced) f(new Probe(this, op, parent))
    else {
      val id = spans.size
      spans += null // reserve the id
      val outer = sc.getLocalProperty("spark.jobGroup.id")
      sc.setJobGroup(s"s$id", name, interruptOnCancel = false)
      val t0 = System.nanoTime()
      try f(new Probe(this, op, id))
      finally {
        spans(id) = Span(id, parent, op.id, name, t0, System.nanoTime())
        if (outer == null) sc.clearJobGroup() else sc.setJobGroup(outer, "", interruptOnCancel = false)
      }
    }

  private def timed(kind: String)(body: OpRecord => Unit): OpRecord = {
    val op = new OpRecord(ops.size, kind, stage)
    ops += op
    val fs0 = if (traced) fsBytesWritten else 0L
    val t0 = System.nanoTime()
    Try(span(op, -1, s"op.$kind")(_ => body(op))) match {
      case Success(_) =>
      case Failure(e) =>
        op.ok = false
        System.err.println(s"[storebench] op ${op.id} $kind threw: $e")
    }
    op.wallMs = (System.nanoTime() - t0) / 1e6
    if (traced) op.metrics("fs.bytes_written") = (fsBytesWritten - fs0).toDouble
    op
  }

  /** A read: build the frame, plan its digest aggregate, then run that one
    * action, which materializes every returned column, and compare the
    * digest with the model's.
    */
  def read(kind: String, expected: Digest)(build: Probe => DataFrame): OpRecord =
    timed(kind) { op =>
      val opSpan = spans.size - 1
      val df = span(op, opSpan, "build")(build)
      val agg = Digest.aggregate(df)
      span(op, opSpan, "plan")(_ => agg.queryExecution.executedPlan)
      val row = span(op, opSpan, "exec")(_ => agg.collect()(0))
      check(op, expected.mismatch(Digest.fromRow(df, row)))
    }

  /** An op whose layer call does all its work (commits, maintenance, a
    * pipeline ending in a write). Its result is checked by the caller.
    */
  def call(kind: String)(body: Probe => Unit): OpRecord =
    timed(kind)(op => span(op, spans.size - 1, "exec")(body))

  def check(op: OpRecord, mismatch: Option[String]): Unit =
    for (m <- mismatch) {
      op.ok = false
      System.err.println(s"[storebench] op ${op.id} ${op.kind} wrong result: $m")
    }

  // ------------------------------------------------------------ results

  /** Ends tracing: waits for the listener bus, folds Spark counters into
    * each op's metrics and returns the spans (job and stage spans
    * included) for the trace file.
    */
  def finish(cores: Int): Seq[Span] = {
    if (!traced) return Nil
    org.apache.spark.ListenerDrain(sc)
    listener.synchronized {
      val byId = spans.iterator.filter(_ != null).map(s => s.id -> s).toMap
      def under(s: Span, name: String): Boolean =
        s.name == name || (s.parent >= 0 && under(byId(s.parent), name))
      def counters(ss: Iterable[Span]): Counters = {
        val c = new Counters
        ss.foreach(s => listener.counters.get(s"s${s.id}").foreach(c += _))
        c
      }
      val perOp = byId.values.groupBy(_.op)
      for (op <- ops; mine <- perOp.get(op.id)) {
        def named(n: String) = mine.filter(_.name == n)
        def ms(ss: Iterable[Span]) = ss.map(s => (s.endNs - s.startNs) / 1e6).sum
        val exec = mine.filter(under(_, "exec"))
        val e = counters(exec)
        val execMs = ms(named("exec"))
        if (named("plan").nonEmpty) op.metrics("query.plan_ms") = ms(named("plan"))
        op.metrics ++= Seq(
          "spark.exec_ms" -> execMs,
          "spark.jobs" -> e.jobs.toDouble,
          "spark.stages" -> e.stages.toDouble,
          "spark.tasks" -> e.tasks.toDouble,
          "spark.task_run_ms" -> e.runMs.toDouble,
          "spark.task_cpu_ms" -> e.cpuNs / 1e6,
          "spark.gc_ms" -> e.gcMs.toDouble,
          "spark.core_utilization" -> (if (execMs > 0) e.runMs / (execMs * cores) else 0.0),
          "spark.input_bytes" -> e.inputBytes.toDouble,
          "spark.shuffle_write_bytes" -> e.shuffleWrite.toDouble,
          "spark.shuffle_read_bytes" -> e.shuffleRead.toDouble,
          "spark.spill_bytes" -> e.spill.toDouble)
        // layer spans: <layer>.build / core.commit / core.prune
        for ((name, ss) <- mine.groupBy(_.name) if name.contains('.') && !name.startsWith("op.")) {
          val c = counters(ss)
          name match {
            case "core.commit" =>
              op.metrics("core.commit_jobs") = c.jobs.toDouble
              op.metrics("core.commit_bytes_written") = c.outputBytes.toDouble
            case "core.prune" =>
            case n =>
              op.metrics(s"${n}_ms") = ms(ss)
              op.metrics(s"${n}_jobs") = c.jobs.toDouble
          }
        }
        val phases = ms(mine.filter(s => s.name == "build" || s.name == "plan" || s.name == "exec"))
        op.metrics("trace.span_coverage") = phases / op.wallMs
      }
      val toNs = (ms: Long) => nano0 + (ms - epochMs0) * 1000000L
      var next = spans.size
      val phaseOf = byId.map { case (id, s) => s"s$id" -> id }
      val sparkSpans = listener.intervals.toSeq.flatMap { case (g, job, stage, t0, t1) =>
        phaseOf.get(g).map { parent =>
          next += 1
          Span(next - 1, parent, byId(parent).op,
            if (stage < 0) s"spark.job.$job" else s"spark.stage.$stage", toNs(t0), toNs(t1))
        }
      }
      byId.values.toSeq.sortBy(_.id) ++ sparkSpans
    }
  }
}
