package storebench

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.core.{Graft, Library, LibraryOptions}

/** Accumulates a [[Digest]] row by row on the driver; `None` is a null. */
final class Acc(names: Seq[String]) {
  private var rows = 0L
  private val sums = new Array[Long](names.size)
  private val nonNull = new Array[Long](names.size)

  def add(terms: Option[Long]*): Unit = {
    rows += 1
    var i = 0
    while (i < terms.size) {
      terms(i).foreach { t => sums(i) += t; nonNull(i) += 1 }
      i += 1
    }
  }
  def addAll(terms: Long*): Unit = add(terms.map(Some(_)): _*)
  def digest: Digest = Digest(rows, names.indices.map(i => names(i) -> ((sums(i), nonNull(i)))).toMap)
}

object Model {
  val TradeCols: Seq[String] = Gen.TradeSchema.fieldNames.toSeq

  def tradeTerms(t: Gen.Trade): Seq[Long] =
    Seq(Digest.ofLong(t.ts), Digest.ofString(t.sym), t.cents, Digest.ofLong(t.size), Digest.ofLong(t.venue))

  def trades(rows: Iterator[Gen.Trade]): Digest = {
    val a = new Acc(TradeCols)
    rows.foreach(t => a.addAll(tradeTerms(t): _*))
    a.digest
  }
}

/** Everything a workload needs from the run. */
final class Ctx(val spark: SparkSession, val seed: Long, val runner: Runner, val root: String) {
  def traced: Boolean = runner.traced
  val cores: Int = spark.sparkContext.defaultParallelism

  /** On-disk bytes and the data files below `dir`. */
  def du(dir: String): (Long, Set[String]) = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return (0L, Set.empty)
    val it = fs.listFiles(p, true)
    var bytes = 0L
    val files = Set.newBuilder[String]
    while (it.hasNext) {
      val f = it.next()
      bytes += f.getLen
      if (f.getPath.getName.endsWith(".parquet")) files += f.getPath.toString
    }
    (bytes, files.result())
  }

  /** Data files and bytes the symbol keeps on disk vs what its latest
    * version references (core.files_per_symbol, bytes_stored_per_live_byte).
    */
  def storage(lib: Library, symbol: String): Map[String, Double] = {
    val m = lib.resolveVersion(symbol)
    val dataDir = new Path(new Path(lib.root, symbol), "data")
    val fs = dataDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = m.files.map(f => fs.getFileStatus(new Path(dataDir, f.path)).getLen).sum
    val (stored, _) = du(dataDir.toString)
    Map(
      "core.files_per_symbol" -> m.files.size.toDouble,
      "core.bytes_stored_per_live_byte" -> (if (live > 0) stored.toDouble / live else 0.0))
  }

  def newLibrary(name: String, options: LibraryOptions = LibraryOptions()): (Graft, Library) = {
    val g = new Graft(root, spark)
    (g, g.createLibrary(name, options))
  }

  /** Set-up commit ops and their input frames (traced runs). */
  private val inputs = scala.collection.mutable.LinkedHashMap.empty[OpRecord, DataFrame]

  /** A set-up commit of `frame`, run as a `setup.<kind>` op so that a
    * traced run measures the commit layer on it. Returns the version.
    */
  def commit(lib: Library, symbol: String, kind: String, frame: DataFrame)(body: DataFrame => Int): Int = {
    var v = -1
    val op = runner.call(s"setup.$kind")(p => v = p.layer("core.commit")(body(frame)))
    if (!op.ok) throw new IllegalStateException(s"set-up $kind of $symbol failed")
    if (traced) {
      inputs(op) = frame
      commitMetrics(op, lib, symbol, v)
    }
    v
  }

  /** Files a commit added, its manifest's size, and for an update the
    * rows its splice rewrote per patch row. Measured after the op.
    */
  def commitMetrics(op: OpRecord, lib: Library, symbol: String, v: Int): Unit = {
    val m = lib.manifest(symbol, v)
    val prior = lib.listVersions(symbol).filter(_ < v).lastOption
    val before = prior.map(lib.manifest(symbol, _).files.map(_.path).toSet).getOrElse(Set.empty)
    val added = m.files.filterNot(f => before(f.path))
    op.metrics("core.files_added") = added.size.toDouble
    val mf = new Path(new Path(new Path(lib.root, symbol), "_versions"), f"v$v%05d.json")
    op.metrics("core.manifest_bytes") = du(mf.toString)._1.toDouble
    if (op.kind.endsWith("update"))
      op.metrics("core.rows_rewritten_per_patch_row") =
        added.map(_.rows).sum.toDouble / inputs.get(op).map(_.count()).getOrElse(1L)
  }

  /** Bytes each set-up commit wrote per byte of its input written as plain
    * parquet. Run after the timed loop: it writes every input once more.
    */
  def measureInputs(): Unit = {
    val dir = new Path(root, "_plain")
    for (((op, frame), i) <- inputs.zipWithIndex; written <- op.metrics.get("core.commit_bytes_written")) {
      val out = new Path(dir, i.toString).toString
      frame.write.parquet(out)
      op.metrics("core.bytes_written_per_input_byte") = written / du(out)._1
    }
  }

  /** Materializes generated rows once, so commits never time generation. */
  def frame(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, cores), schema).localCheckpoint(eager = true)
}

/** A closed-loop workload: set-up builds a fresh library under the
  * context's root; each `step` runs one unit of timed work through the
  * context's runner (one read op, one pipeline pass).
  */
trait Workload {
  /** Op kinds whose per-kind medians form `op_ms`. */
  def kinds: Seq[String]
  /** Untimed steps until `until` (System.nanoTime), and at least one of
    * each op kind: the JVM keeps compiling the plan and scan paths for
    * tens of seconds, and a loop started cold measures that instead.
    */
  def warmUp(until: Long): Unit = {
    var n = 0
    while (n < kinds.size || System.nanoTime() < until) { step(); n += 1 }
  }
  def setup(ctx: Ctx): Unit
  def step(): Unit
  /** Rows and on-disk bytes per symbol, for the run record. */
  def sizes(): Map[String, Any]
}
