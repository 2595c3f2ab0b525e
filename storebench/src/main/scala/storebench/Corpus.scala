package storebench

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions.col

import graft.core.{Library, LibraryOptions}
import graft.functions.{Clean, Dedup}

/** `corpus`: one LLM-data cleaning pass per step over a planted corpus:
  * read latest → clean (token-count and PII rules) → exact dedup → drop
  * LSH near-duplicate matches → write a new version of the clean symbol
  * and prune its previous one, so the library stays the same size.
  * Library metadata is negligible here; the text kernels and their
  * shuffles do the work.
  */
final class Corpus(docs: Int) extends Workload {
  private val WarmDocs = 400
  private val Lib = "bench"
  private val Docs = "docs"
  private val Out = "clean"
  private val rules = Clean.Rules(minTokens = Gen.MinTokens, maxPiiHits = 0)

  val kinds: Seq[String] = Seq("pipeline")

  private var ctx: Ctx = _
  private var lib: Library = _
  private var corpus: Gen.Corpus = _
  private var expected: Digest = _

  /** Writes corpus `c` as symbol `name`; returns the model's digest of
    * what a pass must leave in the clean symbol: the normal documents.
    */
  private def plant(name: String, c: Gen.Corpus): Digest = {
    val rdd = ctx.spark.sparkContext.parallelize(0L until c.docs.toLong, ctx.cores).map(c.row)
    lib.write(name, ctx.spark.createDataFrame(rdd, Gen.DocSchema))
    val a = new Acc(Seq("id", "text"))
    c.survivors.foreach(id => a.addAll(Digest.ofLong(id), Digest.ofString(c.text(id))))
    a.digest
  }

  def setup(c: Ctx): Unit = {
    ctx = c
    // one writer and one reader in one process: GC may delete at once
    // instead of condemning files for a read grace first
    lib = c.newLibrary(Lib, LibraryOptions(gcGraceMs = 0))._2
    corpus = Gen.Corpus(c.seed, docs)
    expected = plant(Docs, corpus)
  }

  def step(): Unit = pass(Docs, Out, expected)

  /** Passes over a small corpus plan and compile the same code as the
    * timed ones, in a fraction of their time.
    */
  override def warmUp(until: Long): Unit = {
    val small = plant("warm", Gen.Corpus(ctx.seed + 1, WarmDocs))
    while (System.nanoTime() < until) pass("warm", "warm_clean", small)
    step()
  }

  private def pass(in: String, out: String, want: Digest): Unit = {
    var v = -1
    val filesBefore = ctx.du(new Path(lib.root, out).toString)._2
    val op = ctx.runner.call("pipeline") { p =>
      val df = p.read(lib)(lib.read(in))
      val kept = p.layer("functions.cleanCorpus.build")(Clean.cleanCorpus(df, "id", "text", rules))
      val clean = df.join(kept.select("id"), Seq("id"), "left_semi")
      // materialized once: the near-dup stage reads it three times, and
      // re-planning the clean kernels under each reference costs seconds
      val unique = p.layer("functions.dropExactDuplicates.build")(Dedup.dropExactDuplicates(clean, "id", "text"))
        .localCheckpoint(eager = true)
      val pairs = p.layer("functions.lshJaccardPairs.build")(
        Dedup.lshJaccardPairs(unique, "id", "text", shingleLen = 3, threshold = 0.8, numHashes = 16, bands = 8))
      val kept2 = unique.join(pairs.select(col("id_b").as("id")).distinct(), Seq("id"), "left_anti")
      v = p.layer("core.commit")(lib.write(out, kept2))
      p.layer("core.prune")(lib.prunePreviousVersions(out))
    }
    val got = Digest.of(lib.read(out, Library.AsOf.Version(v)))
    ctx.runner.check(op, want.mismatch(got))
    if (ctx.traced && op.ok) {
      op.metrics("functions.docs_out_ratio") = got.rows.toDouble / lib.resolveVersion(in).rowCount
      ctx.commitMetrics(op, lib, out, v)
      op.metrics("core.gc_files_deleted") = (filesBefore -- ctx.du(new Path(lib.root, out).toString)._2).size.toDouble
      op.metrics ++= ctx.storage(lib, out)
    }
  }

  def sizes(): Map[String, Any] = Map(
    "docs" -> docs,
    "planted" -> corpus.plantedCount,
    "docs_bytes" -> ctx.du(new Path(lib.root, Docs).toString)._1)
}
