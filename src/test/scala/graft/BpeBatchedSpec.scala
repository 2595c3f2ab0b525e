package graft

import org.apache.spark.sql.functions._

import graft.functions.{Bpe, WordPiece}

/** Batched tokenizer training must select the SAME merge sequence as the
  * single-merge-per-iteration loops (q99/q174's oracle-gated semantics)
  * — on real corpus text, where batching actually engages (multiple
  * merges per pass), not just on toy inputs where every pass degenerates
  * to the single-merge fallback.
  */
class BpeBatchedSpec extends SparkSuite {
  import spark.implicits._

  private lazy val docs = spark.read.parquet(s"$sf/documents.parquet")
    .select("doc_id", "text")

  test("BPE: batched == sequential on the corpus, and batching engages") {
    val k = 120
    val seq = Bpe.trainMerges(docs, "text", k)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    val bat = Bpe.trainMergesBatched(docs, "text", k, maxBatch = 64)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(bat.toSeq == seq.toSeq,
      s"first divergence: ${bat.zip(seq).find(p => p._1 != p._2)}")
  }

  test("BPE batched: disjoint top pairs land in ONE pass (full engagement)") {
    // 20 words over pairwise-disjoint letter sets, strictly decreasing
    // frequencies: the pair table is exactly 20 unit-disjoint pairs, so
    // the batch rule must take ALL of them in a single pass — and the
    // sequence must still equal sequential's
    val letters = ('a' to 'z') ++ ('A' to 'N')
    val rows = (0 until 20).flatMap { i =>
      val w = s"${letters(2 * i)}${letters(2 * i + 1)}"
      Seq.fill(200 - 7 * i)(w)
    }
    val df = rows.zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("id", "text")
    val seq = Bpe.trainMerges(df, "text", 20).collect().toSeq
    var bat = Seq.empty[org.apache.spark.sql.Row]
    val jobs = jobsDuring { bat = Bpe.trainMergesBatched(df, "text", 20, maxBatch = 64)
      .collect().toSeq }._2
    assert(bat == seq)
    // one pass = word table build + window + risk + checkpoint + final
    // collect — allow slack, but nothing near 20 passes
    assert(jobs <= 10, s"expected one batched pass, saw $jobs jobs")
  }

  test("BPE batched: early char-stage natural text stays within 1.6x sequential's jobs") {
    // early char-stage BPE on real text is INHERENTLY nearly sequential
    // — top pairs share letters, and a rule that stays provably
    // order-equivalent must not batch pairs whose counts the batch
    // itself changes, so most passes select one merge. The value claim
    // lives where heads ARE disjoint (the test above; diverse
    // multi-script corpora; later-stage training) — here we pin that
    // the machinery's overhead in its WORST regime is bounded (the
    // driver pre-cut skips the risk aggregate on degenerate passes).
    val seqJobs = jobsDuring(Bpe.trainMerges(docs, "text", 120).collect())._2
    val batJobs = jobsDuring(
      Bpe.trainMergesBatched(docs, "text", 120, maxBatch = 64).collect())._2
    assert(batJobs < seqJobs * 8 / 5,
      s"batched ran $batJobs jobs vs sequential $seqJobs for 120 merges")
  }

  test("BPE batched: tiny corpora degrade to the exact sequential tail") {
    val df = Seq((1L, "aa ab aa ab ba"), (2L, "ab aa b a")).toDF("id", "text")
    val seq = Bpe.trainMerges(df, "text", 10).collect().toSeq
    val bat = Bpe.trainMergesBatched(df, "text", 10, maxBatch = 8).collect().toSeq
    assert(bat == seq)
  }

  test("WordPiece: batched == sequential on the corpus, and batching engages") {
    val k = 80
    val seq = WordPiece.train(docs, "text", k)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    val bat = WordPiece.trainBatched(docs, "text", k, maxBatch = 32)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(bat.toSeq == seq.toSeq,
      s"first divergence: ${bat.zip(seq).find(p => p._1 != p._2)}")
  }

  test("WordPiece batched: tiny corpora degrade to the exact sequential tail") {
    val df = Seq((1L, "aa ab aa ab ba cc"), (2L, "ab aa b a cc c")).toDF("id", "text")
    val seq = WordPiece.train(df, "text", 8).collect().toSeq
    val bat = WordPiece.trainBatched(df, "text", 8, maxBatch = 8).collect().toSeq
    assert(bat == seq)
  }

  test("the raised envelope is real: batched k cap is 65536, sequential stays 4096") {
    intercept[IllegalArgumentException](Bpe.trainMerges(docs, "text", 4097))
    intercept[IllegalArgumentException](
      Bpe.trainMergesBatched(docs, "text", 65537))
    intercept[IllegalArgumentException](WordPiece.train(docs, "text", 4097))
    intercept[IllegalArgumentException](
      WordPiece.trainBatched(docs, "text", 65537))
  }

  test("batched == sequential on seeded random collision-dense corpora (both families)") {
    // Regression net for the product-collision stop (a candidate whose
    // PRODUCT equals an earlier selection's unit or product must end
    // the batch: the risk exclusion assumes no batch member can be
    // re-formed by another, and its converse direction used to be
    // unguarded). A 4-letter alphabet with short words maximizes
    // unit/product collisions per window — far denser than natural
    // text — so parity here exercises the stop conditions hard.
    val rnd = new scala.util.Random(20260816L)
    val alphabet = "abcd"
    val words = (0 until 60).map { _ =>
      val len = 1 + rnd.nextInt(6)
      (0 until len).map(_ => alphabet(rnd.nextInt(4))).mkString
    }
    val rows = words.zipWithIndex.flatMap { case (w, i) =>
      Seq.fill(1 + rnd.nextInt(12))(w)
    }
    val df = rnd.shuffle(rows).zipWithIndex
      .map { case (w, i) => (i.toLong, w) }.toDF("id", "text")
    val k = 30
    val bseq = Bpe.trainMerges(df, "text", k).collect().toSeq
    val bbat = Bpe.trainMergesBatched(df, "text", k, maxBatch = 8)
      .collect().toSeq
    assert(bbat == bseq, s"BPE diverged:\nseq=$bseq\nbat=$bbat")
    val wseq = WordPiece.train(df, "text", k).collect().toSeq
    val wbat = WordPiece.trainBatched(df, "text", k, maxBatch = 8)
      .collect().toSeq
    assert(wbat == wseq, s"WordPiece diverged:\nseq=$wseq\nbat=$wbat")
  }

  test("MergeBatch refuses interacting pairs; same-product pairs stay legal") {
    // shared unit: "a b b" would diverge between combined and sequential
    intercept[IllegalArgumentException](
      new graft.plans.MergeBatch(Array(("a", "b"), ("b", "c"))))
    // product-as-unit: under {(ab,c),(a,b)} the fold ORDER changes
    // "a b c" ([abc] vs [ab, c]) — no order-free semantics exists, so
    // construction refuses (the trainers' selection stop guarantees
    // they never build one)
    intercept[IllegalArgumentException](
      new graft.plans.MergeBatch(Array(("ab", "c"), ("a", "b"))))
    // two pairs with the SAME product don't interact: matches can't
    // overlap and neither creates the other's units — legal, and the
    // combined scan equals the fold in either order
    val batch = new graft.plans.MergeBatch(Array(("a", "bc"), ("ab", "c")))
    val out = Seq(Seq("a", "bc", "x"), Seq("ab", "c"), Seq("a", "bc", "ab", "c"))
      .toDF("s")
      .select(graft.plans.ApplyMergeBatch(col("s"), batch).as("m"))
      .as[Seq[String]].collect().toSeq
    assert(out == Seq(Seq("abc", "x"), Seq("abc"), Seq("abc", "abc")))
  }
}
