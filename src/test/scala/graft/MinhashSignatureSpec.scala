package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.Dedup
import graft.plans.{MinhashSignature, SeededShingleHash, TextKernels}

/** The per-document MinHash kernel against the relational definition it
  * replaces (shingle postings → groupBy id → `collect_set(xxhash64(s))`
  * and k `min(xxhash64(i, s))`, or md5-h60 of "i:s" when portable), and
  * the per-row rule the MinHash operators follow for a repeated id.
  */
class MinhashSignatureSpec extends SparkSuite {
  import spark.implicits._

  private val edgeDocs: Seq[(Long, String)] = Seq(
    -1L -> null,
    -2L -> "",
    -3L -> "   ",
    -4L -> "!!! ???",
    -5L -> "two words",
    -6L -> "a b c a b c a b c a b c",
    -7L -> "Café naïve résumé déjà vu and more",
    -8L -> "Café naïve résumé déjà vu and more",
    -9L -> "İstanbul Kelvin ßig straße words here",
    -10L -> "日本語 テキスト only",
    -11L -> "😀 emoji a b c 😀 a b c",
    -12L -> "The   quick BROWN fox.  The quick brown fox!")

  private def corpus: DataFrame =
    edgeDocs.toDF("id", "text").unionByName(
      spark.read.parquet(s"$sf/documents.parquet").select(col("doc_id").as("id"), col("text")))

  test("minhash_signature equals the postings definition in both hash modes") {
    val k = 6
    val docs = corpus.cache()
    try {
      for (n <- Seq(1, 3); portable <- Seq(false, true)) {
        val posts = Dedup.shinglePostings(docs, "id", "text", n)
        val expected = Dedup.minhashSignatures(posts, k, portable)
          .join(posts.groupBy("id").agg(sort_array(collect_set(xxhash64(col("s")))).as("set")), "id")
          .select("id", "set" +: (0 until k).map(i => s"h$i"): _*)
        val got = docs.select(col("id"), MinhashSignature(col("text"), n, k, portable, withSet = true))
        val tag = s"n=$n portable=$portable"
        assert(got.columns.toSeq == expected.columns.toSeq, tag)
        assert(got.count() == expected.count(), tag)
        assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty, tag)
        // the two halves alone are the same fields of the same signature
        val mins = docs.select(col("id"), MinhashSignature(col("text"), n, k, portable, withSet = false))
        assert(mins.exceptAll(got.drop("set")).isEmpty && got.drop("set").exceptAll(mins).isEmpty, tag)
        val sets = docs.select(col("id"), MinhashSignature(col("text"), n, 0, portable, withSet = true))
        assert(sets.exceptAll(got.select("id", "set")).isEmpty && sets.count() == got.count(), tag)
      }
      // which edge docs have a signature: a null text never; "" and
      // punctuation-only text only at n = 1 (one empty shingle); two
      // tokens not at n = 3
      def signed(n: Int) = docs.filter(col("id") < 0)
        .select(col("id"), MinhashSignature(col("text"), n, 1, portable = false, withSet = false))
        .as[(Long, Long)].collect().map(_._1).toSet
      assert(signed(1) == edgeDocs.map(_._1).toSet - -1L)
      assert(signed(3) == edgeDocs.map(_._1).toSet -- Set(-1L, -2L, -3L, -4L, -5L, -10L))
    } finally docs.unpersist()
  }

  test("minhashSignature pins the hash definitions on one shingle") {
    def sign(text: String, portable: Boolean, withSet: Boolean) = TextKernels.minhashSignature(
      UTF8String.fromString(text), 3, new SeededShingleHash(2, portable), withSet)
    val s = UTF8String.fromString("hello world again")
    val row = sign("Hello, World! again", portable = false, withSet = true)
    assert(row.getArray(0).toLongArray().toSeq == Seq(XXH64.hashUTF8String(s, 42L)))
    assert(row.getLong(1) == XXH64.hashUTF8String(s, XXH64.hashInt(0, 42L)))
    assert(row.getLong(2) == XXH64.hashUTF8String(s, XXH64.hashInt(1, 42L)))
    val portable = sign("hello world again", portable = true, withSet = false)
    // Dedup.h60: conv(substring(md5(str), 1, 15), 16, 10)
    def h60(str: String) = java.lang.Long.parseLong(java.security.MessageDigest.getInstance("MD5")
      .digest(str.getBytes("UTF-8")).map(b => f"$b%02x").mkString.take(15), 16)
    assert(portable.getLong(0) == h60("0:hello world again"))
    assert(portable.getLong(1) == h60("1:hello world again"))
    assert(sign("two words", portable = false, withSet = true) == null)
  }

  test("a repeated id is signatured per row: pairs when some row of each clears") {
    val a = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima mike"
    val b = "one two three four five six seven eight nine ten eleven twelve thirteen"
    val docs = Seq(1L -> a, 1L -> b, 2L -> b, 2L -> b, 3L -> a, 4L -> (a + " " + b)).toDF("id", "text")
    // per row: id 1's row a matches id 3 and its row b matches id 2, and
    // id 2's two rows never pair it with itself. Merged per id, id 1
    // (a ∪ b) would sit at Jaccard 0.5 against both and match id 4 instead
    val lsh = Dedup.lshJaccardPairs(docs, "id", "text", threshold = 0.8).as[(Long, Long)].collect()
    assert(lsh.toSeq.sorted == Seq(1L -> 2L, 1L -> 3L))
    val cand = Dedup.minhashCandidates(docs, "id", "text").as[(Long, Long)].collect()
    assert(cand.length == cand.distinct.length && cand.forall { case (x, y) => x < y })
    assert(Set(1L -> 2L, 1L -> 3L).subsetOf(cand.toSet))
  }
}
