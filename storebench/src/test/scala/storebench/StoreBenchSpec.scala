package storebench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.GraftSession

class StoreBenchSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark: SparkSession = {
    val s = GraftSession.builder("local[2]", 2).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  override def afterAll(): Unit = spark.stop()

  private def tradesFrame(seed: Long, day: Int, rows: Int) = spark.createDataFrame(
    spark.sparkContext.parallelize(Gen.trades(seed, day, rows).map(_.row).toSeq, 2), Gen.TradeSchema)

  test("generators are deterministic per seed and differ across seeds") {
    assert(Gen.trades(7L, 3, 500).toSeq == Gen.trades(7L, 3, 500).toSeq)
    assert(Gen.trades(7L, 3, 500).toSeq != Gen.trades(8L, 3, 500).toSeq)
    assert(Gen.trades(7L, 3, 500, salt = 1).toSeq != Gen.trades(7L, 3, 500).toSeq)
    assert(Gen.quotes(7L, 3, 200).toSeq == Gen.quotes(7L, 3, 200).toSeq)
    val (a, b) = (Gen.Corpus(7L, 400), Gen.Corpus(7L, 400))
    assert((0L until 400L).map(a.text) == (0L until 400L).map(b.text))
    assert((0L until 400L).map(a.text) != (0L until 400L).map(Gen.Corpus(8L, 400).text))
  }

  test("trades stay inside their day with strictly increasing timestamps") {
    val ts = Gen.trades(1L, 5, 2000).map(_.ts).toSeq
    assert(ts.head >= Gen.dayStart(5) && ts.last <= Gen.dayEnd(5))
    assert(ts.zip(ts.tail).forall { case (x, y) => x < y })
  }

  test("the planted corpus holds what the model says survives") {
    val c = Gen.Corpus(3L, 800)
    val words = (id: Long) => c.text(id).split(" ").toSeq
    def shingles(id: Long) = words(id).sliding(3).map(_.mkString(" ")).toSet
    for (id <- 0L until 800L) c.kind(id) match {
      case Gen.Normal => assert(words(id).size >= Gen.MinTokens && !c.text(id).contains("@"))
      case Gen.Short => assert(words(id).size < Gen.MinTokens)
      case Gen.Email => assert(c.text(id).matches(".*\\S+@example\\.com.*"))
      case Gen.ExactCopy(of) => assert(of < id && c.kind(of) == Gen.Normal && c.text(of) == c.text(id))
      case Gen.NearCopy(of) =>
        assert(of < id && c.kind(of) == Gen.Normal && c.text(of) != c.text(id))
        val (x, y) = (shingles(of), shingles(id))
        assert((x & y).size.toDouble / (x | y).size >= 0.9)
    }
    assert(c.survivors.size == 600)
  }

  test("the driver-side model digest equals the digest Spark computes") {
    val df = tradesFrame(5L, 2, 3000)
    assert(Digest.of(df) == Model.trades(Gen.trades(5L, 2, 3000)))
    val cols = Seq("ts", "price")
    assert(Digest.of(df.select(cols.map(df(_)): _*)) == Model.trades(Gen.trades(5L, 2, 3000)).select(cols))
  }

  test("the tail rule takes the highest percentile with ten samples beyond it") {
    val xs = (1 to 20).map(_.toDouble)
    val Some((v, p)) = Stats.tail(xs)
    assert(v == 10.0 && xs.count(_ > v) == 10)
    assert(math.abs(p - 100.0 * 9 / 19) < 1e-9)
    assert(Stats.tail((1 to 10).map(_.toDouble)).isEmpty)
    assert(Stats.tail((1 to 11).map(_.toDouble)).contains((1.0, 0.0)))
    assert(Stats.median(Seq(3.0, 1.0, 2.0, 10.0)) == 2.5)
  }

  test("a wrong checksum is reported as a failed op") {
    for (traced <- Seq(false, true)) {
      val runner = new Runner(spark, traced)
      val df = tradesFrame(9L, 1, 1000)
      val right = Model.trades(Gen.trades(9L, 1, 1000))
      val (c, n) = right.cols("size")
      val wrong = right.copy(cols = right.cols.updated("size", (c + 1, n)))
      val good = runner.read("read", right)(_ => df)
      val bad = runner.read("read", wrong)(_ => df)
      val short = runner.read("read", right.copy(rows = right.rows + 1))(_ => df)
      val thrown = runner.read("read", right)(_ => throw new IllegalStateException("boom"))
      assert(good.ok && !bad.ok && !short.ok && !thrown.ok)
      assert(runner.ops.count(!_.ok) == 3)
      runner.finish(2)
    }
  }
}
