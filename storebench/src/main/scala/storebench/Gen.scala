package storebench

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Deterministic input generators. Every value is a pure function of
  * (seed, stream, day, salt, row, field), so the executors that build a
  * frame and the driver-side model that predicts a result see exactly the
  * same rows without shipping them anywhere.
  */
object Gen {
  val DayNs: Long = 86400L * 1000000000L
  val HourNs: Long = 3600L * 1000000000L
  /** 2024-01-01T00:00:00Z in ns. */
  val T0: Long = 1704067200L * 1000000000L

  def dayStart(day: Int): Long = T0 + day * DayNs
  def dayEnd(day: Int): Long = dayStart(day + 1) - 1

  /** splitmix64 finalizer over a folded key. */
  def mix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }
  def h(parts: Long*): Long = parts.foldLeft(0x2545F4914F6CDD1DL)((a, p) => mix(a ^ p))
  /** Uniform in [0, n). */
  def pick(n: Int, parts: Long*): Int = java.lang.Math.floorMod(h(parts: _*), n.toLong).toInt

  val Symbols: Vector[String] = Vector.tabulate(40)(i => f"S$i%03d")

  // ------------------------------------------------------------- trades

  val TradeSchema: StructType = StructType(Seq(
    StructField("ts", LongType, nullable = false),
    StructField("sym", StringType, nullable = false),
    StructField("price", DoubleType, nullable = false),
    StructField("size", LongType, nullable = false),
    StructField("venue", IntegerType, nullable = false)))

  final case class Trade(ts: Long, sym: String, cents: Long, size: Long, venue: Int) {
    def row: Row = Row(ts, sym, cents / 100.0, size, venue)
  }

  /** One day of trades: `rows` strictly increasing unique timestamps.
    * `salt` > 0 gives the replacement rows an update writes for that day.
    */
  def trades(seed: Long, day: Int, rows: Int, salt: Int = 0): Iterator[Trade] = {
    val step = DayNs / rows
    Iterator.range(0, rows).map { i =>
      val r = h(seed, 1L, day.toLong, salt.toLong, i.toLong)
      Trade(
        ts = dayStart(day) + i * step + java.lang.Math.floorMod(r, step / 2),
        sym = Symbols(java.lang.Math.floorMod(r >>> 7, Symbols.size.toLong).toInt),
        cents = 10000L + java.lang.Math.floorMod(r >>> 17, 5000L),
        size = 1L + java.lang.Math.floorMod(r >>> 31, 1000L),
        venue = java.lang.Math.floorMod(r >>> 47, 8L).toInt)
    }
  }

  // ------------------------------------------------------------- quotes

  val QuoteSchema: StructType = StructType(Seq(
    StructField("ts", LongType, nullable = false),
    StructField("sym", StringType, nullable = false),
    StructField("bid", DoubleType, nullable = false)))

  final case class Quote(ts: Long, sym: String, cents: Long) {
    def row: Row = Row(ts, sym, cents / 100.0)
  }

  def quotes(seed: Long, day: Int, rows: Int): Iterator[Quote] = {
    val step = DayNs / rows
    Iterator.range(0, rows).map { i =>
      val r = h(seed, 2L, day.toLong, i.toLong)
      Quote(
        ts = dayStart(day) + i * step + step / 2 + java.lang.Math.floorMod(r, step / 4),
        sym = Symbols(java.lang.Math.floorMod(r >>> 9, Symbols.size.toLong).toInt),
        cents = 9900L + java.lang.Math.floorMod(r >>> 21, 5000L))
    }
  }

  // ----------------------------------------------------------- documents

  val DocSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("text", StringType, nullable = false)))

  /** Letters-only synthetic words: no digits, so no PII pattern can match. */
  val Vocab: Vector[String] = {
    val cons = "bcdfghjklmnprstvz"
    val vow = "aeiou"
    Vector.tabulate(4000) { i =>
      val sb = new StringBuilder
      var x = mix(i.toLong + 77L)
      for (_ <- 0 until 2 + (i % 3)) {
        sb += cons(java.lang.Math.floorMod(x, cons.length.toLong).toInt)
        sb += vow(java.lang.Math.floorMod(x >>> 8, vow.length.toLong).toInt)
        x = mix(x)
      }
      sb.toString + ('a' + i % 26).toChar + ('a' + i / 26 % 26).toChar
    }.distinct
  }

  /** What the planted corpus holds at each id. Survivors of the clean →
    * exact-dedup → near-dedup pipeline are exactly the `Normal` docs.
    */
  sealed trait DocKind
  case object Normal extends DocKind
  case object Short extends DocKind
  case object Email extends DocKind
  final case class ExactCopy(of: Long) extends DocKind
  final case class NearCopy(of: Long) extends DocKind

  val MinTokens = 20

  final case class Corpus(seed: Long, docs: Int) {
    /** The first `base` ids are normal docs; planted ones follow. */
    val base: Int = docs * 3 / 4
    private val planted = docs - base
    // each planted copy gets its own source doc: ids 0, 2, 4, … shuffled
    private val sources: Vector[Long] =
      Vector.tabulate(base / 2)(i => 2L * i).sortBy(i => h(seed, 5L, i))

    def kind(id: Long): DocKind =
      if (id < base) Normal
      else {
        val j = (id - base).toInt
        j % 4 match {
          case 0 => ExactCopy(sources(j / 2 % sources.size))
          case 1 => NearCopy(sources(j / 2 % sources.size))
          case 2 => Short
          case _ => Email
        }
      }

    private def words(id: Long, n: Int): Vector[String] =
      Vector.tabulate(n)(i => Vocab(pick(Vocab.size, seed, 3L, id, i.toLong)))

    def text(id: Long): String = kind(id) match {
      case Normal => words(id, MinTokens + 10 + pick(20, seed, 4L, id)).mkString(" ")
      case Short => words(id, 4 + pick(MinTokens - 8, seed, 4L, id)).mkString(" ")
      case Email =>
        val w = words(id, MinTokens + 10 + pick(20, seed, 4L, id))
        w.updated(w.size / 2, s"${w(0)}.${w(1)}@example.com").mkString(" ")
      case ExactCopy(of) => text(of)
      case NearCopy(of) =>
        // the last token swapped: T tokens keep T-3 of T-2 word 3-shingles,
        // Jaccard (T-3)/(T-1) >= 0.93 for T >= 30
        val w = text(of).split(" ")
        val last = w.last
        val swap = Iterator.from(1).map(k => Vocab(pick(Vocab.size, seed, 6L, id, k.toLong)))
          .find(v => v != last && !w.contains(v)).get
        w.updated(w.length - 1, swap).mkString(" ")
    }

    def row(id: Long): Row = Row(id, text(id))
    def survivors: Iterator[Long] = Iterator.range(0, base).map(_.toLong)
    def plantedCount: Int = planted
  }
}
