package storebench

import java.nio.charset.StandardCharsets
import java.util.zip.CRC32

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Row count plus per-column checksums of a frame. The Spark side computes
  * it in ONE aggregate action over every returned column (so the action
  * also materializes them); the driver-side model accumulates the same
  * digest from generated rows. Every term is an exact integer:
  *  - integral columns: Σ floorMod(x, P)
  *  - double columns (prices, always whole cents): Σ round(100·x)
  *  - string columns: Σ crc32(utf8 bytes)
  * plus the non-null count of each column.
  */
final case class Digest(rows: Long, cols: Map[String, (Long, Long)]) {
  def +(o: Digest): Digest = Digest(
    rows + o.rows,
    (cols.keySet ++ o.cols.keySet).iterator.map { c =>
      val (a, b) = cols.getOrElse(c, (0L, 0L))
      val (x, y) = o.cols.getOrElse(c, (0L, 0L))
      c -> ((a + x, b + y))
    }.toMap)

  def select(names: Seq[String]): Digest = Digest(rows, cols.filter(c => names.contains(c._1)))

  /** The first mismatch, described, or None when equal. */
  def mismatch(actual: Digest): Option[String] =
    if (actual.rows != rows) Some(s"rows ${actual.rows} != expected $rows")
    else if (actual.cols.keySet != cols.keySet)
      Some(s"columns ${actual.cols.keySet.toSeq.sorted} != expected ${cols.keySet.toSeq.sorted}")
    else
      cols.collectFirst {
        case (c, v) if actual.cols(c) != v => s"column $c checksum ${actual.cols(c)} != expected $v"
      }
}

object Digest {
  val P: Long = 1000000007L
  def ofLong(x: Long): Long = java.lang.Math.floorMod(x, P)
  def ofString(s: String): Long = {
    val c = new CRC32
    c.update(s.getBytes(StandardCharsets.UTF_8))
    c.getValue
  }

  private def term(f: StructField): Column = {
    val c = col(s"`${f.name}`")
    f.dataType match {
      case LongType | IntegerType => pmod(c.cast(LongType), lit(P))
      case DoubleType => round(c * 100).cast(LongType)
      case StringType => crc32(c.cast(BinaryType))
      case t => throw new IllegalArgumentException(s"no checksum for ${f.name}: $t")
    }
  }

  /** The digest aggregate of `df`: one row, two longs per column. */
  def aggregate(df: DataFrame): DataFrame = {
    val fs = df.schema.fields.toSeq
    val aggs = count(lit(1)) +: fs.flatMap(f => Seq(coalesce(sum(term(f)), lit(0L)), count(col(s"`${f.name}`"))))
    df.agg(aggs.head, aggs.tail: _*)
  }

  def fromRow(df: DataFrame, r: Row): Digest = {
    val names = df.schema.fieldNames.toSeq
    Digest(r.getLong(0), names.zipWithIndex.map { case (c, i) =>
      c -> ((r.getLong(1 + 2 * i), r.getLong(2 + 2 * i)))
    }.toMap)
  }

  /** Digest of `df` computed by Spark in one action. */
  def of(df: DataFrame): Digest = fromRow(df, aggregate(df).collect()(0))
}
