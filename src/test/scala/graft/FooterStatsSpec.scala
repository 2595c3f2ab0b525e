package graft

import org.apache.spark.sql.functions._

import graft.core.ParquetFooterStats
import graft.query.{QueryBuilder, Resample}

/** ParquetFooterStats: the footer-derived min/max must equal the
  * aggregate it replaces, and every plan shape it cannot vouch for must
  * fall back (None) rather than risk a wrong anchor.
  */
class FooterStatsSpec extends SparkSuite {
  import spark.implicits._

  private lazy val events = spark.read.parquet(s"$sf/events.parquet")

  test("footer min/max equals the aggregate min/max on a bare scan") {
    // events.ts is TIMESTAMP_MICROS: footer INT64 stats are epoch-µs,
    // which minMaxLong converts to the engine's canonical epoch-ns
    val got = ParquetFooterStats.minMaxLong(events, "ts")
    val ns = unix_micros(col("ts").cast("timestamp")) * lit(1000L)
    val Array(mn, mx) = events.agg(min(ns), max(ns)).collect()(0)
      .toSeq.map(_.asInstanceOf[Long]).toArray
    assert(got.contains((mn, mx)))
    // survives a prune-only projection
    assert(ParquetFooterStats.minMaxLong(events.select("ts", "value"), "ts")
      .contains((mn, mx)))
  }

  test("filters, computed projections and non-long columns fall back to None") {
    assert(ParquetFooterStats.minMaxLong(
      events.filter(col("value") > 0), "ts").isEmpty)
    assert(ParquetFooterStats.minMaxLong(
      events.select(col("ts").cast("timestamp").as("ts")), "ts").isEmpty)
    assert(ParquetFooterStats.minMaxLong(events, "event_type").isEmpty)
    assert(ParquetFooterStats.minMaxLong(
      Seq((1L, 2L)).toDF("ts", "v"), "ts").isEmpty) // not a parquet scan
  }

  test("no-nulls superset bounds: filters allowed, nulls or non-scans fall back") {
    // minMaxNsNoNulls serves asofJoinChunked's chunk bounds: any
    // covering range is correct, so Filters are walked through and the
    // answer is the BASE table's footer min/max — but only when every
    // row group proves a zero null count (one null ⇒ None, so the
    // caller's exact census keeps the loud null-ts error path).
    val bare = ParquetFooterStats.minMaxNsNoNulls(events, "ts")
    assert(bare.nonEmpty)
    assert(ParquetFooterStats.minMaxNsNoNulls(
      events.filter(col("event_type") === "purchase"), "ts") == bare)
    assert(ParquetFooterStats.minMaxNsNoNulls(
      events.filter(col("event_type") === "purchase").select("ts", "user_id"),
      "ts") == bare)
    // a column with nulls must refuse even though min/max stats exist
    val tmp = java.nio.file.Files.createTempDirectory("graft-footer-").toString
    spark.range(100)
      .select(col("id"), when(col("id") % 10 =!= 0, col("id")).as("maybe"))
      .write.mode("overwrite").parquet(tmp)
    val withNulls = spark.read.parquet(tmp)
    assert(ParquetFooterStats.minMaxNsNoNulls(withNulls, "maybe").isEmpty)
    assert(ParquetFooterStats.minMaxNsNoNulls(withNulls, "id").nonEmpty)
    // non-parquet input still refuses
    assert(ParquetFooterStats.minMaxNsNoNulls(
      Seq((1L, 2L)).toDF("ts", "v"), "ts").isEmpty)
  }

  test("footer row count equals count(*) on a bare scan; guarded shapes refuse") {
    assert(ParquetFooterStats.rowCount(events).contains(events.count()))
    assert(ParquetFooterStats.rowCount(events.select("ts", "value"))
      .contains(events.count()))
    // filters and non-parquet sources must fall back to the aggregate
    assert(ParquetFooterStats.rowCount(
      events.filter(col("value") > 0)).isEmpty)
    assert(ParquetFooterStats.rowCount(Seq((1L, 2L)).toDF("a", "b")).isEmpty)
  }

  test("an interrupt while reading footers propagates instead of falling back") {
    // A swallowed interrupt would turn a thread that was asked to stop
    // into one that quietly runs the fallback aggregate job
    val scan = spark.read.parquet(s"$sf/events.parquet") // lists files before the hook
    val keys = Seq("fs.file.impl", "fs.file.impl.disable.cache")
    spark.conf.set("fs.file.impl", classOf[InterruptingFs].getName)
    spark.conf.set("fs.file.impl.disable.cache", "true")
    try {
      intercept[InterruptedException](ParquetFooterStats.rowCount(scan))
      intercept[InterruptedException](ParquetFooterStats.minMaxLong(scan, "ts"))
    } finally keys.foreach(spark.conf.unset)
    // the restored filesystem reads the footers again
    assert(ParquetFooterStats.rowCount(scan).contains(events.count()))
  }

  test("resample origins agree between the footer path and the aggregate path") {
    // bare scan → footer anchor; filtered frame → aggregate anchor. The
    // filter keeps every row, so both must produce identical buckets.
    val aggs = Seq(("v_sum", "value", "sum"), ("n", "value", "count"))
    for (origin <- Seq(Resample.Start, Resample.StartDay, Resample.End, Resample.EndDay)) {
      val viaFooter = QueryBuilder()
        .resample("ts", "7h", aggs, origin = origin)(events)
        .orderBy("ts").collect().toSeq
      val viaAgg = QueryBuilder()
        .resample("ts", "7h", aggs, origin = origin)(
          events.filter(col("event_id") > Long.MinValue))
        .orderBy("ts").collect().toSeq
      assert(viaFooter == viaAgg, s"origin $origin diverged")
    }
  }
}

/** A local filesystem whose every status lookup is interrupted. */
class InterruptingFs extends org.apache.hadoop.fs.LocalFileSystem {
  override def getFileStatus(p: org.apache.hadoop.fs.Path): org.apache.hadoop.fs.FileStatus =
    throw new InterruptedException(s"interrupted reading $p")
}
