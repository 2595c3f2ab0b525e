package graft.core

import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, SubqueryAlias}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.LongType

import scala.util.control.NonFatal

/** Driver-side min/max of an int64 parquet column read from file FOOTERS
  * instead of a data scan.
  *
  * Resample's data-derived origins (start/start_day/end/end_day) need one
  * global min or max of the ts column. The generic path computes it as a
  * 1-row aggregate broadcast onto the frame — correct anywhere, but it
  * costs a second full pass over the input. When the frame is a bare
  * (possibly column-pruned) parquet scan with no filters, the same number
  * is already sitting in every file's footer statistics: reading those is
  * O(files) driver work — at 100 TB that is the difference between a
  * metadata round-trip and a full extra scan. Same trick the engine's own
  * manifest column stats play for filter pruning (core/StatsPruner.scala),
  * applied to the origin anchor.
  *
  * Returns None (caller falls back to the aggregate) unless every check
  * holds: plan is Relation/Project-of-attributes only (any Filter, join or
  * computed projection invalidates footer totals), the column is a
  * top-level INT64/LongType (the engine's ns-since-epoch index type), and
  * every row group carries non-empty statistics for it. Row groups whose
  * values are all null contribute nothing (footer min/max ignore nulls,
  * exactly like the min/max aggregate they replace).
  */
object ParquetFooterStats {

  private val MaxFooterFiles = 10000

  /** Type-aware variant: min/max in the engine's canonical epoch-ns unit.
    * LongType columns ARE ns; timestamp columns carry INT64 footer stats
    * whose unit comes from the parquet logical-type annotation
    * (MICROS/MILLIS/NANOS → ×1000 / ×1e6 / ×1).
    */
  def minMaxNs(df: DataFrame, colName: String): Option[(Long, Long)] = {
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    df.schema.find(_.name == colName).map(_.dataType) match {
      case Some(LongType) => minMaxLong(df, colName)
      case Some(TimestampType | TimestampNTZType) => minMaxLong(df, colName)
      case _ => None
    }
  }

  /** SUPERSET bounds through Filters, with a PROVEN-no-nulls guarantee —
    * for consumers that need any covering [lo, hi] of a possibly-filtered
    * scan plus certainty that no null can survive the filters
    * (AsOfJoin.asofJoinChunked: chunk boundaries may be any covering
    * range, its null-ts check must never pass a null silently). Unlike
    * [[minMaxNs]], Filter nodes are allowed (footer min/max of the BASE
    * table bound every filtered subset), but every row group must carry
    * an explicit zero null count for the column — one null anywhere and
    * the caller falls back to the exact aggregate job, whose census
    * raises the loud error if nulls survive its filters.
    */
  def minMaxNsNoNulls(df: DataFrame, colName: String): Option[(Long, Long)] = {
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    df.schema.find(_.name == colName).map(_.dataType) match {
      case Some(LongType | TimestampType | TimestampNTZType) =>
        minMaxLongImpl(df, colName, throughFilters = true, requireNoNulls = true)
      case _ => None
    }
  }

  /** Nanoseconds per unit of an INT64 column's footer values: the unit of
    * its TIMESTAMP(unit) logical-type annotation, or 1 for a raw INT64
    * (the engine's ns). The one place a footer's time unit is read — the
    * manifest's index bounds (Library's footer stats) decode through it
    * too, whatever `spark.sql.parquet.outputTimestampType` wrote the file.
    */
  def nsPerUnit(t: PrimitiveType): Long = t.getLogicalTypeAnnotation match {
    case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
      ts.getUnit match {
        case LogicalTypeAnnotation.TimeUnit.MICROS => 1000L
        case LogicalTypeAnnotation.TimeUnit.MILLIS => 1000000L
        case _ => 1L // NANOS
      }
    case _ => 1L
  }

  def minMaxLong(df: DataFrame, colName: String): Option[(Long, Long)] =
    minMaxLongImpl(df, colName, throughFilters = false, requireNoNulls = false)

  /** Exact row count of a BARE parquet scan from footer block metadata —
    * zero jobs. Parquet readers themselves trust these counts (a wrong
    * one would mis-read the file), so this equals count(*). Any filter,
    * computed projection or non-parquet source returns None (caller runs
    * the aggregate). At corpus scale this deletes a full count pass.
    * An unreadable footer returns None too; an interrupt or a fatal
    * error propagates.
    */
  def rowCount(df: DataFrame): Option[Long] =
    try {
      val rel = bareRelation(df.queryExecution.analyzed).getOrElse(return None)
      val files = rel.location.inputFiles
      if (files.isEmpty || files.length > MaxFooterFiles) return None
      val conf = df.sparkSession.sessionState.newHadoopConf()
      var total = 0L
      files.foreach { f =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromPath(new org.apache.hadoop.fs.Path(f), conf)
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try {
          val it = reader.getFooter.getBlocks.iterator()
          while (it.hasNext) total += it.next().getRowCount
        } finally reader.close()
      }
      Some(total)
    } catch { case NonFatal(_) => None }

  private def minMaxLongImpl(
      df: DataFrame, colName: String,
      throughFilters: Boolean, requireNoNulls: Boolean): Option[(Long, Long)] =
    try {
      import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
      val rel = (if (throughFilters) relationThroughFilters(df.queryExecution.analyzed)
        else bareRelation(df.queryExecution.analyzed)).getOrElse(return None)
      val okType = df.schema.find(_.name == colName).map(_.dataType) match {
        case Some(LongType | TimestampType | TimestampNTZType) => true
        case _ => false
      }
      if (!okType) return None
      val files = rel.location.inputFiles
      if (files.isEmpty || files.length > MaxFooterFiles) return None
      val conf = df.sparkSession.sessionState.newHadoopConf()
      var mn = Long.MaxValue
      var mx = Long.MinValue
      var any = false
      files.foreach { f =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromPath(new org.apache.hadoop.fs.Path(f), conf)
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try {
          val footer = reader.getFooter
          val it = footer.getBlocks.iterator()
          while (it.hasNext) {
            val block = it.next()
            val cit = block.getColumns.iterator()
            var found = false
            while (cit.hasNext) {
              val chunk = cit.next()
              if (chunk.getPath.toDotString == colName) {
                found = true
                if (chunk.getPrimitiveType.getPrimitiveTypeName !=
                  PrimitiveType.PrimitiveTypeName.INT64)
                  return None
                val toNs = nsPerUnit(chunk.getPrimitiveType)
                val st = chunk.getStatistics
                if (st == null || st.isEmpty) return None
                if (requireNoNulls && !(st.isNumNullsSet && st.getNumNulls == 0))
                  return None
                if (st.hasNonNullValue) {
                  val lo = st.genericGetMin.asInstanceOf[java.lang.Long].longValue() * toNs
                  val hi = st.genericGetMax.asInstanceOf[java.lang.Long].longValue() * toNs
                  if (lo < mn) mn = lo
                  if (hi > mx) mx = hi
                  any = true
                } else if (st.getNumNulls < block.getRowCount) {
                  // values exist but no min/max recorded — cannot trust
                  return None
                }
              }
            }
            if (!found) return None
          }
        } finally reader.close()
      }
      if (any) Some((mn, mx)) else None
    } catch { case NonFatal(_) => None }

  /** The HadoopFsRelation under nothing but aliases and prune-only
    * projections (plain attribute lists — no filters, no computed
    * columns).
    */
  private def bareRelation(p: LogicalPlan): Option[HadoopFsRelation] = p match {
    case l: LogicalRelation => l.relation match {
      case h: HadoopFsRelation
        if h.fileFormat.isInstanceOf[
          org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat] =>
        Some(h)
      case _ => None
    }
    case Project(projList, child) if projList.forall(_.isInstanceOf[AttributeReference]) =>
      bareRelation(child)
    case SubqueryAlias(_, child) => bareRelation(child)
    case _ => None
  }

  /** [[bareRelation]] that additionally walks through Filter nodes — only
    * valid for consumers that accept SUPERSET bounds (the base table's
    * footer min/max cover every filtered subset).
    */
  private def relationThroughFilters(p: LogicalPlan): Option[HadoopFsRelation] =
    p match {
      case org.apache.spark.sql.catalyst.plans.logical.Filter(_, child) =>
        relationThroughFilters(child)
      case Project(projList, child)
          if projList.forall(_.isInstanceOf[AttributeReference]) =>
        relationThroughFilters(child)
      case SubqueryAlias(_, child) => relationThroughFilters(child)
      case l: LogicalRelation => bareRelation(l)
      case _ => None
    }
}
