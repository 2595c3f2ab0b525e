package org.apache.spark.sql.graftbridge

import java.io.FileNotFoundException

import scala.collection.mutable

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex, PartitionSpec}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** A parquet scan over an explicit file list whose statuses are already
  * known, so Spark plans it without listing storage. Builds the same
  * relation `spark.read.schema(s).parquet(paths: _*)` does — a
  * [[HadoopFsRelation]] over an [[InMemoryFileIndex]], parquet format, no
  * partition columns, `schema.asNullable` — but hands the index a per-scan
  * status cache seeded from the caller's (size, mtime) pairs. Paths given
  * without a status are listed by the index exactly as before (one
  * storage round trip each, a Spark job above the parallel-discovery
  * threshold); paths given with one cost no storage call at plan time.
  *
  * A listed path whose file is gone fails here; a seeded one fails when
  * the scan runs. Neither is ever skipped.
  */
object ManifestScan {

  /** `files`: (path, Some((bytes, mtimeMs))) for a known status, None to
    * list it.
    */
  def parquet(
      spark: SparkSession,
      schema: StructType,
      files: Seq[(String, Option[(Long, Long)])]): DataFrame = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val cache = new SeededStatusCache
    val roots = files.map { case (p, status) =>
      val raw = new Path(p)
      val path = raw.getFileSystem(hconf).makeQualified(raw)
      for ((bytes, mtimeMs) <- status)
        cache.putLeafFiles(path, Array(new FileStatus(bytes, false, 0, 0L, mtimeMs, path)))
      path
    }
    val index = new InMemoryFileIndex(spark, roots, Map.empty, Some(schema), cache,
      Some(PartitionSpec.emptySpec))
    // The index drops a root its listing cannot find without a word (it
    // tolerates vanished table dirs); a file the manifest names must not
    // be, or the read would silently come back short.
    if (files.exists(_._2.isEmpty)) {
      val found = index.allFiles().iterator.map(_.getPath).toSet
      roots.find(p => !found(p)).foreach { p =>
        throw new FileNotFoundException(s"data file $p named by the manifest does not exist")
      }
    }
    spark.baseRelationToDataFrame(
      HadoopFsRelation(index, new StructType(), schema.asNullable, None,
        new ParquetFileFormat, Map.empty)(spark))
  }

  /** Path → leaf statuses for one scan; lives and dies with its index. */
  private final class SeededStatusCache extends FileStatusCache {
    private val entries = mutable.HashMap.empty[Path, Array[FileStatus]]
    override def getLeafFiles(path: Path): Option[Array[FileStatus]] =
      synchronized(entries.get(path))
    override def putLeafFiles(path: Path, leafFiles: Array[FileStatus]): Unit =
      synchronized(entries(path) = leafFiles)
    override def invalidateAll(): Unit = synchronized(entries.clear())
  }
}
