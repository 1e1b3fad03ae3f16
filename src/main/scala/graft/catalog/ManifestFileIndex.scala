package graft.catalog

import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.types.StructType

/** A Spark [[FileIndex]] over a file list the catalog's manifests
  * already hold — Iceberg's scan planning: every file comes from a
  * manifest entry (qualified path, recorded size), so planning a scan
  * probes no path, lists no directory and never starts Spark's
  * parallel listing job, however many files the scan reads.
  *
  * It stands in for the `InMemoryFileIndex` that `spark.read.parquet`
  * builds over the same files and matches it where plans can tell:
  * `inputFiles` and `_metadata.file_path` carry the same qualified URIs,
  * `sizeInBytes` is the sum of the file sizes (broadcast decisions
  * unchanged), there are no partition columns, zero-length files are
  * skipped, and equality is over the file set, so two reads of one
  * version are the same relation (exchange reuse, cached-plan hits).
  * The one difference: a file's modification time is not recorded, so
  * `_metadata.file_modification_time` reads 0. A file that is gone fails
  * the scan when it runs, as a listed-then-deleted file does. */
private[catalog] final class ManifestFileIndex(files: Seq[(HPath, Long)]) extends FileIndex {

  private val fileSet: Set[(HPath, Long)] = files.toSet

  override def rootPaths: Seq[HPath] = files.map(_._1)

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    Seq(PartitionDirectory(InternalRow.empty, files.collect {
      case (p, len) if len > 0 => new FileStatus(len, false, 0, 0L, 0L, p)
    }.toArray))

  override def inputFiles: Array[String] = files.map(_._1.toUri.toString).toArray

  override def refresh(): Unit = ()

  override def sizeInBytes: Long = files.map(_._2).sum

  override def partitionSchema: StructType = new StructType()

  override def equals(other: Any): Boolean = other match {
    case m: ManifestFileIndex => fileSet == m.fileSet
    case _ => false
  }

  override def hashCode(): Int = fileSet.hashCode()
}
