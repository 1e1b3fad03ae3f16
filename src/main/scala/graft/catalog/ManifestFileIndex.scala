package graft.catalog

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.hadoop.mapred.JobConf
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileFormat, FileIndex, PartitionDirectory, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader}
import org.apache.spark.sql.execution.datasources.v2.FileDataSourceV2
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
private[graft] final class ManifestFileIndex(files: Seq[(HPath, Long)]) extends FileIndex {

  private val fileSet: Set[(HPath, Long)] = files.toSet

  override def rootPaths: Seq[HPath] = files.map(_._1)

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    Seq(PartitionDirectory(InternalRow.empty, files.collect {
      case (p, len) if len > 0 => new FileStatus(len, false, 0, 0L, 0L, p)
    }.toArray))

  /** The files a scan reads: every entry with bytes. */
  def readFiles: Seq[FileStatus] = listFiles(Nil, Nil).flatMap(_.files.map(_.fileStatus))

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

private[graft] object ManifestFileIndex {

  /** Read `files` ON THE DRIVER through `format`'s own reader: the one a
    * scan task builds (`buildReaderWithPartitionValues`) for the same
    * data and required schemas, options and session, asked for rows,
    * not batches. Each row goes to `f` before the next is read (the
    * reader reuses one row); each file is read whole and closed before
    * the next opens, and a file that fails to read fails the call with
    * the error a scan task raises for it. No job, no listing. Both driver
    * reads go through it: [[GraftCatalog.localRows]] and the scan input
    * of [[graft.plans.FoldLocalRelations]].
    *
    * A Parquet read of no column (the scan under a bare count) reads only
    * each file's footer and emits one empty row per row the footer's row
    * groups record, as Spark's own Parquet COUNT pushdown does; the rows
    * a scan task returns for it are the same, since no filter is pushed. */
  def readOnDriver(spark: SparkSession, format: FileFormat, dataSchema: StructType,
                   required: StructType, options: Map[String, String],
                   files: Seq[FileStatus])(f: InternalRow => Unit): Unit = {
    val read = reader(spark, format, dataSchema, required, options)
    files.foreach { st =>
      val file = PartitionedFile(InternalRow.empty, SparkPath.fromPath(st.getPath), 0L,
        st.getLen, Array.empty[String], st.getModificationTime, st.getLen)
      // a failed read fails as in a scan task: the error names the file
      try {
        val rows = read(file)
        try rows.foreach(f)
        finally rows match { case c: java.io.Closeable => c.close(); case _ => }
      } catch { case NonFatal(e) => throw FileDataSourceV2.attachFilePath(file.urlEncodedPath, e) }
    }
  }

  private final case class ReaderKey(conf: Map[String, String], format: Class[_],
                                     dataSchema: StructType, required: StructType,
                                     options: Map[String, String])

  private type Reader = PartitionedFile => Iterator[InternalRow]

  // Building a reader broadcasts the Hadoop conf and captures the
  // session's reader settings, so readers are cached per session (held
  // weakly: a reader captures no session, so a dropped session takes
  // its readers and their broadcasts with it) and keyed by its conf;
  // bounded, least recently used first out.
  private val readers = new java.util.WeakHashMap[SparkSession,
      java.util.LinkedHashMap[ReaderKey, Reader]]()

  /** The cached driver reader for one (session conf, format, schemas,
    * options). It is built over a `JobConf`: Spark's per-file
    * `TaskAttemptContextImpl` wraps a `JobConf` as is and copies any other
    * `Configuration` whole, once per file read. Every read of this reader,
    * from any thread, therefore shares that one conf. That is safe
    * because the reader is built with no pushed filters, and Spark's
    * Parquet reader mutates its per-file context conf only to push them
    * (`ParquetInputFormat.setFilterPredicate`); every other use of it is
    * a read. A column-less Parquet read sums footers instead
    * ([[footerRows]]) over the same conf. */
  private def reader(spark: SparkSession, format: FileFormat, dataSchema: StructType,
                     required: StructType, options: Map[String, String]): Reader = {
    val key = ReaderKey(spark.sessionState.conf.getAllConfs, format.getClass,
      dataSchema, required, options)
    val cache = readers.synchronized(readers.computeIfAbsent(spark, _ =>
      new java.util.LinkedHashMap[ReaderKey, Reader](16, 0.75f, true) {
        override def removeEldestEntry(e: java.util.Map.Entry[ReaderKey, Reader]): Boolean =
          size() > 16
      }))
    cache.synchronized(Option(cache.get(key))).getOrElse {
      val conf = new JobConf(spark.sessionState.newHadoopConfWithOptions(options))
      val built: Reader = format match {
        case _: ParquetFileFormat if required.isEmpty => footerRows(conf)
        case _ => format.buildReaderWithPartitionValues(spark, dataSchema, new StructType(),
          required, Nil, options + (FileFormat.OPTION_RETURNING_BATCH -> "false"), conf)
      }
      cache.synchronized(cache.put(key, built))
      built
    }
  }

  /** A column-less Parquet read: the rows of each file's row groups, as
    * many empty rows, from its footer alone (the row groups a whole-file
    * split reads: all of them). */
  private def footerRows(conf: Configuration)(file: PartitionedFile): Iterator[InternalRow] = {
    val footer = ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(
      new FileStatus(file.fileSize, false, 0, 0L, file.modificationTime, file.toPath), conf),
      ParquetFooterReader.buildFilter(conf, file, false))
    var left = footer.getBlocks.asScala.map(_.getRowCount).sum
    new Iterator[InternalRow] {
      def hasNext: Boolean = left > 0
      def next(): InternalRow = { left -= 1; InternalRow.empty }
    }
  }
}
