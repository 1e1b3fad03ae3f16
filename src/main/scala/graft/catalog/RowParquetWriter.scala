package graft.catalog

import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.LocalOutputFile
import org.apache.spark.TaskContext
import org.apache.spark.sql.catalyst.{InternalRow, ProjectingInternalRow}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, Literal, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** Single-file parquet writer for [[InternalRow]]s — the one writer
  * every graft data file goes through, in a task or on the driver:
  * every staged commit (append, replace, compaction, upsert, cdc,
  * delete files, branch appends — [[RowParquetWriter.StageTask]]) and
  * the DSv2 row-level `BatchWrite`s. Delegates encoding to Spark's OWN
  * `ParquetWriteSupport`, so files are byte-compatible with what
  * `df.write.parquet` produces — with timestamps pinned to INT64 micros
  * (the Iceberg spec's physical type, so every file is exportable
  * without rewrite) independent of any session conf.
  *
  * While writing it records, at zero extra IO, exactly the per-file
  * metadata the catalog's manifests carry: row count plus min/max
  * bounds for every prunable column (same type set as
  * `GraftCatalog.prunableType`; compared in Spark's SQL order,
  * stringified through the same Catalyst `Cast` as the re-read job
  * `GraftCatalog.stagedFileStats` uses for files graft did not write,
  * and string bounds cut to 16 code points by the same
  * `GraftCatalog.stringBounds`, so both producers record identical
  * bounds).
  *
  * Files are created through java.nio (Parquet's `LocalOutputFile`,
  * buffered, `CREATE_NEW`), not a Hadoop `FileSystem`: every table
  * path is a local path under the catalog's warehouse, and Hadoop's
  * `LocalFileSystem` without its native library starts two `chmod`
  * processes per file (the file and its `.crc` sidecar), about 6.6 ms
  * a file against 0.45 ms through java.nio. No sidecar is written; a
  * Hadoop read of a file without one skips checksum verification.
  *
  * Rows may be WIDER than `schema`: the fields after it carry values
  * the commit records but never writes — first one value per `derived`
  * stat (min/max recorded under its key, e.g. a partition's bucket),
  * then one array of Bloom bit positions per `blooms` record key. Only
  * the first `schema.length` fields reach the file. */
private[graft] final class RowParquetWriter(absPath: String,
                                            schema: StructType,
                                            conf: Configuration,
                                            derived: Seq[(String, DataType)] = Nil,
                                            blooms: Seq[String] = Nil) {

  private val file = Paths.get(absPath)

  private val writer: ParquetWriter[InternalRow] = {
    val c = new Configuration(conf)
    ParquetWriteSupport.setSchema(schema, c)
    // ParquetWriteSupport.init asserts these are present (the file-write
    // path normally inherits them from the session conf via the hadoop
    // conf); values follow the catalog's write convention, NOT whatever
    // the current session happens to have — data files must stay
    // uniform (INT64 micros, no legacy layout, proleptic calendar)
    c.set("spark.sql.parquet.writeLegacyFormat", "false")
    c.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    c.set("spark.sql.parquet.datetimeRebaseModeInWrite", "CORRECTED")
    c.set("spark.sql.parquet.int96RebaseModeInWrite", "CORRECTED")
    c.set("spark.sql.parquet.fieldId.write.enabled", "true")
    c.set("spark.sql.parquet.variant.annotateLogicalType.enabled", "false")
    Files.createDirectories(file.getParent)
    new RowParquetWriter.Builder(new LocalOutputFile(file))
      .withConf(c)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .build()
  }

  private val nData = schema.length
  private var rows = 0L
  // (row ordinal, type, manifest stat key) per tracked bound: prunable
  // data fields, then the derived values
  private val statCols: Array[(Int, DataType, String)] =
    (schema.fields.toSeq.zipWithIndex.collect {
      case (f, i) if GraftCatalog.prunableType(f.dataType) => (i, f.dataType, f.name)
    } ++ derived.zipWithIndex.map { case ((k, dt), j) => (nData + j, dt, k) }).toArray
  private val orders: Array[(Any, Any) => Int] =
    statCols.map { case (_, dt, _) => RowParquetWriter.sqlOrder(dt) }
  // min/max tracked as CATALYST values
  private val mins = new Array[Any](statCols.length)
  private val maxs = new Array[Any](statCols.length)
  private val bloomBase = nData + derived.size
  private val bloomBits = blooms.map(_ => new Array[Byte](GraftCatalog.BloomBits / 8)).toArray
  // the file sees only the data fields of a wider row
  private val view = ProjectingInternalRow(schema, 0 until nData)

  // UnsafeRow getters return views into reused task buffers — a
  // RETAINED value must be copied or later rows corrupt the bound
  private def retained(v: Any): Any = v match {
    case s: UTF8String => s.clone()
    case d: Decimal => Decimal(d.toJavaBigDecimal)
    case other => other
  }

  def write(row: InternalRow): Unit = {
    var j = 0
    while (j < statCols.length) {
      val (i, dt, _) = statCols(j)
      if (!row.isNullAt(i)) {
        val v = row.get(i, dt)
        // ties keep the first value seen, like Spark's min/max (it
        // matters for -0.0 vs 0.0, which SQL order calls equal)
        if (mins(j) == null || orders(j)(v, mins(j)) < 0) mins(j) = retained(v)
        if (maxs(j) == null || orders(j)(v, maxs(j)) > 0) maxs(j) = retained(v)
      }
      j += 1
    }
    var b = 0
    while (b < bloomBits.length) {
      val bits = bloomBits(b)
      val pos = row.getArray(bloomBase + b)
      var k = 0
      while (k < pos.numElements()) {
        val p = pos.getInt(k)
        bits(p >> 3) = (bits(p >> 3) | (1 << (p & 7))).toByte
        k += 1
      }
      b += 1
    }
    rows += 1
    if (row.numFields == nData) writer.write(row)
    else { view.project(row); writer.write(view) }
  }

  /** Close and return the file's account: size, row count, manifest
    * stats incl. the reserved `__rows` count, and the base64 Bloom
    * bitsets. All-null columns record no bound and a zero-row file no
    * bloom — exactly the re-read job's behavior. */
  def close(): RowParquetWriter.Written = {
    writer.close()
    val size = Files.size(file)
    def str(v: Any, dt: DataType): String = dt match {
      // timestamps record tz-stable epoch MICROS — the catalyst value
      // itself — matching the re-read job's unix_micros form
      case TimestampType => v.toString
      case _ => Cast(Literal(v, dt), StringType, Some("UTC")).eval(null).toString
    }
    val bounds = statCols.zipWithIndex.flatMap { case ((i, dt, key), j) =>
      if (mins(j) == null) None
      else if (dt == StringType && i < nData)
        GraftCatalog.stringBounds(str(mins(j), dt), str(maxs(j), dt)).map(key -> _)
      else Some(key -> ((str(mins(j), dt), str(maxs(j), dt))))
    }.toMap
    val bloomMap =
      if (rows == 0) Map.empty[String, String]
      else blooms.zip(bloomBits).map { case (k, bits) =>
        k -> java.util.Base64.getEncoder.encodeToString(bits) }.toMap
    RowParquetWriter.Written(size, rows,
      bounds + (GraftCatalog.RowsStatKey -> ((rows.toString, rows.toString))),
      bloomMap)
  }

  def abort(): Unit = {
    try writer.close() catch { case _: Exception => () }
    try Files.deleteIfExists(file): Unit catch { case _: Exception => () }
  }
}

private[graft] object RowParquetWriter {
  /** One closed file's account (see [[RowParquetWriter.close]]). */
  final case class Written(size: Long, rows: Long,
                           stats: Map[String, (String, String)],
                           blooms: Map[String, String])

  /** Spark's SQL ordering for one stat type: doubles/floats order
    * -0.0 == 0.0 and NaN above everything (what min/max aggregates
    * use); every other prunable catalyst value is Comparable in the
    * same order (boxed numerics, UTF8String, Boolean, Decimal, Int
    * days, Long micros). */
  private def sqlOrder(dt: DataType): (Any, Any) => Int = dt match {
    case DoubleType => (a, b) =>
      SQLOrderingUtil.compareDoubles(a.asInstanceOf[Double], b.asInstanceOf[Double])
    case FloatType => (a, b) =>
      SQLOrderingUtil.compareFloats(a.asInstanceOf[Float], b.asInstanceOf[Float])
    case _ => (a, b) => a.asInstanceOf[Comparable[Any]].compareTo(b)
  }

  /** The writer side of `GraftCatalog`'s staging: writes rows as
    * `tableDirAbs/<opPrefix>-<part>.parquet` (`GraftCatalog.opPrefix`)
    * and returns each file's (table-relative path, [[Written]]). [[run]]
    * is the task body of the one staging job
    * (an empty partition writes nothing; file names carry the task
    * attempt id, so a retried attempt never collides with a failed
    * one's leftovers); [[writeLocal]] is the same code on the driver for
    * a driver-local batch, and always lands one file, even a zero-row
    * one.
    *
    * Row layout (`rowSchemaJson`): the `nData` data fields, one value
    * per `derived` key, one Bloom position array per `blooms` key, then
    * `nAlign` partition-tuple values. With `nAlign > 0` the rows arrive
    * sorted by those values and a new file starts at every tuple
    * boundary, so each file holds exactly ONE partition tuple. */
  final class StageTask(tableDirAbs: String,
                        opPrefix: String,
                        rowSchemaJson: String,
                        nData: Int,
                        derivedKeys: Seq[String],
                        blooms: Seq[String],
                        nAlign: Int,
                        conf: SerializableConfiguration) extends Serializable {

    def run(ctx: TaskContext, it: Iterator[InternalRow]): Seq[(String, Written)] =
      if (!it.hasNext) Nil
      else write(s"part-${ctx.partitionId()}-${ctx.taskAttemptId()}", it)

    def writeLocal(rows: Iterator[InternalRow]): Seq[(String, Written)] =
      write("part-local", rows, atLeastOne = true)

    private def write(prefix: String, it: Iterator[InternalRow],
                      atLeastOne: Boolean = false): Seq[(String, Written)] = {
      val rowSchema = DataType.fromJson(rowSchemaJson).asInstanceOf[StructType]
      val dataSchema = StructType(rowSchema.fields.take(nData))
      val derived = derivedKeys.zip(
        rowSchema.fields.slice(nData, nData + derivedKeys.size).map(_.dataType))
      val alignFrom = rowSchema.length - nAlign
      val tupleOf: UnsafeProjection =
        if (nAlign == 0) null
        else UnsafeProjection.create(rowSchema.fields.toSeq.zipWithIndex.drop(alignFrom)
          .map { case (f, i) => BoundReference(i, f.dataType, f.nullable) })
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, Written)]
      var w: RowParquetWriter = null
      var rel: String = null
      var tuple: UnsafeRow = null
      def open(): Unit = {
        rel = s"$opPrefix-$prefix-${out.size}.parquet"
        w = new RowParquetWriter(s"$tableDirAbs/$rel", dataSchema, conf.value, derived, blooms)
      }
      def finish(): Unit = { out += rel -> w.close(); w = null }
      try {
        while (it.hasNext) {
          val row = it.next()
          if (tupleOf != null) {
            val t = tupleOf(row)
            if (tuple == null || t != tuple) {
              if (w != null) finish()
              tuple = t.copy()
            }
          }
          if (w == null) open()
          w.write(row)
        }
        if (w == null && out.isEmpty && atLeastOne) open()
        if (w != null) finish()
        out.toSeq
      } catch { case e: Throwable =>
        if (w != null) w.abort()
        // this attempt's finished files are referenced by no result
        out.foreach { case (r, _) =>
          try Files.deleteIfExists(Paths.get(tableDirAbs, r)): Unit
          catch { case _: Exception => () }
        }
        throw e
      }
    }
  }

  private final class Builder(file: org.apache.parquet.io.OutputFile)
      extends ParquetWriter.Builder[InternalRow, Builder](file) {
    override def self(): Builder = this
    override def getWriteSupport(conf: Configuration): WriteSupport[InternalRow] =
      new ParquetWriteSupport
  }
}
