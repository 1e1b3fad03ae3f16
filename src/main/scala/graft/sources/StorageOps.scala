package graft.sources

import java.nio.file.{Files, StandardCopyOption}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, FileUtil, LocalFileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Storage operators (SURVEY §2.2, S1-S11) over Hadoop FileSystem — the
  * same API that fronts S3/HDFS/local on a real cluster — except where a
  * file copy has both ends on the local file system: that copy goes
  * through java.nio ([[copyFile]]), since Hadoop's local file system
  * starts `chmod` processes for every file it creates.
  *
  * Single-file ops are driver-side conveniences; the operators that matter
  * at 100 TB are the table-valued ones:
  *  - `listing` turns a storage prefix into a DataFrame (path/size/mtime)
  *    so existence checks become anti-joins instead of per-file HEADs
  *    (the reference's inventory pattern, G7). The driver walks the
  *    tree; a directory with more subdirectories than Spark's
  *    parallel-discovery threshold hands them to executor tasks, one
  *    prefix each, so a tree narrow at every level is a local frame;
  *  - `distributedCopy` fans a file manifest out over executors with
  *    foreachPartition — per-partition FileSystem clients, no driver
  *    bottleneck (Y12's foreachPar, Spark-shaped). Idempotent: an
  *    exists-guard skips files already at the destination;
  *  - `localCopyVerify` is the same per-file copy ([[copyFile]]) run on
  *    the driver's pool, for a manifest whose bytes are metadata-scale —
  *    the caller's byte rule picks the side, so a bulk copy never reaches
  *    the driver.
  */
object StorageOps {

  private def fs(path: String, conf: Configuration): FileSystem =
    new HPath(path).getFileSystem(conf)

  // ---- S1/S2/S3/S7/S9: single-file ops ----

  def writeFile(path: String, bytes: Array[Byte], conf: Configuration = new Configuration()): Unit = {
    val out = fs(path, conf).create(new HPath(path), true)
    try out.write(bytes) finally out.close()
  }

  def readFile(path: String, conf: Configuration = new Configuration()): Array[Byte] = {
    val f = fs(path, conf)
    val len = f.getFileStatus(new HPath(path)).getLen
    require(len <= Int.MaxValue,
      s"readFile is a driver-side convenience capped at 2 GiB; $path is $len bytes")
    val in = f.open(new HPath(path))
    try {
      val buf = new Array[Byte](len.toInt)
      in.readFully(buf); buf
    } finally in.close()
  }

  def fileExists(path: String, conf: Configuration = new Configuration()): Boolean =
    fs(path, conf).exists(new HPath(path))

  def deleteFile(path: String, conf: Configuration = new Configuration()): Boolean =
    fs(path, conf).delete(new HPath(path), false)

  def stat(path: String, conf: Configuration = new Configuration()): Option[(Long, Long)] = {
    val f = fs(path, conf)
    val p = new HPath(path)
    if (f.exists(p)) { val st = f.getFileStatus(p); Some((st.getLen, st.getModificationTime)) }
    else None
  }

  // ---- S4/S9/S11: listings as DataFrames ----

  /** Recursive listing of a prefix as (path, size_bytes, mtime_ms). The
    * driver walks the tree one `listStatus` page per directory, and at
    * each directory applies the rule Spark's file index applies at every
    * level (`HadoopFSUtils`, threshold
    * `spark.sql.sources.parallelPartitionDiscovery.threshold`):
    *  - at most that many subdirectories: the DRIVER walks each of them
    *    the same way;
    *  - more: each of them becomes a prefix listed recursively by an
    *    EXECUTOR task (the S3-inventory prefix fan-out), one task per
    *    prefix, and its rows flow straight into the downstream join.
    * A tree no level of which is wider than the threshold is therefore a
    * driver-local frame (`LocalRelation`) — no job, and the GC diff over
    * it folds on the driver too ([[graft.plans.FoldLocalRelations]]).
    * A graft table's `data/` is such a tree whatever its commit count:
    * every commit stages its files flat in it, with no subdirectory.
    * Like Spark's file index, the driver holds the files of the
    * directories it walks itself; the fan-out bounds the directories it
    * visits, not the files in one of them.
    *
    * Both sides run the same walk ([[listTree]]) and emit the same rows:
    * fully qualified paths, root-level files included, and names starting
    * with `_` or `.` kept — Spark's own file listing hides those, and they
    * are exactly the `_tmp/`, `_staging/` and `._tmp_` orphans a GC sweep
    * must find. A directory that is gone by the time it is listed — a
    * missing root, the per-commit staging directory of a table staged
    * before the flat layout, which an expiry removed between the
    * driver's walk and a task — holds no files. */
  def listing(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    val rows = Vector.newBuilder[(String, Long, Long)]
    val wide = Vector.newBuilder[String]
    val rootPath = new HPath(root)
    listTree(rootPath.getFileSystem(conf), rootPath, rows,
      Some((spark.sessionState.conf.parallelPartitionDiscoveryThreshold, wide)))
    val local = rows.result().toDF("path", "size_bytes", "mtime_ms")
    val prefixes = wide.result()
    if (prefixes.isEmpty) return local
    val confSer = new org.apache.spark.util.SerializableConfiguration(conf)
    val fannedOut = spark.sparkContext
      .parallelize(prefixes, prefixes.size) // one prefix per task: listings run in parallel
      .flatMap { prefix =>
        val p = new HPath(prefix)
        val out = Vector.newBuilder[(String, Long, Long)]
        listTree(p.getFileSystem(confSer.value), p, out, None)
        out.result()
      }
    local.union(fannedOut.toDF("path", "size_bytes", "mtime_ms"))
  }

  /** Every file under `dir`, recursively, by one `listStatus` page per
    * directory. A row needs only a file's length and mtime; `listFiles`
    * builds a `LocatedFileStatus` per file (block locations, owner,
    * permission), which on the local file system costs about 3 ms a file
    * against 0.04 ms for `listStatus` (25 one-file prefixes: 80 ms
    * against 1.1 ms a listing). With `fanOut = Some((threshold, wide))`,
    * the subdirectories of a directory that has more than `threshold` of
    * them go to `wide` unlisted instead (an executor task lists each);
    * with `None` every subdirectory is walked here. Paths are emitted
    * FULLY QUALIFIED (scheme + authority): a bare key made two buckets
    * indistinguishable, broke every anti-join against manifest URIs, and
    * resolves against the DEFAULT fs when handed to a FileSystem client.
    * A directory that vanished before its page was read holds no files. */
  private def listTree(f: FileSystem, dir: HPath,
                       out: collection.mutable.Growable[(String, Long, Long)],
                       fanOut: Option[(Int, collection.mutable.Growable[String])]): Unit = {
    val children =
      try f.listStatus(dir)
      catch { case _: java.io.FileNotFoundException => Array.empty[FileStatus] }
    children.foreach { st =>
      if (st.isFile) out += ((st.getPath.toString, st.getLen, st.getModificationTime))
    }
    val dirs = children.filter(_.isDirectory)
    fanOut match {
      case Some((threshold, wide)) if dirs.length > threshold =>
        dirs.foreach(d => wide += d.getPath.toString)
      case _ => dirs.foreach(d => listTree(f, d.getPath, out, fanOut))
    }
  }

  /** S11: storage stats in one aggregate. */
  def storageStats(spark: SparkSession, root: String): DataFrame =
    listing(spark, root).agg(
      count(lit(1)).as("file_cnt"),
      coalesce(sum(col("size_bytes")), lit(0L)).as("total_bytes"))

  // ---- S5/S6 + Y12: distributed manifest copy ----

  /** Copy every (srcPathCol, dstPathCol) row of `manifest` using executor-
    * side FileSystem clients. Returns copied count. Exists-guarded
    * (idempotent re-runs, reference SyncOrchestrator.scala:114-118).
    *
    * `tolerant = true` turns a per-file failure (e.g. vanished source)
    * into a skip instead of failing the whole job — callers that batch
    * many logical events into one manifest derive per-event success from
    * [[copyVerifyProbe]] afterwards. */
  def distributedCopy(manifest: DataFrame, srcPathCol: String = "src_path",
                      dstPathCol: String = "dst_path", tolerant: Boolean = false): Long =
    distributedCopyStats(manifest, srcPathCol, dstPathCol, tolerant)._1

  /** [[distributedCopy]] with (filesCopied, bytesCopied) accounting (E3 /
    * S6 progress metrics come from these accumulators). */
  def distributedCopyStats(manifest: DataFrame, srcPathCol: String = "src_path",
                           dstPathCol: String = "dst_path",
                           tolerant: Boolean = false): (Long, Long) = {
    val spark = manifest.sparkSession
    val confSer = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val copied = spark.sparkContext.longAccumulator("files_copied")
    val bytes = spark.sparkContext.longAccumulator("bytes_copied")
    manifest.select(col(srcPathCol), col(dstPathCol)).foreachPartition {
      rows: Iterator[org.apache.spark.sql.Row] =>
        val conf = confSer.value
        rows.foreach { r =>
          try {
            val c = copyFile(new HPath(r.getString(0)), new HPath(r.getString(1)), conf)
            if (c.copied) { copied.add(1); bytes.add(c.srcLen) }
          } catch { case e: Exception => if (!tolerant) throw e }
        }
    }
    (copied.value, bytes.value)
  }

  /** What one exists-guarded file copy did: whether it wrote the file,
    * and the source's and the destination's length after it. */
  private final case class FileCopy(copied: Boolean, srcLen: Long, dstLen: Long)

  /** Copy `src` to `dst` unless `dst` already holds src's length — the
    * per-file body every copy path shares. The bytes go to a temp
    * sibling that is then renamed onto `dst`, so `dst` is either absent
    * or COMPLETE, never a partial file another worker's exists-guard
    * would wrongly trust. When both ends are on a `LocalFileSystem` the
    * copy and the rename go through java.nio (`Files.copy`, an atomic
    * move): Hadoop's local file system without its native library starts
    * two `chmod` processes for each file it creates (the file and its
    * `.crc` sidecar). Any other file system copies through Hadoop. */
  private def copyFile(src: HPath, dst: HPath, conf: Configuration): FileCopy = {
    val dstFs = dst.getFileSystem(conf)
    val srcFs = src.getFileSystem(conf)
    // the exists-guard also re-copies a SIZE-MISMATCHED dst: a crash
    // mid-copy used to leave a truncated dst that the guard then
    // treated as done — permanent silent corruption. The delete goes
    // through Hadoop, so a stale `.crc` sidecar goes with it: a
    // sidecar-less copy beside it would fail checksum verification
    val srcLen = srcFs.getFileStatus(src).getLen
    val stale = dstFs.exists(dst) && dstFs.getFileStatus(dst).getLen != srcLen
    if (stale) dstFs.delete(dst, false)
    val tmpName = s"._tmp_${dst.getName}.${java.util.UUID.randomUUID()}"
    val renamed = (stale || !dstFs.exists(dst)) && ((srcFs, dstFs) match {
      case (s: LocalFileSystem, d: LocalFileSystem) =>
        val to = d.pathToFile(dst).toPath
        val tmp = to.resolveSibling(tmpName)
        Files.createDirectories(to.getParent)
        try {
          Files.copy(s.pathToFile(src).toPath, tmp)
          Files.move(tmp, to, StandardCopyOption.ATOMIC_MOVE)
          true
        } finally Files.deleteIfExists(tmp): Unit
      case _ =>
        dstFs.mkdirs(dst.getParent)
        val tmp = new HPath(dst.getParent, tmpName)
        try {
          FileUtil.copy(srcFs, src, dstFs, tmp, false, conf)
          // a lost rename race (speculative task, retry) means the OTHER
          // worker owns the copy — it does not count as copied here
          val ok = dstFs.rename(tmp, dst)
          if (!ok && !dstFs.exists(dst))
            throw new java.io.IOException(s"rename $tmp -> $dst failed")
          ok
        } finally { if (dstFs.exists(tmp)) dstFs.delete(tmp, false): Unit }
    })
    FileCopy(renamed, srcLen, dstFs.getFileStatus(dst).getLen)
  }

  /** The driver form of [[distributedCopyStats]] plus [[copyVerifyProbe]]
    * for a metadata-scale manifest of (key, src, dst) rows: the files copy
    * on the driver's pool, and each row's verdict comes from the lengths
    * its own copy reports — `true` only when dst ends at src's length; a
    * failed copy (vanished source, I/O error) reads `false`, the
    * tolerant contract. Returns (verdict per row, files copied, bytes
    * copied). */
  def localCopyVerify(manifest: Seq[(String, String, String)], conf: Configuration)
      : (Seq[(String, Boolean)], Long, Long) = {
    import scala.collection.parallel.CollectionConverters._
    val outcomes = manifest.par.map { case (key, s, d) =>
      key -> (try Some(copyFile(new HPath(s), new HPath(d), conf))
              catch { case _: Exception => None })
    }.seq
    val copied = outcomes.flatMap(_._2).filter(_.copied)
    (outcomes.map { case (k, c) => k -> c.exists(f => f.dstLen == f.srcLen) },
      copied.size.toLong, copied.map(_.srcLen).sum)
  }

  /** Copy verification: for each manifest row, `ok` = dst exists AND its
    * length equals src's — existence alone would bless a truncated file
    * (see the temp+rename note in [[copyFile]]; this probe is the belt to
    * that suspender, and also catches pre-existing partial files). One
    * distributed pass, two stats per row. */
  def copyVerifyProbe(manifest: DataFrame, srcPathCol: String = "src_path",
                      dstPathCol: String = "dst_path",
                      keyCol: String = "event_id"): DataFrame = {
    val spark = manifest.sparkSession
    import spark.implicits._
    val confSer = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    manifest.select(col(keyCol).cast("string"), col(srcPathCol), col(dstPathCol))
      .as[(String, String, String)]
      .mapPartitions { rows =>
        val conf = confSer.value
        rows.map { case (key, s0, d0) =>
          val d = new HPath(d0)
          val fs = d.getFileSystem(conf)
          val ok = try {
            fs.exists(d) && {
              val s = new HPath(s0)
              s.getFileSystem(conf).getFileStatus(s).getLen == fs.getFileStatus(d).getLen
            }
          } catch { case _: Exception => false }
          (key, d0, ok)
        }
      }.toDF(keyCol, dstPathCol, "ok")
  }
}
