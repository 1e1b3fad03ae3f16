package graft.catalog

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.UUID
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, InterpretedUnsafeProjection, UnsafeProjection}
import org.apache.spark.sql.catalyst.util.CharVarcharUtils
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.HadoopFsRelation
import org.apache.spark.sql.execution.datasources.json.JsonFileFormat
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetReadSupport, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, BooleanType, ByteType, DataType, DateType, DecimalType, DoubleType, FloatType, IntegerType, LongType, MapType, NumericType, ShortType, StringType, StructField, StructType, TimestampType}

/** Versioned-table catalog over Parquet — the Spark-native reproduction of
  * the reference's catalog/commit surface (SURVEY §2.1: C1-C14).
  *
  * The reference deploys Iceberg+Nessie; this environment ships no Iceberg
  * jars, so graft implements the same *semantics* directly:
  *  - a table = a directory of immutable Parquet data files plus an
  *    append-only JSON commit log (`_meta/vNNNNN.json`), one file per
  *    version — the Iceberg metadata-file pattern;
  *  - the version JSON holds MANIFEST POINTERS ONLY (plus O(1) summary
  *    stats); the file list itself pages into immutable row-based
  *    manifest files under `_meta/manifests/` — the Iceberg
  *    snapshot→manifest indirection (reference `Manifest.java:3`,
  *    `FileRef.java:3-4`). A commit writes ONE manifest holding only the
  *    files it ADDED, so commit cost is O(new files), never O(table), and
  *    the commit log stays metadata-scale no matter how many files the
  *    table accumulates;
  *  - commits are optimistic CAS: the new version file is staged under a
  *    temp name and published with an atomic create-if-absent; a
  *    concurrent commit to the same version loses and retries on a fresh
  *    version number (Iceberg's commit loop, C12);
  *  - each version records the table SCHEMA as JSON (reference
  *    `TableMetadata.scala:15` carries a schema string per version);
  *    commits validate additively — new columns may appear, but dropping
  *    or retyping a column is rejected — and reads apply the recorded
  *    schema, so time travel sees each version's own shape;
  *  - reads resolve a version (latest, by sequence, or by commit id) to
  *    its manifests and hand Spark exactly those files — time travel
  *    (`VERSION AS OF`, C1), incremental diff reads (Y14, a MANIFEST-set
  *    diff — no per-file comparison) and history scans (C9/C11) all fall
  *    out of the log.
  *
  * Scale notes: data files are written by Spark executors (distributed);
  * manifests are consumed two ways — [[filesTable]] serves them as a
  * DataFrame (the `t.files` metadata table feeding
  * SnapshotDiff/GcPlanner/verification joins: a local frame from the
  * manifest cache up to Spark's recommended task size in manifest bytes,
  * a DISTRIBUTED scan past it), while scan planning reads just the scanned version's
  * manifests through a per-manifest immutable cache (the same transient
  * planning read Iceberg's driver does). Manifests are JSON-lines —
  * row-based like Iceberg's Avro manifests, splittable for Spark, and
  * driver-writable in O(commit batch).
  */
final class GraftCatalog(val spark: SparkSession, val warehouse: String) {

  /** One table version. `manifests` are relative paths of the immutable
    * manifest files whose union is the version's file set; `fileCount` /
    * `totalBytes` are O(1) summary stats recorded at commit time.
    * `propsJson` is the version's TBLPROPERTIES map as a JSON object —
    * versioned exactly like the schema (each commit carries the
    * parent's forward; SET/UNSET publish a new metadata-only version,
    * time travel reads each version's own properties). Absent on
    * pre-upgrade logs (reads as empty). */
  case class Snapshot(seq: Long, commitId: String, parentId: Option[String],
                      timestampMs: Long, manifests: Seq[String], sourceRegion: String,
                      fileCount: Long, totalBytes: Long,
                      schemaJson: Option[String] = None,
                      propsJson: Option[String] = None) {
    /** The version's TBLPROPERTIES. */
    def properties: Map[String, String] = propsJson
      .map(j => GraftCatalog.propsMapper.readTree(j).properties().asScala
        .map(e => e.getKey -> e.getValue.asText()).toMap)
      .getOrElse(Map.empty)
  }

  private def tableDir(ns: String, name: String): Path = Paths.get(warehouse, ns, name)
  private def metaDir(ns: String, name: String): Path = tableDir(ns, name).resolve("_meta")
  private def manifestDir(ns: String, name: String): Path = metaDir(ns, name).resolve("manifests")
  private def dataDir(ns: String, name: String): Path = tableDir(ns, name).resolve("data")

  /** Directory listing that CLOSES the underlying OS handle (a bare
    * `Files.list(..).iterator` leaks one handle per call). */
  private def listDir(p: Path): Seq[Path] = {
    val s = Files.list(p)
    try s.iterator().asScala.toList finally s.close()
  }

  /** Recursive delete of `p` (a file or a directory tree); absent is fine. */
  private def deleteTree(p: Path): Unit = {
    if (Files.isDirectory(p)) listDir(p).foreach(deleteTree)
    Files.deleteIfExists(p): Unit
  }

  // ---- DDL (C4, C5, C6) ----

  /** Names match the LISTING contract: listTables/listNamespaces filter
    * dot/underscore-prefixed entries as catalog plumbing (sidecar files,
    * staging dirs), so a table CREATED under such a name would be
    * readable yet invisible to SHOW TABLES, pagination, and every
    * sweep/maintenance job driven off listings — refuse at the front
    * door instead. Path separators would silently nest directories. */
  private def requireIdentifier(kind: String, n: String): Unit = {
    require(n.nonEmpty, s"$kind name must be non-empty")
    // '_system' is the ONE designated plumbing namespace — the
    // replication service's event/registry logs live there and are
    // invisible to SHOW TABLES BY DESIGN (they are infrastructure, not
    // user tables). Every other '.'/'_' prefix refuses: a USER table
    // under such a name would be readable yet skipped by listings and
    // every maintenance sweep driven off them — silent rot.
    require((kind == "namespace" && n == "_system") ||
        (!n.startsWith(".") && !n.startsWith("_")),
      s"illegal $kind name '$n': leading '.'/'_' names are reserved for " +
        "catalog plumbing (listings filter them — the table would be " +
        "invisible to SHOW TABLES and maintenance sweeps)")
    require(!n.exists(c => c == '/' || c == '\\'),
      s"illegal $kind name '$n': path separators are not allowed")
  }

  def createTable(ns: String, name: String): Unit = {
    requireIdentifier("namespace", ns)
    requireIdentifier("table", name)
    require(!viewExists(ns, name),
      s"cannot create table $ns.$name: a view with that name exists")
    Files.createDirectories(manifestDir(ns, name))
    Files.createDirectories(dataDir(ns, name))
  }

  def dropTable(ns: String, name: String): Unit = {
    deleteTree(tableDir(ns, name))
    // a re-created table restarts at v0 on the same paths — drop any
    // cached snapshots/manifests under this table's meta dir
    val prefix = metaDir(ns, name).toAbsolutePath
    snapshotCache.keySet.removeIf(_.startsWith(prefix))
    manifestCache.keySet.removeIf(_.startsWith(prefix))
  }

  def tableExists(ns: String, name: String): Boolean =
    Files.isDirectory(metaDir(ns, name))

  /** Table RENAME (C4's missing half; `ALTER TABLE ... RENAME TO`): one
    * atomic directory move. Everything a table owns — commit log,
    * manifests, data, branch/tag refs — lives UNDER its directory and
    * references files by RELATIVE path, so the move carries the whole
    * versioned state with zero rewrites at any size. Same-namespace or
    * cross-namespace (the target namespace directory is created).
    *
    * Single-DDL-writer contract (the same one dropTable has): a commit
    * racing the move can land on the old path after the move staged it —
    * coordinate renames like any other DDL. Registry entries and sync
    * events hold storage PATHS, which a rename changes deliberately:
    * the new name is a new replication subject (re-register it), the
    * old path's history stays addressable until expiry. */
  def renameTable(ns: String, name: String, toNs: String, toName: String): Unit = {
    requireIdentifier("namespace", toNs)
    requireIdentifier("table", toName)
    require(tableExists(ns, name), s"no such table $ns.$name")
    require(!(ns == toNs && name == toName), "rename to the same name")
    require(!tableExists(toNs, toName) && !viewExists(toNs, toName),
      s"rename target $toNs.$toName already exists")
    Files.createDirectories(Paths.get(warehouse, toNs))
    Files.move(tableDir(ns, name), tableDir(toNs, toName),
      StandardCopyOption.ATOMIC_MOVE)
    // caches key by absolute path / (ns, name) — drop the old identity
    val prefix = metaDir(ns, name).toAbsolutePath
    snapshotCache.keySet.removeIf(_.startsWith(prefix))
    manifestCache.keySet.removeIf(_.startsWith(prefix))
    latestFileSet.remove((ns, name)): Unit
  }

  def listTables(ns: String): Seq[String] = {
    val p = Paths.get(warehouse, ns)
    if (!Files.isDirectory(p)) Seq.empty
    // tables are DIRECTORIES; sidecar files (namespace properties) and
    // dot/underscore names are namespace plumbing, not tables
    else listDir(p).filter(Files.isDirectory(_))
      .map(_.getFileName.toString)
      .filterNot(n => n.startsWith(".") || n.startsWith("_"))
      .sorted
  }

  /** C7: offset/limit pagination over the (sorted) namespace listing. */
  def listTablesPaginated(ns: String, offset: Int, pageSize: Int): Seq[String] =
    listTables(ns).slice(offset, offset + pageSize)

  /** C8: streaming namespace listing — pull entries on demand (the
    * reference's listTablesStream; the token-paginated form is
    * operators.Pagination). Unordered, like a storage LIST. The
    * directory page is materialized so the OS handle closes immediately
    * instead of riding a partially-consumed iterator. */
  def listTablesStream(ns: String): Iterator[String] = {
    val p = Paths.get(warehouse, ns)
    if (!Files.isDirectory(p)) Iterator.empty
    else listDir(p).map(_.getFileName.toString).iterator
  }

  // ---- persistent views ----
  // CREATE VIEW survives the session: definitions live as VERSIONED
  // sidecar JSON under `<ns>/_views/<name>/v<seq>.json` — the '_views'
  // directory rides the listing contract's plumbing filter (underscore
  // prefix), so table listings never see it, while views get the same
  // durability + atomic-publish story as table versions (write temp,
  // ATOMIC_MOVE to the next seq; the move fails if a racer took it).
  // The JSON payload is opaque here (the Spark layer records SQL text,
  // schema, column lineage, properties); this layer owns existence,
  // versioning, rename and the table/view name-collision guard.

  private def viewDir(ns: String, name: String): Path =
    Paths.get(warehouse, ns, "_views", name)

  private def viewVersions(ns: String, name: String): Seq[(Long, Path)] = {
    val d = viewDir(ns, name)
    if (!Files.isDirectory(d)) Seq.empty
    else listDir(d).flatMap { p =>
      val f = p.getFileName.toString
      if (f.startsWith("v") && f.endsWith(".json"))
        scala.util.Try(f.stripPrefix("v").stripSuffix(".json").toLong)
          .toOption.map(_ -> p)
      else None
    }.sortBy(_._1)
  }

  def viewExists(ns: String, name: String): Boolean =
    viewVersions(ns, name).nonEmpty

  /** Publish `defJson` as the next version of the view. `replace=false`
    * refuses an existing view (CREATE VIEW); `replace=true` appends a
    * new version (CREATE OR REPLACE / ALTER). Tables and views share
    * one name space — a view may never shadow a table. */
  def createView(ns: String, name: String, defJson: String,
                 replace: Boolean): Unit = {
    requireIdentifier("namespace", ns)
    requireIdentifier("view", name)
    require(!tableExists(ns, name),
      s"cannot create view $ns.$name: a table with that name exists")
    if (!replace) require(!viewExists(ns, name),
      s"view $ns.$name already exists")
    val d = viewDir(ns, name)
    Files.createDirectories(d)
    var attempt = 0
    var done = false
    while (!done) {
      val next = viewVersions(ns, name).lastOption.map(_._1 + 1).getOrElse(0L)
      if (!replace && next > 0)
        throw new IllegalStateException(s"view $ns.$name already exists")
      val tmp = Files.createTempFile(d, ".stage-", ".json")
      Files.writeString(tmp, defJson)
      // createLink, NOT move: POSIX rename(2) silently REPLACES an
      // existing target, so two racing publishes would both "win" and
      // one definition would be destroyed — link(2) fails loudly on an
      // existing target, the same CAS primitive the table commit log
      // uses (versionFile publish)
      try { Files.createLink(d.resolve(f"v$next%09d.json"), tmp); done = true }
      catch { case _: java.nio.file.FileAlreadyExistsException =>
        attempt += 1
        require(attempt < 50, s"view $ns.$name: CAS publish starved")
      } finally Files.deleteIfExists(tmp): Unit
    }
  }

  /** Current definition JSON (latest version), None when absent. */
  def loadViewJson(ns: String, name: String): Option[String] =
    viewVersions(ns, name).lastOption.map(v => Files.readString(v._2))

  /** All versions oldest-first — the TBLPROPERTIES-style history. */
  def viewHistory(ns: String, name: String): Seq[(Long, String)] =
    viewVersions(ns, name).map { case (s, p) => (s, Files.readString(p)) }

  /** [[viewHistory]] plus each version file's publish time — what the
    * REST view surface serves as the spec's version-log timestamps. */
  def viewHistoryFull(ns: String, name: String): Seq[(Long, String, Long)] =
    viewVersions(ns, name).map { case (s, p) =>
      (s, Files.readString(p), Files.getLastModifiedTime(p).toMillis) }

  /** (version id, publish time) pairs without content reads — the cheap
    * staleness probe a memoizing reader checks before rebuilding
    * anything. The TIME matters as much as the id: version ids restart
    * at 0 when a view is dropped and recreated under the same name, so
    * an id-only probe would serve the OLD view's definition forever. */
  def viewVersionStamps(ns: String, name: String): Seq[(Long, Long)] =
    viewVersions(ns, name).map { case (s, p) =>
      (s, Files.getLastModifiedTime(p).toMillis) }

  def listViews(ns: String): Seq[String] = {
    val d = Paths.get(warehouse, ns, "_views")
    if (!Files.isDirectory(d)) Seq.empty
    else listDir(d).filter(Files.isDirectory(_))
      .map(_.getFileName.toString)
      .filter(n => viewExists(ns, n)).sorted
  }

  def dropView(ns: String, name: String): Boolean = {
    val d = viewDir(ns, name)
    if (!Files.isDirectory(d)) false
    else { deleteTree(d); true }
  }

  /** View RENAME: one atomic directory move (the whole version history
    * travels), same single-DDL-writer contract as table RENAME. */
  def renameView(ns: String, name: String, toNs: String, toName: String): Unit = {
    requireIdentifier("namespace", toNs)
    requireIdentifier("view", toName)
    require(viewExists(ns, name), s"no such view $ns.$name")
    require(!tableExists(toNs, toName) && !viewExists(toNs, toName),
      s"rename target $toNs.$toName already exists")
    Files.createDirectories(Paths.get(warehouse, toNs, "_views"))
    Files.move(viewDir(ns, name), viewDir(toNs, toName),
      StandardCopyOption.ATOMIC_MOVE): Unit
  }

  // jittered exponential backoff between CAS retries (the reference's
  // commit envelope: retries with jitter — losing committers must spread
  // out instead of re-colliding in lockstep under hot contention).
  private def backoff(attempt: Int): Unit =
    Thread.sleep(scala.util.Random.nextInt(1 << math.min(attempt + 2, 8)).toLong)

  // ---- commit log ----

  private def versionFile(ns: String, name: String, seq: Long): Path =
    metaDir(ns, name).resolve(f"v$seq%06d.json")

  // escape backslash, quote AND all control chars: a newline in a
  // caller-supplied file path would split a JSONL manifest line and make
  // every referencing version unreadable
  private def q(x: String) = {
    val sb = new StringBuilder("\"")
    x.foreach {
      case '\\' => sb.append("\\\\")
      case '"'  => sb.append("\\\"")
      case c if c < 0x20 => sb.append(f"\\u${c.toInt}%04x")
      case c    => sb.append(c)
    }
    sb.append('"').toString
  }

  private def writeJson(s: Snapshot): String =
    s"""{"seq":${s.seq},"commitId":${q(s.commitId)},""" +
      s""""parentId":${s.parentId.map(q).getOrElse("null")},""" +
      s""""timestampMs":${s.timestampMs},"sourceRegion":${q(s.sourceRegion)},""" +
      s""""fileCount":${s.fileCount},"totalBytes":${s.totalBytes},""" +
      s""""schemaJson":${s.schemaJson.map(q).getOrElse("null")},""" +
      s""""propsJson":${s.propsJson.map(q).getOrElse("null")},""" +
      s""""manifests":[${s.manifests.map(q).mkString(",")}]}"""

  // Real JSON parsing (Jackson, already on Spark's classpath) — the
  // writer escapes quotes/backslashes, so paths containing `"`, `,` or
  // `]` must survive a round trip; a regex tokenizer cannot unescape.
  private val jsonMapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def parseJson(j: String): Snapshot = {
    val n = jsonMapper.readTree(j)
    Snapshot(
      n.get("seq").asLong(),
      n.get("commitId").asText(),
      Option(n.get("parentId")).filterNot(_.isNull).map(_.asText()),
      n.get("timestampMs").asLong(),
      n.get("manifests").elements().asScala.map(_.asText()).toSeq,
      Option(n.get("sourceRegion")).map(_.asText()).getOrElse(""),
      n.get("fileCount").asLong(),
      n.get("totalBytes").asLong(),
      Option(n.get("schemaJson")).filterNot(_.isNull).map(_.asText()),
      // absent on pre-upgrade version files — reads as no properties
      Option(n.get("propsJson")).filterNot(_.isNull).map(_.asText()))
  }

  // Published version files are immutable (hard-link create-if-absent), so
  // parsed snapshots cache by path forever; without this every commit's
  // CAS loop re-reads the whole log — O(V²) parses across a table's life.
  private val snapshotCache =
    new java.util.concurrent.ConcurrentHashMap[Path, Snapshot]()

  /** C9/C11: snapshots ordered by sequence. */
  def snapshots(ns: String, name: String): Seq[Snapshot] = {
    val md = metaDir(ns, name)
    if (!Files.isDirectory(md)) return Seq.empty
    listDir(md)
      .filter(_.getFileName.toString.matches("v\\d+\\.json"))
      .flatMap { p =>
        // a version an expiry deletes between the listing and the read
        // is simply gone
        try Some(snapshotCache.computeIfAbsent(p.toAbsolutePath, ap =>
          parseJson(new String(Files.readAllBytes(ap), StandardCharsets.UTF_8))))
        catch { case _: java.nio.file.NoSuchFileException => None }
      }
      .sortBy(_.seq)
  }

  /** C2 / C1. */
  def latest(ns: String, name: String): Option[Snapshot] = snapshots(ns, name).lastOption
  def byCommitId(ns: String, name: String, commitId: String): Option[Snapshot] =
    snapshots(ns, name).find(_.commitId == commitId)

  // ---- manifests ----

  private val ManifestSchema = StructType.fromDDL("path STRING, size_bytes LONG")

  /** One manifest row: a data file plus optional per-column min/max
    * (Iceberg's lower_bounds/upper_bounds, the scan-pruning substrate)
    * and optional per-column Bloom filters (base64 bitsets — Iceberg
    * puffin-style secondary stats for POINT-lookup pruning where min/max
    * is useless, i.e. hash-distributed high-cardinality keys). Bounds
    * are the column value cast to string — lexicographically ordered for
    * dates/booleans/strings; numeric columns are re-parsed before
    * comparison (string order breaks on negatives). */
  private[graft] case class ManifestEntry(path: String, sizeBytes: Long,
                                          stats: Map[String, (String, String)],
                                          blooms: Map[String, String] = Map.empty)

  /** Write one immutable manifest holding `entries` (relative path, size,
    * optional column bounds and blooms). JSON-lines: row-based like
    * Iceberg's Avro manifests, readable distributed by Spark and in one
    * pass by the driver planner. A column whose name is too long to be a
    * JSON key ([[GraftCatalog.recordableStatKey]]) records neither. */
  private def writeManifest(ns: String, name: String,
                            entries: Seq[(String, Long)],
                            stats: Map[String, Map[String, (String, String)]] = Map.empty,
                            blooms: Map[String, Map[String, String]] = Map.empty,
                            prefix: String = "m"): String = {
    val rel = s"_meta/manifests/$prefix-${UUID.randomUUID()}.jsonl"
    val body = entries.map { case (p, sz) =>
      val st = stats.getOrElse(p, Map.empty).filter(e => GraftCatalog.recordableStatKey(e._1))
      val statsJson =
        if (st.isEmpty) ""
        else st.toSeq.sortBy(_._1)
          .map { case (c, (mn, mx)) => s"${q(c)}:[${q(mn)},${q(mx)}]" }
          .mkString(""","stats":{""", ",", "}")
      val bl = blooms.getOrElse(p, Map.empty).filter(e => GraftCatalog.recordableStatKey(e._1))
      val bloomJson =
        if (bl.isEmpty) ""
        else bl.toSeq.sortBy(_._1)
          .map { case (c, b64) => s"${q(c)}:${q(b64)}" }
          .mkString(""","blooms":{""", ",", "}")
      s"""{"path":${q(p)},"size_bytes":$sz$statsJson$bloomJson}"""
    }.mkString("", "\n", "\n")
    val tmp = manifestDir(ns, name).resolve(s".tmp-${UUID.randomUUID()}")
    Files.write(tmp, body.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, tableDir(ns, name).resolve(rel), StandardCopyOption.ATOMIC_MOVE)
    rel
  }

  // Manifests are immutable once published — cache parsed entries so scan
  // planning touches each manifest file once per driver (Iceberg's
  // manifest cache); bounded by the manifests actually planned.
  private val manifestCache =
    new java.util.concurrent.ConcurrentHashMap[Path, Seq[ManifestEntry]]()

  /** Drop an UNPUBLISHED manifest (failed/retried commit attempt):
    * cache invalidation and physical delete must always travel
    * together — one shared site instead of a copy per commit path. */
  private def dropManifest(ns: String, name: String, rel: String): Unit = {
    val ap = tableDir(ns, name).resolve(rel).toAbsolutePath
    manifestCache.remove(ap)
    Files.deleteIfExists(ap): Unit
  }

  // Latest file set per table, keyed by the commit it reflects: lets
  // commitFiles dedup each commit against its parent in O(new files)
  // amortized instead of re-materializing the full 50k+-entry set per
  // commit. ONE entry per table (memory O(live files), same order as the
  // manifest cache); a miss (foreign commit, reopened catalog) rebuilds
  // from the manifests.
  private val latestFileSet =
    new java.util.concurrent.ConcurrentHashMap[(String, String), (String, Set[String])]()

  private def parentFileSet(ns: String, name: String, parent: Option[Snapshot]): Set[String] =
    parent match {
      case None => Set.empty
      case Some(p) =>
        val cached = latestFileSet.get((ns, name))
        if (cached != null && cached._1 == p.commitId) cached._2
        else dataFiles(ns, name, p).toSet
    }

  private def manifestEntriesFull(ns: String, name: String, rel: String): Seq[ManifestEntry] =
    manifestCache.computeIfAbsent(tableDir(ns, name).resolve(rel).toAbsolutePath, ap =>
      Files.readAllLines(ap, StandardCharsets.UTF_8).asScala
        .filter(_.nonEmpty)
        .map { line =>
          val n = jsonMapper.readTree(line)
          val stats = Option(n.get("stats")).map { sn =>
            sn.fieldNames().asScala
              .map(k => k -> (sn.get(k).get(0).asText(), sn.get(k).get(1).asText()))
              .toMap
          }.getOrElse(Map.empty[String, (String, String)])
          val blooms = Option(n.get("blooms")).map { bn =>
            bn.fieldNames().asScala.map(k => k -> bn.get(k).asText()).toMap
          }.getOrElse(Map.empty[String, String])
          ManifestEntry(n.get("path").asText(), n.get("size_bytes").asLong(), stats, blooms)
        }.toSeq)

  private def manifestEntries(ns: String, name: String, rel: String): Seq[(String, Long)] =
    manifestEntriesFull(ns, name, rel).map(e => (e.path, e.sizeBytes))

  // DELETE manifests (merge-on-read row deletes) share the manifest
  // machinery but carry a kind-bearing basename — `d-` for EQUALITY
  // deletes (key-valued parquet, commitDelete/commitUpsert), `p-` for
  // POSITION deletes ((file_path, pos) parquet, commitDeletePositions;
  // the reference file model's POSITION_DELETE content type,
  // ContentType.java:2). The naming convention splits every consumer
  // (scan planning vs delete planning, append-only CDC detection) with
  // no snapshot-format change, and expiry/orphan detection keep working
  // unmodified because they walk `snap.manifests` generically.
  private def isDeleteManifest(rel: String): Boolean = {
    val base = rel.substring(rel.lastIndexOf('/') + 1)
    base.startsWith("d-") || base.startsWith("p-")
  }
  private[catalog] def isPosDeleteManifest(rel: String): Boolean =
    rel.substring(rel.lastIndexOf('/') + 1).startsWith("p-")

  /** (path, size) entries of a version's DATA files — driver-side
    * SCAN-PLANNING read (transient, per-version) through the manifest
    * cache. Delete files are excluded — see [[deleteFileEntries]]; the
    * metadata-table form of every entry, delete files included, is
    * [[filesTable]] (driver-local up to Spark's recommended task size in
    * manifest bytes, a distributed scan past it). */
  def dataFileEntries(ns: String, name: String, snap: Snapshot): Seq[(String, Long)] =
    snap.manifests.filterNot(isDeleteManifest).flatMap(manifestEntries(ns, name, _))

  def dataFiles(ns: String, name: String, snap: Snapshot): Seq[String] =
    dataFileEntries(ns, name, snap).map(_._1)

  /** (path, size) entries of a version's delete files, BOTH kinds (the
    * merge-on-read delete set a scan must apply). */
  def deleteFileEntries(ns: String, name: String, snap: Snapshot): Seq[(String, Long)] =
    snap.manifests.filter(isDeleteManifest).flatMap(manifestEntries(ns, name, _))

  /** (path, size) entries of a version's EQUALITY-delete files only —
    * what the key-set consistency checks of commitDelete/commitUpsert
    * read (a position-delete file's (file_path, pos) columns are not a
    * key set). */
  def equalityDeleteFileEntries(ns: String, name: String, snap: Snapshot): Seq[(String, Long)] =
    snap.manifests.filter(m => isDeleteManifest(m) && !isPosDeleteManifest(m))
      .flatMap(manifestEntries(ns, name, _))

  /** ALL of a version's manifests in LIST ORDER — (relative path,
    * isDelete, full entries). The export surface for merge-on-read
    * versions: list position is graft's commit-order rule, which
    * [[IcebergExport]] maps onto Iceberg's sequence-number rule. */
  private[catalog] def manifestsFull(ns: String, name: String, snap: Snapshot)
      : Seq[(String, Boolean, Seq[ManifestEntry])] =
    snap.manifests.map(m => (m, isDeleteManifest(m), manifestEntriesFull(ns, name, m)))

  /** Manifests ADDED by `snap` relative to its parent (the commit's
    * delta) — the manifest-granular form of Y14. */
  def addedManifests(ns: String, name: String, snap: Snapshot): Seq[String] = {
    val parentManifests = snap.parentId
      .flatMap(byCommitId(ns, name, _)).map(_.manifests.toSet).getOrElse(Set.empty)
    snap.manifests.filterNot(parentManifests)
  }

  /** Files ADDED by `snap`'s commit (Y14 per-commit delta) — reads only
    * the added manifests, never diffs per-file sets. */
  def addedFileEntries(ns: String, name: String, snap: Snapshot): Seq[(String, Long)] =
    addedManifests(ns, name, snap).flatMap(manifestEntries(ns, name, _))

  def addedFiles(ns: String, name: String, snap: Snapshot): Seq[String] =
    addedFileEntries(ns, name, snap).map(_._1)

  // ---- schema (reference TableMetadata.scala:15: schema JSON per version) ----

  /** Additive schema validation: every column of the current schema must
    * survive with its type; new columns may appear (evolution). Returns
    * the schema JSON to record. */
  private def validatedSchemaJson(ns: String, name: String,
                                  parent: Option[Snapshot], schema0: StructType,
                                  replacesAll: Boolean = false): String = {
    // the incoming frame may be another table's read output, whose
    // fields still carry THAT table's PhysicalKey — the mapping is
    // per-table commit-log state and only ever enters a recorded schema
    // from the PARENT's field (merged below) or commitSchemaEvolution
    val schema = StructType(schema0.fields.map(GraftCatalog.withoutPhysical))
    parent.flatMap(p => p.schemaJson.map((p, _))) match {
      case None => schema.json
      case Some((par, pj)) =>
        val prev = DataType.fromJson(pj).asInstanceOf[StructType]
        prev.fields.foreach { pf =>
          schema.fields.find(_.name == pf.name) match {
            case None => throw new IllegalArgumentException(
              s"schema mismatch: column '${pf.name}' (${pf.dataType.simpleString}) " +
                "is missing from the appended data")
            // NESTED nullability is insignificant for the match (an
            // INSERT VALUES literal struct arrives with non-nullable
            // inner fields) — catalogString erases nullability at every
            // depth; the recorded type keeps the previously-granted
            // (wider) one below
            case Some(nf) if nf.dataType.catalogString != pf.dataType.catalogString =>
              throw new IllegalArgumentException(
                s"schema mismatch: column '${pf.name}' changed " +
                  s"${pf.dataType.simpleString} -> ${nf.dataType.simpleString}")
            case _ =>
          }
        }
        val introduced =
          schema.fields.filterNot(f => prev.fieldNames.contains(f.name))
        // an introduced column whose name is another column's PHYSICAL
        // name would collide in the written files (two logical columns,
        // one parquet column) — only reachable after a rename; refuse
        val claimed = prev.fields.map(GraftCatalog.physicalName).toSet
        introduced.foreach(f => require(!claimed(f.name),
          s"new column '${f.name}' collides with the physical (parquet) " +
            s"name of a renamed column of $ns.$name — add it via ALTER " +
            "TABLE ADD COLUMN, which assigns it a fresh physical name"))
        // widening appends may introduce columns, but never one whose
        // name previously existed while its era's files are still live
        // (same resurrection hazard as ALTER ADD — see the guard). An
        // OVERWRITE discards every parent file, so the hazard vanishes
        if (!replacesAll)
          assertNoColumnResurrection(ns, name, par, introduced.map(_.name).toSeq)
        // a batch must never TIGHTEN nullability the table already
        // grants: an all-non-null INSERT right after ADD COLUMN would
        // otherwise record the column non-nullable, and the pre-alter
        // files' nulls then break every read's row re-encoding.
        // Schema METADATA the incoming frame cannot know is carried over
        // from the recorded field: the physical column mapping MUST
        // survive (losing it would orphan every pre-rename file) and
        // comments should (an INSERT must not strip documentation)
        StructType(schema.fields.map { nf0 =>
          // one lookup serves all three merge concerns below
          val pfOpt = prev.fields.find(_.name == nf0.name)
          // nested nullability may only ever WIDEN, in both directions:
          // the recorded type is the nullability UNION of granted and
          // incoming (catalogString-equal, checked above) — keeping the
          // narrow side in EITHER direction is unsound (recorded
          // non-nullable over files holding nulls breaks reads; recorded
          // nullable over non-null files is merely loose)
          val nf = pfOpt match {
            case Some(pf) if pf.dataType != nf0.dataType =>
              nf0.copy(dataType =
                GraftCatalog.unionNullability(pf.dataType, nf0.dataType))
            case _ => nf0
          }
          val widened = pfOpt match {
            case Some(pf) if pf.nullable && !nf.nullable => nf.copy(nullable = true)
            case _ => nf
          }
          pfOpt match {
            case Some(pf) if pf.metadata != org.apache.spark.sql.types.Metadata.empty
                && widened.metadata == org.apache.spark.sql.types.Metadata.empty =>
              widened.copy(metadata = pf.metadata)
            case Some(pf) if pf.metadata.contains(GraftCatalog.PhysicalKey) =>
              GraftCatalog.withPhysical(widened, GraftCatalog.physicalName(pf))
            case _ => widened
          }
        }).json
    }
  }

  // ---- column mapping plumbing ----

  /** Rename `df`'s columns to their PHYSICAL names under the table's
    * current mapping — identity (df returned untouched, no plan node)
    * for the overwhelmingly common never-renamed table. Columns not in
    * the table schema (additive evolution) keep their names: a brand-new
    * column's physical name IS its logical name. */
  private def toPhysicalDf(df: DataFrame, schemaOpt: Option[StructType]): DataFrame =
    schemaOpt.map(GraftCatalog.physicalMap).filter(_.nonEmpty) match {
      case Some(m) =>
        df.select(df.columns.toSeq.map(c => col(c).as(m.getOrElse(c, c))): _*)
      case None => df
    }

  /** logical → physical stat/bloom key under `snap`'s schema (identity
    * when nothing was renamed) — manifest stats key on PHYSICAL names,
    * uniform across every era of the table's files. */
  private[catalog] def physKeyOf(snap: Snapshot): String => String = {
    val m = snap.schemaJson
      .map(j => GraftCatalog.physicalMap(
        DataType.fromJson(j).asInstanceOf[StructType]))
      .getOrElse(Map.empty)
    if (m.isEmpty) identity else c => m.getOrElse(c, c)
  }

  // ---- commits ----

  /** Stage `df` as data files and return each file's (table-relative
    * path, account), sorted by path. Every file is written through
    * [[RowParquetWriter]], which records the file's row count and
    * bounds, the `derived` stats (stat key -> expression over `df`) and
    * the Bloom bitsets of `bloomCols` while it writes — no stats job
    * re-reads the staged bytes, the driver lists no directory, and the
    * session conf is never touched (the writer pins INT64 micros
    * itself). Every file lands directly in `data/`, named by the
    * staging's op-id ([[GraftCatalog.opPrefix]]); a failed staging
    * deletes its own op-id's files and nothing else
    * ([[GraftCatalog.deleteStaged]]).
    *
    * Where the rows are written: a `df` whose optimized plan is a
    * driver-local `LocalRelation`, staged unaligned, whose exact bytes
    * (counted by an interpreted projection, [[GraftCatalog.localBytes]]:
    * no code is generated per commit) fit one
    * `write.target-file-size-bytes` file (the metadata-scale
    * rule, [[GraftCatalog.driverScale]]), is written ON THE
    * DRIVER — the staging projection (derived stats, Bloom positions)
    * folds into the `LocalRelation` (Catalyst's `ConvertToLocalRelation`),
    * or is left out when there is nothing to record beside the data,
    * and its rows go through the same [[RowParquetWriter.StageTask]]
    * code with no Spark job at all. That is every control-plane commit
    * (a `_system` event append, a watermark advance) and every small
    * `toDF` batch. Any other input runs ONE Spark job whose tasks write
    * their partitions: a larger local batch lands in ceil(exact bytes /
    * target) files; a distributed input keeps its partitioning (one file
    * per non-empty task), so deliberate layouts (range clustering,
    * compaction widths) stand. `alignCols` (partition-ALIGNED staging,
    * for spec'd tables and property-honoring writers) sorts each task by
    * the partition-value expressions and starts a new file at every
    * tuple boundary: each file holds exactly ONE partition tuple, which
    * no range clustering can guarantee (a sampled range boundary can
    * straddle a tuple). That is what makes per-file day bounds exact and
    * bucket derived stats single-valued (min == max) — what the Iceberg
    * export derives provable partition tuples from. An empty unaligned
    * input lands one zero-row file, written on the driver. */
  private def stageDataFiles(ns: String, name: String, df: DataFrame,
                             props: Map[String, String],
                             alignCols: Seq[Column] = Seq.empty,
                             derived: Seq[(String, Column)] = Seq.empty,
                             bloomCols: Seq[String] = Seq.empty)
      : Seq[(String, RowParquetWriter.Written)] = {
    import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Project}
    val fields = df.schema.fieldNames
    // the reserved pseudo-column must stay reserved: a REAL column named
    // __rows would have its bounds overwritten by the row count and
    // readWhere would then prune files on bogus bounds — reject loudly
    require(!fields.contains(GraftCatalog.RowsStatKey),
      s"column name '${GraftCatalog.RowsStatKey}' is reserved for manifest row counts")
    val blooms = bloomCols.filter(fields.contains)
    // versioned key namespace for micros-form timestamp blooms (see
    // GraftCatalog.bloomKeyOf); a REAL column under it would alias a
    // timestamp's bloom and mis-prune — refuse loudly like __pt_/__ptw_
    require(blooms.isEmpty || !fields.exists(_.startsWith("__tsb_")),
      "column names starting with '__tsb_' are reserved for timestamp " +
        "bloom keys")
    require(alignCols.isEmpty || !fields.exists(_.startsWith("__ptw_")),
      "column names starting with '__ptw_' are reserved for partition-" +
        "aligned staging")
    // exact bytes of a driver-local batch (None: not driver-local)
    val localBytes = df.queryExecution.optimizedPlan match {
      case local: LocalRelation => Some(GraftCatalog.localBytes(local.schema, local.data.iterator))
      case _ => None
    }
    // an aligned local batch is sorted by ONE task; an unaligned one is
    // projected on the driver (below)
    val laid = if (localBytes.nonEmpty && alignCols.nonEmpty) df.coalesce(1) else df
    // recorded values ride the staging projection AFTER the data fields
    // (the writer never writes them): derived stats, Bloom positions —
    // pmod(xxhash64(i, value), BloomBits) over the value's string form,
    // timestamps hashing their tz-stable micros form (see
    // stagedFileBlooms) — and last the partition-tuple values
    val bloomTs = blooms.map(c => c -> (df.schema(c).dataType == TimestampType))
    val bloomPositions = bloomTs.map { case (c, isTs) =>
      val hashed =
        if (isTs) unix_micros(col(c)).cast("string") else col(c).cast("string")
      array((0 until GraftCatalog.BloomHashes).map(i =>
        pmod(xxhash64(lit(i), hashed), lit(GraftCatalog.BloomBits.toLong)).cast("int")): _*)
    }
    val align = alignCols.indices.map(i => s"__ptw_$i")
    val extras = derived.zipWithIndex.map { case ((_, e), j) => e.as(s"__ptd_$j") } ++
      bloomPositions.zipWithIndex.map { case (e, j) => e.as(s"__ptb_$j") } ++
      alignCols.zip(align).map { case (c, n) => c.as(n) }
    // a local batch with nothing to record beside its data reaches the
    // writer straight from its relation; any job input gets its own plan
    val rows0 =
      if (extras.isEmpty && localBytes.nonEmpty) laid else laid.select(col("*") +: extras: _*)
    val rows =
      if (align.isEmpty) rows0 else rows0.sortWithinPartitions(align.map(col): _*)
    val op = UUID.randomUUID().toString.take(8)
    val tableAbs = tableDir(ns, name).toAbsolutePath.toString
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val task = new RowParquetWriter.StageTask(tableAbs, GraftCatalog.opPrefix(op),
      rows.schema.json, fields.length, derived.map(_._1),
      bloomTs.map { case (c, isTs) =>
        GraftCatalog.bloomKeyOf(if (isTs) Some(TimestampType) else None, c) },
      align.size, conf)
    val qe = rows.queryExecution
    // an unaligned local batch's staging projection, evaluated right
    // here: folded into the relation by the optimizer, or bound when it
    // was not
    val localRows = if (align.nonEmpty) None else (localBytes, qe.optimizedPlan) match {
      case (Some(_), local: LocalRelation) => Some(local.data.iterator)
      case (Some(_), Project(list, local: LocalRelation)) =>
        val project = UnsafeProjection.create(list, local.output)
        Some(local.data.iterator.map(project))
      case _ => None
    }
    try {
      val written = (localRows, localBytes) match {
        case (Some(it), Some(bytes)) if GraftCatalog.driverScale(s"$ns.$name", props, bytes) =>
          task.writeLocal(it)
        case (Some(it), Some(bytes)) =>
          // past one target file: n slices of the projected rows, one
          // file per task of one job
          val n = math.ceil(bytes.toDouble /
            GraftCatalog.targetFileSizeOf(s"$ns.$name", props)).min(Int.MaxValue).toInt
          val toUnsafe = UnsafeProjection.create(rows.schema)
          val data = it.map(r => toUnsafe(r).copy(): InternalRow).toVector
          spark.sparkContext.runJob(
            spark.sparkContext.parallelize(data, n.min(data.size)), task.run _).toSeq.flatten
        case _ =>
          val fromJob = SQLExecution.withNewExecutionId(qe, Some(s"stage $ns.$name")) {
            spark.sparkContext.runJob(qe.toRdd, task.run _)
          }.toSeq.flatten
          if (fromJob.isEmpty && align.isEmpty) task.writeLocal(Iterator.empty)
          else fromJob
      }
      written.sortBy(_._1)
    } catch { case e: Throwable =>
      GraftCatalog.deleteStaged(tableAbs, op, conf.value); throw e
    }
  }

  /** (path, size) entries of staged files. */
  private def entriesOf(files: Seq[(String, RowParquetWriter.Written)]): Seq[(String, Long)] =
    files.map { case (p, f) => p -> f.size }

  /** Per-file column bounds for files graft did NOT write (stats
    * backfill, REST-landed files) — ONE distributed aggregate over the
    * files (grouped by input_file_name, map-side combined), keyed back to
    * the manifest-relative paths. Files graft stages get the same stats
    * from their writer ([[stageDataFiles]]). Only atomic, orderable
    * column types carry bounds; anything else is simply never pruned.
    * All-null columns in a file record no bound (same effect). */
  private def stagedFileStats(ns: String, name: String,
                              entries: Seq[(String, Long)],
                              schema: StructType,
                              derived: Seq[(String, Column)] = Seq.empty)
      : Map[String, Map[String, (String, String)]] = {
    if (entries.isEmpty) return Map.empty
    // the reserved pseudo-column must stay reserved: a REAL column named
    // __rows would have its bounds overwritten by the row count below and
    // readWhere would then prune files on bogus bounds — reject loudly
    require(!schema.fieldNames.contains(GraftCatalog.RowsStatKey),
      s"column name '${GraftCatalog.RowsStatKey}' is reserved for manifest row counts")
    val statFields = schema.fields.filter(f => GraftCatalog.prunableType(f.dataType))
    if (statFields.isEmpty && derived.isEmpty) {
      // no prunable column -> nothing to scan FOR: row counts come from
      // the parquet FOOTERS (metadata-only, distributed over the file
      // list), so such commits pay O(files) footer reads instead of a
      // full read of the staged bytes
      val paths = entries.map { case (p, _) =>
        p -> tableDir(ns, name).resolve(p).toString }
      // ship the SESSION hadoop conf to the executors (same pattern as
      // expire/GcExecutor): a bare new Configuration() would resolve the
      // wrong filesystem wherever warehouse access needs session conf
      val confSer = new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration)
      val counts = spark.sparkContext
        .parallelize(paths, math.max(1, math.min(paths.size, 32)))
        .map { case (rel, abs) =>
          rel -> GraftCatalog.parquetFooterRowCount(abs, confSer.value)
        }.collect().toMap
      return entries.map { case (p, _) =>
        val n = counts(p).toString
        p -> Map(GraftCatalog.RowsStatKey -> ((n, n)))
      }.toMap
    }
    // key the join back by FULL absolute path, not basename: the commit
    // path's op-id-prefixed names are unique, but
    // backfillStats feeds arbitrary registered manifests through here,
    // where data/a/part-0.parquet and data/b/part-0.parquet coexist —
    // a basename map would hand one file the other's bounds and
    // readWhere would then prune REAL rows away on bogus stats
    val byAbs = entries.map { case (p, _) =>
      tableDir(ns, name).resolve(p).toAbsolutePath.toString -> p }.toMap
    val df = spark.read.schema(schema)
      .parquet(entries.map { case (p, _) => tableDir(ns, name).resolve(p).toString }: _*)
    // per-file ROW COUNT rides the same single stats job (zero extra IO
    // when the schema has prunable columns; a schema with NONE now pays
    // one narrow count-by-file pass it used to skip — the price of
    // countFast covering every table), recorded under the reserved
    // pseudo-column "__rows" so the manifest format is unchanged and old
    // manifests (no entry) simply opt out of [[countFast]].
    // derived stats (partition-transform values, e.g. per-file bucket)
    // ride the SAME single aggregate — zero extra IO over the stats scan.
    // Timestamp bounds record as epoch MICROS (unix_micros) — tz-stable,
    // unlike cast-to-string; consumers compare them numerically
    // ([[GraftCatalog.statNumeric]]/[[GraftCatalog.statForm]])
    def statCol(f: StructField): Column =
      if (f.dataType == TimestampType) unix_micros(col(f.name))
      else col(f.name)
    val aggs = count(lit(1)).cast("string") +:
      (statFields.toSeq.flatMap(f => Seq(
        min(statCol(f)).cast("string"), max(statCol(f)).cast("string"))) ++
       derived.flatMap { case (_, e) => Seq(
         min(e).cast("string"), max(e).cast("string")) })
    val rows = df.groupBy(input_file_name().as("__file"))
      .agg(aggs.head, aggs.tail: _*).collect()
    val keys = statFields.map(_.name) ++ derived.map(_._1)
    // string bounds are cut as the writer cuts them (RowParquetWriter.close)
    val strings = statFields.filter(_.dataType == StringType).map(_.name).toSet
    val scanned = rows.map { r =>
      // input_file_name returns a PERCENT-ENCODED URI (space -> %20);
      // java.net.URI decodes it back to the raw filesystem path the
      // staged entries carry. Hadoop Path does NOT decode — using it
      // here broke every stats commit under an encodable warehouse path
      // (caught by the fail-loud guard below)
      val raw0 = r.getString(0)
      val abs = try new java.net.URI(raw0).getPath
                catch { case _: Exception => new HPath(raw0).toUri.getPath }
      // a scanned group that matches no staged entry means the
      // input_file_name -> path round-trip broke (URI-encodable chars,
      // scheme mismatch) — defaulting its rows to 0 would silently
      // corrupt countFast/backfill metadata, so fail loudly instead
      val rel = byAbs.getOrElse(abs, throw new IllegalStateException(
        s"stagedFileStats($ns.$name): scanned file '$abs' matches no staged " +
          s"entry (${byAbs.keys.take(3).mkString(", ")}...) — path round-trip " +
          "broke; refusing to record its rows as 0"))
      val colStats = keys.zipWithIndex.flatMap { case (k, i) =>
        (Option(r.getString(2 + 2 * i)), Option(r.getString(3 + 2 * i))) match {
          case (Some(mn), Some(mx)) if strings(k) => GraftCatalog.stringBounds(mn, mx).map(k -> _)
          case (Some(mn), Some(mx)) => Some(k -> (mn, mx))
          case _ => None
        }
      }.toMap
      rel -> (colStats + (GraftCatalog.RowsStatKey -> ((r.getString(1), r.getString(1)))))
    }.toMap
    // a ZERO-ROW file never groups, so it would get no __rows and
    // countFast (and backfill's idempotence check) would see it as
    // stat-less forever — record it explicitly as count 0, no bounds
    entries.map { case (p, _) =>
      p -> scanned.getOrElse(p, Map(GraftCatalog.RowsStatKey -> (("0", "0"))))
    }.toMap
  }

  /** Metadata-only COUNT(*): sum the per-file row counts the commit
    * job recorded in the manifests — answers in O(manifest entries)
    * with ZERO data-file reads (the Iceberg count pushdown). Falls back
    * to a real scan when the version carries equality-delete manifests
    * (their net effect is data-dependent) or any file lacks a recorded
    * count (foreign commitFiles, pre-upgrade manifests). Empty table
    * counts 0. */
  /** The latest version's recorded schema, without touching any data
    * file — what a metadata-only consumer (DSv2 table load, aggregate
    * pushdown) needs. None for an empty table or a pre-schema log. */
  def tableSchema(ns: String, name: String): Option[StructType] =
    latest(ns, name).flatMap(_.schemaJson)
      .map(DataType.fromJson(_).asInstanceOf[StructType])

  def countFast(ns: String, name: String): Long =
    countFastOpt(ns, name).getOrElse(read(ns, name).count())

  /** The metadata-only half of [[countFast]]: Some(count) when every
    * file has a recorded row count and no delete manifests exist, None
    * when only a scan can answer — the shape aggregate-pushdown needs
    * (claim the pushdown only when metadata is authoritative). */
  def countFastOpt(ns: String, name: String): Option[Long] =
    latest(ns, name) match {
      case None => Some(0L)
      case Some(snap) =>
        if (snap.manifests.exists(isDeleteManifest)) None
        else {
          val entries = snap.manifests.filterNot(isDeleteManifest)
            .flatMap(manifestEntriesFull(ns, name, _))
          val counts = entries.map(_.stats.get(GraftCatalog.RowsStatKey))
          if (counts.forall(_.isDefined)) Some(counts.map(_.get._1.toLong).sum)
          else None
        }
    }

  /** Metadata-only STATS BACKFILL: rewrite the head version's data
    * manifests that lack recorded row counts (commitFiles-registered
    * files — replica sync, Iceberg import — carry none) with the same
    * per-file bounds + row counts commitAppend records, and publish a
    * new version over the SAME file set. After it, [[countFast]]
    * answers from metadata and [[readWhere]] prunes on the recorded
    * bounds — the step that makes an IMPORTED table plan like a native
    * one. One distributed single-pass stats job per rewritten manifest
    * (the commit path's own aggregate); delete manifests and already
    * stat-bearing manifests are carried unchanged, so a second call is
    * a no-op (returns the head and 0). The publish is CONDITIONAL on
    * the inspected head: a concurrent commit aborts the backfill
    * loudly instead of being silently dropped. Returns (new head,
    * manifests rewritten). */
  /** Manifest CONSOLIDATION (Iceberg's `rewrite_manifests`): publish a
    * new version whose data manifests are merged into ~`targetEntries`-
    * sized ones while the FILE SET — and every file's stats and blooms —
    * stays bit-identical. Pure metadata, no data IO. Scan planning reads
    * one manifest per commit, so a long-lived append-heavy table (50k
    * appends = 50k manifest opens per plan) needs this the way data
    * files need compaction; after it the planner touches
    * ceil(files / targetEntries) manifests.
    *
    * Merge-on-read correctness: a delete manifest's MEANING is its list
    * position (morScan's sequence rule), so only data manifests AFTER
    * the last delete manifest consolidate; runs preceding a live delete
    * are left untouched. (Not merely positional caution: a consolidated
    * manifest is NEW, so [[IcebergExport]] attributes it the rewrite
    * snapshot's sequence number — re-manifesting pre-delete data would
    * advance it past the delete's sequence and the exported table would
    * resurrect deleted rows; the export guard would refuse the whole
    * table. compact() clears deletes and unlocks full consolidation.)
    * The publish is CAS-conditional on the inspected head (a concurrent
    * commit aborts loudly); a second call is a no-op (returns manifests
    * merged = 0). Returns (new head or current head, manifests
    * eliminated). */
  def rewriteManifests(ns: String, name: String, targetEntries: Int = 10000,
                       maxRetries: Int = 5): (Snapshot, Int) = {
    require(targetEntries >= 1, s"targetEntries=$targetEntries")
    val head = latest(ns, name).getOrElse(
      throw new IllegalStateException(s"$ns.$name has no committed versions"))
    // everything up to (and including) the last delete manifest is
    // preserved verbatim; only the trailing data run consolidates into
    // chunks of at most ~targetEntries entries
    val lastDelete = head.manifests.lastIndexWhere(isDeleteManifest)
    val (frozen, run) = head.manifests.splitAt(lastDelete + 1)
    val entries = run.flatMap(manifestEntriesFull(ns, name, _))
    val want = math.max(1, (entries.size + targetEntries - 1) / targetEntries)
    if (want >= run.size) return (head, 0) // already consolidated
    val chunk = math.max(1, (entries.size + want - 1) / want)
    val snap = commit(ns, name, maxRetries = maxRetries) { st =>
      Change("manifest rewrite", frozen ++ entries.grouped(chunk).flatMap(st.carried(_)),
        replaces = true, expectHead = Some(head.commitId), region = head.sourceRegion,
        idPrefix = "rwmanifests-")
    }
    (snap, run.size - want)
  }

  /** Position-delete COMPACTION (Iceberg's rewrite_position_delete_files
    * action): consolidate every live `p-` file into a handful of sorted
    * position-delete files (+ ONE manifest), dropping entries that
    * reference files no longer live — the inert leftovers a COW rewrite
    * or replace strands ("reclaimed by the next compact", morScan's
    * contract). No data file is touched; the write is one small
    * distributed job over the delete side, sized by the table's
    * `write.target-file-size-bytes`.
    *
    * Moving ALL position deletes to the END of the manifest list is
    * sound: (file, pos) identity is PATH-scoped, and every data file
    * committed after the original delete carries a fresh staging path a
    * stale ordinal can never name — so widening a delete's positional
    * scope to "everything" erases exactly the same rows. (Equality
    * deletes have no such property — their scope IS the sequence rule —
    * and are left untouched.)
    *
    * This is the MoR read-cost guard at 100 TB: a churn-heavy table
    * accumulates one p-file per mutation and every read pays one
    * broadcast anti-join PER DELETE EPOCH; after consolidation it pays
    * exactly one. Returns (head-or-new-version, delete files
    * eliminated). CAS-conditional on the inspected head. */
  def rewritePositionDeletes(ns: String, name: String, maxRetries: Int = 5)
      : (Snapshot, Int) = {
    val head = latest(ns, name).getOrElse(
      throw new IllegalStateException(s"$ns.$name has no committed versions"))
    val posMans = head.manifests.filter(isPosDeleteManifest)
    val posEntries = posMans.flatMap(manifestEntries(ns, name, _))
    if (posEntries.isEmpty) return (head, 0)
    import spark.implicits._
    val live = dataFiles(ns, name, head)
    val liveSet = live.toSet
    def posFiles = spark.read
      .parquet(posEntries.map(e => tableDir(ns, name).resolve(e._1).toString): _*)
    // ONE small job over the delete side answers both decisions below:
    // the distinct files every position delete references
    val refs = posFiles.select("file_path").distinct().collect().map(_.getString(0))
    val parts = math.max(1, math.ceil(
      posEntries.map(_._2).sum.toDouble / targetFileSizeBytes(ns, name)).toInt)
    // already-consolidated fast path: ONE all-live p-manifest already at
    // (or under) the target file count is a no-op, so repeated
    // maintenance calls converge instead of committing a fresh version
    // each run. (An all-dead set falls through — pure dead weight.)
    if (posMans.size == 1 && posEntries.size <= parts &&
        refs.nonEmpty && refs.forall(liveSet)) return (head, 0)
    val snap = commit(ns, name, maxRetries = maxRetries) { st =>
      // an entirely-inert delete set consolidates to NOTHING — staging
      // the empty frame would land a zero-row p-file the fast path could
      // never call live, churning no-op versions forever
      val consolidated = if (!refs.exists(liveSet)) None else st.deletes(posFiles
        .select(col("file_path"), col("pos").cast("long").as("pos"))
        .distinct()
        .join(broadcast(live.toDF("file_path")), Seq("file_path"), "left_semi")
        .repartitionByRange(parts, col("file_path"), col("pos"))
        .sortWithinPartitions(col("file_path"), col("pos")), "p")
      Change("position-delete rewrite",
        head.manifests.filterNot(isPosDeleteManifest) ++ consolidated, replaces = true,
        expectHead = Some(head.commitId), region = head.sourceRegion,
        idPrefix = "rwposdel-")
    }
    (snap, posEntries.size -
      snap.manifests.filter(isPosDeleteManifest).map(manifestEntries(ns, name, _).size).sum)
  }

  /** File-granular COPY-ON-WRITE commit — the publish half of a SQL
    * row-level operation (UPDATE / MERGE / subquery DELETE): atomically
    * swap `removed` data files for already-landed `added` files in ONE
    * new version. Every untouched manifest is carried verbatim (stats
    * and blooms intact); a manifest that loses entries is re-written
    * with its SURVIVING entries in the same list position, so
    * merge-on-read delete semantics are preserved — survivors keep
    * exactly their applicable deletes, and the added manifest lands
    * LAST, after every delete manifest, so no historical delete applies
    * to freshly-rewritten rows (which were scanned WITH deletes
    * applied). Position-delete entries naming a removed file become
    * inert (they match nothing), reclaimed by the next compact.
    *
    * Concurrency: conditional on `expectedHeadCommitId` — the head the
    * operation's scan planned against. Any interleaved commit aborts
    * loudly ([[java.util.ConcurrentModificationException]]); the caller
    * re-plans (re-scan, re-write) rather than publishing lost updates.
    * At 100 TB this is the Iceberg COW contract: an UPDATE touching k
    * files costs O(k) file rewrites + O(manifests) metadata, never a
    * table rewrite. */
  def commitRewriteFiles(ns: String, name: String,
                         expectedHeadCommitId: String,
                         removed: Set[String],
                         added: Seq[(String, Long)],
                         addedStats: Map[String, Map[String, (String, String)]] = Map.empty,
                         sourceRegion: String = "local",
                         commitId: Option[String] = None): Snapshot = {
    val dup = added.map(_._1).diff(added.map(_._1).distinct)
    require(dup.isEmpty, s"duplicate added paths: ${dup.take(3).mkString(", ")}")
    // ONE attempt: the expectedHead condition is the whole retry policy —
    // a lost race means the scanned rows are stale and only the CALLER
    // can re-derive them
    commit(ns, name, commitId, maxRetries = 1) { st =>
      // BLOOM CARRIAGE: replacement files must keep the point-lookup
      // pruning the files they replace had, or repeated rewrites silently
      // degrade a bloom-indexed table to unprunable. Blooms for the added
      // files over the UNION of bloom columns recorded on the removed
      // entries (recorded keys -> columns: timestamp blooms key
      // __tsb_<col>), computed against the expected head — a mismatch
      // aborts the commit anyway, so a wasted job is the worst case
      val bloomCols = st.head.filter(h => h.commitId == expectedHeadCommitId && added.nonEmpty)
        .toSeq.flatMap(_.manifests.filterNot(isDeleteManifest))
        .flatMap(manifestEntriesFull(ns, name, _))
        .filter(e => removed(e.path)).flatMap(_.blooms.keys)
        .map(GraftCatalog.bloomColOf).distinct
      val blooms = st.schema.filter(_ => bloomCols.nonEmpty)
        .fold(Map.empty[String, Map[String, String]])(stagedFileBlooms(ns, name, added, _, bloomCols))
      Change("row-level operation", st.manifest(added, addedStats, blooms).toSeq,
        removedFiles = removed, needsParent = true,
        expectHead = Some(expectedHeadCommitId), region = sourceRegion)
    }
  }

  /** Merge-on-read DELTA commit — the publish half of a MoR row-level
    * operation (`spark.graft.rowlevel.mode=merge-on-read`): append
    * already-landed NEW data files plus POSITION-DELETE files naming
    * the deleted/rewritten rows of EXISTING files, as ONE version. No
    * data file is rewritten: an UPDATE touching k rows costs O(k)
    * delta bytes, the merge-on-read write amplification contract.
    * Manifest order is data first, then `p-` — the positional
    * less-or-equal rule ([[commitDeletePositions]]'s convention): the
    * new deletes could positionally reach the new data but name only
    * pre-existing files. Conditional on `expectedHeadCommitId` exactly
    * like [[commitRewriteFiles]] (strict serializable statements — a
    * concurrent commit may have changed which rows match, so only the
    * caller can re-derive the delta); `referenced` (the files the
    * position deletes name) is additionally validated live. */
  def commitDeltaFiles(ns: String, name: String,
                       expectedHeadCommitId: String,
                       newData: Seq[(String, Long)],
                       dataStats: Map[String, Map[String, (String, String)]],
                       posDeleteFiles: Seq[(String, Long)],
                       referenced: Set[String],
                       sourceRegion: String = "local",
                       commitId: Option[String] = None): Snapshot =
    commit(ns, name, commitId, maxRetries = 1) { st =>
      Change("row-level delta",
        st.manifest(newData, dataStats).toSeq ++ st.manifest(posDeleteFiles, prefix = "p"),
        liveRefs = referenced, needsParent = true,
        expectHead = Some(expectedHeadCommitId), region = sourceRegion)
    }
  /** Merge-on-read scan RESTRICTED to a data-file subset: `files` are
    * read with exactly their applicable delete files applied (list-
    * position rule, same as a full read). The read half of a COW
    * row-level operation — the candidate files, deletes applied, whose
    * rewritten rows [[commitRewriteFiles]] then swaps in. */
  private[catalog] def readFilesMor(ns: String, name: String, snap: Snapshot,
                                    files: Set[String]): DataFrame =
    morScan(ns, name, snap, e => files(e.path))

  /** [[readFilesMor]] carrying row LINEAGE — `_file` (manifest-relative
    * data file) and `_pos` (ordinal within it) columns, the Iceberg
    * metadata-column habit. What a row-level operation's scan reads:
    * the lineage uniquely identifies each scanned row (MERGE's
    * cardinality check, future delta writes). */
  private[catalog] def readFilesMorLineage(ns: String, name: String, snap: Snapshot,
                                           files: Set[String]): DataFrame =
    morScanLineage(ns, name, snap, e => files(e.path))

  /** The one place the internal `__graft_*` position columns become the
    * public `_file`/`_pos` lineage names. */
  private def morScanLineage(ns: String, name: String, snap: Snapshot,
                             keep: ManifestEntry => Boolean): DataFrame =
    morScan(ns, name, snap, keep, carryPosition = true)
      .withColumnRenamed("__graft_file", "_file")
      .withColumnRenamed("__graft_pos", "_pos")

  /** The LATEST version with lineage columns — serves `SELECT _file,
    * _pos FROM t` through the SQL catalog's metadata-column surface. */
  private[graft] def readWithLineage(ns: String, name: String): DataFrame =
    latest(ns, name) match {
      case Some(s) => readFilesMorLineage(ns, name, s,
        dataFiles(ns, name, s).toSet)
      case None =>
        // schema-correct empty frame INCLUDING the lineage columns — a
        // created-but-never-committed table must answer `SELECT _file`
        // with zero rows, not an unresolved column
        val base = tableSchema(ns, name).map(_.fields.toSeq).getOrElse(Seq.empty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(base :+ StructField("_file", StringType) :+
            StructField("_pos", LongType)))
    }

  def backfillStats(ns: String, name: String, maxRetries: Int = 5): (Snapshot, Int) = {
    val head = latest(ns, name).getOrElse(
      throw new IllegalStateException(s"$ns.$name has no committed versions"))
    val schema = tableSchema(ns, name).getOrElse(
      throw new IllegalStateException(
        s"$ns.$name records no schema — nothing to compute stats against"))
    val statless: Seq[(String, Seq[ManifestEntry])] = head.manifests
      .filterNot(isDeleteManifest)
      .flatMap { m =>
        val entries = manifestEntriesFull(ns, name, m)
        if (entries.isEmpty ||
            entries.forall(_.stats.contains(GraftCatalog.RowsStatKey))) None
        else Some(m -> entries)
      }
    if (statless.isEmpty) return (head, 0)
    // ONE distributed stats job over every stat-less file (a replica-
    // synced table can hold hundreds of single-file manifests — one job
    // per manifest would pay scheduling overhead hundreds of times),
    // split back per source manifest afterwards. Files written before a
    // schema evolution null-fill the added columns under the head
    // schema: their count stays exact and all-null columns simply
    // record no bound (never pruned). Existing per-file BLOOMS are
    // carried over — a rewrite must never destroy published secondary
    // stats.
    val allStats = stagedFileStats(ns, name,
      statless.flatMap(_._2).map(e => (e.path, e.sizeBytes)),
      // files spell columns physically; stats key on physical names
      GraftCatalog.physicalSchema(schema))
    val snap = commit(ns, name, maxRetries = maxRetries) { st =>
      val replaced = statless.flatMap { case (m, entries) =>
        st.carried(entries.map(e => e.copy(stats = allStats.getOrElse(e.path, e.stats))))
          .map(m -> _)
      }.toMap
      Change("stats backfill", head.manifests.map(m => replaced.getOrElse(m, m)),
        replaces = true, expectHead = Some(head.commitId), region = head.sourceRegion)
    }
    (snap, statless.size)
  }

  /** Per-file Bloom filters for `bloomCols` over files graft did NOT
    * write (REST-landed files, COW replacements) — one distributed job
    * per column: the k bit positions are a codegen'd
    * projection, exploded and collapsed to ≤ BloomBits distinct ints per
    * file by collect_set (bounded however many rows the file has), then
    * packed into a base64 bitset on the driver. Membership is over the
    * column's CAST-TO-STRING form (type-stable across engines/sessions;
    * pruning only — the residual filter keeps reads exact) — EXCEPT
    * timestamps, which hash their epoch-MICROS string (unix_micros):
    * cast-to-string depends on the writer session's timezone, so a
    * reader in another zone would probe shifted values and silently
    * prune files that hold the key. The probe sides (readWhereEquals,
    * CowPruning) render timestamp probes through [[GraftCatalog
    * .statForm]] — the SAME micros form — which is what makes
    * bucket(n, timestampCol)'s declared "bucket pruning IS the bloom
    * path" contract actually hold for timestamp sources. */
  private def stagedFileBlooms(ns: String, name: String,
                               entries: Seq[(String, Long)],
                               schema: StructType,
                               bloomCols: Seq[String]): Map[String, Map[String, String]] = {
    val cols = bloomCols.filter(c => schema.fieldNames.contains(c))
    if (cols.isEmpty || entries.isEmpty) return Map.empty
    // FULL-path matching, exactly like stagedFileStats' byAbs: landed
    // files from different directories can share a basename — a
    // basename map silently keeps ONE of them and drops every colliding
    // file's bloom (pruning rots, no error)
    val byAbs = entries.map { case (p, _) =>
      tableDir(ns, name).resolve(p).toAbsolutePath.toString -> p }.toMap
    val df = spark.read.schema(schema)
      .parquet(entries.map { case (p, _) => tableDir(ns, name).resolve(p).toString }: _*)
    // versioned key namespace for micros-form timestamp blooms (see
    // GraftCatalog.bloomKeyOf); a REAL column under it would alias a
    // timestamp's bloom and mis-prune — refuse loudly like __pt_/__ptw_
    require(!schema.fieldNames.exists(_.startsWith("__tsb_")),
      "column names starting with '__tsb_' are reserved for timestamp " +
        "bloom keys")
    val m = GraftCatalog.BloomBits
    cols.flatMap { c =>
      // timestamp membership hashes the tz-stable micros form (doc above)
      val isTs = schema.fields.exists(f =>
        f.name == c && f.dataType == TimestampType)
      val hashed =
        if (isTs) unix_micros(col(c)).cast("string")
        else col(c).cast("string")
      val recordKey =
        GraftCatalog.bloomKeyOf(if (isTs) Some(TimestampType) else None, c)
      val positions = array((0 until GraftCatalog.BloomHashes).map(i =>
        pmod(xxhash64(lit(i), hashed), lit(m.toLong)).cast("int")): _*)
      df.select(input_file_name().as("__f"), explode(positions).as("__p"))
        .groupBy(col("__f")).agg(collect_set(col("__p")).as("bits"))
        .collect()
        .flatMap { r =>
          // decode the percent-encoded URI before the match — an
          // encoded warehouse path would otherwise silently skip
          // every bloom (a pruning loss, not a wrong answer, but still)
          val raw0 = r.getString(0)
          val abs = try new java.net.URI(raw0).getPath
                    catch { case _: Exception => raw0 }
          byAbs.get(abs).map { rel =>
            val bytes = new Array[Byte](m / 8)
            r.getSeq[Int](1).foreach(p => bytes(p >> 3) = (bytes(p >> 3) | (1 << (p & 7))).toByte)
            (rel, recordKey, java.util.Base64.getEncoder.encodeToString(bytes))
          }
        }
    }.groupBy(_._1).map { case (rel, xs) =>
      rel -> xs.map(x => x._2 -> x._3).toMap
    }
  }

  // ---- the commit funnel ----
  //
  // Every catalog commit but commitTransaction's journal publish is ONE
  // pending [[Change]] applied by [[commit]] (Iceberg's
  // `SnapshotProducer.commit()` over a `PendingUpdate`): a flavor's
  // public method stages its files through the funnel's [[Stage]], runs
  // its own checks and describes the new version relative to whatever
  // parent the CAS loop lands it on. The funnel owns everything else.

  /** What a commit does to the schema it inherits. */
  private sealed trait SchemaAction
  /** The parent's schema, unchanged. */
  private case object KeepSchema extends SchemaAction
  /** `schema` validated additively against the parent
    * ([[validatedSchemaJson]]; `replacesAll`: no parent file survives). */
  private case class AdditiveSchema(schema: StructType, replacesAll: Boolean = false)
    extends SchemaAction
  /** A schema recorded elsewhere (a source region's), or the parent's when None. */
  private case class ExplicitSchema(json: Option[String]) extends SchemaAction
  /** ALTER TABLE's evolution to `schema` ([[evolvedSchemaJson]]). */
  private case class EvolvedSchema(schema: StructType, expectedPrev: Option[StructType])
    extends SchemaAction

  /** One pending commit, relative to the parent it lands on.
    *  - `op` names the operation in refusals;
    *  - the parent condition: `needsParent`, `expectSeq` (the parent's
    *    seq), `expectHead` (its commit id), `rebaseOn` (a replace of that
    *    version whose later manifests ride on) or `forkSeq` (a
    *    fast-forward of a branch forked there);
    *  - the manifest list: the parent's minus the copy-on-write
    *    `removedFiles`, then `manifests` in order, then one manifest of
    *    the `register`ed landed files the parent lacks. `replaces` drops
    *    the parent's list (a rebase keeps its tail); `adopt` takes
    *    another version's list, counts, schema and properties whole;
    *  - `liveRefs`: data files position deletes name, live in the parent;
    *  - `schema`, `propsSet`/`propsUnset`, `region`, and `idPrefix` for a
    *    generated commit id — the maintenance prefixes come only from
    *    here, never from a caller's id. */
  private case class Change(
      op: String,
      manifests: Seq[String] = Seq.empty,
      register: Seq[String] = Seq.empty,
      removedFiles: Set[String] = Set.empty,
      replaces: Boolean = false,
      adopt: Option[Snapshot] = None,
      liveRefs: Set[String] = Set.empty,
      needsParent: Boolean = false,
      expectSeq: Option[Long] = None,
      expectHead: Option[String] = None,
      rebaseOn: Option[Snapshot] = None,
      forkSeq: Option[Long] = None,
      schema: SchemaAction = KeepSchema,
      propsSet: Map[String, String] = Map.empty,
      propsUnset: Seq[String] = Seq.empty,
      region: String = "local",
      idPrefix: String = "commit-")

  /** A ref's log as one `_meta/` listing reads it: its head (a branch's
    * fork point until its first own commit) and the commits a replayed
    * commit id is looked up in. `ref` None is main. */
  private case class Log(head: Option[Snapshot], commits: Seq[Snapshot])

  private def readLog(ns: String, name: String, ref: Option[String]): Log = ref match {
    case None =>
      val s = snapshots(ns, name)
      Log(s.lastOption, s)
    case Some(b) =>
      val own = branchSnapshots(ns, name, b)
      Log(Some(branchHeadOf(ns, name, b, own)), own)
  }

  /** The files one commit writes, and the head it stages against. Every
    * staged data file and manifest is recorded, so the funnel removes
    * all of them when the commit fails, however far it got — without
    * this they are referenced by no version and accumulate under
    * contention (expiry only reclaims what expired versions reference). */
  private final class Stage(ns: String, name: String, ref: Option[String]) {
    private val staged = scala.collection.mutable.ArrayBuffer.empty[String]
    // manifest -> (files, bytes) of everything written, and the
    // manifests of the current attempt alone
    private val written = scala.collection.mutable.LinkedHashMap.empty[String, (Long, Long)]
    private val attempt = scala.collection.mutable.ArrayBuffer.empty[String]

    /** The pre-staging read of the ref's log (the funnel's replay probe
      * and every flavor's staging share it). */
    lazy val log: Log = readLog(ns, name, ref)
    def head: Option[Snapshot] = log.head
    def parent(op: String): Snapshot = head.getOrElse(throw new IllegalStateException(
      s"$ns.$name has no committed version — a $op needs one"))
    lazy val schema: Option[StructType] = head.flatMap(_.schemaJson).map(structOf)
    lazy val props: Map[String, String] = head.map(_.properties).getOrElse(Map.empty)
    /** logical -> physical column names (empty unless a column was renamed). */
    lazy val physical: Map[String, String] =
      schema.map(GraftCatalog.physicalMap).getOrElse(Map.empty)
    lazy val spec: Seq[GraftCatalog.PartitionField] =
      GraftCatalog.validatedPartitionSpec(s"$ns.$name", props, schema)

    /** [[stageDataFiles]] under the head's properties, recording the
      * staged files. */
    private def data(df: DataFrame, alignCols: Seq[Column] = Seq.empty,
             derived: Seq[(String, Column)] = Seq.empty,
             bloomCols: Seq[String] = Seq.empty): Seq[(String, RowParquetWriter.Written)] = {
      val files = stageDataFiles(ns, name, df, props, alignCols, derived, bloomCols)
      staged ++= files.map(_._1)
      files
    }

    /** Rows staged under the head's physical names with the partition
      * spec's derived stats — partition-aligned when `align` — and the
      * Bloom filters of `bloomCols` (logical names): their manifest. */
    def rows(df: DataFrame, align: Boolean = false,
             bloomCols: Seq[String] = Seq.empty): Option[String] = {
      val files = data(toPhysicalDf(df, schema),
        if (align) GraftCatalog.partitionAlignColumnsOf(spec, schema) else Seq.empty,
        GraftCatalog.partitionDerivedStatsOf(spec, schema),
        bloomCols.map(c => physical.getOrElse(c, c)))
      manifest(entriesOf(files), files.map { case (p, f) => p -> f.stats }.toMap,
        files.map { case (p, f) => p -> f.blooms }.toMap)
    }

    /** A delete file set (`prefix` "d" equality keys, "p" positions)
      * staged from `df`, with its manifest. */
    def deletes(df: DataFrame, prefix: String): Option[String] =
      manifest(entriesOf(data(df)), prefix = prefix)

    /** Position deletes (exactly `file_path`, `pos`) staged as a `p-`
      * manifest, and the data files they name. */
    def positions(df: DataFrame): (Set[String], Option[String]) = {
      require(df.columns.toSeq.sorted == Seq("file_path", "pos"),
        s"position deletes carry exactly (file_path, pos); got ${df.columns.toSeq}")
      (df.select("file_path").distinct().collect().map(_.getString(0)).toSet,
        deletes(df.select(col("file_path"), col("pos").cast("long").as("pos")), "p"))
    }

    /** (path, size) of files already landed under the table dir. */
    def sized(rels: Seq[String]): Seq[(String, Long)] =
      rels.distinct.map(f => f -> Files.size(tableDir(ns, name).resolve(f)))

    /** Externally written files' manifest, with the stats and Bloom
      * filters a property-honoring writer records when a schema is known. */
    def landed(rels: Seq[String]): Option[String] = {
      val entries = sized(rels)
      schema match {
        case Some(s) if entries.nonEmpty => manifest(entries,
          stagedFileStats(ns, name, entries, s,
            GraftCatalog.partitionDerivedStatsOf(spec, schema)),
          stagedFileBlooms(ns, name, entries, s,
            GraftCatalog.writeBloomColumnsOf(props, spec)))
        case _ => manifest(entries)
      }
    }

    /** Landed `(files, kind)` units, one kind-prefixed manifest each, in order. */
    def units(us: Seq[(Seq[String], String)]): Seq[String] =
      us.flatMap { case (fs, kind) =>
        manifest(sized(fs), prefix = GraftCatalog.unitPrefix(kind)) }

    /** One manifest of `entries` (None when there are none). */
    def manifest(entries: Seq[(String, Long)],
                 stats: Map[String, Map[String, (String, String)]] = Map.empty,
                 blooms: Map[String, Map[String, String]] = Map.empty,
                 prefix: String = "m", perAttempt: Boolean = false): Option[String] =
      if (entries.isEmpty) None
      else {
        val rel = writeManifest(ns, name, entries, stats, blooms, prefix)
        written(rel) = (entries.size.toLong, entries.map(_._2).sum)
        if (perAttempt) attempt += rel
        Some(rel)
      }

    /** `entries` re-manifested with their recorded stats and blooms. */
    def carried(entries: Seq[ManifestEntry], perAttempt: Boolean = false): Option[String] =
      manifest(entries.map(e => (e.path, e.sizeBytes)),
        entries.filter(_.stats.nonEmpty).map(e => e.path -> e.stats).toMap,
        entries.filter(_.blooms.nonEmpty).map(e => e.path -> e.blooms).toMap,
        perAttempt = perAttempt)

    /** (files, bytes) of a manifest: this commit's own without a read. */
    def totals(rel: String): (Long, Long) = written.getOrElse(rel, {
      val es = manifestEntries(ns, name, rel)
      (es.size.toLong, es.map(_._2).sum)
    })

    /** Drop the manifests a lost attempt wrote against its parent. */
    def newAttempt(): Unit = {
      attempt.foreach { rel => written -= rel; dropManifest(ns, name, rel) }
      attempt.clear()
    }

    def cleanup(): Unit = {
      GraftCatalog.deleteDataFiles(tableDir(ns, name).toString, staged.iterator,
        spark.sparkContext.hadoopConfiguration)
      written.keys.foreach(dropManifest(ns, name, _))
    }
  }

  /** THE commit funnel: the one path from a pending [[Change]] to a
    * published version on `ref` (main, or a branch). It checks that the
    * table (and branch) exist and that a caller's `commitId` is neither a
    * reserved maintenance prefix nor already committed — the replay
    * probe runs before staging and again in every attempt, each time
    * from the same `_meta/` listing that yields the parent. `stage`
    * stages the change's files and returns it; every CAS attempt then
    * applies it to the freshly read parent ([[nextVersion]]) and
    * [[casCommitAt]] publishes. On any throwable every manifest and
    * data file the change staged is removed. */
  private def commit(ns: String, name: String, commitId: Option[String] = None,
                     ref: Option[String] = None, maxRetries: Int = 5)
                    (stage: Stage => Change): Snapshot = {
    require(tableExists(ns, name), s"no such table $ns.$name")
    ref.foreach(b => require(branchExists(ns, name, b), s"no branch '$b' on $ns.$name"))
    // maintenance prefixes mark ROW-NEUTRAL rewrites the changefeed
    // skips over ([[changesBetween]]'s segmented O(delta) path) — a
    // caller-supplied commitId spoofing one would silently DROP its rows
    // from every downstream MV/CDC consumer
    commitId.foreach(id => require(!GraftCatalog.isMaintenanceCommitId(id),
      s"commit id '$id' uses an engine-reserved maintenance prefix " +
        GraftCatalog.MaintenancePrefixes.mkString("(", "/", ")")))
    // idempotence: a caller-supplied commitId that already committed
    // (streaming batch replay, retried RPC, replayed sync event) must
    // not commit twice
    def probe(log: Log): Unit = commitId.foreach(id =>
      log.commits.find(_.commitId == id).foreach { prior =>
        throw new GraftCatalog.DuplicateCommitException(prior.commitId, prior.seq)
      })
    val st = new Stage(ns, name, ref)
    if (commitId.nonEmpty) probe(st.log)
    try {
      val change = stage(st)
      var registered: Option[Set[String]] = None
      val snap = casCommitAt(ns, name, ref, maxRetries) { log =>
        probe(log)
        st.newAttempt()
        val (next, files) = nextVersion(ns, name, st, change, log.head, commitId)
        registered = files
        next
      }
      registered.foreach(fs => latestFileSet.put((ns, name), (snap.commitId, fs)))
      snap
    } catch { case e: Throwable => st.cleanup(); throw e }
  }

  /** `change` applied to `parent`: the candidate version, and — when the
    * change registered landed files — the file set it commits (the
    * latest-file-set cache entry). */
  private def nextVersion(ns: String, name: String, st: Stage, change: Change,
                          parent: Option[Snapshot], commitId: Option[String])
      : (Snapshot, Option[Set[String]]) = {
    def conflict(why: String): Nothing = throw new java.util.ConcurrentModificationException(
      s"${change.op} of $ns.$name $why")
    val seq = parent.map(_.seq).getOrElse(-1L)
    if (change.needsParent && parent.isEmpty) throw new IllegalStateException(
      s"$ns.$name has no committed version — a ${change.op} needs one")
    change.expectSeq.foreach(e =>
      if (seq != e) conflict(s"expected parent v$e but found v$seq"))
    change.expectHead.foreach(h => if (!parent.exists(_.commitId == h))
      conflict(s"was planned against commit $h but the head is " +
        parent.fold("empty")(p => s"${p.commitId} (v${p.seq})") + " — re-run the operation"))
    change.forkSeq.foreach(f => if (seq != f) throw new GraftCatalog.MergeConflictException(
      s"main of $ns.$name moved to v$seq since the branch forked at v$f"))
    // a rebased replace carries the manifests appended since its base
    val tail = change.rebaseOn.fold(Seq.empty[String]) { b =>
      val par = parent.getOrElse(conflict("lost its table log"))
      def abort(why: String) = conflict(s"rebased on v${b.seq} (head v${par.seq}): $why")
      if (!par.manifests.startsWith(b.manifests)) abort("its manifests were rewritten")
      val t = par.manifests.drop(b.manifests.size)
      if (t.exists(isDeleteManifest)) abort("a delete manifest was added")
      if (par.schemaJson != b.schemaJson) abort("the schema changed")
      t
    }
    // position deletes validated against the parent actually landed on:
    // a concurrent rewrite of the files they name must abort the commit,
    // never publish ordinals over dead files
    if (change.liveRefs.nonEmpty) {
      val live = dataFiles(ns, name, parent.get).toSet
      val stale = change.liveRefs.filterNot(live)
      if (stale.nonEmpty) throw new IllegalArgumentException(
        s"position delete references files not live in $ns.$name v$seq: " +
          stale.take(3).mkString(", "))
    }
    // landed files the parent lacks (a retried sync event must not
    // register a file twice), manifested against THIS parent
    val parentFiles = if (change.register.isEmpty) Set.empty[String] else parentFileSet(ns, name, parent)
    val newFiles = change.register.filterNot(parentFiles)
    val registered = st.manifest(st.sized(newFiles), perAttempt = true)
    // copy-on-write: manifests losing entries are re-written with their
    // survivors in the same list position
    var removed = (0L, 0L)
    val kept = if (change.removedFiles.isEmpty) parent.fold(Seq.empty[String])(_.manifests)
      else {
        val missing = change.removedFiles.diff(dataFiles(ns, name, parent.get).toSet)
        require(missing.isEmpty, s"${change.op} of $ns.$name: removed files not in " +
          s"v$seq: ${missing.take(3).mkString(", ")}")
        parent.get.manifests.flatMap { m =>
          val (gone, survive) =
            if (isDeleteManifest(m)) (Nil, Nil)
            else manifestEntriesFull(ns, name, m).partition(e => change.removedFiles(e.path))
          if (gone.isEmpty) Some(m)
          else {
            removed = (removed._1 + gone.size, removed._2 + gone.map(_.sizeBytes).sum)
            st.carried(survive, perAttempt = true)
          }
        }
      }
    def sum(ms: Seq[String]): (Long, Long) =
      ms.map(st.totals).foldLeft((0L, 0L)) { case ((f, b), (f1, b1)) => (f + f1, b + b1) }
    val (list, files, bytes) = change.adopt match {
      case Some(a) => (a.manifests, a.fileCount, a.totalBytes)
      case None if change.replaces =>
        val l = change.manifests ++ tail ++ registered
        val (f, b) = sum(l)
        (l, f, b)
      case None =>
        val (f, b) = sum(change.manifests ++ registered)
        (kept ++ change.manifests ++ registered,
          parent.fold(0L)(_.fileCount) - removed._1 + f,
          parent.fold(0L)(_.totalBytes) - removed._2 + b)
    }
    val schemaJson = change.adopt.fold(change.schema match {
      case KeepSchema => parent.flatMap(_.schemaJson)
      case AdditiveSchema(s, all) => Some(validatedSchemaJson(ns, name, parent, s, all))
      case ExplicitSchema(j) => j.orElse(parent.flatMap(_.schemaJson))
      case EvolvedSchema(s, prev) => Some(evolvedSchemaJson(ns, name, parent.get, s, prev))
    })(_.schemaJson)
    lazy val parentProps = parent.map(_.properties).getOrElse(Map.empty)
    // a partition spec set here, or a schema evolved under one, must
    // stay valid against the resulting schema — publishing a bad one
    // would brick every later write
    if (change.propsSet.contains(GraftCatalog.PartitionSpecProp) ||
        change.schema.isInstanceOf[EvolvedSchema]) {
      val next = (parentProps ++ change.propsSet) -- change.propsUnset
      if (next.contains(GraftCatalog.PartitionSpecProp))
        GraftCatalog.validatedPartitionSpec(s"$ns.$name", next, schemaJson.map(structOf)): Unit
    }
    val propsJson = change.adopt.fold(
      if (change.propsSet.isEmpty && change.propsUnset.isEmpty) parent.flatMap(_.propsJson)
      else GraftCatalog.mergedPropsJson(parentProps, change.propsSet, change.propsUnset)
    )(_.propsJson)
    (Snapshot(seq + 1, commitId.getOrElse(s"${change.idPrefix}${UUID.randomUUID()}"),
      parent.map(_.commitId), System.currentTimeMillis(), list, change.region,
      files, bytes, schemaJson, propsJson),
      if (change.register.isEmpty) None else Some(parentFiles ++ newFiles))
  }

  // Runs between an attempt's read of its parent and its link, with the
  // candidate version: a test lands commits and an expiry in that window.
  @volatile private[graft] var beforeLink: Snapshot => Unit = _ => ()

  /** The CAS publish under [[commit]], its only caller: `mkSnapshot`
    * builds the candidate from the freshly read log of `ref`; the atomic
    * create-if-absent hard link is the commit point (on an object store
    * this becomes a conditional PUT / If-None-Match — same contract).
    * The mechanics are identical for main `_meta/vNNNNN.json` and a
    * branch log; main commits also honor multi-table transaction
    * barriers. `commitTransaction` does not come through here: it
    * publishes through its journal. */
  private def casCommitAt(ns: String, name: String, ref: Option[String], maxRetries: Int)
                         (mkSnapshot: Log => Snapshot): Snapshot = {
    def target(seq: Long): Path =
      ref.fold(versionFile(ns, name, seq))(branchVersionFile(ns, name, _, seq))
    var attempt = 0
    while (attempt < maxRetries) {
      // main commits resolve any multi-table transaction barrier before
      // EVERY attempt (complete a published one, abort an expired one,
      // wait out a fresh one) — the cross-table atomicity handshake
      if (ref.isEmpty) awaitTxnBarrier(ns, name)
      val snap = mkSnapshot(readLog(ns, name, ref))
      beforeLink(snap)
      val tmp = metaDir(ns, name).resolve(s".tmp-${UUID.randomUUID()}.json")
      Files.write(tmp, writeJson(snap).getBytes(StandardCharsets.UTF_8))
      // final pre-link re-check: a transaction barrier that appeared
      // AFTER the attempt began (while mkSnapshot ran) must win — without
      // this, a committer stalled past the coordinator's grace window
      // could take a slot its journal targets and poison the
      // transaction's completion. Narrows the race to the two syscalls
      // below.
      if (ref.isEmpty && Files.isRegularFile(txnBarrierFile(ns, name))) {
        Files.deleteIfExists(tmp)
        attempt += 1
        // the next attempt waits the transaction out properly
      } else {
        try {
          Files.createLink(target(snap.seq), tmp)
          Files.deleteIfExists(tmp)
          // a parent read before an expiry can name a slot the expiry
          // has since freed: the link then succeeds BELOW the head. Expiry
          // deletes oldest first, so a slot is free only once its
          // predecessor is gone too — while that one stands, the link is
          // a plain commit and no listing is paid. A version above the
          // link whose parent IS this commit is a racing committer that
          // built on it (the first commit of a table has no predecessor
          // either), not a sign of a freed slot
          val resurrected =
            (snap.seq == 0 || !Files.exists(target(snap.seq - 1))) && {
              val log = readLog(ns, name, ref)
              log.head.exists(_.seq > snap.seq) && !log.commits.exists(s =>
                s.seq == snap.seq + 1 && s.parentId.contains(snap.commitId))
            }
          if (!resurrected) return snap
          snapshotCache.remove(target(snap.seq).toAbsolutePath)
          Files.deleteIfExists(target(snap.seq))
          attempt += 1
        } catch {
          case _: java.nio.file.FileAlreadyExistsException =>
            Files.deleteIfExists(tmp)
            attempt += 1 // lost the race — re-read parent and retry (C12)
            backoff(attempt)
        }
      }
    }
    throw new IllegalStateException(s"commit conflict after $maxRetries retries on $ns.$name")
  }

  private def structOf(json: String): StructType =
    DataType.fromJson(json).asInstanceOf[StructType]

  /** Externally written files resolve columns by LOGICAL name: on a
    * column-mapped (renamed) table they would silently read the renamed
    * column as null — refused. */
  private def requireLogicalNames(ns: String, name: String, st: Stage): Unit =
    require(st.physical.forall { case (l, p) => l == p },
      s"$ns.$name carries renamed (column-mapped) columns — externally-" +
        "written files resolve by LOGICAL name and would silently read " +
        "the renamed column as null; compact() re-materializes the " +
        "physical names first")

  /** Every equality delete of a table uses one column set, so the
    * scan-side anti-join stays a single join. */
  private def requireEqualityColumns(ns: String, name: String, parent: Snapshot,
                                     cols: Set[String]): Unit =
    equalityDeleteFileEntries(ns, name, parent).headOption.foreach { case (p, _) =>
      val prior = parquetFileSchema(ns, name, p).fieldNames.toSet
      require(prior == cols,
        s"equality-delete columns $cols differ from the table's existing $prior")
    }

  /** C3/C12: append `df` as a new version with optimistic CAS on the
    * version number. Data files are written, recording their stats and
    * blooms as they go, by the tasks of ONE Spark job — or, for a
    * driver-local batch that fits one file, on the driver with no job
    * ([[stageDataFiles]]); one
    * manifest records the added files; the version JSON carries pointers
    * and summary stats only. Schema is validated additively against the
    * current version and recorded (a mismatched append is REJECTED before
    * any data is staged). `toBranch` appends to a branch's log instead
    * ([[commitAppendToBranch]]). */
  def commitAppend(ns: String, name: String, df: DataFrame,
                   sourceRegion: String = "local", maxRetries: Int = 5,
                   commitId: Option[String] = None,
                   bloomCols: Seq[String] = Seq.empty,
                   alignSpec: Boolean = false,
                   propsSet: Map[String, String] = Map.empty,
                   toBranch: Option[String] = None): Snapshot =
    commit(ns, name, commitId, toBranch, maxRetries) { st =>
      // fail fast on an incompatible schema before staging any data; the
      // funnel re-validates against the re-read parent on every attempt
      validatedSchemaJson(ns, name, st.head, df.schema)
      // property-honoring writers (SQL INSERT, compact) align files to
      // partition tuples; raw commitAppend keeps the caller's layout.
      // propsSet rides the SAME snapshot as the data (a derived
      // consumer's watermark must never be a second commit — a crash
      // between the two would strand the batch watermark-less)
      Change("append", st.rows(df, alignSpec, bloomCols).toSeq,
        schema = AdditiveSchema(df.schema), propsSet = propsSet, region = sourceRegion)
    }

  /** Overwrite commit: the new version references ONLY the files written
    * from `df` (previous files become unreachable → reclaimed by
    * expireSnapshots). Used by compaction and log checkpointing.
    *
    * `expectedParentSeq` turns the overwrite into a conditional commit:
    * if a concurrent append landed since the caller derived `df`, the
    * CAS aborts instead of silently dropping that append's rows (the
    * compact-vs-append race).
    *
    * `rebaseOn` = Some(seq) is the rebasing form of the same guard
    * (Iceberg's `RewriteFiles` validation): `df` replaces exactly
    * version `seq`'s rows, and every manifest appended since `seq`
    * rides on after the new one, so a racing append survives and the
    * replace still lands. It aborts with a
    * `ConcurrentModificationException` only when `seq`'s manifests were
    * rewritten meanwhile (another replace, a rollback), when a delete
    * manifest was added since (it could target rows `df` rewrote), or
    * when the schema changed since. */
  def commitReplace(ns: String, name: String, df: DataFrame,
                    sourceRegion: String = "local", maxRetries: Int = 5,
                    expectedParentSeq: Option[Long] = None,
                    bloomCols: Seq[String] = Seq.empty,
                    alignSpec: Boolean = false,
                    propsSet: Map[String, String] = Map.empty,
                    propsUnset: Seq[String] = Seq.empty,
                    maintenance: Boolean = false,
                    rebaseOn: Option[Long] = None): Snapshot = {
    require(expectedParentSeq.isEmpty || rebaseOn.isEmpty,
      "a replace is either strict (expectedParentSeq) or rebasing (rebaseOn)")
    commit(ns, name, maxRetries = maxRetries) { st =>
      val base = rebaseOn.map(seq => st.log.commits.find(_.seq == seq).getOrElse(
        throw new java.util.ConcurrentModificationException(
          s"rebasing replace of $ns.$name: base v$seq is gone")))
      validatedSchemaJson(ns, name, st.head, df.schema, replacesAll = true)
      // even a full overwrite keeps the physical mapping: the recorded
      // schema carries it forward, and normalizing here would desynchronize
      // a COW statement's kept files from the rewrite's. propsSet rides
      // the SAME snapshot as the data (a materialized view's refresh
      // watermark must never be a second commit)
      Change("replace", st.rows(df, alignSpec, bloomCols).toSeq, replaces = true,
        expectSeq = expectedParentSeq, rebaseOn = base,
        schema = AdditiveSchema(df.schema, replacesAll = true),
        propsSet = propsSet, propsUnset = propsUnset, region = sourceRegion,
        // `maintenance` = the caller ASSERTS this replace is row-neutral
        // (compaction): the reserved prefix lets the changefeed's
        // segmented path skip the commit
        idPrefix = if (maintenance) "compact-" else "commit-")
    }
  }

  /** Merge-on-read equality DELETE (Iceberg v2 delete-file semantics):
    * commit the KEYS to delete as a small delete file + `d-` manifest —
    * O(matched keys) I/O, no data file is rewritten. Every read of this
    * and later versions anti-joins the accumulated delete set back out;
    * [[compact]] materializes the deletes and drops the delete files
    * from the new version. Earlier versions time-travel to their own
    * delete state (a v0 read still sees everything).
    *
    * `keys`' columns define the equality columns (they must exist in the
    * table schema, and every delete commit of a table must use the same
    * set so the scan-side anti-join stays a single join). Deleting a key
    * that matches nothing is a no-op, which makes replayed deletes safe.
    *
    * At 100 TB this is THE row-deletion path: GDPR/TTL erasure over a
    * petabyte table costs one small commit now and folds into the next
    * scheduled compaction, instead of an immediate full rewrite. */
  def commitDelete(ns: String, name: String, keys: DataFrame,
                   sourceRegion: String = "local", maxRetries: Int = 5,
                   commitId: Option[String] = None): Snapshot =
    commit(ns, name, commitId, maxRetries = maxRetries) { st =>
      val parent = st.parent("delete")
      val tblFields = st.schema.map(_.fieldNames.toSet).getOrElse(Set.empty[String])
      keys.columns.foreach(c => require(tblFields.isEmpty || tblFields.contains(c),
        s"delete key column $c not in $ns.$name schema $tblFields"))
      // delete files live in PHYSICAL column names (they anti-join the raw
      // scan): map the incoming keys, and compare against prior delete
      // files in physical terms too
      val pkeys = toPhysicalDf(keys, st.schema)
      requireEqualityColumns(ns, name, parent, pkeys.columns.toSet)
      Change("delete", st.deletes(pkeys, "d").toSeq, needsParent = true,
        region = sourceRegion)
    }

  /** MoR POSITION delete (Iceberg v2's second delete-file kind; the
    * reference file model's POSITION_DELETE content type,
    * `ContentType.java:2`): erase specific PHYSICAL ROWS — (data file,
    * row ordinal) pairs — without rewriting any data file. `positions`
    * must have exactly the spec's two columns: `file_path` (the
    * table-RELATIVE data file path) and `pos` (0-based row ordinal
    * within that file). The scan side resolves ordinals from Spark's
    * own `_metadata.row_index`, so no row-id column is ever
    * materialized.
    *
    * Position deletes complement equality deletes where the target is a
    * physical row, not a key: redacting an individual bad record among
    * key-duplicates, applying an external audit's (file, offset)
    * findings, or replaying a foreign Iceberg position-delete file.
    * Use [[positionsWhere]] to derive positions from a predicate.
    *
    * The `p-` manifest is appended AFTER every parent manifest, so
    * under [[morScan]]'s positional rule it applies to all data
    * committed at or before it — Iceberg's position rule (data
    * sequence <= delete sequence), which differs from equality's
    * strictly-less: a position delete CAN name rows of its own commit's
    * files when composed manually, and later appends are never
    * affected. Referencing a file that is not live in the parent
    * version refuses loudly (a stale position set silently erasing
    * nothing is how audit replays rot). */
  def commitDeletePositions(ns: String, name: String, positions: DataFrame,
                            sourceRegion: String = "local", maxRetries: Int = 5,
                            commitId: Option[String] = None): Snapshot =
    commit(ns, name, commitId, maxRetries = maxRetries) { st =>
      st.parent("position delete")
      val (referenced, manifest) = st.positions(positions)
      Change("position delete", manifest.toSeq, liveRefs = referenced,
        needsParent = true, region = sourceRegion)
    }

  /** (file_path, pos) of every CURRENT-version row matching `cond` —
    * the predicate-to-positions bridge for [[commitDeletePositions]]
    * (read with Spark's `_metadata` columns; file paths come back
    * table-relative, ready to commit). The scan applies existing
    * deletes first, so already-erased rows are never re-targeted. */
  def positionsWhere(ns: String, name: String, cond: Column): DataFrame = {
    val snap = latest(ns, name).getOrElse(
      throw new IllegalStateException(s"$ns.$name has no committed versions"))
    morScan(ns, name, snap, _ => true, carryPosition = true)
      .filter(cond)
      .select(col("__graft_file").as("file_path"), col("__graft_pos").as("pos"))
  }

  /** Atomic MERGE/upsert: delete the incoming rows' keys and append the
    * rows in ONE commit. The delete manifest is ordered BEFORE the data
    * manifest in the snapshot's manifest list, so under [[morScan]]'s
    * sequence rule it erases prior versions of the keys but never the
    * rows landing with it — Iceberg v2's upsert-as-equality-delete
    * pattern, atomic because a single CAS publishes both manifests.
    *
    * Unmatched keys simply delete nothing (INSERT); matched keys are
    * replaced wholesale (UPDATE). Cost is O(|rows|) staging plus the
    * scan-side anti-join — no data file is rewritten, which is what
    * makes per-commit CDC ingest into a 100 TB table affordable. */
  def commitUpsert(ns: String, name: String, rows: DataFrame, keyCols: Seq[String],
                   sourceRegion: String = "local", maxRetries: Int = 5,
                   commitId: Option[String] = None): Snapshot =
    commitKeyed(ns, name, rows, keyCols, None, sourceRegion, maxRetries, commitId)

  /** CDC-batch apply — the replica-side MERGE of a change feed: ONE
    * atomic commit that equality-deletes (`deleteKeys` ∪ the incoming
    * rows' keys) and appends `rows`. An UPDATE arrives as
    * delete(old)+insert(new) on the same key and resolves correctly
    * because the delete manifest orders BEFORE the data manifest
    * ([[commitUpsert]]'s positional rule); a pure DELETE erases its key;
    * a pure INSERT upserts. Single CAS publish ⇒ a replayed batch is
    * all-or-nothing, idempotent via `commitId`. Cost O(|batch|) — no
    * data file rewritten, which is what keeps a 100 TB replica current
    * from a change stream. */
  def commitCdcApply(ns: String, name: String, rows: DataFrame,
                     deleteKeys: DataFrame, keyCols: Seq[String],
                     sourceRegion: String = "local", maxRetries: Int = 5,
                     commitId: Option[String] = None,
                     propsSet: Map[String, String] = Map.empty): Snapshot = {
    require(deleteKeys.columns.toSeq.sorted == keyCols.sorted,
      s"deleteKeys must carry exactly $keyCols, got ${deleteKeys.columns.toSeq}")
    commitKeyed(ns, name, rows, keyCols, Some(deleteKeys), sourceRegion, maxRetries,
      commitId, propsSet)
  }

  /** The one body of [[commitUpsert]] and [[commitCdcApply]]: a `d-`
    * manifest of the rows' keys (plus `deleteKeys`) ordered BEFORE the
    * rows' own manifest, so the incoming rows outlive their key-purge.
    * Keys against an EMPTY table erase nothing and are not staged (an
    * update's delete(old) half targets a row this replica never held —
    * refusing would deadlock a stream on replay of its first batch). A
    * CDC batch is a PROPERTY-HONORING writer like the SQL INSERT path: a
    * partitioned/bloom-indexed replica keeps its declared layout batch
    * over batch — layout is table state, not a writer courtesy. */
  private def commitKeyed(ns: String, name: String, rows: DataFrame, keyCols: Seq[String],
                          deleteKeys: Option[DataFrame], sourceRegion: String,
                          maxRetries: Int, commitId: Option[String],
                          propsSet: Map[String, String] = Map.empty): Snapshot = {
    require(keyCols.nonEmpty && keyCols.forall(rows.columns.contains),
      s"key columns $keyCols must be a subset of ${rows.columns.toSeq}")
    val cdc = deleteKeys.nonEmpty
    commit(ns, name, commitId, maxRetries = maxRetries) { st =>
      validatedSchemaJson(ns, name, st.head, rows.schema)
      val purge = st.head.flatMap { parent =>
        val pKeyCols = keyCols.map(c => st.physical.getOrElse(c, c))
        requireEqualityColumns(ns, name, parent, pKeyCols.toSet)
        st.deletes((rows +: deleteKeys.toSeq)
          .map(toPhysicalDf(_, st.schema).select(pKeyCols.map(col): _*))
          .reduce(_ unionByName _).distinct(), "d")
      }
      Change(if (cdc) "cdc apply" else "upsert",
        purge.toSeq ++ st.rows(rows, align = cdc,
          if (cdc) GraftCatalog.writeBloomColumnsOf(st.props, st.spec) else Seq.empty),
        schema = AdditiveSchema(rows.schema), propsSet = propsSet, region = sourceRegion)
    }
  }

  /** A scan of `entries` (table-relative path, recorded size) planned
    * from the manifests alone: a `HadoopFsRelation` over a
    * [[ManifestFileIndex]] of the qualified paths, read under `schema`
    * (nullable at every depth, as `DataSource` reads a user schema) —
    * no existence probe, no listing, no listing job. `_metadata`
    * columns resolve as on any file scan, except
    * `_metadata.file_modification_time`, which reads 0 (nothing graft
    * reads). Without a recorded schema the files are read through
    * `spark.read.parquet`, which infers it. */
  private def scanFiles(ns: String, name: String, entries: Seq[(String, Long)],
                        schema: Option[StructType]): DataFrame =
    schema match {
      case Some(st) =>
        val dataSchema = GraftCatalog.erasedNullability(
          CharVarcharUtils.replaceCharVarcharWithStringInSchema(st)).asInstanceOf[StructType]
        spark.baseRelationToDataFrame(HadoopFsRelation(fileIndex(ns, name, entries),
          new StructType(), dataSchema, None, new ParquetFileFormat, Map.empty)(spark))
      case None =>
        spark.read.parquet(entries.map(e => tableDir(ns, name).resolve(e._1).toString): _*)
    }

  /** A [[ManifestFileIndex]] of table-relative `entries` (path, recorded
    * size), qualified against the table's file system. */
  private def fileIndex(ns: String, name: String, entries: Seq[(String, Long)]): ManifestFileIndex = {
    val fs = new HPath(tableDir(ns, name).toString)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    new ManifestFileIndex(entries.map { case (rel, size) =>
      fs.makeQualified(new HPath(tableDir(ns, name).resolve(rel).toString)) -> size })
  }

  /** The rows of the data files listed by `manifests` (data manifests of
    * `snap`), read ON THE DRIVER through Spark's own parquet reader under
    * the version's recorded schema ([[ManifestFileIndex.readOnDriver]]):
    * no job, no listing — the read-side twin of driver-side staging. For
    * metadata-scale logs only: the service's incremental `_system` views
    * read exactly the manifests a head carries beyond theirs. */
  private[graft] def localRows(ns: String, name: String, snap: Snapshot,
                               manifests: Seq[String]): Seq[Row] = {
    require(!manifests.exists(isDeleteManifest),
      s"$ns.$name: a driver-side read covers data manifests only")
    val schema = GraftCatalog.erasedNullability(snap.schemaJson
      .map(DataType.fromJson(_)).getOrElse(new StructType())).asInstanceOf[StructType]
    val physical = CharVarcharUtils.replaceCharVarcharWithStringInSchema(
      GraftCatalog.physicalSchema(schema))
    val toRow = CatalystTypeConverters.createToScalaConverter(schema)
    val rows = Vector.newBuilder[Row]
    ManifestFileIndex.readOnDriver(spark, new ParquetFileFormat, physical, physical, Map.empty,
      fileIndex(ns, name, manifests.flatMap(manifestEntries(ns, name, _))).readFiles) { r =>
      rows += toRow(r).asInstanceOf[Row]
    }
    rows.result()
  }

  /** The Spark schema one parquet file's footer records (the schema
    * `spark.read.parquet` would infer from it), read on the driver. */
  private def parquetFileSchema(ns: String, name: String, rel: String): StructType = {
    val conf = spark.sparkContext.hadoopConfiguration
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new HPath(tableDir(ns, name).resolve(rel).toString), conf))
    try {
      val meta = reader.getFileMetaData
      Option(meta.getKeyValueMetaData.get(ParquetReadSupport.SPARK_METADATA_KEY))
        .map(DataType.fromJson(_).asInstanceOf[StructType])
        .getOrElse(new ParquetToSparkSchemaConverter(conf).convert(meta.getSchema))
    } finally reader.close()
  }

  /** The merge-on-read scan: group data manifests by the set of delete
    * manifests committed AFTER them and anti-join exactly that set —
    * Iceberg's sequence-number rule, realized through the snapshot's
    * ORDERED manifest list (append-type commits only ever append to it,
    * so list position IS commit order; replaces reset it and carry no
    * deletes). A key re-appended after its delete therefore survives,
    * and an upsert's own rows are never erased by the delete it ships
    * with. POSITION deletes ((file_path, pos) rows, `p-` manifests)
    * ride the same positional rule — a `p-` manifest is placed AFTER
    * the data manifests of its own commit, so "applies to earlier list
    * positions" realizes Iceberg's position rule (data sequence <=
    * delete sequence: position deletes CAN target rows committed with
    * them). The positional anti-join keys on the scan's own
    * `_metadata.file_path`/`row_index` columns — no data rewrite, no
    * row-id column materialized in the files. `keep` prunes data
    * entries (stats/bloom scan planning); delete files are always read
    * in full. The delete side is small, so each epoch's anti-joins
    * broadcast under the scan — deletes cost a broadcast, never a
    * table shuffle. Every file list — data, position- and
    * equality-delete files — is planned from the manifests
    * ([[scanFiles]]): planning a read lists nothing and starts no job,
    * however many files the version holds. */
  private def morScan(ns: String, name: String, snap: Snapshot,
                      keep: ManifestEntry => Boolean,
                      carryPosition: Boolean = false): DataFrame = {
    val schema = snap.schemaJson.map(DataType.fromJson(_).asInstanceOf[StructType])
    def emptySchema = schema.getOrElse(StructType(Seq.empty))
    def emptyDf = {
      val st =
        if (!carryPosition) emptySchema
        else StructType(emptySchema.fields.toSeq :+
          StructField("__graft_file", StringType) :+ StructField("__graft_pos", LongType))
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], st)
    }
    // the scan (and the delete-file anti-joins below) runs in PHYSICAL
    // column names — what every era's files actually spell; the one
    // alias back to THIS snapshot's logical names happens at the end,
    // which is what makes RENAME COLUMN metadata-only and lets time
    // travel read each version under its own names
    val physical = schema.map(GraftCatalog.physicalSchema)
    val indexed = snap.manifests.zipWithIndex
    val delsOrdered = indexed.filter(p => isDeleteManifest(p._1))
    // scan-side relative path: _metadata.file_path is URI-ENCODED
    // (space -> %20, verified empirically), so the match token must be
    // the table dir's ENCODED URI path, and the extracted rel is
    // decoded back to the raw form manifests store ('+' is literal in
    // URIs but URLDecoder would eat it — escape first). `_metadata`
    // resolves only on the scan relation itself, so the (file, pos)
    // columns are materialized AT the scan and carried through the
    // joins — both for the positional anti-join and for carryPosition
    // output (positionsWhere)
    val dirToken = {
      val t = tableDir(ns, name).toAbsolutePath.toUri.getRawPath
      if (t.endsWith("/")) t else t + "/"
    }
    val needsPos = carryPosition || delsOrdered.exists(p => isPosDeleteManifest(p._1))
    val parts = indexed.filterNot(p => isDeleteManifest(p._1))
      .map { case (m, i) => (m, delsOrdered.count(_._2 > i)) }
      .groupBy(_._2).toSeq.sortBy(_._1)
      .flatMap { case (nAfter, mans) =>
        val files = mans.map(_._1)
          .flatMap(manifestEntriesFull(ns, name, _)).filter(keep)
          .map(e => e.path -> e.sizeBytes)
        if (files.isEmpty) None
        else {
          val scan = scanFiles(ns, name, files, physical)
          // reserved names: a user table may legitimately carry columns
          // called file_path/pos (inventory fixtures do)
          val base =
            if (!needsPos) scan
            else scan
              .withColumn("__graft_file",
                url_decode(regexp_replace(
                  substring_index(col("_metadata.file_path"), dirToken, -1),
                  "\\+", "%2B")))
              .withColumn("__graft_pos", col("_metadata.row_index"))
          val (posMans, eqMans) = delsOrdered.takeRight(nAfter).map(_._1)
            .partition(isPosDeleteManifest)
          val eqFiles = eqMans.flatMap(manifestEntries(ns, name, _))
          val posFiles = posMans.flatMap(manifestEntries(ns, name, _))
          val afterPos =
            if (posFiles.isEmpty) base
            else base.join(scanFiles(ns, name, posFiles, Some(GraftCatalog.PosDeleteSchema))
                .select(col("file_path").as("__graft_file"),
                  col("pos").as("__graft_pos")),
              Seq("__graft_file", "__graft_pos"), "left_anti")
          val applied =
            if (eqFiles.isEmpty) afterPos
            else {
              // equality-delete files record no schema: their key columns
              // are read off one footer, on the driver
              val d = scanFiles(ns, name, eqFiles,
                Some(parquetFileSchema(ns, name, eqFiles.head._1)))
              afterPos.join(d, d.columns.toSeq, "left_anti")
            }
          Some(if (needsPos && !carryPosition)
                 applied.drop("__graft_file", "__graft_pos")
               else applied)
        }
      }
    if (parts.isEmpty) emptyDf
    else {
      val raw = parts.reduce(_ unionByName _)
      schema.filter(GraftCatalog.hasColumnMapping) match {
        case Some(st) =>
          // the PhysicalKey stays in the COMMIT LOG, never in read
          // output — a result written into another table must not
          // smuggle this table's parquet spellings along
          val dataCols = st.fields.toSeq.map(f =>
            col(GraftCatalog.physicalName(f))
              .as(f.name, GraftCatalog.withoutPhysical(f).metadata))
          val extra =
            if (carryPosition) Seq(col("__graft_file"), col("__graft_pos"))
            else Seq.empty
          raw.select(dataCols ++ extra: _*)
        case None => raw
      }
    }
  }

  /** Rollback: publish a NEW version whose manifest list is exactly a
    * prior version's (Iceberg `rollback_to_snapshot`). Pure metadata —
    * no data file is read, written, or deleted, so rolling a 100 TB
    * table back from a bad commit is O(1); the bad version stays in
    * history (auditable, still time-travelable) until expiry reclaims
    * whatever only it references. CAS-published like every commit, so a
    * concurrent append either lands before (and is rolled back too) or
    * retries on top of the rollback — never silently lost. */
  def rollbackTo(ns: String, name: String, seq: Long,
                 sourceRegion: String = "local", maxRetries: Int = 5): Snapshot =
    commit(ns, name, maxRetries = maxRetries) { st =>
      val target = st.log.commits.find(_.seq == seq).getOrElse(throw new IllegalArgumentException(
        s"no version $seq of $ns.$name to roll back to"))
      Change("rollback", adopt = Some(target), region = sourceRegion)
    }

  /** Bin-pack compaction (the reference docs' small-file control,
    * 256MB–1GB targets; rewriteDataFiles in Iceberg terms): rewrite the
    * current version into ceil(totalBytes / targetBytes) files via one
    * distributed repartition, committed as an overwrite. Old files stay
    * reachable from old versions until expireSnapshots reclaims them. */
  def compact(ns: String, name: String, targetFileBytes: Long): Snapshot = {
    // EVERY compaction honors the table's declared layout — the
    // partition spec's clustering columns first, then
    // `write.sort-columns` — because an unclustered rewrite would
    // silently destroy it (full-range bounds on every new file =
    // pruning dead); this is also what the SQL CALL system.compact
    // path reaches. ONE head read serves spec + sort + schema.
    val snap = latest(ns, name)
    val props = snap.map(_.properties).getOrElse(Map.empty)
    val schema = snap.flatMap(_.schemaJson)
      .map(DataType.fromJson(_).asInstanceOf[StructType])
    val pspec = GraftCatalog.validatedPartitionSpec(s"$ns.$name", props, schema)
    val exprs = pspec.map(GraftCatalog.partitionClusterColumn(_)) ++
      GraftCatalog.validatedSortColumns(s"$ns.$name", props, schema).map(col)
    // thread THIS head into compactWith: deriving the layout from one
    // read and CAS-ing against a SECOND would let a spec/sort
    // TBLPROPERTIES change landing between the reads commit a rewrite
    // clustered under the stale layout (the CAS, keyed on the newer
    // read, would still succeed) — anchoring expectedParentSeq on the
    // layout-defining snapshot makes the concurrent change abort the
    // rewrite instead
    if (exprs.nonEmpty)
      compactWith(ns, name, targetFileBytes, (df, parts) =>
        df.repartitionByRange(parts, exprs: _*).sortWithinPartitions(exprs: _*),
        alignSpec = pspec.nonEmpty, head = snap)
    else
      compactWith(ns, name, targetFileBytes,
        (df, parts) => df.repartition(parts), head = snap)
  }

  /** [[compact]] sized by the table's own `write.target-file-size-bytes`
    * TBLPROPERTY (the Iceberg knob name), default 512 MiB — the
    * maintenance-job form: one scheduled `compact(ns, t)` per table,
    * each table's target riding its own metadata instead of job
    * arguments. `write.sort-columns` applies like on every compaction. */
  def compact(ns: String, name: String): Snapshot =
    compact(ns, name, targetFileSizeBytes(ns, name))

  /** The table's `write.sort-columns` property as a validated column
    * list (empty when unset; unknown columns refuse loudly — a typo'd
    * clustering knob silently doing nothing is how pruning rots).
    * Property values are LOGICAL names: after RENAME COLUMN the stale
    * property refuses the next INSERT with the column list in the
    * message — update the property (Iceberg tracks sort orders by
    * field-id and survives renames; a name-keyed property that silently
    * stopped clustering would be worse than the loud stop). */
  def sortColumns(ns: String, name: String): Seq[String] = {
    val snap = latest(ns, name)
    GraftCatalog.validatedSortColumns(s"$ns.$name",
      snap.map(_.properties).getOrElse(Map.empty),
      snap.flatMap(_.schemaJson)
        .map(DataType.fromJson(_).asInstanceOf[StructType]))
  }

  /** The table's `write.target-file-size-bytes` property (512 MiB when
    * unset); malformed values refuse loudly rather than silently
    * compacting to a default. */
  def targetFileSizeBytes(ns: String, name: String): Long =
    GraftCatalog.targetFileSizeOf(s"$ns.$name", tableProperties(ns, name))

  /** Whether work over `bytes` of this table runs on the driver
    * ([[GraftCatalog.driverScale]] under the table's current properties). */
  def driverScale(ns: String, name: String, bytes: Long): Boolean =
    GraftCatalog.driverScale(s"$ns.$name", tableProperties(ns, name), bytes)

  /** Metadata-only MIN/MAX of a prunable column: fold the per-file
    * bounds the commit job recorded — exact (file bounds ARE the file's
    * min/max), zero data reads, same contract as [[countFast]]: None
    * when the version has delete manifests, any file lacks bounds for
    * the column (all-null file, foreign commit), the column is not
    * stat-recorded, or it is a string column with a bound that may be a
    * cut ([[GraftCatalog.stringBounds]]: a prefix or a rounded-up prefix
    * is not the file's min or max) — callers fall back to a scan.
    * Numeric columns compare numerically (bounds are stored as strings). */
  def minMaxFast(ns: String, name: String, column: String): Option[(String, String)] =
    latest(ns, name).flatMap { snap =>
      if (snap.manifests.exists(isDeleteManifest)) None
      else {
        // a recorded-zero-row file (SQL CREATE TABLE's empty v0 part,
        // an empty replace) constrains no bound — requiring stats of it
        // would silence minMaxFast for every SQL-created table
        val entries = snap.manifests.filterNot(isDeleteManifest)
          .flatMap(manifestEntriesFull(ns, name, _))
          .filterNot(_.stats.get(GraftCatalog.RowsStatKey).exists(_._1 == "0"))
        if (entries.isEmpty) None
        else {
          // hoisted: physKeyOf parses the schema JSON — once, not per entry
          val statKey = physKeyOf(snap)(column)
          val bounds = entries.map(_.stats.get(statKey))
          if (bounds.exists(_.isEmpty)) None
          else {
            val dt = snap.schemaJson
              .map(DataType.fromJson(_).asInstanceOf[StructType])
              .flatMap(_.fields.find(_.name == column)).map(_.dataType)
            val numeric = dt.exists(_.isInstanceOf[NumericType])
            if (dt.contains(StringType) &&
                bounds.exists(b => GraftCatalog.mayBeCut(b.get._1) || GraftCatalog.mayBeCut(b.get._2))) None
            // a double column can record "NaN"/"Infinity" bounds (same
            // guard readWhereAll carries) — metadata min/max is then
            // ill-defined; answer None and let the caller scan
            else if (numeric && bounds.exists(b =>
                  scala.util.Try(BigDecimal(b.get._1)).isFailure ||
                  scala.util.Try(BigDecimal(b.get._2)).isFailure)) None
            else {
              // strings fold in UTF-8 byte order, Spark's string order (a
              // Java String compare puts U+E000..U+FFFF above emoji)
              implicit val ord: Ordering[String] =
                if (numeric) Ordering.by((s: String) => BigDecimal(s))
                else Ordering.by((s: String) => org.apache.spark.unsafe.types.UTF8String.fromString(s))
              Some((bounds.map(_.get._1).min, bounds.map(_.get._2).max))
            }
          }
        }
      }
    }

  /** Shared compaction core: size the rewrite off the current version,
    * let `layout` choose the clustering for the computed partition
    * count, publish as a CAS-conditional replace — an append landing
    * between the read and the publish aborts the compaction (caller
    * retries) instead of being silently dropped by the replacing
    * snapshot. */
  private def compactWith(ns: String, name: String, targetFileBytes: Long,
                          layout: (DataFrame, Int) => DataFrame,
                          alignSpec: Boolean = false,
                          head: Option[Snapshot] = None)
      : Snapshot = {
    // `head` = the snapshot the CALLER derived its layout from; the CAS
    // below anchors on it so a layout change racing the rewrite aborts
    val cur = head.orElse(latest(ns, name))
      .getOrElse(throw new IllegalStateException(s"nothing to compact in $ns.$name"))
    val totalBytes = math.max(1L, cur.totalBytes)
    val parts = math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
    // bloom carriage, property-driven: a compaction of a table whose
    // TBLPROPERTIES declare bloom columns (or whose partition spec
    // buckets a column) must re-index the rewritten files, or every
    // scheduled compact silently de-indexes point-lookup pruning —
    // the same invariant INSERT OVERWRITE already keeps
    val bloomCols = GraftCatalog.writeBloomColumns(s"$ns.$name",
      cur.properties, cur.schemaJson
        .map(DataType.fromJson(_).asInstanceOf[StructType]))
    commitReplace(ns, name, layout(read(ns, name), parts),
      expectedParentSeq = Some(cur.seq), bloomCols = bloomCols,
      alignSpec = alignSpec, maintenance = true)
  }

  /** Sort-aware compaction (Iceberg's rewrite-with-sort-order): rewrite
    * the table bin-packed to `targetFileBytes` AND range-clustered on
    * `sortCols`, so every new file carries TIGHT min/max bounds on those
    * columns. This is the maintenance op that restores stats-pruning
    * after layout drift — a table whose eras were clustered by different
    * columns (or not at all) prunes poorly until a sorted rewrite
    * re-establishes one layout (see CatalogSpec "layout evolution").
    *
    * Same CAS-conditional replace as [[compact]]: a concurrent append
    * aborts the rewrite rather than being dropped. At warehouse scale
    * run it per partition/era, not table-at-once; the rewrite cost is
    * one range-shuffle of the data it touches. */
  def compactSorted(ns: String, name: String, targetFileBytes: Long,
                    sortCols: Seq[String]): Snapshot = {
    require(sortCols.nonEmpty, "sortCols must be non-empty")
    val cols = sortCols.map(org.apache.spark.sql.functions.col)
    compactWith(ns, name, targetFileBytes, (df, parts) =>
      df.repartitionByRange(parts, cols: _*).sortWithinPartitions(cols: _*))
  }

  /** Replica-side commit (sync DAG t6_cas_commit_replica): register files
    * that already landed under the table dir (copied by the sync engine)
    * as a new version — same CAS loop, no data write. `schemaJson`
    * carries the SOURCE version's schema across regions (defaults to the
    * replica parent's). */
  def commitFiles(ns: String, name: String, newFiles: Seq[String],
                  sourceRegion: String, maxRetries: Int = 5,
                  schemaJson: Option[String] = None,
                  commitId: Option[String] = None): Snapshot =
    commit(ns, name, commitId, maxRetries = maxRetries) { _ =>
      Change("files commit", register = newFiles, schema = ExplicitSchema(schemaJson),
        region = sourceRegion)
    }

  /** REST-commit landing ([[graft.service.IcebergRestServer]]'s
    * commitTable): register externally-WRITTEN parquet files already
    * copied under the table dir as ONE new version, conditionally on
    * `expectedParentSeq` — the graft version the foreign client's
    * `assert-ref-snapshot-id` requirement resolved to. A concurrent
    * graft commit aborts with ConcurrentModificationException (the REST
    * spec's 409), never an append on top of state the client hasn't
    * seen. Unlike the sync-replica [[commitFiles]] (whose files carry
    * manifests from their SOURCE region), these files are new to every
    * graft region: stats + blooms are computed here like a property-
    * honoring writer, so REST-committed files prune like native ones.
    * Refused on column-mapped (renamed) tables: foreign files spell the
    * LOGICAL names while stats/reads key on physical ones — a silent
    * null-read, not an error, is what the refusal prevents. `toBranch`
    * lands the version on an internal branch instead: the staging half
    * of a multi-table transaction part ([[commitTransaction]] publishes
    * the branch atomically with its siblings). */
  def commitLandedFiles(ns: String, name: String, newFiles: Seq[String],
                        sourceRegion: String,
                        expectedParentSeq: Option[Long] = None,
                        commitId: Option[String] = None,
                        maxRetries: Int = 5,
                        toBranch: Option[String] = None): Snapshot =
    commit(ns, name, commitId, toBranch, maxRetries) { st =>
      requireLogicalNames(ns, name, st)
      Change("landed commit", st.landed(newFiles).toSeq, expectSeq = expectedParentSeq,
        region = sourceRegion)
    }

  /** REST MoR landing — the inbound half of the shim's merge-on-read
    * surface ([[graft.service.IcebergRestServer]]): register externally-
    * written DATA files plus DELETE content (equality-delete parquet
    * already copied under the table dir, and/or remapped position
    * deletes) as ONE conditional snapshot. Completes the round-12
    * read-side MoR serving: a foreign engine that reads graft MoR
    * tables can now write a row-level delta back — the reference's
    * commit protocol is symmetric over content kinds (v1 ContentType
    * enumerates POSITION_DELETE/EQUALITY_DELETE as first-class
    * replicated content, `ContentType.java:2`).
    *
    * Manifest order is [[commitUpsert]]'s positional rule: deletes land
    * BEFORE the commit's own data manifest, so equality keys erase only
    * strictly-prior rows (the landing rows outlive their own purge) and
    * position ordinals apply to parent files only. Position liveness is
    * validated INSIDE the CAS against the parent actually landed on —
    * a concurrent compaction that rewrote the referenced files aborts
    * the commit loudly, never publishes ordinals over dead files. Same
    * refusals as [[commitLandedFiles]] (renamed tables; schema-unbound
    * equality columns; mixed equality column sets would break the
    * scan's single-join invariant), and the same `toBranch` staging for
    * a transaction part (publish adopts the branch head's list
    * wholesale, so the delete-before-data order survives it). */
  def commitLandedMoR(ns: String, name: String,
                      dataRels: Seq[String],
                      eqDeleteRels: Seq[String],
                      posDeletes: Option[DataFrame],
                      sourceRegion: String,
                      expectedParentSeq: Option[Long] = None,
                      commitId: Option[String] = None,
                      maxRetries: Int = 5,
                      toBranch: Option[String] = None): Snapshot =
    commit(ns, name, commitId, toBranch, maxRetries) { st =>
      val parent = st.parent("MoR delta")
      requireLogicalNames(ns, name, st)
      val tblFields = st.schema.map(_.fieldNames.toSet).getOrElse(Set.empty)
      // equality-delete files: column sets must be self-consistent,
      // schema-bound, and equal to any EXISTING delete set
      val eqColSets = eqDeleteRels.map { r =>
        r -> IcebergExport.parquetColumnNames(
          tableDir(ns, name).resolve(r).toString,
          spark.sparkContext.hadoopConfiguration).toSet
      }
      eqColSets.foreach { case (r, cols) =>
        require(cols.nonEmpty && (tblFields.isEmpty || cols.subsetOf(tblFields)),
          s"equality-delete file $r columns $cols are not table columns " +
            s"of $ns.$name ($tblFields)")
      }
      require(eqColSets.map(_._2).distinct.size <= 1,
        s"equality-delete files disagree on columns: " +
          s"${eqColSets.map(_._2).distinct.mkString(" vs ")}")
      eqColSets.headOption.foreach(c => requireEqualityColumns(ns, name, parent, c._2))
      val (referenced, pManifest) =
        posDeletes.fold((Set.empty[String], Option.empty[String]))(st.positions)
      val dManifest = st.manifest(st.sized(eqDeleteRels), prefix = "d")
      val mManifest = st.landed(dataRels)
      require(dManifest.nonEmpty || mManifest.nonEmpty || pManifest.nonEmpty,
        "MoR commit carries no data files and no deletes")
      // equality BEFORE the new data (strictly-less rule: the landing
      // rows outlive their own key-purge), position AFTER it (at-or-
      // before rule; sound AND Iceberg-expressible — (file,pos) identity
      // is path-scoped and the commit's own files carry fresh staged
      // paths no client ordinal can name, the same argument as
      // rewritePositionDeletes' end-of-list move)
      Change("MoR commit", dManifest.toSeq ++ mManifest ++ pManifest,
        liveRefs = referenced, needsParent = true, expectSeq = expectedParentSeq,
        region = sourceRegion)
    }


  /** ALTER TABLE's metadata-only schema commit: publish ONE new version
    * whose schema is `newSchema`, touching no data file — committed
    * files keep serving reads because every legal change is one the
    * parquet reader absorbs natively under the new read schema:
    *
    *  - ADDED columns read as null from pre-alter files;
    *  - DROPPED columns simply leave the read schema (the bytes stay in
    *    the files; stats keys for them ride along harmlessly). Refused
    *    while live EQUALITY-delete files exist — their anti-join
    *    re-reads the delete file's own columns against the data scan,
    *    and a dropped column there would break (or worse, silently
    *    change) every subsequent read; `compact()` materializes the
    *    deletes and unlocks the drop. Position deletes key on
    *    (file, pos) and are unaffected;
    *  - TYPE changes must follow the Iceberg spec's promotion lattice
    *    (int→long, float→double, decimal precision widening at fixed
    *    scale) — the same rule [[IcebergImport]] enforces, because the
    *    parquet reader serves exactly those widening reads natively
    *    (verified empirically there). Anything else would make
    *    committed files unreadable and is refused.
    *
    * Validation is ALTER-grade — the append-path validatedSchemaJson
    * rejects drops/retypes by design (an INSERT must not evolve the
    * schema as a side effect); this is the deliberate front door. Every
    * check runs in every commit attempt against the freshly-read parent,
    * and `expectedPrev` (the schema the caller derived its change from)
    * aborts the statement loudly when a concurrent schema change slid
    * in — two racing ALTERs can never silently drop each other's
    * columns. Nullability can only loosen, new columns must be
    * nullable, and re-introducing a previously-dropped name is refused
    * while live files still carry its bytes (see
    * [[assertNoColumnResurrection]]). */
  def commitSchemaEvolution(ns: String, name: String, newSchema: StructType,
                            expectedPrev: Option[StructType] = None,
                            propsSet: Map[String, String] = Map.empty,
                            propsUnset: Seq[String] = Seq.empty): Snapshot =
    // property changes riding the SAME ALTER statement land in the SAME
    // commit — a DSv2 TableChange batch mixing schema and properties must
    // be one atomic version (a failed schema half must never leave the
    // property half already published)
    commit(ns, name) { _ =>
      Change("schema change", needsParent = true,
        schema = EvolvedSchema(newSchema, expectedPrev),
        propsSet = propsSet, propsUnset = propsUnset)
    }

  /** [[commitSchemaEvolution]]'s validation of `newSchema` against the
    * parent a commit attempt lands on — EVERYTHING validates against the
    * freshly read parent: a concurrent equality delete must re-trip the
    * drop guard, and a concurrent schema change must abort the statement
    * (its changes were derived against a schema that no longer exists),
    * never be silently overwritten. */
  private def evolvedSchemaJson(ns: String, name: String, parent: Snapshot,
                                newSchema: StructType,
                                expectedPrev: Option[StructType]): String = {
    val prev = parent.schemaJson.map(structOf).getOrElse(
      throw new IllegalStateException(
        s"$ns.$name records no schema to evolve — commit data first"))
    // comments participate: two racing comment-bearing ALTERs must not
    // silently drop each other's — the whole point of expectedPrev
    def shape(st: StructType) = st.fields.toSeq.map(f =>
      (f.name, f.dataType, f.nullable, f.getComment()))
    expectedPrev.foreach(e => require(shape(e) == shape(prev),
      s"$ns.$name: concurrent schema change — the ALTER was derived " +
        s"against ${e.simpleString} but the table is now " +
        s"${prev.simpleString}; re-derive and retry"))
    // old and new fields pair by PHYSICAL identity — the stable id the
    // column-mapping layer gives every field. A RENAME keeps the
    // physical name, so it pairs here (and is validated as the same
    // column, nullability and type intact) instead of misreading as
    // drop+add; logical-name pairing alone cannot tell the two apart.
    def physOf(f: StructField) = GraftCatalog.physicalName(f)
    val newByPhys: Map[String, StructField] =
      newSchema.fields.map(f => physOf(f) -> f).toMap
    require(newByPhys.size == newSchema.fields.length,
      s"$ns.$name: duplicate physical column names in " +
        newSchema.fields.map(f => s"${f.name}(${physOf(f)})").mkString(", "))
    require(newSchema.fieldNames.distinct.length == newSchema.fields.length,
      s"$ns.$name: duplicate column names in ${newSchema.simpleString}")
    val dropped = prev.fields.filter(pf => !newByPhys.contains(physOf(pf)))
    if (dropped.nonEmpty) {
      val hasEqDeletes = parent.manifests.exists(m =>
        isDeleteManifest(m) && !isPosDeleteManifest(m))
      require(!hasEqDeletes,
        s"$ns.$name: cannot drop column(s) ${dropped.map(_.name).mkString(", ")} " +
          "while live equality-delete files may reference them — run compact() " +
          "to materialize the deletes first")
    }
    prev.fields.foreach { pf =>
      newByPhys.get(physOf(pf)).foreach { nf =>
        // the ONE shared lattice (export's cross-version check uses it
        // too — the two must never drift or a legal ALTER kills
        // exportability)
        require(GraftCatalog.promotes(pf.dataType, nf.dataType),
          s"$ns.$name: illegal type change for '${pf.name}': " +
            s"${pf.dataType.simpleString} -> ${nf.dataType.simpleString} is not " +
            "on the promotion lattice (integral widening byte->short->int" +
            "->long, float->double, decimal precision widening); committed " +
            "files could not serve the read")
        require(!pf.nullable || nf.nullable,
          s"$ns.$name: cannot tighten '${pf.name}' to NOT NULL — existing " +
            "files are not re-validated and may hold nulls")
      }
    }
    val prevPhys = prev.fields.map(physOf).toSet
    val added = newSchema.fields.filterNot(f => prevPhys.contains(physOf(f)))
    added.foreach(f => require(f.nullable,
      s"$ns.$name: new column '${f.name}' must be nullable — existing rows " +
        "cannot supply a value"))
    // bytes in committed files live under PHYSICAL names — the
    // resurrection hazard is physical
    assertNoColumnResurrection(ns, name, parent, added.map(physOf).toSeq)
    newSchema.json
  }

  /** SET / UNSET TBLPROPERTIES as ONE metadata-only CAS commit — a new
    * version whose `propsJson` is the parent's map with `set` applied
    * then `unset` removed, manifests/schema untouched. Versioned like
    * the schema: time travel reads each version's own properties, and
    * two racing property ALTERs serialize through the CAS (the second
    * re-reads the first's map — last-writer-wins PER KEY, never a lost
    * whole-map overwrite). Keys are free-form; the engine consults
    * `write.target-file-size-bytes` ([[compact]]) and
    * `write.bloom-columns` (the SQL INSERT path's bloom indexing).
    * `toBranch` stages the change on a transaction part's branch
    * ([[commitTransaction]] adopts the branch head's properties). */
  def commitProperties(ns: String, name: String, set: Map[String, String],
                       unset: Seq[String] = Seq.empty,
                       maxRetries: Int = 5,
                       expectedParentSeq: Option[Long] = None,
                       toBranch: Option[String] = None): Snapshot = {
    require(set.nonEmpty || unset.nonEmpty, "nothing to set or unset")
    // expectedParentSeq is the conditional form for READ-MODIFY-WRITE
    // callers (ADD/DROP/REPLACE PARTITION FIELD computes the NEXT spec
    // from a prior read): a value derived from a stale read must abort —
    // per-key last-writer-wins only holds for values that don't ENCODE
    // the prior map. A partition spec set here is validated against the
    // schema at the ALTER, not at the next INSERT (spec EVOLUTION is
    // legal: new writes cluster by the new spec, committed files keep
    // their recorded layout — Iceberg's spec-evolution model)
    commit(ns, name, ref = toBranch, maxRetries = maxRetries) { _ =>
      Change("property change", needsParent = true, expectSeq = expectedParentSeq,
        propsSet = set, propsUnset = unset)
    }
  }


  /** The LATEST version's TBLPROPERTIES (empty for bare tables). */
  def tableProperties(ns: String, name: String): Map[String, String] =
    latest(ns, name).map(_.properties).getOrElse(Map.empty)

  /** The snapshot history along `parent`'s ACTUAL lineage, ending at
    * `parent`: main's prefix when the parent sits on main; the main
    * prefix up to the fork plus the branch's own commits when it sits on
    * a branch (commitAppendToBranch validates against a branch head —
    * main-only history would leave branch manifests and schema eras
    * invisible to the resurrection guard). */
  private def lineageTo(ns: String, name: String, parent: Snapshot): Seq[Snapshot] = {
    val main = snapshots(ns, name)
    if (main.exists(_.commitId == parent.commitId))
      main.filter(_.seq <= parent.seq)
    else listBranches(ns, name).iterator.flatMap { b =>
      val bs = branchSnapshots(ns, name, b)
      if (bs.exists(_.commitId == parent.commitId)) {
        val (forkSeq, _) = branchFork(ns, name, b)
        Some(main.filter(_.seq <= forkSeq) ++ bs.filter(_.seq <= parent.seq))
      } else None
    }.nextOption().getOrElse(main.filter(_.seq <= parent.seq))
  }

  /** Guard for RE-INTRODUCING a column name: files written while the
    * name previously existed still carry its BYTES — re-adding the name
    * would silently resurrect dropped values (same type) or poison every
    * read (parquet refuses the by-name type conversion). Refused while
    * any LIVE data manifest predates the last schema version that
    * carried the name; `compact()` rewrites files under the current
    * schema (physically shedding the dropped column) and unlocks the
    * re-add. No-op when nothing was added — the common append. */
  private def assertNoColumnResurrection(ns: String, name: String,
      parent: Snapshot, added: Seq[String]): Unit = {
    if (added.isEmpty) return
    val snaps = lineageTo(ns, name, parent)
    // history is consulted in PHYSICAL names — the names committed files
    // actually spell their bytes under (renamed columns keep occupying
    // their original physical name, never freeing it)
    lazy val namesOf: Map[Long, Set[String]] = snaps.map(s => s.seq ->
      s.schemaJson.map(j => DataType.fromJson(j).asInstanceOf[StructType]
        .fields.map(GraftCatalog.physicalName).toSet)
        .getOrElse(Set.empty[String])).toMap
    lazy val manifestAddedAt: Map[String, Long] = {
      val m = scala.collection.mutable.Map.empty[String, Long]
      snaps.foreach(s => s.manifests.foreach(r =>
        if (!m.contains(r)) m(r) = s.seq))
      m.toMap
    }
    lazy val liveData = parent.manifests.filterNot(isDeleteManifest)
    added.foreach { c =>
      val lastWith = namesOf.collect { case (seq, ns0) if ns0(c) => seq }
        .maxOption
      lastWith.foreach { lw =>
        val tainted = liveData.exists(m =>
          manifestAddedAt.getOrElse(m, Long.MaxValue) <= lw)
        require(!tainted,
          s"$ns.$name: column '$c' previously existed (last in version $lw) " +
            "and live files from that era still carry its bytes — re-adding " +
            "the name would resurrect dropped data or break the read; " +
            "compact() rewrites live files under the current schema and " +
            "unlocks the re-add")
      }
    }
  }

  /** Files-based OVERWRITE commit: register already-landed files as the
    * COMPLETE new version (the replace dual of [[commitFiles]] — same
    * no-data-write contract, but prior manifests are dropped instead of
    * extended). Used by Iceberg import to replay foreign `overwrite`
    * snapshots: the live set may overlap the parent's (files an
    * overwrite kept), so entries are re-manifested rather than deduped —
    * a kept file referenced by two manifests stays reachable for expiry
    * and the manifest-set diff correctly classifies the commit as a
    * replace (changesBetween then takes the row-level path, exactly as
    * it does for [[commitReplace]]). */
  def commitFilesReplace(ns: String, name: String, liveFiles: Seq[String],
                         sourceRegion: String, maxRetries: Int = 5,
                         schemaJson: Option[String] = None,
                         commitId: Option[String] = None): Snapshot =
    commitFilesReplaceMor(ns, name, Seq(liveFiles -> GraftCatalog.UnitData),
      sourceRegion, maxRetries, schemaJson, commitId)

  /** MoR-aware files APPEND: register already-landed files as new
    * manifests appended to the parent's list in the GIVEN unit order —
    * each `(files, kind)` unit becomes one manifest, `kind` one of
    * [[GraftCatalog.UnitData]] / [[GraftCatalog.UnitEqDelete]] /
    * [[GraftCatalog.UnitPosDelete]] (delete units carry the `d-`/`p-`
    * prefixes [[morScan]]'s positional sequence rule keys on). The
    * Iceberg-import replay surface: a foreign delete/upsert snapshot
    * arrives as ordered units whose list position must encode the
    * spec's sequence-number rules — equality deletes of one commit
    * BEFORE its data, position deletes AFTER it, everything after the
    * parent's manifests. No parent dedup (units are exact deltas);
    * idempotent via `commitId` like every commit path. */
  def commitFilesMor(ns: String, name: String, units: Seq[(Seq[String], String)],
                     sourceRegion: String, maxRetries: Int = 5,
                     schemaJson: Option[String] = None,
                     commitId: Option[String] = None): Snapshot =
    commit(ns, name, commitId, maxRetries = maxRetries) { st =>
      Change("files commit", st.units(units), schema = ExplicitSchema(schemaJson),
        region = sourceRegion)
    }

  /** MoR-aware files OVERWRITE: the given ordered units are the COMPLETE
    * new version ([[commitFilesReplace]]'s dual of [[commitFilesMor]]).
    * Used by Iceberg import for foreign replace snapshots whose live
    * state still carries delete files (e.g. a data-file rewrite that
    * kept its applicable deletes). */
  def commitFilesReplaceMor(ns: String, name: String,
                            units: Seq[(Seq[String], String)],
                            sourceRegion: String, maxRetries: Int = 5,
                            schemaJson: Option[String] = None,
                            commitId: Option[String] = None): Snapshot =
    commit(ns, name, commitId, maxRetries = maxRetries) { st =>
      Change("files replace", st.units(units), replaces = true,
        schema = ExplicitSchema(schemaJson), region = sourceRegion)
    }



  def tablePath(ns: String, name: String): Path = tableDir(ns, name)

  // ---- branches (Nessie-style named refs) ----
  // The reference's replica model IS branches: every region commits to
  // its own main_replica_<region> ref and fast-forwards from main
  // (iceberg-arch-geo-distributed-ha.md's regional-branch commit flow).
  // A branch here is a second commit log under _meta/branches/<name>/
  // forked from a main version; data files and manifests are SHARED
  // (branching is O(1) metadata, like Nessie), branch commits stage
  // into the same table dir, and a fast-forward merge publishes the
  // branch head back onto main iff main has not moved since the fork —
  // the same conditional-commit contract as commitReplace.

  private val BranchName = "[A-Za-z0-9._-]{1,64}".r
  private def branchDir(ns: String, name: String, branch: String): Path =
    metaDir(ns, name).resolve("branches").resolve(branch)
  private def branchVersionFile(ns: String, name: String, branch: String, seq: Long): Path =
    branchDir(ns, name, branch).resolve(f"v$seq%06d.json")
  private def branchRefFile(ns: String, name: String, branch: String): Path =
    branchDir(ns, name, branch).resolve("ref.json")

  private def requireBranchName(branch: String): Unit =
    require(BranchName.matches(branch), s"invalid branch name: '$branch'")

  /** Fork `branch` at main version `atSeq` (default: current head).
    * Create-if-absent on the ref file: a concurrent create of the same
    * name loses loudly. O(1) — no data or manifest copies. */
  def createBranch(ns: String, name: String, branch: String,
                   atSeq: Option[Long] = None): Unit = {
    requireBranchName(branch)
    val fork = atSeq match {
      case Some(sq) => snapshots(ns, name).find(_.seq == sq).getOrElse(
        throw new IllegalArgumentException(s"no version $sq in $ns.$name"))
      case None => latest(ns, name).getOrElse(
        throw new IllegalStateException(s"cannot branch empty table $ns.$name"))
    }
    Files.createDirectories(branchDir(ns, name, branch))
    val tmp = metaDir(ns, name).resolve(s".tmp-${UUID.randomUUID()}.json")
    Files.write(tmp,
      s"""{"forkSeq":${fork.seq},"forkCommitId":${q(fork.commitId)}}"""
        .getBytes(StandardCharsets.UTF_8))
    try Files.createLink(branchRefFile(ns, name, branch), tmp)
    catch { case _: java.nio.file.FileAlreadyExistsException =>
      Files.deleteIfExists(tmp)
      throw new IllegalStateException(s"branch '$branch' already exists on $ns.$name")
    }
    Files.deleteIfExists(tmp): Unit
  }

  def listBranches(ns: String, name: String): Seq[String] = {
    val bd = metaDir(ns, name).resolve("branches")
    if (!Files.isDirectory(bd)) Seq.empty
    else listDir(bd).filter(Files.isDirectory(_)).map(_.getFileName.toString).sorted
  }

  def branchExists(ns: String, name: String, branch: String): Boolean =
    Files.exists(branchRefFile(ns, name, branch))

  /** (forkSeq, forkCommitId) recorded at branch creation. */
  def branchFork(ns: String, name: String, branch: String): (Long, String) = {
    val rf = branchRefFile(ns, name, branch)
    require(Files.exists(rf), s"no branch '$branch' on $ns.$name")
    val n = jsonMapper.readTree(new String(Files.readAllBytes(rf), StandardCharsets.UTF_8))
    (n.get("forkSeq").asLong(), n.get("forkCommitId").asText())
  }

  /** Branch-local commits ordered by seq (numbering continues from the
    * fork seq, so a branch head's seq is comparable to main's). */
  def branchSnapshots(ns: String, name: String, branch: String): Seq[Snapshot] = {
    val bd = branchDir(ns, name, branch)
    if (!Files.isDirectory(bd)) return Seq.empty
    listDir(bd)
      .filter(_.getFileName.toString.matches("v\\d+\\.json"))
      .map(p => snapshotCache.computeIfAbsent(p.toAbsolutePath, ap =>
        parseJson(new String(Files.readAllBytes(ap), StandardCharsets.UTF_8))))
      .sortBy(_.seq)
  }

  /** The branch's current snapshot: its last own commit, or the fork
    * point's main snapshot when the branch has no commits yet. */
  def branchHead(ns: String, name: String, branch: String): Snapshot =
    branchHeadOf(ns, name, branch, branchSnapshots(ns, name, branch))

  private def branchHeadOf(ns: String, name: String, branch: String,
                           own: Seq[Snapshot]): Snapshot = {
    val (forkSeq, forkCommitId) = branchFork(ns, name, branch)
    own.lastOption.getOrElse {
      snapshots(ns, name).find(_.seq == forkSeq).getOrElse(
        throw new IllegalStateException(
          s"branch '$branch' fork v$forkSeq ($forkCommitId) expired from $ns.$name"))
    }
  }

  /** C3 on a branch: [[commitAppend]] landing on the branch log. Main
    * is never touched. */
  def commitAppendToBranch(ns: String, name: String, branch: String, df: DataFrame,
                           sourceRegion: String = "local", maxRetries: Int = 5,
                           commitId: Option[String] = None): Snapshot =
    commitAppend(ns, name, df, sourceRegion, maxRetries, commitId, toBranch = Some(branch))


  /** Read the branch head (manifest union of the fork point plus every
    * branch commit — shared immutable files, no copies). */
  def readBranch(ns: String, name: String, branch: String): DataFrame =
    readSnapshot(ns, name, branchHead(ns, name, branch))

  /** Fast-forward merge: publish the branch head back onto main as one
    * commit, iff main still sits at the branch's fork version — checked
    * in every commit attempt, so a concurrent main commit aborts the
    * merge (MergeConflictException) instead of silently dropping it.
    * The branch head's manifest list already extends the fork point's,
    * so adopting it wholesale is exactly main ∪ branch-added. */
  def fastForwardMerge(ns: String, name: String, branch: String,
                       maxRetries: Int = 5): Snapshot = {
    val (forkSeq, _) = branchFork(ns, name, branch)
    val head = branchHead(ns, name, branch)
    commit(ns, name, maxRetries = maxRetries) { _ =>
      Change("fast-forward merge", adopt = Some(head), forkSeq = Some(forkSeq),
        region = head.sourceRegion, idPrefix = "merge-")
    }
  }

  // ---- tags (immutable named refs — Nessie tags) ----
  // "training-run-17 read exactly this snapshot": a tag pins a version
  // under a stable name, so downstream lineage records a ref, not a
  // number. Create-if-absent like every ref here; tags never move.

  private def tagFile(ns: String, name: String, tag: String): Path =
    metaDir(ns, name).resolve("tags").resolve(s"$tag.json")

  def createTag(ns: String, name: String, tag: String,
                atSeq: Option[Long] = None): Unit = {
    requireBranchName(tag)
    val snap = atSeq match {
      case Some(sq) => snapshots(ns, name).find(_.seq == sq).getOrElse(
        throw new IllegalArgumentException(s"no version $sq in $ns.$name"))
      case None => latest(ns, name).getOrElse(
        throw new IllegalStateException(s"cannot tag empty table $ns.$name"))
    }
    Files.createDirectories(tagFile(ns, name, tag).getParent)
    val tmp = metaDir(ns, name).resolve(s".tmp-${UUID.randomUUID()}.json")
    Files.write(tmp, s"""{"seq":${snap.seq},"commitId":${q(snap.commitId)}}"""
      .getBytes(StandardCharsets.UTF_8))
    try Files.createLink(tagFile(ns, name, tag), tmp)
    catch { case _: java.nio.file.FileAlreadyExistsException =>
      Files.deleteIfExists(tmp)
      throw new IllegalStateException(s"tag '$tag' already exists on $ns.$name")
    }
    Files.deleteIfExists(tmp): Unit
  }

  def listTags(ns: String, name: String): Seq[String] = {
    val td = metaDir(ns, name).resolve("tags")
    if (!Files.isDirectory(td)) Seq.empty
    else listDir(td).map(_.getFileName.toString)
      .filter(_.endsWith(".json")).map(_.stripSuffix(".json")).sorted
  }

  def tagSeq(ns: String, name: String, tag: String): Long = {
    val tf = tagFile(ns, name, tag)
    require(Files.exists(tf), s"no tag '$tag' on $ns.$name")
    jsonMapper.readTree(new String(Files.readAllBytes(tf), StandardCharsets.UTF_8))
      .get("seq").asLong()
  }

  /** `VERSION AS OF <tag>` — time travel through the named ref. */
  def readTag(ns: String, name: String, tag: String): DataFrame =
    readVersion(ns, name, tagSeq(ns, name, tag))

  def dropTag(ns: String, name: String, tag: String): Unit = {
    requireBranchName(tag)
    Files.deleteIfExists(tagFile(ns, name, tag)): Unit
  }

  /** Delete the branch ref and its log. Branch-only data files become
    * unreachable (no main version references them) and are reclaimed by
    * the orphan sweep, exactly like files of expired versions. */
  def dropBranch(ns: String, name: String, branch: String): Unit = {
    requireBranchName(branch)
    deleteTree(branchDir(ns, name, branch))
  }

  // ---- multi-table transactions (atomic cross-table publish) ----
  //
  // The one coordination problem per-table CAS cannot express: publish
  // changes to SEVERAL tables so that either all land or none do (the
  // Iceberg REST spec's /v1/transactions/commit semantics; the
  // reference's write-coordination theme applied ACROSS tables).
  //
  // Protocol — all plain atomic-create primitives, the same contract as
  // the version CAS (conditional PUTs on an object store):
  //
  //   STAGE    each part's changes sit on an ordinary branch (any
  //            branch commit flavor; isolation for free — the WAP
  //            habit). A transaction is "fast-forward N tables at
  //            once".
  //   BARRIER  per-table `.txn-barrier.json`, create-if-absent with a
  //            lease deadline. Every main commit waits on a fresh barrier
  //            before EVERY attempt, so once the coordinator holds a
  //            table's barrier and has sat out the grace period, no
  //            same-API writer can take a version slot under it.
  //            Acquisition in canonical table order — no deadlocks.
  //   PUBLISH  one atomic create of `_txn/<id>.json` naming every
  //            part's fully-built staged version file. THE commit
  //            point: before it nothing is visible; after it the
  //            transaction is durable and will complete. The
  //            coordinator refuses to publish unless it still owns
  //            every barrier, every fork check still holds, every
  //            target slot is free, and the lease has safety headroom
  //            — so a lease-expiry aborter acting after the deadline
  //            can never race a late publish.
  //   APPLY    hard-link each staged version file into its table's log
  //            (idempotent: deterministic per-part commit ids), then
  //            reclaim journal, stakes, and staged branches.
  //
  // Crash recovery rides the commit funnel: a later committer finding a
  // barrier either completes the published journal it names (journal
  // present = committed) or aborts the expired lease (no journal = the
  // transaction never happened). A transaction commit is
  // changefeed-transparent: its snapshot extends the parent's manifest
  // list exactly like fastForwardMerge, so MV/CDC/index consumers keep
  // the O(delta) prefix path.
  //
  // Atomicity scope, honestly: all-or-nothing durability with writer
  // serialization under the lease assumption every object-store commit
  // protocol makes (a writer does not stall longer than the grace
  // period between its final barrier check and its link — enforced
  // here by per-attempt barrier checks plus the coordinator's grace
  // sleep). A breach of that assumption halts completion LOUDLY before
  // anything partial lands, never silently. Readers scanning DIFFERENT
  // tables during the milliseconds of APPLY can observe part k before
  // part k+1 — the same skew any non-snapshot multi-table read has;
  // the journal guarantees that window CLOSES (any later commit
  // completes it) rather than leaving a partial transaction behind.

  case class TxnPart(ns: String, table: String, branch: String)

  private def txnDir: Path = Paths.get(warehouse, "_txn")
  private def txnJournal(txnId: String): Path = txnDir.resolve(s"$txnId.json")
  private def txnBarrierFile(ns: String, name: String): Path =
    metaDir(ns, name).resolve(".txn-barrier.json")
  // publish refuses within this margin of the lease deadline; the
  // coordinator also sits this long between BARRIER and its fork reads
  // so in-flight pre-barrier committers drain first
  private val txnGraceMs = 250L

  /** Resolve any transaction barrier on `ns.name` before acting on its
    * main log: a PUBLISHED journal is completed (the transaction
    * committed — finishing it unblocks us); an EXPIRED barrier without
    * a journal is aborted (that transaction never happened); a fresh
    * barrier is waited out. Called by casCommitAt before every main attempt. */
  private def awaitTxnBarrier(ns: String, name: String): Unit = {
    var waits = 0
    while (true) {
      val bf = txnBarrierFile(ns, name)
      val content =
        try Some(new String(Files.readAllBytes(bf), StandardCharsets.UTF_8))
        catch { case _: java.io.IOException => None }
      content match {
        case None => return
        case Some(j) =>
          val n = jsonMapper.readTree(j)
          val txnId = n.get("txnId").asText()
          val deadline = n.get("deadlineMs").asLong()
          // journal FIRST, expiry second: a publish always happens
          // before (deadline - grace), so an expiry observed here
          // proves no publish can still be in flight
          if (Files.isRegularFile(txnJournal(txnId))) {
            // a CANCELLED transaction (slot lost pre-apply) is the
            // coordinator's failure to report, not this innocent
            // committer's — the cancel already cleaned the stakes
            try completeTxn(txnId)
            catch { case _: java.util.ConcurrentModificationException => () }
          } else if (System.currentTimeMillis() > deadline) {
            // expired intent that never published: abandon this
            // table's stake; other tables self-heal on their own next
            // commit. Ownership re-check right before the delete — a
            // concurrent aborter + a fresh acquisition must not lose
            // the NEW transaction's barrier
            listDir(metaDir(ns, name))
              .filter(_.getFileName.toString.startsWith(s".txn-$txnId-"))
              .foreach(p => Files.deleteIfExists(p): Unit)
            val still =
              try jsonMapper.readTree(new String(Files.readAllBytes(bf),
                StandardCharsets.UTF_8)).get("txnId").asText() == txnId
              catch { case _: java.io.IOException => false }
            if (still) Files.deleteIfExists(bf): Unit
          } else {
            waits += 1
            require(waits < 12000,
              s"transaction $txnId has held $ns.$name for over 10 minutes " +
                "within its lease; refusing to wait longer")
            Thread.sleep(50)
          }
      }
    }
  }

  /** Complete a PUBLISHED transaction: verify every target slot is
    * free-or-ours, then link every staged version file into its
    * table's log (idempotent), then reclaim journal and stakes. Any
    * actor may call this — the coordinator, or a later committer's
    * recovery. */
  private def completeTxn(txnId: String): Unit = {
    val jf = txnJournal(txnId)
    val j =
      try new String(Files.readAllBytes(jf), StandardCharsets.UTF_8)
      catch { case _: java.nio.file.NoSuchFileException => return } // done
    val n = jsonMapper.readTree(j)
    val parts = n.get("parts").elements().asScala.toSeq
    case class P(ns: String, table: String, seq: Long, commitId: String,
                 staged: Path, target: Path)
    val ps = parts.map { p =>
      val (pns, pt) = (p.get("ns").asText(), p.get("table").asText())
      val seq = p.get("seq").asLong()
      P(pns, pt, seq, p.get("commitId").asText(),
        metaDir(pns, pt).resolve(p.get("staged").asText()),
        versionFile(pns, pt, seq))
    }
    def takenBy(target: Path): Option[String] =
      try Some(parseJson(new String(Files.readAllBytes(target),
        StandardCharsets.UTF_8)).commitId)
      catch { case _: java.io.IOException => None }
    // verify-all BEFORE link-any: all-or-nothing even against a lease
    // breach. A foreign commit in one of our slots with NOTHING of ours
    // applied yet CANCELS the transaction cleanly (single-cleaner gated
    // on the journal delete, so a concurrent applier never observes a
    // half-cancelled journal); a foreign slot next to an ALREADY-applied
    // part is a genuine partial state and halts loudly — that needs two
    // independent lease breaches to reach.
    val slots = ps.map(p => p -> takenBy(p.target))
    val foreign = slots.collect {
      case (p, Some(cid)) if cid != p.commitId => (p, cid) }
    if (foreign.nonEmpty) {
      val applied = slots.exists { case (p, cid) => cid.contains(p.commitId) }
      require(!applied,
        s"transaction $txnId cannot complete: v${foreign.head._1.seq} of " +
          s"${foreign.head._1.ns}.${foreign.head._1.table} was taken by " +
          s"'${foreign.head._2}' AFTER parts were applied — a partial " +
          "transaction; refusing to continue")
      if (Files.deleteIfExists(jf)) {
        ps.foreach { p =>
          Files.deleteIfExists(p.staged): Unit
          val bf = txnBarrierFile(p.ns, p.table)
          val ownedByUs =
            try jsonMapper.readTree(new String(Files.readAllBytes(bf),
              StandardCharsets.UTF_8)).get("txnId").asText() == txnId
            catch { case _: java.io.IOException => false }
          if (ownedByUs) Files.deleteIfExists(bf): Unit
        }
      }
      throw new java.util.ConcurrentModificationException(
        s"transaction $txnId lost v${foreign.head._1.seq} of " +
          s"${foreign.head._1.ns}.${foreign.head._1.table} to " +
          s"'${foreign.head._2}' before applying anything — cancelled " +
          "(nothing was applied on any table)")
    }
    ps.foreach { p =>
      require(Files.isRegularFile(p.staged) || takenBy(p.target).isDefined,
        s"transaction $txnId journal names a missing staged file ${p.staged}")
    }
    ps.foreach { p =>
      if (!Files.isRegularFile(p.target)) {
        // a concurrent completer (any committer's barrier wait) may link
        // the slot first, or finish and remove the staged file
        try Files.createLink(p.target, p.staged)
        catch { case _: java.nio.file.FileAlreadyExistsException |
                     _: java.nio.file.NoSuchFileException =>
          require(takenBy(p.target).contains(p.commitId),
            s"transaction $txnId lost v${p.seq} of ${p.ns}.${p.table} " +
              "mid-apply — the barrier lease was breached")
        }
      }
    }
    // journal first (the transaction is fully applied), stakes second —
    // and ONLY by the single actor whose journal delete won: a slower
    // concurrent completer must not run cleanup after a NEWER
    // transaction acquired one of these barriers (it would strip that
    // transaction's lock mid-flight)
    if (!Files.deleteIfExists(jf)) return
    ps.foreach { p =>
      Files.deleteIfExists(p.staged): Unit
      val bf = txnBarrierFile(p.ns, p.table)
      // ownership re-check (belt on top of the single-cleaner gate)
      val ownedByUs =
        try jsonMapper.readTree(new String(Files.readAllBytes(bf),
          StandardCharsets.UTF_8)).get("txnId").asText() == txnId
        catch { case _: java.io.IOException => false }
      if (ownedByUs) Files.deleteIfExists(bf): Unit
    }
  }

  /** Resolve any pending transaction state on `ns.name` without
    * committing anything: completes a published journal, aborts an
    * expired intent, waits out a fresh lease. A replay-idempotent
    * caller (the streaming fan-out sink) runs this before probing
    * commit ids, so a transaction that published but crashed before
    * applying becomes VISIBLE to the probe instead of replaying twice. */
  def resolveTxnBarriers(ns: String, name: String): Unit =
    awaitTxnBarrier(ns, name)

  /** A transactionally-consistent CUT across several tables: pinned
    * snapshots such that no multi-table transaction is split by the
    * view (every transaction is either entirely at-or-below the cut on
    * all its tables, or entirely above). Mechanism: resolve pending
    * transaction state, then read every head TWICE — a cut is returned
    * only when no table's head moved between the passes, which rules
    * out an application landing mid-scan (transaction applies are
    * commits). The check is three-phase — pass 1 reads, a BARRIER-FREE
    * probe on every table, pass 2 reads, accept iff the passes agree:
    * a transaction whose apply(X) precedes pass 1's read of X while its
    * apply(Y) follows pass 2's read of Y necessarily HOLDS Y's barrier
    * across the whole interval (barriers acquire before any apply and
    * release only after the last), so the mid-probe sees it and
    * retries; an apply landing anywhere else between the passes flips a
    * head and fails the equality. Read the pinned versions with
    * [[readVersion]]. Bounded retries, loud failure — on a write-storm
    * the caller decides whether a consistent cut is worth waiting for. */
  def snapshotConsistent(tables: Seq[(String, String)],
                         maxRetries: Int = 8): Seq[Snapshot] = {
    require(tables.nonEmpty, "empty table set")
    require(tables.distinct.size == tables.size, "duplicate table in cut")
    var attempt = 0
    while (attempt < maxRetries) {
      tables.foreach { case (ns, t) => awaitTxnBarrier(ns, t) }
      val pass1 = tables.map { case (ns, t) =>
        latest(ns, t).getOrElse(throw new IllegalStateException(
          s"cannot pin empty table $ns.$t in a consistent cut"))
      }
      val noTxnMidFlight = tables.forall { case (ns, t) =>
        !Files.isRegularFile(txnBarrierFile(ns, t)) }
      val stable = noTxnMidFlight && tables.zip(pass1).forall {
        case ((ns, t), s1) => latest(ns, t).exists(_.commitId == s1.commitId)
      }
      if (stable) return pass1
      attempt += 1
      backoff(attempt)
    }
    throw new IllegalStateException(
      s"no stable cut across ${tables.map { case (n, t) => s"$n.$t" }
        .mkString(", ")} after $maxRetries attempts — heads kept moving")
  }

  /** Atomically publish staged branches to SEVERAL tables: either every
    * part lands or none does. Returns the committed snapshots in part
    * order and drops the staged branches; on ANY failure nothing is
    * visible on any table and the branches stay parked (forensics, the
    * WAP habit). Replaying a succeeded `txnId` throws
    * [[GraftCatalog.DuplicateCommitException]] like every commit
    * flavor. */
  def commitTransaction(parts: Seq[TxnPart],
                        txnId: String = UUID.randomUUID().toString,
                        leaseMs: Long = 60000L): Seq[Snapshot] = {
    require(parts.nonEmpty, "empty transaction")
    require(parts.map(p => (p.ns, p.table)).distinct.size == parts.size,
      "a transaction names each table at most once")
    require(txnId.matches("[A-Za-z0-9_-]+"),
      s"txnId '$txnId' must be filesystem-plain ([A-Za-z0-9_-])")
    require(leaseMs >= 10 * txnGraceMs,
      s"leaseMs $leaseMs leaves no room for the publish safety margin")
    parts.foreach { p =>
      require(tableExists(p.ns, p.table), s"no such table ${p.ns}.${p.table}")
      require(branchExists(p.ns, p.table, p.branch),
        s"no branch '${p.branch}' on ${p.ns}.${p.table}")
    }
    // resolve pending transaction state BEFORE the replay probe: a
    // replay of a txnId that PUBLISHED but crashed pre-apply must read
    // as the DuplicateCommitException it is (after completion below),
    // never as a misleading MergeConflict the caller would retry into a
    // double-apply
    parts.foreach(p => awaitTxnBarrier(p.ns, p.table))
    // Index-INDEPENDENT replay probe: a replayed txnId must throw even if
    // the caller reordered or re-sliced the part list (the SQL procedure
    // lets users supply both txnId and part order). Commit ids are
    // txn-<txnId>-<partIndex> with a pure-digit index, and txnId itself may
    // contain '-' and digits, so an anchored regex — not a bare prefix
    // test — is the unambiguous membership check.
    val replayPat = java.util.regex.Pattern
      .compile("^txn-" + java.util.regex.Pattern.quote(txnId) + "-\\d+$")
    parts.foreach { p =>
      snapshots(p.ns, p.table)
        .find(s => replayPat.matcher(s.commitId).matches()).foreach { prior =>
          throw new GraftCatalog.DuplicateCommitException(prior.commitId, prior.seq)
        }
    }
    val deadline = System.currentTimeMillis() + leaseMs
    val acquired = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val stagedFiles = scala.collection.mutable.ArrayBuffer.empty[Path]
    def releaseStakes(): Unit = {
      stagedFiles.foreach(p => Files.deleteIfExists(p): Unit)
      acquired.foreach { case (bns, bt) =>
        Files.deleteIfExists(txnBarrierFile(bns, bt)): Unit }
    }
    try {
      // 1. barriers, canonical order (no deadlocks)
      parts.sortBy(p => (p.ns, p.table)).foreach { p =>
        var attempt = 0
        var held = false
        while (!held) {
          awaitTxnBarrier(p.ns, p.table)
          val tmp = metaDir(p.ns, p.table)
            .resolve(s".tmp-${UUID.randomUUID()}.json")
          Files.write(tmp,
            s"""{"txnId":${q(txnId)},"deadlineMs":$deadline}"""
              .getBytes(StandardCharsets.UTF_8))
          try {
            Files.createLink(txnBarrierFile(p.ns, p.table), tmp)
            Files.deleteIfExists(tmp)
            held = true
          } catch {
            case _: java.nio.file.FileAlreadyExistsException =>
              Files.deleteIfExists(tmp)
              attempt += 1
              require(attempt < 200,
                s"cannot acquire the txn barrier on ${p.ns}.${p.table}")
              backoff(attempt)
          }
        }
        acquired += ((p.ns, p.table))
      }
      // grace: committers that passed their barrier check BEFORE our
      // acquisition finish their link inside this window, so the fork
      // reads below see a settled log
      Thread.sleep(txnGraceMs)
      // 2. build every part's next version from its branch — the
      // fast-forward rule, same refusal as fastForwardMerge
      val built = parts.zipWithIndex.map { case (p, i) =>
        val (forkSeq, _) = branchFork(p.ns, p.table, p.branch)
        val head = branchHead(p.ns, p.table, p.branch)
        val cur = latest(p.ns, p.table)
        val curSeq = cur.map(_.seq).getOrElse(-1L)
        if (curSeq != forkSeq) throw new GraftCatalog.MergeConflictException(
          s"main of ${p.ns}.${p.table} moved to v$curSeq since branch " +
            s"'${p.branch}' forked at v$forkSeq")
        val snap = Snapshot(curSeq + 1, s"txn-$txnId-$i", cur.map(_.commitId),
          System.currentTimeMillis(), head.manifests, head.sourceRegion,
          head.fileCount, head.totalBytes,
          head.schemaJson.orElse(cur.flatMap(_.schemaJson)),
          head.propsJson.orElse(cur.flatMap(_.propsJson)))
        val stagedName = s".txn-$txnId-v${snap.seq}.json"
        val sp = metaDir(p.ns, p.table).resolve(stagedName)
        Files.write(sp, writeJson(snap).getBytes(StandardCharsets.UTF_8))
        stagedFiles += sp
        (p, snap, stagedName)
      }
      // 3. publish — the atomic commit point, guarded four ways
      built.foreach { case (p, snap, _) =>
        val bf = txnBarrierFile(p.ns, p.table)
        val mine =
          try jsonMapper.readTree(new String(Files.readAllBytes(bf),
            StandardCharsets.UTF_8)).get("txnId").asText() == txnId
          catch { case _: java.io.IOException => false }
        require(mine, s"lost the txn barrier on ${p.ns}.${p.table}")
        require(!Files.exists(versionFile(p.ns, p.table, snap.seq)),
          s"v${snap.seq} of ${p.ns}.${p.table} was taken under the barrier")
      }
      require(System.currentTimeMillis() < deadline - txnGraceMs,
        s"transaction $txnId ran past its lease; aborting before publish")
      Files.createDirectories(txnDir)
      val jparts = built.map { case (p, snap, stagedName) =>
        s"""{"ns":${q(p.ns)},"table":${q(p.table)},"seq":${snap.seq},""" +
          s""""commitId":${q(snap.commitId)},"staged":${q(stagedName)}}"""
      }.mkString(",")
      val jtmp = txnDir.resolve(s".tmp-${UUID.randomUUID()}.json")
      Files.write(jtmp,
        s"""{"txnId":${q(txnId)},"parts":[$jparts]}"""
          .getBytes(StandardCharsets.UTF_8))
      try {
        Files.createLink(txnJournal(txnId), jtmp)
        Files.deleteIfExists(jtmp)
      } catch {
        case e: java.nio.file.FileAlreadyExistsException =>
          Files.deleteIfExists(jtmp)
          throw new IllegalStateException(
            s"transaction id $txnId was already published", e)
      }
      // 4. apply + reclaim (completeTxn owns the stakes from here)
      stagedFiles.clear()
      acquired.clear()
      completeTxn(txnId)
      // the transaction is COMMITTED from here — a failed branch drop is
      // litter, never a failure the caller should see (and must never
      // trip the catch below into reporting a committed txn as failed)
      parts.foreach(p =>
        try dropBranch(p.ns, p.table, p.branch)
        catch { case _: Throwable => () })
      built.map(_._2)
    } catch {
      case e: Throwable =>
        releaseStakes()
        throw e
    }
  }

  // ---- visibility (C13: shadow→visible promotion) ----
  // Replica-side commits land as SHADOW versions; readers that ask for the
  // published view only see versions at or below the promoted floor
  // (reference setVisibility, used by StateReconciler.java:79 after the
  // verification join passes). The marker is a single JSON file updated
  // with the same atomic-publish pattern.

  private def publishedFile(ns: String, name: String): Path =
    metaDir(ns, name).resolve("published.json")

  // One lock per table orders promotion against expiry: an expiry reads
  // the promoted version and deletes under it, a promotion checks its
  // version exists and publishes under it, so neither interleaves.
  private val visibilityLocks =
    new java.util.concurrent.ConcurrentHashMap[(String, String), AnyRef]()

  private def visibilityLock(ns: String, name: String): AnyRef =
    visibilityLocks.computeIfAbsent((ns, name), _ => new AnyRef)

  /** Promote versions up to `seq`, effective at `visibleAtMs`. Refuses a
    * version that no longer exists (expired, or never committed); expiry
    * never removes the promoted one nor any above it ([[expire]]). */
  def setVisibility(ns: String, name: String, seq: Long, visibleAtMs: Long): Unit =
    visibilityLock(ns, name).synchronized {
      require(snapshots(ns, name).exists(_.seq == seq),
        s"no version $seq of $ns.$name to promote (expired, or never committed)")
      val tmp = metaDir(ns, name).resolve(s".tmp-${UUID.randomUUID()}.json")
      Files.write(tmp, s"""{"publishedSeq":$seq,"visibleAtMs":$visibleAtMs}"""
        .getBytes(StandardCharsets.UTF_8))
      Files.move(tmp, publishedFile(ns, name), StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    }

  /** Highest published version visible at `asOfMs` (None = nothing promoted). */
  def publishedSeq(ns: String, name: String, asOfMs: Long = Long.MaxValue): Option[Long] = {
    val pf = publishedFile(ns, name)
    if (!Files.exists(pf)) return None
    val j = new String(Files.readAllBytes(pf), StandardCharsets.UTF_8)
    val seq = """"publishedSeq":(\d+)""".r.findFirstMatchIn(j).map(_.group(1).toLong)
    val at = """"visibleAtMs":(\d+)""".r.findFirstMatchIn(j).map(_.group(1).toLong).getOrElse(0L)
    seq.filter(_ => at <= asOfMs)
  }

  /** Read the PUBLISHED view: latest promoted version, ignoring shadow
    * commits beyond the visibility floor. */
  def readVisible(ns: String, name: String, asOfMs: Long = Long.MaxValue): DataFrame =
    publishedSeq(ns, name, asOfMs) match {
      case Some(seq) => readVersion(ns, name, seq)
      case None      => spark.emptyDataFrame
    }

  // ---- reads ----

  // The RECORDED schema governs every read (morScan): time travel sees
  // each version's own shape, post-evolution reads project older files
  // (missing columns read as null — standard additive merge), and the
  // version's equality-delete files anti-join out under the sequence rule.
  private def readSnapshot(ns: String, name: String, snap: Snapshot): DataFrame =
    morScan(ns, name, snap, _ => true)

  /** [[readSnapshot]] for package consumers that already hold the
    * snapshot (the MV refresh reads exactly the version its CAS anchors
    * on — "latest at execution time" would race a concurrent commit). */
  private[graft] def readSnapshotPublic(ns: String, name: String,
                                        snap: Snapshot): DataFrame =
    readSnapshot(ns, name, snap)

  /** Manifest-pruned MoR read for the SQL scan path: the pushed Filter
    * array compiles to the same conservative per-file predicates the
    * row-level operations prune with ([[CowPruning]] — bounds compared
    * in UTF-8 order, blooms probed only for toString-safe types), so
    * `SELECT ... WHERE id = 5` skips every file whose recorded stats
    * provably exclude a match BEFORE Spark plans a single task. The
    * pushed filters also re-apply as row filters above, so results are
    * exact regardless — pruning only shrinks IO. `carryPosition` serves
    * the lineage (`_file`/`_pos` metadata column) read the same way,
    * which makes the row-level matching-files subquery itself
    * stats-pruned when its condition allows.
    *
    * At 100 TB this closes the gap between the programmatic
    * [[readWhere]] family and SQL: both now plan the same file set. */
  private[graft] def readFilteredSnapshot(ns: String, name: String, snap: Snapshot,
      filters: Array[org.apache.spark.sql.sources.Filter],
      carryPosition: Boolean = false): DataFrame = {
    val kept = prunedDataEntries(ns, name, snap, filters).map(_.path).toSet
    if (carryPosition) morScanLineage(ns, name, snap, e => kept(e.path))
    else morScan(ns, name, snap, e => kept(e.path))
  }

  /** THE conservative pruned-manifest walk — one implementation behind
    * the filtered SQL read, the planner size estimate, and the
    * row-level candidate computation, so the file set the planner
    * prices, the scan reads, and a rewrite removes can never drift. */
  private[graft] def prunedDataEntries(ns: String, name: String, snap: Snapshot,
      filters: Array[org.apache.spark.sql.sources.Filter]): Iterator[ManifestEntry] = {
    val schema = snap.schemaJson.map(DataType.fromJson(_).asInstanceOf[StructType])
    val dtOf: String => Option[DataType] =
      c => schema.flatMap(_.fields.find(_.name == c)).map(_.dataType)
    // bucket-transform sources prune equality probes via the per-file
    // derived bucket stat (saturation-proof — see CowPruning.compile).
    // Try(): the read path must not brick on a foreign/legacy property
    // the write-side validator never saw
    val spec = scala.util.Try(GraftCatalog.validatedPartitionSpec(
      s"$ns.$name", snap.properties, schema)).getOrElse(Seq.empty)
    val compiled =
      filters.map(CowPruning.compile(_, dtOf, physKeyOf(snap), spec))
    manifestsFull(ns, name, snap).iterator
      .filterNot(_._2) // data manifests; the delete side is small
      .flatMap(_._3)
      .filter(e => compiled.forall(_(e)))
  }

  /** [[readFilteredSnapshot]] against the LATEST version; a table with
    * no committed version falls back to the schema-correct empty read. */
  private[graft] def readFilteredLatest(ns: String, name: String,
      filters: Array[org.apache.spark.sql.sources.Filter],
      carryPosition: Boolean): DataFrame =
    latest(ns, name) match {
      case Some(s) => readFilteredSnapshot(ns, name, s, filters, carryPosition)
      case None => if (carryPosition) readWithLineage(ns, name) else read(ns, name)
    }

  /** Planner statistics from the manifests: total bytes of the data
    * files that survive the same conservative stats/bloom pruning the
    * filtered read plans — what the SQL scan will actually touch. Fed
    * to Catalyst as the relation's sizeInBytes so joins against graft
    * tables get COST-BASED treatment (a dim table, or a fact table
    * pruned to one file, broadcasts instead of defaulting to the
    * never-broadcast `defaultSizeInBytes`). Metadata-only: the cached
    * manifests answer, no file is opened. */
  private[graft] def estimateScanBytes(ns: String, name: String, snap: Snapshot,
      filters: Array[org.apache.spark.sql.sources.Filter]): Long =
    prunedDataEntries(ns, name, snap, filters).map(_.sizeBytes).sum


  /** C2: current table state. */
  def read(ns: String, name: String): DataFrame =
    latest(ns, name).map(readSnapshot(ns, name, _)).getOrElse(spark.emptyDataFrame)

  /** Stats-pruned range scan: `column BETWEEN lower AND upper` (either
    * bound optional), where the FILE LIST is pruned by the per-file
    * min/max bounds recorded in the manifests at commit time — Iceberg's
    * lower_bounds/upper_bounds scan planning. A file is skipped only when
    * its recorded range provably cannot intersect the predicate; files
    * without bounds (foreign commits via commitFiles, non-orderable
    * types) are always read. The residual row filter still applies, so
    * results are exact regardless of pruning — pruning only shrinks I/O.
    *
    * At 100 TB this is THE scan optimization: data clustered by the
    * predicate column (write-time repartitionByRange / sort) turns a
    * full-table scan into a handful of files BEFORE Spark plans anything;
    * Parquet row-group min/max then prunes further inside each file.
    *
    * Bounds are strings in the column's cast-to-string form (e.g.
    * "1995-06-01" for dates). Numeric columns compare numerically. */
  def readWhere(ns: String, name: String, column: String,
                lower: Option[String], upper: Option[String]): DataFrame =
    readWhereAll(ns, name, Seq((column, lower, upper)))

  /** Conjunction form of [[readWhere]]: a file is read unless ANY
    * predicate's recorded bounds provably exclude it — with data
    * Z-order-clustered at write time (functions.ZOrder2), one physical
    * layout serves range predicates on EITHER clustered column. */
  def readWhereAll(ns: String, name: String,
                   preds: Seq[(String, Option[String], Option[String])]): DataFrame = {
    val snap = latest(ns, name).getOrElse(return spark.emptyDataFrame)
    val schema = snap.schemaJson.map(DataType.fromJson(_).asInstanceOf[StructType])
    def dtOf(c: String) = schema.flatMap(_.fields.find(_.name == c)).map(_.dataType)
    val statKey = physKeyOf(snap)

    // caller bounds converted ONCE to the recorded stat form (timestamp
    // columns: epoch micros, see statForm) — not per manifest entry
    val forms = preds.map { case (column, lower, upper) =>
      val dt = dtOf(column)
      def f(v: String) = dt.map(GraftCatalog.statForm(_, v)).getOrElse(v)
      (column, lower.map(f), upper.map(f))
    }
    def keep(e: ManifestEntry): Boolean =
      forms.forall { case (column, lower, upper) =>
        val numeric = dtOf(column).exists(GraftCatalog.statNumeric)
        def lt(a: String, b: String): Boolean =
          GraftCatalog.boundsLt(numeric)(a, b)
        e.stats.get(statKey(column)) match {
          case Some((mn, mx)) =>
            // unparseable bounds (a double column recorded "NaN"/"Infinity",
            // a caller-supplied bound that isn't a number) must mean "keep
            // the file", never a failed scan
            try !upper.exists(u => lt(u, mn)) && !lower.exists(l => lt(mx, l))
            catch { case _: NumberFormatException => true }
          case None => true // no bounds recorded -> cannot prune, must read
        }
      }
    val df = morScan(ns, name, snap, keep)
    val residual = preds.flatMap { case (column, lower, upper) =>
      def bound(v: String) = dtOf(column).map(t => lit(v).cast(t)).getOrElse(lit(v))
      lower.map(l => col(column) >= bound(l)) ++ upper.map(u => col(column) <= bound(u))
    }.reduceOption(_ && _)
    residual.map(df.filter).getOrElse(df)
  }

  /** Bloom- AND stats-pruned POINT lookup: `column = value`. Min/max
    * prunes when the data is clustered by the column; the per-file Bloom
    * (recorded by commitAppend(bloomCols = ...)) prunes when it is NOT —
    * hash-distributed unique keys leave every file's [min, max] covering
    * the probe, while the Bloom rejects every file but the (expected
    * ~1 + fp·n) actually holding the key. Files without a bloom for the
    * column are always read; the residual equality filter keeps the
    * result exact either way. */
  def readWhereEquals(ns: String, name: String, column: String, value: String): DataFrame = {
    val snap = latest(ns, name).getOrElse(return spark.emptyDataFrame)
    val schema = snap.schemaJson.map(DataType.fromJson(_).asInstanceOf[StructType])
    def dtOf(c: String) = schema.flatMap(_.fields.find(_.name == c)).map(_.dataType)
    val dt = dtOf(column)
    val numeric = dt.exists(GraftCatalog.statNumeric)
    // probe in the recorded stat form (timestamps: epoch micros) — the
    // bloom build side hashes the SAME form (timestamps via unix_micros,
    // everything else cast-to-string == toString), so blooms probe every
    // recorded type, timestamps included
    val probe = dt.map(GraftCatalog.statForm(_, value)).getOrElse(value)
    val positions = GraftCatalog.bloomPositions(probe)
    // same whitelist as CowPruning: types whose probe form provably
    // equals the recorded form (decimal drops trailing scale zeros —
    // probing it would prune files that HOLD the key and lose rows)
    val bloomSafe = dt.exists {
      case ByteType | ShortType | IntegerType | LongType | FloatType |
           DoubleType | StringType | BooleanType | DateType |
           TimestampType => true
      case _ => false
    }
    val statKey = physKeyOf(snap)
    // spec-bucket stat check, shared with CowPruning.point (the
    // saturation-proof complement to the bloom)
    val bucketCheck: ManifestEntry => Boolean = {
      val spec = scala.util.Try(GraftCatalog.validatedPartitionSpec(
        s"$ns.$name", snap.properties, schema)).getOrElse(Seq.empty)
      GraftCatalog.bucketProbeOf(spec, column, dt, value,
          statKey(column)) match {
        case Some((key, b)) =>
          e => GraftCatalog.bucketStatKeeps(e.stats, key, b)
        case None => _ => true
      }
    }
    def keep(e: ManifestEntry): Boolean = {
      val boundsOk = e.stats.get(statKey(column)) match {
        case Some((mn, mx)) =>
          def lt(a: String, b: String): Boolean =
            GraftCatalog.boundsLt(numeric)(a, b)
          try !lt(probe, mn) && !lt(mx, probe)
          catch { case _: NumberFormatException => true }
        case None => true
      }
      def bloomOk = !bloomSafe ||
        (e.blooms.get(GraftCatalog.bloomKeyOf(dt, statKey(column))) match {
          case Some(b64) => GraftCatalog.bloomHit(b64, positions)
          case None => true
        })
      boundsOk && bucketCheck(e) && bloomOk
    }
    morScan(ns, name, snap, keep)
      .filter(col(column) === dtOf(column).map(t => lit(value).cast(t)).getOrElse(lit(value)))
  }

  /** mergeSchema-style append (Delta's `mergeSchema=true` shape), the
    * documented DECISION for schema-merging writes:
    *
    *  - columns the batch has and the table lacks WIDEN the schema in
    *    the SAME CAS commit as the data (plain [[commitAppend]] already
    *    grants this — schema + files publish atomically, never an
    *    evolve-then-append window where a concurrent reader sees the
    *    column with no data);
    *  - columns the table has and the batch lacks are NULL-FILLED here
    *    (typed nulls, nullable by definition) — the convenience plain
    *    commitAppend deliberately refuses, because silently null-filling
    *    a MISTYPED frame loses data; this entry point is the explicit
    *    opt-in;
    *  - type changes still refuse (ALTER COLUMN TYPE is a deliberate,
    *    promotion-lattice-checked act, not a write side effect).
    *
    * SQL `INSERT` cannot reach either half — Spark validates INSERT
    * column lists against the table schema at analysis — so this is a
    * programmatic by-name ingestion API; nothing in graft itself calls
    * it. */
  def commitAppendMerge(ns: String, name: String, df: DataFrame,
                        sourceRegion: String = "local",
                        commitId: Option[String] = None,
                        bloomCols: Seq[String] = Seq.empty): Snapshot = {
    val cur = tableSchema(ns, name).map(_.fields.toSeq).getOrElse(Seq.empty)
    // name matching honors spark.sql.caseSensitive (Spark analysis is
    // case-INsensitive by default): an exact-case match here would treat
    // a batch column 'ID' against table column 'id' as NEW — null-fill
    // 'id' and widen with a duplicate 'ID', silently misplacing the
    // batch's data, the exact failure class this method exists to refuse
    val caseSensitive = spark.sessionState.conf.caseSensitiveAnalysis
    def sameName(a: String, b: String): Boolean =
      if (caseSensitive) a == b else a.equalsIgnoreCase(b)
    // SELECT-* stability: recorded order stays table-columns-first (in
    // table order), freshly-introduced columns append after, in batch
    // order — Delta's mergeSchema ordering. Matched batch columns are
    // re-aliased to the TABLE's spelling (the canonical name).
    val tableCols = cur.map(f =>
      df.schema.fieldNames.find(sameName(_, f.name)) match {
        case Some(bn) => col(bn).as(f.name)
        case None => lit(null).cast(f.dataType).as(f.name)
      })
    val newCols = df.schema.fieldNames.toSeq
      .filterNot(n => cur.exists(f => sameName(f.name, n))).map(col)
    commitAppend(ns, name, df.select(tableCols ++ newCols: _*),
      sourceRegion = sourceRegion, commitId = commitId, bloomCols = bloomCols)
  }

  /** C1: `VERSION AS OF seq` time travel — files AND schema of `seq`. */
  def readVersion(ns: String, name: String, seq: Long): DataFrame = {
    val snap = snapshots(ns, name).find(_.seq == seq)
      .getOrElse(throw new IllegalArgumentException(s"no version $seq of $ns.$name"))
    readSnapshot(ns, name, snap)
  }

  /** `TIMESTAMP AS OF` resolution: the newest version committed at or
    * before `asOfMs` (None when the table did not exist yet — or its
    * then-current versions have been expired, which is the documented
    * retention trade-off of every timestamp-travel implementation). */
  def versionAsOfTimestamp(ns: String, name: String, asOfMs: Long): Option[Snapshot] =
    snapshots(ns, name).filter(_.timestampMs <= asOfMs).lastOption

  /** C1: `TIMESTAMP AS OF` time travel — resolves through
    * [[versionAsOfTimestamp]] and reads that version's files + schema. */
  def readAsOfTimestamp(ns: String, name: String, asOfMs: Long): DataFrame =
    versionAsOfTimestamp(ns, name, asOfMs)
      .map(readSnapshot(ns, name, _))
      .getOrElse(throw new IllegalArgumentException(
        s"no version of $ns.$name at or before $asOfMs"))

  /** Y14: incremental read — only rows in files ADDED in (fromSeq, toSeq].
    * A manifest-set diff: the added files are exactly the union of the
    * manifests `toSeq` carries beyond `fromSeq` (each file lives in ONE
    * manifest), so the diff never enumerates per-file sets. */
  def readIncremental(ns: String, name: String, fromSeq: Long, toSeq: Long): DataFrame = {
    val snaps = snapshots(ns, name)
    val fromManifests = snaps.find(_.seq == fromSeq).map(_.manifests.toSet).getOrElse(Set.empty)
    val toSnap = snaps.find(_.seq == toSeq)
    // delete manifests never contribute rows to an incremental DATA read
    val addedM = toSnap.map(_.manifests.filterNot(fromManifests))
      .getOrElse(Seq.empty).filterNot(isDeleteManifest)
    val files = addedM.flatMap(manifestEntries(ns, name, _))
    val schema = toSnap.flatMap(_.schemaJson).map(DataType.fromJson(_).asInstanceOf[StructType])
    if (files.isEmpty) spark.emptyDataFrame
    else {
      // files spell PHYSICAL names; emit the end snapshot's logical ones
      val raw = scanFiles(ns, name, files, schema.map(GraftCatalog.physicalSchema))
      schema.filter(GraftCatalog.hasColumnMapping) match {
        case Some(st) => raw.select(st.fields.toSeq.map(f =>
          col(GraftCatalog.physicalName(f))
            .as(f.name, GraftCatalog.withoutPhysical(f).metadata)): _*)
        case None => raw
      }
    }
  }

  /** Row-level change feed over (fromSeq, toSeq] — the CDC read
    * (Iceberg/Delta changelog semantics): every change row carries
    * `_change_type` ('insert' | 'delete').
    *
    * Fast path: when every commit in the range is an APPEND (parent's
    * manifest set survives into the child), the inserts are exactly the
    * added manifests' rows — O(delta) I/O off the manifest-set diff,
    * never a row comparison. A replace/compaction anywhere in the range
    * falls back to a distributed row-level exceptAll diff in both
    * directions (two scans + one shuffle each — honest cost; CDC across
    * a rewrite has no cheaper exact form without row lineage ids).
    * Schemas align by name across additive evolution (absent columns
    * read null). */
  /** True iff every commit in (fromSeq, toSeq] is a pure APPEND — the
    * precondition for the O(delta) manifest-diff incremental read.
    * A replace whose parent version was EXPIRED would slip past the
    * per-commit check (parent unknown ⇒ vacuously append); appends
    * never drop manifests, so `from ⊆ to` is the safety net. A
    * merge-on-read delete commit keeps every parent manifest (it only
    * ADDS a d-/p- manifest), so the subset test alone would misread it
    * as an append — any new delete manifest in the range disqualifies. */
  def isAppendOnlyRange(ns: String, name: String, fromSeq: Long, toSeq: Long): Boolean = {
    val snaps = snapshots(ns, name)
    (snaps.find(_.seq == fromSeq), snaps.find(_.seq == toSeq)) match {
      case (Some(from), Some(to)) => appendOnly(snaps, from, to)
      case _ => false
    }
  }

  // resolved-endpoint core (changesBetween already holds snaps/from/to —
  // no second history scan per call)
  private def appendOnly(snaps: Seq[Snapshot], from: Snapshot, to: Snapshot): Boolean =
    from.manifests.forall(to.manifests.contains) &&
      !to.manifests.filterNot(from.manifests.toSet).exists(isDeleteManifest) &&
      snaps.filter(s => s.seq > from.seq && s.seq <= to.seq)
        .forall { s =>
          val parent = snaps.find(_.seq == s.seq - 1)
          parent.forall(p => p.manifests.forall(s.manifests.contains))
        }

  def changesBetween(ns: String, name: String, fromSeq: Long, toSeq: Long): DataFrame = {
    require(fromSeq <= toSeq, s"fromSeq $fromSeq > toSeq $toSeq")
    val snaps = snapshots(ns, name)
    def snapAt(sq: Long) = snaps.find(_.seq == sq).getOrElse(
      throw new IllegalArgumentException(s"no version $sq of $ns.$name"))
    val from = snapAt(fromSeq); val to = snapAt(toSeq)
    def diff(b: DataFrame, a: DataFrame): DataFrame = {
      val cols = (b.columns ++ a.columns.filterNot(b.columns.contains)).toSeq
      def typeOf(c: String) =
        b.schema.fields.find(_.name == c).orElse(a.schema.fields.find(_.name == c)).get.dataType
      def aligned(df: DataFrame) = df.select(cols.map(c =>
        if (df.columns.contains(c)) col(c) else lit(null).cast(typeOf(c)).as(c)): _*)
      aligned(b).exceptAll(aligned(a)).withColumn("_change_type", lit("insert"))
        .unionByName(
          aligned(a).exceptAll(aligned(b)).withColumn("_change_type", lit("delete")))
    }
    if (appendOnly(snaps, from, to))
      readIncremental(ns, name, fromSeq, toSeq)
        .withColumn("_change_type", lit("insert"))
    else if (to.manifests.startsWith(from.manifests)) {
      // MoR-ADDITIVE range (appends + delete commits + cdc upserts —
      // anything that only APPENDS manifests): b = (a − D) + N, so
      // b∖a = N∖D and a∖b = D∖N with N = range-added rows as `to`
      // serves them and D = the from-rows the range's delete units
      // erase. Both sides are DELTA-sized — the O(2×corpus) exceptAll
      // of two full snapshots below is reserved for true overwrites
      // (compaction/replace rewrite the manifest list and break the
      // prefix invariant). At 100 TB this is THE changefeed shape: a
      // replica/materialized view following a cdc-churned base pays
      // O(batch), never a base rescan per refresh.
      val (n, d) = morAdditiveDelta(ns, name, from, to)
      diff(n, d)
    } else segmentedMorDelta(ns, name, snaps, from, to) match {
      // additive-MODULO-MAINTENANCE range: compaction/rewrites are
      // row-neutral by construction (reserved commit-id prefixes,
      // enforced at the commit funnel), so the range decomposes into
      // MoR-additive segments whose per-segment (N, D) union to the
      // same signed delta — O(Σ batch), never the two-snapshot shuffle
      // diff. At 100 TB compaction runs constantly; without this every
      // MV/CDC consumer would pay a full-corpus diff per maintenance
      // window.
      case Some((n, d)) => diff(n, d)
      case None =>
        diff(readSnapshot(ns, name, to), readSnapshot(ns, name, from))
    }
  }

  /** Decompose (from, to] at ROW-NEUTRAL maintenance commits and union
    * the per-segment MoR-additive deltas — None when the range doesn't
    * decompose (a true overwrite, or an expired boundary). Correctness:
    * each additive segment satisfies rows(end) = rows(start) + Nᵢ − Dᵢ
    * (Dᵢ drawn from rows present at its segment start), maintenance
    * commits preserve rows exactly, so the signed sum telescopes to
    * rows(to) − rows(from); the caller's diff(N, D) cancels cross-
    * segment insert-then-delete pairs the same way the within-segment
    * positional rule does. */
  private def segmentedMorDelta(ns: String, name: String,
                                snaps: Seq[Snapshot],
                                from: Snapshot, to: Snapshot)
      : Option[(DataFrame, DataFrame)] = {
    val range = snaps.filter(s => s.seq > from.seq && s.seq <= to.seq)
      .sortBy(_.seq)
    if (!range.exists(s => GraftCatalog.isMaintenanceCommitId(s.commitId)))
      return None // no maintenance boundary — the prefix test already failed
    val nsBuf = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val dsBuf = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var segStart = from
    // a segment must END on the maintenance commit's direct parent —
    // an expired boundary would silently skip the commits between the
    // last present snapshot and the rewrite
    def close(end: Snapshot): Boolean =
      end.seq == segStart.seq || {
        end.manifests.startsWith(segStart.manifests) && {
          val (n, d) = morAdditiveDelta(ns, name, segStart, end)
          nsBuf += n; dsBuf += d; true
        }
      }
    range.foreach { s =>
      if (GraftCatalog.isMaintenanceCommitId(s.commitId)) {
        val end = if (s.seq - 1 == segStart.seq) Some(segStart)
                  else snaps.find(_.seq == s.seq - 1)
        end match {
          case Some(e) if close(e) => segStart = s
          case _ => return None
        }
      }
    }
    if (!close(to)) return None
    val empty = readSnapshot(ns, name, to).limit(0)
    def unite(fs: Seq[DataFrame]) = fs.reduceOption((a, b) =>
      a.unionByName(b, allowMissingColumns = true)).getOrElse(empty)
    Some((unite(nsBuf.toSeq), unite(dsBuf.toSeq)))
  }

  /** The (added rows N, erased rows D) of a MoR-additive version range
    * — see [[changesBetween]]. N = the range-added data files scanned
    * under `to` (its positional rule erases rows added-then-deleted
    * within the range). D = C − apply(C, range deletes) where C is the
    * candidate subset of `from`: position deletes name their files
    * explicitly; equality keys prune candidate files through the same
    * stats/bloom/bucket machinery point lookups use (collected
    * driver-side — delete files are the small side by the format's
    * contract, capped: past 10k distinct keys the scan keeps every
    * file, one full pass + broadcast semi-join, still far under the
    * two-scan shuffle diff). Conservative pruning stays EXACT: extra
    * candidates survive the apply step and cancel in C − survivors. */
  private def morAdditiveDelta(ns: String, name: String,
                               from: Snapshot, to: Snapshot)
      : (DataFrame, DataFrame) = {
    val added = to.manifests.drop(from.manifests.size)
    val newDataPaths = added.filterNot(isDeleteManifest)
      .flatMap(manifestEntries(ns, name, _)).map(_._1).toSet
    val n = morScan(ns, name, to, e => newDataPaths(e.path))

    val (posM, eqM) = added.filter(isDeleteManifest)
      .partition(isPosDeleteManifest)
    val eqFiles = eqM.flatMap(manifestEntries(ns, name, _))
    val posFiles = posM.flatMap(manifestEntries(ns, name, _))
    // delete files are planned from the manifests like morScan's: no
    // schema-inference job, no listing job
    def posDeletes = scanFiles(ns, name, posFiles, Some(GraftCatalog.PosDeleteSchema))
    if (eqFiles.isEmpty && posFiles.isEmpty)
      return (n, readSnapshot(ns, name, from).limit(0))

    val fromSchema = from.schemaJson
      .map(DataType.fromJson(_).asInstanceOf[StructType])
    val statKey = physKeyOf(from)
    // files position deletes reference, by name
    val posRefs: Set[String] =
      if (posFiles.isEmpty) Set.empty
      else posDeletes.select("file_path")
        .distinct().collect().map(_.getString(0)).toSet
    val eqDf = if (eqFiles.isEmpty) None
      else Some(scanFiles(ns, name, eqFiles,
        Some(parquetFileSchema(ns, name, eqFiles.head._1))))
    // equality-candidate pruning on the FIRST delete column (delete
    // files carry PHYSICAL spellings; stats key on them directly)
    val keepEq: ManifestEntry => Boolean = eqDf match {
      case None => _ => false
      case Some(d) =>
        val c0 = d.columns.head
        val dt = fromSchema.flatMap(st => st.fields
          .find(f => GraftCatalog.physicalName(f) == c0)).map(_.dataType)
        val vals = d.select(c0).distinct().limit(10001).collect()
          .map(_.get(0)).filter(_ != null)
        if (vals.length > 10000) { _ => true } // cap: keep every file
        else {
          val numeric = dt.exists(GraftCatalog.statNumeric)
          val probes = vals.map(v =>
            dt.map(GraftCatalog.statForm(_, v)).getOrElse(v.toString))
          val posSets = probes.map(GraftCatalog.bloomPositions(_))
          val spec = scala.util.Try(GraftCatalog.validatedPartitionSpec(
            s"$ns.$name", from.properties, fromSchema)).getOrElse(Seq.empty)
          val bucketProbes: Option[(String, Set[Int])] = spec.collectFirst {
            case GraftCatalog.PartitionField("bucket", src, nb)
                if statKey(src) == c0 || src == c0 =>
              (GraftCatalog.bucketStatKey(nb, c0),
                vals.flatMap(v => GraftCatalog.icebergBucketValueOf(dt, v, nb))
                  .toSet)
          }
          val bloomK = GraftCatalog.bloomKeyOf(dt, c0)
          e => {
            val boundsOk = e.stats.get(c0) match {
              case Some((mn, mx)) =>
                try probes.exists(p =>
                  !GraftCatalog.boundsLt(numeric)(p, mn) &&
                    !GraftCatalog.boundsLt(numeric)(mx, p))
                catch { case _: NumberFormatException => true }
              case None => true
            }
            def bucketOk = bucketProbes match {
              case Some((key, bs)) => e.stats.get(key) match {
                case Some((mn, mx)) =>
                  try bs.exists(b => b >= mn.toInt && b <= mx.toInt)
                  catch { case _: NumberFormatException => true }
                case None => true
              }
              case None => true
            }
            def bloomOk = e.blooms.get(bloomK) match {
              case Some(b64) =>
                posSets.exists(GraftCatalog.bloomHit(b64, _))
              case None => true
            }
            boundsOk && bucketOk && bloomOk
          }
        }
    }
    // delete parquet spells PHYSICAL names; scan output is logical
    val dlOpt = eqDf.map { d =>
      val toLogical = fromSchema.map(GraftCatalog.physicalMap)
        .getOrElse(Map.empty).map(_.swap)
      d.columns.foldLeft(d)((acc, c) =>
        acc.withColumnRenamed(c, toLogical.getOrElse(c, c)))
    }
    // equality erasure IS a key match: one (pruned) scan of the
    // candidate files semi-joined against the broadcast key set —
    // delta-sized output, and NO lineage decode unless position deletes
    // exist. (An earlier C − apply(C) formulation differenced two
    // candidate-sized frames; with saturated pruning that was two
    // corpus-sized except legs — measured 4× a full rebuild at 30×.)
    val erasedEq = dlOpt.map { dl =>
      morScan(ns, name, from, keepEq)
        .join(dl, dl.columns.toSeq, "left_semi")
    }
    val erasedPos =
      if (posFiles.isEmpty) None
      else {
        val hit = morScanLineage(ns, name, from, e => posRefs(e.path))
          .join(posDeletes
            .select(col("file_path").as("_file"), col("pos").as("_pos")),
            Seq("_file", "_pos"), "left_semi")
          .drop("_file", "_pos")
        // a row both key-matched AND position-named must erase ONCE
        Some(dlOpt.fold(hit)(dl => hit.join(dl, dl.columns.toSeq, "left_anti")))
      }
    val erased = (erasedEq.toSeq ++ erasedPos.toSeq)
      .reduceOption(_ unionByName _)
      .getOrElse(readSnapshot(ns, name, from).limit(0))
    (n, erased)
  }

  /** History as a DataFrame (the `t.history` metadata-table pattern) —
    * summary stats come straight from the version JSON, O(versions). */
  def history(ns: String, name: String): DataFrame = {
    import spark.implicits._
    snapshots(ns, name)
      .map(s => (s.seq, s.commitId, s.parentId.orNull, s.timestampMs, s.fileCount, s.sourceRegion))
      .toDF("seq", "commit_id", "parent_id", "timestamp_ms", "file_cnt", "source_region")
  }

  /** Files metadata table (the `t.files` pattern driving diff/GC ops):
    * (path, size_bytes) of every entry of every manifest of the version,
    * delete manifests included — a file two manifests carry (a replace
    * re-manifests what it keeps) appears twice. size_bytes is the
    * AUTHORITATIVE size recorded at commit time. Which side reads the
    * manifests follows their bytes, against
    * [[GraftCatalog.LocalFilesTableBytes]] (Spark's recommended maximum
    * task size — a driver-local relation ships inside the tasks of any
    * distributed consumer):
    *  - at or under it, the DRIVER builds the rows from the manifest
    *    cache as a local frame (no job; a GC diff over it folds on the
    *    driver, [[graft.plans.FoldLocalRelations]]). Scan planning loads
    *    the same manifests into the same cache;
    *  - over it, a DISTRIBUTED JSON scan of the manifest files planned
    *    through a [[ManifestFileIndex]] (no listing job), so
    *    reconciliation joins scale to manifest sets far past driver memory.
    * A version missing from the log (expired, or never committed) is
    * refused: an empty frame would make every listed file an orphan. */
  def filesTable(ns: String, name: String, seq: Long): DataFrame = {
    import spark.implicits._
    val manifests = versionManifests(ns, name, seq)
    if (manifests.map(_._2).sum <= GraftCatalog.LocalFilesTableBytes)
      manifests.flatMap(m => manifestEntries(ns, name, m._1)).toDF("path", "size_bytes")
    else manifestScan(ns, name, manifests)
  }

  /** [[filesTable]]'s distributed side, whatever the manifests' bytes. */
  private[graft] def filesTableScan(ns: String, name: String, seq: Long): DataFrame =
    manifestScan(ns, name, versionManifests(ns, name, seq))

  /** (manifest, file bytes) of version `seq`; refuses a missing version. */
  private def versionManifests(ns: String, name: String, seq: Long): Seq[(String, Long)] =
    snapshots(ns, name).find(_.seq == seq).getOrElse(throw new NoSuchElementException(
      s"no version $seq of $ns.$name (expired, or never committed)"))
      .manifests.map(m => m -> Files.size(tableDir(ns, name).resolve(m)))

  private def manifestScan(ns: String, name: String, manifests: Seq[(String, Long)]): DataFrame =
    spark.baseRelationToDataFrame(HadoopFsRelation(fileIndex(ns, name, manifests),
      new StructType(), ManifestSchema, None, new JsonFileFormat, Map.empty)(spark))

  // ---- G1: snapshot expiry ----

  /** Shared expiry: manifest-granular candidate selection (a manifest
    * referenced only by expired versions is removable), then a
    * FILE-granular reachability guard before the physical delete — on
    * the driver when the removed bytes are metadata-scale
    * ([[GraftCatalog.driverScale]]), else by the tasks of one job. The
    * guard exists because [[commitFilesReplace]] re-manifests
    * the files an overwrite KEEPS — so a live file can be referenced by
    * both an expired-only manifest and a kept one, and deleting expired
    * manifests wholesale would destroy it (caught by CatalogSpec's
    * replace-then-expire case). Cost is O(kept live files) driver-side
    * through the manifest cache — the same planner-scale read a table
    * scan does. Files are staged flat under `data/`; a table staged
    * before that layout keeps per-commit `data/<dir>/` directories, and
    * the delete also removes every such directory it leaves empty
    * ([[GraftCatalog.deleteDataFiles]]). The promoted version
    * ([[publishedSeq]]) and every version above it are kept whatever
    * `keep` says, under the lock [[setVisibility]] takes, so a promotion
    * racing an expiry either is seen and kept, or comes after it and is
    * refused if its version is gone. Keeping every version above the
    * promoted one keeps the expired set a prefix of the log, which
    * [[casCommitAt]]'s freed-slot check relies on. Returns the removed
    * data-file paths. */
  private def expire(ns: String, name: String, keep: Snapshot => Boolean): Seq[String] =
    visibilityLock(ns, name).synchronized {
      val published = publishedSeq(ns, name)
      val snaps = snapshots(ns, name)
      val (kept, expired) = snaps.partition(s => keep(s) || published.exists(_ <= s.seq))
      if (expired.isEmpty) Seq.empty else {
        val keptManifests = kept.flatMap(_.manifests).toSet
        val removableManifests = expired.flatMap(_.manifests).distinct.filterNot(keptManifests)
        val keptFiles = keptManifests.toSeq
          .flatMap(manifestEntries(ns, name, _)).map(_._1).toSet
        val removableEntries = removableManifests.flatMap(manifestEntries(ns, name, _))
          .distinctBy(_._1).filterNot(e => keptFiles(e._1))
        val removable = removableEntries.map(_._1)
        val base = tableDir(ns, name).toString
        if (GraftCatalog.driverScale(s"$ns.$name", snaps.last.properties,
              removableEntries.map(_._2).sum))
          GraftCatalog.deleteDataFiles(base, removable.iterator, spark.sparkContext.hadoopConfiguration)
        else {
          import spark.implicits._
          val confSer = new org.apache.spark.util.SerializableConfiguration(
            spark.sparkContext.hadoopConfiguration)
          removable.toDF("path").as[String].foreachPartition { (paths: Iterator[String]) =>
            GraftCatalog.deleteDataFiles(base, paths, confSer.value)
          }
        }
        // ascending: a version file goes only after every older one, which
        // is what lets a commit detect that it re-created an expired slot
        // (see casCommitAt)
        expired.foreach { s =>
          snapshotCache.remove(versionFile(ns, name, s.seq).toAbsolutePath)
          Files.deleteIfExists(versionFile(ns, name, s.seq)): Unit
        }
        removableManifests.foreach { m =>
          val ap = tableDir(ns, name).resolve(m).toAbsolutePath
          manifestCache.remove(ap)
          Files.deleteIfExists(ap): Unit
        }
        removable
      }
    }

  /** Expire every version older than `seq`, and the files only they
    * reference. Time travel on the table then starts at `seq`. Two
    * callers: a checkpointing replace (the `_system` log compaction),
    * once it has landed as `seq`, drops the versions it folded; the geo
    * sync worker, once a batch's events are Completed, drops a replica's
    * versions below the head the batch found
    * ([[graft.service.GeoReplicationService.processPendingEvents]]). */
  def expireBefore(ns: String, name: String, seq: Long): Seq[String] =
    expire(ns, name, _.seq >= seq)

  /** G1: retain the newest `retainLast` versions; drop the rest plus any
    * data files (and manifests) unreachable from a kept version. */
  def expireSnapshots(ns: String, name: String, retainLast: Int): Seq[String] = {
    // retainLast 0 (or negative) would expire EVERY version and delete
    // all the table's data — never a sane request, always a bug upstream
    require(retainLast >= 1, s"retainLast must be >= 1, got $retainLast")
    val keepSeqs = snapshots(ns, name).takeRight(retainLast).map(_.seq).toSet
    expire(ns, name, s => keepSeqs.contains(s.seq))
  }

  /** G1 age form (reference RetentionPolicy.java:3 — min snapshots + max
    * age; application.yaml:3-6): expire versions committed before
    * `olderThanMs`, but ALWAYS retain the newest `minSnapshotsToKeep`
    * regardless of age (the retention floor that keeps time travel and
    * in-flight readers alive through an aggressive age policy). */
  def expireOlderThan(ns: String, name: String, olderThanMs: Long,
                      minSnapshotsToKeep: Int = 1): Seq[String] = {
    val floor = snapshots(ns, name).takeRight(math.max(1, minSnapshotsToKeep)).map(_.seq).toSet
    expire(ns, name, s => floor.contains(s.seq) || s.timestampMs >= olderThanMs)
  }

  /** Property-driven [[expireOlderThan]] — the maintenance-job form
    * (one scheduled `expireSnapshots(ns, t)` per table, the policy
    * riding the table's own metadata instead of job arguments, exactly
    * like the no-arg [[compact]]): Iceberg's retention knobs
    * `history.expire.max-snapshot-age-ms` (default 5 days) and
    * `history.expire.min-snapshots-to-keep` (default 1). Malformed
    * values refuse loudly rather than silently expiring on defaults —
    * a typo'd retention policy that quietly shortens history is how
    * time travel (and in-flight readers) die. */
  def expireSnapshots(ns: String, name: String): Seq[String] = {
    val props = tableProperties(ns, name)
    def longProp(k: String, dflt: Long): Long = props.get(k) match {
      case Some(v) =>
        try v.trim.toLong catch { case _: NumberFormatException =>
          throw new IllegalArgumentException(
            s"$ns.$name: table property $k must be an integer, got '$v'") }
      case None => dflt
    }
    val maxAgeMs = longProp(GraftCatalog.MaxSnapshotAgeMsProp, 5L * 24 * 3600 * 1000)
    val minKeep = longProp(GraftCatalog.MinSnapshotsToKeepProp, 1L)
    require(maxAgeMs > 0,
      s"$ns.$name: ${GraftCatalog.MaxSnapshotAgeMsProp} must be > 0, got $maxAgeMs")
    require(minKeep >= 1 && minKeep <= Int.MaxValue,
      s"$ns.$name: ${GraftCatalog.MinSnapshotsToKeepProp} must be in " +
        s"[1, ${Int.MaxValue}], got $minKeep")
    expireOlderThan(ns, name, System.currentTimeMillis() - maxAgeMs,
      minKeep.toInt)
  }

  /** G6 completeness for the metadata plane: manifests referenced by NO
    * version (a crash between writeManifest and the CAS publish — the
    * in-process abort paths already clean up after themselves) are
    * removable once older than `graceMs`. The grace window keeps an
    * in-flight commit's freshly-written manifest safe: its mtime is
    * seconds old while it races toward the CAS. Returns removed paths. */
  def sweepOrphanManifests(ns: String, name: String,
                           graceMs: Long = 3600000L): Seq[String] = {
    val referenced = snapshots(ns, name).flatMap(_.manifests).toSet
    val cutoff = System.currentTimeMillis() - graceMs
    val dir = manifestDir(ns, name)
    if (!Files.isDirectory(dir)) return Seq.empty
    listDir(dir)
      .filter(p => p.getFileName.toString.startsWith("m-"))
      .filter(p => !referenced.contains(s"_meta/manifests/${p.getFileName}"))
      .filter(p => Files.getLastModifiedTime(p).toMillis < cutoff)
      .map { p =>
        manifestCache.remove(p.toAbsolutePath)
        Files.deleteIfExists(p)
        s"_meta/manifests/${p.getFileName}"
      }
  }
}

object GraftCatalog {

  /** Delete the table-relative files `rels` under `base`, then each
    * `data/<dir>/` directory they came from that is now empty. Files are
    * staged flat under `data/`, which is never removed; the per-commit
    * directories are those of tables staged before that layout. The
    * directory delete is non-recursive after an emptiness check, so a
    * directory still holding any file (an aborted commit's, a concurrent
    * writer's) stays. */
  private[catalog] def deleteDataFiles(base: String, rels: Iterator[String],
                                       conf: org.apache.hadoop.conf.Configuration): Unit = {
    val dirs = scala.collection.mutable.LinkedHashSet.empty[HPath]
    rels.foreach { p =>
      val hp = new HPath(s"$base/$p")
      hp.getFileSystem(conf).delete(hp, false)
      val parent = p.substring(0, p.lastIndexOf('/').max(0))
      if (parent.startsWith("data/") && parent.indexOf('/', 5) < 0) dirs += hp.getParent
    }
    dirs.foreach { d =>
      val f = d.getFileSystem(conf)
      // a directory that vanished or refilled since the check stays as is
      try { if (f.listStatus(d).isEmpty) f.delete(d, false) }
      catch { case _: java.io.IOException => }
    }
  }

  /** The table-relative name prefix of the files one staging operation
    * `op` writes: `data/<op>`, each file `data/<op>-<part>.parquet` —
    * flat in `data/` (Iceberg's default location layout for an
    * unpartitioned table), so no level of a table's tree widens with its
    * commit count. */
  private[graft] def opPrefix(op: String): String = s"data/$op"

  /** Delete the files a failed staging under op-id `op` wrote: the files
    * of `base/data/` named `<op>-…` ([[opPrefix]], with their checksum
    * siblings). `data/` itself and every other commit's files stay. */
  private[graft] def deleteStaged(base: String, op: String,
                                  conf: org.apache.hadoop.conf.Configuration): Unit = {
    val dir = new HPath(s"$base/data")
    val fs = dir.getFileSystem(conf)
    val mine = try fs.listStatus(dir, (p: HPath) => p.getName.startsWith(s"$op-"))
               catch { case _: java.io.FileNotFoundException => Array.empty[FileStatus] }
    mine.foreach(st => fs.delete(st.getPath, false))
  }

  /** Whether a column's bounds and Bloom can be recorded in a manifest:
    * its name, a JSON key there, is within the JSON readers' name-length
    * limit (Jackson's default, 50,000; counted here in UTF-8 bytes), so
    * the manifest's distributed scan reads the entry whole. Past it the
    * scan returns the entry's path and size as null. Stats are optional:
    * a file with none for a column is read by every scan. */
  private[catalog] def recordableStatKey(column: String): Boolean =
    column.getBytes(StandardCharsets.UTF_8).length <=
      com.fasterxml.jackson.core.StreamReadConstraints.DEFAULT_MAX_NAME_LEN

  /** The manifest bytes up to which [[GraftCatalog.filesTable]] reads a
    * version on the driver: 1,000 KiB, Spark's recommended maximum task
    * size (the size at which `TaskSetManager` warns). The same bound
    * caps the data-file bytes of the table scans one
    * [[graft.plans.FoldLocalRelations]] fold reads on the driver. */
  val LocalFilesTableBytes: Long = 1000L * 1024

  /** Manifest-unit kinds for [[GraftCatalog.commitFilesMor]] /
    * commitFilesReplaceMor — mapped onto the manifest-name prefixes the
    * scan keys on. */
  val UnitData = "data"
  val UnitEqDelete = "eqdelete"
  val UnitPosDelete = "posdelete"
  private[catalog] def unitPrefix(kind: String): String = kind match {
    case UnitData => "m"
    case UnitEqDelete => "d"
    case UnitPosDelete => "p"
    case other => throw new IllegalArgumentException(s"unknown manifest-unit kind $other")
  }

  /** Column types whose manifest bounds support pruning: atomic and
    * totally ordered with an order-preserving string form (numerics are
    * re-parsed before comparison). Timestamps are deliberately EXCLUDED:
    * their cast-to-string form depends on the writer session's timezone,
    * so a reader in another zone would prune against shifted bounds and
    * silently drop files — dates are calendar values and stay safe. */
  private[catalog] def prunableType(dt: DataType): Boolean = dt match {
    case _: NumericType | StringType | BooleanType | DateType |
         TimestampType => true
    case _ => false
  }

  /** Stat-string compare mode for `dt`: timestamps JOIN the numeric
    * path because their bounds are recorded TZ-STABLY as epoch MICROS
    * (a cast-to-string bound depends on the writer session's time zone;
    * a reader in another zone would misprune — for a row-level
    * operation that silently LOSES updates, the same failure class the
    * UTF-8-order rule on [[boundsLt]] guards against). */
  private[catalog] def statNumeric(dt: DataType): Boolean =
    dt.isInstanceOf[NumericType] || dt == TimestampType

  /** A probe value rendered in the RECORDED stat form of `dt`:
    * timestamp probes (java.sql.Timestamp / java.time.Instant from
    * pushed filters, or caller strings `yyyy-MM-dd[ HH:mm:ss[.f…]]`
    * read as UTC — the engine's pinned session zone) become epoch-
    * micros strings; everything else keeps its toString, which the
    * numeric parse / UTF-8 compare of [[boundsLt]] already absorbs.
    * Unparseable caller strings throw — a bound that silently stopped
    * pruning would be worse than the loud stop. */
  private[catalog] def statForm(dt: DataType, v: Any): String =
    if (dt != TimestampType) v.toString
    else v match {
      case t: java.sql.Timestamp =>
        (Math.floorDiv(t.getTime, 1000L) * 1000000L +
          (t.getNanos % 1000000000L) / 1000L).toString
      case i: java.time.Instant =>
        Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L),
          i.getNano / 1000L).toString
      case s: String =>
        val s0 = s.trim
        val ldt =
          if (s0.length <= 10) java.time.LocalDate.parse(s0).atStartOfDay()
          else java.time.LocalDateTime.parse(s0.replace(' ', 'T'))
        Math.addExact(Math.multiplyExact(
          ldt.toEpochSecond(java.time.ZoneOffset.UTC), 1000000L),
          ldt.getNano / 1000L).toString
      case other => other.toString
    }

  /** A caller-supplied commitId already exists in the log — the append
    * was a replay; `seq` is the version the original commit created. */
  /** Parent properties ++ set −− unset, serialized to the snapshot's
    * sorted-key JSON form — ONE implementation for every commit path
    * that lets metadata ride the data snapshot (TreeMap: deterministic
    * key order, so identical maps serialize identically; a divergent
    * copy would silently desynchronize property JSON across paths). */
  private[catalog] def mergedPropsJson(parentProps: Map[String, String],
                                       set: Map[String, String],
                                       unset: Seq[String] = Seq.empty)
      : Option[String] = {
    val next = (parentProps ++ set) -- unset
    if (next.isEmpty) None
    else {
      val tm = new java.util.TreeMap[String, String]()
      next.foreach { case (k, v) => tm.put(k, v) }
      Some(propsMapper.writeValueAsString(tm))
    }
  }

  /** Commit-id prefixes RESERVED for the engine's row-neutral
    * maintenance rewrites (compact / rewrite_manifests /
    * rewrite_position_deletes). The changefeed's segmented O(delta)
    * path skips these commits — they rewrite layout, never rows — so
    * a caller's commit id may not claim one (enforced by `commit`, the
    * funnel every commit flows through but commitTransaction's, which
    * publishes `txn-` ids through its journal). */
  val MaintenancePrefixes: Seq[String] =
    Seq("compact-", "rwmanifests-", "rwposdel-")

  def isMaintenanceCommitId(id: String): Boolean =
    MaintenancePrefixes.exists(id.startsWith)

  final class DuplicateCommitException(val commitId: String, val seq: Long)
    extends RuntimeException(s"commit $commitId already applied as v$seq")

  /** Main advanced past a branch's fork point, so a fast-forward merge
    * cannot publish the branch head without dropping main commits. */
  final class MergeConflictException(msg: String) extends RuntimeException(msg)

  /** Per-file Bloom sizing: 16384 bits (2 KB base64 per file per column)
    * at 4 hashes holds ~1500 distinct values under 1% false positives;
    * larger files saturate gracefully (more candidate reads, never a
    * wrong result). */
  private[catalog] val BloomBits = 16384
  private[catalog] val BloomHashes = 4

  /** Reserved pseudo-column under which manifests record each file's
    * row count (min==max==count) — powers [[GraftCatalog.countFast]]
    * without a manifest-format change. Never matches a query column. */
  private[catalog] val RowsStatKey = "__rows"

  /** Exact `UnsafeRow` bytes of driver-held rows of `schema` — the
    * metadata-scale rule's measure of a local batch — through an
    * interpreted projection, so a commit generates no code. */
  private[catalog] def localBytes(schema: StructType, rows: Iterator[InternalRow]): Long = {
    val toUnsafe = InterpretedUnsafeProjection.createProjection(
      schema.fields.toSeq.zipWithIndex.map { case (f, i) => BoundReference(i, f.dataType, true) })
    rows.map(toUnsafe(_).getSizeInBytes.toLong).sum
  }

  /** Code points a recorded string bound keeps: Iceberg's default
    * `write.metadata.metrics.default = truncate(16)`. */
  private[catalog] val StringBoundChars = 16

  /** The first [[StringBoundChars]] code points of `s`, or None when `s`
    * has no more than that. */
  private def boundPrefix(s: String): Option[String] = {
    var i = 0
    var k = 0
    while (k < StringBoundChars && i < s.length) {
      i += Character.charCount(s.codePointAt(i))
      k += 1
    }
    if (i >= s.length) None else Some(s.substring(0, i))
  }

  /** The (min, max) a file records for a string column whose values
    * span `min` .. `max`: each cut to [[StringBoundChars]] code points,
    * the max rounded up by incrementing its last code point (Iceberg's
    * `UnicodeUtil.truncateStringMax`, skipping the surrogate range). Both
    * still bound the file in the UTF-8 order pruning compares in
    * ([[boundsLt]]), and every cut bound keeps exactly
    * [[StringBoundChars]] code points, which is what [[mayBeCut]] tests.
    * None when the cut max ends in U+10FFFF (rounding up would shorten
    * it): the file then records no bound for the column. */
  private[catalog] def stringBounds(min: String, max: String): Option[(String, String)] = {
    val lower = boundPrefix(min).getOrElse(min)
    boundPrefix(max) match {
      case None => Some(lower -> max)
      case Some(p) =>
        val last = p.codePointBefore(p.length)
        val next = last + 1
        val up = if (next >= Character.MIN_SURROGATE && next <= Character.MAX_SURROGATE)
          Character.MAX_SURROGATE + 1 else next
        if (last == Character.MAX_CODE_POINT) None
        else Some(lower -> (p.substring(0, p.length - Character.charCount(last)) +
          new String(Character.toChars(up))))
    }
  }

  /** Whether a recorded string bound may be a [[stringBounds]] cut
    * rather than a value of the file: it has exactly
    * [[StringBoundChars]] code points. Longer bounds, recorded before
    * bounds were cut, are exact. */
  private[catalog] def mayBeCut(bound: String): Boolean =
    bound.length >= StringBoundChars &&
      bound.codePointCount(0, bound.length) == StringBoundChars

  /** The columns a position-delete file is read under: the spec's
    * (table-relative data file, 0-based row ordinal). */
  private[catalog] val PosDeleteSchema = StructType(Seq(
    StructField("file_path", StringType), StructField("pos", LongType)))

  // shared mapper for the per-version TBLPROPERTIES JSON (thread-safe)
  private[catalog] val propsMapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Engine-consulted property keys (Iceberg's names, so a migrating
    * user's runbooks keep working). */
  val TargetFileSizeProp = "write.target-file-size-bytes"

  /** The one "metadata-scale → driver" rule: work over `bytes` of
    * `table` runs on the driver, with no Spark job, when the bytes fit
    * one [[TargetFileSizeProp]] file of the table. Three places key on
    * it: staging a driver-local batch ([[GraftCatalog.stageDataFiles]]),
    * the sync worker's copy and verify
    * ([[graft.service.GeoReplicationService.processPendingEvents]]) and
    * an expiry's physical delete. Past it the distributed path runs, so a
    * bulk copy or delete never reaches the driver. */
  private[graft] def driverScale(table: String, props: Map[String, String],
                                 bytes: Long): Boolean =
    bytes <= targetFileSizeOf(table, props)

  /** [[TargetFileSizeProp]] of a table's properties (512 MiB when unset). */
  private[catalog] def targetFileSizeOf(table: String, props: Map[String, String]): Long =
    props.get(TargetFileSizeProp) match {
      case Some(v) =>
        val n = try v.trim.toLong catch { case _: NumberFormatException =>
          throw new IllegalArgumentException(
            s"$table: $TargetFileSizeProp = '$v' is not a byte count") }
        require(n > 0, s"$table: $TargetFileSizeProp must be positive, got $n")
        n
      case None => 512L * 1024 * 1024
    }
  /** Comma-separated column list the SQL INSERT path bloom-indexes. */
  val BloomColumnsProp = "write.bloom-columns"
  /** Comma-separated column list the SQL INSERT path range-clusters by
    * (and the no-target [[GraftCatalog.compact]] sorts by) — the knob
    * that makes manifest-bounds pruning work for a SQL-only user: files
    * written clustered carry TIGHT min/max on these columns. */
  val SortColumnsProp = "write.sort-columns"
  /** Retention policy consulted by the no-arg
    * [[GraftCatalog.expireSnapshots]] (Iceberg's knob names). */
  val MaxSnapshotAgeMsProp = "history.expire.max-snapshot-age-ms"
  val MinSnapshotsToKeepProp = "history.expire.min-snapshots-to-keep"

  // ---- partition transforms (PARTITIONED BY) ----
  // Graft has no hive-style directory partitions — the table DESIGN is
  // write-time clustering + manifest bounds/bloom pruning. PARTITIONED
  // BY (identity / bucket(n, c) / years|months|days|hours(ts) /
  // truncate(w, c)) maps onto exactly that machinery instead of a
  // parallel layout system:
  //  - every transform except bucket is MONOTONE in its source column,
  //    so range-clustering the batch by the SOURCE gives each file
  //    bounds at least as tight as one-partition-per-file — the
  //    existing stats pruner then serves source-column predicates
  //    (which is what SQL filters actually say: `ts >= X`, never
  //    `days(ts) = d`);
  //  - bucket(n, c) clusters by the Iceberg-spec bucket VALUE
  //    ([[graft.functions.IcebergBucket]] — bit-compatible with foreign
  //    engines) and bloom-indexes the source column, so point lookups
  //    prune via the bloom path; the per-file bucket value is also
  //    recorded as a derived manifest stat (`__pt_bucket_*`), which is
  //    what lets [[IcebergExport]] emit REAL per-file partition tuples
  //    a foreign engine prunes on.
  // The spec is TBLPROPERTIES-versioned like sort-columns, in LOGICAL
  // names (after RENAME COLUMN the stale property refuses the next
  // write loudly — same contract as write.sort-columns).
  //
  // Row-level COW rewrites (UPDATE/MERGE) intentionally do NOT
  // re-derive the bucket stat or re-align: the rewrite is file-granular
  // (a rewritten file holds one source file's surviving rows, so
  // alignment degrades only when the statement moved rows across
  // tuples), bounds and bloom carriage keep source-column pruning
  // intact, and the export honestly serves such files under spec-0.
  // The next property-driven compact() restores full alignment — the
  // same self-healing contract sort-columns clustering has.
  val PartitionSpecProp = "graft.partition-spec"

  /** One `PARTITIONED BY` field: `transform` ∈ identity | bucket |
    * truncate | year | month | day | hour; `n` is the bucket count /
    * truncate width (0 otherwise). */
  case class PartitionField(transform: String, source: String, n: Int = 0)

  private[graft] def partitionSpecJson(fields: Seq[PartitionField]): String = {
    val arr = propsMapper.createArrayNode()
    fields.foreach { f =>
      val o = arr.addObject()
      o.put("transform", f.transform): Unit
      o.put("source", f.source): Unit
      if (f.n != 0) o.put("n", f.n): Unit
    }
    propsMapper.writeValueAsString(arr)
  }

  /** The (derived-stat key, probe bucket value) of an equality probe on
    * a bucket-transform source — None when the spec doesn't bucket the
    * column or the probe can't be hashed. ONE implementation shared by
    * [[CowPruning]] and [[GraftCatalog.readWhereEquals]] so the two
    * pruning paths can never drift. */
  private[graft] def bucketProbeOf(spec: Seq[PartitionField], column: String,
      dt: Option[DataType], v: Any, physKey: String): Option[(String, Int)] =
    spec.collectFirst {
      case PartitionField("bucket", src, n) if src == column => n
    }.flatMap(n => icebergBucketValueOf(dt, v, n)
      .map(b => (bucketStatKey(n, physKey), b)))

  /** Keep/prune verdict of one file's recorded bucket stat against a
    * probe bucket value — keep on any doubt (no stat, unparseable). */
  private[graft] def bucketStatKeeps(stats: Map[String, (String, String)],
                                     key: String, b: Int): Boolean =
    stats.get(key) match {
      case Some((mn, mx)) =>
        try b >= mn.toInt && b <= mx.toInt
        catch { case _: NumberFormatException => true }
      case None => true
    }

  /** Manifest bloom key of a column: timestamp blooms are recorded (and
    * probed) under a reserved `__tsb_` key because their hashed FORM
    * changed from session-zone cast-to-string to tz-stable epoch micros
    * — a micros probe against a legacy string-form bloom would be a
    * near-guaranteed miss, i.e. files PRUNED that hold the key (lost
    * rows/updates). Under the versioned key, legacy manifests simply
    * have no timestamp bloom to probe (files kept — pruning loss only),
    * and freshly-written ones prune correctly. */
  private[graft] def bloomKeyOf(dt: Option[DataType], physKey: String): String =
    if (dt.contains(TimestampType)) s"__tsb_$physKey" else physKey

  /** Inverse of [[bloomKeyOf]]: the COLUMN a recorded bloom key indexes
    * (bloom carriage derives the columns to re-index from the replaced
    * entries' recorded keys). */
  private[graft] def bloomColOf(recordedKey: String): String =
    if (recordedKey.startsWith("__tsb_")) recordedKey.stripPrefix("__tsb_")
    else recordedKey

  /** Driver-side spec bucket value of an equality probe — the same
    * published murmur3 per-type recipe [[graft.functions.IcebergBucket]]
    * evaluates distributed (ints/longs/dates-as-days/timestamps-as-
    * micros hash as longs, strings as UTF-8 bytes). None when the probe
    * can't be mapped to the hashed form — the consumer then keeps the
    * file. This is what makes bucket pruning SATURATION-PROOF: a
    * fixed-size per-file bloom goes all-ones past ~BloomBits distinct
    * keys (measured in SCALE_r12 at 10× corpus), while the recorded
    * per-file bucket stat compares exactly at any file size. */
  private[graft] def icebergBucketValueOf(dt: Option[DataType], v: Any,
                                          n: Int): Option[Int] = {
    import graft.functions.IcebergHash
    def longOf(x: Any): Option[Long] = x match {
      case num: java.lang.Number => Some(num.longValue())
      case s: String => scala.util.Try(s.trim.toLong).toOption
      case _ => None
    }
    if (v == null) return None
    dt match {
      case Some(ByteType | ShortType | IntegerType | LongType) =>
        longOf(v).map(IcebergHash.bucketLong(_, n))
      case Some(StringType) =>
        Some(IcebergHash.bucketBytes(
          v.toString.getBytes(StandardCharsets.UTF_8), n))
      case Some(DateType) =>
        val days: Option[Long] = v match {
          case d: java.sql.Date => Some(d.toLocalDate.toEpochDay)
          case d: java.time.LocalDate => Some(d.toEpochDay)
          case s: String =>
            scala.util.Try(java.time.LocalDate.parse(s.trim).toEpochDay).toOption
          case other => longOf(other)
        }
        days.map(IcebergHash.bucketLong(_, n))
      case Some(TimestampType) =>
        // statForm renders every accepted probe spelling as epoch micros
        scala.util.Try(statForm(TimestampType, v).toLong).toOption
          .map(IcebergHash.bucketLong(_, n))
      case _ => None
    }
  }

  /** Prefix of the reserved derived-stat keys partitioned commits record
    * (bucket values per file); a REAL column under it would collide. */
  private[catalog] val DerivedStatPrefix = "__pt_"
  private[graft] def bucketStatKey(n: Int, physSource: String): String =
    s"${DerivedStatPrefix}bucket_${n}_$physSource"

  /** Parse + validate the table's partition spec (empty when unset).
    * Sources must exist in the schema with a transform-legal type;
    * refusals are loud — a typo'd spec silently clustering nothing is
    * how pruning rots (same stance as [[validatedSortColumns]]). */
  private[graft] def validatedPartitionSpec(table: String,
      props: Map[String, String], schema: Option[StructType]): Seq[PartitionField] =
    props.get(PartitionSpecProp) match {
      case None => Seq.empty
      case Some(j) =>
        val fields = schema.map(_.fields.toSeq).getOrElse(Seq.empty)
        def typeOf(c: String): Option[DataType] =
          fields.find(_.name == c).map(_.dataType)
        val parsed = try {
          propsMapper.readTree(j).elements().asScala.map { e =>
            PartitionField(e.get("transform").asText(), e.get("source").asText(),
              Option(e.get("n")).map(_.asInt()).getOrElse(0))
          }.toSeq
        } catch { case ex: Exception =>
          throw new IllegalArgumentException(
            s"$table: $PartitionSpecProp is not a valid spec JSON: $j", ex)
        }
        parsed.foreach { f =>
          val dt = typeOf(f.source).getOrElse(throw new IllegalArgumentException(
            s"$table: $PartitionSpecProp names unknown column '${f.source}' " +
              s"(schema: ${fields.map(_.name).mkString(", ")})"))
          f.transform match {
            // identity sources are restricted to the EXPORTABLE set (the
            // types the Iceberg export can spell a partition tuple for,
            // IcebergExport.specFieldsOf) — a wider gate here would let a
            // table CREATE fine and then brick iceberg_export AND the
            // REST shim's LoadTableResult (permanent 500) on a legally
            // created table. Iceberg itself forbids float/double
            // partition sources; decimal/boolean identity adds nothing
            // bucket/truncate can't do on a supported type.
            case "identity" => require(Seq(ByteType, ShortType, IntegerType,
              LongType, StringType, DateType, TimestampType).contains(dt),
              s"$table: identity partition source '${f.source}' has type " +
                s"${dt.simpleString} — identity partitioning supports " +
                "int/long/string/date/timestamp sources (spec-exportable " +
                "set); use bucket(n, col) for other types")
            case "year" | "month" | "day" =>
              require(dt == DateType || dt == TimestampType,
                s"$table: ${f.transform}(${f.source}) needs a date/timestamp " +
                  s"source, got ${dt.simpleString}")
            case "hour" => require(dt == TimestampType,
              s"$table: hour(${f.source}) needs a timestamp source, got " +
                dt.simpleString)
            case "bucket" =>
              require(f.n > 0, s"$table: bucket(${f.source}) needs a positive " +
                s"bucket count, got ${f.n}")
              require(Seq(ByteType, ShortType, IntegerType, LongType, DateType,
                TimestampType, StringType).contains(dt),
                s"$table: bucket(${f.n}, ${f.source}) does not support type " +
                  dt.simpleString)
            case "truncate" =>
              require(f.n > 0, s"$table: truncate(${f.source}) needs a " +
                s"positive width, got ${f.n}")
              require(Seq(IntegerType, LongType, StringType).contains(dt),
                s"$table: truncate(${f.n}, ${f.source}) supports int/long/" +
                  s"string sources, got ${dt.simpleString}")
            case other => throw new IllegalArgumentException(
              s"$table: unknown partition transform '$other' in $PartitionSpecProp")
          }
        }
        // derived stats ride reserved __pt_* keys next to the real
        // column bounds, and aligned staging reserves __ptw_* directory
        // keys — a REAL column under either prefix would collide. Both
        // refuse HERE (the DDL/ALTER front door), not at the first
        // INSERT: a table that creates fine and bricks on write is the
        // failure mode this validator exists to prevent.
        val clash = fields.map(f => physicalName(f))
          .filter(n => n.startsWith(DerivedStatPrefix) || n.startsWith("__ptw_"))
        require(clash.isEmpty,
          s"$table: column name(s) ${clash.mkString(", ")} collide with the " +
            s"reserved $DerivedStatPrefix/__ptw_ namespaces of " +
            "partitioned tables")
        parsed
    }

  /** The columns a property-honoring WRITE bloom-indexes: the
    * `write.bloom-columns` list plus every bucket-transform source of
    * the partition spec (bucket pruning IS the bloom path — point
    * lookups on hash-distributed keys, where bounds are useless). Used
    * by the SQL INSERT path and by compaction (which must re-index or
    * every scheduled compact silently de-indexes the table). */
  private[graft] def writeBloomColumns(table: String,
      props: Map[String, String], schema: Option[StructType]): Seq[String] =
    writeBloomColumnsOf(props,
      validatedPartitionSpec(table, props, schema))

  /** [[writeBloomColumns]] over an ALREADY-PARSED spec — the write
    * paths validate the spec exactly once per statement and thread the
    * parsed fields through bloom/align/derived-stat derivation. */
  private[graft] def writeBloomColumnsOf(props: Map[String, String],
      spec: Seq[PartitionField]): Seq[String] = {
    val fromProp = props.get(BloomColumnsProp)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)
    (fromProp ++ spec.filter(_.transform == "bucket").map(_.source)).distinct
  }

  /** The write-time CLUSTERING column of one partition field (see the
    * design note on [[PartitionSpecProp]]): the source itself for every
    * monotone transform, the spec bucket value for bucket. `resolve`
    * maps logical → physical names when shaping an already-physical
    * frame. */
  private[graft] def partitionClusterColumn(f: PartitionField,
      resolve: String => String = identity): Column = f.transform match {
    case "bucket" =>
      graft.functions.PartitionFunctions.icebergBucket(col(resolve(f.source)), f.n)
    case _ => col(resolve(f.source))
  }

  /** The partition-VALUE expression of one spec field — rows with equal
    * value belong to the same partition, rows with different values to
    * different ones (the grouping key partition-aligned staging splits
    * files on). Monotone temporal transforms group via date_format in
    * the session zone: grouping only needs an equivalence, and the
    * export independently derives spec-exact tuples from recorded
    * bounds (never from these directory keys). */
  private[graft] def partitionValueColumn(f: PartitionField, dt: DataType,
      resolve: String => String = identity): Column = {
    val c = col(resolve(f.source))
    f.transform match {
      case "identity" => c
      case "year" => year(c)
      case "month" => date_format(c, "yyyy-MM")
      case "day" => to_date(c)
      case "hour" => date_format(c, "yyyy-MM-dd-HH")
      case "bucket" =>
        graft.functions.PartitionFunctions.icebergBucket(c, f.n)
      case "truncate" => dt match {
        case StringType => substring(c, 1, f.n)
        // floorDiv(v, w) * w, kept integral: v - pmod(v, w)
        case _ => (c - pmod(c, lit(f.n))).cast(dt)
      }
      case other => throw new IllegalArgumentException(
        s"unknown partition transform $other")
    }
  }

  /** The partition-aligned staging columns of an ALREADY-PARSED spec
    * (empty when spec-less): transform values over the PHYSICAL frame. */
  private[catalog] def partitionAlignColumnsOf(spec: Seq[PartitionField],
      schema: Option[StructType]): Seq[Column] =
    spec.map { f =>
      val field = schema.flatMap(_.fields.find(_.name == f.source))
      partitionValueColumn(f, field.map(_.dataType).getOrElse(StringType),
        s => field.map(physicalName).getOrElse(s))
    }

  /** Derived per-file stats a partitioned commit records (keys are
    * manifest stat keys, exprs run over the PHYSICAL frame): one
    * `__pt_bucket_n_<physSource>` min/max per bucket field — the stat
    * the export derives per-file partition tuples from (a file fully
    * inside one bucket has min == max). Empty for spec-less tables, so
    * the ordinary commit path is untouched. */
  private[catalog] def partitionDerivedStatsOf(spec: Seq[PartitionField],
      schema: Option[StructType]): Seq[(String, Column)] =
    spec.filter(_.transform == "bucket").map { f =>
      val phys = schema.flatMap(_.fields.find(_.name == f.source))
        .map(physicalName).getOrElse(f.source)
      bucketStatKey(f.n, phys) ->
        graft.functions.PartitionFunctions.icebergBucket(col(phys), f.n)
    }

  // ---- column mapping (metadata-only RENAME COLUMN) ----
  // Delta-style column mapping: every field owns a stable PHYSICAL
  // (parquet) column name, recorded in StructField metadata under
  // PhysicalKey only when it differs from the logical name. RENAME
  // COLUMN changes the logical name and pins the physical one, so every
  // committed file — old era and new — keeps serving reads unrewritten;
  // at 100 TB a rename is one metadata commit, never a table rewrite.
  // The physical name NEVER changes once assigned (compaction included):
  // manifest stats, bloom indexes, and equality-delete files all key on
  // it, and per-file eras would be needed the moment two live files
  // disagreed. (Iceberg gets the same effect from field-ids; parquet
  // written by name needs the name itself to be the stable id.)
  private[graft] val PhysicalKey = "graft.physical"

  /** The field's physical (parquet) column name. */
  private[graft] def physicalName(f: StructField): String =
    if (f.metadata.contains(PhysicalKey)) f.metadata.getString(PhysicalKey)
    else f.name

  private[graft] def hasColumnMapping(st: StructType): Boolean =
    st.fields.exists(f => physicalName(f) != f.name)

  /** The schema as the parquet files spell it (logical → physical). */
  private[graft] def physicalSchema(st: StructType): StructType =
    StructType(st.fields.map(f => f.copy(name = physicalName(f))))

  /** logical → physical name map; empty when no column was ever
    * renamed, so every mapped path stays zero-cost for ordinary
    * tables. */
  private[graft] def physicalMap(st: StructType): Map[String, String] =
    st.fields.iterator
      .filter(f => physicalName(f) != f.name)
      .map(f => f.name -> physicalName(f)).toMap

  /** Pin `name` as the field's physical name (the RENAME primitive). */
  private[graft] def withPhysical(f: StructField, phys: String): StructField =
    f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
      .withMetadata(f.metadata).putString(PhysicalKey, phys).build())

  /** [[GraftCatalog.sortColumns]]'s core against an ALREADY-LOADED
    * snapshot state (the SQL INSERT path reads the head once and derives
    * bloom + sort + schema from the same version — three separate head
    * reads could even observe different versions under a concurrent
    * ALTER). Columns must exist AND be prunable/orderable: a map-typed
    * sort column would fail the INSERT with an opaque engine error, and
    * a non-prunable one would cluster files that record no bounds —
    * both refused HERE, attributably. */
  private[catalog] def validatedSortColumns(table: String,
      props: Map[String, String], schema: Option[StructType]): Seq[String] =
    props.get(SortColumnsProp) match {
      case None => Seq.empty
      case Some(v) =>
        val cols = v.split(",").map(_.trim).filter(_.nonEmpty).toSeq
        val fields = schema.map(_.fields.toSeq).getOrElse(Seq.empty)
        val known = fields.map(_.name).toSet
        val bad = cols.filterNot(known)
        require(bad.isEmpty,
          s"$table: $SortColumnsProp names unknown column(s) " +
            s"${bad.mkString(", ")} (schema: ${known.mkString(", ")})")
        val unprunable = cols.filter(c =>
          !fields.find(_.name == c).forall(f => prunableType(f.dataType)))
        require(unprunable.isEmpty,
          s"$table: $SortColumnsProp column(s) ${unprunable.mkString(", ")} " +
            "are not orderable/prunable types — clustering them records no " +
            "bounds (and non-orderable types fail the write)")
        cols
    }

  /** The type with EVERY nullability flag (at every depth) forced true —
    * the normal form for nullability-INSENSITIVE type comparison
    * (Spark's `DataType.sameType` is private[sql]). Two types are "the
    * same column type" iff their erased forms are equal. */
  private[graft] def erasedNullability(dt: DataType): DataType = dt match {
    case st: StructType => StructType(st.fields.map(f =>
      f.copy(dataType = erasedNullability(f.dataType), nullable = true)))
    case ArrayType(e, _) => ArrayType(erasedNullability(e), containsNull = true)
    case MapType(k, v, _) =>
      MapType(erasedNullability(k), erasedNullability(v), valueContainsNull = true)
    case other => other
  }

  /** Recursive nullability UNION of two catalogString-equal types —
    * nullable wherever EITHER side is, at every depth. The only sound
    * recorded type when batches disagree on nested nullability: the
    * narrow side over files holding nulls breaks reads. */
  private[graft] def unionNullability(a: DataType, b: DataType): DataType =
    (a, b) match {
      case (x: StructType, y: StructType) =>
        StructType(x.fields.zip(y.fields).map { case (fa, fb) =>
          fa.copy(dataType = unionNullability(fa.dataType, fb.dataType),
            nullable = fa.nullable || fb.nullable)
        })
      case (ArrayType(ea, na), ArrayType(eb, nb)) =>
        ArrayType(unionNullability(ea, eb), na || nb)
      case (MapType(ka, va, na), MapType(kb, vb, nb)) =>
        MapType(unionNullability(ka, kb), unionNullability(va, vb), na || nb)
      case _ => a
    }

  /** The Iceberg spec's type-promotion lattice — ONE definition shared
    * by ALTER COLUMN TYPE validation and the export's cross-version
    * check (the import's string form adapts to it). Byte/short are
    * stored as int32 pages, so widening them to long is served natively
    * like int. */
  private[graft] def promotes(from: DataType, to: DataType): Boolean = {
    // integral widening in ANY step (byte→short→int→long): all four are
    // stored as int32 pages (long as int64), every widening read is
    // served natively — allowing byte→long but refusing byte→int would
    // be an arbitrary hole
    def rank(dt: DataType): Int = dt match {
      case ByteType => 1; case ShortType => 2
      case IntegerType => 3; case LongType => 4
      case _ => 0
    }
    (from, to) match {
      case (a, b) if a == b => true
      case (a, b) if rank(a) > 0 && rank(b) > 0 => rank(a) <= rank(b)
      case (FloatType, DoubleType) => true
      case (a: DecimalType, b: DecimalType) =>
        a.scale == b.scale && b.precision >= a.precision
      case _ => false
    }
  }

  /** Drop the PhysicalKey from a field's metadata — what read OUTPUTS
    * and incoming WRITE schemas get: the mapping belongs to ONE table's
    * commit log, and a `cat.read(t1)` result written into t2 must not
    * smuggle t1's parquet spellings into t2's recorded schema (t2's
    * files are written under t2's mapping; a foreign PhysicalKey would
    * make every read of them silently NULL the column). */
  private[graft] def withoutPhysical(f: StructField): StructField =
    if (!f.metadata.contains(PhysicalKey)) f
    else {
      // MetadataBuilder has no removal API; the JSON form does
      val node = propsMapper.readTree(f.metadata.json)
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      node.remove(PhysicalKey): Unit
      f.copy(metadata =
        org.apache.spark.sql.types.Metadata.fromJson(node.toString))
    }

  /** Metadata-only row count from a parquet footer. Shared by the
    * no-prunable-columns commit path (executor-side, with the shipped
    * session conf) and [[IcebergExport]]'s stat-less-manifest fallback. */
  private[catalog] def parquetFooterRowCount(
      abs: String, conf: org.apache.hadoop.conf.Configuration): Long = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(abs), conf)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try r.getRecordCount finally r.close()
  }

  /** Bound comparison in the ORDER THE BUILD SIDE USED: numeric columns
    * re-parse (string order breaks on negatives/widths); everything
    * else compares as UTF-8 BYTES — Spark's min/max over strings is
    * UTF8String (binary/code-point) order, while Java String compare is
    * UTF-16 code-unit order, and the two DISAGREE above the BMP
    * (supplementary characters sort below U+E000.. in UTF-16). A reader
    * comparing in the wrong order prunes files that hold matching rows
    * — for a row-level operation that means silently LOSING updates, so
    * every bounds consumer must come through here. */
  private[catalog] def boundsLt(numeric: Boolean)(a: String, b: String): Boolean =
    if (numeric) BigDecimal(a) < BigDecimal(b)
    else org.apache.spark.unsafe.types.UTF8String.fromString(a)
      .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b)) < 0

  /** Probe a recorded base64 bloom: true = possibly present. */
  private[catalog] def bloomHit(b64: String, positions: Seq[Int]): Boolean = {
    val bytes = java.util.Base64.getDecoder.decode(b64)
    positions.forall(p => (bytes(p >> 3) & (1 << (p & 7))) != 0)
  }

  /** The k bit positions of a probe value — EXACTLY the arithmetic the
    * build side runs as a Spark projection: pmod(xxhash64(i, value),
    * BloomBits) with xxhash64's default seed, evaluated here on the
    * driver via the same Catalyst expression. */
  private[catalog] def bloomPositions(value: String): Seq[Int] = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    (0 until BloomHashes).map { i =>
      val h = XxHash64(Seq(Literal(i), Literal(value)), 42L)
        .eval(null).asInstanceOf[Long]
      (((h % BloomBits) + BloomBits) % BloomBits).toInt
    }
  }
}
