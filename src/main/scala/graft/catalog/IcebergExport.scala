package graft.catalog

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.avro.Schema
import org.apache.avro.file.{DataFileReader, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Apache-Iceberg-format EXPORT of a GraftCatalog table — the interop
  * seam the reference's geo-HA design assumes standard Iceberg metadata
  * for (reference premise: `iceberg-arch-geo-distributed-ha.md:233-241`,
  * which replicates "metadata files, manifest lists, manifests" as
  * ordinary objects).
  *
  * GraftCatalog's commit log is Iceberg-SHAPED but not Iceberg-FORMATTED
  * (JSON-lines manifests, JSON snapshots). This module emits the real
  * thing per the published spec (https://iceberg.apache.org/spec/, v2):
  *
  *  - `metadata/v1.metadata.json` — table metadata: format-version 2,
  *    schema with assigned column ids, the full snapshot history with
  *    sequence numbers, snapshot-log, and a `main` branch ref;
  *  - one AVRO manifest list per snapshot
  *    (`metadata/snap-<id>-1-<uuid>.avro`) with the spec's field ids
  *    (500-517) and per-manifest added/existing counts;
  *  - one AVRO manifest per GRAFT manifest (`metadata/<uuid>-m0.avro`,
  *    field ids 0-4 / 100-104 / 134) — graft manifests are immutable
  *    per-commit file sets, exactly Iceberg's manifest granularity, so
  *    the mapping preserves added-by-snapshot attribution and each Avro
  *    manifest is written once and shared by every later manifest list;
  *  - `data/` — the table's parquet files, copied DISTRIBUTED (one Spark
  *    task per file batch, same shape as the GC executor / replication
  *    copy paths; on a real cluster both ends are shared storage).
  *
  * Merge-on-read deletes: graft's equality-delete manifests (the `d-`
  * prefixed manifests [[GraftCatalog.commitDelete]] / commitUpsert
  * publish) export as Iceberg v2 EQUALITY DELETE files — manifest-list
  * `content=1`, entry `content=2`, `equality_ids` (field 135) naming the
  * key columns by field id. Graft's list-position rule ("a delete erases
  * data manifests earlier in the list") maps exactly onto the spec's
  * sequence-number rule ("an equality delete applies to data files whose
  * data sequence number is STRICTLY LESS than the delete's"): manifests
  * take the adding snapshot's sequence number, graft only ever orders
  * same-commit deletes BEFORE same-commit data (commitUpsert), and
  * strictly-less keeps an upsert's own rows alive past the delete they
  * ship with — the same survival rule morScan implements positionally.
  * (Reference file model: `legacy/modules/domain/.../ContentType.java:2`
  * has the same DATA / POSITION_DELETE / EQUALITY_DELETE split.)
  *
  * Scope and honesty:
  *  - the Iceberg spec mandates INT64-micros timestamps; the catalog
  *    stages every data file through [[RowParquetWriter]], which pins
  *    INT64-micros timestamps, so natively-written files are always
  *    spec-physical. The copy tasks still verify each file's FOOTER and
  *    `timestampInt96Risk` reports true only if a foreign/pre-upgrade
  *    INT96 file is physically present (a strict Iceberg reader may
  *    reject those). The flag is TABLE-level in every mode: shared-store
  *    re-exports OR this call's footer probes with per-store-file
  *    `.int96` sidecar verdicts persisted at land time (healed by a
  *    one-time probe for files landed before markers existed), so a
  *    delta re-export never silently narrows the flag's meaning.
  *  - there are no Iceberg jars in this environment (offline build), so
  *    conformance is checked two ways: a spec-shape ScalaTest over the
  *    JSON + Avro artifacts, and [[readExported]] — an independent
  *    reader that consumes ONLY the exported artifacts (metadata json ->
  *    manifest list avro -> manifest avro -> parquet) and must reproduce
  *    the table bit-for-bit (driver-green: cat_iceberg_export).
  */
object IcebergExport {

  /** What one export produced (paths are absolute). `dataFiles` counts
    * parquet data files, `deleteFiles` equality-delete files; `rows` is
    * the head's PHYSICAL data-file row count (pre-delete-apply — the
    * number a manifest reader sums, not the post-MoR live count). */
  case class ExportReport(metadataFile: String, snapshots: Int, manifests: Int,
                          dataFiles: Int, rows: Long, timestampInt96Risk: Boolean,
                          deleteFiles: Int = 0,
                          // shared-store accounting (0 outside shared mode):
                          // what this call REUSED from the store vs wrote anew
                          // — the O(delta) evidence a re-export spec asserts on
                          reusedManifests: Int = 0, writtenManifests: Int = 0,
                          reusedLists: Int = 0, writtenLists: Int = 0,
                          copiedDataFiles: Int = 0)

  // ---- Iceberg schema (JSON) from a Spark schema ----

  /** Map a Spark type to an Iceberg primitive type string (spec §4). */
  private def icebergPrimitive(dt: DataType): String = dt match {
    case BooleanType => "boolean"
    case ByteType | ShortType | IntegerType => "int"
    case LongType => "long"
    case FloatType => "float"
    case DoubleType => "double"
    case StringType => "string"
    case BinaryType => "binary"
    case DateType => "date"
    case TimestampType => "timestamptz" // Spark TIMESTAMP is UTC-adjusted
    case TimestampNTZType => "timestamp"
    case d: DecimalType => s"decimal(${d.precision}, ${d.scale})"
    case other => throw new IllegalArgumentException(
      s"IcebergExport: unsupported primitive column type $other")
  }

  /** Count of NESTED field ids a type consumes (its own id excluded) —
    * the spec gives every struct field, list element, and map key/value
    * its own id. Allocation order is the canonical DFS
    * [[typeJsonWithIds]] walks, so a shared per-top-level-field base id
    * yields identical nested ids across every schema version (nested
    * types are equality-checked across versions by unionIdAssignment). */
  private def nestedIdCount(dt: DataType): Int = dt match {
    case st: StructType => st.fields.map(f => 1 + nestedIdCount(f.dataType)).sum
    case ArrayType(e, _) => 1 + nestedIdCount(e)
    case MapType(k, v, _) => 2 + nestedIdCount(k) + nestedIdCount(v)
    case _ => 0
  }

  /** Iceberg type JSON for one (possibly nested) Spark type, consuming
    * nested ids from `nextId` in DFS order: struct fields each take
    * (own id, then their nested ids); a list takes (element id, element
    * nested); a map takes (key id, key nested, value id, value nested).
    * Spec: map keys are required. */
  private def typeJsonWithIds(dt: DataType, nextId: () => Int): String = dt match {
    case st: StructType =>
      val fs = st.fields.map { f =>
        val fid = nextId()
        s"""{"id":$fid,"name":${jstr(f.name)},"required":${!f.nullable},""" +
          s""""type":${typeJsonWithIds(f.dataType, nextId)}}"""
      }
      s"""{"type":"struct","fields":[${fs.mkString(",")}]}"""
    case ArrayType(e, containsNull) =>
      val eid = nextId()
      s"""{"type":"list","element-id":$eid,""" +
        s""""element":${typeJsonWithIds(e, nextId)},"element-required":${!containsNull}}"""
    case MapType(k, v, valueContainsNull) =>
      val kid = nextId()
      val kj = typeJsonWithIds(k, nextId)
      val vid = nextId()
      val vj = typeJsonWithIds(v, nextId)
      s"""{"type":"map","key-id":$kid,"key":$kj,""" +
        s""""value-id":$vid,"value":$vj,"value-required":${!valueContainsNull}}"""
    case other => "\"" + icebergPrimitive(other) + "\""
  }

  /** Field-id assignment shared by EVERY schema version of one export:
    * top-level ids 1..n by first appearance across the (additively
    * evolving) version schemas, list element ids after all top-level ids
    * (spec: ids are stable across schema versions — a column keeps its
    * id for the table's life, so a v0 reader and a v2 reader resolve the
    * same column to the same id). Type changes across versions refuse
    * loudly (graft's additive validation prevents them natively; foreign
    * states reach this only through replica commits). */
  private def unionIdAssignment(schemas: Seq[StructType])
      : (Map[String, Int], Map[String, Int], Int) = {
    // keyed by PHYSICAL name — the stable per-column id of the
    // column-mapping layer. A RENAMEd column keeps its physical name
    // across versions, so it keeps ONE field id here (Iceberg's native
    // rename representation: same id, different name per schema
    // version); logical keying would mint a fresh id and misread the
    // rename as drop+add
    // the spec's promotion lattice is legal ACROSS versions under one
    // field id (ALTER COLUMN TYPE int→long must stay exportable — each
    // version's schema JSON carries its own type); anything off the
    // lattice refuses. The union keeps the WIDEST type seen. ONE shared
    // lattice with the ALTER path (GraftCatalog.promotes) — drift would
    // make a legal ALTER kill exportability or vice versa.
    def promotes(from: DataType, to: DataType): Boolean =
      GraftCatalog.promotes(from, to)
    val union = scala.collection.mutable.LinkedHashMap.empty[String, StructField]
    schemas.foreach(_.fields.foreach { f =>
      val k = GraftCatalog.physicalName(f)
      union.get(k) match {
        // NULLABILITY-ERASED comparison (sameType): nested nullability
        // legitimately differs across versions — commitAppend's
        // unionNullability records the WIDENED form when a later batch
        // loosens an inner field, and that is a legal history, not a
        // type change. Structure (hence nested-id layout) is identical
        // under sameType; each version's schema JSON still emits its
        // OWN required flags (required→optional is spec-legal
        // evolution), so only the union entry needs the nullability
        // union here.
        case Some(prev) if GraftCatalog.erasedNullability(prev.dataType) ==
            GraftCatalog.erasedNullability(f.dataType) =>
          union(k) = prev.copy(dataType =
            GraftCatalog.unionNullability(prev.dataType, f.dataType))
        case Some(prev) if promotes(prev.dataType, f.dataType) => union(k) = f
        case Some(prev) if promotes(f.dataType, prev.dataType) => ()
        case Some(prev) => throw new IllegalArgumentException(
          s"column ${f.name} changes type across versions " +
            s"(${prev.dataType} -> ${f.dataType}) off the promotion lattice " +
            "— not exportable as one Iceberg table")
        case None => union(k) = f
      }
    })
    val fields = union.toSeq
    val ids = fields.zipWithIndex.map { case ((k, _), i) => k -> (i + 1) }.toMap
    // nested ids (struct fields, list elements, map keys/values) follow
    // after all top-level ids, allocated per top-level field in union
    // order — DFS inside each field, so every schema version (nested
    // types are equality-pinned above) reproduces the same ids from the
    // shared base
    var nextId = fields.length
    val nestedBase = fields.map { case (k, f) =>
      val base = nextId + 1
      nextId += nestedIdCount(f.dataType)
      k -> base
    }.toMap
    (ids, nestedBase, nextId)
  }

  /** One Iceberg schema JSON under a shared id assignment. */
  private def schemaJsonWithIds(schema: StructType, schemaId: Int,
                                ids: Map[String, Int],
                                nestedBase: Map[String, Int]): String = {
    val fields = schema.fields.map { f =>
      // ids resolve by the stable PHYSICAL name; the emitted name is the
      // version's LOGICAL one (renames = same id, new name — spec-native)
      val k = GraftCatalog.physicalName(f)
      var cur = nestedBase.getOrElse(k, 0) - 1
      val next = () => { cur += 1; cur }
      s"""{"id":${ids(k)},"name":${jstr(f.name)},"required":${!f.nullable},""" +
        s""""type":${typeJsonWithIds(f.dataType, next)}}"""
    }
    s"""{"type":"struct","schema-id":$schemaId,"identifier-field-ids":[],"fields":[${fields.mkString(",")}]}"""
  }

  /** Iceberg schema JSON with column ids 1..n assigned in field order;
    * nested ids follow after all top-level ids (spec: every field, list
    * element and map key/value carries a unique id). Returns
    * (json, lastColumnId). */
  private[graft] def icebergSchemaJson(schema: StructType,
                                       schemaId: Int = 0): (String, Int) = {
    val (ids, nestedBase, lastId) = unionIdAssignment(Seq(schema))
    (schemaJsonWithIds(schema, schemaId, ids, nestedBase), lastId)
  }

  private def jstr(s: String): String = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    m.writeValueAsString(s)
  }

  // ---- Avro schemas (spec §Manifests / §Snapshots: field ids are part
  //      of the format; readers resolve by id, names must match too) ----

  private val ManifestListSchema: Schema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_file","fields":[
      {"name":"manifest_path","type":"string","field-id":500},
      {"name":"manifest_length","type":"long","field-id":501},
      {"name":"partition_spec_id","type":"int","field-id":502},
      {"name":"content","type":"int","field-id":517},
      {"name":"sequence_number","type":"long","field-id":515},
      {"name":"min_sequence_number","type":"long","field-id":516},
      {"name":"added_snapshot_id","type":"long","field-id":503},
      {"name":"added_files_count","type":"int","field-id":504},
      {"name":"existing_files_count","type":"int","field-id":505},
      {"name":"deleted_files_count","type":"int","field-id":506},
      {"name":"added_rows_count","type":"long","field-id":512},
      {"name":"existing_rows_count","type":"long","field-id":513},
      {"name":"deleted_rows_count","type":"long","field-id":514}
    ]}""")

  /** Manifest-entry schema with the given partition-record fields JSON
    * (spec: the `partition` struct, field-id 102, is TYPED per the
    * manifest's partition spec — empty for unpartitioned manifests). */
  private def manifestEntrySchemaWith(partitionFieldsJson: String): Schema =
    new Schema.Parser().parse(
      s"""{"type":"record","name":"manifest_entry","fields":[
        {"name":"status","type":"int","field-id":0},
        {"name":"snapshot_id","type":["null","long"],"default":null,"field-id":1},
        {"name":"sequence_number","type":["null","long"],"default":null,"field-id":3},
        {"name":"file_sequence_number","type":["null","long"],"default":null,"field-id":4},
        {"name":"data_file","type":{"type":"record","name":"r2","fields":[
          {"name":"content","type":"int","field-id":134},
          {"name":"file_path","type":"string","field-id":100},
          {"name":"file_format","type":"string","field-id":101},
          {"name":"partition","type":{"type":"record","name":"r102","fields":[$partitionFieldsJson]},"field-id":102},
          {"name":"record_count","type":"long","field-id":103},
          {"name":"file_size_in_bytes","type":"long","field-id":104},
          {"name":"equality_ids","type":["null",{"type":"array","items":"int","element-id":136}],"default":null,"field-id":135}
        ]},"field-id":2}
      ]}""")

  private val ManifestEntrySchema: Schema = manifestEntrySchemaWith("")

  // ---- partition-spec export (PARTITIONED BY interop) ----

  /** One exported partition-spec field: graft transform + the derived
    * Iceberg spellings (spec §Partition Specs / §Appendix C). */
  private case class SpecField(pf: GraftCatalog.PartitionField,
                               name: String, transform: String,
                               sourceId: Int, fieldId: Int,
                               avroType: String, sourceType: DataType,
                               physSource: String)

  private def specFieldsOf(pspec: Seq[GraftCatalog.PartitionField],
                           headSchema: StructType,
                           colIds: Map[String, Int]): Seq[SpecField] =
    pspec.zipWithIndex.map { case (pf, i) =>
      val field = headSchema.fields.find(_.name == pf.source).getOrElse(
        throw new IllegalArgumentException(
          s"partition source ${pf.source} missing from the head schema"))
      val phys = GraftCatalog.physicalName(field)
      val (nm, tr, avro) = pf.transform match {
        case "identity" => (pf.source, "identity", field.dataType match {
          case ByteType | ShortType | IntegerType => "\"int\""
          case LongType => "\"long\""
          case StringType => "\"string\""
          case DateType => """{"type":"int","logicalType":"date"}"""
          case TimestampType =>
            """{"type":"long","logicalType":"timestamp-micros"}"""
          case other => throw new IllegalArgumentException(
            s"identity partition on ${other.simpleString} is not exportable")
        })
        case "bucket" => (s"${pf.source}_bucket", s"bucket[${pf.n}]", "\"int\"")
        case "truncate" => (s"${pf.source}_trunc", s"truncate[${pf.n}]",
          field.dataType match {
            case StringType => "\"string\""
            case LongType => "\"long\""
            case _ => "\"int\""
          })
        case t @ ("year" | "month" | "hour") => (s"${pf.source}_$t", t, "\"int\"")
        case "day" =>
          (s"${pf.source}_day", "day", """{"type":"int","logicalType":"date"}""")
        case other => throw new IllegalArgumentException(
          s"unknown partition transform $other")
      }
      SpecField(pf, nm, tr, colIds(phys), 1000 + i, avro, field.dataType, phys)
    }

  /** Derive one spec field's partition VALUE for a file from its
    * recorded manifest stats — Some(avro value) only when the bounds
    * PROVE the whole file sits in one partition (transform(min) ==
    * transform(max)); None means the file straddles partitions (or
    * carries no usable bounds) and exports under the unpartitioned
    * spec instead — best-effort, never a wrong tuple.
    *
    * Timestamp-sourced fields derive from the recorded epoch-MICROS
    * bounds (tz-stable by construction — GraftCatalog.statForm), which
    * is exactly the domain the spec defines its temporal transforms
    * on. */
  private def partitionValueOf(f: SpecField,
      stats: Map[String, (String, String)]): Option[AnyRef] = {
    def trunc(s: String, w: Int): String =
      if (s.codePointCount(0, s.length) <= w) s
      else s.substring(0, s.offsetByCodePoints(0, w))
    val statKey = f.pf.transform match {
      case "bucket" => GraftCatalog.bucketStatKey(f.pf.n, f.physSource)
      case _ => f.physSource
    }
    stats.get(statKey).flatMap { case (mn, mx) =>
      try {
        (f.pf.transform, f.sourceType) match {
          case ("bucket", _) =>
            if (mn == mx) Some(Int.box(mn.toInt)) else None
          case ("identity", ByteType | ShortType | IntegerType) =>
            if (mn.toLong == mx.toLong) Some(Int.box(mn.toInt)) else None
          case ("identity", LongType) =>
            if (mn.toLong == mx.toLong) Some(Long.box(mn.toLong)) else None
          case ("identity", StringType) =>
            if (mn == mx) Some(mn) else None
          case ("identity", DateType) =>
            val (a, b) = (java.time.LocalDate.parse(mn), java.time.LocalDate.parse(mx))
            if (a == b) Some(Int.box(a.toEpochDay.toInt)) else None
          case (t @ ("year" | "month" | "day"), DateType) =>
            val (a, b) = (java.time.LocalDate.parse(mn), java.time.LocalDate.parse(mx))
            def v(d: java.time.LocalDate): Int = t match {
              case "year" => d.getYear - 1970
              case "month" => (d.getYear - 1970) * 12 + d.getMonthValue - 1
              case _ => d.toEpochDay.toInt
            }
            if (v(a) == v(b)) Some(Int.box(v(a))) else None
          case ("identity", TimestampType) =>
            if (mn.toLong == mx.toLong) Some(Long.box(mn.toLong)) else None
          case (t @ ("year" | "month" | "day" | "hour"), TimestampType) =>
            // bounds are UTC epoch micros — the spec's transform domain
            def v(us: Long): Int = {
              val days = Math.floorDiv(us, 86400000000L)
              t match {
                case "day" => days.toInt
                case "hour" => Math.floorDiv(us, 3600000000L).toInt
                case "year" =>
                  java.time.LocalDate.ofEpochDay(days).getYear - 1970
                case _ =>
                  val d = java.time.LocalDate.ofEpochDay(days)
                  (d.getYear - 1970) * 12 + d.getMonthValue - 1
              }
            }
            if (v(mn.toLong) == v(mx.toLong)) Some(Int.box(v(mn.toLong)))
            else None
          case ("truncate", StringType) =>
            val (a, b) = (trunc(mn, f.pf.n), trunc(mx, f.pf.n))
            if (a == b) Some(a) else None
          case ("truncate", IntegerType | LongType) =>
            def v(s: String): Long =
              Math.floorDiv(s.toLong, f.pf.n.toLong) * f.pf.n
            if (v(mn) == v(mx)) {
              if (f.sourceType == LongType) Some(Long.box(v(mn)))
              else Some(Int.box(v(mn).toInt))
            } else None
          case _ => None // timestamp-sourced and anything else: documented skip
        }
      } catch { case _: RuntimeException => None } // unparseable bounds: keep honest
    }
  }

  // ---- export ----

  /** Export every committed version of `ns.name` as an Iceberg v2 table
    * under `dest`. Returns the report (metadata file path etc.). */
  def exportTable(cat: GraftCatalog, ns: String, name: String, dest: String,
                  reuseDataFrom: Option[String] = None,
                  sharedStore: Option[String] = None): ExportReport = {
    val spark = cat.spark
    val snaps = cat.snapshots(ns, name)
    require(snaps.nonEmpty, s"nothing to export: $ns.$name has no committed versions")
    // per-VERSION schemas under one shared id assignment, so schema
    // evolution survives the round trip: each snapshot references its own
    // schema-id and a column keeps its field id across versions
    val verSchemas: Seq[StructType] = snaps.map(_.schemaJson
      .map(DataType.fromJson(_).asInstanceOf[StructType])
      .getOrElse(throw new IllegalStateException(
        s"$ns.$name records no schema; commit through commitAppend/commitReplace first")))
    val (colIds, elemIds, lastColumnId) = unionIdAssignment(verSchemas)
    val distinctSchemas = verSchemas.distinct
    val schemaIdOf: Map[StructType, Int] = distinctSchemas.zipWithIndex.toMap
    val schemasJson = distinctSchemas.zipWithIndex
      .map { case (st, i) => schemaJsonWithIds(st, i, colIds, elemIds) }
    val headSchemaId = schemaIdOf(verSchemas.last)
    val schemaJson = schemasJson(headSchemaId)

    val destPath = Paths.get(dest)
    val metaDir = destPath.resolve("metadata")
    // Shared per-table store (round-14, the O(delta) METADATA re-export):
    // when given, data files, rewritten position-delete files, manifest
    // avros, and manifest lists live in a per-table content-addressed
    // store shared ACROSS export trees — names are deterministic digests
    // of everything that shapes their bytes, so a re-export after one
    // commit writes only the delta and hard-reuses the rest. Objects a
    // retired graft state produced (expired snapshots, evolved schema or
    // spec — all of which change the digests) become unreferenced and are
    // reclaimed by [[sweepSharedStore]] against the serving window's
    // refs.json files. Without sharedStore the tree stays fully
    // self-contained (byte-stable legacy behavior).
    val sharedPath = sharedStore.map(Paths.get(_))
    val sharedMetaDir = sharedPath.map(_.resolve("metadata"))
    val dataDir = sharedPath.map(_.resolve("data"))
      .getOrElse(destPath.resolve("data"))
    Files.createDirectories(metaDir)
    Files.createDirectories(dataDir)
    sharedMetaDir.foreach(Files.createDirectories(_))
    def md5hex(parts: Seq[String]): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(parts.mkString("\u0000").getBytes(StandardCharsets.UTF_8))
        .map("%02x".format(_)).mkString

    // 1. copy data files (distributed; dedup across snapshots — replace
    //    commits drop files from later versions but earlier snapshots
    //    still reference them). When the table carries timestamp columns,
    //    each copy task also checks its file's parquet footer for the
    //    INT96 physical type the Iceberg spec forbids — a PHYSICAL
    //    verdict, not a schema guess: the catalog's STAGING path forces
    //    TIMESTAMP_MICROS (RowParquetWriter pins it), so this is
    //    structurally false for catalog-staged files and can only fire
    //    for files a foreign / non-staging writer landed.
    val tableRoot = Paths.get(cat.warehouse, ns, name)
    // every file any snapshot references — data AND delete files (delete
    // files are ordinary parquet objects under data/, exactly how
    // Iceberg stores them). POSITION-delete files are REWRITTEN rather
    // than copied: graft stores table-relative data-file paths in them,
    // the spec stores the full URI of the exported data file (reserved
    // field file_path = 2147483546).
    val manifestsByRel = snaps.flatMap(cat.manifestsFull(ns, name, _))
      .map(m => m._1 -> m).toMap
    val posDeleteRels: Set[String] = manifestsByRel.values
      .filter(m => cat.isPosDeleteManifest(m._1))
      .flatMap(_._3.map(_.path)).toSet
    val allRel = snaps.flatMap(s =>
      cat.manifestsFull(ns, name, s).flatMap(_._3.map(_.path))).distinct
    val copies = allRel.filterNot(posDeleteRels).map { rel =>
      (tableRoot.resolve(rel).toAbsolutePath.toString,
        dataDir.resolve(flatName(rel)).toAbsolutePath.toString)
    }
    val checkTs = verSchemas.exists(_.fields.exists(f =>
      f.dataType == TimestampType || f.dataType == TimestampNTZType))
    val confSer = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    // incremental re-export (round-14): flat names are content-stable
    // (md5 of the immutable rel path), so a file already materialized in
    // the PREVIOUS export tree hard-links instead of re-copying — a
    // re-export after one commit pays O(new files) bytes, not O(table),
    // which is what keeps a REST-commit round-trip (every commit
    // re-serves the export) commit-shaped at warehouse scale. Any link
    // failure (cross-device, prior tree gone) falls back to the copy.
    val reuseDir = reuseDataFrom
    // shared mode: the store is content-addressed by immutable rel path,
    // so a file already materialized there IS the file — skip its bytes.
    // The INT96 verdict, however, must stay TABLE-level: each store file
    // carries a `.int96` sidecar marker recording its footer probe
    // ("1"/"0"), written at land time and healed on first re-visit for
    // files landed before markers existed, so a re-export ORs the whole
    // serve set's verdicts instead of silently narrowing to this call's
    // delta.
    val (toLand, preLanded) =
      if (sharedPath.isEmpty) (copies, Seq.empty[(String, String)])
      else copies.partition { case (_, dst) =>
        !Files.isRegularFile(Paths.get(dst)) }
    val sharedMode = sharedPath.isDefined
    val landedRisk = spark.sparkContext
      .parallelize(toLand, math.max(1, math.min(toLand.size, 32)))
      .map { case (src, dst) =>
        val dstP = Paths.get(dst)
        val prior = reuseDir.map(d => Paths.get(d, dstP.getFileName.toString))
          .filter(p => Files.isRegularFile(p))
        val linked = prior.exists { pf =>
          try { Files.deleteIfExists(dstP); Files.createLink(dstP, pf); true }
          catch { case _: Exception => false }
        }
        if (!linked) {
          // temp + ATOMIC move: shared-store names are skip-if-present,
          // so a crash mid-copy must never leave a truncated file under
          // a final name (it would poison every later export)
          val tmp = dstP.resolveSibling(s".tmp-${UUID.randomUUID()}")
          Files.copy(Paths.get(src), tmp,
            StandardCopyOption.REPLACE_EXISTING): Unit
          Files.move(tmp, dstP, StandardCopyOption.REPLACE_EXISTING,
            StandardCopyOption.ATOMIC_MOVE): Unit
        }
        if (!checkTs) false
        else {
          val risk = hasInt96Column(src, confSer.value)
          if (sharedMode) {
            val m = dstP.resolveSibling(dstP.getFileName.toString + ".int96")
            val tmp = m.resolveSibling(s".tmp-${UUID.randomUUID()}")
            Files.write(tmp, (if (risk) "1" else "0")
              .getBytes(StandardCharsets.UTF_8)): Unit
            Files.move(tmp, m, StandardCopyOption.REPLACE_EXISTING,
              StandardCopyOption.ATOMIC_MOVE): Unit
          }
          risk
        }
      }.fold(false)(_ || _)
    // skipped store files: read each marker (heal a missing one with a
    // one-time footer probe of the store copy — same bytes as the source)
    val preLandedRisk = checkTs && preLanded.nonEmpty && {
      spark.sparkContext
        .parallelize(preLanded, math.max(1, math.min(preLanded.size, 32)))
        .map { case (_, dst) =>
          val dstP = Paths.get(dst)
          val m = dstP.resolveSibling(dstP.getFileName.toString + ".int96")
          if (Files.isRegularFile(m))
            new String(Files.readAllBytes(m), StandardCharsets.UTF_8)
              .trim == "1"
          else {
            val risk = hasInt96Column(dst, confSer.value)
            val tmp = m.resolveSibling(s".tmp-${UUID.randomUUID()}")
            Files.write(tmp, (if (risk) "1" else "0")
              .getBytes(StandardCharsets.UTF_8)): Unit
            Files.move(tmp, m, StandardCopyOption.REPLACE_EXISTING,
              StandardCopyOption.ATOMIC_MOVE): Unit
            risk
          }
        }.fold(false)(_ || _)
    }
    val int96Risk = landedRisk || preLandedRisk

    // 1b. rewrite position-delete files: map each table-relative
    //     file_path to its exported flat URI (driver-side — delete files
    //     are the small side by contract), sorted for diffable re-exports
    val posRelSize = scala.collection.mutable.Map.empty[String, Long]
    if (posDeleteRels.nonEmpty) {
      val uriOf: Map[String, String] = allRel.filterNot(posDeleteRels)
        .map(r => r -> dataDir.resolve(flatName(r)).toUri.toString).toMap
      import spark.implicits._
      posDeleteRels.toSeq.sorted.foreach { rel =>
        val target = dataDir.resolve(flatName(rel))
        // shared mode: the rewrite is a pure function of the immutable
        // source file and the (stable) shared data-dir URIs — reuse it
        if (sharedPath.isDefined && Files.isRegularFile(target)) {
          posRelSize(rel) = Files.size(target)
        } else {
          val rows = spark.read.parquet(tableRoot.resolve(rel).toString)
            .select("file_path", "pos").as[(String, Long)].collect()
            .map { case (fp, pos) =>
              (uriOf.getOrElse(fp, throw new IllegalStateException(
                s"position-delete file $rel references $fp, which no exported " +
                  "snapshot carries")), pos)
            }.sortBy(identity).toSeq
          posRelSize(rel) = writeSingleParquet(
            rows.toDF("file_path", "pos"), target)
        }
      }
    }

    // partition spec (PARTITIONED BY interop): the head's declared spec
    // exports as a REAL Iceberg partition spec — spec-id 1, default —
    // and every data file whose recorded stats PROVE a single partition
    // value exports with its tuple under it, so foreign engines prune.
    // Files that straddle partitions (range clustering guarantees
    // bounds, not file-per-partition) export under the empty spec-id 0
    // — spec-legal (multi-spec tables are ordinary Iceberg) and never a
    // wrong tuple. Spec-less tables keep today's byte-stable output.
    val pspec = GraftCatalog.validatedPartitionSpec(s"$ns.$name",
      snaps.last.properties, Some(verSchemas.last))
    val specFields = specFieldsOf(pspec, verSchemas.last, colIds)
    // spec-ID assignment reflects EVOLUTION (round-14): distinct
    // nonempty specs across the version history number 1..k in order of
    // first appearance, so the served default-spec-id CHANGES when the
    // spec does — which is what lets a foreign client's
    // assert-default-spec-id detect a concurrent partitioned→partitioned
    // spec change (a constant 1 would let two evolutions silently
    // last-writer-win). Only spec 0 (empty) and the HEAD's spec are
    // emitted in partition-specs — the only ids any exported manifest
    // references. Spec identity is by VALUE (graft's model): evolving
    // A→B→A serves A's original id again.
    val headSpecId: Int =
      if (pspec.isEmpty) 0
      else {
        val seen = scala.collection.mutable.LinkedHashMap.empty[String, Int]
        snaps.zipWithIndex.foreach { case (s, i) =>
          val sp = scala.util.Try(GraftCatalog.validatedPartitionSpec(
            s"$ns.$name", s.properties, Some(verSchemas(i))))
            .getOrElse(Seq.empty)
          if (sp.nonEmpty) {
            val key = GraftCatalog.partitionSpecJson(sp)
            if (!seen.contains(key)) seen(key) = seen.size + 1
          }
        }
        seen(GraftCatalog.partitionSpecJson(pspec))
      }
    val specEntrySchema: Option[Schema] =
      if (specFields.isEmpty) None
      else Some(manifestEntrySchemaWith(specFields.map(f =>
        s"""{"name":${jstr(f.name)},"type":["null",${f.avroType}],""" +
          s""""default":null,"field-id":${f.fieldId}}""").mkString(",")))
    val specFieldsJson = specFields.map(f =>
      s"""{"name":${jstr(f.name)},"transform":"${f.transform}",""" +
        s""""source-id":${f.sourceId},"field-id":${f.fieldId}}""").mkString(",")

    // 2. one Avro manifest per graft manifest — TWO when a partitioned
    //    manifest mixes tuple-provable and straddling entries — written
    //    once and shared by every manifest list that references it.
    //    rel graft manifest -> per-avro-manifest
    //    (path, entry count, row count, length, partition-spec-id)
    val manifestMeta =
      scala.collection.mutable.Map.empty[String, Seq[(String, Int, Long, Long, Int)]]
    // which snapshot first carries each graft manifest (= added it).
    // Identity is GRAFT-SEQ-shaped (snapshotId(seq), not positional), so
    // snapshot expiry — which drops early versions without renumbering
    // the rest — leaves surviving snapshots' exported ids untouched.
    val addedByComputed: Map[String, Snapshot0] = {
      val m = scala.collection.mutable.Map.empty[String, Snapshot0]
      snaps.foreach { s =>
        s.manifests.foreach { rel =>
          if (!m.contains(rel))
            m(rel) = Snapshot0(snapshotId(s.seq), s.seq + 1L, s.timestampMs)
        }
      }
      m.toMap
    }
    // Shared mode additionally PERSISTS each manifest's attribution at
    // first export (attr-<md5(rel)>.txt): expiry may retire a
    // manifest's adding snapshot, and recomputing attribution from the
    // retained history would shift it onto the oldest survivor — moving
    // the manifest's digest and forcing an O(history) metadata rewrite
    // per expiry. The recorded attribution keeps the ORIGINAL (smaller)
    // sequence number, which also preserves delete-application ordering
    // exactly as first served. Attr files are listed in refs.txt and
    // live/die with the serving window like every store object.
    val addedBy: Map[String, Snapshot0] = sharedMetaDir match {
      case None => addedByComputed
      case Some(smd) =>
        addedByComputed.map { case (rel, computed) =>
          val af = smd.resolve(s"attr-${md5hex(Seq(rel))}.txt")
          val persisted =
            if (!Files.isRegularFile(af)) None
            else new String(Files.readAllBytes(af), StandardCharsets.UTF_8)
              .trim.split('|') match {
                case Array(id, sq, ts) =>
                  try Some(Snapshot0(id.toLong, sq.toLong, ts.toLong))
                  catch { case _: NumberFormatException => None }
                case _ => None
              }
          rel -> persisted.getOrElse {
            val tmp = af.resolveSibling(s".tmp-${UUID.randomUUID()}.txt")
            Files.write(tmp, s"${computed.id}|${computed.seq}|${computed.tsMs}"
              .getBytes(StandardCharsets.UTF_8)): Unit
            Files.move(tmp, af, StandardCopyOption.REPLACE_EXISTING,
              StandardCopyOption.ATOMIC_MOVE): Unit
            computed
          }
        }
    }

    // equality-delete manifests name their key columns by FIELD ID
    // (spec field 135); the key set is the delete parquet's own columns
    // (what morScan anti-joins on), resolved through the shared id
    // assignment. Footer read per delete manifest — delete files are the
    // small side by construction.
    def equalityIdsOf(entries: Seq[cat.ManifestEntry]): Seq[Int] = {
      val cols = parquetColumnNames(
        tableRoot.resolve(entries.head.path).toString,
        spark.sparkContext.hadoopConfiguration)
      cols.map(c => colIds.getOrElse(c,
        throw new IllegalStateException(
          s"delete file ${entries.head.path} keys on column '$c' which no " +
            "schema version of this table declares")))
    }

    val isDeleteM = scala.collection.mutable.Map.empty[String, Boolean]
    // REPRESENTABILITY GUARD: graft applies deletes POSITIONALLY (a
    // delete manifest reaches data manifests earlier in the list),
    // Iceberg applies them by SEQUENCE NUMBER (strictly-less for
    // equality deletes, less-or-equal for position deletes), and export
    // attributes each manifest the sequence of its FIRST-carrying
    // snapshot. The two semantics agree iff, in every exported
    // snapshot's list, positional applicability matches the sequence
    // rule for every (data, delete) manifest pair. Histories every
    // native commit path builds always pass; what fails — loudly, never
    // silently — is a list whose positions contradict its sequences:
    // a commitFilesMor replay that packs a multi-sequence foreign
    // snapshot into one commit with data around a delete, or a
    // consolidation that re-manifests pre-delete data at a post-delete
    // sequence (rewriteManifests refuses to create those, but a foreign
    // state could arrive committed). Deleted rows would otherwise
    // resurrect in the exported table.
    locally {
      val kindOf: Map[String, Int] = manifestsByRel.map { case (rel, m) =>
        rel -> (if (!m._2) 1 else if (cat.isPosDeleteManifest(rel)) 2 else 0)
      }.toMap
      snaps.foreach { sn =>
        val indexed = sn.manifests.zipWithIndex
        for {
          (d, dp) <- indexed if kindOf(d) != 1
          (m, mp) <- indexed if kindOf(m) == 1
        } {
          val positional = mp < dp
          val seqM = addedBy(m).seq
          val seqD = addedBy(d).seq
          val bySequence =
            if (kindOf(d) == 2) seqM <= seqD else seqM < seqD
          require(positional == bySequence,
            s"$ns.$name v${sn.seq}: the positional delete semantics of this " +
              s"manifest list cannot be expressed with Iceberg sequence numbers " +
              s"(data manifest $m @pos $mp seq $seqM vs delete manifest $d " +
              s"@pos $dp seq $seqD) — exporting would change which rows are " +
              "deleted. compact() first, then export")
        }
      }
    }

    // shared-mode manifest identity: a digest of EVERY input that shapes
    // the avro bytes — the graft manifest rel (its entry set is immutable
    // by the CAS commit model), the adding snapshot's id/seq (these move
    // when earlier snapshots expire), the embedded head schema JSON and
    // partition-spec context (these move on evolution), the equality-id
    // assignment, and the per-entry exported sizes (pos-delete rewrites).
    // Any graft state change that would alter the bytes changes the key,
    // so reuse can never serve stale metadata; retired keys become
    // unreferenced and are swept.
    val manifestKeyOf = scala.collection.mutable.Map.empty[String, String]
    var reusedM = 0; var writtenM = 0
    snaps.foreach { s =>
      cat.manifestsFull(ns, name, s).foreach { case (rel, isDelete, entries) =>
        if (!manifestMeta.contains(rel)) {
          isDeleteM(rel) = isDelete
          val isPos = cat.isPosDeleteManifest(rel)
          val add = addedBy(rel)
          val eqIds =
            if (isDelete && !isPos && entries.nonEmpty) equalityIdsOf(entries)
            else Seq.empty
          val keyOpt = sharedMetaDir.map { _ =>
            md5hex(Seq(rel, add.id.toString, add.seq.toString, schemaJson,
              headSpecId.toString, specFieldsJson, eqIds.mkString(","),
              entries.map(e =>
                s"${e.path}:${posRelSize.getOrElse(e.path, e.sizeBytes)}")
                .mkString(",")))
          }
          keyOpt.foreach(k => manifestKeyOf(rel) = k)
          val sidecar = for { smd <- sharedMetaDir; k <- keyOpt }
            yield smd.resolve(s"m-$k.txt")
          val fromStore: Option[Seq[(String, Int, Long, Long, Int)]] =
            sidecar.filter(Files.isRegularFile(_)).map { sc =>
              Files.readAllLines(sc, StandardCharsets.UTF_8).asScala.toSeq
                .filter(_.nonEmpty).map { ln =>
                  val parts = ln.split('|')
                  (sharedMetaDir.get.resolve(parts(0)).toAbsolutePath.toString,
                    parts(1).toInt, parts(2).toLong, parts(3).toLong,
                    parts(4).toInt)
                }
            // a sidecar whose avros were lost (interrupted sweep) must
            // rewrite, never serve dangling manifest paths
            }.filter(_.forall(m => Files.isRegularFile(Paths.get(m._1))))
          var partIdx = 0
          def nextManifestFile(): Path = sharedMetaDir match {
            case Some(smd) =>
              val f = smd.resolve(s"m-${keyOpt.get}-$partIdx.avro")
              partIdx += 1
              f
            case None => metaDir.resolve(s"${UUID.randomUUID()}-m0.avro")
          }
          fromStore.foreach { ms => reusedM += 1; manifestMeta(rel) = ms }
          if (fromStore.isEmpty) {
          // per-entry partition tuple where the stats prove one (data
          // manifests of a partitioned table only); None = spec-0
          def tupleOf(e: cat.ManifestEntry): Option[Seq[AnyRef]] =
            if (isDelete || specFields.isEmpty) None
            else {
              val vals = specFields.map(f => partitionValueOf(f, e.stats))
              if (vals.forall(_.isDefined)) Some(vals.map(_.get)) else None
            }
          def writeOne(schema: Schema, specId: Int,
                       es: Seq[(cat.ManifestEntry, Option[Seq[AnyRef]])])
              : (String, Int, Long, Long, Int) = {
            val file = nextManifestFile()
            // Shared-store names are reuse-if-present and may be referenced
            // by already-served trees: stage to a temp sibling and
            // ATOMIC_MOVE, matching the data-file/list landing discipline —
            // an in-place rewrite would let a concurrent reader observe a
            // truncated or momentarily absent manifest.
            val writeTarget =
              if (sharedMetaDir.isEmpty) file
              else file.resolveSibling(s".tmp-${UUID.randomUUID()}.avro")
            val w = new DataFileWriter[GenericRecord](
              new GenericDatumWriter[GenericRecord](schema))
            w.setMeta("schema", schemaJson)
            w.setMeta("partition-spec",
              if (specId == 0) "[]" else s"[$specFieldsJson]")
            w.setMeta("partition-spec-id", specId.toString)
            w.setMeta("format-version", "2")
            w.setMeta("content", if (isDelete) "deletes" else "data")
            w.create(schema, writeTarget.toFile)
            var rows = 0L
            es.foreach { case (e, tuple) =>
              val nRows = rowCountOf(cat)(e.stats, tableRoot.resolve(e.path))
              rows += nRows
              val df = new GenericData.Record(
                schema.getField("data_file").schema())
              // 0 = DATA, 1 = POSITION_DELETES, 2 = EQUALITY_DELETES
              df.put("content", Int.box(if (isPos) 1 else if (isDelete) 2 else 0))
              df.put("file_path",
                dataDir.resolve(flatName(e.path)).toUri.toString)
              df.put("file_format", "PARQUET")
              val part = new GenericData.Record(
                df.getSchema.getField("partition").schema())
              tuple.foreach(_.zip(specFields).foreach { case (v, f) =>
                part.put(f.name, v) })
              df.put("partition", part)
              df.put("record_count", Long.box(nRows))
              // position-delete files were rewritten (rel paths -> exported
              // URIs), so their exported size differs from the source entry
              df.put("file_size_in_bytes",
                Long.box(posRelSize.getOrElse(e.path, e.sizeBytes)))
              if (isDelete && !isPos)
                df.put("equality_ids", eqIds.map(Int.box).asJava)
              val rec = new GenericData.Record(schema)
              rec.put("status", Int.box(1)) // ADDED relative to its snapshot
              rec.put("snapshot_id", Long.box(add.id))
              rec.put("sequence_number", Long.box(add.seq))
              rec.put("file_sequence_number", Long.box(add.seq))
              rec.put("data_file", df)
              w.append(rec)
            }
            w.close()
            if (writeTarget ne file)
              Files.move(writeTarget, file, StandardCopyOption.REPLACE_EXISTING,
                StandardCopyOption.ATOMIC_MOVE): Unit
            (file.toAbsolutePath.toString, es.size, rows, Files.size(file), specId)
          }
          val tagged = entries.map(e => (e, tupleOf(e)))
          val (tupled, plain) = tagged.partition(_._2.isDefined)
          val written =
            (if (tupled.nonEmpty)
               Seq(writeOne(specEntrySchema.get, headSpecId, tupled))
             else Seq.empty) ++
            (if (plain.nonEmpty || tupled.isEmpty)
               Seq(writeOne(ManifestEntrySchema, 0, plain))
             else Seq.empty)
          manifestMeta(rel) = written
          // sidecar LAST: a crash between avro writes and here leaves no
          // sidecar, so the next export simply rewrites the same names
          sidecar.foreach { sc =>
            writtenM += 1
            val lines = written.map { case (p, n, r, l, sp) =>
              s"${Paths.get(p).getFileName}|$n|$r|$l|$sp" }
            // atomic: a truncated sidecar would crash later exports on
            // parse (the sidecar's presence IS the reuse gate)
            val tmp = sc.resolveSibling(s".tmp-${UUID.randomUUID()}.txt")
            Files.write(tmp,
              lines.mkString("\n").getBytes(StandardCharsets.UTF_8)): Unit
            Files.move(tmp, sc, StandardCopyOption.REPLACE_EXISTING,
              StandardCopyOption.ATOMIC_MOVE): Unit
          }
          }
        }
      }
    }

    // 3. one manifest LIST per snapshot. Shared mode keys the list by a
    //    digest of every record it will carry (the manifest FILE names —
    //    which already encode their own full content — plus ordering,
    //    attribution, and the snapshot's id/seq/parent), so the list of
    //    an unchanged snapshot is reused verbatim across re-exports and a
    //    re-export after one commit writes exactly the NEW snapshots'
    //    lists.
    var reusedL = 0; var writtenL = 0
    val listPaths = snaps.zipWithIndex.map { case (s, i) =>
      val sid = snapshotId(s.seq)
      val file = sharedMetaDir match {
        case Some(smd) =>
          val lkey = md5hex(Seq(sid.toString, (s.seq + 1L).toString,
            if (i > 0) snapshotId(snaps(i - 1).seq).toString else "-",
            s.manifests.map(rel =>
              s"$rel=${manifestKeyOf(rel)}:${addedBy(rel).id}:${addedBy(rel).seq}")
              .mkString(";")))
          smd.resolve(s"snap-$sid-1-$lkey.avro")
        case None => metaDir.resolve(s"snap-$sid-1-${UUID.randomUUID()}.avro")
      }
      if (sharedMetaDir.isDefined && Files.isRegularFile(file)) {
        reusedL += 1
        file.toAbsolutePath
      } else {
      // shared names are reuse-if-present: write a temp sibling and
      // ATOMIC-move, so a crash mid-write can never leave a truncated
      // list that later exports would reuse
      val writeTarget =
        if (sharedMetaDir.isEmpty) file
        else file.resolveSibling(s".tmp-${UUID.randomUUID()}.avro")
      if (sharedMetaDir.isDefined) { writtenL += 1; Files.deleteIfExists(file): Unit }
      val w = new DataFileWriter[GenericRecord](
        new GenericDatumWriter[GenericRecord](ManifestListSchema))
      w.setMeta("format-version", "2")
      w.setMeta("snapshot-id", sid.toString)
      w.setMeta("sequence-number", (s.seq + 1L).toString)
      if (i > 0)
        w.setMeta("parent-snapshot-id", snapshotId(snaps(i - 1).seq).toString)
      w.create(ManifestListSchema, writeTarget.toFile)
      s.manifests.foreach { rel =>
        val add = addedBy(rel)
        manifestMeta(rel).foreach { case (path, nFiles, nRows, len, specId) =>
          val rec = new GenericData.Record(ManifestListSchema)
          rec.put("manifest_path", Paths.get(path).toUri.toString)
          rec.put("manifest_length", Long.box(len))
          rec.put("partition_spec_id", Int.box(specId))
          rec.put("content", Int.box(if (isDeleteM(rel)) 1 else 0)) // 0 data / 1 deletes
          rec.put("sequence_number", Long.box(add.seq))
          rec.put("min_sequence_number", Long.box(add.seq))
          rec.put("added_snapshot_id", Long.box(add.id))
          // the counts describe the manifest FILE's entry statuses (spec
          // field 504: "entries with status ADDED"), so a manifest reused
          // by later manifest lists keeps its ORIGINAL counts — every
          // entry in our shared manifests is ADDED with the adding
          // snapshot's id; readers attribute them via added_snapshot_id /
          // sequence_number, not via per-list count flips
          rec.put("added_files_count", Int.box(nFiles))
          rec.put("existing_files_count", Int.box(0))
          rec.put("deleted_files_count", Int.box(0))
          rec.put("added_rows_count", Long.box(nRows))
          rec.put("existing_rows_count", Long.box(0L))
          rec.put("deleted_rows_count", Long.box(0L))
          w.append(rec)
        }
      }
      w.close()
      if (writeTarget ne file)
        Files.move(writeTarget, file, StandardCopyOption.REPLACE_EXISTING,
          StandardCopyOption.ATOMIC_MOVE): Unit
      file.toAbsolutePath
      }
    }

    // 4. table metadata JSON + version hint
    val snapJsons = snaps.zipWithIndex.map { case (s, i) =>
      val parent =
        if (i == 0) ""
        else s""""parent-snapshot-id":${snapshotId(snaps(i - 1).seq)},"""
      // spec summary operations: append = only data added; delete = only
      // delete files added; overwrite = both (upsert) or a rewrite
      val added =
        if (i == 0) s.manifests
        else s.manifests.filterNot(snaps(i - 1).manifests.contains)
      val op =
        if (i > 0 && !snaps(i - 1).manifests.forall(s.manifests.contains)) "overwrite"
        else (added.count(m => isDeleteM.getOrElse(m, false)),
              added.count(m => !isDeleteM.getOrElse(m, false))) match {
          case (0, _) => "append"
          case (_, 0) => "delete"
          case _      => "overwrite"
        }
      s"""{"snapshot-id":${snapshotId(s.seq)},$parent""" +
        s""""sequence-number":${s.seq + 1},""" +
        s""""timestamp-ms":${s.timestampMs},"summary":{"operation":"$op"},""" +
        s""""manifest-list":${jstr(listPaths(i).toUri.toString)},""" +
        s""""schema-id":${schemaIdOf(verSchemas(i))}}"""
    }
    val snapLog = snaps.map { s =>
      s"""{"timestamp-ms":${s.timestampMs},"snapshot-id":${snapshotId(s.seq)}}"""
    }
    val currentId = snapshotId(snaps.last.seq)
    // data parquet spells columns by their PHYSICAL names and carries no
    // embedded field-ids — when any version renamed a column (logical ≠
    // physical), emit the spec's name-mapping property so Iceberg
    // readers resolve the physical parquet names to the right ids.
    // Rename-free exports stay byte-stable (diffable re-exports).
    val nameMappingProp =
      if (!verSchemas.exists(GraftCatalog.hasColumnMapping)) ""
      else {
        // nested fields need their own mapping entries (spec: unmapped
        // nested fields resolve to null for files without embedded ids)
        // — same DFS id allocation as the schema JSON; list elements
        // and map key/value take the spec's positional names
        def nested(dt: DataType, nextId: () => Int): String = dt match {
          case st: StructType => st.fields.map { f =>
            val fid = nextId()
            val kids = nested(f.dataType, nextId)
            s"""{"field-id":$fid,"names":[${jstr(f.name)}]""" +
              (if (kids.isEmpty) "}" else s""","fields":[$kids]}""")
          }.mkString(",")
          case ArrayType(e, _) =>
            val eid = nextId()
            val kids = nested(e, nextId)
            s"""{"field-id":$eid,"names":["element"]""" +
              (if (kids.isEmpty) "}" else s""","fields":[$kids]}""")
          case MapType(k, v, _) =>
            val kid = nextId()
            val kk = nested(k, nextId)
            val kEntry = s"""{"field-id":$kid,"names":["key"]""" +
              (if (kk.isEmpty) "}" else s""","fields":[$kk]}""")
            val vid = nextId()
            val vk = nested(v, nextId)
            val vEntry = s"""{"field-id":$vid,"names":["value"]""" +
              (if (vk.isEmpty) "}" else s""","fields":[$vk]}""")
            s"$kEntry,$vEntry"
          case _ => ""
        }
        val typeOfPhys: Map[String, DataType] = verSchemas.flatMap(_.fields)
          .map(f => GraftCatalog.physicalName(f) -> f.dataType).toMap
        val entries = colIds.toSeq.sortBy(_._2).map { case (phys, id) =>
          var cur = elemIds.getOrElse(phys, 0) - 1
          val next = () => { cur += 1; cur }
          val kids = typeOfPhys.get(phys).map(nested(_, next)).getOrElse("")
          s"""{"field-id":$id,"names":[${jstr(phys)}]""" +
            (if (kids.isEmpty) "}" else s""","fields":[$kids]}""")
        }
        s""","schema.name-mapping.default":${jstr(s"[${entries.mkString(",")}]")}"""
      }
    // the HEAD version's TBLPROPERTIES ride the metadata properties map
    // (Iceberg's own home for them), sorted for byte-stable re-exports;
    // engine keys above win on collision
    val userProps = snaps.last.properties.toSeq.sortBy(_._1)
      .filterNot { case (k, _) =>
        k == "write.format.default" || k == "schema.name-mapping.default" }
      .map { case (k, v) => s",${jstr(k)}:${jstr(v)}" }.mkString
    val metadata =
      s"""{
         |"format-version":2,
         |"table-uuid":"${UUID.randomUUID()}",
         |"location":${jstr(destPath.toAbsolutePath.toUri.toString.stripSuffix("/"))},
         |"last-sequence-number":${snaps.last.seq + 1},
         |"last-updated-ms":${snaps.last.timestampMs},
         |"last-column-id":$lastColumnId,
         |"current-schema-id":$headSchemaId,
         |"schemas":[${schemasJson.mkString(",")}],
         |"default-spec-id":$headSpecId,
         |"partition-specs":[{"spec-id":0,"fields":[]}${
           if (specFields.isEmpty) ""
           else s""",{"spec-id":$headSpecId,"fields":[$specFieldsJson]}"""}],
         |"last-partition-id":${999 + specFields.size},
         |"default-sort-order-id":0,
         |"sort-orders":[{"order-id":0,"fields":[]}],
         |"properties":{"write.format.default":"parquet"$nameMappingProp$userProps},
         |"current-snapshot-id":$currentId,
         |"refs":{"main":{"snapshot-id":$currentId,"type":"branch"}},
         |"snapshots":[${snapJsons.mkString(",")}],
         |"snapshot-log":[${snapLog.mkString(",")}],
         |"metadata-log":[]
         |}""".stripMargin
    val metaFile = metaDir.resolve("v1.metadata.json")
    Files.write(metaFile, metadata.getBytes(StandardCharsets.UTF_8))
    // HadoopTables-style version hint so path-based readers find v1
    Files.write(metaDir.resolve("version-hint.text"),
      "1".getBytes(StandardCharsets.UTF_8))

    // head row count from the per-manifest sums step 2 already derived —
    // no second round of footer reads for stat-less manifests (data
    // manifests only: physical rows, pre-delete-apply)
    val headRows = snaps.last.manifests
      .filterNot(m => isDeleteM.getOrElse(m, false))
      .map(manifestMeta(_).map(_._3).sum).sum
    val deleteRels = snaps.flatMap(s => cat.manifestsFull(ns, name, s)
      .filter(_._2).flatMap(_._3.map(_.path))).distinct.toSet
    // shared mode: record this tree's claims on the store — the unit of
    // liveness [[sweepSharedStore]] retains (union over the serving
    // window's trees); written LAST so a tree with a refs file is always
    // a complete tree
    sharedPath.foreach { _ =>
      val names =
        allRel.map(r => s"data/${flatName(r)}") ++
          manifestMeta.values.flatten
            .map(m => s"metadata/${Paths.get(m._1).getFileName}") ++
          manifestKeyOf.values.map(k => s"metadata/m-$k.txt") ++
          addedBy.keys.map(rel => s"metadata/attr-${md5hex(Seq(rel))}.txt") ++
          listPaths.map(p => s"metadata/${p.getFileName}")
      Files.write(destPath.resolve("refs.txt"),
        names.distinct.sorted.mkString("\n")
          .getBytes(StandardCharsets.UTF_8)): Unit
    }
    ExportReport(metaFile.toAbsolutePath.toString, snaps.length,
      manifestMeta.values.map(_.size).sum, allRel.count(!deleteRels(_)),
      headRows, int96Risk, deleteRels.size,
      reusedManifests = reusedM, writtenManifests = writtenM,
      reusedLists = reusedL, writtenLists = writtenL,
      copiedDataFiles = toLand.size)
  }

  /** Reclaim shared-store objects no retained export tree references.
    * `refsFiles` are the `refs.txt` paths of every tree still in the
    * serving window; a missing file contributes nothing (the only
    * refs-less trees the serving path creates are empty-table stubs,
    * which reference no shared objects). Objects become unreferenced
    * when the graft state that shaped them retires — snapshot expiry
    * moves every manifest's added-by attribution, schema/spec evolution
    * moves the embedded metadata — because all of those are digest
    * inputs of the shared names. Cost: one directory listing, zero data
    * reads. Returns the deleted names (`data/...` / `metadata/...`). */
  def sweepSharedStore(shared: String, refsFiles: Seq[String]): Seq[String] = {
    val sp = Paths.get(shared)
    if (!Files.isDirectory(sp)) return Seq.empty
    val keep: Set[String] = refsFiles.flatMap { f =>
      val p = Paths.get(f)
      if (Files.isRegularFile(p))
        Files.readAllLines(p, StandardCharsets.UTF_8).asScala.filter(_.nonEmpty)
      else Nil
    }.toSet
    val deleted = Seq.newBuilder[String]
    Seq("data", "metadata").foreach { sub =>
      val d = sp.resolve(sub)
      if (Files.isDirectory(d)) {
        val s = Files.list(d)
        try s.iterator().asScala.filter(Files.isRegularFile(_)).foreach { p =>
          val n = s"$sub/${p.getFileName}"
          // an .int96 sidecar lives and dies with its data file (it is
          // never listed in refs itself)
          val owner = if (n.endsWith(".int96")) n.stripSuffix(".int96") else n
          if (!keep(owner)) {
            Files.deleteIfExists(p): Unit
            deleted += n
          }
        } finally s.close()
      }
    }
    deleted.result()
  }

  private case class Snapshot0(id: Long, seq: Long, tsMs: Long)

  /** Deterministic positive snapshot id keyed on the GRAFT sequence
    * number (any unique long is spec-legal; deterministic ids keep
    * re-exports diffable, and seq-keyed — rather than positional — ids
    * survive snapshot expiry unchanged, which is what keeps the shared
    * store's digests stable across retention). */
  private def snapshotId(graftSeq: Long): Long = 1000L + graftSeq

  /** A table-relative data path (`data/<op-id>-<part>.parquet`, or
    * `data/<dir>/<part>.parquet` in a table staged before the flat
    * layout) -> flat unique basename. The
    * hash prefix keys on the FULL relative path: plain '/'->'-'
    * flattening lets distinct rel paths collide (`a/b-c` vs `a-b/c`)
    * and the REPLACE_EXISTING copy would silently overwrite one file
    * with another. */
  private[graft] def flatName(rel: String): String = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(rel.getBytes(StandardCharsets.UTF_8))
      .take(4).map("%02x".format(_)).mkString
    s"$h-${rel.stripPrefix("data/").replace('/', '-')}"
  }

  /** Write `df` as exactly ONE parquet file at `target` — the rewrite
    * plumbing for position-delete / rename-era files (1:1 outputs). The
    * temp write dir is removed whole, _SUCCESS/checksum litter included.
    * Returns the written file's size. */
  private[graft] def writeSingleParquet(df: DataFrame,
                                          target: Path): Long = {
    val tmp = Files.createTempDirectory("graft-single-parquet")
    try {
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = {
        val st = Files.list(tmp)
        try st.iterator().asScala.find(_.toString.endsWith(".parquet"))
          .getOrElse(throw new IllegalStateException(
            s"single-file write to $tmp produced no parquet output"))
        finally st.close()
      }
      // ATOMIC landing: shared-store callers skip-if-present, so a
      // truncated file must never appear under the final name. The
      // temp dir may sit on another filesystem — stage a sibling first
      // (same dir = same fs), then rename.
      try Files.move(part, target, StandardCopyOption.REPLACE_EXISTING,
        StandardCopyOption.ATOMIC_MOVE)
      catch { case _: java.nio.file.AtomicMoveNotSupportedException =>
        val sib = target.resolveSibling(s".tmp-${UUID.randomUUID()}")
        Files.move(part, sib, StandardCopyOption.REPLACE_EXISTING)
        Files.move(sib, target, StandardCopyOption.REPLACE_EXISTING,
          StandardCopyOption.ATOMIC_MOVE): Unit
      }
      Files.size(target)
    } finally {
      // recursive, throw-safe cleanup: a failed Spark write can leave
      // _temporary/ SUBDIRS behind, and an exception here must never
      // mask the original failure the caller needs to see
      def rm(px: Path): Unit = {
        if (Files.isDirectory(px)) {
          val st = Files.list(px)
          try st.iterator().asScala.toList.foreach(rm) finally st.close()
        }
        Files.deleteIfExists(px): Unit
      }
      try rm(tmp) catch { case _: Exception => () }
    }
  }

  /** True iff any column in the parquet file's footer schema has the
    * INT96 physical type (the pre-standard timestamp encoding the
    * Iceberg spec rejects — spec §Parquet: timestamps are INT64 micros).
    * Footer-only read, runs inside the distributed copy task. */
  private def hasInt96Column(abs: String,
                             conf: org.apache.hadoop.conf.Configuration): Boolean = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(abs), conf)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try r.getFileMetaData.getSchema.getColumns.asScala.exists(
      _.getPrimitiveType.getPrimitiveTypeName ==
        org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT96)
    finally r.close()
  }

  /** Top-level column names of a parquet file's footer schema, in file
    * order (footer-only driver read — used to derive an equality-delete
    * manifest's key set, and on import to verify it). */
  private[graft] def parquetColumnNames(
      abs: String, conf: org.apache.hadoop.conf.Configuration): Seq[String] = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(abs), conf)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try r.getFileMetaData.getSchema.getFields.asScala.map(_.getName).toSeq
    finally r.close()
  }

  /** Row count from the manifest's recorded `__rows` stat; parquet-footer
    * fallback for pre-upgrade manifests (metadata-only either way, read
    * under the session's hadoop conf). */
  private def rowCountOf(cat: GraftCatalog)(stats: Map[String, (String, String)],
                                            abs: Path): Long =
    stats.get(GraftCatalog.RowsStatKey).map(_._1.toLong).getOrElse(
      GraftCatalog.parquetFooterRowCount(abs.toString,
        cat.spark.sparkContext.hadoopConfiguration))

  // ---- independent read-back (conformance proof without iceberg jars) ----

  /** Spark type from an Iceberg primitive type string (spec §4 inverse
    * of [[icebergPrimitive]]). */
  private def sparkPrimitive(t: String): DataType = t match {
    case "boolean" => BooleanType
    case "int" => IntegerType
    case "long" => LongType
    case "float" => FloatType
    case "double" => DoubleType
    case "string" => StringType
    case "binary" => BinaryType
    case "date" => DateType
    case "timestamptz" => TimestampType
    case "timestamp" => TimestampNTZType
    case d if d.startsWith("decimal(") =>
      val Array(p, s) = d.stripPrefix("decimal(").stripSuffix(")").split(",").map(_.trim.toInt)
      DecimalType(p, s)
    case other => throw new IllegalArgumentException(s"unsupported Iceberg type $other")
  }

  /** Spark type from an Iceberg type node — primitive text, or the
    * struct/list/map object forms (spec §Schemas), recursively. */
  private[graft] def sparkType(t: com.fasterxml.jackson.databind.JsonNode): DataType =
    if (t.isTextual) sparkPrimitive(t.asText())
    else t.get("type").asText() match {
      case "list" =>
        ArrayType(sparkType(t.get("element")),
          containsNull = !t.get("element-required").asBoolean())
      case "struct" =>
        StructType(t.get("fields").elements().asScala.map { f =>
          StructField(f.get("name").asText(), sparkType(f.get("type")),
            nullable = !f.get("required").asBoolean())
        }.toSeq)
      case "map" =>
        org.apache.spark.sql.types.MapType(sparkType(t.get("key")),
          sparkType(t.get("value")),
          valueContainsNull = !t.get("value-required").asBoolean())
      case other => throw new IllegalArgumentException(
        s"unsupported nested Iceberg type $other")
    }

  /** Spark schema from the metadata's current Iceberg schema — applied
    * to the parquet read so SCHEMA-EVOLVED exports project correctly
    * (files written before a column existed read it as null, the same
    * fill a real Iceberg reader does by field id). */
  private[graft] def sparkSchema(schemaNode: com.fasterxml.jackson.databind.JsonNode): StructType =
    StructType(schemaNode.get("fields").elements().asScala.map { f =>
      StructField(f.get("name").asText(), sparkType(f.get("type")),
        nullable = !f.get("required").asBoolean())
    }.toSeq)

  /** Read the CURRENT snapshot of an exported Iceberg table using ONLY
    * its spec artifacts: version-hint -> metadata JSON -> current
    * snapshot's manifest list (Avro) -> manifests (Avro) -> parquet,
    * projected through the metadata schema (schema evolution handled).
    * Merge-on-read equality deletes are APPLIED per the spec's sequence
    * rule. Deliberately shares no state with the export above — it must
    * agree with [[GraftCatalog.read]] through the format alone. */
  def readExported(spark: SparkSession, location: String): DataFrame =
    readExportedAt(spark, location, snapshotId = None)

  /** [[readExported]] addressed at one snapshot id (time travel through
    * the exported artifacts alone; export's ids are deterministic —
    * [[exportedSnapshotId]]). Equality-delete files are applied to data
    * files whose data sequence number is STRICTLY LESS than the
    * delete's (spec: equality deletes never erase rows committed with
    * or after them), anti-joined on the `equality_ids`-resolved
    * columns — the same broadcast-small-side shape as
    * [[GraftCatalog]]'s morScan, via the format alone. */
  def readExportedAt(spark: SparkSession, location: String,
                     snapshotId: Option[Long]): DataFrame = {
    val meta = Paths.get(location, "metadata")
    val hint = new String(Files.readAllBytes(meta.resolve("version-hint.text")),
      StandardCharsets.UTF_8).trim
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = m.readTree(Files.readAllBytes(meta.resolve(s"v$hint.metadata.json")))
    require(root.get("format-version").asInt() == 2, "expect format-version 2")
    val wantedId = snapshotId.getOrElse(root.get("current-snapshot-id").asLong())
    val snap = root.get("snapshots").elements().asScala
      .find(_.get("snapshot-id").asLong() == wantedId)
      .getOrElse(throw new IllegalStateException(s"snapshot $wantedId missing"))
    val listPath = Paths.get(java.net.URI.create(snap.get("manifest-list").asText()))

    // (path, file sequence number) per live data file; (path, seq,
    // equality ids) per live equality-delete file; (path, seq) per live
    // position-delete file
    val dataFiles = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    val deleteFiles = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Seq[Int])]
    val posDeleteFiles = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    readAvro(listPath).foreach { mf =>
      val mSeq = anyLongOr(getOpt(mf, "sequence_number"), 0L)
      readAvro(Paths.get(java.net.URI.create(mf.get("manifest_path").toString)))
        .filter(e => anyIntOr(getOpt(e, "status"), 1) != 2) // not DELETED
        .foreach { e =>
          val df = e.get("data_file").asInstanceOf[GenericRecord]
          val seq = anyLongOr(getOpt(e, "sequence_number"), mSeq)
          val path = Paths.get(java.net.URI.create(
            df.get("file_path").toString)).toString
          anyIntOr(getOpt(df, "content"), 0) match {
            case 0 => dataFiles += ((path, seq))
            case 2 =>
              val ids = Option(getOpt(df, "equality_ids"))
                .map(_.asInstanceOf[java.util.List[_]].asScala
                  .map(x => anyIntOr(x.asInstanceOf[AnyRef], -1)).toSeq)
                .getOrElse(Seq.empty)
              require(ids.nonEmpty,
                s"equality-delete file $path carries no equality_ids")
              deleteFiles += ((path, seq, ids))
            case 1 => posDeleteFiles += ((path, seq))
            case other => throw new IllegalStateException(
              s"unknown data_file content $other for $path")
          }
        }
    }

    val schemaIdUsed = Option(snap.get("schema-id")).map(_.asInt())
      .getOrElse(root.get("current-schema-id").asInt())
    val schemaNode = root.get("schemas").elements().asScala
      .find(_.get("schema-id").asInt() == schemaIdUsed)
      .getOrElse(throw new IllegalStateException(s"schema $schemaIdUsed missing"))
    val schema = sparkSchema(schemaNode)
    val nameOfId: Map[Int, String] = schemaNode.get("fields").elements().asScala
      .map(f => f.get("id").asInt() -> f.get("name").asText()).toMap
    val fieldIds: Seq[Int] = schemaNode.get("fields").elements().asScala
      .map(_.get("id").asInt()).toSeq

    // the spec's name-mapping property: data parquet without embedded
    // field-ids spells columns by these names (a renamed table's files
    // keep their original spelling) — a compliant reader scans by the
    // MAPPED name and serves the schema's (possibly renamed) name
    val physOfId: Map[Int, String] =
      Option(root.get("properties"))
        .flatMap(p => Option(p.get("schema.name-mapping.default")))
        .map(_.asText()).map { j =>
          m.readTree(j).elements().asScala.flatMap { e =>
            e.get("names").elements().asScala.take(1)
              .map(n => e.get("field-id").asInt() -> n.asText())
          }.toMap
        }.getOrElse(Map.empty)
    def scanName(id: Int): String = physOfId.getOrElse(id, nameOfId(id))
    val scanSchema = StructType(schema.fields.toSeq.zip(fieldIds).map {
      case (f, id) => f.copy(name = scanName(id))
    })
    val mapped = schema.fields.toSeq.zip(fieldIds)
      .exists { case (f, id) => scanName(id) != f.name }

    if (dataFiles.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

    // group data files by their sequence number; apply equality deletes
    // with STRICTLY greater sequence and position deletes with greater-
    // OR-EQUAL sequence (the spec's two rules). Each join's delete side
    // is small, so it broadcasts. Positional identity keys on the file's
    // path relative to the layout's data dir + Spark's own row_index.
    import org.apache.spark.sql.functions.{col => fcol, regexp_replace, substring_index, url_decode}
    // both sides are URI strings but with potentially different percent-
    // encodings (java URI in the delete file, Spark's metadata column on
    // the scan): match on the ENCODED data-dir token, then DECODE both
    // to one canonical relative form ('+' is literal in URIs — escape it
    // before URLDecoder's form-decoding would eat it)
    // the token is derived from the files the manifests actually name —
    // NOT from `location` — because a shared-store layout keeps data
    // outside the tree; the common directory prefix covers flat (tree or
    // shared) and partition-nested (foreign) layouts alike
    val dataToken = {
      val dirs = (dataFiles.map(_._1) ++ posDeleteFiles.map(_._1) ++
          deleteFiles.map(_._1)).map { p =>
        val rp = Paths.get(p).toAbsolutePath.toUri.getRawPath
        rp.take(rp.lastIndexOf('/') + 1)
      }.distinct
      val common = dirs.reduce { (a, b) =>
        a.lazyZip(b).takeWhile { case (x, y) => x == y }.map(_._1).mkString }
      common.take(common.lastIndexOf('/') + 1)
    }
    def relOfUri(c: org.apache.spark.sql.Column) =
      url_decode(regexp_replace(substring_index(c, dataToken, -1), "\\+", "%2B"))
    // scans and delete-file joins run in the SCAN (mapped/physical)
    // names; the alias to the snapshot schema's names happens once at
    // the end — identical to how a field-id reader resolves
    val parts = dataFiles.groupBy(_._2).toSeq.sortBy(_._1).map { case (seq, fs) =>
      val base0 = spark.read.schema(scanSchema).parquet(fs.map(_._1).toSeq: _*)
      val posDels = posDeleteFiles.filter(_._2 >= seq)
      val afterPos =
        if (posDels.isEmpty) base0
        else {
          val dp = spark.read.parquet(posDels.map(_._1).toSeq: _*)
            .select(relOfUri(fcol("file_path")).as("__f"), fcol("pos").as("__p"))
          base0
            .withColumn("__f", relOfUri(fcol("_metadata.file_path")))
            .withColumn("__p", fcol("_metadata.row_index"))
            .join(dp, Seq("__f", "__p"), "left_anti")
            .drop("__f", "__p")
        }
      deleteFiles.filter(_._2 > seq).groupBy(_._3).foldLeft(afterPos) {
        case (acc, (eqIds, dels)) =>
          val cols = eqIds.map { id =>
            if (!nameOfId.contains(id) && !physOfId.contains(id))
              throw new IllegalStateException(
                s"equality id $id resolves to no column of schema $schemaIdUsed")
            scanName(id)
          }
          val d = spark.read.parquet(dels.map(_._1).toSeq: _*)
            .select(cols.map(org.apache.spark.sql.functions.col): _*)
          acc.join(d, cols, "left_anti")
      }
    }
    val raw = parts.reduce(_ unionByName _)
    if (!mapped) raw
    else raw.select(schema.fields.toSeq.zip(fieldIds).map { case (f, id) =>
      fcol(scanName(id)).as(f.name) }: _*)
  }

  /** The deterministic snapshot id [[exportTable]] assigns to the i-th
    * exported version (0-based) — lets a caller time-travel an export it
    * just produced without re-parsing the metadata JSON. */
  def exportedSnapshotId(i: Int): Long = snapshotId(i)

  /** GenericRecord.get THROWS on a name the writer schema lacks — a
    * foreign layout may omit optional fields entirely. */
  private[graft] def getOpt(r: GenericRecord, field: String): AnyRef =
    if (r.getSchema.getField(field) == null) null else r.get(field)

  private def anyIntOr(v: AnyRef, dflt: Int): Int = v match {
    case null => dflt
    case n: java.lang.Number => n.intValue()
    case other => other.toString.toInt
  }
  private def anyLongOr(v: AnyRef, dflt: Long): Long = v match {
    case null => dflt
    case n: java.lang.Number => n.longValue()
    case other => other.toString.toLong
  }

  private[graft] def readAvro(p: Path): Seq[GenericRecord] = {
    val r = new DataFileReader[GenericRecord](p.toFile,
      new GenericDatumReader[GenericRecord]())
    try r.iterator().asScala.toList finally r.close()
  }
}