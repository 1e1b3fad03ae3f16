package graft.service

import java.io.{BufferedInputStream, InputStream, OutputStream}
import java.net.{ServerSocket, Socket, URLDecoder}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

import graft.catalog.{GraftCatalog, IcebergExport}

/** Iceberg REST-catalog shim over a graft warehouse — the endpoint
  * surface a foreign engine's `type=rest` catalog client mounts
  * (published spec: apache/iceberg open-api/rest-catalog-open-api.yaml;
  * the reference's architecture doc assumes exactly this protocol for
  * cross-engine consumers AND for the geo commit gate's CAS semantics,
  * iceberg-arch-geo-distributed-ha.md:233-241).
  *
  * READ surface (round 11):
  *   GET  /v1/config                            -> {defaults, overrides}
  *   GET  /v1/namespaces                        -> {namespaces: [[ns]..]}
  *   GET  /v1/namespaces/{ns}                   -> {namespace, properties}
  *   GET  /v1/namespaces/{ns}/tables            -> {identifiers: [...]}
  *   GET  /v1/namespaces/{ns}/tables/{t}        -> LoadTableResult
  *   HEAD /v1/namespaces/{ns}/tables/{t}        -> 204 / 404
  *
  * WRITE surface (round 12 — the spec's commit protocol):
  *   POST /v1/namespaces/{ns}/tables            -> create table
  *   POST /v1/namespaces/{ns}/tables/{t}        -> commitTable
  *
  * commitTable maps the spec's optimistic protocol onto graft's CAS:
  * `assert-ref-snapshot-id` is checked against the SERVED export's
  * current-snapshot-id and the commit itself is anchored on the graft
  * version that export was built from ([[GraftCatalog
  * .commitLandedFiles]]'s expectedParentSeq) — a concurrent graft (or
  * REST) commit returns the spec's 409 CommitFailedException, never an
  * append on top of state the client hasn't seen. `add-snapshot`'s new
  * manifests are walked (real Avro, spec layout), the ADDED parquet
  * files are copied into the warehouse, footer-validated against the
  * table schema, and land as ONE graft version with native stats +
  * blooms. Supported update kinds: add-snapshot + set-snapshot-ref
  * (appends/MoR), set-properties / remove-properties (metadata),
  * add-schema + set-current-schema (schema evolution, round-13),
  * add-spec + set-default-spec (partition-spec evolution, round-14).
  * The server
  * NORMALIZES the commit (the spec allows this): the landed graft
  * version re-exports with a server-assigned snapshot id; the response
  * metadata is the post-commit state the client must refresh to.
  *
  * LoadTableResult serves a REAL spec-compliant metadata tree: the
  * table is exported through [[IcebergExport]] ON DEMAND, memoized by
  * head commit id — a GET after a new graft commit re-exports and
  * returns a NEW metadata-location (the snapshot the foreign engine
  * pins), while repeated GETs of an unchanged table are free. Errors
  * use the spec's ErrorModel envelope; a protocol error surfaces to
  * the caller and never kills the server (same contract as
  * TopicServer/CatalogServer). */
final class IcebergRestServer(cat: GraftCatalog, exportRoot: String,
                              port: Int = 0, bindAll: Boolean = false,
                              serveGraceMs: Long = 300000L) {
  // loopback by default: this surface is unauthenticated and WRITABLE
  // (create/drop/commit) and its commit protocol reads client-supplied
  // local file URIs — an all-interfaces bind is an explicit opt-in
  private val server = new ServerSocket(port, 50,
    if (bindAll) null else java.net.InetAddress.getLoopbackAddress)
  def boundPort: Int = server.getLocalPort
  private val mapper = new ObjectMapper()
  @volatile private var running = true
  // per-table export memo; the MEMO OBJECT is the table's export lock
  // (a multi-second Spark export must never run inside the map's
  // compute(), whose bin lock would block unrelated same-bin tables)
  private final class Memo {
    var head: String = _ // commit id the current export serves
    var seq: Long = -1L // graft version of that commit (CAS anchor)
    var loc: String = _ // metadata-location of the current export
    // superseded locations with their supersede timestamps, newest
    // first: each stays servable (tree + store refs) for serveGraceMs
    // after being superseded — a reader holding a just-served tree
    // never loses files to a concurrent re-export or store sweep. The
    // most recent superseded tree is retained regardless of age (the
    // pre-grace invariant reclaimTxnBranch-era tests pin).
    var prev: List[(String, Long)] = Nil
  }
  private val exported =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Memo]()

  private val acceptor = new Thread(() => {
    while (running) {
      try {
        val sock = server.accept()
        val t = new Thread(() => handle(sock))
        t.setDaemon(true)
        t.start()
      } catch { case e: Exception =>
        // expected when stop() closes the socket; any OTHER persistent
        // accept failure (fd exhaustion) must not hot-spin the acceptor
        if (running) {
          System.err.println(s"[iceberg-rest] accept failed: ${e.getMessage}")
          Thread.sleep(100)
        }
      }
    }
  }, "iceberg-rest-acceptor")
  acceptor.setDaemon(true)
  acceptor.start()

  def stop(): Unit = { running = false; server.close() }

  /** Typed protocol refusal: `code` + the spec ErrorModel `type`. */
  private final class RestError(val code: Int, val typ: String, msg: String)
    extends RuntimeException(msg)
  private def bad(msg: String): Nothing =
    throw new RestError(400, "BadRequestException", msg)
  private def conflict(msg: String): Nothing =
    throw new RestError(409, "CommitFailedException", msg)

  private def handle(sock: Socket): Unit = {
    try {
      val in = new BufferedInputStream(sock.getInputStream)
      def readLine(): String = {
        val sb = new StringBuilder
        var c = in.read()
        if (c == -1) return null
        while (c != -1 && c != '\n') {
          if (c != '\r') sb.append(c.toChar); c = in.read()
        }
        sb.toString
      }
      val reqLine = readLine()
      if (reqLine == null) return
      val out = sock.getOutputStream
      var contentLength: Option[Int] = Some(0)
      var l = readLine()
      while (l != null && l.nonEmpty) {
        val i = l.indexOf(':')
        if (i > 0 && l.substring(0, i).trim.equalsIgnoreCase("content-length"))
          contentLength = l.substring(i + 1).trim.toIntOption
        l = readLine()
      }
      // a malformed or hostile length replies 400/413 — never a silent
      // connection drop (the outer catch has no response channel) and
      // never an attacker-sized buffer on this thread-per-connection
      // server. 64 MiB bounds any legitimate CommitTableRequest.
      val MaxBody = 64 * 1024 * 1024
      val length = contentLength match {
        case Some(n) if n >= 0 && n <= MaxBody => n
        case Some(n) =>
          reply(out, 400, err(400, "BadRequestException",
            s"Content-Length $n exceeds the $MaxBody-byte limit")); return
        case None =>
          reply(out, 400, err(400, "BadRequestException",
            "malformed Content-Length header")); return
      }
      val body = readFully(in, length)
      val parts = reqLine.split(" ")
      val (method, rawPath) =
        (parts.headOption.getOrElse(""), parts.lift(1).getOrElse("/"))
      val rawSplit = rawPath.split("\\?", 2)
      val path = rawSplit(0).split("/").filter(_.nonEmpty)
        .map(URLDecoder.decode(_, UTF_8)).toSeq
      val query: Map[String, String] = rawSplit.lift(1).toSeq
        .flatMap(_.split("&")).flatMap { kv =>
          kv.split("=", 2) match {
            case Array(k, v) =>
              Some(URLDecoder.decode(k, UTF_8) -> URLDecoder.decode(v, UTF_8))
            case _ => None
          }
        }.toMap
      try route(method, path, new String(body, UTF_8), query, out)
      catch {
        case e: RestError => reply(out, e.code, err(e.code, e.typ, e.getMessage))
        case e: Exception =>
          reply(out, 500, err(500, "InternalServerError",
            Option(e.getMessage).getOrElse(e.getClass.getName)))
      }
    } catch { case _: Exception => () }
    finally { try sock.close() catch { case _: Exception => () } }
  }

  private def readFully(in: InputStream, n: Int): Array[Byte] = {
    val buf = new Array[Byte](n)
    var off = 0
    while (off < n) {
      val r = in.read(buf, off, n - off)
      if (r < 0) throw new java.io.EOFException("truncated request body")
      off += r
    }
    buf
  }

  /** Uniform identifier gate for EVERY route that carries a namespace
    * or table segment. URL decoding happens per-segment AFTER path
    * splitting, so a '%2F'-encoded separator or a '..' segment reaches
    * here intact — without this check it would flow into Paths.get and
    * resolve OUTSIDE the warehouse (create/drop/commit are writable).
    * Same rules the catalog enforces: non-empty, no separators, no
    * leading '.'/'_' (covers '..' and plumbing dirs). */
  private def requireIdent(s: String, kind: String): Unit =
    if (s.isEmpty || s.startsWith(".") || s.startsWith("_") ||
        s.exists(c => c == '/' || c == '\\'))
      bad(s"invalid $kind '$s'")

  private def route(method: String, path: Seq[String], body: String,
                    query: Map[String, String], out: OutputStream): Unit = {
    path.toList match {
      case "v1" :: "namespaces" :: ns :: rest =>
        requireIdent(ns, "namespace")
        rest match {
          case "tables" :: t :: _ => requireIdent(t, "table identifier")
          case "views" :: v :: _ => requireIdent(v, "view identifier")
          case _ => ()
        }
      case _ => ()
    }
    (method, path.toList) match {
      case ("GET", "v1" :: "config" :: Nil) =>
        reply(out, 200, """{"defaults":{},"overrides":{}}""")
      case ("GET", "v1" :: "namespaces" :: Nil) =>
        val nss = namespaces().map(n => s"""["${esc(n)}"]""")
        reply(out, 200, s"""{"namespaces":[${nss.mkString(",")}]}""")
      case ("GET", "v1" :: "namespaces" :: ns :: Nil) =>
        if (!namespaces().contains(ns))
          reply(out, 404, err(404, "NoSuchNamespaceException", s"namespace $ns"))
        else reply(out, 200, s"""{"namespace":["${esc(ns)}"],""" +
          s""""properties":{"location":"${esc(
            Paths.get(cat.warehouse, ns).toString)}"}}""")
      case ("GET", "v1" :: "namespaces" :: ns :: "tables" :: Nil) =>
        // spec: listing a MISSING namespace is NoSuchNamespaceException,
        // never an empty page (a client cannot tell empty from absent)
        if (!namespaces().contains(ns))
          reply(out, 404, err(404, "NoSuchNamespaceException", s"namespace $ns"))
        else reply(out, 200, pagedIdentifiers(ns, cat.listTables(ns), query))
      case ("HEAD", "v1" :: "namespaces" :: ns :: "tables" :: t :: Nil) =>
        if (cat.tableExists(ns, t)) replyHead(out, 204) else replyHead(out, 404)
      case ("GET", "v1" :: "namespaces" :: ns :: "tables" :: t :: Nil) =>
        if (!cat.tableExists(ns, t))
          reply(out, 404, err(404, "NoSuchTableException", s"table $ns.$t"))
        else reply(out, 200, loadTableResult(ns, t))
      case ("POST", "v1" :: "namespaces" :: Nil) =>
        createNamespace(body, out)
      case ("DELETE", "v1" :: "namespaces" :: ns :: Nil) =>
        if (!namespaces().contains(ns))
          reply(out, 404, err(404, "NoSuchNamespaceException", s"namespace $ns"))
        else if (cat.listTables(ns).nonEmpty)
          reply(out, 409, err(409, "NamespaceNotEmptyException",
            s"namespace $ns holds tables"))
        else {
          deleteTree(Paths.get(cat.warehouse, ns))
          replyHead(out, 204)
        }
      case ("POST", "v1" :: "namespaces" :: ns :: "tables" :: Nil) =>
        createTable(ns, body, out)
      case ("DELETE", "v1" :: "namespaces" :: ns :: "tables" :: t :: Nil) =>
        if (!cat.tableExists(ns, t))
          reply(out, 404, err(404, "NoSuchTableException", s"table $ns.$t"))
        else {
          cat.dropTable(ns, t)
          // reclaim the serving memo + any export trees the table owned
          // — UNDER the memo lock (an in-flight servedExport holds it;
          // reading loc/prev bare would tear down dirs under its feet)
          Option(exported.remove((ns, t))).foreach { m =>
            m.synchronized {
              (Option(m.loc) ++ m.prev.map(_._1)).foreach(l =>
                deleteTree(Paths.get(l).getParent.getParent))
              // the shared store is table-scoped — dropped with the table
              deleteTree(sharedStoreDir(ns, t))
              m.loc = null; m.prev = Nil; m.head = null
            }
          }
          replyHead(out, 204)
        }
      case ("POST", "v1" :: "namespaces" :: ns :: "tables" :: t :: Nil) =>
        commitTable(ns, t, body, out)
      case ("POST", "v1" :: "transactions" :: "commit" :: Nil) =>
        commitTransactionRoute(body, out)
      case ("POST", "v1" :: "transactions" :: "consistent-cut" :: Nil) =>
        consistentCutRoute(body, out)
      // ---- view read surface (spec view API, round-14) ----
      case ("GET", "v1" :: "namespaces" :: ns :: "views" :: Nil) =>
        if (!namespaces().contains(ns))
          reply(out, 404, err(404, "NoSuchNamespaceException", s"namespace $ns"))
        else reply(out, 200, pagedIdentifiers(ns, cat.listViews(ns), query))
      case ("HEAD", "v1" :: "namespaces" :: ns :: "views" :: v :: Nil) =>
        if (cat.viewExists(ns, v)) replyHead(out, 204) else replyHead(out, 404)
      case ("GET", "v1" :: "namespaces" :: ns :: "views" :: v :: Nil) =>
        if (!cat.viewExists(ns, v))
          reply(out, 404, err(404, "NoSuchViewException", s"view $ns.$v"))
        else reply(out, 200, loadViewResult(ns, v))
      case _ =>
        reply(out, 404, err(404, "NotFoundException",
          s"$method /${path.mkString("/")}"))
    }
  }

  /** Spec CreateNamespaceRequest — single-level namespaces (the graft
    * warehouse model); the namespace is a warehouse directory. */
  private def createNamespace(body: String, out: OutputStream): Unit = {
    val req = parseJson(body)
    val levels = Option(req.get("namespace")).toSeq
      .flatMap(_.elements().asScala).map(_.asText()).toList
    levels match {
      case ns :: Nil =>
        // same identifier rules the catalog enforces — notably NO path
        // separators: 'x/../../evil' would otherwise createDirectories
        // OUTSIDE the warehouse (remote path traversal)
        if (ns.isEmpty || ns.startsWith(".") || ns.startsWith("_") ||
            ns.exists(c => c == '/' || c == '\\'))
          bad(s"invalid namespace '$ns'")
        if (namespaces().contains(ns))
          throw new RestError(409, "AlreadyExistsException", s"namespace $ns")
        Files.createDirectories(Paths.get(cat.warehouse, ns)): Unit
        reply(out, 200,
          s"""{"namespace":["${esc(ns)}"],"properties":{}}""")
      case other => bad(s"graft serves single-level namespaces, got " +
        s"[${other.mkString(", ")}]")
    }
  }

  // ---- create (spec CreateTableRequest -> graft CREATE + empty v0) ----

  private def createTable(ns: String, body: String, out: OutputStream): Unit = {
    if (!namespaces().contains(ns))
      return reply(out, 404, err(404, "NoSuchNamespaceException", s"namespace $ns"))
    val req = parseJson(body)
    val name = Option(req.get("name")).map(_.asText()).filter(_.nonEmpty)
      .getOrElse(bad("CreateTableRequest.name is required"))
    if (Option(req.get("stage-create")).exists(_.asBoolean(false)))
      bad("stage-create (transactional create) is not supported — create, " +
        "then commit")
    if (cat.tableExists(ns, name))
      throw new RestError(409, "AlreadyExistsException", s"table $ns.$name")
    val schemaNode = Option(req.get("schema"))
      .getOrElse(bad("CreateTableRequest.schema is required"))
    val schema: StructType =
      try IcebergExport.sparkSchema(schemaNode)
      catch { case e: Exception => bad(s"unsupported schema: ${e.getMessage}") }
    // top-level field-id -> name (partition sources must be top-level)
    val idName: Map[Int, String] = schemaNode.get("fields").elements().asScala
      .map(f => f.get("id").asInt() -> f.get("name").asText()).toMap
    val specFields: Seq[GraftCatalog.PartitionField] =
      Option(req.get("partition-spec")).map(_.get("fields")).filter(_ != null)
        .toSeq.flatMap(_.elements().asScala).map { f =>
          val src = idName.getOrElse(f.get("source-id").asInt(),
            bad(s"partition field ${f.get("name")} names source-id " +
              s"${f.get("source-id")} which is not a top-level column"))
          parseTransform(f.get("transform").asText(), src)
        }
    val userProps: Map[String, String] =
      Option(req.get("properties")).toSeq.flatMap(_.fields().asScala)
        .map(e => e.getKey -> e.getValue.asText()).toMap
    if (userProps.contains(GraftCatalog.PartitionSpecProp))
      bad(s"declare partitioning via partition-spec, not the " +
        s"${GraftCatalog.PartitionSpecProp} property")
    val allProps = userProps ++ (if (specFields.isEmpty) Map.empty
      else Map(GraftCatalog.PartitionSpecProp ->
        GraftCatalog.partitionSpecJson(specFields)))
    // transform/type legality refuses HERE (400), not at first commit
    try GraftCatalog.validatedPartitionSpec(s"$ns.$name", allProps,
      Some(schema)): Unit
    catch { case e: Exception => bad(e.getMessage) }
    cat.createTable(ns, name)
    // empty v0 carrying schema AND spec/properties in ONE snapshot: a
    // crash after a schema-only v0 would leave a created-but-
    // unpartitioned table the retrying client cannot repair (its retry
    // gets 409 AlreadyExists) and whose writes would silently cluster
    // nothing. The in-process cleanup below covers in-process failures.
    try cat.commitReplace(ns, name, cat.spark.createDataFrame(
        cat.spark.sparkContext.emptyRDD[Row], schema),
      sourceRegion = "rest", propsSet = allProps): Unit
    catch { case e: Throwable =>
      try cat.dropTable(ns, name) catch { case _: Exception => () }
      throw e
    }
    reply(out, 200, loadTableResult(ns, name))
  }

  private def parseTransform(t: String, src: String): GraftCatalog.PartitionField = {
    val Bucket = """bucket\[(\d+)\]""".r
    val Trunc = """truncate\[(\d+)\]""".r
    t match {
      case "identity" => GraftCatalog.PartitionField("identity", src)
      case "year" | "month" | "day" | "hour" =>
        GraftCatalog.PartitionField(t, src)
      case Bucket(n) => GraftCatalog.PartitionField("bucket", src, n.toInt)
      case Trunc(w) => GraftCatalog.PartitionField("truncate", src, w.toInt)
      case other => bad(s"unsupported partition transform '$other'")
    }
  }

  // ---- commit (spec CommitTableRequest -> conditional graft commit) ----

  /** Spec multi-table transaction (`POST /v1/transactions/commit`): each
    * table-change's requirements are judged against that table's served
    * export, its add-snapshot files land and STAGE on an internal
    * branch, and [[GraftCatalog.commitTransaction]] publishes every
    * branch through ONE atomic commit point — all tables land or none
    * (204 on success; a moved table is the spec's 409 with nothing
    * applied anywhere). Scope per table-change: one add-snapshot
    * (+set-snapshot-ref) carrying data appends AND/OR merge-on-read
    * deletes (upserts stage via the branch-targeted MoR commit), or
    * set-properties/remove-properties (staged on the branch, adopted at
    * publish); schema/partition-spec evolution stays single-table. */
  private def commitTransactionRoute(body: String, out: OutputStream): Unit = {
    val req = parseJson(body)
    val changes = Option(req.get("table-changes")).toSeq
      .flatMap(_.elements().asScala).toSeq
    if (changes.isEmpty) bad("transaction carries no table-changes")
    val txnId = s"rest-${java.util.UUID.randomUUID().toString.replace("-", "").take(16)}"
    val parts = scala.collection.mutable.ArrayBuffer.empty[(String, String, String)]
    def reclaim(): Unit = parts.foreach { case (pns, pt, br) =>
      reclaimTxnBranch(pns, pt, br) }
    try {
      changes.foreach { ch =>
        val ident = Option(ch.get("identifier")).getOrElse(
          bad("each table-change requires an identifier"))
        val nsSegs = Option(ident.get("namespace")).toSeq
          .flatMap(_.elements().asScala).map(_.asText()).toSeq
        if (nsSegs.size != 1) bad("single-level namespaces only")
        val (ns, t) = (nsSegs.head, Option(ident.get("name")).map(_.asText())
          .getOrElse(bad("table-change identifier carries no name")))
        // body-carried identifiers never went through the route gate —
        // same traversal rules apply before anything touches Paths.get
        requireIdent(ns, "namespace")
        requireIdent(t, "table identifier")
        if (!cat.tableExists(ns, t))
          throw new RestError(404, "NoSuchTableException", s"table $ns.$t")
        if (parts.exists(p => p._1 == ns && p._2 == t))
          bad("a transaction names each table at most once")
        val (loc, servedSeq) = servedExport(ns, t)
        val meta = mapper.readTree(Files.readAllBytes(Paths.get(loc)))
        val currentSnapId = Option(meta.get("current-snapshot-id"))
          .map(_.asLong(-1L)).filter(_ >= 0)
        validateRequirements(ns, t, meta, currentSnapId,
          Option(ch.get("requirements")).toSeq
            .flatMap(_.elements().asScala).toSeq)
        var addSnap: Option[JsonNode] = None
        var setProps = Map.empty[String, String]
        var unsetProps = Seq.empty[String]
        Option(ch.get("updates")).toSeq.flatMap(_.elements().asScala)
          .foreach { u =>
            u.get("action").asText() match {
              case "add-snapshot" =>
                if (addSnap.nonEmpty)
                  bad("at most one add-snapshot per table-change")
                addSnap = Some(u.get("snapshot"))
              case "set-snapshot-ref" =>
                val refName = Option(u.get("ref-name")).map(_.asText())
                  .getOrElse("main")
                if (refName != "main")
                  bad(s"only the main branch accepts commits, got '$refName'")
              case "set-properties" =>
                setProps ++= u.get("updates").fields().asScala
                  .map(e => e.getKey -> e.getValue.asText())
              case "remove-properties" =>
                unsetProps ++= u.get("removals").elements().asScala
                  .map(_.asText())
              case other =>
                bad("transactional table-changes support add-snapshot " +
                  "(+set-snapshot-ref, data and merge-on-read deletes) " +
                  s"and table properties, got '$other' — commit schema/" +
                  "spec evolution as single-table commits")
            }
          }
        // same refusal discipline as the single-table route: one part is
        // ONE kind of change (a snapshot or a property set, not both)
        if (addSnap.nonEmpty && (setProps.nonEmpty || unsetProps.nonEmpty))
          bad(s"table-change for $ns.$t mixes add-snapshot with property " +
            "updates — split them into two transactions (or two parts " +
            "on different tables)")
        if (addSnap.isEmpty && setProps.isEmpty && unsetProps.isEmpty)
          bad(s"table-change for $ns.$t carries no supported updates")
        val branch = s"txn-$txnId"
        cat.createBranch(ns, t, branch)
        parts += ((ns, t, branch))
        // the staged branch must FORK at the state the requirements were
        // judged against — a local commit racing the window between
        // servedExport and createBranch is the spec's 409 (the
        // single-table path's expectedParentSeq guard, transactional
        // form; commitTransaction's fork check then holds it to publish)
        val (forkSeq, _) = cat.branchFork(ns, t, branch)
        if (forkSeq != servedSeq)
          conflict(s"table $ns.$t moved to v$forkSeq while the " +
            s"transaction was judged against v$servedSeq — reload and retry")
        addSnap match {
          case Some(snap) =>
            commitSnapshot(ns, t, snap, meta, servedSeq, loc,
              stageToBranch = Some(branch))
          case None =>
            try cat.commitProperties(ns, t, setProps, unsetProps,
              toBranch = Some(branch)): Unit
            catch {
              case e: IllegalArgumentException => bad(e.getMessage)
              case e: IllegalStateException => bad(e.getMessage)
            }
        }
      }
      try cat.commitTransaction(
        parts.toSeq.map { case (pns, pt, br) => cat.TxnPart(pns, pt, br) },
        txnId = txnId): Unit
      catch {
        case e: GraftCatalog.MergeConflictException =>
          reclaim(); conflict(e.getMessage)
        case e: IllegalArgumentException => reclaim(); bad(e.getMessage)
        case e: IllegalStateException => reclaim(); bad(e.getMessage)
      }
      replyHead(out, 204)
    } catch {
      case e: Throwable =>
        // ANY failure mid-staging (spec refusal, landing IO error,
        // catalog require) reclaims every internal branch and its
        // landed files — a foreign client cannot see or clean them
        reclaim()
        throw e
    }
  }

  /** Read-side dual of /v1/transactions/commit (graft extension,
    * round-15): `POST /v1/transactions/consistent-cut` pins a SET of
    * tables on a cut that never splits a multi-table transaction —
    * [[GraftCatalog.snapshotConsistent]]'s barrier-aware stable-heads
    * read, then each pinned table served as a spec metadata tree at
    * exactly that version (retry when a commit lands between the pin
    * and the serve; a storm that keeps moving the heads is a 409).
    * Response: `{"tables":[{"identifier":…,"metadata-location":…,
    * "sequence-number":N}]}`. Served locations live in the table's
    * serving window (the current tree plus one superseded per table) —
    * a consumer holding a cut across further commits must copy the
    * trees it needs. */
  private def consistentCutRoute(body: String, out: OutputStream): Unit = {
    val req = parseJson(body)
    val idents = Option(req.get("tables")).toSeq
      .flatMap(_.elements().asScala).toSeq
    if (idents.isEmpty) bad("consistent-cut names no tables")
    val tables = idents.map { id =>
      val nsSegs = Option(id.get("namespace")).toSeq
        .flatMap(_.elements().asScala).map(_.asText()).toSeq
      if (nsSegs.size != 1) bad("single-level namespaces only")
      val t = Option(id.get("name")).map(_.asText())
        .getOrElse(bad("identifier carries no name"))
      requireIdent(nsSegs.head, "namespace")
      requireIdent(t, "table identifier")
      if (!cat.tableExists(nsSegs.head, t))
        throw new RestError(404, "NoSuchTableException", s"table ${nsSegs.head}.$t")
      if (cat.latest(nsSegs.head, t).isEmpty)
        bad(s"cannot pin empty table ${nsSegs.head}.$t in a consistent cut")
      (nsSegs.head, t)
    }
    if (tables.distinct.size != tables.size)
      bad("a cut names each table at most once")
    var attempt = 0
    while (attempt < 8) {
      val cut =
        try cat.snapshotConsistent(tables)
        catch { case e: IllegalStateException => conflict(e.getMessage) }
      // serve each table and require the served head to BE the pinned
      // version — a commit in the pin-to-serve window retries
      val served = tables.map { case (ns, t) => servedExport(ns, t) }
      if (served.map(_._2) == cut.map(_.seq)) {
        val o = mapper.createObjectNode()
        val arr = o.putArray("tables")
        tables.zip(cut).zip(served).foreach {
          case (((ns, t), snap), (loc, _)) =>
            val e = arr.addObject()
            val ident = e.putObject("identifier")
            ident.putArray("namespace").add(ns): Unit
            ident.put("name", t): Unit
            e.put("metadata-location", Paths.get(loc).toUri.toString): Unit
            e.put("sequence-number", snap.seq): Unit
        }
        return reply(out, 200, mapper.writeValueAsString(o))
      }
      attempt += 1
    }
    conflict(s"no stable served cut across ${tables.map { case (n, t) =>
      s"$n.$t" }.mkString(", ")} — heads kept moving; retry")
  }

  /** Reclaim an internal transaction branch: the files and manifests its
    * commits added beyond the fork, then the branch itself. Best-effort
    * (idempotent deletes); only ever called on branches this server
    * created, never on user branches. */
  private def reclaimTxnBranch(ns: String, t: String, branch: String): Unit = {
    try {
      val head = cat.branchHead(ns, t, branch)
      val (forkSeq, _) = cat.branchFork(ns, t, branch)
      // Only subtract against a fork snapshot that actually resolved: if a
      // concurrent expire_snapshots removed the fork point, forkFiles would
      // be empty and the subtraction below would delete every file reachable
      // from the branch head — including main's live history. In that case
      // drop only the branch ref and leave file reclaim to the GC planner
      // (reachability-based, so the orphaned txn files are still collected).
      cat.snapshots(ns, t).find(_.seq == forkSeq).foreach { forkSnap =>
        // data AND delete files: a MoR-shaped part staged equality /
        // position delete parquet beyond the fork too
        def files(s: cat.Snapshot): Set[String] =
          (cat.dataFiles(ns, t, s) ++
            cat.deleteFileEntries(ns, t, s).map(_._1)).toSet
        val forkFiles = files(forkSnap)
        val forkManifests = forkSnap.manifests.toSet
        val root = Paths.get(cat.warehouse, ns, t)
        files(head).filterNot(forkFiles)
          .foreach(f => Files.deleteIfExists(root.resolve(f)): Unit)
        head.manifests.filterNot(forkManifests)
          .foreach(m => Files.deleteIfExists(root.resolve(m)): Unit)
      }
    } catch { case _: Throwable => () }
    try cat.dropBranch(ns, t, branch) catch { case _: Throwable => () }
  }

  /** Spec commit requirements, judged against the SERVED export's
    * metadata — shared by the single-table commit and the transaction
    * endpoint (each table-change carries its own requirement list). */
  private def validateRequirements(ns: String, t: String, meta: JsonNode,
                                   currentSnapId: Option[Long],
                                   reqs: Seq[JsonNode]): Unit =
    reqs.foreach { r =>
      r.get("type").asText() match {
        case "assert-create" =>
          conflict(s"table $ns.$t already exists")
        case "assert-table-uuid" =>
          val want = r.get("uuid").asText()
          val have = meta.get("table-uuid").asText()
          if (want != have)
            conflict(s"table uuid changed: expected $want, found $have")
        case "assert-current-schema-id" =>
          val want = r.get("current-schema-id").asInt()
          val have = Option(meta.get("current-schema-id"))
            .map(_.asInt()).getOrElse(0)
          if (want != have)
            conflict(s"current schema changed: expected $want, found $have")
        case "assert-default-spec-id" =>
          val want = r.get("default-spec-id").asInt()
          val have = Option(meta.get("default-spec-id"))
            .map(_.asInt()).getOrElse(0)
          if (want != have)
            conflict(s"default partition spec changed: expected $want, " +
              s"found $have")
        case "assert-ref-snapshot-id" =>
          val ref = Option(r.get("ref")).map(_.asText()).getOrElse("main")
          if (ref != "main")
            bad(s"only the main branch is served over REST, got ref '$ref'")
          val want = Option(r.get("snapshot-id")).filterNot(_.isNull)
            .map(_.asLong())
          if (want != currentSnapId)
            conflict(s"branch main: expected snapshot " +
              s"${want.getOrElse("<absent>")}, found " +
              s"${currentSnapId.getOrElse("<absent>")}")
        case other => bad(s"unsupported requirement type '$other'")
      }
    }

  private def commitTable(ns: String, t: String, body: String,
                          out: OutputStream): Unit = {
    if (!cat.tableExists(ns, t))
      return reply(out, 404, err(404, "NoSuchTableException", s"table $ns.$t"))
    val req = parseJson(body)
    // the export the requirements are judged against — refreshed to the
    // CURRENT graft head (memo hit when unchanged); its seq anchors the
    // conditional commit below, closing the check-then-commit window
    val (loc, servedSeq) = servedExport(ns, t)
    val meta = mapper.readTree(Files.readAllBytes(Paths.get(loc)))
    val currentSnapId = Option(meta.get("current-snapshot-id"))
      .map(_.asLong(-1L)).filter(_ >= 0)

    validateRequirements(ns, t, meta, currentSnapId,
      Option(req.get("requirements")).toSeq.flatMap(_.elements().asScala).toSeq)

    var setProps = Map.empty[String, String]
    var unsetProps = Seq.empty[String]
    var addSnapshots = Seq.empty[JsonNode]
    var setRefs = Seq.empty[JsonNode]
    var addSchemas = Seq.empty[JsonNode]
    var setCurrentSchemaIds = Seq.empty[Int]
    var addSpecs = Seq.empty[JsonNode]
    var setDefaultSpecIds = Seq.empty[Int]
    Option(req.get("updates")).toSeq.flatMap(_.elements().asScala).foreach { u =>
      u.get("action").asText() match {
        case "add-snapshot" => addSnapshots :+= u.get("snapshot")
        case "set-snapshot-ref" => setRefs :+= u
        case "set-properties" =>
          setProps ++= u.get("updates").fields().asScala
            .map(e => e.getKey -> e.getValue.asText())
        case "remove-properties" =>
          unsetProps ++= u.get("removals").elements().asScala.map(_.asText())
        case "add-schema" =>
          addSchemas :+= Option(u.get("schema"))
            .getOrElse(bad("add-schema carries no schema"))
        case "set-current-schema" =>
          setCurrentSchemaIds :+= Option(u.get("schema-id"))
            .map(_.asInt()).getOrElse(-1)
        case "add-spec" =>
          addSpecs :+= Option(u.get("spec"))
            .getOrElse(bad("add-spec carries no spec"))
        case "set-default-spec" =>
          setDefaultSpecIds :+= Option(u.get("spec-id"))
            .map(_.asInt()).getOrElse(-1)
        case other => bad(s"unsupported update action '$other' — this shim " +
          "commits appends (add-snapshot + set-snapshot-ref), table " +
          "properties, schema evolution (add-schema + set-current-" +
          "schema), and partition-spec evolution (add-spec + " +
          "set-default-spec)")
      }
    }
    if (addSnapshots.size > 1) bad("at most one add-snapshot per commit")
    setRefs.foreach { sr =>
      val refName = Option(sr.get("ref-name")).map(_.asText()).getOrElse("main")
      if (refName != "main") bad(s"only the main branch accepts commits, " +
        s"got ref '$refName'")
      val sid = sr.get("snapshot-id").asLong()
      if (addSnapshots.isEmpty)
        bad("set-snapshot-ref without add-snapshot (rollback over REST) " +
          "is not supported — use graft rollbackTo")
      val added = addSnapshots.head.get("snapshot-id").asLong()
      if (sid != added)
        bad(s"set-snapshot-ref names snapshot $sid but the commit adds $added")
    }
    if (addSchemas.size > 1) bad("at most one add-schema per commit")
    if (setCurrentSchemaIds.nonEmpty && addSchemas.isEmpty)
      bad("set-current-schema without add-schema (rolling back to an " +
        "old schema over REST) is not supported")
    // refuse-loud, not silently-different: the spec lets a client STAGE
    // a schema (add-schema alone, current unchanged); this shim has no
    // staged-schema store, and applying it as current would change
    // semantics the client never asked for
    if (addSchemas.nonEmpty && setCurrentSchemaIds.isEmpty)
      bad("add-schema without set-current-schema (staging a schema) is " +
        "not supported — commit both updates together")
    setCurrentSchemaIds.foreach { sid =>
      val addedId = Option(addSchemas.head.get("schema-id")).map(_.asInt())
      if (sid != -1 && !addedId.contains(sid))
        bad(s"set-current-schema names schema-id $sid but the commit " +
          s"adds ${addedId.getOrElse(-1)} (-1 = last added)")
    }
    // same refusal discipline as add-schema: no staged-spec store, no
    // set-default to a spec this commit did not add (spec rollback)
    if (addSpecs.size > 1) bad("at most one add-spec per commit")
    if (setDefaultSpecIds.nonEmpty && addSpecs.isEmpty)
      bad("set-default-spec without add-spec (switching back to an old " +
        "spec over REST) is not supported")
    if (addSpecs.nonEmpty && setDefaultSpecIds.isEmpty)
      bad("add-spec without set-default-spec (staging a spec) is not " +
        "supported — commit both updates together")
    setDefaultSpecIds.foreach { sid =>
      val addedId = Option(addSpecs.head.get("spec-id")).map(_.asInt())
      if (sid != -1 && !addedId.contains(sid))
        bad(s"set-default-spec names spec-id $sid but the commit adds " +
          s"${addedId.getOrElse(-1)} (-1 = last added)")
    }
    val kinds = Seq(addSnapshots.nonEmpty,
      setProps.nonEmpty || unsetProps.nonEmpty, addSchemas.nonEmpty,
      addSpecs.nonEmpty)
    if (kinds.count(identity) > 1)
      bad("mixed snapshot / property / schema / partition-spec commits " +
        "are not supported — commit them separately")
    if (!kinds.exists(identity))
      bad("commit carries no supported updates")

    addSnapshots.headOption match {
      case Some(snap) => commitSnapshot(ns, t, snap, meta, servedSeq, loc)
      case None if addSchemas.nonEmpty =>
        commitSchemaChange(ns, t, addSchemas.head, servedSeq)
      case None if addSpecs.nonEmpty =>
        commitSpecChange(ns, t, addSpecs.head, meta, servedSeq)
      case None =>
        // anchored on the SAME served version the requirements were
        // judged against — a concurrent commit in the check-then-commit
        // window is the spec's 409, never silent last-writer-wins (the
        // set may carry graft.partition-spec, whose new value encodes
        // the prior map)
        try cat.commitProperties(ns, t, setProps, unsetProps,
          expectedParentSeq = Some(servedSeq).filter(_ >= 0)): Unit
        catch {
          case e: java.util.ConcurrentModificationException =>
            conflict(e.getMessage)
          case e: IllegalArgumentException => bad(e.getMessage)
          case e: IllegalStateException => bad(e.getMessage)
        }
    }
    reply(out, 200, loadTableResult(ns, t))
  }

  /** Spec schema evolution (add-schema + set-current-schema) mapped
    * onto graft's ALTER-grade schema commit: adds read as null from
    * pre-evolution files, drops leave the read schema, type changes
    * must follow the promotion lattice — the same rules
    * [[GraftCatalog.commitSchemaEvolution]] enforces, CAS-anchored on
    * the schema of the SERVED version (a concurrent schema change is
    * the spec's 409; interleaved DATA commits don't abort — they leave
    * the schema untouched, which is exactly what expectedPrev checks).
    * Refused on column-mapped (renamed) tables: the foreign schema
    * spells LOGICAL names, so a renamed column would pair as drop+add
    * and silently null out its data. */
  private def commitSchemaChange(ns: String, t: String, schemaNode: JsonNode,
                                 servedSeq: Long): Unit = {
    val newSchema: StructType =
      try IcebergExport.sparkSchema(schemaNode)
      catch { case e: Exception => bad(s"unsupported schema: ${e.getMessage}") }
    if (servedSeq < 0)
      bad(s"$ns.$t has no committed version — nothing to evolve")
    val servedSnap = cat.snapshots(ns, t).find(_.seq == servedSeq)
      .getOrElse(bad(s"served version v$servedSeq of $ns.$t is gone — " +
        "refresh and retry"))
    val prev = servedSnap.schemaJson
      .map(org.apache.spark.sql.types.DataType.fromJson(_)
        .asInstanceOf[StructType])
      .getOrElse(bad(s"$ns.$t records no schema to evolve"))
    val pm = GraftCatalog.physicalMap(prev)
    if (pm.exists { case (l, p) => l != p })
      bad(s"$ns.$t carries renamed (column-mapped) columns — a foreign " +
        "schema spells logical names and would pair the renamed column " +
        "as drop+add, silently nulling its data; evolve through graft " +
        "ALTER instead")
    // fields that pair by name keep their graft-side metadata (column
    // comments) — the foreign schema has no doc strings and must not
    // silently strip them
    val aligned = StructType(newSchema.fields.map { f =>
      prev.fields.find(_.name == f.name) match {
        case Some(pf) => f.copy(metadata = pf.metadata)
        case None => f
      }
    })
    try cat.commitSchemaEvolution(ns, t, aligned,
      expectedPrev = Some(prev)): Unit
    catch {
      case e: java.util.ConcurrentModificationException => conflict(e.getMessage)
      case e: IllegalArgumentException =>
        // expectedPrev mismatch surfaces as require(...) — the spec's
        // commit conflict, not a bad request
        if (e.getMessage != null && e.getMessage.contains("concurrent schema"))
          conflict(e.getMessage)
        else bad(e.getMessage)
      case e: IllegalStateException => bad(e.getMessage)
    }
  }

  /** Spec partition evolution (add-spec + set-default-spec, round-14)
    * mapped onto graft's validated spec-evolution commit — the same
    * property commit ALTER TABLE ... ADD/DROP/REPLACE PARTITION FIELD
    * is sugar for ([[graft.catalog.GraftCatalog.PartitionSpecProp]]):
    * committed files keep their recorded layout, new writes cluster by
    * the new spec, per-version spec resolution at read — exactly
    * Iceberg's spec-evolution model, which treats spec changes as
    * ordinary catalog commits. The spec's source-ids resolve against
    * the SERVED metadata's current schema (the only field-id space the
    * foreign client ever saw); transform/type legality is validated by
    * the catalog's property commit, CAS-anchored on the served version
    * (a concurrent commit is the spec's 409). An EMPTY field list
    * removes the partitioning (unsets the property). */
  private def commitSpecChange(ns: String, t: String, specNode: JsonNode,
                               servedMeta: JsonNode, servedSeq: Long): Unit = {
    if (servedSeq < 0)
      bad(s"$ns.$t has no committed version — nothing to evolve")
    val curSchemaId = Option(servedMeta.get("current-schema-id"))
      .map(_.asInt()).getOrElse(0)
    val idName: Map[Int, String] =
      Option(servedMeta.get("schemas")).toSeq.flatMap(_.elements().asScala)
        .find(s => Option(s.get("schema-id")).exists(_.asInt() == curSchemaId))
        .toSeq.flatMap(s => Option(s.get("fields")).toSeq
          .flatMap(_.elements().asScala))
        .map(f => f.get("id").asInt() -> f.get("name").asText()).toMap
    val fields: Seq[GraftCatalog.PartitionField] =
      Option(specNode.get("fields")).toSeq.flatMap(_.elements().asScala)
        .map { f =>
          val sid = Option(f.get("source-id")).map(_.asInt())
            .getOrElse(bad(s"partition field ${f.get("name")} carries no " +
              "source-id"))
          val src = idName.getOrElse(sid,
            bad(s"partition field ${f.get("name")} names source-id $sid " +
              "which is not a top-level column of the current schema"))
          parseTransform(Option(f.get("transform")).map(_.asText())
            .getOrElse(bad(s"partition field ${f.get("name")} carries no " +
              "transform")), src)
        }.toSeq
    try {
      if (fields.isEmpty)
        cat.commitProperties(ns, t, Map.empty,
          unset = Seq(GraftCatalog.PartitionSpecProp),
          expectedParentSeq = Some(servedSeq)): Unit
      else
        cat.commitProperties(ns, t,
          Map(GraftCatalog.PartitionSpecProp ->
            GraftCatalog.partitionSpecJson(fields)),
          expectedParentSeq = Some(servedSeq)): Unit
    } catch {
      case e: java.util.ConcurrentModificationException => conflict(e.getMessage)
      case e: IllegalArgumentException => bad(e.getMessage)
      case e: IllegalStateException => bad(e.getMessage)
    }
  }

  /** Walk the client's snapshot (manifest-list avro -> NEW manifest
    * avros -> ADDED parquet), copy the files into the warehouse,
    * footer-validate, and land them as one conditional graft commit.
    *
    * The surface is MoR-SYMMETRIC: delete manifests (content=1) commit
    * alongside data manifests. Equality-delete files (data_file
    * content=2) land as graft `d-` content after the same footer
    * validation (their columns must be table columns and must match
    * any existing delete set); position-delete files (content=1) are
    * READ, their `file_path` values — which name the SERVED export's
    * flat data-file URIs, the only spelling the foreign client ever
    * saw — are remapped to graft's table-relative paths, and land as
    * `p-` content. Unknown paths refuse with 400 (a stale position set
    * silently erasing nothing is how audit replays rot); liveness is
    * re-checked inside the commit's CAS. An upsert (data + deletes) is
    * ONE snapshot with deletes ordered before the new data, so the
    * landing rows outlive their own key-purge — exactly
    * [[GraftCatalog.commitUpsert]]'s rule. */
  private def commitSnapshot(ns: String, t: String, snap: JsonNode,
                             servedMeta: JsonNode, servedSeq: Long,
                             servedLoc: String,
                             stageToBranch: Option[String] = None): Unit = {
    val snapId = snap.get("snapshot-id").asLong()
    val listUri = Option(snap.get("manifest-list")).map(_.asText())
      .getOrElse(bad("add-snapshot.snapshot.manifest-list is required"))
    // manifests already serving the CURRENT snapshot are the export's
    // own — only manifests beyond that set carry this commit's files
    val priorManifests: Set[String] =
      Option(servedMeta.get("current-snapshot-id")).map(_.asLong(-1L))
        .filter(_ >= 0).flatMap { cur =>
          Option(servedMeta.get("snapshots")).toSeq
            .flatMap(_.elements().asScala)
            .find(_.get("snapshot-id").asLong() == cur)
            .map(_.get("manifest-list").asText())
        }.toSeq.flatMap(ml => readAvroAt(ml)
          .map(_.get("manifest_path").toString)).toSet
    val clientList = readAvroAt(listUri)
    val newManifests = clientList
      .filterNot(m => priorManifests.contains(m.get("manifest_path").toString))
    // refuse-loud guard: a manifest whose list content is neither data
    // (0) nor deletes (1) must never be SILENTLY DROPPED from the
    // commit — the client would get a 200 while its files diverge
    newManifests.foreach { m =>
      val c = IcebergExport.getOpt(m, "content")
      val cv = if (c == null) 0 else c.asInstanceOf[Number].intValue()
      if (cv != 0 && cv != 1)
        bad(s"manifest ${m.get("manifest_path")} carries unsupported " +
          s"content $cv (0=data, 1=deletes)")
    }
    // (path, record_count) of ADDED parquet entries with the given
    // data_file.content kind, across the new manifests of manifest-list
    // content `listContent`
    def added(listContent: Int, kinds: Set[Int]): Seq[(String, Int)] =
      newManifests.filter { m =>
        val c = IcebergExport.getOpt(m, "content")
        (if (c == null) 0 else c.asInstanceOf[Number].intValue()) == listContent
      }.flatMap { m =>
        readAvroAt(m.get("manifest_path").toString).map { e =>
          val status = e.get("status").asInstanceOf[Number].intValue()
          if (status != 1)
            bad(s"manifest entry status $status in a new manifest — only " +
              "ADDED (1) entries commit over REST")
          val df = e.get("data_file")
            .asInstanceOf[org.apache.avro.generic.GenericRecord]
          val content = df.get("content").asInstanceOf[Number].intValue()
          if (!kinds.contains(content))
            bad(s"data_file content $content inside a " +
              (if (listContent == 0) "data" else "delete") + " manifest")
          val fmt = df.get("file_format").toString
          if (!fmt.equalsIgnoreCase("parquet"))
            bad(s"file format $fmt is not supported (parquet only)")
          (df.get("file_path").toString, content)
        }
      }
    val dataFiles = added(0, Set(0)).map(_._1)
    val deleteFiles = added(1, Set(1, 2))
    val posFiles = deleteFiles.collect { case (p, 1) => p }
    val eqFiles = deleteFiles.collect { case (p, 2) => p }
    if (dataFiles.isEmpty && deleteFiles.isEmpty)
      bad(s"snapshot $snapId adds no new files")

    // copy into the warehouse flat under data/, named by one commit-scoped
    // op-id; the footer probe refuses files that do not carry the table's
    // columns (they would silently read as null) BEFORE anything commits
    val schema = cat.tableSchema(ns, t).getOrElse(
      bad(s"$ns.$t has no committed schema to validate against"))
    val op = s"rest-${java.util.UUID.randomUUID().toString.take(8)}"
    val tableRoot = Paths.get(cat.warehouse, ns, t)
    Files.createDirectories(tableRoot.resolve("data"))
    def cleanup(): Unit = GraftCatalog.deleteStaged(tableRoot.toString, op,
      cat.spark.sparkContext.hadoopConfiguration)
    try {
      def land(uri: String, i: Int, tag: String,
               requiredCols: Set[String] => Option[String]): String = {
        val src = pathOf(uri)
        if (!Files.isRegularFile(src))
          bad(s"$tag file $uri does not exist or is not readable")
        val cols = IcebergExport.parquetColumnNames(src.toString,
          cat.spark.sparkContext.hadoopConfiguration).toSet
        requiredCols(cols).foreach(msg => bad(s"$tag file $uri $msg"))
        val rel = s"${GraftCatalog.opPrefix(op)}-$tag$i-${src.getFileName}"
        Files.copy(src, tableRoot.resolve(rel))
        rel
      }
      val dataRels = dataFiles.zipWithIndex.map { case (uri, i) =>
        land(uri, i, "", cols => {
          val missing = schema.fieldNames.filterNot(cols.contains)
          if (missing.isEmpty) None
          else Some(s"omits table column(s) ${missing.mkString(", ")} — " +
            "they would silently read as null")
        })
      }
      val eqRels = eqFiles.zipWithIndex.map { case (uri, i) =>
        land(uri, i, "eq", cols => {
          val alien = cols.filterNot(schema.fieldNames.contains)
          if (cols.isEmpty) Some("carries no columns")
          else if (alien.nonEmpty)
            Some(s"names non-table column(s) ${alien.mkString(", ")}")
          else None
        })
      }
      // position deletes: validate + REMAP from the served export's flat
      // URIs (the only file spelling the client ever saw) to graft rels
      val posDeltas: Option[org.apache.spark.sql.DataFrame] =
        if (posFiles.isEmpty) None
        else {
          val srcs = posFiles.map { uri =>
            val p = pathOf(uri)
            if (!Files.isRegularFile(p))
              bad(s"position-delete file $uri does not exist")
            val cols = IcebergExport.parquetColumnNames(p.toString,
              cat.spark.sparkContext.hadoopConfiguration).toSet
            if (!Set("file_path", "pos").subsetOf(cols))
              bad(s"position-delete file $uri must carry (file_path, pos), " +
                s"found ${cols.mkString(", ")}")
            p.toString
          }
          val servedSnap = cat.snapshots(ns, t).find(_.seq == servedSeq)
            .getOrElse(bad(s"served version v$servedSeq of $ns.$t is gone — " +
              "refresh and retry"))
          // served data files live in the table's SHARED store (the only
          // spelling the client ever saw in the export's manifests)
          val dataDir = sharedStoreDir(ns, t).resolve("data")
          val mapping = cat.dataFiles(ns, t, servedSnap).map(rel =>
            dataDir.resolve(IcebergExport.flatName(rel)).toUri.toString -> rel)
          import cat.spark.implicits._
          import org.apache.spark.sql.functions.{broadcast, col}
          val mapDf = mapping.toDF("__uri", "__rel")
          val raw = cat.spark.read.parquet(srcs: _*)
            .select(col("file_path"), col("pos").cast("long").as("pos"))
          val unknown = raw.join(broadcast(mapDf),
              raw("file_path") === mapDf("__uri"), "left_anti")
            .select("file_path").distinct().limit(3)
            .collect().map(_.getString(0))
          if (unknown.nonEmpty)
            bad(s"position delete references files the served snapshot " +
              s"(v$servedSeq) does not serve: ${unknown.mkString(", ")}")
          Some(raw.join(broadcast(mapDf), raw("file_path") === mapDf("__uri"))
            .select(col("__rel").as("file_path"), col("pos")))
        }
      try {
        stageToBranch match {
          case Some(branch) =>
            // transaction part: STAGE only — the branch publishes
            // atomically with its sibling tables via commitTransaction.
            // MoR-shaped parts (upserts: data + equality/position
            // deletes) stage through the branch-targeted MoR commit,
            // same refusals and manifest ordering as the single-table
            // path.
            if (eqRels.nonEmpty || posDeltas.nonEmpty)
              cat.commitLandedMoR(ns, t, dataRels, eqRels, posDeltas,
                sourceRegion = "rest", toBranch = Some(branch)): Unit
            else cat.commitLandedFiles(ns, t, dataRels, sourceRegion = "rest",
              toBranch = Some(branch)): Unit
          case None if eqRels.isEmpty && posDeltas.isEmpty =>
            cat.commitLandedFiles(ns, t, dataRels, sourceRegion = "rest",
              expectedParentSeq = Some(servedSeq),
              commitId = Some(s"rest-snap-$snapId")): Unit
          case None =>
            cat.commitLandedMoR(ns, t, dataRels, eqRels, posDeltas,
              sourceRegion = "rest", expectedParentSeq = Some(servedSeq),
              commitId = Some(s"rest-snap-$snapId")): Unit
        }
      } catch {
        case e: java.util.ConcurrentModificationException =>
          cleanup(); conflict(e.getMessage)
        case e: GraftCatalog.DuplicateCommitException =>
          cleanup(); conflict(s"snapshot $snapId already committed: ${e.getMessage}")
        case e: IllegalArgumentException => cleanup(); bad(e.getMessage)
        case e: IllegalStateException => cleanup(); bad(e.getMessage)
      }
    } catch { case e: Throwable =>
      // a refusal above the commit call (footer probe, missing file)
      // must not leak the files it landed so far
      if (!cat.latest(ns, t).exists(_.commitId == s"rest-snap-$snapId")) cleanup()
      throw e
    }
  }

  /** Spec listing pagination, shared by the tables and views routes:
    * pageToken is opaque to the client — here an offset into the SORTED
    * listing, so pages are stable under concurrent creates of later
    * names. */
  private def pagedIdentifiers(ns: String, all: Seq[String],
                               query: Map[String, String]): String = {
    val offset = query.get("pageToken") match {
      case Some(tk) => tk.toIntOption.filter(_ >= 0)
        .getOrElse(bad(s"malformed pageToken '$tk'"))
      case None => 0
    }
    val pageSize = query.get("pageSize") match {
      case Some(s0) => Some(s0.toIntOption.filter(_ > 0)
        .getOrElse(bad(s"malformed pageSize '$s0'")))
      case None => None
    }
    val page = pageSize match {
      case Some(n) => all.slice(offset, offset + n)
      case None => all.drop(offset)
    }
    val next = pageSize.filter(n => offset + n < all.size)
      .map(n => s""","next-page-token":"${offset + n}"""").getOrElse("")
    val ids = page.map(n =>
      s"""{"namespace":["${esc(ns)}"],"name":"${esc(n)}"}""")
    s"""{"identifiers":[${ids.mkString(",")}]$next}"""
  }

  private def parseJson(body: String): JsonNode =
    try mapper.readTree(body)
    catch { case e: Exception => bad(s"invalid JSON body: ${e.getMessage}") }

  private def pathOf(uri: String): Path =
    if (uri.startsWith("file:")) Paths.get(java.net.URI.create(uri))
    else Paths.get(uri)

  private def readAvroAt(uri: String): Seq[org.apache.avro.generic.GenericRecord] = {
    val p = pathOf(uri)
    if (!Files.isRegularFile(p)) bad(s"avro file $uri does not exist")
    try IcebergExport.readAvro(p)
    catch { case e: Exception => bad(s"cannot read avro $uri: ${e.getMessage}") }
  }

  // single-level namespaces = the warehouse's non-plumbing directories
  // (same contract as the catalog plugin's listNamespaces)
  private def namespaces(): Seq[String] = {
    val root = Paths.get(cat.warehouse)
    if (!Files.isDirectory(root)) Seq.empty
    else {
      val s = Files.list(root)
      try s.iterator().asScala
        .filter(p => Files.isDirectory(p))
        .map(_.getFileName.toString)
        .filterNot(n => n.startsWith(".") || n.startsWith("_"))
        .toSeq.sorted
      finally s.close()
    }
  }

  /** Export-on-demand, memoized by head commit id (one export per graft
    * version actually read, never per request) — returns the metadata
    * location AND the graft version it serves (the commit protocol's
    * CAS anchor). Retention = a SERVING WINDOW of two trees: the new
    * export plus the immediately superseded one (a client pinned to the
    * last served location finishes its read); anything older is deleted
    * — without this, every served commit leaks a full table copy on
    * disk. */
  /** The table's shared content-addressed export store — data files,
    * manifests, manifest lists shared by every tree of this table
    * (named "_shared": identifier segments are sanitized, so no table's
    * own tree dir can collide with it). */
  private def sharedStoreDir(ns: String, t: String): java.nio.file.Path =
    Paths.get(exportRoot, ns, t, "_shared")

  private def servedExport(ns: String, t: String): (String, Long) = {
    val snaps = cat.snapshots(ns, t)
    val headSnap = snaps.lastOption
    // the memo key captures the head AND the history SHAPE: snapshot
    // expiry removes early versions without moving the head commit id,
    // and a foreign reader must stop seeing expired history on its next
    // load (snapshots() is already paid for by the head lookup)
    val head = headSnap.map(s =>
      s"${s.commitId}#${snaps.size}#${snaps.head.seq}").getOrElse("v0-empty")
    val memo = exported.computeIfAbsent((ns, t), _ => new Memo)
    memo.synchronized {
      // re-check under the lock: a DELETE racing this GET (which passed
      // the route's exists check) must yield 404, never resurrect a
      // memo + export tree for a dropped table that nothing reclaims
      if (!cat.tableExists(ns, t)) {
        exported.remove((ns, t), memo): Unit
        throw new RestError(404, "NoSuchTableException", s"table $ns.$t")
      }
      if (memo.head != head) {
        val dest = Paths.get(exportRoot, ns, t,
          java.util.UUID.randomUUID().toString.take(8))
        Files.createDirectories(dest.resolve("metadata"))
        val newLoc = headSnap match {
          case Some(_) =>
            // incremental re-export (round-14, both halves): data files,
            // manifests, manifest lists, and rewritten position-delete
            // files live in the table's SHARED content-addressed store,
            // so serving a table after one commit writes O(that commit)
            // objects — data bytes AND metadata — not O(table) or
            // O(history). reuseDataFrom migrates a pre-shared tree's
            // data into the store by hard-link on first use.
            IcebergExport.exportTable(cat, ns, t, dest.toString,
              reuseDataFrom = Option(memo.loc).map(l =>
                Paths.get(l).getParent.getParent.resolve("data").toString),
              sharedStore = Some(sharedStoreDir(ns, t).toString))
              .metadataFile
          case None =>
            // created-but-never-committed: a REST client that just
            // LISTED the table must get valid metadata, not a 500 —
            // serve the spec's empty-table shape (no snapshots)
            val f = dest.resolve("metadata").resolve("v0.metadata.json")
            Files.writeString(f, emptyMetadataJson(ns, t))
            f.toAbsolutePath.toString
        }
        // serving-window retention: the superseding tree joins the
        // window stamped NOW; superseded trees stay until their grace
        // expires (the newest superseded one is kept regardless, so a
        // reader that loaded a moment before the commit always has it)
        val now = System.currentTimeMillis()
        val window = Option(memo.loc).map((_, now)).toList ::: memo.prev
        val (keep, drop) = window.zipWithIndex.partition { case ((_, ts), i) =>
          i == 0 || now - ts <= serveGraceMs
        }
        drop.foreach { case ((o, _), _) =>
          deleteTree(Paths.get(o).getParent.getParent) }
        memo.prev = keep.map(_._1)
        memo.loc = newLoc
        memo.head = head
        memo.seq = headSnap.map(_.seq).getOrElse(-1L)
        // reclaim shared objects nothing in the serving window (the new
        // tree + every grace-retained superseded one) references — what
        // keeps the store delta-shaped across expiry/evolution,
        // mirroring the tree retention above. Empty-table stubs have no
        // refs.txt and reference nothing shared.
        val refs = (Option(memo.loc) ++ memo.prev.map(_._1)).map(l =>
          Paths.get(l).getParent.getParent.resolve("refs.txt").toString)
        IcebergExport.sweepSharedStore(
          sharedStoreDir(ns, t).toString, refs.toSeq): Unit
      }
      (memo.loc, memo.seq)
    }
  }

  private def loadTableResult(ns: String, t: String): String = {
    val (loc, _) = servedExport(ns, t)
    val metadataJson = new String(Files.readAllBytes(Paths.get(loc)), UTF_8)
    val o = mapper.createObjectNode()
    o.put("metadata-location", Paths.get(loc).toUri.toString): Unit
    // NB: set[T] infers its return from the expected type — an `: Unit`
    // ascription makes Jackson cast the node to BoxedUnit and throw
    o.set[com.fasterxml.jackson.databind.JsonNode](
      "metadata", mapper.readTree(metadataJson))
    o.set[com.fasterxml.jackson.databind.JsonNode](
      "config", mapper.createObjectNode())
    mapper.writeValueAsString(o)
  }

  /** Spec LoadViewResult (round-14): the graft view's FULL version
    * history as view-spec metadata — one `versions` entry per stored
    * definition (SQL representation, dialect `spark`, the defining
    * catalog/namespace as the default resolution context) with its own
    * schema (schema-id = version-id), `current-version-id` at the
    * latest, and the publish times as the version-log. The metadata
    * tree is written under the export root keyed by the current
    * version, so an unchanged view re-serves one location and a
    * replaced view serves a NEW one (the table surface's contract). MV
    * DEFINITIONS need no view endpoint: an MV is a table whose
    * definition rides the served table metadata's properties
    * (`graft.mv.query` et al.). */
  // response memo keyed by (current version id, publish time) — an
  // unchanged view re-serves one prebuilt response instead of
  // re-reading and re-rendering its whole history per GET (the table
  // surface's memo-by-head discipline). The time is part of the key:
  // version ids RESTART at 0 on drop+recreate, so an id-only key would
  // serve the previous view's definition with a 200
  private val viewResponses = new java.util.concurrent.ConcurrentHashMap[
    (String, String), ((Long, Long), String)]()

  private def loadViewResult(ns: String, v: String): String = {
    // stamp probe first (no content reads); empty = the view was
    // DROPPED after the route's exists check — the spec's 404, not a
    // NoSuchElementException-shaped 500
    val stamps = cat.viewVersionStamps(ns, v)
    if (stamps.isEmpty)
      throw new RestError(404, "NoSuchViewException", s"view $ns.$v")
    Option(viewResponses.get((ns, v))).filter(_._1 == stamps.last)
      .foreach(hit => return hit._2)
    val history = cat.viewHistoryFull(ns, v)
    if (history.isEmpty)
      throw new RestError(404, "NoSuchViewException", s"view $ns.$v")
    val uuid = java.util.UUID.nameUUIDFromBytes(
      s"view:$ns.$v".getBytes(UTF_8))
    val (schemas, versions) = history.map { case (seq, json, tsMs) =>
      val node = mapper.readTree(json)
      val schema = org.apache.spark.sql.types.DataType.fromJson(
        node.get("schemaJson").asText())
        .asInstanceOf[org.apache.spark.sql.types.StructType]
      val (schemaJson, _) =
        IcebergExport.icebergSchemaJson(schema, schemaId = seq.toInt)
      val nsArr = Option(node.get("currentNamespace")).toSeq
        .flatMap(_.elements().asScala).map(n => s""""${esc(n.asText())}"""")
        .mkString(",")
      val version =
        s"""{"version-id":$seq,"schema-id":$seq,"timestamp-ms":$tsMs,
           |"summary":{"engine-name":"graft"},
           |"representations":[{"type":"sql",
           |"sql":${mapper.writeValueAsString(node.get("sql").asText())},
           |"dialect":"spark"}],
           |"default-catalog":"${esc(Option(node.get("currentCatalog"))
              .map(_.asText()).getOrElse(""))}",
           |"default-namespace":[$nsArr]}""".stripMargin.replace("\n", "")
      (schemaJson, version)
    }.unzip
    val cur = history.last._1
    val props = mapper.readTree(history.last._2)
    val propsJson = Option(props.get("properties")).toSeq
      .flatMap(_.properties().asScala).map(e =>
        s"""${mapper.writeValueAsString(e.getKey)}:${
          mapper.writeValueAsString(e.getValue.asText())}""").mkString(",")
    val versionLog = history.map { case (seq, _, tsMs) =>
      s"""{"timestamp-ms":$tsMs,"version-id":$seq}""" }
    val metadata =
      s"""{"view-uuid":"$uuid","format-version":1,
         |"location":"${esc(Paths.get(cat.warehouse, ns, "_views", v)
            .toUri.toString)}",
         |"current-version-id":$cur,
         |"versions":[${versions.mkString(",")}],
         |"version-log":[${versionLog.mkString(",")}],
         |"schemas":[${schemas.mkString(",")}],
         |"properties":{$propsJson}}""".stripMargin.replace("\n", "")
    val dir = Paths.get(exportRoot, ns, "_views", v)
    Files.createDirectories(dir)
    // the publish time in the name keeps drop+recreate cycles from
    // reusing the PREVIOUS view's metadata file of the same version id
    val f = dir.resolve(f"v$cur-${history.last._3}%x.metadata.json")
    if (!Files.exists(f)) {
      val tmp = Files.createTempFile(dir, ".stage-", ".json")
      Files.writeString(tmp, metadata)
      try Files.createLink(f, tmp)
      catch { case _: java.nio.file.FileAlreadyExistsException => () }
      finally Files.deleteIfExists(tmp): Unit
    }
    val response = s"""{"metadata-location":"${esc(f.toUri.toString)}",""" +
      s""""metadata":$metadata,"config":{}}"""
    viewResponses.put((ns, v), ((cur, history.last._3), response)): Unit
    response
  }

  /** Spec-shaped metadata for a table with NO committed versions: empty
    * schema-0, empty spec-0, no snapshots — what a freshly-created
    * Iceberg table's metadata looks like before its first append. */
  private def emptyMetadataJson(ns: String, t: String): String = {
    val uuid = java.util.UUID.nameUUIDFromBytes(s"$ns.$t".getBytes(UTF_8))
    s"""{"format-version":2,"table-uuid":"$uuid",
       |"location":"${esc(Paths.get(cat.warehouse, ns, t).toUri.toString)}",
       |"last-sequence-number":0,
       |"last-updated-ms":${System.currentTimeMillis()},
       |"last-column-id":0,"current-schema-id":0,
       |"schemas":[{"schema-id":0,"type":"struct","fields":[]}],
       |"default-spec-id":0,"partition-specs":[{"spec-id":0,"fields":[]}],
       |"last-partition-id":999,"default-sort-order-id":0,
       |"sort-orders":[{"order-id":0,"fields":[]}],
       |"properties":{},"snapshots":[],"snapshot-log":[],"metadata-log":[]}
       |""".stripMargin.replace("\n", "")
  }

  private def deleteTree(root: java.nio.file.Path): Unit =
    try {
      val s = Files.walk(root)
      try s.sorted(java.util.Comparator.reverseOrder()).iterator().asScala
        .foreach(p => Files.deleteIfExists(p): Unit)
      finally s.close()
    } catch { case _: Exception => () } // reclamation is best-effort

  private def err(code: Int, typ: String, msg: String): String =
    s"""{"error":{"message":"${esc(msg)}","type":"$typ","code":$code}}"""

  private def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      // remaining control chars (Spark exception messages span lines and
      // carry them) would make the ErrorModel body invalid JSON, masking
      // the real error behind the client's parse failure
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  private def reply(out: OutputStream, code: Int, body: String): Unit = {
    val bytes = body.getBytes(UTF_8)
    val status = code match {
      case 200 => "200 OK"; case 400 => "400 Bad Request"
      case 404 => "404 Not Found"; case 409 => "409 Conflict"
      case 500 => "500 Internal Server Error"; case other => s"$other Error"
    }
    out.write((s"HTTP/1.1 $status\r\n" +
      "Content-Type: application/json\r\n" +
      s"Content-Length: ${bytes.length}\r\n" +
      "Connection: close\r\n\r\n").getBytes(UTF_8))
    out.write(bytes)
    out.flush()
  }

  private def replyHead(out: OutputStream, code: Int): Unit = {
    val status = if (code == 204) "204 No Content" else "404 Not Found"
    out.write((s"HTTP/1.1 $status\r\nContent-Length: 0\r\n" +
      "Connection: close\r\n\r\n").getBytes(UTF_8))
    out.flush()
  }
}
